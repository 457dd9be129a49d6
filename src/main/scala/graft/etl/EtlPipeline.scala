package graft.etl

import java.util.Properties

import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

/** The reference's end-to-end orchestration (A19, `run_etl` at
  * `/root/reference/etl_elb_log_to_mysql.py:162-177`): list+read gz logs →
  * parse to the 13-column relation → preview → optional row cap → JDBC
  * append. An uncapped load is two Spark jobs: the preview, then one
  * observed write job that decodes and parses the corpus once and carries
  * the skip counts and the rows written.
  *
  * Differences from the reference, by design:
  *   - listing/reading is distributed and unbounded (no 1000-object cap);
  *   - nothing is resident in driver memory (the reference accumulates
  *     every parsed row in one Python list, `:135,148`);
  *   - skip counts come from `observe()` metrics, not log lines;
  *   - the demo `head(1)` cap (`:175-176`) is an optional `limit` arg.
  */
object EtlPipeline {
  private val log = LoggerFactory.getLogger(getClass)

  final case class Result(rowsIn: Long, rowsParsed: Long, rowsLoaded: Long)

  def run(spark: SparkSession, inputPath: String, jdbcUrl: String,
          table: String = "elb_log_data", props: Properties = new Properties(),
          previewRows: Int = 5, loadLimit: Option[Int] = None): Result = {
    val lines = AlbLogParser.readLogs(spark, inputPath)

    // The preview reads an unobserved parse: its limit stops the scan
    // early, and an Observation binds to the first action that completes
    // over it. It asks for at least one row, so an empty preview proves
    // that nothing parses — it is also the sink's empty probe.
    val preview = AlbLogParser.parse(lines).limit(math.max(previewRows, 1)).collect()
    if (previewRows > 0)
      log.info(s"EtlPipeline preview:\n${preview.mkString("\n")}")

    val (parsed, inObs, outObs) = AlbLogParser.parseObserved(lines)
    val loaded = loadLimit match {
      case None if preview.nonEmpty =>
        val n = JdbcSink.write(parsed, jdbcUrl, table, props)
        // a failed write completes no observation; count for them instead
        if (n == 0L) parsed.count()
        n
      case _ =>
        parsed.count()
        JdbcSink.append(loadLimit.fold(parsed)(parsed.limit), jdbcUrl, table, props)
    }
    val rowsIn = inObs.get("rows_in").asInstanceOf[Long]
    val rowsParsed = outObs.get("rows_out").asInstanceOf[Long]
    log.info(s"EtlPipeline: $rowsIn lines in, $rowsParsed parsed " +
      s"(${rowsIn - rowsParsed} dropped), $loaded loaded")
    Result(rowsIn, rowsParsed, loaded)
  }
}
