package graft.etl

import java.util.Properties

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel
import org.slf4j.LoggerFactory

/** JDBC append sink — reference operator A18
  * (`/root/reference/etl_elb_log_to_mysql.py:152-160`): append to a table,
  * auto-created on first write; empty input → warn and skip; failures are
  * logged and swallowed (the reference's permissive semantics).
  *
  * Two entry points, one write path:
  *   - [[append]] when the frame may be empty: it probes first, so an empty
  *     frame creates no table (the reference's guard);
  *   - [[write]] when the caller already knows the frame is non-empty (e.g.
  *     a preview of it returned a row): no cache, no probe job, the
  *     upstream is evaluated once, inside the write job itself.
  *
  * Spark-native mechanics: `DataFrameWriter.jdbc` writes executor-side with
  * one connection per partition — at scale, `coalesce` the frame to a
  * partition count the database can absorb (connections = partitions), and
  * size `batchsize` (default 1000) to trade round-trips vs transaction
  * bulk. For MySQL specifically pass
  * `rewriteBatchedStatements=true` in the URL for true bulk inserts.
  *
  * Not transactional across partitions: each partition commits its own
  * JDBC batch, so a mid-write task failure can leave earlier partitions'
  * rows committed while the call logs the error and returns 0 — matching
  * the reference's permissive append (no rollback there either). Use an
  * idempotent staging table + swap if exactly-once matters downstream.
  */
object JdbcSink {
  private val log = LoggerFactory.getLogger(getClass)

  /** Appends `df` and returns the number of rows written.
    *
    * The upstream pipeline is evaluated EXACTLY ONCE: the coalesced frame
    * is persist()-marked, so the empty-guard probe (required because the
    * reference skips the write entirely — no table auto-creation — on
    * empty input) materializes only partition 0 into the cache, and the
    * [[write]] job reuses that block and computes the remaining partitions,
    * each exactly once. A heavy upstream (joins, dedup, aggregation) no
    * longer runs twice, and probe and write cannot disagree if the source
    * changes between jobs — both read the same cached partitions.
    *
    * @return number of rows appended (0 = skipped or failed). */
  def append(df: DataFrame, url: String, table: String,
             props: Properties = new Properties(),
             maxConnections: Int = 8): Long = {
    val mat = df.coalesce(maxConnections).persist(StorageLevel.MEMORY_AND_DISK)
    try logFailure(table) {
      if (mat.isEmpty) {
        log.warn(s"JdbcSink: empty DataFrame — skipping append to $table")
        0L
      } else write(mat, url, table, props, maxConnections)
    } finally mat.unpersist(blocking = false)
  }

  /** Appends `df`, known by the caller to be non-empty, in one job and
    * returns the number of rows written. Unguarded: an empty `df` still
    * creates the table. The row count rides the write itself as an
    * `observe()` metric (never a separate `count()` job), and so do any
    * observations the caller placed upstream.
    *
    * @return number of rows appended (0 = failed). */
  def write(df: DataFrame, url: String, table: String,
            props: Properties = new Properties(),
            maxConnections: Int = 8): Long = logFailure(table) {
    val obs = Observation()
    df.coalesce(maxConnections)
      .observe(obs, count(lit(1)).as("rows_written"))
      .write.mode("append").jdbc(url, table, props)
    obs.get("rows_written").asInstanceOf[Long]
  }

  private def logFailure(table: String)(body: => Long): Long =
    try body catch {
      case e: Exception =>
        log.error(s"JdbcSink: append to $table failed: ${e.getMessage}")
        0L
    }
}
