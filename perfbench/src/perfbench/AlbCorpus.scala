package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession

import graft.etl.AlbFixture

/** A seeded ALB access-log corpus written as gzip objects under ALB's
  * S3 key layout, with the counts a correct load of it must report. */
final case class AlbCorpus(glob: String, files: Int, lines: Long, rawBytes: Long,
                           gzBytes: Long, shortLines: Long, badTimestamps: Long) {
  def rowsParsed: Long = lines - shortLines - badTimestamps
}

object AlbCorpus {
  private val account = "123456789012"
  private val region = "us-east-1"

  /** One line per `orders` row (AlbFixture.lines, keyed by o_orderkey),
    * repeated `repeats` times, shuffled by `seed`, and cut into `objects`
    * gzip objects of consecutive 5-minute slots. Single-threaded and
    * untimed; Spark only renders the lines. A line is short when
    * k % 97 == 0 and otherwise carries an unparseable timestamp when
    * k % 89 == 0 (AlbFixture), which gives the expected drop counts. */
  def write(spark: SparkSession, ordersDir: String, root: Path, repeats: Int,
            objects: Int, seed: Long): AlbCorpus = {
    val rows = AlbFixture.lines(spark, ordersDir).select("k", "value").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val lines = Array.fill(repeats)(rows).flatten
    val rnd = new java.util.Random(seed)
    for (i <- lines.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = lines(i); lines(i) = lines(j); lines(j) = t
    }
    val base = root.resolve(s"AWSLogs/$account/elasticloadbalancing/$region")
    val slot0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmm'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    val day = java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd")
      .withZone(java.time.ZoneOffset.UTC)
    var rawBytes, gzBytes = 0L
    val per = (lines.length + objects - 1) / objects
    for (o <- 0 until objects) {
      val slot = slot0.plusSeconds(300L * o)
      val dir = Files.createDirectories(base.resolve(day.format(slot)))
      val f = dir.resolve(s"${account}_elasticloadbalancing_${region}_app.perfbench-lb." +
        f"0123456789abcdef_${fmt.format(slot)}_10.0.${o % 256}.${o / 256}_${rnd.nextInt(1 << 30)}%08x.log.gz")
      val w = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(Files.newOutputStream(f)), StandardCharsets.UTF_8))
      try lines.slice(o * per, (o + 1) * per).foreach { case (_, l) =>
        w.write(l); w.write('\n')
        rawBytes += l.getBytes(StandardCharsets.UTF_8).length + 1
      } finally w.close()
      gzBytes += Files.size(f)
    }
    val keys = lines.map(_._1)
    AlbCorpus(
      glob = base.toString + "/*/*/*",
      files = objects, lines = lines.length.toLong, rawBytes = rawBytes, gzBytes = gzBytes,
      shortLines = keys.count(_ % 97 == 0).toLong,
      badTimestamps = keys.count(k => k % 97 != 0 && k % 89 == 0).toLong)
  }
}
