package graft

import java.util.Properties
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.etl.EtlPipeline

/** End-to-end reference-pipeline run: gz logs on disk → parse → preview →
  * limit → JDBC append (embedded Derby) — the reference's `run_etl` shape
  * (A19) including the demo 1-row load cap. */
class EtlPipelineSpec extends SparkSpec {

  val golden = new AlbParserSpec().golden
  val url = "jdbc:derby:memory:graftetl;create=true"
  val props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  /** Writes each group of lines as one gz object in a fresh directory. */
  def writeObjects(objects: Seq[Seq[String]]): String = {
    val dir = java.nio.file.Files.createTempDirectory("etlrun")
    objects.zipWithIndex.foreach { case (ls, i) =>
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(dir.resolve(s"x$i.log.gz").toFile))
      try out.write(ls.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    dir.toString
  }

  def writeLogs(): String =
    writeObjects(Seq(Seq(golden, shortLine, golden.replace("1.2.3.4", "8.8.8.8"))))

  val shortLine = "too short"
  val badTimestamp = golden.replace("2025-05-26T23:55:02.179979Z", "not-a-ts")

  /** 1,200 lines in 4 objects: every 97th line short (reference `:67-69`),
    * of the rest every 89th with an unparseable timestamp (`:81-83`); both
    * kinds land in every object. */
  val corpusLines: Seq[String] = (0 until 1200).map { i =>
    if (i % 97 == 0) shortLine
    else if (i % 89 == 0) badTimestamp
    else golden.replace("1.2.3.4", s"10.0.${i / 256}.${i % 256}")
  }
  val corpusParsed: Long = (0 until 1200).count(i => i % 97 != 0 && i % 89 != 0).toLong
  lazy val corpus: String = writeObjects(corpusLines.grouped(300).toSeq)

  /** Jobs started and input records read by tasks while `body` runs. */
  def traced[T](body: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val recordsRead = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.get, recordsRead.get)
    } finally sc.removeSparkListener(listener)
  }

  def tableExists(table: String): Boolean =
    scala.util.Try(spark.read.jdbc(url, table, props).collect()).isSuccess

  test("full pipeline: gz → parse → jdbc, with skip metrics") {
    val r = EtlPipeline.run(spark, writeLogs(), url, "etl_full", props)
    assert(r == EtlPipeline.Result(3L, 2L, 2L))
    assert(spark.read.jdbc(url, "etl_full", props).count() == 2L)
  }

  test("demo load cap ships exactly one row (reference :175-177)") {
    val r = EtlPipeline.run(spark, writeLogs(), url, "etl_capped", props,
      loadLimit = Some(1))
    assert(r.rowsParsed == 2L && r.rowsLoaded == 1L)
    assert(spark.read.jdbc(url, "etl_capped", props).count() == 1L)
  }

  test("an uncapped load decodes its corpus once: a preview job and one observed write job") {
    val (r, jobs, recordsRead) = traced(EtlPipeline.run(spark, corpus, url, "etl_once", props))
    // the counts come from observations on the write job; bound to a
    // short-circuited scan they would fall short of the corpus
    assert(r == EtlPipeline.Result(1200L, corpusParsed, corpusParsed))
    assert(jobs == 2, s"$jobs jobs, expected the preview and the write")
    assert(recordsRead < 1.1 * 1200, s"tasks read $recordsRead records of a 1200-line corpus")
    assert(spark.read.jdbc(url, "etl_once", props).count() == corpusParsed)
  }

  test("a corpus where nothing parses loads nothing and creates no table") {
    val dir = writeObjects(Seq(Seq(shortLine, badTimestamp), Seq(badTimestamp, shortLine, shortLine)))
    val r = EtlPipeline.run(spark, dir, url, "etl_none", props)
    assert(r == EtlPipeline.Result(5L, 0L, 0L))
    assert(!tableExists("etl_none"))
  }

  test("previewRows = 0 still loads every row (the empty probe reads one row)") {
    val r = EtlPipeline.run(spark, corpus, url, "etl_nopreview", props, previewRows = 0)
    assert(r == EtlPipeline.Result(1200L, corpusParsed, corpusParsed))
    assert(spark.read.jdbc(url, "etl_nopreview", props).count() == corpusParsed)
  }

  test("a zero-row cap loads nothing, creates no table, and keeps the counts") {
    val r = EtlPipeline.run(spark, corpus, url, "etl_cap0", props, loadLimit = Some(0))
    assert(r == EtlPipeline.Result(1200L, corpusParsed, 0L))
    assert(!tableExists("etl_cap0"))
  }

  test("a failed write returns 0 loaded and still reports the counts") {
    val bad = new Properties()
    bad.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val r = EtlPipeline.run(spark, corpus, "jdbc:derby:/nonexistent/path/db", "t", bad)
    assert(r == EtlPipeline.Result(1200L, corpusParsed, 0L))
  }
}
