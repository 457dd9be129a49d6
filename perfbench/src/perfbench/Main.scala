package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, xxhash64}

import graft.{Bench, GraftExtensions, SparkEntry}
import graft.etl.{AlbLogParser, EtlPipeline, JdbcSink}

/** The benchmark process: one workload, one closed-loop client.
  *
  *  1. Set up: a SparkSession (the confs `graft.Bench` runs with, stage
  *     cache on) and the warm-up: for ETL, the in-process parse the loads
  *     are checked against and four loads of the corpus; for queries, one
  *     pass over the inputs, which builds the staged substrates. Set-up
  *     time counts from JVM start to the first timed operation, less the
  *     untimed corpus generation.
  *  2. Timed passes over the workload's inputs until `--seconds` have
  *     passed, and at least three. The first query pass also writes each
  *     result it consumed, untimed, in `graft.Verify`'s layout for
  *     `tools/check.py`. With `--trace 1`, at least four, alternating
  *     untraced and traced (listeners, job tags, spans attached), then
  *     probes of the layers the passes do not time on their own.
  *  3. Checks: every ETL load is read back and compared; the query
  *     workloads' dump is compared by `perfbench/run.py`.
  *
  * Everything measured is written as one JSON record to `--out`;
  * `perfbench/run.py` turns it into metrics. */
object Main {
  final case class Op(name: String, seconds: Double, ok: Boolean, error: String,
                      counters: Map[String, Double])

  final class Ctx(val args: Map[String, String]) {
    val workload: String = args("workload")
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val trace: Boolean = args("trace") == "1"
    val cpus: String = args("cpus")
    val work: Path = Paths.get(args("work"))
    val stageDir: Path = work.resolve("stage")
    var spark: SparkSession = _
    var tracer: Option[Tracer] = None
    private var nextOp = 0L
    var resident = Map.empty[String, Double]
    def opId(): Long = { nextOp += 1; nextOp }

    def newSession(): Unit = {
      spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.codegen.cache.maxEntries", "16384")
        .config("spark.ui.retainedJobs", "300")
        .config("spark.ui.retainedStages", "500")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "100")
        .config("spark.sql.legacy.allowHashOnMapType", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.graft.stageCache.dir", stageDir.toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
    }

    /** As `graft.Bench` does between queries: drop every cached block and
      * checkpoint the last operation left behind. */
    def releaseState(): Unit = {
      // what a traced operation leaves resident (loop-state checkpoints)
      if (tracer.nonEmpty) resident = Tracer.storage(spark.sparkContext)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** Times `body` as one operation; traced, it runs under a job tag and a
      * span, and its counters (Spark, planning, codegen, JVM) are
      * returned with it. */
    def op[T](id: Long, name: String, phase: String = "x")(body: => T)
        : (T, Double, Map[String, Double]) = tracer match {
      case None =>
        val t0 = System.nanoTime()
        val v = body
        (v, (System.nanoTime() - t0) / 1e9, Map.empty)
      case Some(t) =>
        val jvm0 = Tracer.jvm()
        val t0 = System.nanoTime()
        val (v, c) = t.phase(spark, id, phase)(t.span(id, 0, name)(_ => body))
        val dt = (System.nanoTime() - t0) / 1e9
        (v, dt, c.fields.toMap ++ delta(Tracer.jvm(), jvm0))
    }
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    a.map { case (k, v) => k -> (v - b(k)) }

  def sumMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)

  def errorOf(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** A workload: its untimed input generation, the warm-up, one timed pass,
    * and what runs after the passes (its fields join the record). */
  trait Workload {
    def prepare(): Unit = ()
    def warmup(): Unit
    def pass(no: Int): Seq[Op]
    def after(): Map[String, Any]
  }

  // ------------------------------------------------------------------ ETL

  /** The in-memory Derby database the loads write to. */
  object Derby {
    val url = "jdbc:derby:memory:perfbench;create=true"
    val props: Properties = {
      val p = new Properties()
      p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      p
    }
    private var tableNo = 0
    def freshTable(): String = { tableNo += 1; s"elb_log_data_$tableNo" }

    def dropTable(t: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().execute(s"DROP TABLE $t")
      catch { case _: java.sql.SQLException => } // never created: a skipped or failed load
      finally c.close()
    }

    def drop(): Unit =
      try java.sql.DriverManager.getConnection("jdbc:derby:memory:perfbench;drop=true")
      catch { case _: java.sql.SQLException => } // Derby reports a completed drop this way
  }

  /** Traced runs only: each ETL layer call on its own over `corpus`, two
    * rounds, the first discarded as warm-up. parse and UA time are
    * differences of consumes (parse includes the read; UA is parse with vs
    * without the two classifier columns). */
  def etlProbes(ctx: Ctx, corpus: AlbCorpus, cap: Option[Int]): Seq[Map[String, Double]] = {
    import ctx._
    (1 to 2).map { _ =>
      val id = opId()
      val (lines, listS, _) = ctx.op(id, "etl.AlbLogParser.readLogs", "list")(
        AlbLogParser.readLogs(spark, corpus.glob))
      val files = lines.inputFiles.length
      val (_, readS, _) = ctx.op(id, "graft.Bench.consume(readLogs)", "read")(Bench.consume(lines))
      val (_, parseS, _) = ctx.op(id, "graft.Bench.consume(parse)", "parse")(
        Bench.consume(AlbLogParser.parse(lines)))
      val (_, noUaS, _) = ctx.op(id, "graft.Bench.consume(parse without UA)", "noua")(
        Bench.consume(AlbLogParser.parse(lines).drop("ua_browser_family", "ua_os_family")))
      val parsed = AlbLogParser.parse(lines)
      val mat = cap.fold(parsed)(parsed.limit).localCheckpoint(eager = true)
      val table = Derby.freshTable()
      val (rows, sinkS, sinkC) = try ctx.op(id, "etl.JdbcSink.append", "sink")(
        JdbcSink.append(mat, Derby.url, table, Derby.props)) finally Derby.dropTable(table)
      releaseState()
      Map("lines" -> corpus.lines.toDouble, "list_s" -> listS, "files_listed" -> files.toDouble,
        "read_s" -> readS, "parse_s" -> (parseS - readS), "ua_s" -> (parseS - noUaS),
        "sink_s" -> sinkS, "sink_rows" -> rows.toDouble, "sink_tasks" -> sinkC("tasks"))
    }.tail
  }

  final class Etl(ctx: Ctx, cap: Option[Int]) extends Workload {
    import ctx._
    import Derby.{dropTable, freshTable, props, url}
    private val repeats = args("etl_repeats").toInt
    private val objects = args("etl_objects").toInt
    var corpus: AlbCorpus = _
    private var expectedHash: (Long, BigDecimal) = _

    private lazy val schema =
      AlbLogParser.parse(AlbLogParser.readLogs(spark, corpus.glob)).schema

    /** Order-independent content hash of the 13-column relation. */
    private def contentHash(df: DataFrame): (Long, BigDecimal) = {
      val cols = schema.fields.map(f => col(f.name).cast(f.dataType))
      val r = df.select(cols: _*)
        .agg(count(lit(1)), sum(xxhash64(struct(schema.fieldNames.map(col): _*))
          .cast("decimal(38,0)")))
        .head()
      (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
    }

    override def prepare(): Unit =
      corpus = AlbCorpus.write(spark, args("data"), work.resolve("corpus"), repeats, objects, seed)

    private def load(table: String): EtlPipeline.Result =
      EtlPipeline.run(spark, corpus.glob, url, table, props, loadLimit = cap)

    override def warmup(): Unit = {
      // the expected content of a full load: the same corpus parsed in-process
      if (cap.isEmpty)
        expectedHash = contentHash(AlbLogParser.parse(AlbLogParser.readLogs(spark, corpus.glob)))
      releaseState()
      // load times still fall over the first few loads of a fresh JVM
      for (_ <- 1 to 4) {
        val t = freshTable()
        load(t)
        dropTable(t)
      }
    }

    /** Every load must report the corpus's counts and leave exactly the
      * expected rows in its table. */
    private def check(r: EtlPipeline.Result, table: String): Option[String] = {
      val loaded = cap.fold(corpus.rowsParsed)(c => math.min(c.toLong, corpus.rowsParsed))
      val want = EtlPipeline.Result(corpus.lines, corpus.rowsParsed, loaded)
      if (r != want) return Some(s"result $r, expected $want")
      val back = contentHash(spark.read.jdbc(url.stripSuffix(";create=true"), table, props))
      if (cap.isEmpty && back != expectedHash)
        Some(s"table holds (rows, hash) $back, in-process parse gives $expectedHash")
      else if (back._1 != loaded) Some(s"table holds ${back._1} rows, expected $loaded")
      else None
    }

    override def pass(no: Int): Seq[Op] = {
      val id = opId()
      val table = freshTable()
      val op = try {
        val (r, s, c0) = ctx.op(id, "etl.EtlPipeline.run")(load(table))
        releaseState()
        val c = if (tracer.isEmpty) c0 else c0 ++ resident
        val err = check(r, table)
        val counts = Map("rows_in" -> r.rowsIn.toDouble, "rows_parsed" -> r.rowsParsed.toDouble,
          "rows_dropped" -> (r.rowsIn - r.rowsParsed).toDouble,
          "rows_loaded" -> r.rowsLoaded.toDouble)
        Op("etl", s, err.isEmpty, err.orNull, c ++ counts)
      } catch { case e: Throwable => releaseState(); Op("etl", 0, ok = false, errorOf(e), Map.empty) }
      finally dropTable(table)
      Seq(op)
    }

    /** The corpus and its expected counts. Traced, also the ETL layer
      * probes and, for the query layer, `q_parse_alb` (the registry's ALB
      * parse over the same `orders`) built and consumed twice, the first
      * discarded: it builds the stage the second reads. */
    override def after(): Map[String, Any] = {
      val corpusFields = Map("corpus" -> Map(
        "files" -> corpus.files, "lines" -> corpus.lines, "raw_bytes" -> corpus.rawBytes,
        "gz_bytes" -> corpus.gzBytes, "expected_rows_in" -> corpus.lines,
        "expected_rows_parsed" -> corpus.rowsParsed,
        "expected_dropped_short_line" -> corpus.shortLines,
        "expected_dropped_bad_timestamp" -> corpus.badTimestamps))
      try {
        if (tracer.isEmpty) corpusFields
        else corpusFields ++ Map("probes" -> etlProbes(ctx, corpus, cap),
          "query_probe" -> (1 to 2).map(_ => queryOp(ctx, "q_parse_alb", args("data")).counters).tail)
      } finally Derby.drop()
    }
  }

  // -------------------------------------------------------------- queries

  final class Queries(ctx: Ctx, names: Seq[String]) extends Workload {
    import ctx._
    private val dir = args("data")
    private val dumpDir = work.resolve("dump")
    private val dumpFailures = mutable.LinkedHashMap[String, String]()

    /** One pass over the inputs: it builds the staged substrates the timed
      * passes read back. */
    override def warmup(): Unit = names.foreach { n =>
      Bench.consume(SparkEntry.queries(n)(spark, dir))
      releaseState()
    }

    /** The first pass writes each result it consumed for `tools/check.py`:
      * the check covers the stage-cache path the passes measure, in the
      * session they run in. */
    override def pass(no: Int): Seq[Op] =
      new scala.util.Random(seed * 1009 + no).shuffle(names)
        .map(queryOp(ctx, _, dir, if (no == 1) Some(dumpFailures) else None))

    /** The dump; traced, also the ETL layer probes over a corpus rendered
      * from the inputs' `orders`. */
    override def after(): Map[String, Any] = {
      val oracle = SparkEntry.oracleSql
      Files.createDirectories(dumpDir)
      Files.writeString(dumpDir.resolve("oracle_sql.json"),
        json.writeValueAsString(names.flatMap(n => oracle.get(n).map(n -> _)).toMap))
      val dump = Map("dump_dir" -> dumpDir.toString, "dump_failures" -> dumpFailures)
      if (tracer.isEmpty) dump
      else try dump ++ Map("probes" -> etlProbes(ctx,
        AlbCorpus.write(spark, dir, work.resolve("probe-corpus"), 1, 4, seed), None))
      finally Derby.drop()
    }
  }

  /** One query: the QueryDef call (which runs any eager work, such as loop
    * rounds) and the consuming action, timed and traced apart. With
    * `dumpFailures`, the consumed frame is then written, untimed, under
    * `work/dump/<name>`, a failed write recorded there. */
  def queryOp(ctx: Ctx, name: String, dir: String,
              dumpFailures: Option[mutable.Map[String, String]] = None): Op = {
    import ctx._
    val id = opId()
    try {
      val fn = SparkEntry.queries(name)
      val (df, buildS, buildC) = ctx.op(id, s"queries.$name", "b")(fn(spark, dir))
      val (_, execS, execC) = ctx.op(id, "graft.Bench.consume", "x")(Bench.consume(df))
      dumpFailures.foreach { f =>
        try df.coalesce(1).write.mode("overwrite").parquet(work.resolve("dump").resolve(name).toString)
        catch { case e: Throwable => f(name) = errorOf(e) }
      }
      releaseState()
      val c = if (tracer.isEmpty) Map.empty[String, Double]
        else sumMaps(Seq(buildC, execC)) ++ resident ++ Map("build_s" -> buildS,
          "exec_s" -> execS, "build_jobs" -> buildC("jobs"))
      Op(name, buildS + execS, ok = true, null, c)
    } catch { case e: Throwable =>
      releaseState()
      Op(name, 0, ok = false, errorOf(e), Map.empty)
    }
  }

  val tpch22: Seq[String] = Seq("q_tpch_bigorders", "q_tpch_custdist", "q_tpch_disjunct",
    "q_tpch_forecast", "q_tpch_localsupp", "q_tpch_marketshare", "q_tpch_mincost",
    "q_tpch_natvolume", "q_tpch_opportunity", "q_tpch_orderpriority", "q_tpch_partsupp",
    "q_tpch_pricing", "q_tpch_priority", "q_tpch_profit", "q_tpch_promo",
    "q_tpch_promoparts", "q_tpch_returns", "q_tpch_shipping", "q_tpch_smallqty",
    "q_tpch_stockvalue", "q_tpch_topsupplier", "q_tpch_waiting")
  val iterative7: Seq[String] = Seq("q_graph_labelprop", "q_graph_components",
    "q_graph_labelprop_delta", "q_graph_pagerank", "q_graph_bfs", "q_graph_kcore",
    "q_curation_coreset")

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** CPU time the hypervisor gave to other guests (steal), all CPUs, in
    * seconds (USER_HZ = 100): a noisy neighbour shows here. */
  private def stealS(): Double = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = ctx.workload match {
      case "etl_load" => new Etl(ctx, None)
      case "etl_capped" => new Etl(ctx, Some(1))
      case "tpch22" => new Queries(ctx, tpch22)
      case "iterative7" => new Queries(ctx, iterative7)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> ctx.trace, "cpus" -> ctx.cpus)

    // set-up counts from JVM start, less the untimed corpus generation
    ctx.newSession()
    // after the first session: Spark sets up logging once, on its first use
    val tracer = if (ctx.trace) Some(new Tracer) else None
    val g0 = System.nanoTime()
    w.prepare()
    val genS = (System.nanoTime() - g0) / 1e9
    val tw = System.nanoTime()
    rec("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS
    w.warmup()
    rec("warmup_s") = (System.nanoTime() - tw) / 1e9
    rec("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS
    rec("corpus_gen_s") = genS
    // heap the session still holds after the workload ran once (full GC)
    System.gc()
    rec("live_heap_mb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val runSteal0 = stealS()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // at least three passes, so that a run's median has one on each side;
    // a traced run alternates untraced and traced passes in the order
    // U T T U, so that warming over the run favours neither side
    val minPasses = if (ctx.trace) 4 else 3
    var no = 0
    while (no < minPasses || elapsed < ctx.seconds) {
      no += 1
      System.gc()
      val traced = ctx.trace && (no % 4 == 2 || no % 4 == 3)
      if (traced) tracer.foreach(_.attach(ctx.spark))
      ctx.tracer = if (traced) tracer else None
      val steal0 = stealS()
      val p0 = System.nanoTime()
      val ops = w.pass(no)
      val share = (stealS() - steal0) / ((System.nanoTime() - p0) / 1e9 * ctx.cpus.toDouble)
      // a pass's time is its operations' time: releases and checks between them are excluded
      passes += Map("s" -> ops.map(_.seconds).sum, "traced" -> traced,
        "steal_share" -> share, "ops" -> ops.map(o =>
        Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok, "error" -> o.error, "c" -> o.counters)))
      if (traced) tracer.foreach(_.detach(ctx.spark))
    }
    rec("timed_s") = elapsed
    rec("steal_s") = stealS() - runSteal0
    rec("passes") = passes

    tracer.foreach(_.attach(ctx.spark))
    ctx.tracer = tracer
    val ta = System.nanoTime()
    rec ++= w.after()
    rec("after_s") = (System.nanoTime() - ta) / 1e9
    ctx.tracer = None
    tracer.foreach(_.detach(ctx.spark))
    rec("peak_rss_mb") = peakRssMb()
    rec("stage_cache") = Tracer.stageCache(ctx.stageDir)
    tracer.foreach { t =>
      rec("codegen") = t.codegen.fields.toMap
      val spans = t.spans.map(s => json.writeValueAsString(Map("op" -> s.op, "span" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.write(Paths.get(args("spans")), spans.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      rec("spans") = spans.size
    }
    ctx.spark.stop()
    Files.writeString(Paths.get(args("out")), json.writeValueAsString(rec))
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
}
