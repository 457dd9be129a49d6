package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one phase of one operation. Updated from the listener-bus
  * thread and the compiling threads, read by the benchmark thread after
  * the bus is drained; all access is synchronized on the instance. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, taskQueueMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes, inputRecords = 0L
  var analyzeMs, optimizeMs, physicalMs = 0L
  var codegenNs, codegenClasses = 0L

  def fields: Seq[(String, Double)] = synchronized(Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "failed_tasks" -> failedTasks.toDouble,
    "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
    "task_queue_s" -> taskQueueMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
    "shuffle_read_mb" -> shuffleReadBytes / 1048576.0,
    "spill_mb" -> spillBytes / 1048576.0, "input_records" -> inputRecords.toDouble,
    "analyze_s" -> analyzeMs / 1e3, "optimize_s" -> optimizeMs / 1e3,
    "physical_s" -> physicalMs / 1e3,
    "codegen_s" -> codegenNs / 1e9, "codegen_classes" -> codegenClasses.toDouble))
}

/** One timed call into a layer. Spans of one operation share `op`. */
final case class Span(op: Long, id: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long)

/** The traced run's instrumentation:
  *   - a SparkListener that attributes jobs, stages and task metrics to
  *     the operation phase whose job tag (`pb-<op>-<phase>`) the jobs carry;
  *   - a QueryExecutionListener that adds each execution's planning
  *     phases (QueryPlanningTracker) to the current phase;
  *   - a log4j appender on CodeGenerator that counts each "Code generated
  *     in N ms" compile for the whole run, and for the current phase;
  *   - in-memory spans around each call into the program.
  * The listeners are attached to a session only while a traced pass runs,
  * so that untraced passes run as in an untraced run; the appender, which
  * sees nothing once the codegen cache is warm, from the first session on. */
final class Tracer {
  /** Compiles over the whole run. */
  val codegen = new Counters
  private val byTag = mutable.Map[String, Counters]()
  private val stageTag = mutable.Map[Int, String]()
  private val stageSubmitMs = mutable.Map[(Int, Int), Long]()
  @volatile private var currentTag: String = null
  val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 0L

  private def counters(tag: String): Counters =
    byTag.synchronized(byTag.getOrElseUpdate(tag, new Counters))

  private def tagOfStage(stageId: Int): Option[String] =
    stageTag.synchronized(stageTag.get(stageId))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .getOrElse("").split(",")
      tags.find(_.startsWith("pb-")).foreach { t =>
        val c = counters(t)
        c.synchronized(c.jobs += 1)
        stageTag.synchronized(e.stageIds.foreach(stageTag(_) = t))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      stageSubmitMs.synchronized(stageSubmitMs((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      tagOfStage(e.stageInfo.stageId).foreach { t =>
        val c = counters(t)
        c.synchronized(c.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tagOfStage(e.stageId).foreach { t =>
        val c = counters(t)
        val submitted = stageSubmitMs.synchronized(
          stageSubmitMs.get((e.stageId, e.stageAttemptId)))
        c.synchronized {
          c.tasks += 1
          if (!e.taskInfo.successful) c.failedTasks += 1
          submitted.foreach(s => c.taskQueueMs += math.max(0L, e.taskInfo.launchTime - s))
          val m = e.taskMetrics
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = planning(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planning(qe)
    private def planning(qe: QueryExecution): Unit = Option(currentTag).foreach { t =>
      val ph = qe.tracker.phases
      def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
      val c = counters(t)
      c.synchronized {
        c.analyzeMs += ms("analysis")
        c.optimizeMs += ms("optimization")
        c.physicalMs += ms("planning")
      }
    }
  }

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val compiled = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val codegenAppender = new AbstractAppender("perfbench-codegen", null,
      null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case compiled(ms) =>
        val ns = (ms.toDouble * 1e6).toLong
        (Seq(codegen) ++ Option(currentTag).map(counters)).foreach { c =>
          c.synchronized {
            c.codegenNs += ns
            c.codegenClasses += 1
          }
        }
      case _ =>
    }
  }
  codegenAppender.start()
  locally {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(codegenAppender, Level.INFO, null)
    ctx.getConfiguration.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
  }

  def detach(spark: SparkSession): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
  }

  /** Runs `body` as phase `phase` of operation `op`: its jobs carry the
    * phase's tag, and planning and codegen that happen meanwhile are
    * added to it. Returns the body's value and the phase's counters. */
  def phase[T](spark: SparkSession, op: Long, phase: String)(body: => T): (T, Counters) = {
    val sc = spark.sparkContext
    val tag = s"pb-$op-$phase"
    sc.addJobTag(tag)
    currentTag = tag
    try {
      val v = body
      ListenerBusDrain(sc)
      (v, counters(tag))
    } finally {
      currentTag = null
      sc.removeJobTag(tag)
    }
  }

  def span[T](op: Long, parent: Long, name: String)(body: Long => T): T = {
    val id = synchronized { nextSpan += 1; nextSpan }
    val t0 = System.nanoTime()
    try body(id)
    finally synchronized(spans += Span(op, id, parent, name, t0, System.nanoTime()))
  }
}

object Tracer {
  /** JVM-wide counters; their deltas around an operation are its share. */
  def jvm(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jitMs = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    Map("gc_s" -> gcMs / 1e3, "jit_s" -> jitMs / 1e3,
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble)
  }

  /** Files and bytes the stage cache has written so far. */
  def stageCache(stageDir: Path): Map[String, Double] = {
    if (!Files.exists(stageDir)) return Map("stage_files" -> 0.0, "stage_mb" -> 0.0)
    val files = Files.walk(stageDir)
    try {
      val sizes = files.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).toSeq
      Map("stage_files" -> sizes.size.toDouble, "stage_mb" -> sizes.sum / 1048576.0)
    } finally files.close()
  }

  /** RDD blocks resident now (loop state checkpoints, caches). */
  def storage(sc: org.apache.spark.SparkContext): Map[String, Double] = {
    val cached = sc.getRDDStorageInfo.filter(_.isCached)
    Map("ckpt_rdds" -> cached.length.toDouble,
      "ckpt_mb" -> cached.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}
