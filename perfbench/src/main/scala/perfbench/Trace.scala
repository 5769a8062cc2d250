package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import Trace._

/** One timed operation: a query key, a refresh stage or a lookup.
  * Times are epoch milliseconds so they line up with the engine's own
  * event times; `wallS` is the nanosecond-timer duration. `storageMb`
  * is block-manager storage still held when the op starts.
  */
final case class Op(kind: String, name: String, module: String, cycle: Int,
    startMs: Long, buildEndMs: Long, endMs: Long, wallS: Double,
    buildS: Double, error: Option[String], storageMb: Double)

/** Engine-side recorder for the traced run: a `SparkListener` for jobs,
  * stages and tasks, a `QueryExecutionListener` for Catalyst phase
  * times, and a log4j appender that counts WARN and ERROR lines. Events
  * are kept in memory and attributed to ops by time after the window.
  */
final class Trace(spark: SparkSession) {

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val submitted = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val execs = mutable.ArrayBuffer.empty[Exec]
  val warnLines = new AtomicLong
  val errorLines = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += Job(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        submitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(0L)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      val t =
        if (m == null) Task(e.stageId, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, i.successful)
        else Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.peakExecutionMemory,
          math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - i.gettingResultTime),
          i.successful)
      Trace.this.synchronized { tasks += t }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      val sentinel = qe.logical.toString.contains(Trace.sentinelColumn)
      Trace.this.synchronized { execs += Exec(phases, sentinel) }
    }
  }

  private val appender = new AbstractAppender("perfbench-log-counter", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getLevel == Level.ERROR || e.getLevel == Level.FATAL) errorLines.incrementAndGet()
      else if (e.getLevel == Level.WARN) warnLines.incrementAndGet()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
  }

  /** Waits until every event posted so far has been delivered: a
    * sentinel query's execution event arrives after all earlier ones.
    */
  def stop(): Unit = {
    import org.apache.spark.sql.functions.lit
    spark.range(1).select(lit(1).as(Trace.sentinelColumn))
      .write.format("noop").mode("overwrite").save()
    val deadline = System.currentTimeMillis() + 30000
    while (!synchronized(execs.exists(_.sentinel)) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
  }

  /** Measure of the union of intervals, clipped to [lo, hi). */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var end = lo
    for ((s0, e0) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val s = math.max(s0, end)
      if (e0 > s) { total += e0 - s; end = e0 }
    }
    total
  }

  /** Attributes jobs and Catalyst phases to `op` by their start time. */
  def layers(op: Op): Layers = synchronized {
    val opJobs = jobs.filter(j => j.startMs >= op.startMs && j.startMs <= op.endMs).toSeq
    val allPhases = execs.toSeq.filterNot(_.sentinel).flatMap(_.phases)
      .filter { case (_, s, _) => s >= op.startMs && s <= op.endMs }
    val phases = allPhases.filter { case (_, s, _) => s >= op.buildEndMs }
    val jobIv = opJobs.map(j => (j.startMs, if (j.endMs < 0) op.endMs else j.endMs))
    val phaseIv = phases.map { case (_, s, e) => (s, e) }
    val actionMs = op.endMs - op.buildEndMs
    Layers(op, opJobs, opJobs.count(_.startMs < op.buildEndMs), allPhases,
      phases.map { case (_, s, e) => e - s }.sum,
      covered(jobIv, op.startMs, op.buildEndMs),
      covered(jobIv, op.buildEndMs, op.endMs),
      actionMs - covered(jobIv ++ phaseIv, op.buildEndMs, op.endMs))
  }

  def tasksOf(js: Seq[Job]): Seq[Task] = synchronized {
    val st = js.flatMap(_.stages).toSet
    tasks.filter(t => st.contains(t.stage)).toSeq
  }

  /** Stages of `js` that reused earlier output instead of running. */
  def skippedStages(js: Seq[Job]): Int = synchronized {
    js.map(j => j.stages.count(s => submitted.get(s).forall(_ < j.startMs))).sum
  }

  /** Spans nested workload -> op -> phase (build, catalyst phases, jobs). */
  def spans(workload: String, ls: Seq[Layers]): Seq[Map[String, Any]] = {
    var next = 0
    def id() = { next += 1; next }
    val root = id()
    val lo = ls.map(_.op.startMs).minOption.getOrElse(0L)
    val hi = ls.map(_.op.endMs).maxOption.getOrElse(0L)
    Map[String, Any]("id" -> root, "parent" -> 0, "kind" -> "workload",
      "name" -> workload, "start_ms" -> lo, "end_ms" -> hi) +:
    ls.flatMap { l =>
      val o = id()
      val op = Map[String, Any]("id" -> o, "parent" -> root, "kind" -> l.op.kind,
        "name" -> l.op.name, "start_ms" -> l.op.startMs, "end_ms" -> l.op.endMs,
        "error" -> l.op.error.getOrElse(""))
      val build = Map[String, Any]("id" -> id(), "parent" -> o, "kind" -> "build",
        "name" -> "build", "start_ms" -> l.op.startMs, "end_ms" -> l.op.buildEndMs)
      val cat = l.phases.map { case (n, s, e) =>
        Map[String, Any]("id" -> id(), "parent" -> o, "kind" -> "catalyst",
          "name" -> n, "start_ms" -> s, "end_ms" -> e)
      }
      val js = l.jobs.map { j =>
        Map[String, Any]("id" -> id(), "parent" -> o, "kind" -> "job",
          "name" -> s"job ${j.id}", "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stages.size)
      }
      op +: build +: (cat ++ js)
    }
  }
}

object Trace {
  val sentinelColumn = "perfbench_trace_sentinel"

  final case class Job(id: Int, startMs: Long, stages: Seq[Int],
      var endMs: Long = -1)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long,
      inputBytes: Long, inputRecords: Long, peakMem: Long, delayMs: Long,
      ok: Boolean)
  final case class Exec(phases: Seq[(String, Long, Long)], sentinel: Boolean)
}

/** Where one op's wall time went. The build is the call that returns
  * the DataFrame (eager jobs included); after it, the action's time
  * splits into Catalyst phases, running jobs, and driver idle time with
  * neither. `phases` lists every Catalyst phase in the op, build
  * included; `catalystMs` sums those after the build.
  */
final case class Layers(op: Op, jobs: Seq[Trace.Job], buildJobs: Int,
    phases: Seq[(String, Long, Long)], catalystMs: Long, buildJobMs: Long,
    jobMs: Long, idleMs: Long) {
  def wallMs: Long = op.endMs - op.startMs
  def buildMs: Long = op.buildEndMs - op.startMs
  def layerSumMs: Long = buildMs + catalystMs + jobMs + idleMs
  /** Relative gap between the layer sum and wall; a 2 ms floor absorbs
    * the millisecond resolution of the engine's event times.
    */
  def sumError: Double =
    math.max(0.0, math.abs(layerSumMs - wallMs) - 2.0) / math.max(wallMs, 1L)
}
