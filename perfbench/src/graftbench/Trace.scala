package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the run: a pass, an operation, or a layer call
  * inside an operation. Wall-clock millis attribute Spark events to it;
  * nanos give its duration.
  */
final class Span(val id: Int, val name: String, val kind: String,
                 val parent: Int, val depth: Int, val pass: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  /** Counts recorded at the span's closing boundary. */
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
  def tag: String = s"graftbench-span-$id"
}

/** What the listener saw of one Spark job, summed over its tasks. */
final class JobRec(val id: Int, val tags: Set[String], val startMs: Long) {
  var endMs: Long = -1L
  var stages, tasks, failedTasks = 0
  var runMs, cpuNs, gcMs, bytesRead, rowsRead = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var span: Int = -1
}

/** One Catalyst phase (analysis, optimization, planning) of one query. */
final case class Phase(name: String, startMs: Long, ms: Long)

/** The benchmark's tracer. It keeps spans in memory, tags every Spark job
  * issued inside a span with the span's job tag, and listens to the
  * scheduler (jobs, stages, tasks) and to query executions (planning
  * phases). Nothing is written until the run ends.
  *
  * Jobs are attributed to the deepest span whose tag they carry. Jobs
  * submitted from threads that do not inherit the tags (driver-side thread
  * pools) fall back to the deepest span open when they started, which is
  * exact because operations run one at a time.
  */
final class Tracer(spark: SparkSession, val runId: String)
    extends SparkListener with QueryExecutionListener {

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val phases = mutable.ArrayBuffer.empty[Phase]
  var pass = 0

  def attach(): Unit = {
    sc.addSparkListener(this); spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain(); sc.removeSparkListener(this); spark.listenerManager.unregister(this)
  }

  def span[T](name: String, kind: String)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, kind, parent.fold(-1)(_.id),
      parent.fold(0)(_.depth + 1), pass, System.currentTimeMillis(), System.nanoTime())
    spans += s; stack.push(s); sc.addJobTag(s.tag)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      sc.removeJobTag(s.tag); stack.pop()
      if (kind == "op") {
        s.counts("cache.pinned") = sc.getPersistentRDDs.size.toDouble
        s.counts("cache.stored_mb") =
          sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
      }
    }
  }

  /** Analysis done eagerly when a DataFrame is built is not part of any
    * action's execution; record it from the frame's own planning tracker.
    */
  def recordAnalysis(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.get("analysis").foreach(p =>
      phases += Phase("analysis", p.startTimeMs, p.durationMs))
  }

  /** Block until every event posted before now has been delivered: run a
    * marker job and wait for its end event (the listener bus delivers in
    * order).
    */
  private def drain(): Unit = {
    val tag = "graftbench-drain"
    sc.addJobTag(tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag)
    def seen = synchronized(jobs.values.exists(j => j.tags(tag) && j.endMs >= 0))
    val deadline = System.currentTimeMillis() + 60000
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(5)
    synchronized(jobs.filterInPlace((_, j) => !j.tags(tag)))
  }

  // ---- listener callbacks (listener-bus thread) ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet)
    jobs(e.jobId) = new JobRec(e.jobId, tags, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime; j.gcMs += m.jvmGCTime
        j.bytesRead += m.inputMetrics.bytesRead; j.rowsRead += m.inputMetrics.recordsRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (n, p) => phases += Phase(n, p.startTimeMs, p.durationMs) }
  }

  // ---- attribution and per-layer figures ----

  /** The deepest span open at `ms`, if any. */
  private def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.depth)

  private lazy val byTag: Map[String, Span] = spans.map(s => s.tag -> s).toMap

  /** Attribute every finished job and phase to a span. Call after
    * [[detach]].
    */
  lazy val attributed: (Seq[JobRec], Seq[(Phase, Int)]) = synchronized {
    val js = jobs.values.toSeq
    js.foreach { j =>
      j.span = j.tags.flatMap(byTag.get).maxByOption(_.depth)
        .orElse(spanAt(j.startMs)).fold(-1)(_.id)
    }
    (js, phases.toSeq.map(p => p -> spanAt(p.startMs).fold(-1)(_.id)))
  }

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** All spans under `s`, itself included. */
  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = subtree(s).map(_.id).toSet
    attributed._1.filter(j => ids(j.span))
  }

  def phasesUnder(s: Span): Seq[Phase] = {
    val ids = subtree(s).map(_.id).toSet
    attributed._2.collect { case (p, id) if ids(id) => p }
  }

  /** Milliseconds of [from, to] covered by the union of the intervals. */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def jobIntervals(js: Seq[JobRec]): Seq[(Long, Long)] =
    js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))

  /** Span wall time not covered by any running job of the span, seconds. */
  def driverSeconds(s: Span): Double =
    math.max(0.0, s.seconds - covered(jobIntervals(jobsUnder(s)), s.startMs, s.endMs) / 1000.0)

  /** Span duration minus the time its direct children cover, seconds. */
  def selfSeconds(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil)
    val iv = kids.map(k => (k.startNs / 1000L, k.endNs / 1000L))
    val cov = covered(iv, s.startNs / 1000L, s.endNs / 1000L)
    math.max(0.0, s.seconds - cov / 1e6)
  }

  /** The span records, one JSON object a line. */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    val js = jobsUnder(s)
    val extra = s.counts.map { case (k, v) => s""","${Json.esc(k)}":${Json.num(v)}""" }.mkString
    s"""{"run":"$runId","id":${s.id},"name":"${Json.esc(s.name)}","kind":"${s.kind}",""" +
      s""""parent":${s.parent},"pass":${s.pass},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""seconds":${Json.num(s.seconds)},"self_s":${Json.num(selfSeconds(s))},""" +
      s""""jobs":${js.size},"tasks":${js.map(_.tasks).sum},""" +
      s""""task_run_s":${Json.num(js.map(_.runMs).sum / 1000.0)}$extra}"""
  }
}

/** A [[graft.io.Storage]] decorator that times list and fetch calls as
  * spans of the tracer.
  */
final class TimedStorage(inner: graft.io.Storage, tracer: Tracer) extends graft.io.Storage {
  override def list(): Seq[graft.io.Storage.Entry] = tracer.span("io.list", "io")(inner.list())
  override def fetch(entry: graft.io.Storage.Entry): String =
    tracer.span("io.fetch", "io")(inner.fetch(entry))
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
