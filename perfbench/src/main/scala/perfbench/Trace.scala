package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.util.UUID
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch milliseconds with nanosecond resolution, so span
  * times and Spark's own event times (epoch ms) share one axis.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final class Span(
    val id: Long, val name: String, val parent: Long, val trace: String,
    val start: Double) {
  @volatile var end: Double = Double.NaN
  def ms: Double = end - start
}

/** One Spark job as the listener saw it. `span` is the benchmark span
  * that was current on the submitting thread, `group` its job group
  * (threads a call spawns inherit it), `batch` Structured Streaming's
  * micro-batch id (-1 outside streams).
  */
final class JobRec(
    val id: Int, val span: Long, val group: String, val batch: Long,
    val query: String, val start: Long, val stages: Seq[Int]) {
  @volatile var end: Long = -1L
}

final case class TaskRec(
    runMs: Long, cpuNs: Long, shuffleWrite: Long, spill: Long, outBytes: Long)

/** Spans around every timed call plus a benchmark-owned
  * `SparkListener`. Streaming progress and query start/stop events
  * arrive through `onOtherEvent`, for every session of the context, so
  * scoped sessions are covered too. Progress and query liveness are
  * always recorded (the end-to-end figures need batch times); spans,
  * jobs, stages and tasks only when `traced`.
  */
final class Trace(sc: SparkContext, val traced: Boolean) extends SparkListener {
  import Trace._

  private val spans = ArrayBuffer[Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)

  /** Time `f` as span `name` of trace `trace`; returns its result and
    * the closed span.
    */
  def span[A](name: String, trace: String)(f: => A): (A, Span) = {
    val s = new Span(nextId.incrementAndGet(), name,
      stack.get.headOption.fold(-1L)(_.id), trace, Clock.nowMs)
    val prev = sc.getLocalProperty(SpanKey)
    if (traced) {
      spans.synchronized(spans += s)
      sc.setLocalProperty(SpanKey, s.id.toString)
    }
    stack.set(s :: stack.get)
    try (f, s)
    finally {
      s.end = Clock.nowMs
      stack.set(stack.get.tail)
      if (traced) sc.setLocalProperty(SpanKey, prev)
    }
  }

  // ---- listener state (guarded by `this`) ----
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageTasks = mutable.Map[Int, ArrayBuffer[TaskRec]]()
  private val progress = ArrayBuffer[StreamingQueryProgress]()
  private val active = mutable.Set[UUID]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = new JobRec(e.jobId,
      prop(SpanKey).flatMap(_.toLongOption).getOrElse(-1L),
      prop(JobGroupKey).orNull,
      prop(BatchIdKey).flatMap(_.toLongOption).getOrElse(-1L),
      prop(QueryIdKey).orNull,
      e.time, e.stageIds)
    synchronized(jobs(e.jobId) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced)
    synchronized(jobs.get(e.jobId).foreach(_.end = e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (traced && e.taskMetrics != null) {
      val m = e.taskMetrics
      val t = TaskRec(m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.outputMetrics.bytesWritten)
      synchronized(stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) += t)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: StreamingQueryListener.QueryStartedEvent => synchronized(active += s.id)
    case s: StreamingQueryListener.QueryTerminatedEvent => synchronized(active -= s.id)
    case s: StreamingQueryListener.QueryProgressEvent =>
      synchronized(progress += s.progress)
    case _ =>
  }

  /** Block until every event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def activeStreams: Int = { drain(); synchronized(active.size) }

  /** Progress of query `id` (its `id`, stable across restarts). */
  def progressOf(id: UUID): Seq[StreamingQueryProgress] = {
    drain()
    synchronized(progress.filter(_.id == id).toList)
  }

  /** Progress of every batch that started within [from, to] (epoch ms)
    * and reads a source whose description mentions `source`.
    */
  def progressOfSource(source: String, from: Double, to: Double): Seq[StreamingQueryProgress] = {
    drain()
    synchronized(progress.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      t >= from - 1 && t <= to && p.sources.exists(_.description.contains(source))
    }.toList)
  }

  def allJobs: Seq[JobRec] = { drain(); synchronized(jobs.values.toList) }

  /** The span a job belongs to. A job whose recorded span had already
    * closed when it started came from a pooled thread that inherited a
    * stale label; it belongs to the innermost span open at its start.
    */
  private def owner(j: JobRec): Long = {
    val byId = spans.synchronized(spans.find(_.id == j.span))
    def covers(s: Span) = s.start - 1 <= j.start && (s.end.isNaN || j.start <= s.end + 1)
    byId.filter(covers).map(_.id).getOrElse(
      spans.synchronized(spans.filter(covers).sortBy(-_.start).headOption)
        .map(_.id).getOrElse(-1L))
  }

  def childSpans(s: Span): Seq[Span] =
    spans.synchronized(spans.filter(_.parent == s.id).toList)

  /** Jobs owned by `s` or any span nested in it. */
  def jobsOf(s: Span): Seq[JobRec] = {
    val all = spans.synchronized(spans.toList)
    val kids = all.groupBy(_.parent)
    def tree(id: Long): Set[Long] = kids.getOrElse(id, Nil).flatMap(c => tree(c.id)).toSet + id
    val ids = tree(s.id)
    allJobs.filter(j => ids.contains(owner(j)))
  }

  /** Bytes the tasks of `js` wrote to output files. */
  def outputBytes(js: Seq[JobRec]): Long = synchronized(
    js.flatMap(_.stages).distinct.flatMap(st => stageTasks.getOrElse(st, Nil)).map(_.outBytes).sum)

  /** The nine per-call counters over `js`, for a call that took
    * [from, to] (epoch ms).
    */
  def counters(js: Seq[JobRec], from: Double, to: Double): Map[String, Double] = {
    val tasksByStage = synchronized(
      js.flatMap(_.stages).distinct.map(st => st -> stageTasks.getOrElse(st, ArrayBuffer()).toList)).toMap
    val tasks = tasksByStage.values.flatten.toSeq
    val covered = unionMs(js.map(j => (j.start.toDouble max from,
      (if (j.end < 0) to else j.end.toDouble) min to)))
    val longest = tasksByStage.values.filter(_.nonEmpty).toSeq.sortBy(-_.map(_.runMs).sum).headOption
    val skew = longest.fold(1.0) { ts =>
      val med = Stats.median(ts.map(_.runMs.toDouble))
      ts.map(_.runMs).max / math.max(med, 1.0)
    }
    Map(
      "wall_ms" -> (to - from),
      "driver_ms" -> math.max(0.0, to - from - covered),
      "jobs" -> js.size.toDouble,
      "tasks" -> tasks.size.toDouble,
      "exec_run_ms" -> tasks.map(_.runMs).sum.toDouble,
      "exec_cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6,
      "shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / MB,
      "spill_mb" -> tasks.map(_.spill).sum / MB,
      "task_skew" -> skew)
  }

  /** Write every span as one JSON object per line. */
  def writeSpans(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.synchronized(spans.toList).foreach { s =>
      w.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "trace" -> s.trace,
        "start_ms" -> s.start, "end_ms" -> s.end, "dur_ms" -> s.ms)))
    } finally w.close()
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val JobGroupKey = "spark.jobGroup.id"
  val BatchIdKey = "streaming.sql.batchId"
  val QueryIdKey = "sql.streaming.queryId"
  val MB: Double = 1024.0 * 1024.0

  val CounterNames: Seq[String] = Seq("wall_ms", "driver_ms", "jobs", "tasks",
    "exec_run_ms", "exec_cpu_ms", "shuffle_write_mb", "spill_mb", "task_skew")

  /** Total length of the union of the intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
