package graft.metrics

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Metrics — the reference's `metrics/` package (`Throughput.java`,
  * `TimeDelta.java`, `Report.java`) re-expressed for Spark:
  * batch throughput from wall-clock timers, streaming
  * throughput/latency straight from Structured Streaming's
  * QueryProgress (Spark already meters every micro-batch; no
  * hand-rolled accumulators needed).
  */
object Metrics {

  final case class Throughput(records: Long, seconds: Double) {
    def perSecond: Double = if (seconds > 0) records / seconds else 0.0
  }

  /** Time a thunk returning a record count → Throughput. */
  def measure(thunk: => Long): Throughput = {
    val t0 = System.nanoTime()
    val n = thunk
    Throughput(n, (System.nanoTime() - t0) / 1e9)
  }

  /** Streaming report from the engine's own progress events —
    * the analog of the reference's Report server collecting
    * throughput/latency from tracker sinks.
    */
  final case class StreamReport(
      batchId: Long, inputRows: Long, processedPerSecond: Double,
      batchDurationMs: Long)

  def fromProgress(p: StreamingQueryProgress): StreamReport =
    StreamReport(
      p.batchId,
      p.numInputRows,
      p.processedRowsPerSecond,
      p.batchDuration)

  /** One-line JSON report (the reference's Report.toJson analog). */
  def reportJson(name: String, t: Throughput): String =
    s"""{"name":"$name","records":${t.records},"seconds":${t.seconds},"per_second":${t.perSecond}}"""

  /** Per-micro-batch latency collector — the analog of the reference's
    * `evaluation/LatencyTrackerStart/End.java` + `metrics/TimeDelta.java`
    * pair: in a micro-batch engine the record's start→end latency is
    * bounded by its batch's processing duration, which the engine
    * already meters on every progress event; this listener just
    * accumulates them for percentile reporting.
    */
  final class LatencyCollector extends StreamingQueryListener {
    private val durations = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) durations.add(e.progress.batchDuration)

    def samples: Seq[Long] = {
      import scala.jdk.CollectionConverters._
      durations.iterator().asScala.map(_.longValue()).toSeq
    }
    /** Nearest-rank percentile over the collected batch durations. */
    def percentileMs(p: Double): Long = {
      val s = samples.sorted
      if (s.isEmpty) -1L
      else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }
    def summary: LatencySummary =
      LatencySummary(samples.length, percentileMs(50), percentileMs(95),
        percentileMs(99), if (samples.isEmpty) -1L else samples.max)
  }

  final case class LatencySummary(
      batches: Int, p50Ms: Long, p95Ms: Long, p99Ms: Long, maxMs: Long) {
    def toJsonFragment: String =
      s""""stream_latency_ms":{"batches":$batches,"p50":$p50Ms,"p95":$p95Ms,"p99":$p99Ms,"max":$maxMs}"""
  }

  /** Nearest-rank percentile over a sorted sample. */
  private[metrics] def nearestRank(sorted: IndexedSeq[Long], p: Double): Long =
    if (sorted.isEmpty) -1L
    else sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(p / 100.0 * sorted.length).toInt - 1)))

  /** Per-RECORD end-to-end latency — the reference's
    * `evaluation/LatencyTrackerStart.java` / `LatencyTrackerEnd.java` +
    * `common/RecordTracker.java` trio: each transaction id is stamped
    * when it ENTERS the graph (`opened`) and measured when its outputs
    * land at the SINK (`closed`, called from a foreachBatch with the
    * batch's completion time), so the distribution reflects true
    * open→close record latency — including in-batch queueing — not just
    * per-batch duration. Records that never reach the sink (aborted /
    * filtered transactions) stay open and are never sampled, like the
    * reference tracker's unmatched starts.
    */
  final class RecordLatencyCollector {
    private val openNs =
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    private val samples =
      new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

    /** Stamp a record's entry into the graph (first stamp wins). */
    def opened(tid: Long): Unit =
      openNs.putIfAbsent(tid, java.lang.Long.valueOf(System.nanoTime()))

    /** Close every tid that reached the sink in one committed batch. */
    def closed(tids: Iterable[Long], closeNs: Long): Unit =
      tids.foreach { t =>
        val o = openNs.remove(t)
        if (o != null) samples.add(java.lang.Long.valueOf(closeNs - o.longValue()))
      }

    def summary: RecordLatencySummary = {
      import scala.jdk.CollectionConverters._
      val ms = samples.iterator().asScala
        .map(n => n.longValue() / 1000000L).toIndexedSeq.sorted
      RecordLatencySummary(ms.length, nearestRank(ms, 50), nearestRank(ms, 95),
        nearestRank(ms, 99), if (ms.isEmpty) -1L else ms.last)
    }
  }

  final case class RecordLatencySummary(
      records: Int, p50Ms: Long, p95Ms: Long, p99Ms: Long, maxMs: Long) {
    def toJsonFragment: String =
      s""""record_latency_ms":{"records":$records,"p50":$p50Ms,"p95":$p95Ms,"p99":$p99Ms,"max":$maxMs}"""
  }

  /** Batch-level + record-level latency from one probe run. */
  final case class StreamLatencyReport(
      batch: LatencySummary, record: RecordLatencySummary) {
    def toJsonFragment: String =
      batch.toJsonFragment + "," + record.toJsonFragment
  }
}
