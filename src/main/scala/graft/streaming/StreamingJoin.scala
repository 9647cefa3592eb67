package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked STREAM-STREAM join — last-touch attribution as the
  * canonical shape: every `purchase` event joins the `view` events of
  * the same user that precede it within an attribution horizon, both
  * sides arriving as unbounded streams. This is the Structured
  * Streaming surface none of the other streaming operators exercise:
  * two independent sources, each buffering rows in the state store
  * until the OTHER side can no longer produce a match, with eviction
  * driven by the watermark and the join's own time-range condition —
  * Spark derives "a view is dead once the watermark passes
  * `view.ts + horizon`" (no purchase after that can reach back to it)
  * and "a purchase is dead once the watermark passes its own ts"
  * (every later view starts strictly after it) directly from the
  * range predicate, so per-side state is horizon-bounded regardless
  * of stream length. An unconstrained stream-stream join would hold
  * both streams forever; the range condition IS the scale story.
  *
  * Spark-first mechanics: plain `Dataset.join` on two watermarked
  * streaming frames with an equi-key plus a two-sided event-time
  * range — StreamingSymmetricHashJoin underneath, state keyed by
  * user, no custom state code at all. Inner join emits a pair the
  * moment both rows exist; nothing waits on the watermark, so the
  * drain sees every pair once the file sources run dry.
  *
  * Equivalence contract (oracle-gated): the emitted pair set equals
  * the batch join exactly — range staging keeps each source's file
  * sequence in ts order, so no row ever arrives behind the global
  * watermark (min over both sources of that source's max seen ts) and
  * nothing is dropped as late. The attribution report (last qualifying
  * view per purchase) is an argmax over the pair sink, so it shares a
  * single SQL oracle with the batch spelling verbatim.
  */
object StreamingJoin {

  /** Pairs (user_id, ptb, ptsm, vtsm) of each purchase with EVERY
    * qualifying view: same user, strictly before the purchase, within
    * `horizonUs` of it. Inputs are streaming frames of
    * (user_id, ts, tb) that MUST already carry watermarks — the range
    * condition below only bounds state when both sides do.
    */
  def attributionPairs(
      views: DataFrame, purchases: DataFrame, horizonUs: Long): DataFrame = {
    val v = views.select(
      col("user_id").as("v_uid"), col("ts").as("v_ts"), col("tb").as("v_tb"))
    val p = purchases.select(
      col("user_id").as("p_uid"), col("ts").as("p_ts"), col("tb").as("p_tb"))
    v.join(
        p,
        col("v_uid") === col("p_uid") &&
          col("v_ts") < col("p_ts") &&
          col("p_ts") <= col("v_ts") + expr(s"INTERVAL $horizonUs MICROSECOND"),
        "inner")
      .select(
        col("p_uid").as("user_id"),
        col("p_tb").as("ptb"),
        unix_micros(col("p_ts")).as("ptsm"),
        unix_micros(col("v_ts")).as("vtsm"))
  }

  /** Total state rows across the join's state operators as reported by
    * the last micro-batch of the most recent [[attributionFromFiles]]
    * run. That inner path runs without no-data batches, so the trailing
    * eviction-only batch never runs: the total reflects eviction done
    * by earlier data batches but is taken BEFORE the final watermark's
    * eviction, not after it.
    */
  @volatile private[streaming] var lastStateRows: Long = -1L

  /** Batch id of the last completed micro-batch of the most recent
    * run — drain-cost diagnostics (batch count = fixed cost at gate
    * scale; guide §1 measure first).
    */
  @volatile private[graft] var lastBatchId: Long = -1L

  /** File-fed end-to-end run (the gate-query spelling): `events`
    * (user_id, ts, tb, event_type) splits into a view stream and a
    * purchase stream, each staged as its own ts-ordered micro-batch
    * file sequence; the two streams join live and land pairs
    * exactly-once; the returned report keeps, per purchase, the LAST
    * qualifying view (max vtsm) and the attribution latency.
    */
  def attributionFromFiles(
      spark: SparkSession,
      events: DataFrame, // (user_id, ts: timestamp, tb, event_type)
      viewType: String,
      purchaseType: String,
      horizonUs: Long,
      nBatches: Int,
      scratch: String,
      statePartitions: Int = 4): DataFrame = {
    val base = new java.io.File(scratch)
    val vIn = new java.io.File(base, "vin")
    val pIn = new java.io.File(base, "pin")
    val outDir = new java.io.File(base, "out")
    def narrow(t: String) = events
      .filter(col("event_type") === t)
      .select(
        col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("tb").cast("long").as("tb"))
    // the two sources' staging writes are independent — overlap them
    // (guide §2.6: submit independent jobs concurrently)
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fs = Seq(
        Future(graft.sources.FileIO.stageRangeBatches(
          narrow(viewType), col("ts"), nBatches,
          new java.io.File(base, "vstage"), vIn)),
        Future(graft.sources.FileIO.stageRangeBatches(
          narrow(purchaseType), col("ts"), nBatches,
          new java.io.File(base, "pstage"), pIn)))
      fs.foreach(Await.result(_, Duration.Inf))
    }
    // inner join: pairs emit the moment both rows exist and eviction
    // emits nothing, so the trailing no-data micro-batch is pure fixed
    // cost — drop it (measured: 5 -> 4 batches at gate scale)
    val ss = StreamSessions.scoped(spark, statePartitions,
      noDataBatches = false)
    val schema = narrow(viewType).schema
    def src(dir: java.io.File) = graft.sources.FileIO
      .streamParquet(ss, dir.toString, schema, maxFilesPerTrigger = 1)
      .withWatermark("ts", "0 seconds")
    val q = graft.sources.FileIO.streamingParquetSink(
      attributionPairs(src(vIn), src(pIn), horizonUs),
      outDir.toString, new java.io.File(base, "ckpt").toString).start()
    q.awaitTermination()
    lastStateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    lastBatchId = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    graft.sources.FileIO.deleteScratch(
      new java.io.File(base, "vstage"), new java.io.File(base, "pstage"),
      vIn, pIn, new java.io.File(base, "ckpt"))
    graft.sources.FileIO.deleteScratchOnExit(base)
    spark.read.parquet(outDir.toString)
      .groupBy(col("user_id"), col("ptb"), col("ptsm"))
      .agg(max(col("vtsm")).as("view_tsm"))
      .select(
        col("user_id"), col("ptb"), col("view_tsm"),
        (col("ptsm") - col("view_tsm")).as("lat_us"))
  }

  /** Watermarked stream-stream LEFT OUTER attribution — the
    * semantics [[attributionPairs]]' inner join can't express: a
    * purchase with NO qualifying view still emits, with nulls, and
    * that emission happens only when the WATERMARK proves no matching
    * view can still arrive (matched pairs emit immediately; the null
    * row is produced at state EVICTION time — the outer join's whole
    * mechanism). State bounds are the inner join's: both sides
    * watermarked, the range condition derives each side's expiry.
    *
    * Drain completeness needs the same flush discipline as
    * [[StreamingWindows]]: the last purchases' null verdicts wait on
    * the GLOBAL watermark (min across both sources), so each source
    * ends with a sentinel row past `max ts + horizon`, excluded from
    * the join by an EVENT-TIME bound (any other-column predicate
    * would be pushed below the watermark collector — see
    * StreamingWindows' class doc).
    */
  def attributionOuterFromFiles(
      spark: SparkSession,
      events: DataFrame, // (user_id, ts: timestamp, tb, event_type)
      viewType: String,
      purchaseType: String,
      horizonUs: Long,
      nBatches: Int,
      scratch: String,
      statePartitions: Int = 4): DataFrame = {
    val base = new java.io.File(scratch)
    val vIn = new java.io.File(base, "vin")
    val pIn = new java.io.File(base, "pin")
    val outDir = new java.io.File(base, "out")
    def narrow(t: String) = events
      .filter(col("event_type") === t)
      .select(
        col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("tb").cast("long").as("tb"))
    // The flush sentinel rides INSIDE each source's LAST staged file
    // (it carries the max ts, so range staging puts it there) instead
    // of a trailing sentinel-only file: the watermark then advances
    // past every open purchase at the end of the last DATA batch and
    // one no-data batch emits the null verdicts — formerly the
    // sentinel-only batch plus the no-data batch each paid the full
    // per-micro-batch fixed cost (measured: 6 -> 5 batches at gate
    // scale). The two sources' staging writes stay independent —
    // overlap them (guide §2.6).
    val maxTs = events.agg(max(col("ts").cast("timestamp"))).head().getTimestamp(0)
    val flushMs = maxTs.getTime + horizonUs / 1000L + 7200000L
    val schema = narrow(viewType).schema
    def withSentinel(df: DataFrame) = df.unionByName(
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          -1L, new java.sql.Timestamp(flushMs), -1L)), schema))
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fs = Seq(
        Future(graft.sources.FileIO.stageRangeBatches(
          withSentinel(narrow(viewType)), col("ts"), nBatches,
          new java.io.File(base, "vstage"), vIn)),
        Future(graft.sources.FileIO.stageRangeBatches(
          withSentinel(narrow(purchaseType)), col("ts"), nBatches,
          new java.io.File(base, "pstage"), pIn)))
      fs.foreach(Await.result(_, Duration.Inf))
    }
    val ss = StreamSessions.scoped(spark, statePartitions)
    def src(dir: java.io.File) = graft.sources.FileIO
      .streamParquet(ss, dir.toString, schema, maxFilesPerTrigger = 1)
      .withWatermark("ts", "0 seconds")
      .filter(col("ts") <= lit(maxTs)) // event-time bound, see doc
    val v = src(vIn).select(
      col("user_id").as("v_uid"), col("ts").as("v_ts"), col("tb").as("v_tb"))
    val p = src(pIn).select(
      col("user_id").as("p_uid"), col("ts").as("p_ts"), col("tb").as("p_tb"))
    val joined = p.join(
        v,
        col("v_uid") === col("p_uid") &&
          col("v_ts") < col("p_ts") &&
          col("p_ts") <= col("v_ts") + expr(s"INTERVAL $horizonUs MICROSECOND"),
        "left_outer")
      .select(
        col("p_uid").as("user_id"),
        col("p_tb").as("ptb"),
        unix_micros(col("p_ts")).as("ptsm"),
        unix_micros(col("v_ts")).as("vtsm")) // null for unattributed
    val q = graft.sources.FileIO.streamingParquetSink(
      joined, outDir.toString, new java.io.File(base, "ckpt").toString).start()
    q.awaitTermination()
    lastBatchId = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    graft.sources.FileIO.deleteScratch(
      new java.io.File(base, "vstage"), new java.io.File(base, "pstage"),
      vIn, pIn, new java.io.File(base, "ckpt"))
    graft.sources.FileIO.deleteScratchOnExit(base)
    spark.read.parquet(outDir.toString)
      .groupBy(col("user_id"), col("ptb"), col("ptsm"))
      .agg(max(col("vtsm")).as("view_tsm")) // null iff unattributed
      .select(
        col("user_id"), col("ptb"), col("view_tsm"),
        (col("ptsm") - col("view_tsm")).as("lat_us"))
  }

  /** STREAM-STATIC enrichment join — the other canonical streaming
    * join shape: an unbounded event stream decorated per-row from a
    * bounded dimension table. Entirely STATELESS: the static side is
    * planned into every micro-batch as a broadcast hash join
    * (`broadcast(dim)`), so the stream never shuffles, no state store
    * is touched, and per-batch cost is O(batch) probe work against an
    * executor-resident hash map. At 100 TB the dim side is the only
    * thing that grows: a dim past broadcast size moves to a
    * pre-bucketed layout co-partitioned with the stream's key
    * ([[graft.operators.Bucketing]]) — the stream side's no-shuffle
    * property is the part worth defending.
    *
    * Returns the enriched stream (user_id, tsm, cents, segment);
    * aggregation over the enrichment is the CALLER's batch query on
    * the landed sink (the stream stays append-only, no watermark
    * needed because there's no state to bound).
    */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(dim),
      events("user_id") === dim("k"), "inner")

  /** File-fed end-to-end run (the gate-query spelling): `events`
    * staged as ts-ordered micro-batch files, streamed through the
    * broadcast join against `customer`, landed exactly-once; report =
    * per-segment event count and cents total over the enriched sink.
    */
  def enrichBySegmentFromFiles(
      spark: SparkSession,
      events: DataFrame, // (user_id, ts: timestamp, value: double)
      customer: DataFrame, // (c_custkey, c_mktsegment)
      nBatches: Int,
      scratch: String,
      statePartitions: Int = 4): DataFrame = {
    val base = new java.io.File(scratch)
    val inDir = new java.io.File(base, "in")
    val outDir = new java.io.File(base, "out")
    val narrow = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("timestamp").as("ts"),
      round(col("value") * 100).cast("long").as("cents"))
    graft.sources.FileIO.stageRangeBatches(
      narrow, col("ts"), nBatches, new java.io.File(base, "stage"), inDir)
    val ss = StreamSessions.scoped(spark, statePartitions)
    val stream = graft.sources.FileIO
      .streamParquet(ss, inDir.toString, narrow.schema, maxFilesPerTrigger = 1)
    val dim = customer.select(
      col("c_custkey").cast("long").as("k"),
      col("c_mktsegment").as("segment"))
    val q = graft.sources.FileIO.streamingParquetSink(
      enriched(stream, dim)
        .select(col("user_id"), unix_micros(col("ts")).as("tsm"),
          col("cents"), col("segment")),
      outDir.toString, new java.io.File(base, "ckpt").toString).start()
    q.awaitTermination()
    graft.sources.FileIO.deleteScratch(
      new java.io.File(base, "stage"), inDir, new java.io.File(base, "ckpt"))
    graft.sources.FileIO.deleteScratchOnExit(base)
    spark.read.parquet(outDir.toString)
      .groupBy(col("segment").as("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"))
  }
}
