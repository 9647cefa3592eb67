package graft.streaming

import graft.evaluation.Bank
import graft.tgraph.{IsolationLevel, Vote}
import graft.tgraph.backed.Transfers
import graft.tgraph.state.{ObjectHandler, StateChange, StateFunction, StateOperator, VotingStateFunction}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The bank transactional graph as a live Structured Streaming job —
  * the online analog of `evaluation/BankUseCase.java` wired through
  * `readStream`-compatible operators.
  *
  * Streaming 2PC shape: both branch invariants of a transfer are
  * functions of the transfer row itself, so the vote is computed
  * STATELESS per row (the vote-reduce collapses into a codegen'd
  * expression — no extra stateful stage); committed transfers then fork
  * into movements and fold into keyed state via
  * `flatMapGroupsWithState` ([[StateOperator.runStreaming]]). One
  * stateless stage + one stateful stage = a shape Structured Streaming
  * supports end-to-end with checkpointed state and exactly-once sinks.
  *
  * (When branch invariants genuinely live on different state operators,
  * the reference's online vote round-trip maps to Spark's
  * multiple-stateful-operator chaining — same API, two stateful
  * stages with watermarks.)
  */
object StreamingBank {

  final case class StreamMovement(acct: Long, tid: Long, delta: Long)

  final case class ProbeTx(tid: Long, from_acct: Long, to_acct: Long, amount: Double)

  /** Drive the streaming transactional pipeline through `batches`
    * micro-batches and collect BOTH latency views the reference's
    * latency-tracker evaluation reports
    * (`evaluation/LatencyTrackerStart/End.java` + `common/RecordTracker
    * .java`): per-micro-batch durations from Spark's own progress
    * metering, and per-RECORD open→close latency — each tid is stamped
    * when it enters the graph and closed when its state changes land at
    * the sink (a foreachBatch that reports the batch's committed tids).
    * Deterministic workload from [[graft.sources.TransferSource]].
    */
  def latencyProbe(
      spark: SparkSession,
      batches: Int = 10,
      rowsPerBatch: Int = 2000): graft.metrics.Metrics.StreamLatencyReport = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = graft.sources.TransferSource
      .batch(spark, batches.toLong * rowsPerBatch)
      .select("tid", "from_acct", "to_acct", "amount")
      .as[ProbeTx].collect()
    val collector = new graft.metrics.Metrics.LatencyCollector
    val records = new graft.metrics.Metrics.RecordLatencyCollector
    spark.streams.addListener(collector)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[ProbeTx]
    val q = balances(spark, input.toDF()).writeStream
      .foreachBatch { (ds: Dataset[StateChange[Long, Long]], _: Long) =>
        // sink-side close stamp: every tid whose fold output reached
        // this committed batch (probe scale — the collect is bounded
        // by rowsPerBatch committed tids)
        val closeNs = System.nanoTime()
        val tids = ds.toDF().select("tid").distinct()
          .collect().map(_.getLong(0))
        records.closed(tids.toSeq, closeNs)
      }
      .outputMode("append")
      .start()
    try {
      data.grouped(rowsPerBatch).foreach { chunk =>
        chunk.foreach(tx => records.opened(tx.tid))
        input.addData(chunk.toSeq)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      spark.streams.removeListener(collector)
    }
    graft.metrics.Metrics.StreamLatencyReport(collector.summary, records.summary)
  }

  /** Synthetic transfer over a SLIDING key window — the soak probe's
    * key-churn workload: accounts live in `[base, base+window)`, so
    * advancing `base` every batch retires old keys (which the state
    * TTL must evict) while admitting new ones.
    */
  def churnTx(i: Long, base: Long, window: Int): ProbeTx = {
    val h1 = scala.util.hashing.MurmurHash3.productHash((i, 1)).abs % window
    val h2raw = scala.util.hashing.MurmurHash3.productHash((i, 2)).abs % window
    val h2 = if (h2raw == h1) (h2raw + 1) % window else h2raw
    val amount = (scala.util.hashing.MurmurHash3.productHash((i, 3)).abs % 10000) / 100.0 * 2.0
    ProbeTx(i, base + h1, base + h2, amount)
  }

  /** Per-batch soak telemetry: state-store rows and batch duration for
    * every data micro-batch, plus the workload's total touched keys,
    * plus (when a query load ran) the live endpoint's served queries,
    * batch-consistency errors and throughput.
    */
  final case class SoakReport(
      batches: Int, totalKeysTouched: Long,
      stateRows: Seq[Long], batchMs: Seq[Long],
      queriesServed: Long = 0L, queryErrors: Long = 0L,
      queryPerSec: Double = 0.0) {
    private def median(s: Seq[Long]): Long =
      if (s.isEmpty) -1L else s.sorted.apply(s.length / 2)
    private def third[A](s: Seq[A], which: Int): Seq[A] = {
      val n = math.max(1, s.length / 3)
      if (which == 0) s.take(n) else s.takeRight(n)
    }
    def maxStateRows: Long = if (stateRows.isEmpty) -1L else stateRows.max
    def firstThirdStateRows: Long = median(third(stateRows, 0))
    def lastThirdStateRows: Long = median(third(stateRows, 2))
    def firstThirdBatchMs: Long = median(third(batchMs, 0))
    def lastThirdBatchMs: Long = median(third(batchMs, 2))
    def toJson: String =
      s"""{"metric":"soak","batches":$batches,"keys_touched":$totalKeysTouched,""" +
        s""""state_rows_max":$maxStateRows,"state_rows_first3rd":$firstThirdStateRows,""" +
        s""""state_rows_last3rd":$lastThirdStateRows,"batch_ms_first3rd":$firstThirdBatchMs,""" +
        s""""batch_ms_last3rd":$lastThirdBatchMs,"queries_served":$queriesServed,""" +
        s""""query_errors":$queryErrors,"query_per_sec":${math.round(queryPerSec)}}"""
  }

  /** Long-running stability soak — the reference's
    * `evaluation/NeverLastingBank.java` claim (run indefinitely without
    * state or latency drift) made measurable: drive the streaming
    * transactional pipeline for `batches` micro-batches under key churn
    * (sliding account window) with the state TTL ON, and report
    * per-batch state size + duration. Flat = healthy: state is bounded
    * by the active window plus the not-yet-evicted tail (TTL × churn
    * rate), NOT by the unbounded set of keys ever touched.
    */
  def soak(
      spark: SparkSession,
      batches: Int,
      rowsPerBatch: Int,
      keyWindow: Int,
      churnStep: Int,
      ttlMs: Long,
      queryLoad: Boolean = false): SoakReport = {
    import scala.concurrent.duration._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // processing-time timers + no-data batches busy-loop a loaded local
    // FS; timers still fire on every data batch, and the soak feeds
    // data continuously (see StateOperatorSpec's ttl specs)
    val prevNoData =
      spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.LocalDir.scratch), "soak-ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[ProbeTx]
    val q = balances(spark, input.toDF(), ttl = Some(ttlMs.millis))
      .writeStream
      .format("noop")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    val stateRows = scala.collection.mutable.ArrayBuffer[Long]()
    val durMs = scala.collection.mutable.ArrayBuffer[Long]()
    // optional live query load (the reference runs its query evaluation
    // AGAINST the never-ending bank): an external socket client fires
    // 10-key POINT requests at the active window for the whole soak;
    // every response must be well-formed and committed epochs must
    // never regress (torn/regressing reads count as errors)
    @volatile var activeBase = 0L
    val served = new java.util.concurrent.atomic.AtomicLong()
    val qErrors = new java.util.concurrent.atomic.AtomicLong()
    val stopQueries = new java.util.concurrent.atomic.AtomicBoolean(false)
    var server: graft.tgraph.query.QueryServer = null
    var queryThread: Thread = null
    if (queryLoad) {
      server = new graft.tgraph.query.QueryServer(spark, ckpt, refreshMillis = 100)
      val port = server.boundPort
      queryThread = new Thread(() => {
        val c = new graft.tgraph.query.QueryClient("localhost", port)
        val batchRe = """"batch":(-?\d+)""".r
        val rnd = new java.util.Random(7)
        var lastBatch = -1L
        try {
          while (!stopQueries.get()) {
            val b0 = activeBase
            val keys = Seq.fill(10)(b0 + rnd.nextInt(keyWindow).toLong)
            try {
              val resp = c.point(keys)
              batchRe.findFirstMatchIn(resp) match {
                case Some(m) =>
                  val bid = m.group(1).toLong
                  if (bid < lastBatch) qErrors.incrementAndGet()
                  lastBatch = math.max(lastBatch, bid)
                case None => qErrors.incrementAndGet()
              }
              served.incrementAndGet()
            } catch {
              case _: Throwable => if (!stopQueries.get()) qErrors.incrementAndGet()
            }
          }
        } finally c.close()
      }, "soak-query-load")
      queryThread.setDaemon(true)
      queryThread.start()
    }
    val t0 = System.nanoTime()
    try {
      var b = 0
      while (b < batches) {
        val base = b.toLong * churnStep
        activeBase = base
        input.addData((0 until rowsPerBatch).map(i =>
          churnTx(b.toLong * rowsPerBatch + i, base, keyWindow)))
        q.processAllAvailable()
        val p = q.lastProgress
        if (p != null && p.numInputRows > 0) {
          stateRows += p.stateOperators.head.numRowsTotal
          durMs += p.batchDuration
        }
        b += 1
      }
    } finally {
      stopQueries.set(true)
      if (queryThread != null) queryThread.join(5000)
      if (server != null) server.close()
      q.stop()
      prevNoData match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    SoakReport(batches, keyWindow.toLong + batches.toLong * churnStep,
      stateRows.toSeq, durMs.toSeq,
      served.get(), qErrors.get(),
      if (elapsedSec > 0) served.get() / elapsedSec else 0.0)
  }

  /** Balance fold over exact cents (non-negative invariant handled
    * upstream by the stateless vote — this fold applies committed
    * movements).
    */
  class CentsBalance extends StateFunction[StreamMovement, Long] {
    def defaultValue: Long = 0L
    def copyValue(v: Long): Long = v
    def invariant(v: Long): Boolean = true
    def apply(m: StreamMovement, h: ObjectHandler[Long]): Unit =
      h.write(h.read() + m.delta)
  }

  /** transfers(stream or batch DF with tid/ts/from_acct/to_acct/amount)
    * → per-movement stream of committed movements. Works identically on
    * a streaming or batch input DataFrame (unified Dataset API).
    */
  def committedMovements(
      spark: SparkSession, transfers: DataFrame,
      extraAbort: Column = lit(false)): Dataset[StreamMovement] = {
    import spark.implicits._
    val amountCents = Transfers.cents(col("amount"))
    val vote = when(
      (amountCents > Bank.MaxAmountCents) || (col("to_acct") === Bank.FrozenAccount)
        || extraAbort,
      lit(Vote.Abort)).otherwise(lit(Vote.Commit))
    transfers
      .withColumn("__vote", vote)
      .filter(col("__vote") === Vote.Commit)
      .select(col("tid"), col("from_acct"), col("to_acct"), amountCents.as("cents"))
      .select(explode(array(
        struct(col("from_acct").as("acct"), col("tid"), (-col("cents")).as("delta")),
        struct(col("to_acct").as("acct"), col("tid"), col("cents").as("delta"))))
        .as("m"))
      .select(col("m.acct"), col("m.tid"), col("m.delta"))
      .as[StreamMovement]
  }

  /** The NON-transactional baseline — the reference's
    * `evaluation/BankUseCaseNoT.java`: the identical topology (fork
    * into movements, keyed fold) with votes/2PC/state versioning
    * stripped out. The throughput delta against [[balances]] IS the
    * measured cost of transactions (perfbench's bank_batch phase times
    * both: `graph_tps` against `tgraph.no_tx`).
    */
  def balancesNoT(spark: SparkSession, transfers: DataFrame): DataFrame = {
    val cents = Transfers.cents(col("amount"))
    transfers
      .select(col("tid"), col("from_acct"), col("to_acct"), cents.as("cents"))
      .select(explode(array(
        struct(col("from_acct").as("acct"), (-col("cents")).as("delta")),
        struct(col("to_acct").as("acct"), col("cents").as("delta"))))
        .as("m"))
      .groupBy(col("m.acct").as("acct"))
      .agg(sum(col("m.delta")).as("balance_cents"), count(lit(1)).as("n_updates"))
  }

  /** The reference's TRUE state-dependent invariant ONLINE: balances
    * start at [[Bank.StartCents]] and an update driving one negative
    * aborts — the vote of transaction N reads the RUNNING state left by
    * 1..N-1 (previous micro-batches via the state store, earlier
    * transactions of this batch via the serial fold), which is exactly
    * what the stateless-vote pipelines above cannot express. This is
    * the online spelling of `evaluation/BankUseCase.java`'s Balances
    * invariant + the `tgraph/twopc/` replay loop
    * ([[StateOperator.runStreaming]] handles REPLAY votes in-batch).
    */
  def sequentialBalancesOnline(
      spark: SparkSession,
      deltas: Dataset[Bank.AcctDelta],
      isolation: IsolationLevel = IsolationLevel.PL3,
      maxReplays: Int = 2): Dataset[StateChange[Long, Long]] = {
    import spark.implicits._
    StateOperator.runStreaming[Bank.AcctDelta, Long, Long](
      deltas, _.acct, _.tid, new Bank.CentsBalances(Bank.StartCents),
      isolation = isolation, maxReplays = maxReplays)
  }

  /** Insufficient funds as a TRANSIENT condition: vote REPLAY instead
    * of ABORT, betting a covering deposit lands later in the batch; the
    * replay loop's fixed point aborts only what deterministically still
    * fails (reference: optimistic strategies' abort-and-replay,
    * `tgraph/db/OptimisticTransactionExecutor.java`).
    */
  final class ReplayCentsBalances(start: Long)
      extends VotingStateFunction[Bank.AcctDelta, Long] {
    def defaultValue: Long = start
    def copyValue(v: Long): Long = v
    def invariant(v: Long): Boolean = v >= 0
    def apply(d: Bank.AcctDelta, h: ObjectHandler[Long]): Unit =
      h.write(h.read() + d.delta)
    override def vote(d: Bank.AcctDelta, value: Long): Int =
      if (value >= 0) Vote.Commit else Vote.Replay
  }

  /** Drive tid-ordered `deltas` through the online sequential-invariant
    * pipeline in `nBatches` micro-batches and return the full
    * StateChange history as a batch DataFrame (memory sink). The
    * correctness claim this enables: online ≡ the batch serial fold
    * (`t_state_sequential`) on the same input — proved by the
    * `t_streaming_sequential` oracle entry and the streaming specs.
    */
  def runSequentialOnline(
      spark: SparkSession,
      deltas: Seq[Bank.AcctDelta],
      nBatches: Int,
      sinkName: String,
      isolation: IsolationLevel = IsolationLevel.PL3): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Bank.AcctDelta]
    val q = sequentialBalancesOnline(spark, input.toDS(), isolation)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      val chunk = math.max(1, math.ceil(deltas.size.toDouble / nBatches).toInt)
      deltas.grouped(chunk).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(sinkName)
  }

  /** The online sequential-invariant pipeline fed ENTIRELY off the
    * driver: `deltas` is range-partitioned by tid into `nBatches`
    * contiguous files (a distributed write — the corpus never passes
    * through the driver, unlike the collect+MemoryStream spelling),
    * each file becomes one micro-batch via the bounded-intake streaming
    * parquet source, and the full StateChange history lands in a
    * parquet file sink (exactly-once via the sink commit log). The
    * driver only moves FILE METADATA: it renames the staged part files
    * into the stream directory with ascending mtimes so the file
    * source's modification-time ordering replays the tid ranges in
    * order.
    *
    * Batch boundaries don't affect the committed history here — the
    * fold's votes are Commit/Abort only (no REPLAY), and contiguous tid
    * ranges preserve per-key tid order across batches — so the output
    * hash-matches the batch serial fold and its recursive-CTE oracle.
    */
  def runSequentialOnlineFromFiles(
      spark: SparkSession,
      deltas: Dataset[Bank.AcctDelta],
      nBatches: Int,
      scratch: String,
      isolation: IsolationLevel = IsolationLevel.PL3,
      statePartitions: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = new java.io.File(scratch)
    val stage = new java.io.File(base, "stage")
    val inDir = new java.io.File(base, "in")
    val outDir = new java.io.File(base, "out")
    val ckpt = new java.io.File(base, "ckpt")
    graft.sources.FileIO.stageRangeBatches(
      deltas.toDF(), col("tid"), nBatches, stage, inDir)
    // cloned session: state shard count sized for micro-batch state +
    // spillable (RocksDB) state store, conf scoped to this query
    val ss = StreamSessions.scoped(spark, statePartitions)
    import ss.implicits._
    val stream = graft.sources.FileIO.streamParquet(
      ss, inDir.toString, deltas.schema, maxFilesPerTrigger = 1)
      .as[Bank.AcctDelta]
    val q = graft.sources.FileIO.streamingParquetSink(
      sequentialBalancesOnline(ss, stream, isolation).toDF(),
      outDir.toString, ckpt.toString).start()
    q.awaitTermination()
    // staged inputs are dead weight now; the checkpoint stays — the
    // query endpoint (t_query_server) serves the final state from it
    graft.sources.FileIO.deleteScratch(stage, inDir)
    spark.read.parquet(outDir.toString)
  }

  /** The SALTED single-partition-update fold taken online (the gate
    * spelling of [[graft.tgraph.state.StateOperator.runStreamingSaltedDynamic]]
    * with a static hot set):
    * movements range-partition by tid into micro-batch files, hot
    * accounts fold `salts`-wide in (acct, salt) subgroup state, each
    * batch appends one snapshot row per touched subgroup to the sink,
    * and the drained snapshots merge to the batch fold's exact
    * (acct, balance_cents, n_updates) frame. Must reproduce
    * `t_spu_updates`' balances verbatim (commutative contract).
    */
  def saltedBalancesOnlineFromFiles(
      spark: SparkSession,
      moves: Dataset[StreamMovement],
      salts: Int,
      hotKeys: Set[Long],
      nBatches: Int,
      scratch: String,
      statePartitions: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = new java.io.File(scratch)
    val stage = new java.io.File(base, "stage")
    val inDir = new java.io.File(base, "in")
    val outDir = new java.io.File(base, "out")
    val ckpt = new java.io.File(base, "ckpt")
    graft.sources.FileIO.stageRangeBatches(
      moves.toDF(), col("tid"), nBatches, stage, inDir)
    val ss = StreamSessions.scoped(spark, statePartitions)
    import ss.implicits._
    val stream = graft.sources.FileIO.streamParquet(
      ss, inDir.toString, moves.schema, maxFilesPerTrigger = 1)
      .as[StreamMovement]
    val snaps = StateOperator.runStreamingSaltedDynamic[StreamMovement, Long, Long](
      stream, _.acct, _.tid, new CentsBalance, salts,
      new StateOperator.HotSet(hotKeys))
    val q = graft.sources.FileIO.streamingParquetSink(
      snaps.toDF(), outDir.toString, ckpt.toString).start()
    q.awaitTermination()
    graft.sources.FileIO.deleteScratch(stage, inDir, ckpt)
    // the sink parquet backs the returned LAZY frame, so the run dir
    // must outlive this call — swept by the shutdown hook instead of
    // leaking one scratch dir per gate run
    graft.sources.FileIO.deleteScratchOnExit(base)
    StateOperator.mergeSaltedSnapshots[Long, Long](
      spark.read.parquet(outDir.toString).as[(Long, Int, Long, Long, Long)],
      (a: Long, b: Long) => a + b)
      .toDF("acct", "balance_cents", "n_updates")
  }

  /** [[saltedBalancesOnlineFromFiles]] with DYNAMIC hot-set promotion
    * (StateOperator.runStreamingSaltedDynamic): no caller-supplied hot
    * set — each micro-batch's snapshot rows feed the crossing test,
    * and keys passing `hotThreshold` scatter `salts`-wide from the
    * NEXT batch on. Detection is exact and driver-cheap: a cold key's
    * whole history lives in subgroup (key, 0), so its snapshot row's
    * cumulative committed count IS the key's total; ≤ batchRows /
    * hotThreshold keys can cross per batch. The sink is a per-batch
    * parquet dir keyed by batch id (idempotent under foreachBatch
    * retries), merged on read with the same max_by(ver) drain as the
    * static path. Returns (frame, promoted hot set).
    */
  def saltedBalancesDynamicFromFiles(
      spark: SparkSession,
      moves: Dataset[StreamMovement],
      salts: Int,
      hotThreshold: Long,
      nBatches: Int,
      scratch: String,
      statePartitions: Int = 4): (DataFrame, Set[Long]) = {
    import org.apache.spark.sql.functions.col
    val base = new java.io.File(scratch)
    val stage = new java.io.File(base, "stage")
    val inDir = new java.io.File(base, "in")
    val outDir = new java.io.File(base, "out")
    val ckpt = new java.io.File(base, "ckpt")
    graft.sources.FileIO.stageRangeBatches(
      moves.toDF(), col("tid"), nBatches, stage, inDir)
    val ss = StreamSessions.scoped(spark, statePartitions)
    import ss.implicits._
    val stream = graft.sources.FileIO.streamParquet(
      ss, inDir.toString, moves.schema, maxFilesPerTrigger = 1)
      .as[StreamMovement]
    val hot = new StateOperator.HotSet[Long](Set.empty)
    val snaps = StateOperator.runStreamingSaltedDynamic[StreamMovement, Long, Long](
      stream, _.acct, _.tid, new CentsBalance, salts, hot)
    val q = snaps.toDF().writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // two actions read this batch (sink write + crossed-keys scan);
        // persist so the stateful micro-batch plan computes once
        // instead of re-running and re-committing its state version
        batch.persist()
        try {
          batch.write.mode("overwrite")
            .parquet(new java.io.File(outDir, f"batch-$id%05d").toString)
          val crossed = batch
            .filter(col("_2") === 0 && col("_5") > hotThreshold)
            .select(col("_1")).as[Long](ss.implicits.newLongEncoder)
            .collect().filterNot(hot.get.contains)
          if (crossed.nonEmpty) hot.promote(crossed)
        } finally batch.unpersist()
      }
      .start()
    q.awaitTermination()
    graft.sources.FileIO.deleteScratch(stage, inDir, ckpt)
    graft.sources.FileIO.deleteScratchOnExit(base)
    val frame = StateOperator.mergeSaltedSnapshots[Long, Long](
      spark.read.option("recursiveFileLookup", "true")
        .parquet(outDir.toString).as[(Long, Int, Long, Long, Long)],
      (a: Long, b: Long) => a + b)
      .toDF("acct", "balance_cents", "n_updates")
    (frame, hot.get)
  }

  /** Between-epoch compaction for a salted-snapshot sink: folds the
    * previous compacted frame (if any) plus a finished epoch's sink
    * output down to one row per (key, salt) —
    * [[graft.tgraph.state.StateOperator.lastSaltedSnapshots]] — and
    * atomically replaces `compactDir` with the result. A drain that
    * merges `union(compactDir, live sink)` then reads O(subgroups) +
    * O(batches since last compaction) rows instead of the full sink
    * history, and `max_by(ver)` keeps the union-with-newer-epochs
    * merge exact (compacted rows carry their original `ver`).
    */
  def compactSaltedSink(
      spark: SparkSession, epochOut: String, compactDir: String): Unit = {
    import spark.implicits._
    val cur = new java.io.File(compactDir)
    val crashed = new java.io.File(cur.getParentFile, cur.getName + ".old")
    // recover a sweep that crashed between its two renames: the old
    // frame was moved aside but the new one never landed — restore it
    // (sink truncation only ever runs after compaction completes, so
    // old + live sink is a complete history)
    if (!cur.exists() && crashed.exists())
      java.nio.file.Files.move(crashed.toPath, cur.toPath)
    val epoch = spark.read.parquet(epochOut)
      .as[(Long, Int, Long, Long, Long)]
    val all =
      if (cur.exists())
        epoch.union(spark.read.parquet(compactDir)
          .as[(Long, Int, Long, Long, Long)])
      else epoch
    val tmp = new java.io.File(cur.getParentFile, cur.getName + ".compact-tmp")
    val old = new java.io.File(cur.getParentFile, cur.getName + ".old")
    StateOperator.lastSaltedSnapshots(all)
      .write.mode("overwrite").parquet(tmp.toString)
    // two renames, delete last: a crash at any point leaves either the
    // old or the new compacted frame recoverable on disk (a
    // delete-then-move window would lose every epoch already
    // compacted and truncated out of the live sink)
    graft.sources.FileIO.deleteScratch(old) // clear a prior crashed sweep
    if (cur.exists()) java.nio.file.Files.move(cur.toPath, old.toPath)
    java.nio.file.Files.move(tmp.toPath, cur.toPath)
    graft.sources.FileIO.deleteScratch(old)
  }

  /** The streaming state fold: acct → running balance versions.
    * `ttl` (streaming only) bounds the state store under unbounded key
    * spaces: idle accounts are evicted behind the processing-time
    * timeout and restart from the default on reappearance — the
    * version-GC contract the soak probe exercises.
    */
  def balances(
      spark: SparkSession, transfers: DataFrame,
      extraAbort: Column = lit(false),
      ttl: Option[scala.concurrent.duration.FiniteDuration] = None)
      : Dataset[StateChange[Long, Long]] = {
    import spark.implicits._
    val moves = committedMovements(spark, transfers, extraAbort)
    if (transfers.isStreaming)
      StateOperator.runStreaming[StreamMovement, Long, Long](
        moves, _.acct, _.tid, new CentsBalance, ttl = ttl)
    else
      StateOperator.runBatch[StreamMovement, Long, Long](
        moves, _.acct, _.tid, new CentsBalance)
  }
}
