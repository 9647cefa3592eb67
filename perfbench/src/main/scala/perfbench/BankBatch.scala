package perfbench

import graft.evaluation.Bank
import graft.streaming.StreamingBank
import graft.tgraph.IsolationLevel
import graft.tgraph.durability.{Snapshots, Wal}
import graft.tgraph.state.StateOperator
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** bank_batch: closed loop, one driver thread, cycles back to back.
  * Each iteration takes a fresh seeded transfer set (cached before
  * timing) through the PL3 graph cycle (graph -> balances ->
  * consistency -> WAL -> snapshot), then through the serial typed
  * executor with `Bank.CentsBalances` (t-spoon's sequential
  * invariant), then through the no-transaction baseline.
  */
final class BankBatch(ctx: Ctx) extends Phase {
  import BankBatch._
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val sz = ctx.sizes

  /** Transfer set `cycle`: (tid, ts, from_acct, to_acct, amount, cents).
    * One account takes `hotShare` of the deposits; about 3 % of the
    * amounts exceed the withdrawal limit, so their transfers abort.
    */
  def transfers(cycle: Int, n: Long): DataFrame = {
    def h(k: Int) = xxhash64(lit(ctx.seed), lit(cycle.toLong), col("id"), lit(k))
    def u(k: Int, m: Long) = pmod(h(k), lit(m))
    val hot = pmod(h(2), lit(1000000L)) < lit((ctx.variant.hotShare * 1e6).toLong)
    spark.range(n)
      .select(
        (lit(cycle.toLong * n) + col("id")).as("tid"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
        u(1, sz.batchAccounts).as("from_acct"),
        when(hot, lit(HotAccount)).otherwise(u(3, sz.batchAccounts)).as("to0"),
        (lit(1L) + u(4, 15450L)).as("cents"))
      .select(col("tid"), col("ts"), col("from_acct"),
        when(col("to0") === col("from_acct"), pmod(col("to0") + 1, lit(sz.batchAccounts)))
          .otherwise(col("to0")).as("to_acct"),
        (col("cents") / 100.0).as("amount"), col("cents"))
  }

  private def program(tr: DataFrame) =
    tr.select("tid", "ts", "from_acct", "to_acct", "amount")

  private def deltas(tr: DataFrame): Dataset[Bank.AcctDelta] =
    tr.select(explode(array(
        struct(col("from_acct").as("acct"), col("tid"), (-col("cents")).as("delta")),
        struct(col("to_acct").as("acct"), col("tid"), col("cents").as("delta")))).as("m"))
      .select("m.*").as[Bank.AcctDelta]

  final case class Cycle(
      graphMs: Double, serialMs: Seq[Double], noTxMs: Double, commits: Long,
      calls: Seq[(String, Map[String, Double])])

  /** One iteration over transfer set `cycle`; checks every output. */
  def iteration(cycle: Int, n: Long = sz.batchTransfers, serialRuns: Int = SerialRuns): Cycle = {
    val tr = transfers(cycle, n).persist(StorageLevel.MEMORY_ONLY)
    tr.count()
    // an empty log directory: Wal.write starts a new lsn sequence there
    val walDir = ctx.freshDir(s"bank/wal-$cycle")
    walDir.mkdirs()
    val snapDir = ctx.freshDir(s"bank/snap-$cycle")
    val trace = ctx.trace
    val tag = s"bank_batch/$cycle"
    val in = program(tr)
    val watermark = lit(java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + n / 2)))
    ctx.assertQuiet(tag)
    try {
      val ((g, balFp, cons), cycleSpan) = trace.span("tgraph.cycle", tag) {
        val ((g, balFp), _) = trace.span("tgraph.close_fold", tag) {
          val g = Bank.graphFromTransfers(in, IsolationLevel.PL3)
          (g, Ctx.fingerprint(longs(Bank.balances(g, IsolationLevel.PL3))))
        }
        val (cons, _) = trace.span("tgraph.consistency", tag) {
          Bank.consistencyCheck(g).head()
        }
        trace.span("durability.wal", tag) {
          Wal.write(g.result, Bank.NameSpace, walDir.toString)
        }
        trace.span("durability.snapshot", tag) {
          Snapshots.write(
            Snapshots.take(g.result, Bank.NameSpace, col("ts"), watermark),
            snapDir.toString)
        }
        (g, balFp, cons)
      }
      // runBatch is short and mostly fixed cost: it runs several times,
      // so serial_tps is a median over several runs of it
      val (serialFps, serialSpans) = (0 until serialRuns).map { _ =>
        trace.span("state.serial", tag) {
          Ctx.fingerprint(longs(Bank.sequentialSummary(
            StateOperator.runBatch[Bank.AcctDelta, Long, Long](
              deltas(tr), _.acct, _.tid, new Bank.CentsBalances(Bank.StartCents))
              .toDF())))
        }
      }.unzip
      val (noTxFp, noTxSpan) = trace.span("tgraph.no_tx", tag) {
        Ctx.fingerprint(longs(StreamingBank.balancesNoT(spark, in)))
      }

      if (ctx.checking) check(tr, n, g, cons, balFp, serialFps, noTxFp, walDir, snapDir, watermark)
      val nCommit = cons.getAs[Long]("n_commit")
      Bank.release(g)

      val calls =
        if (!trace.traced) Nil
        else (trace.childSpans(cycleSpan) ++ serialSpans :+ noTxSpan).map(s =>
          s.name -> trace.counters(trace.jobsOf(s), s.start, s.end))
      System.err.println(f"[perfbench] $tag graph ${cycleSpan.ms}%.0f ms serial " +
        serialSpans.map(_.ms.round).mkString(",") + f" ms no_tx ${noTxSpan.ms}%.0f ms")
      Cycle(cycleSpan.ms, serialSpans.map(_.ms), noTxSpan.ms, nCommit, calls)
    } finally {
      tr.unpersist()
      Ctx.delete(walDir)
      Ctx.delete(snapDir)
    }
  }

  /** Every output of one iteration against the models (untimed). */
  private def check(
      tr: DataFrame, n: Long, g: Bank.Graph, cons: org.apache.spark.sql.Row,
      balFp: (Long, Long, Long), serialFps: Seq[(Long, Long, Long)], noTxFp: (Long, Long, Long),
      walDir: java.io.File, snapDir: java.io.File, watermark: org.apache.spark.sql.Column): Unit = {
    val checks = ctx.checks
    val nTx = cons.getAs[Long]("n_tx")
    val nCommit = cons.getAs[Long]("n_commit")
    val nAbort = cons.getAs[Long]("n_abort")
    val wantNet = if (checks.planted("bank_batch.consistency_net")) 1L else 0L
    checks.expect("bank_batch.consistency_net", cons.getAs[Long]("net_cents") == wantNet,
      s"net=${cons.getAs[Long]("net_cents")}")
    // the model and output reads are independent: run their jobs side by
    // side on threads started here, which inherit no span or job group
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    def async[A](f: => A): java.util.concurrent.Future[A] =
      pool.submit(new java.util.concurrent.Callable[A] { def call(): A = f })
    val (model, recFp, wal, serialModel) =
      try {
        val m = async(Models.bank(tr, checks.planted))
        val r = async(Ctx.fingerprint(longs(Snapshots.recover(
          Snapshots.read(spark, snapDir.toString),
          Snapshots.tail(g.result, Bank.NameSpace, col("ts"), watermark)).select("key", "value"))))
        val w = async(Wal.read(spark, walDir.toString)
          .agg(count(lit(1)), coalesce(max(col("lsn")), lit(0L)), coalesce(sum(col("delta")), lit(0L)))
          .head())
        val f = async(Ctx.fingerprint(
          Models.serialFold(deltas(tr), Bank.StartCents, checks.planted("bank_batch.serial"))))
        (m.get(), r.get(), w.get(), f.get())
      } finally pool.shutdown()
    val modelCommits = model.commits
    val wantCommits = modelCommits + (if (checks.planted("bank_batch.commit_count")) 1 else 0)
    checks.expect("bank_batch.commit_count",
      nTx == n && nCommit + nAbort == n && nCommit == wantCommits,
      s"n_tx=$nTx commit=$nCommit abort=$nAbort model_commits=$modelCommits")
    checks.expect("bank_batch.balances", balFp == model.pl3,
      s"program=$balFp model=${model.pl3}")
    checks.expect("bank_batch.snapshot_recovery", recFp == model.pl3Balance,
      s"recovered=$recFp model=${model.pl3Balance}")
    val walWant = 2L * modelCommits + (if (checks.planted("bank_batch.wal")) 1 else 0)
    checks.expect("bank_batch.wal",
      wal.getLong(0) == walWant && wal.getLong(1) == walWant && wal.getLong(2) == 0L,
      s"entries=${wal.getLong(0)} max_lsn=${wal.getLong(1)} want=$walWant")
    checks.expect("bank_batch.serial", serialFps.forall(_ == serialModel),
      s"program=${serialFps.distinct.mkString(",")} model=$serialModel")
    checks.expect("bank_batch.no_tx", noTxFp == model.noTx,
      s"program=$noTxFp model=${model.noTx}")
  }

  /** Untimed warm-up: a tenth-size iteration compiles every plan, then a
    * half-size one lets the JIT reach the executor loops (with only one
    * warm-up iteration, of either size, the first measured cycle ran
    * 15-25 % slower than the second).
    */
  def setup(): Unit = {
    iteration(WarmupCycle, sz.batchTransfers / 10, serialRuns = 1)
    iteration(WarmupCycle + 1, sz.batchTransfers / 2, serialRuns = 1)
    ()
  }

  def measure(seconds: Double): Unit = {
    val start = Clock.nowMs
    val cycles = scala.collection.mutable.ArrayBuffer[Cycle]()
    // another cycle only if one more (at the mean so far) still fits
    while (cycles.size < MinCycles ||
        Clock.nowMs + (Clock.nowMs - start) / cycles.size <= start + seconds * 1000)
      cycles += iteration(cycles.size)
    val n = sz.batchTransfers.toDouble
    ctx.e2e("graph_tps") = n / (Stats.median(cycles.map(_.graphMs)) / 1000)
    ctx.e2e("serial_tps") = 2 * n / (Stats.median(cycles.flatMap(_.serialMs)) / 1000)
    ctx.notes("bank_batch.cycles") = cycles.size
    ctx.notes("bank_batch.graph_ms") = cycles.map(_.graphMs)
    ctx.notes("bank_batch.serial_ms") = cycles.map(_.serialMs)
    if (ctx.trace.traced) {
      Seq("tgraph.close_fold", "tgraph.consistency", "durability.wal",
        "durability.snapshot", "state.serial", "tgraph.no_tx").foreach { c =>
        ctx.layerCounters(c, cycles.flatMap(_.calls.collect { case (`c`, k) => k }))
      }
      ctx.layer("tgraph.commit_ratio") = cycles.map(_.commits).sum / (n * cycles.size)
      ctx.layer("traced.graph_tps") = ctx.e2e("graph_tps")
      ctx.layer("traced.serial_tps") = ctx.e2e("serial_tps")
    }
  }
}

object BankBatch {
  /** Not the frozen account (13): deposits there abort. */
  val HotAccount = 7L
  val MinCycles = 2
  val SerialRuns = 5
  val WarmupCycle = 1000

  private def longs(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("long")).toIndexedSeq: _*)
}
