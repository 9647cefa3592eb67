package perfbench

import graft.streaming.{StreamSessions, StreamingBank}
import graft.streaming.StreamingBank.ProbeTx
import graft.tgraph.query.{QueryClient, QueryServer}
import graft.tgraph.state.StateChange
import org.apache.spark.sql.{Dataset, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** bank_live: open loop, reads beside writes. A generator thread adds
  * seeded transfers to a `MemoryStream` on a fixed schedule; the stream
  * is `StreamingBank.balances` on a `StreamSessions.scoped` session
  * (RocksDB state store, checkpointed) with a fixed processing-time
  * trigger; two `QueryClient` connections send `POINT` queries on a
  * fixed schedule to a `QueryServer` on that checkpoint. Every latency
  * runs from the moment its input was due.
  */
final class BankLive(ctx: Ctx) extends Phase {
  import BankLive._
  private val sz = ctx.sizes
  private val trace = ctx.trace

  /** Transfer `i` of the seeded sequence. One account takes `hotShare`
    * of the deposits; about 3 % of the amounts exceed the limit, so
    * those transfers abort and must never reach the state.
    */
  def transfer(i: Long): Gen = {
    val r = new java.util.SplittableRandom(ctx.seed * 1000003L + i)
    val from = r.nextLong(sz.liveAccounts.toLong)
    val to0 =
      if (r.nextDouble() < ctx.variant.hotShare) BankBatch.HotAccount
      else r.nextLong(sz.liveAccounts.toLong)
    val to = if (to0 == from) (to0 + 1) % sz.liveAccounts else to0
    Gen(i, from, to, 1L + r.nextLong(15450L))
  }

  /** Keys of point query `j` from client `c`. */
  def queryKeys(c: Int, j: Long): Seq[Long] = {
    val r = new java.util.SplittableRandom(ctx.seed * 7919L + c * 1000000007L + j)
    Seq.fill(KeysPerQuery)(
      if (r.nextDouble() < ctx.variant.hotShare) BankBatch.HotAccount
      else r.nextLong(sz.liveAccounts.toLong)).distinct.sorted
  }

  final class Answer(
      val keys: Seq[Long], val dueMs: Double, val recvMs: Double,
      val batch: Long, val rows: Map[Long, Long], val error: Option[String])

  final class SinkBatch(val id: Long, val atMs: Double, val rows: Array[(Long, Long, Int, Long)])

  /** One stream from a fresh checkpoint: `settleS` seconds of load that
    * are not sampled, then `sampleS` seconds that are. Returns what the
    * checks and metrics need; everything it started is stopped.
    */
  private def session(name: String, settleS: Double, sampleS: Double): Run = {
    val ckpt = ctx.freshDir(s"live/$name-ckpt")
    val ss = StreamSessions.scoped(ctx.spark, StatePartitions)
    implicit val sqlCtx: SQLContext = ss.sqlContext
    import ss.implicits._
    val input = MemoryStream[ProbeTx]
    val sink = new ConcurrentHashMap[Long, SinkBatch]()
    val q = StreamingBank.balances(ss, input.toDF()).writeStream
      .foreachBatch { (ds: Dataset[StateChange[Long, Long]], id: Long) =>
        val rows = ds.collect().map(c => (c.key, c.tid, c.version, c.value))
        sink.put(id, new SinkBatch(id, Clock.nowMs, rows))
        ()
      }
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    val sc = ctx.spark.sparkContext
    // the server's threads inherit this job group: it names the
    // refresher's jobs in the trace and lets them be drained at the end
    sc.setJobGroup(RefreshGroup, "query server refresher", interruptOnCancel = true)
    val server =
      try new QueryServer(ctx.spark, ckpt.toString)
      finally sc.clearJobGroup()
    val running = new AtomicBoolean(true)
    val t0 = Clock.nowMs + 20
    val sampleFrom = t0 + settleS * 1000
    val sampleTo = sampleFrom + sampleS * 1000
    val generated = new AtomicLong(0)
    val lateness = ArrayBuffer[Double]()
    var backlogMax = 0L
    val genThread = new Thread(() => {
      val perMs = sz.liveRatePerS / 1000.0
      var next = 0L
      while (running.get()) {
        val now = Clock.nowMs
        val upTo = math.min(((now - t0) * perMs).toLong, ((sampleTo - t0) * perMs).toLong)
        if (upTo >= next) {
          val chunk = (next to upTo).map(transfer)
          input.addData(chunk.map(g => ProbeTx(g.tid, g.from, g.to, g.cents / 100.0)))
          val due = t0 + next / perMs
          if (due >= sampleFrom) lateness.synchronized(lateness += now - due)
          next = upTo + 1
          generated.set(next)
          val committed = sink.values().asScala.map(_.rows.length / 2L).sum
          backlogMax = math.max(backlogMax, next - committed)
        }
        Thread.sleep(TickMs)
      }
    }, "perfbench-generator")
    val answers = new ConcurrentHashMap[(Int, Long), Answer]()
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        val client = new QueryClient("localhost", server.boundPort)
        try {
          val every = 1000.0 * Clients / sz.queryRatePerS
          var j = 0L
          while (running.get()) {
            val due = t0 + (j + c.toDouble / Clients) * every
            val wait = due - Clock.nowMs
            if (wait > 0) Thread.sleep(math.ceil(wait).toLong)
            if (running.get()) {
              val keys = queryKeys(c, j)
              val a =
                try {
                  val resp = client.request(s"POINT ${keys.mkString(",")}")
                  val at = Clock.nowMs
                  BatchRe.findFirstMatchIn(resp) match {
                    case Some(m) =>
                      val rows = RowRe.findAllMatchIn(resp)
                        .map(r => r.group(1).toLong -> r.group(2).toLong).toMap
                      new Answer(keys, due, at, m.group(1).toLong, rows, None)
                    case None => new Answer(keys, due, at, -2L, Map.empty, Some(resp))
                  }
                } catch {
                  case e: Exception =>
                    new Answer(keys, due, Clock.nowMs, -2L, Map.empty, Some(e.toString))
                }
              answers.put((c, j), a)
              j += 1
            }
          }
        } finally client.close()
      }, s"perfbench-client-$c")
    }
    try {
      genThread.start()
      clients.foreach(_.start())
      while (Clock.nowMs < sampleTo) Thread.sleep(20)
    } finally {
      running.set(false)
      genThread.join()
      clients.foreach(_.join())
    }
    try q.processAllAvailable()
    finally {
      q.stop()
      // close() stops the refresher thread without waiting for a
      // refresh job it may have in flight; wait for that job (cancel it
      // if it hangs), so nothing reads the checkpoint once it is deleted
      server.close()
      def refreshing = sc.statusTracker.getJobIdsForGroup(RefreshGroup).exists(id =>
        sc.statusTracker.getJobInfo(id).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
      // one refresh is several jobs back to back: wait for a quiet 500 ms
      val until = Clock.nowMs + 30000
      var quietSince = Clock.nowMs
      while (Clock.nowMs - quietSince < 500 && Clock.nowMs < until) {
        if (refreshing) quietSince = Clock.nowMs
        Thread.sleep(20)
      }
      if (refreshing) sc.cancelJobGroup(RefreshGroup)
    }
    val progress = trace.progressOf(q.id)
    System.err.println(s"[perfbench] bank_live/$name batches ms: " +
      progress.filter(_.numInputRows > 0).map(p => s"${p.numInputRows}:${p.durationMs.get("triggerExecution")}").mkString(" "))
    val run = Run(q.id, generated.get(), t0, sampleFrom, sampleTo,
      sink.values().asScala.toSeq.sortBy(_.id), answers.values().asScala.toSeq,
      lateness.toList, backlogMax, progress, server.degradedCacheMisses)
    Ctx.delete(ckpt)
    run
  }

  final case class Run(
      queryId: java.util.UUID, generated: Long, t0: Double, from: Double, to: Double,
      batches: Seq[SinkBatch], answers: Seq[Answer], lateness: Seq[Double],
      backlogMax: Long, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      degradedMisses: Long) {
    def dueOf(tid: Long): Double = t0 + tid * 1000.0 / sz.liveRatePerS
  }

  /** Untimed warm-up: a throwaway stream with queries JIT-compiles the
    * streaming, state-store and refresh paths. The micro-batch path kept
    * getting faster for tens of seconds of load; after a 2 s warm-up the
    * measured batches of one run averaged 500 ms and of the next 700 ms.
    */
  def setup(): Unit = { session("warmup", 0.0, WarmupS); () }

  /** A fresh stream whose first `SettleS` seconds of load fill the state
    * store and the server's cache; latencies are sampled from the rest.
    */
  def measure(seconds: Double): Unit = {
    ctx.assertQuiet("bank_live")
    val run = session("live", SettleS, math.max(1.0, seconds - SettleS))
    check(run)
    metrics(run)
  }

  private def committable(g: Gen): Boolean =
    g.cents <= Models.MaxCents && g.to != Models.FrozenAccount

  /** The checks: every committable transfer reaches the sink once with
    * both movements and no aborting one does; each batch leaves every
    * key it touched at the model's balance; every answer equals the
    * model's balance at the batch it names; the final state equals the
    * fold of all generated transfers.
    */
  private def check(run: Run): Unit = {
    val checks = ctx.checks
    val seen = mutable.HashMap[Long, Int]()
    run.batches.foreach(_.rows.foreach { case (_, tid, _, _) => seen(tid) = seen.getOrElse(tid, 0) + 1 })
    val plantMissing = checks.planted("bank_live.all_committed")
    var badTx = 0L
    (0L until run.generated).foreach { i =>
      val g = transfer(i)
      val want = if (committable(g) != (plantMissing && i == 0)) 2 else 0
      if (seen.getOrElse(i, 0) != want) badTx += 1
    }
    val stray = seen.keys.count(_ >= run.generated)
    checks.record("bank_live.all_committed", run.generated, badTx + stray,
      s"generated=${run.generated}")

    val byBatch = run.answers.groupBy(_.batch)
    val model = mutable.HashMap[Long, Long]()
    val batchIds = run.batches.map(_.id).toSet + -1L
    var badAnswers = run.answers.count(a => a.error.isEmpty && !batchIds.contains(a.batch)).toLong
    var badState = 0L
    var statePairs = 0L
    val plantAnswer = checks.planted("bank_live.answers")
    def checkAnswers(b: Long): Unit = byBatch.getOrElse(b, Nil).foreach { a =>
      val want = a.keys.flatMap(k => model.get(k).map(v =>
        k -> (if (plantAnswer) v + 1 else v))).toMap
      if (a.rows != want) badAnswers += 1
    }
    checkAnswers(-1L)
    run.batches.foreach { sb =>
      val tids = sb.rows.map(_._2).distinct
      tids.foreach { tid =>
        val g = transfer(tid)
        model(g.from) = model.getOrElse(g.from, 0L) - g.cents
        model(g.to) = model.getOrElse(g.to, 0L) + g.cents
      }
      val plantState = if (checks.planted("bank_live.batch_state")) 1L else 0L
      sb.rows.groupBy(_._1).foreach { case (k, rs) =>
        statePairs += 1
        if (rs.maxBy(_._3)._4 != model(k) + plantState) badState += 1
      }
      checkAnswers(sb.id)
    }
    val errors = run.answers.count(_.error.isDefined)
    checks.record("bank_live.answers", run.answers.size, badAnswers + errors,
      s"errors=$errors wrong=$badAnswers")
    checks.record("bank_live.batch_state", statePairs, badState)

    val fold = mutable.HashMap[Long, Long]()
    (0L until run.generated).map(transfer).filter(committable).foreach { g =>
      fold(g.from) = fold.getOrElse(g.from, 0L) - g.cents
      fold(g.to) = fold.getOrElse(g.to, 0L) + g.cents
    }
    if (checks.planted("bank_live.final_state")) fold(fold.keys.min) += 1
    val last = mutable.HashMap[Long, (Int, Long)]()
    run.batches.foreach(_.rows.foreach { case (k, _, v, value) =>
      if (last.get(k).forall(_._1 < v)) last(k) = (v, value)
    })
    val keys = fold.keySet ++ last.keySet
    val badFinal = keys.count(k => !fold.get(k).contains(last.get(k).fold(Long.MinValue)(_._2)))
    checks.record("bank_live.final_state", keys.size, badFinal)
    ctx.notes("bank_live.query_errors") = errors
    ctx.notes("bank_live.query_wrong") = badAnswers
  }

  private def metrics(run: Run): Unit = {
    val inWindow = (t: Double) => t >= run.from && t < run.to
    val commitLat = run.batches.flatMap { sb =>
      sb.rows.map(_._2).distinct.filter(t => inWindow(run.dueOf(t))).map(t => sb.atMs - run.dueOf(t))
    }
    val sampled = run.answers.filter(a => inWindow(a.dueMs))
    val queryLat = sampled.map(a => if (a.error.isDefined) Double.PositiveInfinity else a.recvMs - a.dueMs)
    val ordered = run.answers.filter(_.error.isEmpty).sortBy(_.recvMs)
    val fresh = run.batches.filter(b => inWindow(b.atMs)).flatMap { b =>
      ordered.find(a => a.recvMs >= b.atMs && a.batch >= b.id).map(_.recvMs - b.atMs)
    }
    require(commitLat.size >= sz.minLatencySamples && queryLat.size >= sz.minLatencySamples,
      s"bank_live: too few samples for a p99 (commits=${commitLat.size}, queries=${queryLat.size})")
    require(fresh.size >= sz.minFreshSamples,
      s"bank_live: only ${fresh.size} batches were answered")
    ctx.e2e("commit_p50_ms") = Stats.quantile(commitLat, 0.5)
    ctx.e2e("commit_p99_ms") = Stats.quantile(commitLat, 0.99)
    ctx.e2e("query_p50_ms") = Stats.quantile(queryLat, 0.5)
    ctx.e2e("fresh_p50_ms") = if (fresh.isEmpty) Double.NaN else Stats.median(fresh)
    ctx.notes("bank_live.samples") = Map(
      "commits" -> commitLat.size, "queries" -> queryLat.size, "fresh" -> fresh.size)

    if (trace.traced) {
      val ps = run.progress.filter { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        inWindow(t) && p.numInputRows > 0
      }
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble))
      def p50p99(name: String, xs: Seq[Double]): Unit = {
        ctx.layer(s"$name.p50") = if (xs.isEmpty) 0.0 else Stats.quantile(xs, 0.5)
        ctx.layer(s"$name.p99") = if (xs.isEmpty) 0.0 else Stats.quantile(xs, 0.99)
      }
      p50p99("streaming.trigger_ms", dur("triggerExecution"))
      p50p99("streaming.add_batch_ms", dur("addBatch"))
      p50p99("streaming.wal_commit_ms", dur("walCommit"))
      p50p99("streaming.commit_offsets_ms", dur("commitOffsets"))
      p50p99("streaming.planning_ms", dur("queryPlanning"))
      ctx.layer("streaming.rows_per_batch") =
        if (ps.isEmpty) 0.0 else Stats.median(ps.map(_.numInputRows.toDouble))
      ctx.layer("streaming.batches") = ps.size.toDouble
      val ops = ps.flatMap(_.stateOperators.headOption)
      p50p99("state.commit_ms", ops.map(_.commitTimeMs.toDouble))
      ctx.layer("state.rows_total") = ops.lastOption.fold(0.0)(_.numRowsTotal.toDouble)
      ctx.layer("state.memory_mb") = ops.lastOption.fold(0.0)(_.memoryUsedBytes / Trace.MB)
      p50p99("state.rocksdb_flush_ms", ops.map(o =>
        Option(o.customMetrics.get("rocksdbCommitFlushLatency")).fold(0.0)(_.toDouble)))

      val jobs = trace.allJobs.filter(j => inWindow(j.start.toDouble))
      val qid = run.queryId.toString
      val perBatch = jobs.filter(j => j.query == qid && j.batch >= 0).groupBy(_.batch).values.toSeq
        .map(js => trace.counters(js, js.map(_.start).min.toDouble, js.map(_.end).max.toDouble))
      def med(c: String) = if (perBatch.isEmpty) 0.0 else Stats.median(perBatch.map(_(c)))
      ctx.layer("streaming.batch.jobs") = med("jobs")
      ctx.layer("streaming.batch.tasks") = med("tasks")
      ctx.layer("streaming.batch.exec_cpu_ms") = med("exec_cpu_ms")
      ctx.layer("streaming.batch.shuffle_write_mb") = med("shuffle_write_mb")
      val refresh = jobs.filter(j => j.group == RefreshGroup)
      val rc = trace.counters(refresh, run.from, run.to)
      val nb = math.max(1, ps.size).toDouble
      ctx.layer("query.refresh.jobs") = rc("jobs") / nb
      ctx.layer("query.refresh.exec_cpu_ms") = rc("exec_cpu_ms") / nb
      val sinkTimes = run.batches.map(b => (b.atMs, b.id))
      val lags = sampled.filter(_.error.isEmpty).map { a =>
        val newest = sinkTimes.filter(_._1 <= a.dueMs).map(_._2).maxOption.getOrElse(-1L)
        math.max(0L, newest - a.batch).toDouble
      }
      ctx.layer("query.refresh_lag_batches") = if (lags.isEmpty) 0.0 else lags.sum / lags.size
      ctx.layer("query.p99_ms") = Stats.quantile(queryLat, 0.99)
      ctx.layer("query.requests") = sampled.size.toDouble
      ctx.layer("query.errors") = sampled.count(_.error.isDefined).toDouble
      ctx.layer("query.wrong") = ctx.notes("bank_live.query_wrong").toString.toDouble
      ctx.layer("query.degraded_misses") = run.degradedMisses.toDouble
      ctx.layer("harness.gen_late_p99_ms") =
        if (run.lateness.isEmpty) 0.0 else Stats.quantile(run.lateness, 0.99)
      ctx.layer("harness.backlog_rows_max") = run.backlogMax.toDouble
      ctx.layer("harness.load1") = ctx.loadavg1
      ctx.layer("traced.commit_p50_ms") = ctx.e2e("commit_p50_ms")
    }
  }
}

object BankLive {
  final case class Gen(tid: Long, from: Long, to: Long, cents: Long)

  val StatePartitions = 4
  val Clients = 2
  val KeysPerQuery = 4
  val TickMs = 10L
  /** A batch every second: each batch holds a second of transfers, and
    * the query server refreshes between batches. Without a trigger a
    * slow batch collected more rows, which made the next one slower too,
    * and the refresher ran inside the next batch; both spread the
    * commit latency across runs past its bound.
    */
  val TriggerMs = 1000L
  val WarmupS = 12.0
  val SettleS = 1.0
  val RefreshGroup = "query.refresh"
  private val BatchRe = """"batch":(-?\d+)""".r
  private val RowRe = """\[(-?\d+),(-?\d+)\]""".r
}
