package graft.tgraph

import graft.SparkSpec
import graft.tgraph.state.{ObjectHandler, StateChange, StateFunction, StateOperator}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

final case class Movement(acct: String, tid: Long, delta: Double)

/** The reference's `Balances` StateFunction (BankUseCase): start at 100,
  * reject updates that would drive the balance negative — a SEQUENTIAL
  * invariant (whether tx N commits depends on tx 1..N-1).
  */
class BalancesFn extends StateFunction[Movement, Double] {
  val start = 100.0
  def defaultValue: Double = start
  def copyValue(v: Double): Double = v
  def invariant(v: Double): Boolean = v >= 0
  def apply(m: Movement, h: ObjectHandler[Double]): Unit =
    h.write(h.read() + m.delta)
}

class StateOperatorSpec extends SparkSpec {
  import spark.implicits._

  private val moves = Seq(
    Movement("a", 1, -80.0), // 100 -> 20 commit
    Movement("a", 2, -50.0), // would be -30: ABORT (sequential!)
    Movement("a", 3, 30.0),  // 20 -> 50 commit
    Movement("b", 1, -200.0) // ABORT
  )

  test("batch executor replays per key in tid order with sequential invariants") {
    val out = StateOperator
      .runBatch[Movement, String, Double](
        moves.toDS(), _.acct, _.tid, new BalancesFn)
      .collect().sortBy(c => (c.key, c.tid))
    val a = out.filter(_.key == "a")
    assert(a.map(c => (c.tid, c.committed, c.value)).toSeq ==
      Seq((1L, true, 20.0), (2L, false, 20.0), (3L, true, 50.0)))
    assert(a.map(_.version).toSeq == Seq(1, 1, 2))
    val b = out.filter(_.key == "b")
    assert(b.map(c => (c.committed, c.value)).toSeq == Seq((false, 100.0)))
  }

  test("salted fold == plain fold final state on the planted hot-key bank workload") {
    import graft.streaming.StreamingBank.{CentsBalance, StreamMovement}
    // the frozen-account workload shape (5% of deposits into ONE
    // account), planted on a COMMITTING account — deposits into the
    // frozen account itself abort at the vote and never reach the
    // fold, so acct 13 exercises the abort path, not the skew path
    val hot = 17L
    val transfers = graft.sources.TransferSource
      .batchSkewed(spark, 20000, keySpace = 200, hotAcct = hot, hotPerMille = 50)
    val moves = graft.streaming.StreamingBank
      .committedMovements(spark, transfers)
    val hotShare = moves.filter(_.acct == hot).count().toDouble / moves.count()
    assert(hotShare > 0.02, s"planted skew missing: hot share $hotShare")

    val plain = StateOperator
      .runBatch[StreamMovement, Long, Long](
        moves, _.acct, _.tid, new CentsBalance)
      .groupByKey(_.key)
      .mapGroups((k, it) => {
        val v = it.toSeq.maxBy(_.version); (k, v.value, v.version.toLong)
      })
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    val salted = StateOperator
      .runBatchSaltedFinal[StreamMovement, Long, Long](
        moves, _.acct, _.tid, new CentsBalance, _ + _, salts = 8,
        hotThreshold = 100L) // hot acct (~1k movements) must really salt
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(salted == plain)
    // and the hot key really split: >1 salt subgroup contributed
    val hotMoves = moves.filter(_.acct == hot).count()
    assert(hotMoves > 8, "fixture too small to exercise the salt split")
  }

  test("streaming salted fold == batch fold; hot key folds salts-wide per batch") {
    import graft.streaming.StreamingBank.{CentsBalance, StreamMovement}
    val hot = 17L
    val transfers = graft.sources.TransferSource
      .batchSkewed(spark, 20000, keySpace = 200, hotAcct = hot, hotPerMille = 50)
    val moves = graft.streaming.StreamingBank
      .committedMovements(spark, transfers)
      .collect().toSeq.sortBy(_.tid)
    val expected = moves.groupBy(_.acct).map { case (k, ms) =>
      k -> (ms.map(_.delta).sum, ms.size.toLong)
    }

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamMovement]
    val snaps = StateOperator.runStreamingSaltedDynamic[StreamMovement, Long, Long](
      input.toDS(), _.acct, _.tid, new CentsBalance,
      salts = 8, hot = new StateOperator.HotSet(Set(hot)))
    val q = snaps.toDF().writeStream.format("memory")
      .queryName("salted_online").outputMode("append").start()
    try {
      moves.grouped(math.max(1, moves.size / 4)).foreach { c =>
        input.addData(c); q.processAllAvailable()
      }
      val drained = spark.table("salted_online")
        .as[(Long, Int, Long, Long, Long)]
      val merged = StateOperator
        .mergeSaltedSnapshots[Long, Long](drained, _ + _)
        .collect().map(t => t._1 -> (t._2, t._3)).toMap
      assert(merged == expected, "streamed salted fold diverged from batch sum")

      // the per-batch hot-key ceiling is really lifted: the hot key's
      // updates fold in all 8 independent subgroup states (8 parallel
      // group invocations per micro-batch instead of 1), while cold
      // keys keep exactly one subgroup — no tail blow-up
      val saltsSeen = drained.collect().groupBy(_._1)
        .view.mapValues(_.map(_._2).distinct.size).toMap
      assert(saltsSeen(hot) == 8, s"hot key used ${saltsSeen(hot)} salts")
      (saltsSeen - hot).foreach { case (k, n) =>
        assert(n == 1, s"cold key $k split into $n subgroups")
      }
    } finally q.stop()
  }

  test("salted drain merge is aggregate-shaped: history collapses map-side, mapGroups sees <= salts rows") {
    // simulate a LONG drain: 200 micro-batches × 8 salts for a hot key
    // plus 200 × 1 salt for a cold key — the frame a long-running
    // sink accumulates (one row per touched subgroup per batch)
    val batches = 200
    val salts = 8
    val rows =
      (for (ver <- 1 to batches; salt <- 0 until salts)
        yield (17L, salt, ver.toLong, ver.toLong * 10 + salt, ver.toLong)) ++
      (for (ver <- 1 to batches)
        yield (99L, 0, ver.toLong, ver.toLong, ver.toLong))
    val drained = rows.toDS().repartition(8)
    val merged = StateOperator.mergeSaltedSnapshots[Long, Long](drained, _ + _)

    val got = merged.collect().map(t => t._1 -> (t._2, t._3)).toMap
    val hotExpected = (0 until salts).map(s => batches.toLong * 10 + s).sum
    assert(got(17L) == ((hotExpected, batches.toLong * salts)))
    assert(got(99L) == ((batches.toLong, batches.toLong)))

    // plan shape: the unbounded (batches) dimension must collapse in a
    // partial+final declarative aggregate BEFORE the object-level
    // mapGroups — no task may hold a subgroup's snapshot history
    val full = merged.queryExecution.executedPlan.toString
    // AQE prints the tree twice (Final + Initial); judge the final plan
    val plan = full.split("== Initial Plan ==").head
    val mgIdx = plan.indexOf("MapGroups")
    assert(mgIdx >= 0 && plan.indexOf("MapGroups", mgIdx + 1) < 0,
      s"expected exactly one MapGroups (the <= salts combine):\n$plan")
    val below = plan.substring(mgIdx)
    val aggNodes = "(HashAggregate|SortAggregate|ObjectHashAggregate)".r
      .findAllIn(below).size
    assert(aggNodes >= 2,
      s"snapshot collapse must be a partial+final aggregate below MapGroups:\n$plan")
    assert(below.contains("max_by"), s"expected max_by(·, ver) collapse:\n$plan")
  }

  test("compactSaltedSink: multi-epoch sink truncates to O(subgroups); merge stays exact") {
    import graft.streaming.StreamingBank
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(graft.LocalDir.scratch), "compact")
      .toFile
    try {
      val salts = 4
      def epoch(vers: Range): org.apache.spark.sql.DataFrame =
        (for (ver <- vers; salt <- 0 until salts)
          // cumulative subgroup value: ver * (salt+1); committed = ver
          yield (7L, salt, ver.toLong, ver.toLong * (salt + 1), ver.toLong))
          .toDF()
      val out1 = new java.io.File(base, "epoch1")
      val out2 = new java.io.File(base, "epoch2")
      val compacted = new java.io.File(base, "compacted")
      epoch(1 to 50).write.parquet(out1.toString)
      StreamingBank.compactSaltedSink(spark, out1.toString, compacted.toString)
      // compaction really truncated: one row per subgroup, newest ver
      val c1 = spark.read.parquet(compacted.toString)
        .as[(Long, Int, Long, Long, Long)].collect()
      assert(c1.length == salts, s"expected $salts rows, got ${c1.length}")
      assert(c1.forall(_._3 == 50L))
      // epoch 2 continues the subgroup versions; union-merge stays exact
      epoch(51 to 80).write.parquet(out2.toString)
      val merged = StateOperator.mergeSaltedSnapshots[Long, Long](
        spark.read.parquet(compacted.toString).as[(Long, Int, Long, Long, Long)]
          .union(spark.read.parquet(out2.toString).as[(Long, Int, Long, Long, Long)]),
        _ + _).collect().head
      val expectedVal = (0 until salts).map(s => 80L * (s + 1)).sum
      assert(merged == ((7L, expectedVal, 80L * salts)))
      // second compaction folds compacted + epoch2 and stays bounded
      StreamingBank.compactSaltedSink(spark, out2.toString, compacted.toString)
      val c2 = spark.read.parquet(compacted.toString)
        .as[(Long, Int, Long, Long, Long)].collect()
      assert(c2.length == salts && c2.forall(_._3 == 80L))
    } finally graft.sources.FileIO.deleteScratch(base)
  }

  test("compactSaltedSink: a crash at any rename point loses no compacted epoch") {
    import graft.streaming.StreamingBank
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(graft.LocalDir.scratch), "compact-crash")
      .toFile
    try {
      // epoch 1 carries key 7 only; epoch 2 key 9 only — losing the
      // compacted frame would silently drop key 7 from the result
      def epoch(key: Long, vers: Range): org.apache.spark.sql.DataFrame =
        (for (ver <- vers; salt <- 0 until 2)
          yield (key, salt, ver.toLong, ver.toLong * (salt + 1), ver.toLong)).toDF()
      val out1 = new java.io.File(base, "epoch1")
      val out2 = new java.io.File(base, "epoch2")
      val compacted = new java.io.File(base, "compacted")
      val old = new java.io.File(base, "compacted.old")
      epoch(7L, 1 to 20).write.parquet(out1.toString)
      StreamingBank.compactSaltedSink(spark, out1.toString, compacted.toString)
      // crash point A: old frame moved aside, new frame never landed
      // (the window the old delete-then-move sequence could not survive)
      java.nio.file.Files.move(compacted.toPath, old.toPath)
      epoch(9L, 1 to 30).write.parquet(out2.toString)
      StreamingBank.compactSaltedSink(spark, out2.toString, compacted.toString)
      val got = spark.read.parquet(compacted.toString)
        .as[(Long, Int, Long, Long, Long)].collect()
      assert(got.map(_._1).toSet == Set(7L, 9L),
        s"crashed sweep lost a compacted key: ${got.toSeq}")
      assert(!old.exists(), "recovered sweep must clear the .old frame")
      // crash point B: both frames present (crash before the final
      // delete) — the next sweep keeps cur and clears the stale old
      val out3 = new java.io.File(base, "epoch3")
      epoch(11L, 1 to 5).write.parquet(out3.toString)
      java.nio.file.Files.createDirectory(old.toPath) // stale leftover
      StreamingBank.compactSaltedSink(spark, out3.toString, compacted.toString)
      val got3 = spark.read.parquet(compacted.toString)
        .as[(Long, Int, Long, Long, Long)].collect()
      assert(got3.map(_._1).toSet == Set(7L, 9L, 11L) && !old.exists())
    } finally graft.sources.FileIO.deleteScratch(base)
  }

  test("strategy runtime: optimistic replays grow with contention; pessimistic never replays; same committed history") {
    import graft.streaming.StreamingBank.StreamMovement
    // skewed workload: the hot account sees heavy contention, the tail
    // almost none
    val transfers = graft.sources.TransferSource
      .batchSkewed(spark, 20000, keySpace = 20000, hotAcct = 17L, hotPerMille = 100)
    val moves = graft.streaming.StreamingBank.committedMovements(spark, transfers)

    val stats = StateOperator
      .strategyRuntime[StreamMovement, Long](moves, _.acct, _.tid)
      .collect().map(r => r._1 -> r).toMap
    val (_, hotN, hotReplays, hotWaits) = stats(17L)
    // optimistic: the hot key replays nearly everything (expected
    // n - H(n) out-of-order arrivals); a cold key replays little
    assert(hotReplays.toDouble / hotN > 0.9, s"hot replays $hotReplays/$hotN")
    val cold = stats.values.filter(_._2 <= 5)
    assert(cold.nonEmpty)
    val coldRatio = cold.map(_._3).sum.toDouble / cold.map(_._2).sum
    assert(coldRatio < hotReplays.toDouble / hotN,
      s"replay rate must grow with contention: cold $coldRatio")
    // pessimistic: zero replays by construction, n-1 lock waits
    assert(hotWaits == hotN - 1)
    // the committed history is the same for both strategies by
    // construction: runBatch has one executor path (class docs)
  }

  test("PL1 dirty read / PL2 stale snapshot / PL3 serial: pairwise-distinct histories") {
    // One key, four movements from start=100, chosen so every pair of
    // levels decides at least one transaction differently:
    //   tid  delta  PL1 (dirty chain)    PL2 (snapshot=100)  PL3 (serial)
    //    1    -80   20 ok                 20 ok               20 ok
    //    2    -50   -30 ABORT             50 ok → bal -30     -30 ABORT
    //    3    +40   10 ok  → bal 60       ok → bal 10         ok → bal 60
    //    4    -15   -5 ABORT (dirty!)     85 ok → bal -5      45 ok
    val mv = Seq(
      Movement("a", 1, -80.0), Movement("a", 2, -50.0),
      Movement("a", 3, 40.0), Movement("a", 4, -15.0))
    def run(iso: IsolationLevel) = StateOperator
      .runBatch[Movement, String, Double](
        mv.toDS(), _.acct, _.tid, new BalancesFn, isolation = iso)
      .collect().sortBy(_.tid).map(c => (c.tid, c.committed, c.value)).toSeq
    val pl1 = run(IsolationLevel.PL1)
    val pl2 = run(IsolationLevel.PL2)
    val pl3 = run(IsolationLevel.PL3)
    // PL1: tid 4 aborts though the COMMITTED balance could afford it —
    // the vote read the dirty chain (-30 + 40 - 15 = -5): dirty read.
    assert(pl1 == Seq((1L, true, 20.0), (2L, false, 20.0),
      (3L, true, 60.0), (4L, false, 60.0)))
    // PL2: every vote reads the stale open snapshot (100) — lost
    // updates drive the running balance negative.
    assert(pl2 == Seq((1L, true, 20.0), (2L, true, -30.0),
      (3L, true, 10.0), (4L, true, -5.0)))
    // PL3: serializable — each vote reads the committed serial value.
    assert(pl3 == Seq((1L, true, 20.0), (2L, false, 20.0),
      (3L, true, 60.0), (4L, true, 45.0)))
    assert(pl1 != pl2 && pl2 != pl3 && pl1 != pl3)
    // PL0 skips validation entirely: even a lone -200 lands.
    val pl0 = StateOperator
      .runBatch[Movement, String, Double](
        moves.toDS(), _.acct, _.tid, new BalancesFn,
        isolation = IsolationLevel.PL0)
      .collect()
    assert(pl0.filter(_.key == "b").head.value == -100.0)
  }

  test("streaming executor matches batch across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Movement]
    val result = StateOperator.runStreaming[Movement, String, Double](
      input.toDS(), _.acct, _.tid, new BalancesFn)
    val q = result.writeStream
      .format("memory").queryName("state_changes")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(moves.take(2)) // batch 1: tids 1,2 on a
      q.processAllAvailable()
      input.addData(moves.drop(2)) // batch 2: a/3, b/1
      q.processAllAvailable()
      val streamed = spark.table("state_changes")
        .as[StateChange[String, Double]]
        .collect().sortBy(c => (c.key, c.tid))
      val batch = StateOperator
        .runBatch[Movement, String, Double](moves.toDS(), _.acct, _.tid, new BalancesFn)
        .collect().sortBy(c => (c.key, c.tid))
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("ttl evicts idle keys (bounded state under key churn); reappearing key restarts") {
    implicit val sqlCtx = spark.sqlContext
    import scala.concurrent.duration._
    // ProcessingTimeTimeout makes the engine schedule continuous no-data
    // micro-batches to fire timers — a busy loop against this sandbox's
    // slow fsyncs. Timers also fire during DATA batches, so the test
    // disables no-data batches and drives eviction with batch 2; the
    // checkpoint goes on tmpfs for the same reason.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.LocalDir.scratch), "ttl-ckpt").toString
    val input = MemoryStream[Movement]
    val q = StateOperator.runStreaming[Movement, String, Double](
      input.toDS(), _.acct, _.tid, new BalancesFn, ttl = Some(300.millis))
      .writeStream.format("memory").queryName("ttl_changes")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: 200 distinct keys -> 200 state-store rows
      input.addData((0 until 200).map(i => Movement(s"k$i", 1, -10.0)))
      q.processAllAvailable()
      val rows1 = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rows1 == 200L, s"expected 200 state rows after batch 1, got $rows1")
      Thread.sleep(1500) // let every key's processing-time ttl expire
      // batch 2: 10 fresh keys + one returning key. Data arrival beats
      // the timer (Spark timeout semantics), so k7 keeps its surviving
      // state; the 199 idle keys evict.
      input.addData(
        (0 until 10).map(i => Movement(s"n$i", 1, -5.0)) :+ Movement("k7", 2, -10.0))
      q.processAllAvailable()
      val rows2 = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rows2 == 11L,
        s"expected only batch-2 keys (11) after ttl eviction, got $rows2")
      val k7 = spark.table("ttl_changes")
        .as[StateChange[String, Double]].collect()
        .filter(c => c.key == "k7" && c.tid == 2L)
      assert(k7.map(c => (c.version, c.value)).toSeq == Seq((2, 80.0)))
      // k3 WAS evicted in batch 2 — its return restarts from
      // defaultValue (100 - 10 = 90) at version 1
      input.addData(Seq(Movement("k3", 2, -10.0)))
      q.processAllAvailable()
      val k3 = spark.table("ttl_changes")
        .as[StateChange[String, Double]].collect()
        .filter(c => c.key == "k3" && c.tid == 2L)
      assert(k3.map(c => (c.version, c.value)).toSeq == Seq((1, 90.0)))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
  }

  test("ttl off: state rows accumulate across batches (semantics unchanged)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Movement]
    val q = StateOperator.runStreaming[Movement, String, Double](
      input.toDS(), _.acct, _.tid, new BalancesFn)
      .writeStream.format("memory").queryName("nottl_changes")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((0 until 50).map(i => Movement(s"k$i", 1, -10.0)))
      q.processAllAvailable()
      Thread.sleep(400)
      input.addData(Seq(Movement("extra", 1, -5.0)))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 51L)
    } finally q.stop()
  }
}
