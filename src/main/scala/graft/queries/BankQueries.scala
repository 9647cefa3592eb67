package graft.queries

import graft.evaluation.Bank
import graft.tables.Tables
import graft.tgraph._
import graft.tgraph.durability.{Snapshots, Wal}
import graft.tgraph.query.StateQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness queries for the transactional core (SURVEY.md §2 rows
  * 1-22), each with a DuckDB oracle over the same parquet tables.
  *
  * Determinism rules (see SURVEY.md §5): money in exact int64 cents,
  * every DuckDB integer `sum` cast back to BIGINT (DuckDB widens to
  * HUGEINT), dates as DATE, explicit ORDER BY everywhere.
  */
object BankQueries {

  private val Watermark = "2024-01-08 00:00:00"

  /** Shared oracle prefix: events → transfers → movements → votes →
    * committed movements (mirrors Bank.graph exactly).
    */
  private val OraclePrefix: String =
    """WITH tx AS (
      |  SELECT event_id AS tid, ts, CAST(user_id AS BIGINT) AS from_acct,
      |         CAST(CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER) % 20 AS BIGINT) AS to_acct,
      |         value AS amount
      |  FROM events),
      |mv AS (
      |  SELECT tid, ts, from_acct AS acct, -CAST(round(amount*100) AS BIGINT) AS delta_cents, 'W' AS kind, 0 AS branch FROM tx
      |  UNION ALL
      |  SELECT tid, ts, to_acct AS acct, CAST(round(amount*100) AS BIGINT) AS delta_cents, 'D' AS kind, 1 AS branch FROM tx),
      |votes AS (
      |  SELECT tid, min(CASE WHEN (kind='W' AND delta_cents < -15000) OR (kind='D' AND acct=13) THEN 0 ELSE 2 END) AS v
      |  FROM mv GROUP BY tid),
      |cmv AS (
      |  SELECT mv.* FROM mv JOIN votes ON mv.tid = votes.tid WHERE votes.v = 2),
      |bal AS (
      |  SELECT acct, CAST(sum(delta_cents) AS BIGINT) AS balance_cents, count(*) AS n_updates
      |  FROM cmv GROUP BY acct)
      |""".stripMargin

  private def g(spark: SparkSession, dir: String) = Bank.graph(spark, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_map" -> ((s, dir) => {
      val graph = g(s, dir)
      graph.env
        .open(graph.transfers, col("tid"))
        .map(
          "amount_cents" -> graft.tgraph.backed.Transfers.cents(col("amount")),
          "fee_cents" -> graft.tgraph.backed.Transfers.cents(col("amount") * 0.01))
        .df
        .select("tid", "from_acct", "to_acct", "amount_cents", "fee_cents")
        .orderBy("tid")
    }),
    "t_flatmap" -> ((s, dir) => {
      g(s, dir).movements.df
        .select(
          col(TStream.TidCol).as("tid"), col(TStream.BranchCol).as("branch"),
          col("acct"), col("delta_cents"), col("kind"))
        .orderBy("tid", "branch")
    }),
    "t_filter" -> ((s, dir) => {
      g(s, dir).movements
        .filter(col("kind") === "D" && col("delta_cents") >= 5000)
        .df
        .select(col(TStream.TidCol).as("tid"), col("acct"), col("delta_cents"))
        .orderBy("tid")
    }),
    "t_window_user" -> ((s, dir) => {
      g(s, dir).movements
        .keyBy(col("acct"))
        .window(col("ts"), "day",
          count(lit(1)).as("n_moves"), sum(col("delta_cents")).as("net_cents"))
        .orderBy("acct", "day")
    }),
    // Spark's native tumbling window() (struct window path of
    // TStream.window) — epoch-aligned 1-day windows == calendar days in UTC
    "t_window_native" -> ((s, dir) => {
      val env = TransactionEnvironment()
      val opened = env.open(Tables.load(s, dir, "events"), col("event_id"))
      opened
        .keyBy(col("event_type"))
        .window(col("ts"), "1 day",
          count(lit(1)).as("n"),
          sum(graft.tgraph.backed.Transfers.cents(col("value"))).as("sum_cents"))
        .select(col("event_type"), to_date(col("window.start")).as("day"),
          col("n"), col("sum_cents"))
        .orderBy("event_type", "day")
    }),
    "t_window_global" -> ((s, dir) => {
      g(s, dir).movements
        .window(col("ts"), "day",
          countDistinct(col(TStream.TidCol)).as("n_tx"),
          sum(abs(col("delta_cents"))).as("gross_cents"))
        .orderBy("day")
    }),
    "t_2pc_votes" -> ((s, dir) =>
      g(s, dir).result.voteNames.select("tid", "vote").orderBy("tid")),
    // REPLAY vote path: transactions in the deterministic "conflict
    // zone" (tid % 10 == 0) vote REPLAY at the state operator. REPLAY
    // dominates the merge (reference Vote.merge matrix) so even an
    // ABORT+REPLAY mix goes through replay; resolution then re-fires
    // deterministic aborts and clears transient replays.
    "t_2pc_replay" -> ((s, dir) => {
      val env = TransactionEnvironment()
      val transfers = graft.tgraph.backed.Transfers.fromEvents(
        Tables.load(s, dir, "events"))
      val movements = env.open(transfers, col("tid"))
        .flatMap(graft.tgraph.backed.Transfers.movements)
      val st = movements.state(
        "balances", col("acct"), col("delta_cents"),
        abortIf = (col("kind") === "W" && col("delta_cents") < -15000) ||
          (col("kind") === "D" && col("acct") === 13),
        orderBy = Seq("ts"),
        replayIf = pmod(col(TStream.TidCol), lit(10)) === 0)
      env.close(st).voteNames.orderBy("tid")
    }),
    "t_state_balances_pl3" -> ((s, dir) =>
      Bank.balances(g(s, dir), IsolationLevel.PL3).orderBy("acct")),
    "t_isolation_pl0" -> ((s, dir) =>
      Bank.balances(g(s, dir), IsolationLevel.PL0).orderBy("acct")),
    "t_state_versions" -> ((s, dir) => {
      g(s, dir).result
        .versions(Bank.NameSpace)
        .select(
          col("key").as("acct"), col("version").cast("bigint").as("version"),
          col(TStream.TidCol).as("tid"), col(TStream.BranchCol).cast("bigint").as("branch"),
          col("delta").as("delta_cents"), col("value").as("value_cents"))
        .orderBy("acct", "version")
    }),
    "t_pl4_deps" -> ((s, dir) =>
      StateQueries.dependencies(g(s, dir).state.updates).orderBy("tid")),
    "t_consistency_check" -> ((s, dir) => Bank.consistencyCheck(g(s, dir))),
    "t_query_point" -> ((s, dir) => {
      val snap = g(s, dir).result.balances(Bank.NameSpace, IsolationLevel.PL3)
      StateQueries.pointQuery(snap, Seq(0L, 1L, 2L, 3L, 4L))
        .select(col("key").as("acct"), col("value").as("balance_cents"))
        .orderBy("acct")
    }),
    // query supplier (RandomQuerySupplier analog): the deterministic
    // md5-ordered sample fused with the point query it drives —
    // supplier choice AND answers both under the oracle
    "t_query_sample" -> ((s, dir) => {
      val snap = g(s, dir).result.balances(Bank.NameSpace, IsolationLevel.PL3)
      StateQueries.sampleFrame(snap, 100, 7)
        .select(col("key").as("acct"), col("value").as("balance_cents"))
        .orderBy("acct")
    }),
    "t_query_predicate" -> ((s, dir) => {
      val snap = g(s, dir).result.balances(Bank.NameSpace, IsolationLevel.PL3)
      StateQueries.predicateQuery(snap, col("value") < 0)
        .select(col("key").as("acct"), col("value").as("balance_cents"))
        .orderBy("acct")
    }),
    "t_watermark_snapshot" -> ((s, dir) => {
      StateQueries
        .watermarkSnapshot(
          g(s, dir).result, Bank.NameSpace,
          col("ts"), lit(Watermark).cast("timestamp"))
        .select(col("key").as("acct"), col("value").as("balance_cents"), col("n_updates"))
        .orderBy("acct")
    }),
    "t_wal" -> ((s, dir) => {
      Wal.entries(g(s, dir).result, Bank.NameSpace)
        .select(
          col("lsn").cast("bigint").as("lsn"), col("tid"),
          col("branch").cast("bigint").as("branch"),
          col("key").as("acct"), col("delta").as("delta_cents"))
        .orderBy("lsn")
    }),
    // time travel: fold only the first 10k WAL entries -> the exact
    // state as of lsn 10000 (DisplayWAL/recovery-to-a-point analog)
    "t_wal_time_travel" -> ((s, dir) => {
      Wal.entries(g(s, dir).result, Bank.NameSpace)
        .filter(col("lsn") <= 10000L)
        .groupBy(col("key").as("acct"))
        .agg(sum(col("delta")).as("balance_cents"),
          count(lit(1)).as("n_entries"))
        .select(col("acct"), col("balance_cents"), col("n_entries"))
        .orderBy("acct")
    }),
    // The reference's true sequential invariant on the typed executor;
    // oracle replays the same serial schedule via a recursive CTE.
    "t_state_sequential" -> ((s, dir) =>
      graft.evaluation.Bank.sequentialBalances(s, dir).orderBy("acct")),
    // The SAME sequential invariant run ONLINE: tid-ordered micro-batches
    // through flatMapGroupsWithState, votes validated against the RUNNING
    // state-store state (reference: online StateOperator + replay loop).
    // Checked against the identical recursive-CTE oracle as
    // t_state_sequential — online ≡ batch is the correctness claim.
    // Fed from the streaming FILE source end to end (range-partitioned
    // parquet batches in, parquet file sink out): no row of the corpus
    // passes through the driver, so the query scales with the cluster,
    // not driver memory.
    "t_streaming_sequential" -> ((s, dir) => {
      val scratch = graft.LocalDir.runDir("seq-online")
      graft.evaluation.Bank.sequentialSummary(
        graft.streaming.StreamingBank.runSequentialOnlineFromFiles(
          s, graft.evaluation.Bank.acctDeltas(s, dir), nBatches = 4, scratch))
        .orderBy("acct")
    }),
    // The out-of-process query endpoint under the oracle gate: the
    // online sequential pipeline runs off staged files, then a TCP
    // QueryServer pins the final committed batch of its state store and
    // answers a POINT query over the wire for a SAMPLED key set (the
    // portable md5 supplier, seed 11, n=100 — the RandomQuerySupplier
    // contract). The client's key list is supplier-sized, never
    // corpus-derived: nothing in the harness collects one row per
    // account, so the gate query itself stays scale-clean.
    "t_query_server" -> ((s, dir) => {
      val scratch = graft.LocalDir.runDir("qsrv")
      graft.streaming.StreamingBank.runSequentialOnlineFromFiles(
        s, graft.evaluation.Bank.acctDeltas(s, dir), nBatches = 4, scratch)
      val server = new graft.tgraph.query.QueryServer(
        s, s"$scratch/ckpt", refreshMillis = 25)
      try {
        val deadline = System.nanoTime() + 30L * 1_000_000_000L
        while (server.servedBatchId < 0 && System.nanoTime() < deadline)
          Thread.sleep(25)
        require(server.servedBatchId >= 0, "query server never pinned a batch")
        val accts = graft.tgraph.query.StateQueries.sampleFrame(
          Tables.load(s, dir, "events")
            .select(col("user_id").cast("bigint").as("key")).distinct(),
          n = 100, seed = 11)
          .collect().map(_.getLong(0)).sorted.toSeq
        val client = new graft.tgraph.query.QueryClient("localhost", server.boundPort)
        val rows = try client.pointRows(accts) finally client.close()
        s.createDataFrame(rows).toDF("acct", "balance_cents").orderBy("acct")
      } finally server.close()
    }),
    // The PL1 dirty-read boundary (reference PL1Strategy: read the
    // last executed write, committed or not): votes read the dirty
    // chain, so commit decisions differ from both PL2 (stale committed
    // snapshot) and PL3 (running committed serial value) on the same
    // workload. The isolation lattice is operational, not decorative.
    "t_isolation_pl1" -> ((s, dir) =>
      graft.evaluation.Bank
        .sequentialBalances(s, dir, IsolationLevel.PL1).orderBy("acct")),
    // The PL2 read-committed boundary (reference PL2Strategy:
    // readCommittedBefore(watermark)): invariant validated on the
    // stale open-snapshot read — lost updates admitted, histories
    // provably between PL1's and PL3's.
    "t_isolation_pl2" -> ((s, dir) =>
      graft.evaluation.Bank
        .sequentialBalances(s, dir, IsolationLevel.PL2).orderBy("acct")),
    // Single-partition updates (the reference's SinglePartitionUpdate /
    // DepositsAndWithdrawalsGenerator): one-key transactions that skip
    // the 2PC fork — state() with a never-aborting invariant.
    "t_spu_updates" -> ((s, dir) => {
      val env = TransactionEnvironment()
      val events = Tables.load(s, dir, "events")
      val delta = when(col("event_type").isin("purchase", "error"),
        -graft.tgraph.backed.Transfers.cents(col("value")))
        .otherwise(graft.tgraph.backed.Transfers.cents(col("value")))
      val st = env.open(events, col("event_id"))
        .map("delta_cents" -> delta)
        .keyBy(col("user_id"))
        .state("spu", col("user_id").cast("bigint"), col("delta_cents"), lit(false), Seq("ts"))
      env.close(st).balances("spu")
        .select(col("key").as("acct"), col("value").as("balance_cents"), col("n_updates"))
        .orderBy("acct")
    }),
    // The SALTED spelling of the single-partition-update fold: same
    // never-aborting cents accumulation, but each account's updates
    // fold in 8 parallel (key, salt) subgroups merged by one bounded
    // per-key combine — the hot-key scale path
    // (StateOperator.runBatchSaltedFinal). Must reproduce
    // t_spu_updates' final balances exactly (commutative contract),
    // and shares its oracle verbatim.
    "t_spu_salted" -> ((s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events")
      val delta = when(col("event_type").isin("purchase", "error"),
        -graft.tgraph.backed.Transfers.cents(col("value")))
        .otherwise(graft.tgraph.backed.Transfers.cents(col("value")))
      val moves = events.select(
        col("user_id").cast("bigint").as("acct"),
        col("event_id").as("tid"),
        delta.as("delta")).as[graft.streaming.StreamingBank.StreamMovement]
      // hotThreshold 32 << the ~67 updates/acct at gate scale, so the
      // oracle run really exercises salted subgroups + the merge
      graft.tgraph.state.StateOperator.runBatchSaltedFinal(
        moves, (m: graft.streaming.StreamingBank.StreamMovement) => m.acct,
        (m: graft.streaming.StreamingBank.StreamMovement) => m.tid,
        new graft.streaming.StreamingBank.CentsBalance,
        (a: Long, b: Long) => a + b, salts = 8, hotThreshold = 32L)
        .toDF("acct", "balance_cents", "n_updates")
        .orderBy("acct")
    }),
    // The salted SPU fold taken ONLINE
    // (StateOperator.runStreamingSaltedDynamic, static hot set): hot
    // accounts fold 8-wide in (acct, salt) subgroup state across 4
    // micro-batches, snapshots merge on read. Shares t_spu_updates'
    // oracle verbatim — the streamed == batch commutative-contract
    // claim, online.
    "t_spu_salted_stream" -> ((s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events")
      val delta = when(col("event_type").isin("purchase", "error"),
        -graft.tgraph.backed.Transfers.cents(col("value")))
        .otherwise(graft.tgraph.backed.Transfers.cents(col("value")))
      val moves = events.select(
        col("user_id").cast("bigint").as("acct"),
        col("event_id").as("tid"),
        delta.as("delta")).as[graft.streaming.StreamingBank.StreamMovement]
      // static hot set from the phase-1 counting aggregate (threshold
      // 32 << ~67 updates/acct at gate scale: every account salts, so
      // the oracle run really exercises subgroup state + the merge)
      val hot = moves.groupByKey(_.acct).count()
        .filter(_._2 > 32L).map(_._1).collect().toSet
      val scratch = graft.LocalDir.runDir("spu-salted-online")
      graft.streaming.StreamingBank.saltedBalancesOnlineFromFiles(
        s, moves, salts = 8, hot, nBatches = 4, scratch)
        .orderBy("acct")
    }),
    // The DYNAMIC salted fold (StateOperator.runStreamingSaltedDynamic):
    // NO caller-supplied hot set — every account starts cold (one
    // subgroup), crosses hotThreshold=32 mid-stream (~67 updates/acct
    // over 4 batches), and scatters 8-wide from the next batch on.
    // Promotion mid-run must not disturb the merge: shares
    // t_spu_updates' oracle verbatim.
    "t_spu_dynamic_stream" -> ((s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events")
      val delta = when(col("event_type").isin("purchase", "error"),
        -graft.tgraph.backed.Transfers.cents(col("value")))
        .otherwise(graft.tgraph.backed.Transfers.cents(col("value")))
      val moves = events.select(
        col("user_id").cast("bigint").as("acct"),
        col("event_id").as("tid"),
        delta.as("delta")).as[graft.streaming.StreamingBank.StreamMovement]
      val scratch = graft.LocalDir.runDir("spu-dynamic-online")
      graft.streaming.StreamingBank.saltedBalancesDynamicFromFiles(
        s, moves, salts = 8, hotThreshold = 32L, nBatches = 4, scratch)
        ._1.orderBy("acct")
    }),
    // The optimistic-vs-pessimistic RUNTIME axis (reference
    // OptimisticTransactionExecutor's REPLAY-on-out-of-order-write vs
    // PessimisticTransactionExecutor's key lock queue): per-account
    // replay and wait counts under a deterministic md5 arrival order —
    // the strategies' contention curves themselves, oracle-checked.
    "t_strategy_runtime" -> ((s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events")
        .select(col("user_id").cast("bigint").as("acct"), col("event_id").as("tid"))
        .as[(Long, Long)]
      graft.tgraph.state.StateOperator
        .strategyRuntime[(Long, Long), Long](events, _._1, _._2)
        .toDF("acct", "n_tx", "opt_replays", "pess_waits")
        .orderBy("acct")
    }),
    // The reference's BankUseCaseNoT: the same open → fork → keyed fold
    // topology with NO votes, NO 2PC join, NO state versioning — the
    // baseline the transaction overhead is measured against (its bench
    // time vs the transactional queries').
    "t_no_tx_baseline" -> ((s, dir) => {
      val env = TransactionEnvironment()
      val transfers = graft.tgraph.backed.Transfers.fromEvents(
        Tables.load(s, dir, "events"))
      env.open(transfers, col("tid"))
        .flatMap(graft.tgraph.backed.Transfers.movements)
        .df
        .groupBy(col("acct"))
        .agg(sum(col("delta_cents")).as("balance_cents"), count(lit(1)).as("n_updates"))
        .orderBy("acct")
    }),
    "t_snapshot_recovery" -> ((s, dir) => {
      val graph = g(s, dir)
      val wm = lit(Watermark).cast("timestamp")
      val snap = Snapshots.take(graph.result, Bank.NameSpace, col("ts"), wm)
      val tail = Snapshots.tail(graph.result, Bank.NameSpace, col("ts"), wm)
      Snapshots.recover(snap, tail)
        .select(col("key").as("acct"), col("value").as("recovered_cents"))
        .orderBy("acct")
    })
  )

  val oracles: Map[String, String] = Map(
    "t_map" -> (OraclePrefix +
      """SELECT tid, from_acct, to_acct,
        |  CAST(round(amount*100) AS BIGINT) AS amount_cents,
        |  CAST(round(amount*0.01*100) AS BIGINT) AS fee_cents
        |FROM tx ORDER BY tid""".stripMargin),
    "t_flatmap" -> (OraclePrefix +
      "SELECT tid, branch, acct, delta_cents, kind FROM mv ORDER BY tid, branch"),
    "t_filter" -> (OraclePrefix +
      "SELECT tid, acct, delta_cents FROM mv WHERE kind='D' AND delta_cents >= 5000 ORDER BY tid"),
    "t_window_user" -> (OraclePrefix +
      """SELECT acct, CAST(ts AS DATE) AS day, count(*) AS n_moves,
        |  CAST(sum(delta_cents) AS BIGINT) AS net_cents
        |FROM mv GROUP BY acct, CAST(ts AS DATE) ORDER BY acct, day""".stripMargin),
    "t_window_native" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type, CAST(ts AS DATE)
        |ORDER BY event_type, day""".stripMargin,
    "t_window_global" -> (OraclePrefix +
      """SELECT CAST(ts AS DATE) AS day, count(DISTINCT tid) AS n_tx,
        |  CAST(sum(abs(delta_cents)) AS BIGINT) AS gross_cents
        |FROM mv GROUP BY CAST(ts AS DATE) ORDER BY day""".stripMargin),
    "t_2pc_votes" -> (OraclePrefix +
      "SELECT tid, CASE WHEN v = 2 THEN 'COMMIT' ELSE 'ABORT' END AS vote FROM votes ORDER BY tid"),
    // replayed = any branch voted REPLAY (tid in the conflict zone AND
    // not itself aborting) — reference semantics: REPLAY dominates the
    // merge even alongside an ABORT branch, so the tx goes through
    // replay before its (deterministic) abort re-fires.
    "t_2pc_replay" -> (OraclePrefix +
      """SELECT tid, CASE WHEN v = 2 THEN 'COMMIT' ELSE 'ABORT' END AS vote, r AS replayed FROM (
        |  SELECT tid,
        |    min(CASE WHEN (kind='W' AND delta_cents < -15000) OR (kind='D' AND acct=13) THEN 0 ELSE 2 END) AS v,
        |    bool_or(NOT ((kind='W' AND delta_cents < -15000) OR (kind='D' AND acct=13)) AND tid % 10 = 0) AS r
        |  FROM mv GROUP BY tid)
        |ORDER BY tid""".stripMargin),
    "t_state_balances_pl3" -> (OraclePrefix +
      "SELECT acct, balance_cents, n_updates FROM bal ORDER BY acct"),
    "t_isolation_pl0" -> (OraclePrefix +
      """SELECT acct, CAST(sum(delta_cents) AS BIGINT) AS balance_cents, count(*) AS n_updates
        |FROM mv GROUP BY acct ORDER BY acct""".stripMargin),
    "t_state_versions" -> (OraclePrefix +
      """SELECT acct,
        |  CAST(row_number() OVER (PARTITION BY acct ORDER BY ts, tid, branch) AS BIGINT) AS version,
        |  tid, CAST(branch AS BIGINT) AS branch, delta_cents,
        |  CAST(sum(delta_cents) OVER (PARTITION BY acct ORDER BY ts, tid, branch
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS value_cents
        |FROM cmv ORDER BY acct, version""".stripMargin),
    "t_pl4_deps" -> (OraclePrefix +
      """SELECT tid, CAST(sum(dep) AS BIGINT) AS dep_count FROM (
        |  SELECT tid, count(*) OVER (PARTITION BY acct ORDER BY tid
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS dep
        |  FROM mv) GROUP BY tid ORDER BY tid""".stripMargin),
    "t_consistency_check" -> (OraclePrefix +
      """SELECT count(*) AS n_tx,
        |  CAST(sum(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_commit,
        |  CAST(sum(CASE WHEN v <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_abort,
        |  (SELECT CAST(coalesce(sum(delta_cents), 0) AS BIGINT) FROM cmv) AS net_cents
        |FROM votes""".stripMargin),
    "t_query_point" -> (OraclePrefix +
      "SELECT acct, balance_cents FROM bal WHERE acct IN (0,1,2,3,4) ORDER BY acct"),
    "t_query_sample" -> (OraclePrefix +
      """SELECT acct, balance_cents FROM (
        |  SELECT acct, balance_cents FROM bal
        |  ORDER BY md5('7:' || CAST(acct AS VARCHAR)), acct LIMIT 100)
        |ORDER BY acct""".stripMargin),
    "t_query_predicate" -> (OraclePrefix +
      "SELECT acct, balance_cents FROM bal WHERE balance_cents < 0 ORDER BY acct"),
    "t_watermark_snapshot" -> (OraclePrefix +
      s"""SELECT acct, CAST(sum(delta_cents) AS BIGINT) AS balance_cents, count(*) AS n_updates
         |FROM cmv WHERE ts <= TIMESTAMP '$Watermark' GROUP BY acct ORDER BY acct""".stripMargin),
    "t_wal" -> (OraclePrefix +
      """SELECT CAST(row_number() OVER (ORDER BY tid, branch) AS BIGINT) AS lsn,
        |  tid, CAST(branch AS BIGINT) AS branch, acct, delta_cents
        |FROM cmv ORDER BY lsn""".stripMargin),
    "t_wal_time_travel" -> (OraclePrefix +
      """, wal AS (
        |  SELECT CAST(row_number() OVER (ORDER BY tid, branch) AS BIGINT) AS lsn,
        |    acct, delta_cents
        |  FROM cmv)
        |SELECT acct, CAST(sum(delta_cents) AS BIGINT) AS balance_cents,
        |  CAST(count(*) AS BIGINT) AS n_entries
        |FROM wal WHERE lsn <= 10000
        |GROUP BY acct ORDER BY acct""".stripMargin),
    "t_state_sequential" -> SequentialOracle,
    // online ≡ batch: the streaming spelling answers to the same
    // serial-schedule oracle
    "t_streaming_sequential" -> SequentialOracle,
    // the TCP endpoint serves the serial fold's FINAL balances for the
    // md5-sampled supplier key set (seed 11, n=100)
    "t_query_server" -> (SequentialOracleRec +
      """, allbal AS (
        |  SELECT acct, CAST(max_by(bal, rn) AS BIGINT) AS balance_cents
        |  FROM rec GROUP BY acct)
        |SELECT acct, balance_cents FROM (
        |  SELECT acct, balance_cents FROM allbal
        |  ORDER BY md5('11:' || CAST(acct AS VARCHAR)), acct LIMIT 100)
        |ORDER BY acct""".stripMargin),
    // PL1: dirty read — commit decided on the all-writes-applied
    // chain, i.e. the cumulative sum of EVERY delta up to and
    // including this one; the committed balance then only accumulates
    // the committed deltas. Windows, no recursion.
    "t_isolation_pl1" ->
      """WITH m AS (
        |  SELECT CAST(user_id AS BIGINT) AS acct, event_id AS tid,
        |    CASE WHEN event_type IN ('purchase','error')
        |         THEN -CAST(round(value*100) AS BIGINT)
        |         ELSE CAST(round(value*100) AS BIGINT) END AS delta
        |  FROM events),
        |d AS (
        |  SELECT acct, tid, delta,
        |    10000 + sum(delta) OVER (PARTITION BY acct ORDER BY tid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dirty
        |  FROM m)
        |SELECT acct,
        |  CAST(10000 + coalesce(sum(CASE WHEN dirty >= 0 THEN delta END), 0) AS BIGINT) AS balance_cents,
        |  CAST(sum(CASE WHEN dirty >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_committed,
        |  count(*) AS n_events
        |FROM d GROUP BY acct ORDER BY acct""".stripMargin,
    // PL2: commit decided on the stale snapshot read (start balance),
    // the write applied to the running committed value on commit — no
    // recursion needed, unlike PL3's serial recursive CTE above.
    "t_isolation_pl2" ->
      """WITH m AS (
        |  SELECT CAST(user_id AS BIGINT) AS acct, event_id AS tid,
        |    CASE WHEN event_type IN ('purchase','error')
        |         THEN -CAST(round(value*100) AS BIGINT)
        |         ELSE CAST(round(value*100) AS BIGINT) END AS delta
        |  FROM events)
        |SELECT acct,
        |  CAST(10000 + sum(CASE WHEN 10000 + delta >= 0 THEN delta ELSE 0 END) AS BIGINT) AS balance_cents,
        |  CAST(sum(CASE WHEN 10000 + delta >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_committed,
        |  count(*) AS n_events
        |FROM m GROUP BY acct ORDER BY acct""".stripMargin,
    "t_spu_updates" ->
      """SELECT CAST(user_id AS BIGINT) AS acct,
        |  CAST(sum(CASE WHEN event_type IN ('purchase','error')
        |       THEN -CAST(round(value*100) AS BIGINT)
        |       ELSE CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS balance_cents,
        |  count(*) AS n_updates
        |FROM events GROUP BY user_id ORDER BY acct""".stripMargin,
    // optimistic replays = out-of-tid-order arrivals (running-max
    // window over the md5 arrival order); pessimistic waits = queue
    // depth behind the key lock
    "t_strategy_runtime" ->
      """WITH m AS (
        |  SELECT CAST(user_id AS BIGINT) AS acct, event_id AS tid,
        |    md5('7:' || CAST(event_id AS VARCHAR)) AS arr
        |  FROM events),
        |w AS (
        |  SELECT acct, tid,
        |    max(tid) OVER (PARTITION BY acct ORDER BY arr, tid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        |  FROM m)
        |SELECT acct, count(*) AS n_tx,
        |  CAST(sum(CASE WHEN prevmax IS NOT NULL AND tid < prevmax
        |    THEN 1 ELSE 0 END) AS BIGINT) AS opt_replays,
        |  CAST(count(*) - 1 AS BIGINT) AS pess_waits
        |FROM w GROUP BY acct ORDER BY acct""".stripMargin,
    // salted two-phase fold == the same commutative sum, verbatim
    "t_spu_salted" ->
      """SELECT CAST(user_id AS BIGINT) AS acct,
        |  CAST(sum(CASE WHEN event_type IN ('purchase','error')
        |       THEN -CAST(round(value*100) AS BIGINT)
        |       ELSE CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS balance_cents,
        |  count(*) AS n_updates
        |FROM events GROUP BY user_id ORDER BY acct""".stripMargin,
    // dynamic promotion mid-stream drains to the same commutative sum
    "t_spu_dynamic_stream" ->
      """SELECT CAST(user_id AS BIGINT) AS acct,
        |  CAST(sum(CASE WHEN event_type IN ('purchase','error')
        |       THEN -CAST(round(value*100) AS BIGINT)
        |       ELSE CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS balance_cents,
        |  count(*) AS n_updates
        |FROM events GROUP BY user_id ORDER BY acct""".stripMargin,
    // online salted fold drains to the same commutative sum
    "t_spu_salted_stream" ->
      """SELECT CAST(user_id AS BIGINT) AS acct,
        |  CAST(sum(CASE WHEN event_type IN ('purchase','error')
        |       THEN -CAST(round(value*100) AS BIGINT)
        |       ELSE CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS balance_cents,
        |  count(*) AS n_updates
        |FROM events GROUP BY user_id ORDER BY acct""".stripMargin,
    "t_no_tx_baseline" -> (OraclePrefix +
      """SELECT acct, CAST(sum(delta_cents) AS BIGINT) AS balance_cents, count(*) AS n_updates
        |FROM mv GROUP BY acct ORDER BY acct""".stripMargin),
    "t_snapshot_recovery" -> (OraclePrefix +
      "SELECT acct, CAST(sum(delta_cents) AS BIGINT) AS recovered_cents FROM cmv GROUP BY acct ORDER BY acct")
  )

  /** The serial-schedule oracle shared by the batch
    * (`t_state_sequential`) and online (`t_streaming_sequential`)
    * spellings of the sequential invariant: a recursive CTE replaying
    * each account's updates in tid order from the 10000-cent start,
    * rejecting any update that would drive the balance negative.
    * (lazy: referenced from `oracles`, which is declared above.)
    */
  /** The serial-schedule recursive CTE shared by every consumer of the
    * sequential fold (batch, online, query endpoint).
    */
  private lazy val SequentialOracleRec: String =
    """WITH RECURSIVE m AS (
      |  SELECT CAST(user_id AS BIGINT) AS acct, event_id AS tid,
      |    CASE WHEN event_type IN ('purchase','error')
      |         THEN -CAST(round(value*100) AS BIGINT)
      |         ELSE CAST(round(value*100) AS BIGINT) END AS delta,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events),
      |rec AS (
      |  SELECT acct, rn, tid,
      |    CASE WHEN 10000 + delta >= 0 THEN 10000 + delta ELSE 10000 END AS bal,
      |    CASE WHEN 10000 + delta >= 0 THEN 1 ELSE 0 END AS c
      |  FROM m WHERE rn = 1
      |  UNION ALL
      |  SELECT m.acct, m.rn, m.tid,
      |    CASE WHEN rec.bal + m.delta >= 0 THEN rec.bal + m.delta ELSE rec.bal END,
      |    CASE WHEN rec.bal + m.delta >= 0 THEN 1 ELSE 0 END
      |  FROM rec JOIN m ON m.acct = rec.acct AND m.rn = rec.rn + 1)
      |""".stripMargin

  private lazy val SequentialOracle: String =
    SequentialOracleRec +
      """SELECT acct,
        |  CAST(max_by(bal, rn) AS BIGINT) AS balance_cents,
        |  CAST(sum(c) AS BIGINT) AS n_committed,
        |  count(*) AS n_events
        |FROM rec GROUP BY acct ORDER BY acct""".stripMargin
}
