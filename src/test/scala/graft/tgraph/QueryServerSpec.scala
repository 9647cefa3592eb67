package graft.tgraph

import graft.SparkSpec
import graft.evaluation.Bank
import graft.streaming.{StreamSessions, StreamingBank}
import graft.streaming.StreamingBank.ProbeTx
import graft.tgraph.query.{QueryClient, QueryServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import scala.concurrent.duration._

/** The reference's out-of-process queryable state
  * (`runtime/QueryServer.java` + `query/QuerySupplier.java` clients):
  * a socket server fronting the state store of a RUNNING streaming
  * query, answers pinned to one committed micro-batch.
  */
class QueryServerSpec extends SparkSpec {
  import spark.implicits._

  private val RowsRe = """\[(-?\d+),(-?\d+)\]""".r
  private val BatchRe = """"batch":(-?\d+)""".r

  private def parseRows(resp: String): (Long, Map[Long, Long]) = {
    val batch = BatchRe.findFirstMatchIn(resp).map(_.group(1).toLong)
      .getOrElse(fail(s"no batch id in $resp"))
    val rows = RowsRe.findAllMatchIn(resp)
      .map(m => m.group(1).toLong -> m.group(2).toLong).toMap
    (batch, rows)
  }

  private def eventually[T](maxMs: Long = 20000)(f: => Option[T]): T = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    var out: Option[T] = f
    while (out.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50); out = f
    }
    out.getOrElse(fail(s"condition not met within $maxMs ms"))
  }

  test("socket clients get batch-consistent point/predicate answers from a running query") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-qsrv").toString
    val deltas = Bank.acctDeltas(spark, Sf0001).orderBy("tid").collect().toSeq
    val (firstHalf, secondHalf) = deltas.splitAt(deltas.length / 2)

    val input = MemoryStream[Bank.AcctDelta]
    val q = StreamingBank.sequentialBalancesOnline(spark, input.toDS())
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(firstHalf)
      q.processAllAvailable()

      val server = new QueryServer(spark, s"$dir/ckpt", refreshMillis = 50)
      try {
        eventually() { if (server.servedBatchId >= 0) Some(()) else None }
        val b1 = server.servedBatchId

        // Expected mid-stream state: per key, the latest transition's
        // value in the sink (aborted rows carry the value forward).
        def sinkState(): Map[Long, Long] = spark.read.parquet(s"$dir/out")
          .groupBy(col("key"))
          .agg(max_by(col("value"), col("tid")).as("v"))
          .as[(Long, Long)].collect().toMap
        val expected1 = sinkState()

        val client = new QueryClient("localhost", server.boundPort)
        try {
          val (batch, rows) = parseRows(client.point(expected1.keys.toSeq))
          assert(batch == b1)
          assert(rows == expected1)

          // the query KEEPS RUNNING while the server serves: feed the
          // second half and the served snapshot advances to the new
          // committed batch — never a torn mix of the two epochs
          input.addData(secondHalf)
          q.processAllAvailable()
          val b2 = eventually() {
            val b = server.servedBatchId
            if (b > b1) Some(b) else None
          }
          val expected2 = sinkState()
          val (batchAfter, rowsAfter) = parseRows(client.point(expected2.keys.toSeq))
          assert(batchAfter == b2)
          assert(rowsAfter == expected2)

          // and the final served state is exactly the batch serial fold
          val batchFold = Bank.sequentialBalances(spark, Sf0001)
            .select("acct", "balance_cents").as[(Long, Long)].collect().toMap
          assert(rowsAfter == batchFold)

          // predicate query (PredicateQuery analog): balances >= 10000
          val (pb, pRows) = parseRows(client.request("PRED GE 10000"))
          assert(pb == b2)
          assert(pRows == expected2.filter(_._2 >= 10000L))

          // COUNT + unknown-request error path
          assert(client.request("COUNT").contains(s""""count":${expected2.size}"""))
          assert(client.request("NOPE").contains("error"))
        } finally client.close()
      } finally server.close()
    } finally q.stop()
  }

  test("state past maxStateRows degrades to distributed answers, never dies") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-qsrv-big").toString
    val deltas = Bank.acctDeltas(spark, Sf0001).orderBy("tid").collect().toSeq
    val (firstHalf, secondHalf) = deltas.splitAt(deltas.length / 2)

    val input = MemoryStream[Bank.AcctDelta]
    val q = StreamingBank.sequentialBalancesOnline(spark, input.toDS())
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(firstHalf)
      q.processAllAvailable()

      // cap far below the ~150-key state: the refresher must flip to
      // degraded (distributed per-request) mode instead of failing
      val server = new QueryServer(spark, s"$dir/ckpt",
        refreshMillis = 50, maxStateRows = 3L)
      try {
        eventually() { if (server.servedBatchId >= 0) Some(()) else None }
        val b1 = server.servedBatchId

        def sinkState(): Map[Long, Long] = spark.read.parquet(s"$dir/out")
          .groupBy(col("key"))
          .agg(max_by(col("value"), col("tid")).as("v"))
          .as[(Long, Long)].collect().toMap
        val expected1 = sinkState()
        assert(expected1.size > 3, "fixture must exceed the cap")

        val client = new QueryClient("localhost", server.boundPort)
        try {
          val probeKeys = expected1.keys.toSeq.sorted.take(10)
          val (batch, rows) = parseRows(client.point(probeKeys))
          assert(batch == b1)
          assert(rows == probeKeys.map(k => k -> expected1(k)).toMap)

          // hot-key LRU: repeating the same point query answers from
          // the bounded per-batch cache — zero new distributed work
          val hitsBefore = server.degradedCacheHits
          val missesBefore = server.degradedCacheMisses
          val (_, again) = parseRows(client.point(probeKeys))
          assert(again == rows)
          assert(server.degradedCacheHits >= hitsBefore + probeKeys.size)
          assert(server.degradedCacheMisses == missesBefore)

          // negative caching: an absent hot key is remembered as
          // absent — it must not re-trigger a Spark job per request
          val absent = expected1.keys.max + 1000L
          val (_, r1) = parseRows(client.point(Seq(absent)))
          assert(r1.isEmpty)
          val missesAfterAbsent = server.degradedCacheMisses
          val (_, r2) = parseRows(client.point(Seq(absent)))
          assert(r2.isEmpty)
          assert(server.degradedCacheMisses == missesAfterAbsent)

          // COUNT runs distributed too: full key count, not a cache size
          assert(client.request("COUNT").contains(s""""count":${expected1.size}"""))

          // predicate answers stay exact in degraded mode
          val (pb, pRows) = parseRows(client.request("PRED GE 10000"))
          assert(pb == b1)
          assert(pRows == expected1.filter(_._2 >= 10000L))

          // the stream keeps running and the degraded server tracks it:
          // answers advance to the new committed epoch, never a torn mix
          input.addData(secondHalf)
          q.processAllAvailable()
          val b2 = eventually() {
            val b = server.servedBatchId
            if (b > b1) Some(b) else None
          }
          val expected2 = sinkState()
          val keys2 = expected2.keys.toSeq.sorted.take(10)
          // same keys as the cached probe above, NEW epoch: the LRU is
          // swapped on batch advance, so the answers must be the fresh
          // committed values, never the previous batch's cache
          val (batchAfter, rowsAfter) = parseRows(client.point(keys2))
          assert(batchAfter == b2)
          assert(rowsAfter == keys2.map(k => k -> expected2(k)).toMap)
        } finally client.close()
      } finally server.close()
    } finally q.stop()
  }

  test("oversized-state PRED responses are bounded, marked truncated, and page exactly") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-qsrv-page").toString
    val deltas = Bank.acctDeltas(spark, Sf0001).orderBy("tid").collect().toSeq

    val input = MemoryStream[Bank.AcctDelta]
    val q = StreamingBank.sequentialBalancesOnline(spark, input.toDS())
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(deltas)
      q.processAllAvailable()

      // degraded mode (state >> maxStateRows) AND a tiny response cap:
      // the worst case the verdict flagged — a match-everything PRED
      // against a state too big to cache — must come back bounded
      val server = new QueryServer(spark, s"$dir/ckpt",
        refreshMillis = 50, maxStateRows = 3L, maxResponseRows = 8)
      try {
        eventually() { if (server.servedBatchId >= 0) Some(()) else None }
        val expected = Bank.sequentialBalances(spark, Sf0001)
          .select("acct", "balance_cents").as[(Long, Long)].collect().toMap
        assert(expected.size > 8, "fixture must exceed the response cap")

        val client = new QueryClient("localhost", server.boundPort)
        try {
          // match-everything PRED: response holds at most cap rows and
          // says so
          val first = client.request("PRED GE " + Long.MinValue)
          val (_, firstRows) = parseRows(first)
          assert(firstRows.size == 8, s"got ${firstRows.size} rows")
          assert(first.contains(""""truncated":true"""), first)

          // cursor paging: AFTER <last key> walks the full match set
          // exactly once, in ascending key order, and the final page is
          // unmarked
          var all = Map.empty[Long, Long]
          var cursor = Long.MinValue
          var done = false
          var pages = 0
          while (!done) {
            val resp = client.request(s"PRED GE ${Long.MinValue} AFTER $cursor")
            val (_, rows) = parseRows(resp)
            assert(rows.keySet.forall(_ > cursor))
            assert(all.keySet.intersect(rows.keySet).isEmpty, "page overlap")
            all ++= rows
            pages += 1
            if (resp.contains(""""truncated":true""")) cursor = rows.keys.max
            else done = true
            assert(pages <= expected.size + 1, "paging did not terminate")
          }
          assert(all == expected, "paged union != full match set")
          assert(pages == math.ceil(expected.size / 8.0).toInt)

          // client LIMIT below the server cap is honored and marked
          val lim = client.request("PRED GE " + Long.MinValue + " LIMIT 3")
          val (_, limRows) = parseRows(lim)
          assert(limRows.size == 3 && lim.contains(""""truncated":true"""))

          // a selective PRED under the cap is complete and unmarked
          val some = expected.filter(_._2 >= 10000L)
          if (some.size <= 8) {
            val resp = client.request("PRED GE 10000")
            val (_, rows) = parseRows(resp)
            assert(rows == some && !resp.contains("truncated"))
          }
        } finally client.close()
      } finally server.close()

      // cached mode pages identically (same protocol, driver-memory path)
      val cachedServer = new QueryServer(spark, s"$dir/ckpt",
        refreshMillis = 50, maxResponseRows = 8)
      try {
        eventually() { if (cachedServer.servedBatchId >= 0) Some(()) else None }
        val expected = Bank.sequentialBalances(spark, Sf0001)
          .select("acct", "balance_cents").as[(Long, Long)].collect().toMap
        val client = new QueryClient("localhost", cachedServer.boundPort)
        try {
          var all = Map.empty[Long, Long]
          var cursor = Long.MinValue
          var done = false
          while (!done) {
            val resp = client.request(s"PRED GE ${Long.MinValue} AFTER $cursor")
            val (_, rows) = parseRows(resp)
            all ++= rows
            if (resp.contains(""""truncated":true""")) cursor = rows.keys.max
            else done = true
          }
          assert(all == expected)
        } finally client.close()
      } finally cachedServer.close()
    } finally q.stop()
  }

  test("salted pipeline served live: POINT merges the (key, salt) subgroups; epochs never regress") {
    import graft.streaming.StreamingBank.{CentsBalance, StreamMovement}
    import graft.tgraph.state.StateOperator
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-qsrv-salt").toString
    val hot = 17L
    val transfers = graft.sources.TransferSource
      .batchSkewed(spark, 20000, keySpace = 200, hotAcct = hot, hotPerMille = 50)
    val moves = StreamingBank.committedMovements(spark, transfers)
      .collect().toSeq.sortBy(_.tid)
    val (firstHalf, secondHalf) = moves.splitAt(moves.length / 2)
    def expectedOf(ms: Seq[StreamMovement]): Map[Long, Long] =
      ms.groupBy(_.acct).view.mapValues(_.map(_.delta).sum).toMap

    val input = MemoryStream[StreamMovement]
    val q = StateOperator.runStreamingSaltedDynamic[StreamMovement, Long, Long](
      input.toDS(), _.acct, _.tid, new CentsBalance,
      salts = 8, hot = new StateOperator.HotSet(Set(hot)))
      .toDF().writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(firstHalf)
      q.processAllAvailable()

      // the endpoint fronts the (key, salt) subgroup store directly:
      // logical key = key.value._1, answers merge the ≤ salts partials
      // with the fold's combine monoid (sum) at answer time
      val server = new QueryServer(spark, s"$dir/ckpt",
        // tuple grouping keys surface as key.(_1, _2) in the
        // statestore source (the `value` wrapper is primitive-key only)
        keyCol = col("key._1").cast("long"),
        mergeAgg = Some(sum(col("v"))),
        refreshMillis = 50)
      try {
        eventually() { if (server.servedBatchId >= 0) Some(()) else None }
        val b1 = server.servedBatchId
        val exp1 = expectedOf(firstHalf)
        val client = new QueryClient("localhost", server.boundPort)
        try {
          val probe = Seq(hot) ++ exp1.keys.filter(_ != hot).take(4)
          val (batch1, rows1) = parseRows(client.point(probe))
          assert(batch1 == b1)
          assert(rows1 == probe.map(k => k -> exp1(k)).toMap,
            "POINT must return the merged committed balance, not a partial")

          // COUNT counts LOGICAL keys, not subgroup rows
          assert(client.request("COUNT")
            .contains(s""""count":${exp1.size}"""))

          // stream advances; served epoch only moves forward and the
          // merged balances track the new committed state
          input.addData(secondHalf)
          q.processAllAvailable()
          val b2 = eventually() {
            val b = server.servedBatchId
            if (b > b1) Some(b) else None
          }
          val exp2 = expectedOf(moves)
          val (batch2, rows2) = parseRows(client.point(probe))
          assert(batch2 == b2 && batch2 > b1, "epoch regressed")
          assert(rows2 == probe.map(k => k -> exp2(k)).toMap)

          // PRED merges before comparing too (a hot key whose partials
          // individually miss the threshold but whose sum passes must
          // appear exactly once)
          val (pb, pRows) = parseRows(client.request(s"PRED GE ${exp2(hot)}"))
          assert(pb == b2)
          assert(pRows == exp2.filter(_._2 >= exp2(hot)))
        } finally client.close()
      } finally server.close()
    } finally q.stop()
  }

  test("AT <batch> pins a cursor walk to its starting epoch across concurrent refreshes") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-qsrv-epoch").toString
    val deltas = Bank.acctDeltas(spark, Sf0001).orderBy("tid").collect().toSeq
    val (firstHalf, secondHalf) = deltas.splitAt(deltas.length / 2)

    val input = MemoryStream[Bank.AcctDelta]
    val q = StreamingBank.sequentialBalancesOnline(spark, input.toDS())
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(firstHalf)
      q.processAllAvailable()
      val server = new QueryServer(spark, s"$dir/ckpt",
        refreshMillis = 50, maxResponseRows = 8)
      try {
        eventually() { if (server.servedBatchId >= 0) Some(()) else None }
        val b0 = server.servedBatchId
        def sinkState(): Map[Long, Long] = spark.read.parquet(s"$dir/out")
          .groupBy(col("key"))
          .agg(max_by(col("value"), col("tid")).as("v"))
          .as[(Long, Long)].collect().toMap
        val epoch0 = sinkState()
        assert(epoch0.size > 8, "fixture must exceed the page size")

        val client = new QueryClient("localhost", server.boundPort)
        try {
          // page 1 (no AT) establishes the walk's epoch
          val first = client.request(s"PRED GE ${Long.MinValue}")
          val (fb, fRows) = parseRows(first)
          assert(fb == b0 && first.contains(""""truncated":true"""))

          // the stream advances MID-WALK; the server refreshes past b0
          input.addData(secondHalf)
          q.processAllAvailable()
          eventually() {
            val b = server.servedBatchId
            if (b > b0) Some(b) else None
          }
          // an unpinned next page would now answer at the NEW batch —
          // the response's "batch" is the defined mixed-epoch signal
          val unpinned = client.request(s"PRED GE ${Long.MinValue}")
          assert(parseRows(unpinned)._1 > b0,
            "client can detect the epoch advance from the batch field")

          // the pinned walk continues at b0 and reconstructs EXACTLY
          // the epoch-0 match set, served from the state store's
          // retained version history
          var all = fRows
          var cursor = fRows.keys.max
          var done = false
          while (!done) {
            val resp = client.request(
              s"PRED GE ${Long.MinValue} AFTER $cursor AT $b0")
            val (b, rows) = parseRows(resp)
            assert(b == b0, s"pinned page answered at $b, not $b0")
            assert(rows.keySet.forall(_ > cursor))
            all ++= rows
            if (resp.contains(""""truncated":true""")) cursor = rows.keys.max
            else done = true
          }
          assert(all == epoch0,
            "pinned walk diverged from the starting epoch's snapshot")

          // a pin past the committed horizon is a marked error, not a
          // silent wrong answer
          assert(client.request(
            s"PRED GE 0 AT ${server.servedBatchId + 1000}").contains("error"))
        } finally client.close()
      } finally server.close()
    } finally q.stop()
  }

  test("POINT pages in protocol: LIMIT/AFTER cursor walks in both modes; " +
    "AT pins a key-set walk across a concurrent refresh") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-qsrv-ppage").toString
    val deltas = Bank.acctDeltas(spark, Sf0001).orderBy("tid").collect().toSeq
    val (firstHalf, secondHalf) = deltas.splitAt(deltas.length / 2)

    val input = MemoryStream[Bank.AcctDelta]
    val q = StreamingBank.sequentialBalancesOnline(spark, input.toDS())
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(firstHalf)
      q.processAllAvailable()

      def pageWalk(client: QueryClient, keys: Seq[Long], limit: Int,
          at: Option[Long]): (Map[Long, Long], Int) = {
        var all = Map.empty[Long, Long]
        var cursor = Option.empty[Long]
        var done = false
        var pages = 0
        while (!done) {
          val resp = client.request(s"POINT ${keys.mkString(",")} LIMIT $limit" +
            cursor.map(k => s" AFTER $k").getOrElse("") +
            at.map(b => s" AT $b").getOrElse(""))
          val (_, rows) = parseRows(resp)
          assert(rows.size <= limit)
          cursor.foreach(c => assert(rows.keySet.forall(_ > c), "cursor overlap"))
          all ++= rows
          pages += 1
          if (resp.contains(""""truncated":true""")) cursor = Some(rows.keys.max)
          else done = true
          assert(pages <= keys.size + 1, "paging did not terminate")
        }
        (all, pages)
      }

      // ---- degraded mode (tiny maxStateRows): pages bounded + exact
      val server = new QueryServer(spark, s"$dir/ckpt",
        refreshMillis = 50, maxStateRows = 3L, maxResponseRows = 8)
      try {
        eventually() { if (server.servedBatchId >= 0) Some(()) else None }
        val b0 = server.servedBatchId
        def sinkState(): Map[Long, Long] = spark.read.parquet(s"$dir/out")
          .groupBy(col("key"))
          .agg(max_by(col("value"), col("tid")).as("v"))
          .as[(Long, Long)].collect().toMap
        val epoch0 = sinkState()
        val wanted = epoch0.keys.toSeq.sorted.take(13)
        assert(wanted.size > 5, "fixture must exceed the page size")

        val client = new QueryClient("localhost", server.boundPort)
        try {
          // an un-LIMITed oversized POINT keeps the smallest keys and
          // marks truncation (backward-compatible default)
          val bigReq = client.point(epoch0.keys.toSeq.sorted)
          val (_, bigRows) = parseRows(bigReq)
          if (epoch0.size > 8) {
            assert(bigRows.size == 8 && bigReq.contains(""""truncated":true"""))
            assert(bigRows.keySet == epoch0.keys.toSeq.sorted.take(8).toSet,
              "truncated POINT must keep the smallest keys")
          }
          // LIMIT/AFTER walk reassembles exactly the requested keys
          val (all, pages) = pageWalk(client, wanted, limit = 5, at = None)
          assert(all == epoch0.view.filterKeys(wanted.contains).toMap)
          assert(pages == math.ceil(wanted.size / 5.0).toInt)

          // ---- AT pin: stream advances MID-WALK; the pinned walk
          // still answers from epoch b0's retained snapshot
          val firstPage = client.pointPage(wanted, limit = 5)
          val (fb, fRows) = parseRows(firstPage)
          assert(fb == b0)
          input.addData(secondHalf)
          q.processAllAvailable()
          eventually() {
            val b = server.servedBatchId; if (b > b0) Some(b) else None
          }
          val (pinned, _) = {
            var all2 = fRows
            var cursor = fRows.keys.max
            var done = false
            while (!done) {
              val resp = client.pointPage(wanted, 5, Some(cursor), Some(b0))
              val (b, rows) = parseRows(resp)
              assert(b == b0, s"pinned POINT page answered at $b, not $b0")
              all2 ++= rows
              if (resp.contains(""""truncated":true""")) cursor = rows.keys.max
              else done = true
            }
            (all2, ())
          }
          assert(pinned == epoch0.view.filterKeys(wanted.contains).toMap,
            "pinned POINT walk diverged from its starting epoch")
          // unpinned same request now reflects the NEW epoch
          val now = sinkState().view.filterKeys(wanted.contains).toMap
          if (now != pinned) {
            val (allNew, _) = pageWalk(client, wanted, limit = 5, at = None)
            assert(allNew == now)
          }
        } finally client.close()
      } finally server.close()

      // ---- cached mode pages identically (same protocol)
      val cachedServer = new QueryServer(spark, s"$dir/ckpt",
        refreshMillis = 50, maxResponseRows = 8)
      try {
        eventually() { if (cachedServer.servedBatchId >= 0) Some(()) else None }
        val expected = spark.read.parquet(s"$dir/out")
          .groupBy(col("key"))
          .agg(max_by(col("value"), col("tid")).as("v"))
          .as[(Long, Long)].collect().toMap
        val wanted = expected.keys.toSeq.sorted.take(13)
        val client = new QueryClient("localhost", cachedServer.boundPort)
        try {
          val (all, _) = pageWalk(client, wanted, limit = 5, at = None)
          assert(all == expected.view.filterKeys(wanted.contains).toMap)
        } finally client.close()
      } finally cachedServer.close()
    } finally q.stop()
  }

  test("concurrent clients: every answer a committed epoch; throughput probe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-qsrv-tp").toString
    val deltas = Bank.acctDeltas(spark, Sf0001).orderBy("tid").collect().toSeq

    val input = MemoryStream[Bank.AcctDelta]
    val q = StreamingBank.sequentialBalancesOnline(spark, input.toDS())
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append())
      .start()
    try {
      deltas.grouped(math.max(1, deltas.size / 3)).foreach { c =>
        input.addData(c); q.processAllAvailable()
      }
      val server = new QueryServer(spark, s"$dir/ckpt", refreshMillis = 50)
      try {
        eventually() { if (server.servedBatchId >= 0) Some(()) else None }
        val served = server.servedBatchId
        val keys = Bank.sequentialBalances(spark, Sf0001)
          .select("acct").as[Long].collect()

        val nThreads = 4
        val perThread = 500
        val errors = new java.util.concurrent.atomic.AtomicInteger(0)
        val t0 = System.nanoTime()
        val threads = (0 until nThreads).map { t =>
          val th = new Thread(() => {
            val c = new QueryClient("localhost", server.boundPort)
            try {
              var i = 0
              while (i < perThread) {
                val k = keys((t * perThread + i) % keys.length)
                val (b, rows) = parseRows(c.point(Seq(k)))
                // batch-consistency: only committed epochs are served
                if (b < served || !rows.contains(k)) errors.incrementAndGet()
                i += 1
              }
            } catch { case _: Throwable => errors.addAndGet(perThread) }
            finally c.close()
          })
          th.start(); th
        }
        threads.foreach(_.join())
        val qps = nThreads * perThread / ((System.nanoTime() - t0) / 1e9)
        info(f"query-server point-query throughput: $qps%.0f q/s over $nThreads clients")
        assert(errors.get() == 0)
        // driver-cached snapshot serving must beat per-job scheduling
        // (~10 q/s) by orders of magnitude; loose floor for CI noise
        assert(qps > 300, f"qps=$qps%.0f")
      } finally server.close()
    } finally q.stop()
  }

  // ---- change-feed refresh ------------------------------------------

  /** A live `StreamingBank.balances` stream on `ss` whose idle accounts
    * are evicted after `ttl` (so batches delete state), with a fresh
    * checkpoint; `batch(txs)` commits one micro-batch.
    */
  private final class BankStream(ss: SparkSession, ttl: FiniteDuration) {
    implicit private val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    import ss.implicits._
    val ckpt: String =
      java.nio.file.Files.createTempDirectory("graft-qsrv-feed").toString
    private val input = MemoryStream[ProbeTx]
    val query: StreamingQuery = StreamingBank.balances(ss, input.toDF(), ttl = Some(ttl))
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    def batch(txs: Seq[ProbeTx]): Unit = {
      input.addData(txs); query.processAllAvailable()
    }
    def close(): Unit = {
      query.stop()
      graft.sources.FileIO.deleteScratch(new java.io.File(ckpt))
    }
  }

  /** The full state read pinned at committed batch `b`. */
  private def stateAt(ckpt: String, b: Long): Map[Long, Long] = {
    import spark.implicits._
    spark.read.format("statestore").option("batchId", b).load(ckpt)
      .select(col("key.value").cast("long"), col("value.groupState._1").cast("long"))
      .as[(Long, Long)].collect().toMap
  }

  /** The whole served snapshot, read through the protocol. */
  private def served(c: QueryClient): (Long, Map[Long, Long]) =
    parseRows(c.request(s"PRED GE ${Long.MinValue}"))

  /** Transfers `from..from+n` over the sliding account window at `base`. */
  private def churn(from: Long, n: Int, base: Long): Seq[ProbeTx] =
    (from until from + n).map(i => StreamingBank.churnTx(i, base, 30))

  test("change-feed refresh equals the full pinned read at every served batch " +
    "(deletes, multi-batch deltas, AT walks across refreshes)") {
    // RocksDB with changelog checkpointing: the incremental path
    val s = new BankStream(
      StreamSessions.scoped(spark, 4, noDataBatches = false), ttl = 300.millis)
    try {
      var tid = 0L
      def step(): Unit = {
        // past the ttl, so this batch times out (deletes) the accounts
        // the previous one left behind the sliding window
        Thread.sleep(350)
        s.batch(churn(tid, 40, base = tid / 40 * 15)); tid += 40
      }
      step()
      // refreshes only when the spec says so: the refresher sleeps
      val server = new QueryServer(spark, s.ckpt, refreshMillis = 3600000L)
      val client = new QueryClient("localhost", server.boundPort)
      try {
        val seen = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
        def check(): Long = {
          val (b, rows) = served(client)
          assert(b == server.servedBatchId)
          assert(rows == stateAt(s.ckpt, b), s"served snapshot != full read at $b")
          seen += rows
          b
        }
        check()
        // one batch, then three batches per refresh
        Seq(1, 3, 1, 3).foreach { n =>
          (1 to n).foreach(_ => step())
          server.refreshNow()
          check()
        }
        val deleted = seen.zip(seen.tail).exists { case (a, b) => (a.keySet -- b.keySet).nonEmpty }
        assert(deleted, "fixture must delete state between served batches")
        assert(server.fullRefreshes.get() == 1L, "only the first load reads the whole state")
        assert(server.incrementalRefreshes.get() == 4L)

        // an AT walk started on the incrementally cached snapshot and
        // continued after further refreshes reproduces its batch exactly
        val first = client.request(s"PRED GE ${Long.MinValue} LIMIT 5")
        val (b0, page0) = parseRows(first)
        assert(first.contains(""""truncated":true"""))
        step(); step()
        server.refreshNow()
        assert(server.servedBatchId > b0)
        var all = page0
        var cursor = page0.keys.max
        var more = true
        while (more) {
          val resp = client.request(
            s"PRED GE ${Long.MinValue} LIMIT 5 AFTER $cursor AT $b0")
          val (b, rows) = parseRows(resp)
          assert(b == b0)
          all ++= rows
          more = resp.contains(""""truncated":true""")
          if (more) cursor = rows.keys.max
        }
        assert(all == stateAt(s.ckpt, b0))
        check()
        assert(server.incrementalRefreshes.get() == 5L)
      } finally { client.close(); server.close() }
    } finally s.close()
  }

  test("refresh fallbacks stay exact: HDFS provider, no changelog, salted layout, " +
    "degraded mode entered and left") {
    def exactAcrossBatches(ss: SparkSession): QueryServer = {
      val s = new BankStream(ss, ttl = 300.millis)
      try {
        s.batch(churn(0, 40, 0))
        val server = new QueryServer(spark, s.ckpt, refreshMillis = 3600000L)
        val client = new QueryClient("localhost", server.boundPort)
        try {
          (1 to 3).foreach { i =>
            Thread.sleep(350)
            s.batch(churn(i * 40L, 40, i * 15L))
            server.refreshNow()
            val (b, rows) = served(client)
            assert(rows == stateAt(s.ckpt, b))
          }
        } finally { client.close(); server.close() }
        server
      } finally s.close()
    }
    // the HDFS provider's per-batch delta files serve the change feed
    val hdfs = exactAcrossBatches(
      StreamSessions.scoped(spark, 4, Some("hdfs"), noDataBatches = false))
    assert(hdfs.incrementalRefreshes.get() == 3L)
    // RocksDB without changelog checkpointing has no change feed: every
    // refresh is one whole-state pass
    val plain = spark.newSession()
    plain.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val noLog = exactAcrossBatches(plain)
    assert(noLog.incrementalRefreshes.get() == 0L)
    assert(noLog.fullRefreshes.get() == 4L)

    // salted layout on a changelog checkpoint: the merge needs the
    // whole state, so it never takes the change feed
    locally {
      import graft.streaming.StreamingBank.{CentsBalance, StreamMovement}
      import graft.tgraph.state.StateOperator
      val ss = StreamSessions.scoped(spark, 4)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
      import ss.implicits._
      val ckpt = java.nio.file.Files.createTempDirectory("graft-qsrv-fsalt").toString
      val moves = (0L until 600L).map(i => StreamMovement(i % 20, i, i % 7 - 3))
      val input = MemoryStream[StreamMovement]
      val q = StateOperator.runStreamingSaltedDynamic[StreamMovement, Long, Long](
        input.toDS(), _.acct, _.tid, new CentsBalance, salts = 4,
        hot = new StateOperator.HotSet(Set(3L)))
        .toDF().writeStream.format("noop")
        .option("checkpointLocation", ckpt).outputMode(OutputMode.Append()).start()
      try {
        input.addData(moves.take(300)); q.processAllAvailable()
        val server = new QueryServer(spark, ckpt, keyCol = col("key._1").cast("long"),
          mergeAgg = Some(sum(col("v"))), refreshMillis = 3600000L)
        val client = new QueryClient("localhost", server.boundPort)
        try {
          input.addData(moves.drop(300)); q.processAllAvailable()
          server.refreshNow()
          val want = moves.groupBy(_.acct).view.mapValues(_.map(_.delta).sum).toMap
          assert(served(client)._2 == want)
          assert(server.incrementalRefreshes.get() == 0L)
          assert(server.fullRefreshes.get() == 2L)
        } finally { client.close(); server.close() }
      } finally {
        q.stop()
        graft.sources.FileIO.deleteScratch(new java.io.File(ckpt))
      }
    }

    // degraded mode entered and left: 2 accounts (cached) -> 4 through
    // a 2-row delta, itself under the cap (degraded) -> 12 -> the 10 new
    // ones evicted (cached again), exact at every batch, with a
    // changelog checkpoint underneath
    val s = new BankStream(
      StreamSessions.scoped(spark, 4, noDataBatches = false), ttl = 1.second)
    try {
      def pair(tid: Long, a: Long, b: Long) = ProbeTx(tid, a, b, 1.0)
      s.batch(Seq(pair(0, 101, 102)))
      val server = new QueryServer(spark, s.ckpt, refreshMillis = 3600000L,
        maxStateRows = 3L)
      val client = new QueryClient("localhost", server.boundPort)
      try {
        def degraded(): Boolean = {
          val before = server.degradedCacheMisses
          client.point(Seq(-1L - server.servedBatchId)) // a fresh absent key
          server.degradedCacheMisses > before
        }
        def exact(): Unit = {
          val (b, rows) = served(client)
          assert(rows == stateAt(s.ckpt, b))
        }
        exact(); assert(!degraded())
        s.batch(Seq(pair(1, 110, 111)))
        server.refreshNow()
        exact(); assert(degraded(), "a 4-row state stayed cached under maxStateRows = 3")
        s.batch((1 until 5).map(i => pair(1 + i, 110 + 2 * i, 111 + 2 * i)))
        server.refreshNow()
        exact(); assert(degraded())
        Thread.sleep(1500) // past the ttl: accounts 110..119 time out
        s.batch(Seq(pair(6, 101, 102)))
        server.refreshNow()
        exact(); assert(!degraded())
        assert(served(client)._2.keySet == Set(101L, 102L))
      } finally { client.close(); server.close() }
    } finally s.close()
  }

  test("close() during a refresh cancels the server's jobs; the checkpoint " +
    "can be deleted at once") {
    val s = new BankStream(
      StreamSessions.scoped(spark, 4, noDataBatches = false), ttl = 1.hour)
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    val feeding = new java.util.concurrent.atomic.AtomicBoolean(true)
    val feeder = new Thread(() => {
      var tid = 0L
      while (feeding.get()) { s.batch(churn(tid, 50, 0)); tid += 50 }
    })
    try {
      s.batch(churn(0, 50, 0))
      feeder.start()
      System.setErr(new java.io.PrintStream(
        new org.apache.commons.io.output.TeeOutputStream(prevErr, errBuf), true))
      val server = new QueryServer(spark, s.ckpt, refreshMillis = 1)
      // wait until a refresh job is in flight, then close under it
      eventually() { if (server.jobsActive) Some(()) else None }
      server.close()
      assert(!server.jobsActive, "a refresh job outlived close()")
      feeding.set(false); feeder.join()
      s.close() // deletes the checkpoint
      Thread.sleep(500)
      assert(!errBuf.toString.contains("[query-server]"), errBuf.toString)
    } finally {
      System.setErr(prevErr)
      feeding.set(false); feeder.join()
      s.close()
    }
  }
}
