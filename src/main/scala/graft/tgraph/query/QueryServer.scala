package graft.tgraph.query

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
import scala.util.control.NonFatal

/** An out-of-process queryable-state endpoint — the analog of the
  * reference's query server stack (`runtime/QueryServer.java`,
  * `runtime/ProcessRequestServer.java`, `runtime/WithServer.java`,
  * driven by `tgraph/query/QuerySupplier.java` implementations): a
  * line-protocol TCP server through which OTHER processes query the
  * live state of a RUNNING Structured Streaming job.
  *
  * Architecture (Spark-first, not a translation): the reference routes
  * each query through an actor RPC to the state operator's shards and
  * merges partials (`QueryResultMerger.java`). In Spark the committed
  * state of a streaming query already lives in the checkpoint's state
  * store, readable as a DataFrame via the `statestore` data source
  * ([[StateQueries.streamingState]]). This server fronts it:
  *
  *  - A refresher thread watches the checkpoint's `commits/` log and,
  *    when batches up to `b` have landed, moves the driver-side
  *    (key → value) map from its batch `p` to `b` by reading only the
  *    state store's change feed for batches `p+1..b`
  *    ([[StateQueries.streamingStateChanges]]; the per-batch changelog
  *    RocksDB writes under changelog checkpointing, or the HDFS
  *    provider's delta files) and applying it in batch order: a delete
  *    removes the key, any other write sets it. Refresh cost follows
  *    the change, not the state size. The first load, a salted
  *    `mergeAgg` layout, a change feed that failed (a checkpoint
  *    without change files, a range past retention: after one failure
  *    the server stops trying it), a delta or an advanced map over
  *    `maxStateRows`, and degraded mode
  *    take one bounded whole-state pass pinned AT batch `b` instead (one
  *    Spark job on an unsalted layout; each partition returns at most
  *    `maxStateRows + 1` rows). Every answer is therefore
  *    **batch-consistent**: all rows in one response reflect exactly
  *    one committed epoch, never a mix — the watermark-consistency the
  *    reference gets from `WatermarkAssigner` + `TotalOrderEnforcer`.
  *  - Point (`Query.addKey`) and predicate (`PredicateQuery`) requests
  *    are answered from that snapshot in microseconds, giving the
  *    reference's queries/s shape instead of a per-request Spark job.
  *  - The cache is bounded (`maxStateRows`); a state that outgrows the
  *    driver DEGRADES rather than dies (the reference's server keeps
  *    serving whatever the state size): the refresher stops caching and
  *    the server answers each request with a distributed query pinned
  *    to the last committed batch — the
  *    [[StateQueries.pointQueryBatch]] shape (filter/aggregate over the
  *    statestore scan), milliseconds → a Spark job per request, but
  *    still batch-consistent and still alive. If the state shrinks back
  *    under the cap the next refresh re-enters cached mode.
  *
  * Protocol (one request line → one JSON response line):
  * {{{
  *   POINT k1,k2,... [LIMIT m] [AFTER k] [AT b]
  *                       → {"batch":B,"rows":[[k,v],...]} — the same
  *                         cursor clauses as PRED (uniform protocol):
  *                         AFTER k keeps only requested keys strictly
  *                         past k, LIMIT pages, AT pins the page to a
  *                         committed batch
  *   PRED GE|GT|LE|LT|EQ n [LIMIT m] [AFTER k] [AT b]
  *                       → keys whose value satisfies the comparison,
  *                         in ascending key order; LIMIT pages the
  *                         response, AFTER k resumes strictly past key
  *                         k (cursor paging: pass the last key of the
  *                         previous page), AT b pins the page to
  *                         committed batch b (epoch-consistent walks,
  *                         below)
  *   COUNT               → {"batch":B,"count":N}
  *   anything else       → {"error":"..."}
  * }}}
  *
  * Every `rows` response is bounded by `maxResponseRows` (and by the
  * request's own LIMIT if smaller). A response that left matching rows
  * unreturned carries `"truncated":true` — the client pages onward
  * with `AFTER <last key>`. In degraded mode the page is computed as
  * `orderBy(key).limit(page+1)` — TakeOrderedAndProject's bounded
  * per-partition heaps — so no request can pull a corpus-sized match
  * set through the driver, whatever the state size.
  *
  * **POINT truncation**: a POINT whose key set exceeds
  * `maxResponseRows` (or its own LIMIT) keeps the SMALLEST requested
  * keys (responses sort ascending) and marks `"truncated":true`; the
  * client pages onward IN PROTOCOL with `AFTER <last returned key>`
  * (and `AT B` for an epoch-consistent walk), exactly as with PRED.
  * The pre-AFTER client-side split (re-request keys above the last
  * returned one) remains valid for old clients — the kept prefix is
  * still deterministic.
  *
  * **Paging across epochs**: without AT, each page is answered at the
  * NEWEST committed batch, so a walk concurrent with micro-batch
  * progress may mix epochs (every response carries its `"batch"` —
  * a client that sees it advance mid-walk restarts the walk). For an
  * epoch-CONSISTENT walk, take the first response's `"batch":B` and
  * pass `AT B` on subsequent pages: the page is then computed against
  * exactly that committed snapshot (served from the state store's
  * retained version history). A pinned batch that has aged out of
  * state-store retention (`spark.sql.streaming.minBatchesToRetain`,
  * default 100) answers `{"error":...}` — the defined signal to
  * restart the walk at the current batch.
  */
final class QueryServer(
    spark: SparkSession,
    checkpointLocation: String,
    // statestore-source schema for flatMapGroupsWithState (state
    // format v2): key = struct(value), value = struct(groupState =
    // <state encoder schema>, timeoutTimestamp); graft's streaming
    // state is (committed, dirty, version), so _1 is the committed
    // value — pass custom extractors for other operators' layouts
    keyCol: Column = col("key.value").cast("long"),
    valueCol: Column = col("value.groupState._1").cast("long"),
    // Salted pipelines (runStreamingSalted*): the state key is
    // (key, salt) and one logical key owns ≤ `salts` subgroup rows.
    // Passing e.g. `Some(sum(col("v")))` with
    // `keyCol = col("key._1")` (tuple keys surface unwrapped; the
    // `value` wrapper is primitive-key only) makes every serving path
    // merge
    // the subgroups per key at answer time — a salts-bounded
    // distributed fold (groupBy on the logical key) applied before
    // caching, point lookup, predicate scan, and COUNT alike.
    mergeAgg: Option[Column] = None,
    port: Int = 0,
    refreshMillis: Long = 100,
    maxStateRows: Long = 5_000_000L,
    // degraded-mode point-key LRU: repeated hot keys answer from this
    // bounded map instead of one Spark job per request
    degradedCacheKeys: Int = 100_000,
    // hard ceiling on rows in ANY single response (PRED pages, POINT):
    // the driver-side memory bound for the serving path
    maxResponseRows: Int = 100_000) extends AutoCloseable {

  /** `state = Some(map)` — cached mode (answers from driver memory);
    * `state = None` — degraded mode (state outgrew `maxStateRows`;
    * answers run as distributed queries pinned at `batchId`).
    */
  private final case class Snapshot(batchId: Long, state: Option[Map[Long, Long]])

  private val current =
    new AtomicReference[Snapshot](Snapshot(-1L, Some(Map.empty)))
  private val warnedOversize = new AtomicBoolean(false)
  private val running = new AtomicBoolean(true)
  private val server = new ServerSocket(port)

  /** Ephemeral-port friendly: the port clients should connect to. */
  def boundPort: Int = server.getLocalPort

  /** The committed epoch the NEXT answer will reflect. */
  def servedBatchId: Long = current.get().batchId

  /** Highest batch id with a commit-log entry — the only state a
    * reader may rely on (an in-flight batch's store updates are not
    * yet committed).
    */
  private def lastCommittedBatch: Long = {
    val path = new org.apache.hadoop.fs.Path(checkpointLocation, "commits")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) -1L
    else {
      val ids = fs.listStatus(path).flatMap { st =>
        val n = st.getPath.getName
        if (n.forall(_.isDigit) && n.nonEmpty) Some(n.toLong) else None
      }
      if (ids.isEmpty) -1L else ids.max
    }
  }

  /** The (key, value) state frame pinned to committed batch `b` —
    * shared by the cached refresh and the degraded per-request path.
    */
  private def pinnedState(b: Long) = {
    val raw = spark.read.format("statestore")
      .option("batchId", b)
      .load(checkpointLocation)
      .select(keyCol.as("k"), valueCol.as("v"))
    // salted layouts: merge each key's ≤ salts subgroup partials here,
    // so every downstream path sees one (k, v) row per logical key
    mergeAgg.fold(raw)(agg => raw.groupBy(col("k")).agg(agg.as("v")))
  }

  /** Refreshes by kind: a change-feed delta applied to the cached map
    * vs a whole-state pass (spec observability: a silent fallback is
    * still exact but loses the incremental path's gain).
    */
  private[tgraph] val incrementalRefreshes = new AtomicLong(0)
  private[tgraph] val fullRefreshes = new AtomicLong(0)

  /** Set once the change feed has failed for this server's checkpoint
    * (e.g. RocksDB without changelog checkpointing): from then on every
    * refresh is a [[fullPass]], with no failing Spark job per refresh.
    */
  private val changeFeedFailed = new AtomicBoolean(false)

  /** Move the snapshot to the newest committed batch `b`: a cached map
    * at batch `p` advances by the change feed of batches `p+1..b`;
    * every other case (the class doc lists them), and an advanced map
    * over `maxStateRows`, takes [[fullPass]], which degrades.
    */
  private def refreshOnce(): Unit = {
    val prev = current.get()
    val b = lastCommittedBatch
    if (b > prev.batchId && running.get()) {
      val advanced = prev.state match {
        case Some(m) if prev.batchId >= 0 && mergeAgg.isEmpty &&
            !changeFeedFailed.get() =>
          changesSince(prev.batchId, b).map(QueryServer.applyChanges(m, _))
            .filter(_.size <= maxStateRows)
        case _ => None
      }
      advanced match {
        case Some(m) =>
          incrementalRefreshes.incrementAndGet()
          current.set(Snapshot(b, Some(m)))
        case None =>
          fullRefreshes.incrementAndGet()
          fullPass(b)
      }
    }
  }

  /** The writes of batches `p+1..b` as (isDelete, k, v) runs, one per
    * state partition in commit order; None when they alone exceed
    * `maxStateRows` or the feed fails (no change files, or retention
    * won a race), which also turns the feed off for this server.
    */
  private def changesSince(p: Long, b: Long): Option[Seq[Array[Long]]] =
    try QueryServer.boundedRuns(
      StateQueries.streamingStateChanges(spark, checkpointLocation, p + 1, b)
        .select((col("change_type") === "delete").as("d"), keyCol.as("k"),
          coalesce(valueCol, lit(0L)).as("v")),
      maxStateRows)
    catch { case NonFatal(_) if running.get() =>
      changeFeedFailed.set(true)
      None
    }

  /** One bounded whole-state pass pinned at `b`. A state over
    * `maxStateRows` flips the snapshot to degraded (distributed) mode
    * instead of failing the refresher — the endpoint must keep serving.
    */
  private def fullPass(b: Long): Unit =
    QueryServer.boundedRuns(pinnedState(b), maxStateRows) match {
      case Some(runs) =>
        val m = Map.newBuilder[Long, Long]
        runs.foreach(a => (0 until a.length by 2).foreach(i => m += a(i) -> a(i + 1)))
        current.set(Snapshot(b, Some(m.result())))
        warnedOversize.set(false)
      case None =>
        if (warnedOversize.compareAndSet(false, true))
          System.err.println(
            s"[query-server] state has more than maxStateRows=$maxStateRows " +
              "rows; degrading to distributed per-request queries (a Spark job " +
              "per request) until it shrinks back under the cap")
        current.set(Snapshot(b, None))
    }

  // Every Spark job this server starts carries `jobTag`, so close() can
  // cancel them; threads started below inherit the caller's job group.
  private val jobTag = s"graft-query-server-${java.util.UUID.randomUUID()}"
  private val sc = spark.sparkContext
  private val stop = new CountDownLatch(1)

  /** One refresh on the caller's thread, under the server's job tag. */
  private[tgraph] def refreshNow(): Unit = {
    sc.addJobTag(jobTag)
    try refreshOnce() finally sc.removeJobTag(jobTag)
  }

  // Serve from the newest committed batch available at start (if any).
  refreshNow()

  private val refresher = new Thread(() => {
    sc.addJobTag(jobTag)
    var more = true
    while (more) {
      try refreshOnce()
      catch { case e: Throwable =>
        if (running.get())
          System.err.println(s"[query-server] refresh failed: ${e.getMessage}")
      }
      more = !stop.await(refreshMillis, TimeUnit.MILLISECONDS)
    }
  }, "query-server-refresh")
  refresher.setDaemon(true)
  refresher.start()

  private val pool = Executors.newFixedThreadPool(8)

  /** Degraded-mode hot-key LRU, valid for ONE committed batch: maps
    * key → Some(value) | None (key proven absent at that batch —
    * negative entries matter, or a missing hot key would re-trigger a
    * Spark job per request). Swapped wholesale when the served batch
    * advances, so every cached answer is still batch-consistent.
    */
  private final class BatchLru(val batchId: Long) {
    private val map = new java.util.LinkedHashMap[Long, Option[Long]](
      16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Option[Long]]): Boolean =
        size() > degradedCacheKeys
    }
    // stored values are Option objects (never null), so a null from
    // the map means "not cached" unambiguously
    def get(k: Long): Option[Option[Long]] =
      map.synchronized(Option(map.get(k)))
    def put(k: Long, v: Option[Long]): Unit =
      map.synchronized { map.put(k, v); () }
  }
  private val degradedLru = new AtomicReference[BatchLru](new BatchLru(-1L))
  private val degradedHits = new java.util.concurrent.atomic.AtomicLong(0)
  private val degradedMisses = new java.util.concurrent.atomic.AtomicLong(0)
  // COUNT in degraded mode is one number per batch — cache it too
  private val degradedCount = new AtomicReference[(Long, Long)]((-2L, 0L))

  /** Degraded-mode cache effectiveness (spec/probe observability). */
  def degradedCacheHits: Long = degradedHits.get()
  def degradedCacheMisses: Long = degradedMisses.get()

  private def lruFor(batchId: Long): BatchLru = degradedLru.synchronized {
    val cur = degradedLru.get()
    if (cur.batchId == batchId) cur
    else if (batchId > cur.batchId) {
      val fresh = new BatchLru(batchId); degradedLru.set(fresh); fresh
    } else
      // a request that raced the refresher and pinned an OLDER batch
      // must not clobber the newer batch's shared cache: give it a
      // private throwaway LRU, correct for its own snapshot
      new BatchLru(batchId)
  }

  private[query] def respond(req: String): String = {
    val snap = current.get()
    // `moreBeyond` = the computation already knows rows past the page
    // exist; the defensive size cap additionally bounds POINT and any
    // other path that assembled more than `maxResponseRows` pairs.
    def rowsJsonAt(batch: Long, pairs: Iterable[(Long, Long)],
        moreBeyond: Boolean): String = {
      val sorted = pairs.toSeq.sorted
      val truncated = moreBeyond || sorted.length > maxResponseRows
      val body = sorted.take(maxResponseRows)
        .map { case (k, v) => s"[$k,$v]" }.mkString(",")
      val t = if (truncated) ""","truncated":true""" else ""
      s"""{"batch":$batch,"rows":[$body]$t}"""
    }
    def rowsJson(pairs: Iterable[(Long, Long)],
        moreBeyond: Boolean = false): String =
      rowsJsonAt(snap.batchId, pairs, moreBeyond)
    // Degraded mode: the same answers, computed as a distributed query
    // pinned at the snapshot's committed batch (the pointQueryBatch
    // shape) — never materializing the full state on the driver.
    def distributed(f: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Iterable[(Long, Long)] =
      if (snap.batchId < 0) Nil
      else f(pinnedState(snap.batchId)).collect().iterator
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    // One PAGE of a degraded-mode match set, in ascending key order:
    // orderBy+limit plans as TakeOrderedAndProject (bounded
    // per-partition heaps), so at most page+1 rows ever reach the
    // driver however many rows match. The +1 row detects truncation.
    def distributedPage(b: Long, f: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, page: Int): (Seq[(Long, Long)], Boolean) =
      if (b < 0) (Nil, false)
      else {
        val rows = f(pinnedState(b))
          .orderBy(col("k")).limit(page + 1).collect().iterator
          .map(r => r.getLong(0) -> r.getLong(1)).toSeq
        (rows.take(page), rows.length > page)
      }
    val parts = req.trim.split("\\s+", 2)
    parts(0).toUpperCase match {
      case "POINT" if parts.length == 2 =>
        // POINT k1,k2,... [LIMIT m] [AFTER k] [AT b] — same cursor
        // clauses as PRED (protocol-uniform): AFTER restricts to
        // requested keys strictly past the cursor, LIMIT pages, AT
        // pins the page to a retained committed batch
        val ptoks = parts(1).trim.split("\\s+")
        val allKeys = ptoks(0).split(",").iterator.map(_.trim)
          .filter(_.nonEmpty).map(_.toLong).toSet
        var page = maxResponseRows
        var after = Long.MinValue
        var at: Option[Long] = None
        var pi = 1
        while (pi < ptoks.length) {
          ptoks(pi).toUpperCase match {
            case "LIMIT" if pi + 1 < ptoks.length =>
              page = math.min(ptoks(pi + 1).toLong, maxResponseRows.toLong).toInt
              pi += 2
            case "AFTER" if pi + 1 < ptoks.length =>
              after = ptoks(pi + 1).toLong
              pi += 2
            case "AT" if pi + 1 < ptoks.length =>
              at = Some(ptoks(pi + 1).toLong)
              pi += 2
            case other =>
              throw new IllegalArgumentException(s"bad POINT clause $other")
          }
        }
        require(page > 0, "LIMIT must be positive")
        val keys = allKeys.filter(_ > after)
        at match {
          case Some(b) if b != snap.batchId =>
            // epoch-pinned page against the retained version b (the
            // PRED AT shape); past retention → error → client restarts
            require(b >= 0 && b <= lastCommittedBatch,
              s"batch $b is not a committed batch")
            if (keys.isEmpty) rowsJsonAt(b, Nil, moreBeyond = false)
            else {
              val (rows, more) = distributedPage(
                b, _.filter(col("k").isInCollection(keys.toSeq.map(Long.box))),
                page)
              rowsJsonAt(b, rows, more)
            }
          case _ =>
            snap.state match {
              case Some(st) =>
                val found = keys.iterator
                  .flatMap(k => st.get(k).map(k -> _)).toSeq.sorted
                rowsJson(found.take(page), found.length > page)
              case None =>
                // hot-key LRU first (per committed batch, negatives
                // cached too); one distributed query for ONLY the
                // missing keys. Hit VALUES are captured here, at
                // partition time — a concurrent request may evict them
                // from the LRU before this response is assembled.
                val lru = lruFor(snap.batchId)
                val hitVals: Map[Long, Option[Long]] =
                  keys.iterator.flatMap(k => lru.get(k).map(k -> _)).toMap
                val miss = keys.filterNot(hitVals.contains)
                degradedHits.addAndGet(hitVals.size)
                degradedMisses.addAndGet(miss.size)
                val fetched: Map[Long, Long] =
                  if (miss.isEmpty) Map.empty
                  else distributed(_.filter(
                    col("k").isInCollection(miss.toSeq.map(Long.box)))).toMap
                miss.foreach(k => lru.put(k, fetched.get(k)))
                val cached = hitVals.iterator
                  .flatMap { case (k, ov) => ov.map(k -> _) }
                val found = (cached ++ fetched.iterator).toSeq.sorted
                rowsJson(found.take(page), found.length > page)
            }
        }
      case "PRED" if parts.length == 2 =>
        // PRED <op> <n> [LIMIT m] [AFTER k] [AT b] — pages ascend by key
        val toks = parts(1).trim.split("\\s+")
        require(toks.length >= 2, "PRED needs <op> <n>")
        val op = toks(0)
        val n = toks(1).toLong
        var page = maxResponseRows
        var after = Long.MinValue
        var at: Option[Long] = None
        var i = 2
        while (i < toks.length) {
          toks(i).toUpperCase match {
            case "LIMIT" if i + 1 < toks.length =>
              page = math.min(toks(i + 1).toLong, maxResponseRows.toLong).toInt
              i += 2
            case "AFTER" if i + 1 < toks.length =>
              after = toks(i + 1).toLong
              i += 2
            case "AT" if i + 1 < toks.length =>
              at = Some(toks(i + 1).toLong)
              i += 2
            case other =>
              throw new IllegalArgumentException(s"bad PRED clause $other")
          }
        }
        require(page > 0, "LIMIT must be positive")
        val p: Long => Boolean = op.toUpperCase match {
          case "GE" => _ >= n
          case "GT" => _ > n
          case "LE" => _ <= n
          case "LT" => _ < n
          case "EQ" => _ == n
          case other => throw new IllegalArgumentException(s"bad op $other")
        }
        val pred: Column = op.toUpperCase match {
          case "GE" => col("v") >= n
          case "GT" => col("v") > n
          case "LE" => col("v") <= n
          case "LT" => col("v") < n
          case "EQ" => col("v") === n
          case _ => lit(false) // unreachable: op validated above
        }
        at match {
          case Some(b) if b != snap.batchId =>
            // epoch-pinned walk: a distributed page against the state
            // store's RETAINED version b, whatever mode the current
            // batch serves in. A version past retention fails the scan
            // → error response → client restarts at the current batch.
            require(b >= 0 && b <= lastCommittedBatch,
              s"batch $b is not a committed batch")
            val (rows, more) =
              distributedPage(b, _.filter(pred && col("k") > after), page)
            rowsJsonAt(b, rows, more)
          case _ =>
            snap.state match {
              case Some(st) =>
                // bounded selection of the page: a (page+1)-slot
                // max-heap over the matching keys above the cursor —
                // O(M log page) per request, never a sorted
                // materialization of the full match set (the +1 slot
                // detects truncation)
                val heap = new java.util.PriorityQueue[(Long, Long)](
                  page + 1,
                  Ordering.by[(Long, Long), Long](_._1).reverse)
                st.iterator
                  .filter { case (k, v) => k > after && p(v) }
                  .foreach { kv =>
                    if (heap.size < page + 1) heap.add(kv)
                    else if (kv._1 < heap.peek()._1) {
                      heap.poll(); heap.add(kv); ()
                    }
                  }
                val sel = Iterator.continually(heap.poll())
                  .takeWhile(_ != null).toSeq.sortBy(_._1)
                rowsJson(sel.take(page), sel.length > page)
              case None =>
                val (rows, more) = distributedPage(
                  snap.batchId, _.filter(pred && col("k") > after), page)
                rowsJson(rows, more)
            }
        }
      case "COUNT" =>
        snap.state match {
          case Some(st) =>
            s"""{"batch":${snap.batchId},"count":${st.size}}"""
          case None =>
            val cached = degradedCount.get()
            val n =
              if (cached._1 == snap.batchId) cached._2
              else {
                val c = if (snap.batchId < 0) 0L
                        else pinnedState(snap.batchId).count()
                degradedCount.set((snap.batchId, c))
                c
              }
            s"""{"batch":${snap.batchId},"count":$n}"""
        }
      case other =>
        s"""{"error":"unknown request ${other.take(40)}"}"""
    }
  }

  /** Looping per-client handler, the `LoopingClientHandler` +
    * `StringClientHandler` shape: serve request lines until EOF.
    */
  private def handle(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true) // request-response: don't Nagle-buffer
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      val out = new PrintWriter(sock.getOutputStream, true)
      var line = in.readLine()
      while (line != null && running.get()) {
        val resp =
          try respond(line)
          catch { case e: Throwable =>
            s"""{"error":"${Option(e.getMessage).getOrElse(e.getClass.getName).take(80).replace('"', '\'')}"}"""
          }
        out.println(resp)
        line = in.readLine()
      }
    } catch { case _: Throwable => () }
    finally { try sock.close() catch { case _: Throwable => () } }
  }

  private val acceptor = new Thread(() => {
    sc.addJobTag(jobTag) // the handler threads it spawns inherit the tag
    while (running.get()) {
      try {
        val sock = server.accept()
        pool.submit(new Runnable { def run(): Unit = handle(sock) })
      } catch {
        case _: SocketException => () // closed during accept — shutting down
        case e: Throwable =>
          if (running.get())
            System.err.println(s"[query-server] accept failed: ${e.getMessage}")
      }
    }
  }, "query-server-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Stops serving and refreshing. A refresh or degraded-mode request
    * may be inside a Spark job: its jobs are cancelled by tag, and
    * close() waits (bounded) until the refresher has exited and no job
    * of this server still runs a task — so the caller may delete the
    * checkpoint as soon as close() returns.
    */
  override def close(): Unit = {
    running.set(false)
    stop.countDown()
    try server.close() catch { case _: Throwable => () }
    pool.shutdownNow()
    refresher.join(QueryServer.ClosePollMs)
    val deadline = System.nanoTime() + QueryServer.CloseWaitMs * 1000000L
    while ((refresher.isAlive || jobsActive) && System.nanoTime() < deadline) {
      // repeated: a job may start between one cancel and the thread's exit
      sc.cancelJobsWithTag(jobTag)
      if (refresher.isAlive) refresher.join(QueryServer.ClosePollMs)
      else Thread.sleep(QueryServer.ClosePollMs)
    }
  }

  /** Whether a job of this server is running or still has live tasks. */
  private[tgraph] def jobsActive: Boolean = {
    val st = sc.statusTracker
    st.getJobIdsForTag(jobTag).iterator.flatMap(st.getJobInfo(_)).exists(j =>
      j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.iterator.flatMap(st.getStageInfo(_)).exists(_.numActiveTasks > 0))
  }
}

object QueryServer {
  private val ClosePollMs = 20L
  private val CloseWaitMs = 10000L

  /** Runs `df` (columns castable to long) as ONE Spark job in which each
    * partition returns at most `cap + 1` rows, packed row-major into one
    * array per partition, each keeping its partition's row order. The
    * driver drops what it holds once the running total passes `cap` and
    * answers None, so its memory stays bounded by the cap.
    */
  private def boundedRuns(df: DataFrame, cap: Long): Option[Seq[Array[Long]]] = {
    val longs = df.select(df.columns.map(c => col(c).cast("long")).toIndexedSeq: _*)
    val width = longs.columns.length
    val rdd = longs.queryExecution.toRdd
    val runs = new Array[Array[Long]](rdd.getNumPartitions)
    var total = 0L
    longs.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => {
        val out = Array.newBuilder[Long]
        var n = 0L
        while (n <= cap && it.hasNext) {
          val r = it.next()
          var c = 0
          while (c < width) { out += r.getLong(c); c += 1 }
          n += 1
        }
        out.result()
      },
      (i: Int, run: Array[Long]) => {
        total += run.length / width
        if (total <= cap) runs(i) = run
        else runs.indices.foreach(runs(_) = null)
      })
    if (total <= cap) Some(runs.toSeq) else None
  }

  /** Apply (isDelete, k, v) change runs to `m`: a delete removes the key,
    * anything else sets it. The runs are per state partition and a key
    * lives in one partition, so each key's writes apply in batch order.
    */
  private def applyChanges(
      m: Map[Long, Long], runs: Seq[Array[Long]]): Map[Long, Long] =
    runs.foldLeft(m) { (acc, a) =>
      var out = acc
      var i = 0
      while (i < a.length) {
        out = if (a(i) == 1L) out - a(i + 1) else out.updated(a(i + 1), a(i + 2))
        i += 3
      }
      out
    }
}

/** Minimal blocking client for the [[QueryServer]] line protocol — the
  * `runtime/StringClient.java` shape; used by specs and probes, and a
  * template for genuinely external (non-JVM) clients.
  */
final class QueryClient(host: String, port: Int) extends AutoCloseable {
  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedReader(
    new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
  private val out = new PrintWriter(sock.getOutputStream, true)

  def request(line: String): String = {
    out.println(line)
    val r = in.readLine()
    require(r != null, "server closed the connection")
    r
  }

  def point(keys: Seq[Long]): String = request(s"POINT ${keys.mkString(",")}")

  /** Paged point request: `LIMIT limit`, optional `AFTER`/`AT`. */
  def pointPage(
      keys: Seq[Long], limit: Int,
      after: Option[Long] = None, at: Option[Long] = None): String =
    request(s"POINT ${keys.mkString(",")} LIMIT $limit" +
      after.map(k => s" AFTER $k").getOrElse("") +
      at.map(b => s" AT $b").getOrElse(""))

  /** Point query parsed to (key, value) pairs. */
  def pointRows(keys: Seq[Long]): Seq[(Long, Long)] =
    QueryClient.RowRe.findAllMatchIn(point(keys))
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq

  override def close(): Unit = {
    try sock.close() catch { case _: Throwable => () }
  }
}

object QueryClient {
  private val RowRe = """\[(-?\d+),(-?\d+)\]""".r
}
