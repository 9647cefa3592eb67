package graft.serving

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Live ANN SERVING over a PQ-compressed index — the query half of
  * the online vector pipeline ([[graft.streaming.StreamingAnn]] is
  * the ingest half): a line-protocol TCP endpoint answering top-k
  * requests by asymmetric-distance scans of the code table, the
  * [[graft.tgraph.query.QueryServer]] serving discipline applied to
  * the vector index.
  *
  * Protocol (one request line → one JSON response line):
  * {{{
  *   TOPK k v1,v2,...,vdim   → {"rows":[[cid,dot_pq],...]}  (dot desc, cid asc)
  *   COUNT                   → {"count":N}
  *   anything else           → {"error":"..."}
  * }}}
  *
  * Connections follow [[LineServer]]: up to 64 clients, one thread
  * each; request lines up to 1 MiB; every failed request answers one
  * JSON `{"error":"..."}` line, and the connection keeps serving.
  *
  * Two serving modes, chosen at startup by index size (the
  * QueryServer degradation contract):
  *  - CACHED (≤ `maxVectors`): codes pack into driver arrays — m
  *    bytes per vector (10⁹ vectors at m=8 is 8 GB: a driver-sized
  *    object far past fixture scale) — and a request is one LUT
  *    build (m·2^subDim integer dots against the broadcast-free
  *    codebook) + a linear scan with a bounded (k+1)-heap:
  *    microseconds, no Spark job;
  *  - DISTRIBUTED (beyond the cap): each request runs
  *    [[Similarity.pqTopK]] pinned on the codes frame — a Spark job
  *    per request (milliseconds), the same integer arithmetic.
  *
  * Scores are the exact int64 LUT sums [[Similarity.pqTopK]]
  * produces, so wire answers are bit-identical to the batch operator
  * (and to the `ann_pq` oracle's SQL) — spec- and gate-pinned.
  */
final class AnnServer(
    codes: DataFrame, // (cid, sub, cell)
    codebook: DataFrame, // (sub, cell, pos, mean_milli)
    m: Int, subDim: Int,
    port: Int = 0,
    maxVectors: Long = 50_000_000L,
    // LIVE index: when set, `codes` is ignored as data and the server
    // follows this GROWING parquet dir (a streaming encode sink —
    // `StreamingAnn.pqEncodeFromFiles`'s out/): a daemon reloads the
    // cache every `refreshMillis`, answers pinned to the last complete
    // load (a mid-commit read races are swallowed, the old snapshot
    // keeps serving — the QueryServer refresher contract)
    refreshDir: Option[String] = None,
    refreshMillis: Long = 500L,
    // CHURNED live index: when set, the server follows a
    // manifest-committed codes store (CdcVectors — document edits
    // delete/re-encode rows, so files are REWRITTEN, not appended):
    // each refresh tick compares the store's latest version against
    // the one served; a new version reloads that SNAPSHOT wholesale
    // (incremental absorb is an append-only notion — under churn a
    // seen file can vanish), an unchanged version costs zero Spark
    // jobs. Mutually exclusive with `refreshDir`.
    storeDir: Option[String] = None) extends AutoCloseable {

  require(refreshDir.isEmpty || storeDir.isEmpty,
    "refreshDir (append-only sink) and storeDir (manifest store) are " +
      "mutually exclusive follow modes")

  // cached codes store one byte per subcode (`cc(j).toByte`, read
  // back `& 0xff`): cell ids must fit [0, 255], i.e. subDim <= 8
  require(subDim >= 1 && subDim <= 8,
    s"subDim=$subDim: cached codes are one byte per subcode (cell ids < 256)")
  require(m >= 1, s"m=$m must be >= 1")

  private val dim = m * subDim
  // codeword milli vectors keyed [sub][cell]; cells are 0..2^subDim-1
  private val cellVecs: Array[Array[Array[Long]]] = {
    val byKey = codebook.groupBy(col("sub"), col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean_milli")))),
        e => e.getField("mean_milli")).as("cvec"))
      .collect()
      .map(r => (r.getAs[Number]("sub").intValue(),
        r.getAs[Number]("cell").intValue(),
        r.getSeq[Long](2).toArray))
    val out = Array.fill(m)(Array.fill(1 << subDim)(null: Array[Long]))
    byKey.foreach { case (s, c, v) => out(s)(c) = v }
    out
  }

  private val codesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sub", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.LongType)))

  private def codesFrame(): DataFrame = (refreshDir, storeDir) match {
    case (Some(dir), _) =>
      codes.sparkSession.read.schema(codesSchema).parquet(dir)
    case (_, Some(dir)) =>
      graft.operators.CdcVectors.readCodes(codes.sparkSession, dir)
    case _ => codes
  }

  /** The live cache: packed codes + the sink files already absorbed.
    * `degraded = true` = past `maxVectors`, serve distributed. The
    * refresher APPENDS — it loads only files it has not seen, so an
    * idle tick costs zero Spark jobs and a growing sink costs
    * O(new files), never O(index).
    */
  private case class Snap(
      cids: Array[Long], packed: Array[Byte],
      seen: Set[String], degraded: Boolean)

  /** Committed data files of the followed sink: through the streaming
    * commit log when present (never a raw listing racing an in-flight
    * commit), a plain listing for a static parquet dir. PLAIN-DIR
    * CONTRACT: the raw listing cannot distinguish a task-committed
    * file of a FAILED append job from committed data — point
    * `refreshDir` at a plain dir only when appends are job-committed
    * (single-writer batch appends, as in the specs); a production
    * live index follows a streaming sink's `_spark_metadata`.
    */
  private def sinkFiles(dir: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = graft.sources.StoreFs.fs(base)
    // ONE canonical spelling (fully-qualified URI) whichever branch
    // listed the file: the commit log records logged URIs (file:/…)
    // while a plain listing yields bare paths — without qualification
    // a dir that gains `_spark_metadata` mid-flight would re-list
    // already-absorbed files under a new spelling and duplicate their
    // cids in the packed cache.
    def qualified(p: org.apache.hadoop.fs.Path): String =
      fs.makeQualified(p).toString
    val meta = new org.apache.hadoop.fs.Path(base, "_spark_metadata")
    if (fs.exists(meta) && fs.getFileStatus(meta).isDirectory)
      graft.streaming.StreamingAnn.committedSinkFiles(dir)
        .map(p => qualified(new org.apache.hadoop.fs.Path(p)))
    else graft.sources.StoreFs.list(base)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")
        && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(s => qualified(s.getPath)).sorted
  }

  /** Pack (cid, sub, cell) rows into the cache layout: one byte per
    * subcode, cells sorted per cid. One collect of exactly the rows
    * passed in.
    */
  private def packRows(frame: DataFrame): (Array[Long], Array[Byte]) = {
    val rows = frame.groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("cell")))),
        e => e.getField("cell")).as("cc"))
      .orderBy("cid")
      .collect()
    val cids = rows.map(_.getLong(0))
    val packed = new Array[Byte](rows.length * m)
    var i = 0
    while (i < rows.length) {
      val cc = rows(i).getSeq[Long](1)
      require(cc.length == m, s"cid ${cids(i)} carries ${cc.length} codes")
      var j = 0
      while (j < m) { packed(i * m + j) = cc(j).toByte; j += 1 }
      i += 1
    }
    (cids, packed)
  }

  private val snap = new java.util.concurrent.atomic.AtomicReference[Snap]({
    refreshDir.orElse(storeDir) match {
      case None =>
        // static index: one load, degrade past the cap
        val n = codes.select("cid").distinct().count()
        if (n > maxVectors)
          Snap(Array.empty, Array.empty, Set.empty, degraded = true)
        else {
          val (cids, packed) = packRows(codes)
          Snap(cids, packed, Set.empty, degraded = false)
        }
      case Some(_) =>
        // live-follow mode: the sink may not exist (or hold no commit)
        // yet — start serving an EMPTY snapshot; the refresher absorbs
        // the first commit (swallow-and-keep-serving contract)
        val empty = Snap(Array.empty, Array.empty, Set.empty, degraded = false)
        try refreshStep(empty) catch { case _: Throwable => empty }
    }
  })

  /** One refresh step, dispatched by follow mode. */
  private def refreshStep(cur: Snap): Snap =
    if (storeDir.isDefined) refreshedFromStore(cur) else refreshedFrom(cur)

  /** Store-follow refresh: reload the snapshot IF the manifest
    * version moved (the `seen` set carries a "v<N>" sentinel); same
    * version → `cur` unchanged, zero Spark jobs (spec-asserted).
    */
  private def refreshedFromStore(cur: Snap): Snap = {
    graft.sources.ManifestStore.latestVersion(storeDir.get) match {
      case None => cur
      case Some(v) =>
        val tag = s"v$v"
        if (cur.seen.contains(tag)) cur
        else {
          val rows = graft.operators.CdcVectors
            .readCodes(codes.sparkSession, storeDir.get, Some(v))
          val n = rows.select("cid").distinct().count()
          if (n > maxVectors)
            Snap(Array.empty, Array.empty, Set(tag), degraded = true)
          else {
            val (cids, packed) = packRows(rows)
            Snap(cids, packed, Set(tag), degraded = false)
          }
        }
    }
  }

  /** One incremental refresh step: absorb the sink files `cur` has
    * not seen. No new files → `cur` unchanged (and NO Spark job ran).
    * Crossing `maxVectors` flips to degraded (distributed serving).
    * Exactly-once sink contract: a committed file's cids never repeat.
    */
  private def refreshedFrom(cur: Snap): Snap = {
    if (cur.degraded) return cur
    val fresh = sinkFiles(refreshDir.get).filterNot(cur.seen)
    if (fresh.isEmpty) return cur
    val rows = codes.sparkSession.read.schema(codesSchema)
      .parquet(fresh: _*)
    val newN = rows.select("cid").distinct().count()
    if (cur.cids.length + newN > maxVectors)
      Snap(Array.empty, Array.empty, cur.seen ++ fresh, degraded = true)
    else {
      val (addCids, addPacked) = packRows(rows)
      Snap(cur.cids ++ addCids, cur.packed ++ addPacked,
        cur.seen ++ fresh, degraded = false)
    }
  }

  private def cached: Option[(Array[Long], Array[Byte])] = {
    val s = snap.get()
    if (s.degraded) None else Some((s.cids, s.packed))
  }

  /** Cached answers == [[Similarity.pqTopK]]'s ranking: dot desc,
    * cid asc, top k.
    */
  private def topkCached(
      cids: Array[Long], packed: Array[Byte],
      qMilli: Array[Long], k: Int): Seq[(Long, Long)] = {
    // LUT[sub][cell] = dot(query subvector, codeword), exact int64
    val lut = Array.ofDim[Long](m, 1 << subDim)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < (1 << subDim)) {
        val cv = cellVecs(s)(c)
        if (cv != null) {
          var acc = 0L
          var p = 0
          while (p < subDim) { acc += qMilli(s * subDim + p) * cv(p); p += 1 }
          lut(s)(c) = acc
        }
        c += 1
      }
      s += 1
    }
    // bounded (k)-heap over the linear scan, worst element first;
    // ordering matches pqTopK: score desc, cid asc
    val ord: Ordering[(Long, Long)] =
      Ordering.by(t => (-t._1, t._2))
    val heap = new scala.collection.mutable.PriorityQueue[(Long, Long)]()(ord)
    var i = 0
    while (i < cids.length) {
      var dot = 0L
      var j = 0
      while (j < m) { dot += lut(j)(packed(i * m + j) & 0xff); j += 1 }
      val cand = (dot, cids(i))
      if (heap.size < k) heap.enqueue(cand)
      else if (ord.lt(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
      i += 1
    }
    val drained = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    while (heap.nonEmpty) {
      val (dot, cid) = heap.dequeue()
      drained += ((cid, dot))
    }
    drained.toSeq.reverse // worst dequeues first; answer is best-first
  }

  private def topkDistributed(qMilli: Array[Long], k: Int): Seq[(Long, Long)] = {
    val spark = codes.sparkSession
    import spark.implicits._
    // qid = Long.MinValue: pqTopK's self-exclusion (qid =!= cid) then
    // excludes no real corpus id — a wire query has no self
    val q = Seq((Long.MinValue, qMilli.map(_.toDouble / 1000.0).map(_.toFloat)))
      .toDF("qid", "qvec")
    Similarity.pqTopK(q, codesFrame(), codebook, k, m, subDim)
      .orderBy("rnk")
      .select("cid", "dot_pq").as[(Long, Long)].collect().toSeq
  }

  private def respond(req: String): String = {
    val parts = req.trim.split("\\s+")
    parts(0).toUpperCase match {
      case "TOPK" if parts.length == 3 =>
        val k = parts(1).toInt
        require(k >= 1, "k must be positive")
        val q = parts(2).split(",").map(_.trim.toDouble)
        require(q.length == dim, s"query must have $dim components, got ${q.length}")
        val qMilli = q.map(x => math.round(x * 1000.0))
        val rows = cached match {
          case Some((cids, packed)) => topkCached(cids, packed, qMilli, k)
          case None => topkDistributed(qMilli, k)
        }
        val body = rows.map { case (cid, dot) => s"[$cid,$dot]" }.mkString(",")
        s"""{"rows":[$body]}"""
      case "COUNT" =>
        val n = cached.map(_._1.length.toLong)
          .getOrElse(codesFrame().select("cid").distinct().count())
        s"""{"count":$n}"""
      case other =>
        LineServer.error(s"unknown request ${other.take(40)}")
    }
  }

  def isCached: Boolean = cached.isDefined

  private val lines = new LineServer("ann-server", port, respond)
  def boundPort: Int = lines.boundPort

  private val sc = codes.sparkSession.sparkContext
  private val stop = new CountDownLatch(1)
  private val refreshTag = s"ann-server-refresh-${java.util.UUID.randomUUID()}"

  private val refresher: Option[Thread] = refreshDir.orElse(storeDir).map { _ =>
    val t = new Thread(() => {
      // thread-local: every Spark job this thread submits carries the
      // group id, so tests (and operators) can attribute refresh cost
      // precisely, and this server's own tag, which close() cancels
      sc.setJobGroup("ann-server-refresh", "incremental ANN index refresh", false)
      sc.addJobTag(refreshTag)
      while (!stop.await(refreshMillis, TimeUnit.MILLISECONDS)) {
        try {
          // incremental (sink mode: only unseen committed files load;
          // store mode: only a moved manifest version reloads) — an
          // idle tick runs no Spark job at all. The refresher is the
          // only writer of `snap`, so read-modify-set is race-free.
          snap.set(refreshStep(snap.get()))
        } catch {
          // a mid-commit sink read, or close() cancelling the refresh:
          // keep serving the old snapshot
          case _: Throwable => ()
        }
      }
    }, "ann-server-refresher")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Stops serving and refreshing: wakes the refresher, cancels the
    * refresh it may be running, and waits (bounded) for it to exit, so
    * no refresh job starts once close() has returned.
    */
  override def close(): Unit = {
    stop.countDown()
    lines.close()
    refresher.foreach { t =>
      val deadline = System.nanoTime() + 10000L * 1000000L
      while (t.isAlive && System.nanoTime() < deadline) {
        sc.cancelJobsWithTag(refreshTag)
        t.join(20)
      }
    }
  }
}

/** Typed client for [[AnnServer]]. */
final class AnnClient(host: String, port: Int) extends LineClient(host, port) {

  /** Top-k parsed to (cid, dot_pq) in rank order. */
  def topk(qvec: Seq[Float], k: Int): Seq[(Long, Long)] =
    AnnClient.RowRe.findAllMatchIn(
      request(s"TOPK $k ${qvec.mkString(",")}"))
      .map(mm => (mm.group(1).toLong, mm.group(2).toLong)).toSeq

  /** The served index's vector count. */
  def count(): Long =
    AnnClient.CountRe.findFirstMatchIn(request("COUNT"))
      .map(_.group(1).toLong)
      .getOrElse(sys.error("malformed COUNT response"))
}

object AnnClient {
  private val RowRe = """\[(-?\d+),(-?\d+)\]""".r
  private val CountRe = """"count":(\d+)""".r
}
