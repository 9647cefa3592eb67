package graft.serving

import graft.operators.Incremental
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** TIME-TRAVEL reads over the wire — the CDC packed store (the
  * training-consumer output, manifest-committed by
  * [[graft.operators.IncrementalCdc]]) served through a line-protocol
  * TCP endpoint with `AT VERSION` pinning: rows 127 + 128 composed.
  * A consumer pins the version it first resolved and keeps reading a
  * CONSISTENT snapshot however many commits the live writer publishes
  * under it (the retention contract: a reader ≤ `retainVersions`
  * behind never loses a file); a version past retention is a DEFINED
  * error, not a wrong read.
  *
  * Protocol (one request line → one JSON response line; `v` optional
  * everywhere, default = the store's latest at request time):
  * {{{
  *   VERSION            → {"version":N}
  *   HISTORY            → {"history":[{"version":v,"ts":ms,"files":n,"rows":n,"tags":[...]},...]}
  *   COUNT [v]          → {"version":v,"count":N}
  *   SCAN grp [v | AT TX [t] | AT TS ms] [LIMIT m] [AFTER s b]
  *                      → {"version":v,"rows":[[doc_id,seq_id,begin_in_seq,end_in_seq,doc_begin,n_piece,starts_doc],...][,"truncated":true]}
  *   RANGE grp lo hi [v | AT TX [t] | AT TS ms] [LIMIT m] [AFTER s b]
  *                      → same rows shape, doc_id ∈ [lo, hi]
  *   anything else      → {"error":"..."}
  * }}}
  *
  * Connections follow [[LineServer]]: up to 64 clients, one thread
  * each; request lines up to 1 MiB; every failed request answers one
  * JSON `{"error":"..."}` line, and the connection keeps serving.
  *
  * SCAN reads exactly the pinned manifest's files of one `grp`
  * partition (pruned — nothing else opens), ordered (seq_id,
  * begin_in_seq, doc_begin): the shard-consumer read shape. RANGE
  * additionally prunes by the manifest ZONE MAPS (the per-file doc_id
  * bounds the CDC packed commits record) before the exact predicate —
  * a consumer after one doc-id slice opens only the partition files
  * whose bounds intersect. Requests run Spark jobs (this is the
  * bulk-consumer tier, not the microsecond point-query tier — that is
  * [[graft.tgraph.query.QueryServer]]).
  *
  * EVERY rows response is bounded — by `maxResponseRows`, or the
  * request's own LIMIT if smaller (the row-13b QueryServer
  * discipline: a packed `grp` partition is GBs at scale, and an
  * unbounded collect is a driver OOM wearing a protocol). The page is
  * computed as `orderBy(keys).limit(page+1)` — TakeOrderedAndProject's
  * bounded per-partition heaps, never a full-partition sort-collect —
  * and a response that left rows unreturned carries
  * `"truncated":true`; the client resumes IN PROTOCOL with
  * `AFTER <last seq_id> <last begin_in_seq>` (strictly-past
  * lexicographic cursor on the response order's unique prefix:
  * (seq_id, begin_in_seq) identifies a packed piece within a grp).
  * Paging is byte-stable at a pinned version: the cursor re-reads the
  * same immutable manifest snapshot.
  *
  * `AT TX [t]` (in place of a bare version) resolves the cross-store
  * tx pin SERVER-side — `SCAN grp AT TX 7` is sugar for `TX 7` →
  * `SCAN grp <versions["packed"]>` in ONE round trip, so a consumer
  * cannot accidentally mix a tx-pinned packed read with a
  * latest-version read of the same store. `AT TS ms` pins by COMMIT
  * WALL-TIME the same way ([[graft.sources.ManifestStore.versionAt]]
  * server-side) — a too-early pin answers the typed retention error.
  */
final class PackedStoreServer(
    spark: SparkSession,
    storeDir: String,
    port: Int = 0,
    txDir: Option[String] = None,
    maxResponseRows: Int = 100_000) extends AutoCloseable {

  private def latest: Option[Long] =
    graft.sources.ManifestStore.latestVersion(storeDir)

  private def respond(req: String): String = {
    val parts = req.trim.split("\\s+")
    parts(0).toUpperCase match {
      case "VERSION" =>
        latest match {
          case Some(v) => s"""{"version":$v}"""
          case None => LineServer.error("empty store (no manifest)")
        }
      case "HISTORY" if parts.length == 1 =>
        // the retained commit log from metadata alone (DESCRIBE
        // HISTORY over the wire): what an operator reads before an
        // AT TS / AT VERSION pin or a restore
        val items = graft.sources.ManifestStore.history(storeDir)
          .map { c =>
            val ts = c.ts.fold("")(t => s""","ts":$t""")
            val rows = c.rows.fold("")(r => s""","rows":$r""")
            val tags =
              if (c.tags.isEmpty) ""
              else s""","tags":[${c.tags.map("\"" + _ + "\"").mkString(",")}]"""
            s"""{"version":${c.version}$ts,"files":${c.nFiles}$rows$tags}"""
          }.mkString(",")
        s"""{"history":[$items]}"""
      case "TX" if parts.length <= 2 =>
        // resolve a CROSS-STORE tx record (latest or pinned): the
        // client reads "packed" for its SCAN pins here and the other
        // stores' versions for whatever else it consults — N reads,
        // ONE consistent combination (rows 132 + 133 composed)
        txDir match {
          case None => LineServer.error("no tx log behind this store")
          case Some(td) =>
            val tx = graft.sources.TxLog.read(td,
              if (parts.length == 2) Some(parts(1).toLong) else None)
            val vs = tx.versions.toSeq.sortBy(_._1)
              .map { case (k, v) => s""""$k":$v""" }.mkString(",")
            s"""{"tx":${tx.txId},"batch":${tx.batchId},"versions":{$vs}}"""
        }
      case "COUNT" if parts.length <= 2 =>
        val v = if (parts.length == 2) parts(1).toLong
          else latest.getOrElse(
            return LineServer.error("empty store (no manifest)"))
        // metadata-first: the stats sidecar's per-file row counts
        // answer COUNT with zero file opens and zero Spark jobs; a
        // snapshot whose files predate row-count harvesting falls
        // back to the exact scan (never a guess)
        val n = graft.sources.ManifestStore
          .metaCount(storeDir, "grp", version = Some(v))
          .getOrElse(graft.sources.ManifestStore.read(
            spark, storeDir, Incremental.PackedSchema, "grp",
            partVals = None, version = Some(v)).count())
        s"""{"version":$v,"count":$n}"""
      case "SCAN" if parts.length >= 2 =>
        val grp = parts(1).toLong
        parseClauses(parts.drop(2)) match {
          case Left(err) => err
          case Right((v, limit, after)) =>
            scanRows(grp, v, idRange = None, limit, after)
        }
      case "RANGE" if parts.length >= 4 =>
        val grp = parts(1).toLong
        val (lo, hi) = (parts(2).toLong, parts(3).toLong)
        parseClauses(parts.drop(4)) match {
          case Left(err) => err
          case Right((v, limit, after)) =>
            scanRows(grp, v, idRange = Some((lo, hi)), limit, after)
        }
      case other =>
        LineServer.error(s"unknown request ${other.take(40)}")
    }
  }

  /** Trailing clauses of SCAN/RANGE: `[v | AT TX [t] | AT TS ms]
    * [LIMIT m] [AFTER s b]`. Returns (resolved version, limit, cursor)
    * or an error response line.
    */
  private def parseClauses(toks: Array[String])
      : Either[String, (Long, Option[Int], Option[(Long, Long)])] = {
    var i = 0
    var v: Option[Long] = None
    var limit: Option[Int] = None
    var after: Option[(Long, Long)] = None
    // a bare leading number is the pinned version (legacy spelling)
    if (i < toks.length && toks(i).forall(_.isDigit)) {
      v = Some(toks(i).toLong); i += 1
    }
    while (i < toks.length) {
      toks(i).toUpperCase match {
        case "AT" if i + 2 < toks.length && v.isEmpty
            && toks(i + 1).toUpperCase == "TS" =>
          // TIMESTAMP AS OF over the wire: the server resolves the
          // newest retained version at-or-before the pin — same
          // immutability story as a version pin, so paging stays
          // byte-stable; a too-early pin surfaces the typed
          // retention error through the defined-error path
          v = Some(graft.sources.ManifestStore.versionAt(
            storeDir, toks(i + 2).toLong))
          i += 3
        case "AT" if i + 1 < toks.length && v.isEmpty
            && toks(i + 1).toUpperCase == "TX" =>
          val td = txDir.getOrElse(
            return Left(LineServer.error("no tx log behind this store")))
          val txId =
            if (i + 2 < toks.length && toks(i + 2).forall(_.isDigit)) {
              i += 3; Some(toks(i - 1).toLong)
            } else { i += 2; None }
          val tx = graft.sources.TxLog.read(td, txId)
          v = Some(tx.versions.getOrElse("packed",
            return Left(LineServer.error(s"tx ${tx.txId} pins no packed store"))))
        case "LIMIT" if i + 1 < toks.length && limit.isEmpty =>
          limit = Some(toks(i + 1).toInt); i += 2
        case "AFTER" if i + 2 < toks.length && after.isEmpty =>
          after = Some((toks(i + 1).toLong, toks(i + 2).toLong)); i += 3
        case t =>
          return Left(LineServer.error(s"bad clause ${t.take(40)}"))
      }
    }
    val resolved = v.orElse(latest).getOrElse(
      return Left(LineServer.error("empty store (no manifest)")))
    Right((resolved, limit, after))
  }

  /** One partition's rows at a pinned version; `idRange` engages the
    * manifest zone maps (file-granular) and then the exact predicate.
    * BOUNDED: at most min(limit, maxResponseRows) rows come back; the
    * page is a TakeOrderedAndProject (orderBy+limit — per-partition
    * bounded heaps), an over-fetch of one row detects truncation, and
    * `after` resumes strictly past a (seq_id, begin_in_seq) cursor.
    */
  private def scanRows(
      grp: Long, v: Long, idRange: Option[(Long, Long)],
      limit: Option[Int], after: Option[(Long, Long)]): String = {
    val page = math.max(1,
      math.min(limit.getOrElse(maxResponseRows), maxResponseRows))
    val base = graft.sources.ManifestStore.read(
      spark, storeDir, Incremental.PackedSchema, "grp",
      partVals = Some(Seq(grp)), version = Some(v),
      range = idRange.map { case (lo, hi) => ("doc_id", lo, hi) })
    val exact = idRange.fold(base) { case (lo, hi) =>
      base.filter(col("doc_id").between(lo, hi)) }
    val resumed = after.fold(exact) { case (s, b) =>
      exact.filter(col("seq_id") > s ||
        (col("seq_id") === s && col("begin_in_seq") > b)) }
    val taken = resumed
      .orderBy("seq_id", "begin_in_seq", "doc_begin")
      .select(col("doc_id"), col("seq_id"), col("begin_in_seq"),
        col("end_in_seq"), col("doc_begin"), col("n_piece"),
        col("starts_doc").cast("int"))
      .limit(page + 1)
      .collect()
    val truncated = taken.length > page
    val rows = taken.take(page)
      .map(r => s"[${(0 until 7).map(r.get(_)).mkString(",")}]")
    val t = if (truncated) ""","truncated":true""" else ""
    s"""{"version":$v,"rows":[${rows.mkString(",")}]$t}"""
  }

  // a pinned version aged out of retention surfaces as
  // ManifestStore.files' require: the defined error line
  private val lines = new LineServer("packed-server", port, respond)
  def boundPort: Int = lines.boundPort

  override def close(): Unit = lines.close()
}

/** Typed client for [[PackedStoreServer]]. Non-final so a drill can
  * interpose on `scan` (e.g. inject a publish between pages to pin
  * down [[scanAll]]'s snapshot stability).
  */
class PackedStoreClient(host: String, port: Int) extends LineClient(host, port) {

  /** Raw HISTORY response line: the retained commit log. */
  def history(): String = request("HISTORY")

  def version(): Long =
    PackedStoreClient.VerRe.findFirstMatchIn(request("VERSION"))
      .map(_.group(1).toLong)
      .getOrElse(sys.error(s"no version: ${request("VERSION")}"))

  def count(at: Option[Long] = None): Long =
    PackedStoreClient.CountRe.findFirstMatchIn(
      request(s"COUNT${at.fold("")(v => s" $v")}"))
      .map(_.group(1).toLong)
      .getOrElse(sys.error("malformed COUNT response"))

  private def clauses(
      limit: Option[Int], after: Option[(Long, Long)]): String =
    limit.fold("")(m => s" LIMIT $m") +
      after.fold("") { case (s, b) => s" AFTER $s $b" }

  /** Raw SCAN response line (callers parse rows or check errors).
    * `limit` pages; `after` resumes strictly past a
    * (seq_id, begin_in_seq) cursor.
    */
  def scan(grp: Long, at: Option[Long] = None, limit: Option[Int] = None,
      after: Option[(Long, Long)] = None): String =
    request(s"SCAN $grp${at.fold("")(v => s" $v")}${clauses(limit, after)}")

  /** SCAN pinned to a cross-store tx, resolved SERVER-side in one
    * round trip: `SCAN grp AT TX [t]` — the server reads the tx
    * record and scans at its pinned packed version, so this read can
    * never mix with a latest-version resolution.
    */
  def scanAtTx(grp: Long, tx: Option[Long] = None,
      limit: Option[Int] = None,
      after: Option[(Long, Long)] = None): String =
    request(s"SCAN $grp AT TX${tx.fold("")(t => s" $t")}" +
      clauses(limit, after))

  /** SCAN pinned by TIMESTAMP, resolved SERVER-side: `SCAN grp AT TS
    * ms` reads the newest retained version at-or-before the wall-time
    * — byte-identical to the per-version spelling of whatever version
    * that resolves to.
    */
  def scanAtTs(grp: Long, ts: Long, limit: Option[Int] = None,
      after: Option[(Long, Long)] = None): String =
    request(s"SCAN $grp AT TS $ts" + clauses(limit, after))

  /** Raw RANGE response line: one partition, doc_id ∈ [lo, hi],
    * zone-map-pruned server-side.
    */
  def scanRange(
      grp: Long, lo: Long, hi: Long, at: Option[Long] = None,
      limit: Option[Int] = None,
      after: Option[(Long, Long)] = None): String =
    request(s"RANGE $grp $lo $hi${at.fold("")(v => s" $v")}" +
      clauses(limit, after))

  /** Page a SCAN to completion at a pinned version by following
    * `truncated` cursors — every response stays inside the server's
    * bound; the concatenation is the full partition (byte-stable: the
    * pin re-reads one immutable manifest snapshot page after page).
    * With `at = None` the FIRST response's version becomes the pin for
    * every later page — a publish landing between pages must not yield
    * a mixed-version concatenation (the cursor would be resuming
    * against a different snapshot).
    */
  def scanAll(grp: Long, at: Option[Long],
      limit: Option[Int] = None): Seq[String] = {
    var out = Vector.empty[String]
    var pin = at
    var after: Option[(Long, Long)] = None
    var done = false
    while (!done) {
      val resp = scan(grp, pin, limit, after)
      if (pin.isEmpty)
        pin = PackedStoreClient.VerRe.findFirstMatchIn(resp)
          .map(_.group(1).toLong)
      val (rs, trunc) =
        PackedStoreClient.parseRows(resp, paging = true)
      out ++= rs
      if (trunc) {
        val last = rs.last.stripPrefix("[").stripSuffix("]").split(',')
        after = Some((last(1).toLong, last(2).toLong))
      } else done = true
    }
    out
  }

  /** Resolve a cross-store tx (latest or pinned): (txId, store →
    * version). Pin SCANs to `versions("packed")` and read any other
    * store AT its recorded version for one consistent combination.
    */
  def tx(at: Option[Long] = None): (Long, Map[String, Long]) = {
    val r = request(s"TX${at.fold("")(v => s" $v")}")
    require(!r.contains("\"error\""), s"TX failed: $r")
    val id = PackedStoreClient.TxRe.findFirstMatchIn(r)
      .map(_.group(1).toLong).getOrElse(sys.error(s"malformed TX: $r"))
    val vs = PackedStoreClient.KvRe.findAllMatchIn(r)
      .map(m => m.group(1) -> m.group(2).toLong).toMap - "tx" - "batch"
    (id, vs)
  }
}

object PackedStoreClient {
  private[serving] val VerRe = """"version":(\d+)""".r
  private val CountRe = """"count":(\d+)""".r
  private[serving] val TxRe = """"tx":(\d+)""".r
  private[serving] val KvRe = """"(\w+)":(\d+)""".r

  /** Split a SCAN/RANGE response into (row literals, truncated).
    *
    * `paging = false` (the default) FAILS LOUDLY on a truncated
    * response: server-side capping was added to a protocol that never
    * truncated, so a caller that isn't following cursors would
    * otherwise quietly treat a partial page as the full partition.
    * Cursor-following callers ([[PackedStoreClient.scanAll]], or any
    * loop passing AFTER) opt in with `paging = true`.
    */
  def parseRows(
      resp: String, paging: Boolean = false): (Seq[String], Boolean) = {
    require(!resp.contains("\"error\""), s"scan failed: $resp")
    val start = resp.indexOf("\"rows\":[")
    require(start >= 0, s"malformed scan response: ${resp.take(80)}")
    val tail = resp.substring(start + 8)
    val truncated = resp.contains(""""truncated":true""")
    require(paging || !truncated,
      "scan response is TRUNCATED and this caller is not paging — " +
        "follow the (seq_id, begin_in_seq) cursor with AFTER (see " +
        "scanAll), or raise maxResponseRows")
    val end = tail.indexOf(if (truncated) "],\"truncated\"" else "]}")
    require(end >= 0, s"malformed scan response: ${resp.take(80)}")
    val content = tail.take(end)
    val rows =
      if (content.isEmpty) Nil
      else content.split("""\],\[""").toSeq.map(s =>
        "[" + s.stripPrefix("[").stripSuffix("]") + "]")
    (rows, truncated)
  }
}
