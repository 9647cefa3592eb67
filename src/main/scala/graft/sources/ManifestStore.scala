package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Thrown when a manifest publish loses a version race — a second
  * writer published the same version first. The store is untouched
  * (this writer's data files are unreferenced and will be GC'd by the
  * winner); the caller should treat the commit as failed and re-read.
  */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** Thrown when a commit's rows violate a declared expectation — the
  * store is untouched (nothing was published; staged files are swept).
  */
final class ExpectationViolation(msg: String)
  extends RuntimeException(msg)

/** Thrown when a requested version (manifest or tx record) has been
  * dropped by retention GC. Consumers DISPATCH ON THIS TYPE — a
  * follower rebuilds from the current snapshot, a server answers the
  * defined error — never on the message text (a rewording must not be
  * able to change behavior). Subtypes IllegalArgumentException so
  * pre-existing catch/intercept sites keep working.
  */
final class RetentionException(msg: String)
  extends IllegalArgumentException(msg)

/** Thrown when the vacuum/writer exclusion refuses an operation: a
  * vacuum saw an in-flight writer (whose moved-but-unmanifested files
  * it must never reclaim), a writer saw a running vacuum, or a second
  * vacuum raced the lease. The store is untouched; retry after the
  * other party finishes (leases expire, so a crash never wedges the
  * store).
  */
final class StoreBusyException(msg: String)
  extends RuntimeException(msg)

/** Thrown when a manifest declares a FORMAT GENERATION newer than this
  * reader understands (`#fmt=N` header, N > [[ManifestStore.CurrentFormat]]):
  * a future writer changed the manifest layout and an old reader must
  * refuse typed instead of misparsing — unknown `#` header LINES are
  * forward-compatible by construction (skipped as comments), so the
  * generation only bumps when the file-list encoding itself changes.
  */
final class UnsupportedFormatException(msg: String)
  extends RuntimeException(msg)

/** A MANIFEST-COMMITTED partitioned parquet store — snapshot-isolated
  * reads under a continuously rewriting writer, the capability the
  * CDC soak measured dynamic partition overwrite to lack (a raw
  * concurrent reader sees transient FileNotFound while a partition's
  * files swap). The standard lakehouse-table discipline (Delta/
  * Iceberg's core idea) built minimally and Spark-first:
  *
  *  - data files are APPEND-ONLY: a partition rewrite writes new
  *    uniquely-named files next to the old ones and never deletes in
  *    place;
  *  - each commit publishes `_manifests/v<NNN>.json` ATOMICALLY
  *    (temp + rename-no-replace): the file list of the new snapshot =
  *    the previous manifest minus the rewritten partitions' entries
  *    plus the just-written files. The no-replace rename doubles as a
  *    version CAS: if two writers race to the same version, exactly
  *    one publishes and the other gets [[ConcurrentCommitException]]
  *    (single-writer is the documented contract — the fence turns the
  *    "two streams pointed at one store" operator error into a typed
  *    failure instead of silent corruption);
  *  - readers resolve a manifest FIRST and read exactly its files —
  *    an atomic snapshot however many commits land mid-read; reading
  *    an older retained version is time travel for free;
  *  - GC (run by the single writer, after publish) deletes files no
  *    retained manifest references — a reader pinned up to
  *    `retainVersions` behind never loses a file under it.
  *
  * Partition pruning survives: manifests carry relative paths rooted
  * at the partition dirs, so a pruned read selects the listed files
  * of exactly the requested partition values.
  *
  * All metadata I/O goes through the Hadoop FileSystem of the store
  * path's scheme ([[StoreFs]]) — `file:`/local for the sandbox, HDFS/
  * object stores in a deployment (see [[StoreFs]] for the per-scheme
  * rename-atomicity story).
  */
object ManifestStore {

  private val ManifestDir = "_manifests"
  private val VersionRe = """v(\d{12})\.json""".r

  private def manifestPath(storeDir: String, v: Long): Path =
    new Path(new Path(storeDir, ManifestDir), f"v$v%012d.json")

  private def statsPath(storeDir: String, v: Long): Path =
    new Path(new Path(storeDir, ManifestDir), f"s$v%012d.json")

  private def tagsPath(storeDir: String, v: Long): Path =
    new Path(new Path(storeDir, ManifestDir), f"t$v%012d.json")

  private def vacuumLockPath(storeDir: String): Path =
    new Path(new Path(storeDir, ManifestDir), ".vacuum-lock")

  private def writerMarkerPath(storeDir: String, id: String): Path =
    new Path(new Path(storeDir, ManifestDir), s".w-$id")

  /** Clock-skew allowance when judging ANOTHER party's lease expired.
    * Lease expiries are wall-clock epochs written by OTHER hosts, so the
    * exclusion protocol assumes roughly synchronized clocks (NTP-class);
    * the margin is the safety buffer that assumption gets — a lease is
    * treated as expired only `graft.store.clock.skew.ms` (default 60 s)
    * PAST its recorded instant, so a host whose clock runs ahead within
    * the margin can never vacuum files whose writer still holds them.
    * SELF-checks (a writer judging its own marker before publishing) use
    * the strict bound instead: same clock, and the conservative
    * direction there is to abort, not to proceed.
    */
  private def skewMarginMillis: Long =
    StoreFs.conf.getLong("graft.store.clock.skew.ms", 60000L)

  /** The recorded expiry of a lease file (first `|`-separated field of
    * the first line — vacuum leases carry a fencing token after the
    * bar, writer markers are a bare expiry). None when missing or
    * concurrently deleted (reads as not-held).
    */
  private def leaseExpiry(p: Path): Option[Long] =
    if (!StoreFs.exists(p)) None
    else try StoreFs.readLines(p).headOption
      .map(_.trim.takeWhile(_ != '|').toLong)
    catch { case _: Exception => None }

  /** A lease file is held while its recorded expiry is in the future —
    * judged with the clock-skew margin (this is always an assessment of
    * ANOTHER party's lease). A crashed holder's lease simply expires —
    * the exclusion protocol can never wedge the store.
    */
  private def leaseHeld(p: Path): Boolean =
    leaseExpiry(p).exists(_ + skewMarginMillis > System.currentTimeMillis())

  /** Strict self-check of this process's OWN marker: live iff present
    * with an unexpired recorded instant on the local clock (no skew
    * margin — the writer wrote the expiry with this same clock).
    */
  private def selfMarkerLive(p: Path): Boolean =
    leaseExpiry(p).exists(_ > System.currentTimeMillis())

  /** The applied-tag ledger is bounded: a foreachBatch replay only ever
    * asks about the LAST uncommitted logical batch, so carrying the
    * most recent entries (insertion-ordered) is sufficient — the
    * ledger stays metadata-sized forever instead of growing one line
    * per batch for the life of the store (the Delta per-appId-txn
    * idea, specialized to unique-per-batch tags).
    */
  private val TagLedgerKeep = 64

  /** Applied append tags for a version (newest last). The ledger is
    * EMBEDDED in the manifest body (a `#tags=` header line), so it is
    * ATOMIC with the version — there is no ordering window in which a
    * crash publishes a manifest without its ledger (the old sidecar
    * spelling had exactly that window: a same-batch compaction rewrote
    * the `c<tag>-` filename markers AND could die before the sidecar
    * landed, reopening the duplicate-append replay the ledger exists
    * to close). The ledger is carried forward by every publish —
    * including [[compact]]'s content-identical rewrites. Versions
    * published before the embedding read their legacy `t<NNN>.json`
    * sidecar.
    */
  def tags(storeDir: String, version: Long): Seq[String] = {
    val p = manifestPath(storeDir, version)
    if (!StoreFs.exists(p)) legacyTags(storeDir, version)
    else tagsOf(parseManifest(StoreFs.readLines(p)), storeDir, version)
  }

  private def legacyTags(storeDir: String, version: Long): Seq[String] = {
    val legacy = tagsPath(storeDir, version)
    if (!StoreFs.exists(legacy)) Nil
    else StoreFs.readLines(legacy).filter(_.nonEmpty)
  }

  /** One manifest, parsed once: header timestamp + embedded ledgers +
    * data-file entries. Publish's hot path reads the previous manifest
    * through this (ONE metadata GET instead of one per field — at
    * object-store latency the re-reads, not the parse, were the cost).
    */
  private final case class Manifest(
      ts: Option[Long], hdrTags: Option[Seq[String]], files: Seq[String],
      op: Option[String], tsIdx: Option[Seq[(Long, Long)]] = None)

  /** The version→timestamp ledger (`#tsidx=` header) keeps this many
    * newest entries — the bounded LOG-CHECKPOINT analog: `TIMESTAMP AS
    * OF` resolution reads ONE manifest (the latest carries every
    * retained version's commit time) instead of one GET per retained
    * version, which at long retention and object-store latency is the
    * difference between O(1) and a scan of the commit log. Covers any
    * retention window up to the keep count; older/legacy versions fall
    * back to their own manifest's `#ts=` — never guessed.
    */
  private val TsIdxKeep = 1024

  private def parseManifest(lines: Seq[String]): Manifest = {
    // PROTOCOL gate first: a `#fmt=` generation above ours means the
    // file-list encoding itself changed — every field read below would
    // be a misparse, so refuse typed before touching any of them.
    // Headerless/legacy manifests and unknown EXTRA `#` headers are
    // fine (same generation, skipped as comments).
    lines.find(_.startsWith(FmtHeader))
      .map(_.stripPrefix(FmtHeader).trim.toInt)
      .filter(_ > CurrentFormat)
      .foreach(gen => throw new UnsupportedFormatException(
        s"manifest declares format generation $gen but this reader " +
          s"understands <= $CurrentFormat — upgrade the reader before " +
          "touching this store (refusing to misparse)"))
    Manifest(
      lines.find(_.startsWith(TsHeader)).map(_.stripPrefix(TsHeader).toLong),
      lines.find(_.startsWith(TagsHeader))
        .map(_.stripPrefix(TagsHeader).split(',').filter(_.nonEmpty).toSeq),
      lines.filter(l => l.nonEmpty && !l.startsWith("#")),
      lines.find(_.startsWith(OpHeader)).map(_.stripPrefix(OpHeader)),
      lines.find(_.startsWith(TsIdxHeader))
        .map(_.stripPrefix(TsIdxHeader).split(',').filter(_.nonEmpty).toSeq
          .map { pair =>
            val Array(v, t) = pair.split(':')
            (v.toLong, t.toLong)
          }))
  }

  /** The ledger of a parsed manifest: the embedded header when
    * present; a NEW-format manifest without a tags line (any `#`
    * header proves the format) is tagless by construction — only a
    * headerless legacy manifest pays the sidecar existence check.
    */
  private def tagsOf(
      m: Manifest, storeDir: String, version: Long): Seq[String] =
    m.hdrTags.getOrElse(
      if (m.ts.isDefined) Nil else legacyTags(storeDir, version))

  private def readManifest(storeDir: String, version: Long): Manifest = {
    val p = manifestPath(storeDir, version)
    if (!StoreFs.exists(p))
      throw new RetentionException(
        s"no manifest v$version at $storeDir (past retention?)")
    parseManifest(StoreFs.readLines(p))
  }

  private val TsHeader = "#ts="
  private val TagsHeader = "#tags="
  private val OpHeader = "#op="
  private val FmtHeader = "#fmt="
  private val TsIdxHeader = "#tsidx="

  /** The manifest format generation this code writes AND the highest it
    * reads. Bump ONLY when the file-list encoding changes shape (new
    * `#` header lines don't — readers skip unknown headers); a reader
    * meeting a higher generation throws [[UnsupportedFormatException]].
    */
  val CurrentFormat = 1

  /** Commit wall-time of a version (epoch millis) — recorded in the
    * manifest header at publish, STRICTLY increasing across versions
    * (a burst inside one millisecond is nudged forward), so
    * `TIMESTAMP AS OF` resolution is unambiguous. None for manifests
    * published before timestamps existed.
    */
  def commitTs(storeDir: String, version: Long): Option[Long] = {
    val p = manifestPath(storeDir, version)
    if (!StoreFs.exists(p)) None
    else parseManifest(StoreFs.readLines(p)).ts
  }

  private def listVersions(storeDir: String): Seq[Long] =
    StoreFs.list(new Path(storeDir, ManifestDir)).flatMap(s =>
      s.getPath.getName match {
        case VersionRe(n) => Some(n.toLong)
        case _ => None
      })

  /** Highest published version, or None for an uninitialized store. */
  def latestVersion(storeDir: String): Option[Long] = {
    val vs = listVersions(storeDir)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** `TIMESTAMP AS OF` resolution: the newest retained version whose
    * commit timestamp is <= `asOfTs`. Timestamps are strictly
    * increasing, so the answer is unique. [[RetentionException]] when
    * every retained version is newer (the snapshot as of that time
    * aged out — a defined error, never an approximation); plain
    * IllegalArgumentException for an uninitialized store. Versions
    * without a recorded timestamp (published pre-upgrade) are skipped
    * — never guessed at.
    */
  def versionAt(storeDir: String, asOfTs: Long): Long = {
    val vs = listVersions(storeDir)
    require(vs.nonEmpty, s"$storeDir holds no manifest")
    // O(1) resolution: the LATEST manifest's `#tsidx=` ledger carries
    // every recent version's commit time — one GET + the listing
    // instead of a GET per retained version (the log-checkpoint idea;
    // at long retention and object-store latency the per-version scan
    // was the cost of every AS OF pin). Versions outside the ledger
    // (legacy, or beyond the keep window) fall back to their own
    // manifest's header — never guessed.
    val idx: Map[Long, Long] =
      try readManifest(storeDir, vs.max).tsIdx
        .map(_.toMap).getOrElse(Map.empty)
      catch { case _: RetentionException => Map.empty }
    val eligible = vs.filter(v =>
      idx.get(v).orElse(commitTs(storeDir, v)).exists(_ <= asOfTs))
    if (eligible.isEmpty)
      throw new RetentionException(
        s"no retained version of $storeDir at or before ts=$asOfTs " +
          "(past retention?)")
    eligible.max
  }

  /** Snapshot read pinned by TIMESTAMP instead of version number:
    * [[read]] at [[versionAt]]`(asOfTs)`. Byte-stable mid-churn for
    * the same reason a version pin is — the resolved manifest is
    * immutable.
    */
  def readAsOf(
      spark: SparkSession, storeDir: String, schema: StructType,
      partCol: String, asOfTs: Long,
      partVals: Option[Seq[Long]] = None): DataFrame =
    read(spark, storeDir, schema, partCol, partVals,
      version = Some(versionAt(storeDir, asOfTs)))

  /** The relative data-file paths a version's snapshot consists of.
    * A version whose manifest aged out throws the typed
    * [[RetentionException]].
    */
  def files(storeDir: String, version: Long): Seq[String] =
    readManifest(storeDir, version).files

  private def listDataFiles(storeDir: String, partDir: String): Seq[String] =
    StoreFs.list(new Path(storeDir, partDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")
        && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(s => s"$partDir/${s.getPath.getName}").sorted

  // ---- ZONE MAPS (per-file column min/max, Delta-style skipping) ----
  // A version's optional stats sidecar `_manifests/s<NNN>.json` maps
  // each manifest entry to integral-column bounds harvested from the
  // file's own parquet FOOTER at commit time (pure metadata reads — no
  // Spark job, no data scan). A range read prunes files whose bounds
  // cannot intersect BEFORE Spark ever lists them: at 100 TB the
  // manifest-level skip is the read-side lever after partition pruning
  // — per-commit files are naturally clustered on arrival order (time,
  // id ranges), so a range-predicated consumer opens a fraction of the
  // snapshot. Skipping is best-effort by construction: a file or
  // column without bounds is always kept, so a missing/stale sidecar
  // degrades to a full snapshot read, never a wrong one.

  /** The stats-sidecar key carrying a file's exact ROW COUNT (written
    * as `#rows=N..N` — parse-compatible with the bounds format, and
    * `#` keeps it out of any real column's namespace). Harvested from
    * the same footer read as the bounds, it powers metadata-only
    * COUNT ([[metaCount]]) and file-sizing decisions
    * ([[compactClustered]]) with zero file opens.
    */
  private val RowsKey = "#rows"

  /** Footer bounds of `cols` (INT32/INT64 only) for one data file,
    * plus the file's exact row count under [[RowsKey]]; a column is
    * reported only when EVERY row group carries usable stats — a
    * single statless chunk makes the file unprunable on that column
    * (all-null chunks are fine: nulls never match a range).
    */
  private def footerStats(
      storeDir: String, rel: String, cols: Seq[String]):
      Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(storeDir, rel), StoreFs.conf))
    try {
      val blocks = rd.getFooter.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      def boundsOf(): Map[String, (Long, Long)] = cols.flatMap { name =>
        val chunks = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == name))
        val bounds = chunks.map { c =>
          val tn = c.getPrimitiveType.getPrimitiveTypeName
          val st = c.getStatistics
          if (st == null || (tn != INT64 && tn != INT32)) None
          else if (!st.hasNonNullValue)
            // all-null chunk: no values to bound, nothing to widen
            if (st.isNumNullsSet && st.getNumNulls == c.getValueCount)
              Some(None)
            else None
          else Some(Some((st.genericGetMin, st.genericGetMax) match {
            case (mn: java.lang.Long, mx: java.lang.Long) =>
              (mn.longValue, mx.longValue)
            case (mn: java.lang.Integer, mx: java.lang.Integer) =>
              (mn.longValue, mx.longValue)
            case _ => return Map.empty
          }))
        }
        if (chunks.size != blocks.size || bounds.contains(None)) None
        else {
          val vs = bounds.flatMap(_.get)
          if (vs.isEmpty) None
          else Some(name -> ((vs.map(_._1).min, vs.map(_._2).max)))
        }
      }.toMap
      boundsOf() + (RowsKey -> ((rowCount, rowCount)))
    } finally rd.close()
  }

  /** Metadata-only COUNT(*): the snapshot's row count summed from the
    * stats sidecar's per-file [[RowsKey]] entries — zero file opens,
    * zero Spark jobs. None when any selected file predates row-count
    * harvesting (the answer would be a guess, never a wrong number).
    */
  def metaCount(
      storeDir: String, partCol: String,
      partVals: Option[Seq[Long]] = None,
      version: Option[Long] = None): Option[Long] = {
    val v = version.orElse(latestVersion(storeDir)).getOrElse(return None)
    val snap = selectFiles(storeDir, partCol, partVals, Some(v))
    val st = stats(storeDir, v)
    val counts = snap.map(f => st.get(f).flatMap(_.get(RowsKey)).map(_._1))
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** Metadata-only MIN/MAX of an integral column: folded from the
    * per-file zone-map bounds — zero file opens. SQL semantics (nulls
    * ignored — parquet bounds already exclude them). None when any
    * selected file lacks bounds for the column (statless or all-null
    * files make the exact answer unknowable from metadata) or the
    * selection is empty.
    */
  def metaMinMax(
      storeDir: String, colName: String, partCol: String,
      partVals: Option[Seq[Long]] = None,
      version: Option[Long] = None): Option[(Long, Long)] = {
    val v = version.orElse(latestVersion(storeDir)).getOrElse(return None)
    val snap = selectFiles(storeDir, partCol, partVals, Some(v))
    if (snap.isEmpty) return None
    val st = stats(storeDir, v)
    val bounds = snap.map(f => st.get(f).flatMap(_.get(colName)))
    if (bounds.exists(_.isEmpty)) None
    else Some((bounds.flatten.map(_._1).min, bounds.flatten.map(_._2).max))
  }

  /** Harvest [[footerStats]] for MANY files in one parallel pass — a
    * bounded IO pool, not a serial driver loop: an init/compact over a
    * large store is O(files) footer reads, and at object-store latency
    * (tens of ms each) the serial spelling turns a 10k-file init into
    * minutes of driver idle. Edit-sized commits (a handful of added
    * files) skip the pool entirely.
    */
  private def harvestStats(
      storeDir: String, rels: Seq[String], cols: Seq[String]):
      Map[String, Map[String, (Long, Long)]] = {
    if (rels.lengthCompare(4) <= 0)
      return rels.map(f => f -> footerStats(storeDir, f, cols)).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, rels.size),
      (r: Runnable) => {
        val t = new Thread(r, "manifest-footer-harvest")
        t.setDaemon(true)
        t
      })
    try {
      rels.map(f => f -> pool.submit(
          new java.util.concurrent.Callable[Map[String, (Long, Long)]] {
            override def call(): Map[String, (Long, Long)] =
              footerStats(storeDir, f, cols)
          }))
        .map { case (f, fut) => f -> fut.get() }.toMap
    } finally pool.shutdown()
  }

  /** The stats sidecar of a version: manifest entry → column bounds.
    * Empty when the version published without `statsCols` (older
    * stores, stats-free commits) — every file then reads as unprunable.
    */
  def stats(
      storeDir: String, version: Long):
      Map[String, Map[String, (Long, Long)]] = {
    val p = statsPath(storeDir, version)
    if (!StoreFs.exists(p)) Map.empty
    else StoreFs.readLines(p).filter(_.nonEmpty).map { line =>
      val parts = line.split('|')
      parts.head -> parts.tail.map { kv =>
        val Array(c, range) = kv.split("=", 2)
        val Array(lo, hi) = range.split("\\.\\.", 2)
        c -> ((lo.toLong, hi.toLong))
      }.toMap
    }.toMap
  }

  private def writeStats(
      storeDir: String, v: Long,
      entries: Map[String, Map[String, (Long, Long)]]): Unit = {
    val body = entries.toSeq.sortBy(_._1).map { case (rel, cols) =>
      (rel +: cols.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s"$c=$lo..$hi"
      }).mkString("|")
    }.mkString("\n")
    // only this version's manifest winner writes s<v> — no race to lose
    StoreFs.writeAtomicNoReplace(statsPath(storeDir, v), body)
    ()
  }

  /** Initialize the store: write `rows` partitioned by `partCol` and
    * publish manifest v0 (+ a stats sidecar when `statsCols` is set).
    */
  def init(
      rows: DataFrame, partCol: String, storeDir: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    bloomCols.foldLeft(rows.repartition(col(partCol)).write) {
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }.mode("overwrite").partitionBy(partCol).parquet(storeDir)
    val parts = StoreFs.list(new Path(storeDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath.getName).sorted
    val fileList = parts.flatMap(listDataFiles(storeDir, _))
    val ts = System.currentTimeMillis()
    writeManifest(storeDir, 0L, fileList,
      ts, tags = Nil, op = "init", tsIdx = Seq(0L -> ts))
    if (statsCols.nonEmpty)
      writeStats(storeDir, 0L, harvestStats(storeDir, fileList, statsCols))
    0L
  }

  /** COMMIT one rewrite of the partitions holding `touched` values:
    * append `rows` (new files only — nothing deleted), publish the
    * next manifest (previous snapshot minus the touched partitions'
    * entries, plus the files this call added), GC unreferenced files
    * past `retainVersions`. Single-writer discipline (the CDC
    * foreachBatch contract); a racing second writer fails the version
    * CAS with [[ConcurrentCommitException]]. Returns the published
    * version.
    *
    * INVARIANT: every row's `partCol` value must be in `touched` — a
    * row outside would land in an unlisted partition dir, stay out of
    * the manifest, and be destroyed by a later sweep. Enforced for
    * free: the staged write exposes exactly which partitions got rows,
    * so an outside value fails fast before anything touches the live
    * tree (no extra Spark job).
    *
    * The commit's own files are KNOWN, not diffed: `rows` lands in a
    * commit-private staging dir and each data file moves into its live
    * partition dir under a commit-unique name. A concurrent commit's
    * in-flight files can therefore never leak into this manifest (a
    * before/after listing diff would absorb them — spec-caught), and
    * the hot path does zero live-dir listings.
    *
    * REPLAY-safe: re-running a crashed commit stages fresh files, but
    * the manifest lists only the LATEST attempt's files for each
    * touched partition; a crashed attempt's never-manifested orphans
    * are swept by [[vacuum]] (per-commit GC is manifest-diff-based and
    * never lists the whole store — see [[gc]]).
    */
  def commit(
      rows: DataFrame, partCol: String, touched: Seq[Long],
      storeDir: String, retainVersions: Int = 8,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      expectations: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      retainAgeMillis: Option[Long] = None,
      baseVersion: Option[Long] = None,
      writerLeaseTtlMillis: Long = DefaultWriterLeaseTtlMillis):
      Long =
    publish(rows, partCol, Some(touched), storeDir, retainVersions,
      statsCols, bloomCols = bloomCols, expectations = expectations,
      retainAgeMillis = retainAgeMillis, baseVersion = baseVersion,
      writerLeaseTtlMillis = writerLeaseTtlMillis)

  /** COMMIT-TIME CHECK constraints (the Delta expectation analog):
    * every predicate must hold on every row of the batch, evaluated in
    * ONE aggregate over the STAGED FILES before any of them moves into
    * the live tree — the checked rows are byte-for-byte the rows the
    * manifest would publish, so a nondeterministic batch plan cannot
    * pass the check and stage something else. A violating publish
    * throws [[ExpectationViolation]] with per-expectation violation
    * counts, staging is deleted, and the store stays exactly as it
    * was. SQL CHECK semantics: a NULL predicate result passes
    * (constrain nullability explicitly with `isNotNull`).
    */
  def checkExpectations(
      rows: DataFrame,
      expectations: Seq[(String, org.apache.spark.sql.Column)]): Unit = {
    if (expectations.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce => cl, lit => l, sum => sm, when => wn}
    val aggs = expectations.map { case (n, c) =>
      sm(wn(cl(c, l(true)) === false, 1L).otherwise(0L)).as(n) }
    val row = rows.agg(aggs.head, aggs.tail: _*).head
    val bad = expectations.zipWithIndex.collect {
      case ((n, _), i) if row.getLong(i) > 0 => s"$n: ${row.getLong(i)} rows"
    }
    if (bad.nonEmpty)
      throw new ExpectationViolation(
        s"commit rejected — expectation(s) violated: ${bad.mkString("; ")}")
  }

  /** APPEND one batch: stage + move `rows`' files like [[commit]], but
    * the next manifest KEEPS every previous entry — partitions
    * accumulate files instead of rewriting (the fact-table ingest
    * shape). Arrival-ordered appends make the zone maps bite: each
    * appended file carries tight bounds on whatever the batch was
    * clustered by (time, id ranges), so range reads skip historic
    * files at the manifest. Same single-writer/CAS/GC discipline.
    *
    * `tag` makes the append EXACTLY-ONCE under foreachBatch replay:
    * the tag becomes the commit-unique file prefix, so a replayed
    * batch finds its own files already manifested and returns the
    * current version without appending a duplicate. A crash mid-append
    * (files moved, manifest unpublished) leaves only orphans —
    * invisible to readers, swept by [[vacuum]] — and the replay
    * appends cleanly. Tags must be unique per logical batch
    * (`b<batchId>` from a checkpointed stream is exactly that).
    */
  def append(
      rows: DataFrame, partCol: String, storeDir: String,
      retainVersions: Int = 8, statsCols: Seq[String] = Nil,
      tag: Option[String] = None, maxRetries: Int = 8,
      bloomCols: Seq[String] = Nil,
      expectations: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      retainAgeMillis: Option[Long] = None,
      writerLeaseTtlMillis: Long = DefaultWriterLeaseTtlMillis):
      Long = {
    tag.foreach { t =>
      require(t.matches("[A-Za-z0-9_-]+"), s"unsafe append tag: $t")
      latestVersion(storeDir).foreach { v =>
        // the DURABLE check is the tag ledger (embedded in the
        // manifest, so it survives compaction's filename rewrites);
        // the `c<tag>-` filename marker remains as a fallback for
        // legacy manifests published before the embedding. One
        // manifest read serves both checks.
        val m = readManifest(storeDir, v)
        val marker = s"c$t-"
        if (tagsOf(m, storeDir, v).contains(t) ||
            m.files.exists(_.split('/').last.startsWith(marker)))
          return v // this batch already appended (foreachBatch replay)
      }
    }
    publish(
      rows, partCol, None, storeDir, retainVersions, statsCols, tag,
      bloomCols = bloomCols, expectations = expectations,
      retainAgeMillis = retainAgeMillis, maxRetries = maxRetries,
      writerLeaseTtlMillis = writerLeaseTtlMillis)
  }

  /** The partition dirs whose entry sets CHANGED between two retained
    * versions — the winner's footprint a losing committer rebases
    * against (appended, rewritten or dropped entries all count).
    */
  private def changedPartitions(
      storeDir: String, from: Long, to: Long): Set[String] = {
    def byPart(v: Long): Map[String, Set[String]] =
      files(storeDir, v).groupBy(_.takeWhile(_ != '/'))
        .view.mapValues(_.toSet).toMap
    val a = byPart(from)
    val b = byPart(to)
    (a.keySet ++ b.keySet).filter(d =>
      a.getOrElse(d, Set.empty) != b.getOrElse(d, Set.empty))
  }

  /** Shared publish path: `touched = Some(vals)` rewrites those
    * partitions (carry drops their previous entries), `None` appends
    * (carry keeps everything).
    *
    * OPTIMISTIC concurrency on the metadata step (the data files move
    * once and stay valid; only the manifest CAS retries):
    *  - APPENDS always rebase a lost CAS — appends commute (no append
    *    drops another's entries), so re-deriving the next manifest
    *    over the winner's and re-publishing is always sound.
    *  - REWRITES rebase IFF the winners' touched partitions are
    *    DISJOINT from this commit's (the Delta/Iceberg conflict rule):
    *    the winner's entries carry for every partition we did not
    *    rewrite, ours replace the partitions we did — content equals
    *    the serial order. A winner that touched one of OUR partitions
    *    (rewrote it, appended into it, dropped it) is a REAL conflict:
    *    our staged rows were derived from a stale read of exactly that
    *    partition, and the typed [[ConcurrentCommitException]]
    *    surfaces so the caller re-reads and retries the whole edit.
    *    `baseVersion` is the version the caller's rows were READ from
    *    (merge/compact/deleteWhere pass theirs); commits landing
    *    between that read and this publish are conflict-checked too,
    *    not just commits racing the CAS itself.
    */
  private def publish(
      rows: DataFrame, partCol: String, touched: Option[Seq[Long]],
      storeDir: String, retainVersions: Int,
      statsCols: Seq[String], tag: Option[String] = None,
      bloomCols: Seq[String] = Nil,
      expectations: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      orderWithin: Seq[org.apache.spark.sql.Column] = Nil,
      maxRecordsPerFile: Long = 0L,
      retainAgeMillis: Option[Long] = None,
      baseVersion: Option[Long] = None,
      maxRetries: Int = 8,
      writerLeaseTtlMillis: Long = DefaultWriterLeaseTtlMillis):
      Long = {
    // an un-manifested store must fail fast: treating it as empty
    // would make the GC below delete every pre-existing data file
    require(latestVersion(storeDir).nonEmpty,
      s"$storeDir holds no manifest — initialize with ManifestStore.init")
    val base = baseVersion.orElse(latestVersion(storeDir)).get
    val commitId =
      tag.getOrElse(java.util.UUID.randomUUID().toString.take(12))
    val staging = new Path(storeDir, s".staging-c$commitId")
    val fs = StoreFs.fs(staging)
    // VACUUM/WRITER EXCLUSION, two-flag protocol: the writer plants
    // its presence marker FIRST, then checks the vacuum lease; vacuum
    // takes its lease first, then checks markers. Whatever the
    // interleaving, at least one party sees the other — a sweep can
    // never run while this commit's files sit moved-but-unmanifested
    // (or still in a staging dir vacuum would reclaim as crash litter).
    // Markers are per-commit (concurrent appenders never serialize)
    // and expire, so a crashed writer cannot wedge maintenance.
    val marker = writerMarkerPath(storeDir, commitId)
    StoreFs.writeOverwrite(marker,
      (System.currentTimeMillis() + writerLeaseTtlMillis).toString)
    if (leaseHeld(vacuumLockPath(storeDir))) {
      StoreFs.delete(marker)
      throw new StoreBusyException(
        s"a vacuum holds the lease on $storeDir — retry this commit " +
          "after it finishes (leases expire)")
    }
    // RENEW the marker for as long as the commit runs: a data write
    // outliving a fixed TTL would let a concurrent vacuum read the
    // marker as stale, reclaim it, and sweep this commit's moved-but-
    // unmanifested files — the manifest CAS would then publish
    // references to deleted files. A daemon heartbeat (every TTL/3)
    // keeps the marker live however long the Spark write takes; if the
    // heartbeat itself dies, the marker expires and the LIVENESS CHECK
    // before the CAS (below) aborts the publish instead of risking a
    // swept-file reference.
    val renewer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"manifest-writer-lease-$commitId")
        t.setDaemon(true)
        t
      })
    renewer.scheduleAtFixedRate(
      () => try StoreFs.writeOverwrite(marker,
          (System.currentTimeMillis() + writerLeaseTtlMillis).toString)
        catch { case _: Exception => () }, // missed beat: the pre-CAS check decides
      math.max(1L, writerLeaseTtlMillis / 3),
      math.max(1L, writerLeaseTtlMillis / 3),
      java.util.concurrent.TimeUnit.MILLISECONDS)
    try {
    val added = try {
      // `orderWithin` CLUSTERS each partition's rows before the write
      // (one local sort, no extra shuffle) and `maxRecordsPerFile`
      // cuts the sorted stream into several files per partition — so
      // each file covers a contiguous slice of the sort key and its
      // zone-map bounds tile the key space in compact boxes (the
      // OPTIMIZE ZORDER write shape; see [[compactClustered]])
      val shaped =
        if (orderWithin.isEmpty) rows.repartition(col(partCol))
        else rows.repartition(col(partCol))
          .sortWithinPartitions(col(partCol) +: orderWithin: _*)
      val w0 = bloomCols.foldLeft(shaped.write) {
        (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
      }
      val w1 =
        if (maxRecordsPerFile > 0)
          w0.option("maxRecordsPerFile", maxRecordsPerFile.toString)
        else w0
      w1.mode("overwrite").partitionBy(partCol)
        .parquet(staging.toString)
      val stagedDirs = StoreFs.list(staging)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      // CHECK constraints run against the STAGED FILES — the exact
      // bytes this commit will publish, not a second execution of the
      // batch's plan (a nondeterministic source could pass a
      // plan-level check yet stage different, violating rows). The
      // staging dir is still private here: a violation deletes it in
      // the finally and the store is untouched. An empty batch stages
      // no files and passes vacuously (CHECK over zero rows).
      if (expectations.nonEmpty && stagedDirs.nonEmpty)
        checkExpectations(
          rows.sparkSession.read.option("basePath", staging.toString)
            .parquet(staging.toString),
          expectations)
      touched.foreach { t =>
        val touchedDirs = t.map(v => s"$partCol=$v").toSet
        val outside = stagedDirs.map(_.getPath.getName).filterNot(touchedDirs)
        require(outside.isEmpty,
          s"commit rows landed in partition(s) ${outside.mkString(", ")} " +
            s"outside touched=${t.mkString(", ")} — they would be " +
            "unlisted in the manifest and destroyed by a later sweep")
      }
      stagedDirs.sortBy(_.getPath.getName).flatMap { d =>
        val liveDir = new Path(storeDir, d.getPath.getName)
        fs.mkdirs(liveDir)
        StoreFs.list(d.getPath)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
          .map { s =>
            val name = s"c$commitId-${s.getPath.getName}"
            require(fs.rename(s.getPath, new Path(liveDir, name)),
              s"staging move failed for ${s.getPath}")
            s"${d.getPath.getName}/$name"
          }
      }
    } finally {
      StoreFs.delete(staging, recursive = true)
      ()
    }
    // added-file stats harvested ONCE — rebase retries are
    // metadata-only and must not re-read footers
    val addedStats =
      if (statsCols.isEmpty) Map.empty[String, Map[String, (Long, Long)]]
      else harvestStats(storeDir, added, statsCols)
    var attempt = 0
    while (true) {
      val prev = latestVersion(storeDir).get
      // REWRITE conflict check against everything that landed since
      // the caller's read: winners must have touched only DISJOINT
      // partitions for this commit's staged rows to still be valid
      touched.foreach { t =>
        if (prev != base) {
          val ourDirs = t.map(x => s"$partCol=$x").toSet
          // a RetentionException here means the BASE manifest aged out
          // under a racing winner's GC (tight retention + churn) — the
          // staged read is stale by definition, which is exactly the
          // re-read-and-retry case: surface the retryable conflict so
          // merge's maxEditRetries loop handles it, not a retention
          // error it would rethrow
          val conflict =
            try changedPartitions(storeDir, base, prev) & ourDirs
            catch {
              case e: RetentionException =>
                throw new ConcurrentCommitException(
                  s"rewrite base v$base of $storeDir aged out under a " +
                    "racing winner's retention GC — the staged rows are " +
                    s"stale; re-read and retry the edit (${e.getMessage})")
            }
          if (conflict.nonEmpty)
            throw new ConcurrentCommitException(
              s"rewrite conflict at $storeDir: version(s) ${base + 1}.." +
                s"$prev touched partition(s) ${conflict.mkString(", ")} " +
                "this commit also rewrites — the staged rows are stale; " +
                "re-read and retry the edit")
        }
      }
      // ONE read of the previous manifest serves carry, ledger and
      // timestamp alike (object-store GETs are the metadata cost)
      val prevM = readManifest(storeDir, prev)
      val carry = touched match {
        case Some(t) =>
          val touchedDirs = t.map(x => s"$partCol=$x").toSet
          prevM.files
            .filterNot(p => touchedDirs.exists(d => p.startsWith(d + "/")))
        case None => prevM.files
      }
      val v = prev + 1L
      // tag ledger: every publish carries the previous version's applied
      // tags forward (bounded; newest last), appending this commit's tag
      // if it has one — so compaction/merge rewrites never lose replay
      // evidence with the filenames they fold away. The ledger rides IN
      // the manifest body (one atomic CAS), so a crash can never publish
      // a version without its ledger
      val prevTags = tagsOf(prevM, storeDir, prev)
      val newTags =
        (prevTags ++ tag.filterNot(prevTags.contains)).takeRight(TagLedgerKeep)
      // commit wall-time: strictly increasing across versions (a burst
      // inside one ms is nudged +1), so TIMESTAMP AS OF is unambiguous
      val ts = math.max(System.currentTimeMillis(),
        prevM.ts.getOrElse(0L) + 1L)
      val op = (touched, orderWithin) match {
        case (None, _) => "append"
        case (Some(_), ow) if ow.nonEmpty => "cluster"
        case (Some(_), _) => "commit"
      }
      // LIVENESS CHECK at the publish instant (strict, own clock): an
      // expired or vacuum-reclaimed marker means a concurrent sweep may
      // already have treated this commit's moved-but-unmanifested files
      // as orphans — publishing would reference deleted files. Abort
      // typed; the caller re-stages (the staged data was consumed, the
      // store is untouched).
      if (!selfMarkerLive(marker))
        throw new StoreBusyException(
          s"writer marker for commit $commitId on $storeDir expired or " +
            "was reclaimed before the manifest CAS — a concurrent vacuum " +
            "may have swept this commit's files; re-run the commit")
      // version→ts ledger carried forward + this commit appended (a
      // legacy predecessor without the ledger seeds from its own ts)
      val newTsIdx = (prevM.tsIdx.getOrElse(
        prevM.ts.map(t => Seq(prev -> t)).getOrElse(Nil)) :+ (v -> ts))
        .takeRight(TsIdxKeep)
      try {
        writeManifest(storeDir, v, (carry ++ added).sorted, ts, newTags, op,
          tsIdx = newTsIdx)
        // CAS won — only this version's winner writes its sidecars
        if (statsCols.nonEmpty) {
          // carried files keep their previous bounds (the files are
          // immutable); only the just-added files paid a footer read
          val carried = stats(storeDir, prev)
          writeStats(storeDir, v,
            carry.flatMap(f => carried.get(f).map(f -> _)).toMap ++
              addedStats)
        }
        gc(storeDir, partCol, v, retainVersions, retainAgeMillis)
        return v
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          // a racer won this version: loop — rebase over the new
          // latest and retry the metadata step only (appends
          // re-derive unconditionally; rewrites re-run the
          // disjointness check first)
      }
    }
    -1L // unreachable
    } finally {
      renewer.shutdownNow()
      StoreFs.delete(marker)
      ()
    }
  }

  /** Default writer-marker lease: long enough for an edit-sized commit
    * with headroom; the publish heartbeat renews it for however long
    * the data write actually runs, so the TTL only matters for CRASHED
    * writers (how long maintenance waits before reclaiming their
    * marker). Long batches on slow stores can still raise it through
    * commit/append's `writerLeaseTtlMillis`.
    */
  val DefaultWriterLeaseTtlMillis: Long = 30L * 60L * 1000L

  private def writeManifest(
      storeDir: String, v: Long, fileList: Seq[String],
      ts: Long, tags: Seq[String], op: String,
      tsIdx: Seq[(Long, Long)] = Nil): Unit = {
    StoreFs.mkdirs(new Path(storeDir, ManifestDir))
    val target = manifestPath(storeDir, v)
    // header lines (`#`-prefixed — no data file starts with '#') ride
    // in the same atomic CAS as the file list: commit time + ledgers +
    // operation kind can never be torn from their version
    val header = Seq(s"$FmtHeader$CurrentFormat", s"$TsHeader$ts",
      s"$OpHeader$op") ++
      (if (tags.nonEmpty) Seq(s"$TagsHeader${tags.mkString(",")}") else Nil) ++
      (if (tsIdx.nonEmpty)
        Seq(s"$TsIdxHeader${tsIdx.map { case (iv, it) => s"$iv:$it" }
          .mkString(",")}")
      else Nil)
    if (!StoreFs.writeAtomicNoReplace(
        target, (header ++ fileList).mkString("\n")))
      throw new ConcurrentCommitException(
        s"manifest v$v already published at $storeDir — a second writer " +
          "won the version race; this commit's files are unreferenced " +
          "and will be GC'd by the winner")
  }

  /** Retention GC, MANIFEST-DIFF based: drop manifests older than the
    * retention window and delete exactly the files they reference that
    * no retained manifest still does. Cost is O(manifest lines), never
    * a listing of the store's partition dirs — at 100 TB-scale
    * partition counts, a per-micro-batch full-store LIST (thousands of
    * object-store calls) would dominate the commit; the diff touches
    * only metadata the commit already read. Files that never made a
    * manifest (a crashed attempt's orphans) are invisible to the diff
    * by construction — [[vacuum]] sweeps those in a maintenance pass.
    *
    * Retention is the COUNT window, tightened by the optional AGE
    * bound: with `retainAgeMillis` set, a version older than the bound
    * drops even when inside the count window (the GDPR-friendly "keep
    * at most 7 days" contract) — except the latest, which always
    * survives. Commit timestamps are strictly increasing, so age
    * dropping is contiguous from the bottom; a pre-timestamp manifest
    * has no recorded age and is never age-dropped (count-dropped
    * only — retention must never guess).
    */
  private def gc(
      storeDir: String, partCol: String, latest: Long,
      retainVersions: Int,
      retainAgeMillis: Option[Long] = None): Unit = {
    val keepFrom = latest - (retainVersions - 1)
    val ageCutoff = retainAgeMillis.map(System.currentTimeMillis() - _)
    val versions = listVersions(storeDir)
    val (dropped, retained) = versions.partition(v =>
      v < keepFrom ||
        (v != latest && ageCutoff.exists(c =>
          commitTs(storeDir, v).exists(_ < c))))
    if (dropped.isEmpty) return
    val referenced = retained.iterator.flatMap(files(storeDir, _)).toSet
    val dead = dropped.iterator.flatMap(files(storeDir, _)).toSet -- referenced
    dead.foreach { p =>
      // ChecksumFileSystem (local) reclaims the hidden .crc sibling
      // with the data file; HDFS/S3 have none
      StoreFs.delete(new Path(storeDir, p)); ()
    }
    dropped.foreach { v =>
      StoreFs.delete(manifestPath(storeDir, v))
      StoreFs.delete(statsPath(storeDir, v))
      StoreFs.delete(tagsPath(storeDir, v))
    }
    // a partition dir emptied by the diff drops (recursive: only
    // hidden checksum leftovers can remain under it)
    dead.map(_.takeWhile(_ != '/')).toSeq.distinct.foreach { dirName =>
      val d = new Path(storeDir, dirName)
      if (StoreFs.list(d).isEmpty) { StoreFs.delete(d, recursive = true); () }
    }
  }

  /** MERGE by key — the Delta MERGE INTO analog for point upserts and
    * deletes: rewrite ONLY the partitions holding affected keys, as
    * one atomic commit. `upserts` rows replace same-key rows and
    * insert new ones (they carry `partCol`, so their partitions are
    * known); `deleteKeys` may live ANYWHERE — their partitions are
    * discovered through [[locate]] (zone maps + blooms, footer-sized
    * metadata reads), which is what makes a "delete row N wherever it
    * is" request (the GDPR-erasure shape) affordable without a store
    * scan. Point-edit tier: per delete key one locate pass — for bulk
    * edit streams use the CDC rewrite path instead. Same
    * single-writer/CAS/retention discipline; readers pinned to earlier
    * versions are untouched.
    *
    * CONTRACT: upsert keys must be partition-stable (the row's
    * `partCol` derives from the key — pmod layouts), so the old row
    * lives in the partition the upsert touches. A key that MOVES
    * partitions must also be listed in `deleteKeys`, or its old row
    * would survive untouched elsewhere.
    */
  def merge(
      spark: SparkSession, storeDir: String, schema: StructType,
      partCol: String, keyCol: String,
      upserts: DataFrame, deleteKeys: Seq[Long] = Nil,
      retainVersions: Int = 8, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, maxEditRetries: Int = 0,
      retainAgeMillis: Option[Long] = None): Long = {
    // TRANSACTION retry (the Delta MERGE conflict-retry shape, opt-in):
    // a rewrite conflict means this edit was derived from a stale read
    // of a partition a racer also rewrote — unlike the metadata-only
    // rebase (disjoint footprints, handled inside publish), the only
    // sound recovery is to RE-READ at the new head and re-derive the
    // whole edit, which is exactly a fresh merge. With retries, racing
    // merges on overlapping partitions land in SOME serial order
    // instead of one side failing; the typed failure remains the
    // default (maxEditRetries = 0) so an unaware caller still can't
    // lose an edit silently.
    var attempt = 0
    while (true) {
      try return mergeOnce(spark, storeDir, schema, partCol, keyCol,
        upserts, deleteKeys, retainVersions, statsCols, bloomCols,
        retainAgeMillis)
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxEditRetries) throw e
      }
    }
    -1L // unreachable
  }

  private def mergeOnce(
      spark: SparkSession, storeDir: String, schema: StructType,
      partCol: String, keyCol: String,
      upserts: DataFrame, deleteKeys: Seq[Long],
      retainVersions: Int, statsCols: Seq[String],
      bloomCols: Seq[String],
      retainAgeMillis: Option[Long]): Long = {
    import org.apache.spark.sql.functions.{col => c}
    val base = latestVersion(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"$storeDir holds no manifest — initialize with init"))
    val upParts = upserts.select(c(partCol)).distinct()
      .collect().map(_.getLong(0)).toSeq
    // one batched location pass: every candidate file's footer opens
    // ONCE for all K delete keys (not K times)
    val delParts = locateAll(storeDir, partCol, keyCol, deleteKeys,
        version = Some(base))
      .valuesIterator.flatten
      .map(_.takeWhile(_ != '/').stripPrefix(s"$partCol="))
      .map(_.toLong).toSeq.distinct
    val touched = (upParts ++ delParts).distinct
    if (touched.isEmpty) return base
    val current = read(spark, storeDir, schema, partCol, Some(touched),
      version = Some(base))
    val editedKeys = upserts.select(c(keyCol)).distinct()
      .unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(deleteKeys.map(Row(_)), 1),
        StructType(Seq(schema(keyCol)))))
    val next = current
      .join(editedKeys, Seq(keyCol), "left_anti")
      .unionByName(upserts.select(schema.fieldNames.map(c): _*))
    commit(next, partCol, touched, storeDir, retainVersions,
      statsCols, bloomCols, baseVersion = Some(base),
      retainAgeMillis = retainAgeMillis)
  }

  /** MAINTENANCE compaction for appended stores: rewrite every
    * partition holding more than `maxFilesPerPartition` accumulated
    * files into one file, publishing a content-identical new version
    * (readers pinned to earlier versions are untouched — same
    * append-only/CAS/retention discipline as any commit). Append-heavy
    * ingest accumulates a file per batch per partition; at object-
    * store scale the per-file open cost eventually dominates a scan,
    * and this is the standard OPTIMIZE-style remedy. Zone-map bounds
    * are re-harvested for the compacted files (the union of the old
    * bounds, wider per file — the compaction trade: fewer opens,
    * coarser skipping). Writer-side only. Returns the new version,
    * or None when nothing exceeded the threshold.
    */
  def compact(
      spark: SparkSession, storeDir: String, schema: StructType,
      partCol: String, maxFilesPerPartition: Int = 4,
      retainVersions: Int = 8, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      retainAgeMillis: Option[Long] = None): Option[Long] = {
    val v = latestVersion(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"$storeDir holds no manifest — nothing to compact"))
    val byPart = files(storeDir, v).groupBy(_.takeWhile(_ != '/'))
    val crowded = byPart.filter(_._2.size > maxFilesPerPartition)
    if (crowded.isEmpty) return None
    val vals = crowded.keys.map(_.stripPrefix(s"$partCol=").toLong).toSeq
    val rows = read(spark, storeDir, schema, partCol,
      partVals = Some(vals), version = Some(v))
    Some(commit(
      rows, partCol, vals, storeDir, retainVersions, statsCols, bloomCols,
      baseVersion = Some(v), retainAgeMillis = retainAgeMillis))
  }

  /** DELETE WHERE `colName BETWEEN lo AND hi` — the range-predicate
    * delete (retention sweeps, GDPR date-range erasure) MERGE's
    * point-key path doesn't cover: the zone maps name the partitions
    * whose files intersect the range (metadata only), ONLY those
    * rewrite from their filtered content, every other partition's
    * files carry verbatim. One atomic commit, pinned readers
    * untouched; a range no file intersects is a no-op returning the
    * current version.
    */
  def deleteWhere(
      spark: SparkSession, storeDir: String, schema: StructType,
      partCol: String, colName: String, lo: Long, hi: Long,
      retainVersions: Int = 8, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      retainAgeMillis: Option[Long] = None): Long = {
    val v = latestVersion(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"$storeDir holds no manifest — nothing to delete from"))
    val touched = selectFiles(storeDir, partCol, None, Some(v),
      range = Some((colName, lo, hi)))
      .map(_.takeWhile(_ != '/').stripPrefix(s"$partCol="))
      .map(_.toLong).distinct.sorted
    if (touched.isEmpty) return v
    // SQL DELETE semantics: only predicate-TRUE rows leave — a NULL
    // predicate (null key) keeps its row, so the negation must not
    // swallow nulls
    val kept = read(spark, storeDir, schema, partCol,
      Some(touched), Some(v))
      .filter(col(colName).isNull || !col(colName).between(lo, hi))
    commit(kept, partCol, touched, storeDir, retainVersions,
      statsCols, bloomCols, baseVersion = Some(v),
      retainAgeMillis = retainAgeMillis)
  }

  /** CHANGE-DATA-FEED between two retained versions (the Delta CDF
    * analog, derived instead of logged): the row-level diff computed
    * from the MANIFEST diff — only files added or removed between the
    * versions are read, so an edit-sized commit yields an edit-sized
    * change read, never a snapshot scan; unchanged files (the common
    * case) are never opened. Rewritten partitions re-carry their
    * unchanged rows in new files; `exceptAll` (multiplicity-aware)
    * cancels those, leaving exactly the rows that left (`delete`) and
    * arrived (`insert`) — an update is its delete + insert pair.
    * Both endpoints must still be retained (same contract as any
    * pinned read; a defined error otherwise).
    */
  def readChanges(
      spark: SparkSession, storeDir: String, schema: StructType,
      partCol: String, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"readChanges wants fromVersion <= toVersion, got $fromVersion > $toVersion")
    val from = files(storeDir, fromVersion).toSet
    val to = files(storeDir, toVersion).toSet
    def readF(fs: Seq[String]): DataFrame =
      if (fs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else
        spark.read.schema(schema).option("basePath", storeDir)
          .parquet(fs.map(p => s"$storeDir/$p"): _*)
    val old = readF((from -- to).toSeq.sorted)
    val neu = readF((to -- from).toSeq.sorted)
    old.exceptAll(neu)
      .withColumn("change", org.apache.spark.sql.functions.lit("delete"))
      .unionByName(neu.exceptAll(old)
        .withColumn("change", org.apache.spark.sql.functions.lit("insert")))
  }

  /** OPTIMIZE ZORDER — [[compact]]'s skipping-aware sibling: rewrite
    * the selected partitions (default: ALL) with their rows
    * re-CLUSTERED by the interleaved z-value of `dims`, cut into
    * ~`filesPerPartition` files each covering a compact BOX of the
    * key space — so the manifest zone maps prune range reads on EVERY
    * clustered dimension, not just whatever the arrival order
    * happened to sort by (an append-ingested store bounds tightly on
    * its arrival key and spans the whole domain on everything else).
    * The quantization bounds and the file-sizing row counts come from
    * the METADATA tier when complete ([[metaMinMax]]/[[metaCount]] —
    * zero extra jobs) and fall back to one aggregate otherwise.
    * Content-identical publish, same single-writer/CAS/retention
    * discipline, pinned readers untouched. One shuffle (the partition
    * exchange the publish pays anyway) + one local sort.
    */
  def compactClustered(
      spark: SparkSession, storeDir: String, schema: StructType,
      partCol: String, dims: Seq[String], bits: Int = 12,
      filesPerPartition: Int = 4,
      partVals: Option[Seq[Long]] = None,
      retainVersions: Int = 8, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      onlyPartitionsOver: Option[Int] = None,
      curve: graft.operators.Layout.Curve = graft.operators.Layout.Z,
      retainAgeMillis: Option[Long] = None):
      Long = {
    import org.apache.spark.sql.functions.{lit => l, max => mx, min => mn}
    require(dims.nonEmpty, "compactClustered needs at least one dim")
    require(curve == graft.operators.Layout.Z || dims.size >= 2,
      "HILBERT clustering needs at least two dims; use Z for one")
    val v = latestVersion(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"$storeDir holds no manifest — nothing to cluster"))
    // `onlyPartitionsOver` is the CADENCE mode ([[compact]]'s
    // crowded-only trigger): a maintenance tick rewrites only
    // partitions that accumulated more than the threshold's files —
    // a per-batch cadence must never rewrite the whole store
    val targets = partVals.getOrElse {
      val byPart = files(storeDir, v).groupBy(_.takeWhile(_ != '/'))
      val picked = onlyPartitionsOver match {
        case Some(t) => byPart.filter(_._2.size > t)
        case None => byPart
      }
      picked.keys.map(_.stripPrefix(s"$partCol=").toLong).toSeq.sorted
    }
    if (targets.isEmpty) return v
    val rows = read(spark, storeDir, schema, partCol, Some(targets), Some(v))
    val dimBounds: Map[String, (Long, Long)] = dims.map { d =>
      d -> metaMinMax(storeDir, d, partCol, Some(targets), Some(v))
        .getOrElse {
          val r = rows.agg(mn(col(d)), mx(col(d))).head
          if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
        }
    }.toMap
    val quantized = dims.map { d =>
      val (lo, hi) = dimBounds(d)
      if (hi > lo) graft.operators.Layout.quantize(col(d), lo, hi, bits)
      else l(0L)
    }
    // Z interleaves any dimension count; HILBERT walks 2d-adjacent
    // unit steps, so the equal-count file cuts below cover strictly
    // contiguous boxes — tighter zone maps on every clustered dim.
    // d=2 keeps the classic kernel (existing layouts stay byte-
    // stable); d>2 routes through the Skilling transpose walk
    val z = curve match {
      case graft.operators.Layout.Hilbert if dims.size == 2 =>
        graft.operators.Layout.hilbertValue(
          quantized(0), quantized(1), bits)
      case graft.operators.Layout.Hilbert =>
        graft.operators.Layout.hilbertValueN(quantized, bits)
      case graft.operators.Layout.Z =>
        graft.operators.Layout.zValue(quantized, bits)
    }
    val totalRows = metaCount(storeDir, partCol, Some(targets), Some(v))
      .getOrElse(rows.count())
    val perFile = math.max(1L,
      totalRows / math.max(1L, targets.size.toLong * filesPerPartition))
    publish(rows, partCol, Some(targets), storeDir, retainVersions,
      statsCols, bloomCols = bloomCols,
      orderWithin = Seq(z), maxRecordsPerFile = perFile,
      baseVersion = Some(v), retainAgeMillis = retainAgeMillis)
  }

  /** One commit's metadata, as [[history]] reports it: version,
    * wall-time (None pre-upgrade), applied-tag ledger, manifest entry
    * count, and the exact row count when the stats sidecar carries
    * every file's `#rows` (None otherwise — never a guess).
    */
  final case class CommitInfo(
      version: Long, ts: Option[Long], tags: Seq[String],
      nFiles: Int, rows: Option[Long], op: Option[String] = None)

  /** DESCRIBE HISTORY — the retained commit log, oldest first, from
    * metadata alone (one manifest + one sidecar read per retained
    * version; zero data-file opens, zero Spark jobs). What an operator
    * reads before a [[restore]] or a `TIMESTAMP AS OF` pin.
    */
  def history(storeDir: String): Seq[CommitInfo] =
    listVersions(storeDir).sorted.flatMap { v =>
      // a version dropped by a concurrent commit's GC between the
      // listing and this read simply leaves the log — HISTORY reports
      // the RETAINED set as of read time and must not transiently
      // error under write churn (r15 ADVICE)
      try {
        val m = readManifest(storeDir, v)
        val st = stats(storeDir, v)
        val counts = m.files.map(f => st.get(f).flatMap(_.get(RowsKey)).map(_._1))
        Some(CommitInfo(v, m.ts, tagsOf(m, storeDir, v), m.files.size,
          if (counts.isEmpty || counts.exists(_.isEmpty)) None
          else Some(counts.flatten.sum), m.op))
      } catch { case _: RetentionException => None }
    }

  /** RESTORE — roll the store back to a RETAINED version's content as
    * a NEW commit (the Delta RESTORE shape): the published manifest
    * lists exactly `version`'s files — METADATA-ONLY, no data is
    * copied or rewritten (the files still exist because the version is
    * retained), and the rolled-back-over versions stay readable until
    * retention drops them. The restored version's zone-map bounds
    * carry with its files. Restore is a whole-snapshot replacement, so
    * it never rebases: a commit racing it fails one side typed
    * ([[ConcurrentCommitException]]) rather than silently discarding
    * the other's edit. Past-retention sources answer the typed
    * [[RetentionException]].
    */
  def restore(
      storeDir: String, partCol: String, version: Long,
      retainVersions: Int = 8,
      retainAgeMillis: Option[Long] = None,
      writerLeaseTtlMillis: Long = DefaultWriterLeaseTtlMillis): Long = {
    val src = readManifest(storeDir, version) // typed if aged out
    // same two-flag vacuum exclusion as any publish: the restored
    // manifest re-references files a concurrent sweep must keep
    val marker = writerMarkerPath(storeDir,
      java.util.UUID.randomUUID().toString.take(12))
    StoreFs.writeOverwrite(marker,
      (System.currentTimeMillis() + writerLeaseTtlMillis).toString)
    if (leaseHeld(vacuumLockPath(storeDir))) {
      StoreFs.delete(marker)
      throw new StoreBusyException(
        s"a vacuum holds the lease on $storeDir — retry the restore " +
          "after it finishes (leases expire)")
    }
    try {
      val prev = latestVersion(storeDir).get
      if (prev == version) return prev
      val v = prev + 1L
      val prevM = readManifest(storeDir, prev)
      val prevTags = tagsOf(prevM, storeDir, prev)
      val ts = math.max(System.currentTimeMillis(), prevM.ts.getOrElse(0L) + 1L)
      val newTsIdx = (prevM.tsIdx.getOrElse(
        prevM.ts.map(t => Seq(prev -> t)).getOrElse(Nil)) :+ (v -> ts))
        .takeRight(TsIdxKeep)
      writeManifest(storeDir, v, src.files.sorted, ts, prevTags,
        op = s"restore:v$version", tsIdx = newTsIdx)
      // the restored files' bounds are already in the source version's
      // sidecar — carry them verbatim (immutable files, no re-harvest)
      val srcStats = stats(storeDir, version)
      val carried = src.files.flatMap(f => srcStats.get(f).map(f -> _)).toMap
      if (carried.nonEmpty) writeStats(storeDir, v, carried)
      gc(storeDir, partCol, v, retainVersions, retainAgeMillis)
      v
    } finally { StoreFs.delete(marker); () }
  }

  /** Maintenance sweep: LIST every partition dir and delete data files
    * no retained manifest references — the crashed-attempt orphans the
    * per-commit diff GC cannot see. O(partition dirs) listings: run it
    * from a maintenance window or every N batches, not per commit.
    *
    * The "not concurrent with in-flight writers" contract is ENFORCED,
    * not documented: vacuum takes a CAS lease and aborts typed
    * ([[StoreBusyException]]) when any unexpired writer marker exists
    * — an appender between its file moves and its manifest publish
    * holds moved-but-unmanifested files a sweep would misread as
    * orphans; commits starting during a vacuum abort typed the same
    * way (publish's two-flag protocol). Leases expire, so a crashed
    * party never wedges the other. Returns the number of files
    * deleted.
    */
  def vacuum(
      storeDir: String, partCol: String,
      leaseTtlMillis: Long = 30L * 60L * 1000L): Int = {
    val versions = listVersions(storeDir)
    require(versions.nonEmpty,
      s"$storeDir holds no manifest — nothing is safely referenced")
    // WRITER EXCLUSION (the other half of publish's two-flag
    // protocol): take the vacuum lease FIRST — a commit that starts
    // after this point sees the lease and aborts typed — then check
    // for writers already in flight; any unexpired marker aborts the
    // sweep, because that writer may hold staged or
    // moved-but-unmanifested files a listing would misread as orphans.
    // The lease is a CAS (two vacuums cannot both hold it) and
    // expires, so a crashed vacuum never wedges the writer.
    val lock = vacuumLockPath(storeDir)
    // the lease content carries a FENCING TOKEN after the expiry: any
    // doubt about ownership is settled by re-reading the lock and
    // comparing content — only the one breaker whose write survived
    // proceeds to the destructive phase
    val content = s"${System.currentTimeMillis() + leaseTtlMillis}|" +
      java.util.UUID.randomUUID().toString
    def lockIsOurs(): Boolean =
      try StoreFs.readLines(lock).headOption.exists(_.trim == content)
      catch { case _: Exception => false }
    var acquired = StoreFs.writeAtomicNoReplace(lock, content)
    if (!acquired && !leaseHeld(lock)) {
      // BREAK a crashed vacuum's expired lease, FENCED: rename the
      // expired lock to a unique tombstone first — rename is atomic on
      // HDFS/local, so exactly ONE of several breakers wins (the
      // source vanishes for the others) and only the winner CAS-claims
      // the fresh lease. A blind delete-then-CAS lets breaker B's
      // delete remove breaker A's JUST-WRITTEN fresh lease; both then
      // "hold" it and a writer can slip into the gap while A sweeps
      // (r15 ADVICE). A third party claiming in the rename→CAS window
      // simply wins: this breaker's CAS then fails and it aborts typed.
      val tomb = new Path(lock.getParent,
        s".vacuum-lock.broken-${java.util.UUID.randomUUID().toString.take(12)}")
      if (StoreFs.rename(lock, tomb)) {
        StoreFs.delete(tomb)
        acquired = StoreFs.writeAtomicNoReplace(lock, content)
      }
    }
    if (!acquired || !lockIsOurs())
      throw new StoreBusyException(
        s"another vacuum holds the lease on $storeDir")
    try {
      val markers = StoreFs.list(new Path(storeDir, ManifestDir))
        .filter(_.getPath.getName.startsWith(".w-"))
      // a marker is reclaimable litter only when its recorded lease is
      // expired AND it hasn't been touched within the skew margin: a
      // marker MID-CREATION (created empty, content streaming in) or
      // mid-renewal parses as expired for a moment — deleting it would
      // both break the exclusion for a perfectly live writer and race
      // the local FS's create/chmod on the checksum sibling (the churn
      // soak caught exactly this). Fresh modtime = treat as live.
      val now = System.currentTimeMillis()
      val (live, stale) = markers.partition(m =>
        leaseHeld(m.getPath) ||
          m.getModificationTime + skewMarginMillis > now)
      // a crashed writer's expired marker is litter — reclaim it
      stale.foreach { m => StoreFs.delete(m.getPath); () }
      if (live.nonEmpty)
        throw new StoreBusyException(
          s"writer(s) in flight on $storeDir (${live.size} unexpired " +
            "marker(s)) — their moved-but-unmanifested files must not " +
            "be reclaimed; retry after they publish")
      // FENCE VERIFY at the edge of the destructive phase: the lease
      // must still be OURS (token match) after the marker listing — a
      // racing breaker that stomped this lease invalidates the listing
      // (a writer may have planted its marker after the stomp, unseen
      // by us); abort typed rather than sweep files it may hold
      if (!lockIsOurs())
        throw new StoreBusyException(
          s"vacuum lease on $storeDir was broken by a racer mid-sweep — " +
            "aborting before reclaiming anything")
      // versions are RE-listed here, inside the lease and after the
      // live-marker check: a commit that finished before the marker
      // listing published its manifest first (publish precedes marker
      // deletion), so the fresh listing sees its files; one still in
      // flight held a live marker and aborted us above. The entry
      // listing taken before the lease could miss a commit that landed
      // whole in the gap — its new files would read as orphans.
      val referenced: Set[String] =
        listVersions(storeDir).iterator.flatMap(files(storeDir, _)).toSet
      var deleted = 0
      // crashed commits can leave staging dirs behind their finally —
      // (hard kill mid-move); they are never referenced, sweep whole
      StoreFs.list(new Path(storeDir))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".staging-c"))
        .foreach { s => StoreFs.delete(s.getPath, recursive = true); () }
      StoreFs.list(new Path(storeDir))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
        .foreach { d =>
          val dirName = d.getPath.getName
          StoreFs.list(d.getPath)
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .filter(s => !referenced.contains(s"$dirName/${s.getPath.getName}"))
            .foreach { s => StoreFs.delete(s.getPath); deleted += 1 }
          if (StoreFs.list(d.getPath).isEmpty) {
            StoreFs.delete(d.getPath, recursive = true)
            ()
          }
        }
      deleted
    } finally { StoreFs.delete(lock); () }
  }

  /** The snapshot's file selection: `version`'s manifest entries,
    * pruned to `partVals`' partitions, then zone-map-pruned to files
    * whose recorded `range` column bounds can intersect `[lo, hi]`
    * (files or columns without bounds are always kept — skipping is
    * never allowed to change a result).
    */
  def selectFiles(
      storeDir: String, partCol: String,
      partVals: Option[Seq[Long]] = None,
      version: Option[Long] = None,
      range: Option[(String, Long, Long)] = None,
      ranges: Seq[(String, Long, Long)] = Nil): Seq[String] = {
    val v = version.orElse(latestVersion(storeDir))
    val all = v.map(files(storeDir, _)).getOrElse(Nil)
    val parted = partVals match {
      case None => all
      case Some(vs) =>
        val dirs = vs.map(x => s"$partCol=$x/").toSet
        all.filter(p => dirs.exists(p.startsWith))
    }
    // a file survives only if EVERY predicate's bounds intersect —
    // the conjunctive multi-column shape a z-clustered store
    // (row 142) exists to serve; per-column misses keep the file
    // (best-effort, never wrong)
    val preds = range.toSeq ++ ranges
    if (preds.isEmpty) parted
    else {
      val st = v.map(stats(storeDir, _)).getOrElse(Map.empty)
      parted.filter(p => preds.forall { case (c, lo, hi) =>
        st.get(p).flatMap(_.get(c)).forall {
          case (mn, mx) => mx >= lo && mn <= hi
        }
      })
    }
  }

  /** BLOOM point-location: the files of a snapshot that MIGHT hold
    * `value` in integral column `col` — the skipping tier zone maps
    * cannot provide when the lookup key is not arrival-clustered
    * (per-file min/max span the whole domain for a hashed/random key;
    * a bloom still excludes almost every file). Zone maps filter
    * first, then each surviving file's parquet BLOOM FILTER (written
    * when the store was given `bloomCols`) is probed — footer-sized
    * metadata reads, no data pages. Files or columns without a bloom
    * are kept: location is best-effort-exclusionary, never wrong.
    */
  def locate(
      storeDir: String, partCol: String, colName: String, value: Long,
      partVals: Option[Seq[Long]] = None,
      version: Option[Long] = None): Seq[String] =
    locateAll(storeDir, partCol, colName, Seq(value), partVals, version)
      .getOrElse(value, Nil)

  /** Batched [[locate]]: probe EVERY key against each candidate file
    * in ONE footer open (a K-key merge used to reopen each surviving
    * file's footer K times — at object-store latency the reopen, not
    * the probe, is the cost). Zone maps prefilter per (file, key), so
    * a file is opened only when at least one key's bounds intersect.
    * Returns key → files that might hold it (missing key = no file).
    */
  def locateAll(
      storeDir: String, partCol: String, colName: String,
      lookupKeys: Seq[Long], partVals: Option[Seq[Long]] = None,
      version: Option[Long] = None): Map[Long, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    if (lookupKeys.isEmpty) return Map.empty
    val v = version.orElse(latestVersion(storeDir))
    val snapshot = v.map(files(storeDir, _)).getOrElse(Nil)
    val parted = partVals match {
      case None => snapshot
      case Some(vals) =>
        val dirs = vals.map(x => s"$partCol=$x").toSet
        snapshot.filter(p => dirs.exists(d => p.startsWith(d + "/")))
    }
    val st = v.map(stats(storeDir, _)).getOrElse(Map.empty)
    // zone-map prefilter: which keys COULD this file hold
    val candidates = parted.map { rel =>
      rel -> lookupKeys.filter(value =>
        st.get(rel).flatMap(_.get(colName)).forall {
          case (mn, mx) => value >= mn && value <= mx
        })
    }.filter(_._2.nonEmpty)
    val hits = scala.collection.mutable.Map.empty[Long, Vector[String]]
    candidates.foreach { case (rel, keys) =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(storeDir, rel), StoreFs.conf))
      val kept =
        try {
          keys.filter { value =>
            rd.getFooter.getBlocks.asScala.exists { b =>
              b.getColumns.asScala
                .find(_.getPath.toDotString == colName) match {
                case None => true // column absent (pre-evolution): keep
                case Some(c) =>
                  val bf = rd.getBloomFilterDataReader(b).readBloomFilter(c)
                  if (bf == null) true // no bloom written: cannot exclude
                  else c.getPrimitiveType.getPrimitiveTypeName match {
                    // the bloom hashes the column's PHYSICAL type: an
                    // INT32 bloom was fed 4-byte values — probing it
                    // with a Long produces different hashes and
                    // GUARANTEED false negatives (dropped hits would
                    // make readPoint silently lossy and merge leave
                    // deleted rows in place)
                    case INT64 => bf.findHash(bf.hash(value))
                    case INT32 =>
                      // a value outside int32 cannot be IN an INT32
                      // column: excluding the file is exact, not lossy
                      value >= Int.MinValue && value <= Int.MaxValue &&
                        bf.findHash(bf.hash(value.toInt))
                    case _ => true // unsupported physical type: keep
                  }
              }
            }
          }
        } finally rd.close()
      kept.foreach(k => hits(k) = hits.getOrElse(k, Vector.empty) :+ rel)
    }
    hits.toMap
  }

  /** Point read: exactly the rows with `colName == value`, opening
    * only the bloom-located files.
    */
  def readPoint(
      spark: SparkSession, storeDir: String, schema: StructType,
      partCol: String, colName: String, value: Long,
      partVals: Option[Seq[Long]] = None,
      version: Option[Long] = None): DataFrame = {
    val wanted = locate(storeDir, partCol, colName, value, partVals, version)
    if (wanted.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.schema(schema).option("basePath", storeDir)
        .parquet(wanted.map(p => s"$storeDir/$p"): _*)
        .filter(col(colName) === value)
  }

  /** Snapshot read: exactly the files of `version` (default latest),
    * optionally pruned to the partitions holding `partVals` and
    * zone-map-pruned by `range` (a [lo, hi] bound on an integral
    * column — file-granular, so callers still apply the exact
    * predicate). An empty store (or an empty pruned selection) reads
    * as an empty frame.
    */
  def read(
      spark: SparkSession, storeDir: String, schema: StructType,
      partCol: String, partVals: Option[Seq[Long]] = None,
      version: Option[Long] = None,
      range: Option[(String, Long, Long)] = None,
      ranges: Seq[(String, Long, Long)] = Nil): DataFrame = {
    val wanted = selectFiles(storeDir, partCol, partVals, version, range, ranges)
    if (wanted.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.schema(schema).option("basePath", storeDir)
        .parquet(wanted.map(p => s"$storeDir/$p"): _*)
  }
}
