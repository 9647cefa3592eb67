package perfbench

import graft.operators.IncrementalCdc
import graft.sources.TxLog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** corpus_cdc: closed loop. The `cdc_tx_corpus` gate's delete / edit /
  * relabel / insert events over a seeded documents corpus run through
  * `IncrementalCdc.pipelineFromDocEventsFromFiles` (the four
  * manifest-published stores plus the cross-store `TxLog`), split into
  * micro-batches; each drain ends with `IncrementalCdc.readAtTx` at the
  * final transaction. Drains repeat from fresh stores.
  */
final class CorpusCdc(ctx: Ctx) extends Phase {
  import CorpusCdc._
  private val spark = ctx.spark
  private val sz = ctx.sizes
  private val trace = ctx.trace

  /** The initial corpus, shaped like the repo's sf0.1 `documents` table
    * as measured there: 10-100 words from its 30-word vocabulary, its
    * language mix, 20 sources, and 5 % of the documents a near-duplicate
    * of an earlier one (that text plus " dup").
    */
  val docs: IndexedSeq[Doc] = {
    val r = new java.util.SplittableRandom(ctx.seed * 31L + 17L)
    val out = ArrayBuffer[Doc]()
    (0 until sz.docs).foreach { i =>
      val text =
        if (i > 0 && r.nextDouble() < NearDupShare) out(r.nextInt(i)).text + " dup"
        else randomText(r)
      out += Doc(i.toLong, text, pickLang(r), s"src${i % 20}")
    }
    out.toIndexedSeq
  }

  /** The events of the `cdc_tx_corpus` gate, applied to the seeded
    * corpus: documents with doc_id % 7 == 0 are deleted; of the rest,
    * % 10 get " edited" appended and % 11 are relabelled "xx" (both if
    * both); every % 13 document is inserted again, relabelled if % 11,
    * under doc_id + 10000000, so each insert repeats an existing text.
    * `ev_seq` is the event's doc_id.
    */
  val events: IndexedSeq[Ev] = {
    val relabelled = docs.map(d => if (d.id % 11 == 0) d.copy(lang = "xx") else d)
    val deletes = docs.filter(_.id % 7 == 0).map(d => Ev(d, delete = true, d.id))
    val updates = relabelled.filter(d => d.id % 7 != 0 && (d.id % 10 == 0 || d.id % 11 == 0))
      .map(d => if (d.id % 10 == 0) d.copy(text = d.text + " edited") else d)
      .map(d => Ev(d, delete = false, d.id))
    val inserts = relabelled.filter(_.id % 13 == 0)
      .map(d => Ev(d.copy(id = d.id + InsertIdOffset), delete = false, d.id + InsertIdOffset))
    deletes ++ updates ++ inserts
  }

  private def docRow(d: Doc) = Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)

  private lazy val docsDf: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map(docRow), 4), DocSchema).cache()
  private lazy val eventsDf: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(events.map(e =>
      Row(e.doc.id, e.doc.text, e.doc.lang, e.doc.source, e.doc.text.length.toLong,
        e.delete, e.seq)), 4), EventSchema).cache()

  /** The model's final corpus: the events folded over the initial
    * documents in `ev_seq` order (a delete removes, anything else
    * replaces or inserts).
    */
  private def modelCorpus(wrong: Boolean): Seq[Doc] = {
    val m = mutable.HashMap[Long, Doc]() ++ docs.map(d => d.id -> d)
    events.sortBy(_.seq).foreach { e =>
      if (e.delete) m.remove(e.doc.id) else m(e.doc.id) = e.doc
    }
    if (wrong) m.remove(m.keys.min)
    m.values.toSeq
  }

  private def modelDf(wrong: Boolean): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(modelCorpus(wrong).map(docRow), 4), DocSchema)
  private lazy val modelTrue = Ctx.fingerprint(modelDf(wrong = false))

  final case class Drain(
      eventsPerS: Double, readS: Seq[Double], spaceAmp: Double,
      layer: Map[String, Double], batchCounters: Seq[Map[String, Double]],
      readCounters: Map[String, Double])

  /** Bytes of the model's final corpus and of the events, each written
    * once as a single parquet file: the bases of the space and write
    * amplification ratios.
    */
  private lazy val baselineBytes: (Long, Long) = {
    def once(df: DataFrame, name: String): Long = {
      val d = ctx.freshDir(s"cdc/$name")
      df.coalesce(1).write.parquet(d.toString)
      val b = Ctx.bytesUnder(d)
      Ctx.delete(d)
      b
    }
    (once(modelDf(wrong = false), "model-corpus"), once(eventsDf, "events-once"))
  }

  /** One drain of `evs` over `initial` from fresh stores, its reads
    * and its checks.
    */
  def drain(name: String, reads: Int, batches: Int,
      evs: DataFrame = eventsDf, initial: DataFrame = docsDf, nEvents: Long = events.size): Drain = {
    val scratch = ctx.freshDir(s"cdc/$name")
    val tag = s"corpus_cdc/$name"
    ctx.assertQuiet(tag)
    val (_, drainSpan) = trace.span("cdc.drain", tag) {
      IncrementalCdc.pipelineFromDocEventsFromFiles(
        spark, evs, initial, batches, scratch.toString,
        nShards = Shards, seqLen = SeqLen)
    }
    val dirs = IncrementalCdc.CdcDirs(scratch.toString)
    val finalTx = TxLog.read(dirs.tx)
    val progress = trace.progressOfSource(s"${scratch.getName}/in", drainSpan.start, drainSpan.end)
      .filter(_.numInputRows > 0)
    require(progress.nonEmpty, s"$tag: no micro-batch progress")
    def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val firstStart = progress.map(startMs).min
    val finalPublish = finalTx.ts.getOrElse(
      throw new IllegalStateException(s"$tag: final tx has no publish time")).toDouble
    val eventsPerS = nEvents / ((finalPublish - firstStart) / 1000)

    val reads_ = (0 until reads).map { i =>
      ctx.assertQuiet(s"$tag/read$i")
      trace.span("cdc.read_at_tx", tag) {
        val corpus = IncrementalCdc.readAtTx(spark, dirs, Some(finalTx.txId))._2
        corpus.count()
        corpus
      }
    }
    val readSpans = reads_.map(_._2)
    if (ctx.checking) {
      val corpusFp = Ctx.fingerprint(reads_.last._1.select("doc_id", "text", "lang", "source", "n_chars"))
      val modelFp =
        if (ctx.checks.planted("corpus_cdc.corpus")) Ctx.fingerprint(modelDf(wrong = true)) else modelTrue
      ctx.checks.record("corpus_cdc.corpus", events.size, if (corpusFp == modelFp) 0 else events.size,
        s"program=$corpusFp model=$modelFp")
    }

    val storeDirs = Seq(dirs.corpus, dirs.index, dirs.keeps, dirs.packed, dirs.tx).map(new java.io.File(_))
    val storeBytes = storeDirs.map(Ctx.bytesUnder).sum
    val spaceAmp = storeBytes.toDouble / baselineBytes._1
    val layer = mutable.LinkedHashMap[String, Double]()
    var batchCounters = Seq.empty[Map[String, Double]]
    var readCounters = Map.empty[String, Double]
    if (trace.traced) {
      val jobs = trace.jobsOf(drainSpan)
      batchCounters = progress.map { p =>
        val from = startMs(p)
        val to = from + p.durationMs.get("triggerExecution").toDouble
        trace.counters(jobs.filter(_.batch == p.batchId), from, to)
      }
      readCounters = {
        val per = readSpans.map(s => trace.counters(trace.jobsOf(s), s.start, s.end))
        Trace.CounterNames.map(c => c -> Stats.median(per.map(_(c)))).toMap
      }
      val written = trace.outputBytes(jobs.filter(_.batch >= 0))
      layer("cdc.bootstrap.wall_ms") = firstStart - drainSpan.start
      layer("cdc.batch_s_max") = progress.map(_.durationMs.get("triggerExecution").toDouble).max / 1000
      layer("store.bytes_written_mb") = written / Trace.MB
      layer("store.write_amp") = written.toDouble / baselineBytes._2
      layer("store.files_end") = storeDirs.map(Ctx.filesUnder).sum.toDouble
      layer("store.bytes_end_mb") = storeBytes / Trace.MB
      layer("txlog.entries") = Ctx.filesUnder(new java.io.File(dirs.tx)).toDouble
    }
    System.err.println(f"[perfbench] $tag call ${drainSpan.ms}%.0f ms bootstrap ${firstStart - drainSpan.start}%.0f ms " +
      f"batches ${progress.size} drain ${finalPublish - firstStart}%.0f ms " +
      f"(${progress.map(_.durationMs.get("triggerExecution")).mkString(",")}) reads ${readSpans.map(_.ms.round).mkString(",")} ms")
    Ctx.delete(scratch)
    Drain(eventsPerS, readSpans.map(_.ms / 1000), spaceAmp, layer.toMap, batchCounters, readCounters)
  }

  /** Untimed warm-up: a one-batch drain over the first `WarmupDocs`
    * documents and their events runs every store's bootstrap and batch
    * path once; plan compilation, not data, is what it pays for.
    */
  def setup(): Unit = {
    eventsDf.count()
    docsDf.count()
    baselineBytes
    modelTrue
    val warmEvents = eventsDf.filter(col("doc_id") % InsertIdOffset < WarmupDocs).cache()
    drain("warmup", reads = 2, batches = 1, warmEvents,
      docsDf.filter(col("doc_id") < WarmupDocs), warmEvents.count())
    warmEvents.unpersist()
    ()
  }

  def measure(seconds: Double): Unit = {
    val start = Clock.nowMs
    val drains = ArrayBuffer[Drain]()
    // another drain only if one more (at the mean so far) still fits
    while (drains.size < MinDrains ||
        Clock.nowMs + (Clock.nowMs - start) / drains.size <= start + seconds * 1000)
      drains += drain(s"drain${drains.size}", ReadsPerDrain, sz.cdcBatches)
    ctx.e2e("cdc_events_per_s") = Stats.median(drains.map(_.eventsPerS))
    ctx.notes("corpus_cdc.read_s") = Stats.median(drains.flatMap(_.readS))
    ctx.e2e("cdc_space_amp") = Stats.median(drains.map(_.spaceAmp))
    ctx.notes("corpus_cdc.drains") = drains.size
    ctx.notes("corpus_cdc.events") = events.size
    ctx.notes("corpus_cdc.events_per_s") = drains.map(_.eventsPerS)
    if (trace.traced) {
      val last = drains.last
      ctx.layer ++= last.layer.filter(_._1 == "cdc.bootstrap.wall_ms")
      ctx.layerCounters("cdc.batch", drains.flatMap(_.batchCounters))
      ctx.layer("cdc.batch_s_max") = drains.map(_.layer("cdc.batch_s_max")).max
      ctx.layerCounters("cdc.read_at_tx", drains.map(_.readCounters))
      Seq("store.bytes_written_mb", "store.write_amp", "store.files_end",
        "store.bytes_end_mb", "txlog.entries").foreach(k => ctx.layer(k) = last.layer(k))
      ctx.layer("traced.cdc_events_per_s") = ctx.e2e("cdc_events_per_s")
    }
  }
}

object CorpusCdc {
  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Ev(doc: Doc, delete: Boolean, seq: Long)

  val Shards = 16
  val SeqLen = 256L
  val MinDrains = 1
  val ReadsPerDrain = 6
  val InsertIdOffset = 10000000L
  val WarmupDocs = 500L
  val NearDupShare = 0.05

  val Words: Array[String] = ("a the batch part spark line column order small sort fast " +
    "value scan hash slow group agg filter query big stream window row table merge " +
    "data key join customer vector").split(" ")

  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  def pickLang(r: java.util.SplittableRandom): String = {
    var x = r.nextDouble()
    Langs.find { case (_, p) => x -= p; x < 0 }.fold("de")(_._1)
  }

  def randomText(r: java.util.SplittableRandom): String =
    Seq.fill(10 + r.nextInt(91))(Words(r.nextInt(Words.length))).mkString(" ")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val EventSchema: StructType = DocSchema
    .add(StructField("is_delete", BooleanType))
    .add(StructField("ev_seq", LongType))
}
