package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The VECTOR INDEX under the CDC discipline — row 126's event loop
  * composed onto the ANN side: `stream_pq_codes` maintains codes from
  * an APPEND-ONLY stream, but corpus edits also delete and re-embed
  * documents; here upsert/delete vector events arrive in micro-batches
  * and each batch rewrites ONLY its touched shards of a
  * manifest-committed codes store:
  *
  *  - delete  → the id's code rows drop (absence in the rewritten
  *    shard);
  *  - upsert  → the new embedding re-encodes through the FROZEN
  *    codebook (the FAISS operating model: a codebook is a model,
  *    trained once on the initial corpus sample — a stateless
  *    [[graft.functions.PqAssign]] projection, so any batch split
  *    lands row-identical codes);
  *  - the store commits through [[graft.sources.ManifestStore]], so
  *    a live [[graft.serving.AnnServer]] (store-follow mode) serves
  *    atomic snapshots that TRACK EDITS, not just appends.
  *
  * No journal is needed (unlike the document CDC): nothing a batch
  * writes depends on pre-batch store state — the rewrite is
  * (old shard rows minus the batch's ids) ∪ (re-encoded upserts),
  * both pure functions of (store-at-read, batch), so a replayed batch
  * reconverges by construction and a crash mid-write never publishes
  * (manifest commit).
  *
  * Equivalence contract (the `cdc_vectors` gate): after draining any
  * split of the event stream, the codes store is row-identical to a
  * one-shot [[Similarity.pqEncodeWith]] of the POST-CHURN corpus
  * against the same frozen codebook — the oracle replays training,
  * the event fold, and every assignment.
  */
object CdcVectors {

  val CodesSchema: StructType = StructType(Seq(
    StructField("cid", LongType),
    StructField("sub", IntegerType),
    StructField("cell", LongType),
    StructField("shard", LongType)))

  private def encodeShards(
      embs: DataFrame, codebook: DataFrame,
      m: Int, subDim: Int, nShards: Int): DataFrame =
    Similarity.pqEncodeWith(
      embs, col("vec_id"), col("embedding"), codebook, m, subDim)
      .withColumn("shard", pmod(col("cid"), lit(nShards.toLong)))

  /** Train the frozen codebook on the initial corpus (md5 sample +
    * Lloyd rounds — [[Similarity.pqTrainSampleEncode]]'s training
    * half), lineage-cut to model size.
    */
  def trainCodebook(
      initial: DataFrame, m: Int, subDim: Int, iters: Int,
      sampleN: Int, seed: String = "cdc"): DataFrame = {
    val sample = Similarity.pqSample(
      initial, col("vec_id"), col("embedding"), sampleN, seed)
    val (cb, _) = Similarity.pqTrainEncodeLloyd(
      sample, col("__sid"), col("__svec"), m, subDim, iters)
    cb.localCheckpoint(true)
  }

  /** Initialize the codes store: encode the whole initial corpus and
    * publish manifest v0.
    */
  def initCodes(
      initial: DataFrame, codebook: DataFrame,
      m: Int, subDim: Int, nShards: Int, codesDir: String): Long =
    graft.sources.ManifestStore.init(
      encodeShards(initial, codebook, m, subDim, nShards),
      "shard", codesDir)

  /** Apply ONE micro-batch of vector events — columns (vec_id,
    * embedding, is_delete, ev_seq); highest `ev_seq` per id wins
    * within the batch. Rewrites exactly the shards the batch's ids
    * hash to; returns them.
    */
  def applyVectorEvents(
      spark: SparkSession,
      events: DataFrame,
      codebook: DataFrame,
      m: Int, subDim: Int, nShards: Int,
      codesDir: String): Seq[Long] = {
    val evs = events
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("embedding"), col("is_delete")), col("ev_seq")).as("r"))
      .select(col("vec_id"), col("r.embedding").as("embedding"),
        col("r.is_delete").as("is_delete"))
      .localCheckpoint(true) // batch-sized
    val shards = evs
      .select(pmod(col("vec_id"), lit(nShards.toLong)).as("shard"))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (shards.isEmpty) return Seq.empty
    val old = graft.sources.ManifestStore.read(
      spark, codesDir, CodesSchema, "shard", Some(shards))
    val kept = old.join(
      evs.select(col("vec_id").as("cid")), Seq("cid"), "left_anti")
    val upserts = evs.filter(!col("is_delete"))
      .select(col("vec_id"), col("embedding"))
    // no seal before the commit: nothing downstream consumes the new
    // shard content (unlike IncrementalCdc's chained frames) — the
    // manifest commit's staged write is the single materialization,
    // one fewer Spark job per batch than checkpoint-then-commit
    val next = kept.unionByName(
      encodeShards(upserts, codebook, m, subDim, nShards))
    graft.sources.ManifestStore.commit(next, "shard", shards, codesDir)
    shards
  }

  /** File-fed end-to-end run (the gate spelling): vector events stage
    * as `ev_seq`-ordered micro-batch files, the codebook freezes on
    * the INITIAL corpus, each micro-batch applies through
    * [[applyVectorEvents]] inside `foreachBatch`. Returns the drained
    * codes (cid, sub, cell).
    */
  def pipelineFromVectorEventsFromFiles(
      spark: SparkSession,
      events: DataFrame, // (vec_id, embedding, is_delete, ev_seq)
      initial: DataFrame, // (vec_id, embedding)
      m: Int, subDim: Int, iters: Int, sampleN: Int,
      nBatches: Int, scratch: String,
      nShards: Int = 8,
      statePartitions: Int = 4): DataFrame = {
    val base = new java.io.File(scratch)
    val inDir = new java.io.File(base, "in")
    val codesDir = new java.io.File(base, "codes").toString
    // codebook training and event staging are independent — overlap
    // them (guide §2.6); only the initial encode needs the codebook,
    // so it chains on the training future
    val cb = locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val stagingF = Future(graft.sources.FileIO.stageRangeBatches(
        events, col("ev_seq"), nBatches,
        new java.io.File(base, "stage"), inDir))
      val cbF = Future(trainCodebook(initial, m, subDim, iters, sampleN))
      val initF = cbF.map(cb =>
        initCodes(initial, cb, m, subDim, nShards, codesDir))
      // settle all three before rethrowing the first failure: a failed
      // staging must not leave initF writing codesDir while the
      // caller's scratch cleanup runs
      Seq(stagingF, initF, cbF).foreach(Await.ready(_, Duration.Inf))
      Await.result(stagingF, Duration.Inf)
      Await.result(initF, Duration.Inf)
      Await.result(cbF, Duration.Inf)
    }
    val ss = graft.streaming.StreamSessions.scoped(spark, statePartitions)
    ss.conf.set(
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    val stream = graft.sources.FileIO.streamParquet(
      ss, inDir.toString, events.schema, maxFilesPerTrigger = 1)
    val q = stream.writeStream
      .option("checkpointLocation", new java.io.File(base, "ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyVectorEvents(ss, batch, cb, m, subDim, nShards, codesDir)
        ()
      }
      .start()
    q.awaitTermination()
    graft.sources.FileIO.deleteScratch(
      new java.io.File(base, "stage"), inDir, new java.io.File(base, "ckpt"))
    graft.sources.FileIO.deleteScratchOnExit(base)
    readCodes(spark, codesDir)
  }

  /** Snapshot read of the codes store (latest or a retained version)
    * — (cid, sub, cell), the [[Similarity.pqTopK]] scan shape.
    */
  def readCodes(
      spark: SparkSession, codesDir: String,
      version: Option[Long] = None): DataFrame =
    graft.sources.ManifestStore.read(
      spark, codesDir, CodesSchema, "shard", None, version)
      .drop("shard")
}
