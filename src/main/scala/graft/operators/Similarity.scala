package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force top-k against a small (broadcast) query set —
  * at 100 TB the candidate side streams through executors once, the
  * query side is a broadcast, and the per-row dot product is a codegen'd
  * higher-order fold (no UDF). Scale path: sign-LSH bucketing so each
  * query only scans its bucket (shuffle on bucket key, never a full
  * cartesian).
  *
  * Dot products are computed over int64 milli-quantized components
  * ("int quantization"): bit-exact across engines/orders, which is what
  * lets the DuckDB oracle hash-match, and a faithful stand-in for the
  * int8-quantized ANN kernels used at scale.
  */
object Similarity {

  /** Quantize a float vector to exact int64 milli-units. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000).cast("bigint"))

  /** Deterministic ±1 RANDOM-PROJECTION dim reduction (the
    * Johnson–Lindenstrauss / Achlioptas sign matrix): `outDim`
    * projections of the milli-quantized vector, each an exact int64
    * dot against a ±1 row derived from the portable md5 hash of
    * "p:i:j" — so the matrix is pure knowledge, never shipped or
    * stored, and the DuckDB oracle re-derives it cell by cell. The
    * dots run through the native [[graft.functions.DotLong]] kernel
    * (codegen, no interpreted HOF per row); the sign matrix is a plan
    * literal (outDim×inDim longs — model-sized). This is the cheap
    * front half of every embedding pipeline at 100 TB: 64→16 dims
    * cuts downstream ANN/cluster cost 4× while JL preserves pairwise
    * geometry to O(1/√outDim).
    */
  def projectSigned(
      embs: DataFrame, id: Column, vec: Column,
      inDim: Int, outDim: Int): DataFrame = {
    val signs: IndexedSeq[Array[Long]] = (0 until outDim).map { j =>
      Array.tabulate(inDim) { i =>
        if (portableHash56Parity(s"p:$i:$j")) 1L else -1L
      }
    }
    embs
      .select(id.as("vec_id"), quantize(vec).as("q"))
      .select(col("vec_id"),
        array(signs.map(row =>
          graft.functions.DotLong(col("q"), lit(row))): _*).as("proj"))
  }

  /** Parity of the portable 56-bit md5 hash (chars 1..14 of the hex
    * digest) — the driver-side twin of `TextAnalysis.portableHash56 %
    * 2`, bit-identical to the SQL spelling the oracles replay.
    */
  private[operators] def portableHash56Parity(s: String): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString.substring(0, 14)
    (java.lang.Long.parseLong(hex, 16) & 1L) == 0L
  }

  /** Exact int64 dot product of two quantized vectors — higher-order-
    * function form (engine-portable definition; the spec checks the
    * native kernel against it).
    */
  def dotQHof(a: Column, b: Column): Column =
    aggregate(zip_with(quantize(a), quantize(b), _ * _), lit(0L), _ + _)

  /** The same dot product through the native codegen'd Catalyst
    * expression ([[graft.functions.QuantizedDot]]) — the hot-path
    * kernel used by the top-k operators.
    */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.QuantizedDot(a, b)

  /** Double-precision cosine similarity (library use; not oracle-safe). */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    val dot = aggregate(zip_with(ad, bd, _ * _), lit(0.0), _ + _)
    val na = sqrt(aggregate(ad, lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(bd, lit(0.0), (acc, x) => acc + x * x))
    dot / (na * nb)
  }

  /** Rank a scored (qid, cid, score) frame to its per-query top-k
    * through the bounded-heap [[graft.plans.TopKPerGroup]] operator —
    * NOT a `row_number` window. The window spelling partitions by qid
    * and fully sorts each partition; for the exhaustive scans
    * (brute/SQ8/PQ) that partition is the ENTIRE corpus — a 10⁹-row
    * sort in one task per query at scale, no matter how many executors
    * exist. The heap operator keeps O(queries·k) state per partition
    * and emits the native rank during the drain, so nothing anywhere
    * sorts more than the winners. Tiebreak: highest score first, then
    * smallest cid (ids must be numeric — same contract as
    * [[lshTopKAll]]'s `struct(score, -cid)` ordering).
    */
  private def rankTopK(scored: DataFrame, scoreCol: String, k: Int): DataFrame =
    graft.plans.TopK.perGroupRanked(
      scored, Seq(col("qid")), struct(col(scoreCol), -col("cid")), k, "rnk")

  /** Brute-force top-k by quantized dot product: broadcast the query
    * set, one pass over candidates, bounded-heap per-query rank.
    * Deterministic tiebreak on candidate id.
    */
  def bruteForceTopK(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int): DataFrame = {
    val scored = candidates
      .join(broadcast(queries), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        dotQ(col("qvec"), col("cvec")).as("dot_q"))
    rankTopK(scored, "dot_q", k)
  }

  /** SQ8 scalar quantization — the embedding-compression scale path
    * (FAISS-style SQ8): each vector stores one int scale (`maxabs`,
    * its max absolute milli component) plus per-component 8-bit codes
    * `c = floor((m + maxabs)·255 / 2·maxabs)` ∈ [0, 255] — ~4× less
    * memory than float32, which is what lets a 100 TB embedding table
    * live in cluster RAM for scanning. All arithmetic is exact
    * integer math (the doubles inside stay < 2^53, so floor is
    * bit-deterministic on any engine); codes are kept as int64 here
    * for oracle parity — a production writer packs them to binary.
    */
  def sq8Encode(df: DataFrame, id: Column, vec: Column): DataFrame =
    df.select(id.as("cid"), quantize(vec).as("m"))
      .withColumn("maxabs",
        greatest(array_max(transform(col("m"), x => abs(x))), lit(1L)))
      .withColumn("codes", transform(col("m"), x =>
        floor(((x + col("maxabs")) * 255).cast("double") / (col("maxabs") * 2))
          .cast("bigint")))
      .select(col("cid"), col("maxabs"), col("codes"))

  /** Asymmetric distance computation (ADC) against SQ8 codes: the
    * query stays full-precision (milli ints), each code decodes to
    * `(c·2·maxabs) div 255 − maxabs` on the fly inside the fold — no
    * decompressed vector is ever materialized. Runs through the
    * native [[graft.functions.Sq8Dot]] kernel (codegen'd primitive
    * loop); [[sq8DotDeclarative]] is the portable definition the
    * kernel is spec-pinned to.
    */
  def sq8Dot(qvec: Column, codes: Column, maxabs: Column): Column =
    graft.functions.Sq8Dot(qvec, codes, maxabs)

  /** The declarative (HOF) definition of [[sq8Dot]] — the engine-
    * portable reference the native kernel is parity-checked against.
    */
  def sq8DotDeclarative(qvec: Column, codes: Column, maxabs: Column): Column =
    aggregate(
      zip_with(quantize(qvec), codes, (qm, c) =>
        qm * (floor((c * 2 * maxabs).cast("double") / 255).cast("bigint") - maxabs)),
      lit(0L), _ + _)

  /** Brute-force top-k over the COMPRESSED corpus (broadcast queries,
    * one ADC pass, per-query rank) — [[bruteForceTopK]]'s memory-bound
    * sibling: same scan shape, quarter the bytes per candidate. The
    * spec measures its recall against the exact scan.
    */
  def sq8TopK(
      queries: DataFrame, // (qid, qvec)
      encoded: DataFrame, // (cid, maxabs, codes) from sq8Encode
      k: Int): DataFrame = {
    val scored = encoded
      .join(broadcast(queries), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        sq8Dot(col("qvec"), col("codes"), col("maxabs")).as("dot_sq"))
    rankTopK(scored, "dot_sq", k)
  }

  /** PQ cell ids — one per subspace: the sign pattern of the
    * subvector's quantized components (bit p set iff component p ≥ 0).
    * Deterministic and engine-portable; with [[pqTrain]]'s learned
    * per-cell means this forms a product-quantization codebook whose
    * assignment step needs no argmax search. Runs through the native
    * [[graft.functions.PqCells]] kernel (one codegen'd pass, no
    * interpreted per-element lambdas); [[pqCellsDeclarative]] is the
    * portable definition the kernel is spec-pinned to.
    */
  def pqCells(vec: Column, m: Int, subDim: Int): Column =
    graft.functions.PqCells(vec, m, subDim)

  /** The declarative (HOF) definition of [[pqCells]] — the engine-
    * portable reference the native kernel is parity-checked against.
    */
  def pqCellsDeclarative(vec: Column, m: Int, subDim: Int): Column = {
    val powers = (0 until subDim).map(1L << _).toArray
    val qm = quantize(vec)
    transform(sequence(lit(0), lit(m - 1)), j =>
      aggregate(sequence(lit(0), lit(subDim - 1)), lit(0L), (acc, p) =>
        acc + when(element_at(qm, (j * subDim + p + 1).cast("int")) >= 0,
          element_at(lit(powers), (p + 1).cast("int"))).otherwise(0L)))
  }

  /** Rounded elementwise mean in EXACT int64 — half-away-from-zero
    * spelled without touching floating point:
    * `sign(s) · fdiv(2·|s| + c, 2·c)`. With nonnegative operands the
    * floor division is plain integer division, so no engine, libm, or
    * SQL dialect has latitude on a sum that lands exactly on a .5
    * boundary (2,221 of 12,712 first-round codebook means do at
    * sf0.01). Oracles replay it as
    * `CASE WHEN s<0 THEN -1 ELSE 1 END * ((2*abs(s) + c) // (2*c))` —
    * bit-identical by construction. Replaces `round(s / c)`, whose
    * double quotient left half-way cases to the engine's rounding
    * mode and divide ULP.
    */
  private[graft] def meanHalfAway(s: Column, c: Column): Column =
    (when(s < 0, lit(-1L)).otherwise(lit(1L)) *
      graft.operators.CorpusStats.fdiv(abs(s) * lit(2L) + c, c * lit(2L)))
      .cast("bigint")

  /** Product-quantization codebook: per (subspace, sign-cell,
    * position) elementwise mean of the quantized components — the same
    * one-aggregate training as [[centroids]], per subspace. Codebook
    * size = m · 2^subDim · subDim rows (model-sized, broadcastable).
    */
  def pqTrain(df: DataFrame, vec: Column, m: Int, subDim: Int): DataFrame = {
    val qm = quantize(vec)
    df.select(posexplode(pqCells(vec, m, subDim)).as(Seq("sub", "cell")), qm.as("qm"))
      .select(col("sub"), col("cell"),
        posexplode(slice(col("qm"), col("sub") * subDim + 1, lit(subDim)))
          .as(Seq("pos", "q")))
      .groupBy(col("sub"), col("cell"), col("pos"))
      .agg(meanHalfAway(sum(col("q")), count(lit(1))).as("mean_milli"))
  }

  /** PQ-encode the corpus: m bytes of code per vector (subDim ≤ 8 →
    * one 2^subDim-cell code per subspace) — 8 codes replace 64 floats,
    * a 32× compression; the layout for ANN over corpora whose raw
    * embeddings cannot fit cluster RAM at any reasonable node count.
    */
  def pqEncode(df: DataFrame, id: Column, vec: Column, m: Int, subDim: Int): DataFrame =
    df.select(id.as("cid"), posexplode(pqCells(vec, m, subDim)).as(Seq("sub", "cell")))

  /** Train + encode in ONE corpus pass: the exploded (id, sub, cell,
    * quantized-subvector) frame is computed once and cut from lineage
    * (`localCheckpoint` — in production, a written codes table), then
    * both the codebook aggregate and the code projection read it.
    * Same results as [[pqTrain]] + [[pqEncode]], half the scans and
    * half the interpreted cell evaluations.
    */
  def pqTrainEncode(
      df: DataFrame, id: Column, vec: Column,
      m: Int, subDim: Int): (DataFrame, DataFrame) = {
    val exploded = df
      .select(id.as("cid"), quantize(vec).as("qm"),
        posexplode(pqCells(vec, m, subDim)).as(Seq("sub", "cell")))
      .select(col("cid"), col("sub"), col("cell"),
        slice(col("qm"), col("sub") * subDim + 1, lit(subDim)).as("qsub"))
      .localCheckpoint(true)
    val codebook = exploded
      .select(col("sub"), col("cell"), posexplode(col("qsub")).as(Seq("pos", "q")))
      .groupBy(col("sub"), col("cell"), col("pos"))
      .agg(meanHalfAway(sum(col("q")), count(lit(1))).as("mean_milli"))
    (codebook, exploded.select(col("cid"), col("sub"), col("cell")))
  }

  /** PQ train + encode with per-subspace Lloyd refinement — the real
    * product-quantization training recipe on top of the sign-cell
    * init: each iteration re-assigns every subvector to its nearest
    * codeword under the exact integer objective (argmax
    * 2·dot − ‖c‖², ties to the LARGEST cell id — the
    * [[kmeansCodebook]] convention) and recomputes per-cell milli
    * means, monotonically shrinking subspace quantization error; the
    * returned codes are the TRAINED assignment, not the sign pattern.
    * All arithmetic is exact int64, so a SQL oracle replays the
    * training iteration by iteration.
    *
    * Shape: assignment is one [[graft.functions.PqNearestCell]] kernel
    * call per (vector, subspace) row of the checkpointed exploded
    * frame — the codebook rides as a reference object, no join, no
    * candidate-row explosion. Arithmetic cost is still n·m·2^subDim
    * dot products per iteration; at corpus scale train on a SAMPLE
    * (the FAISS practice — a codebook is a model, not an aggregate)
    * and encode the full corpus with one final [[pqEncodeWith]] pass.
    */
  def pqTrainEncodeLloyd(
      df: DataFrame, id: Column, vec: Column,
      m: Int, subDim: Int, iters: Int): (DataFrame, DataFrame) = {
    val exploded = df
      .select(id.as("cid"), quantize(vec).as("qm"),
        posexplode(pqCells(vec, m, subDim)).as(Seq("sub", "cell")))
      .select(col("cid"), col("sub"), col("cell"),
        slice(col("qm"), col("sub") * subDim + 1, lit(subDim)).as("qsub"))
      .localCheckpoint(true)
    def means(assigned: DataFrame): DataFrame = assigned
      .select(col("sub"), col("cell"), posexplode(col("qsub")).as(Seq("pos", "q")))
      .groupBy(col("sub"), col("cell"), col("pos"))
      .agg(meanHalfAway(sum(col("q")), count(lit(1))).as("mean_milli"))
    var assigned = exploded
    var codebook = means(assigned)
    var i = 0
    while (i < iters) {
      // model-sized collect (the broadcast-the-model pattern): the
      // re-assignment is then ONE PqNearestCell kernel call per
      // (vector, subspace) row — the old broadcast-join spelling
      // exploded n·m·2^subDim candidate rows through a grouped argmax
      // per iteration, a 2^subDim-fold row amplification for the same
      // arithmetic (argmax 2·dot − ‖c‖², ties to the largest cell)
      val (ids, vecs, norms) = collectPqCodebook(codebook, m)
      assigned = exploded.drop("cell")
        .withColumn("cell",
          graft.functions.PqNearestCell(col("qsub"), col("sub"), ids, vecs, norms))
      codebook = means(assigned)
      i += 1
    }
    (codebook, assigned.select(col("cid"), col("sub"), col("cell")))
  }

  /** Collect a trained per-subspace PQ codebook (sub, cell, pos,
    * mean_milli) to kernel form: per sub the codeword ids, milli
    * vectors (pos-sorted) and norms. Model-sized by construction
    * (m·2^subDim·subDim longs at most).
    */
  private def collectPqCodebook(codebook: DataFrame, m: Int)
      : (Array[Array[Long]], Array[Array[Array[Long]]], Array[Array[Long]]) = {
    val rows = codebook.groupBy(col("sub"), col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean_milli")))),
        e => e.getField("mean_milli")).as("cvec"))
      .collect()
    val ids = Array.fill(m)(Array.empty[Long])
    val vecs = Array.fill(m)(Array.empty[Array[Long]])
    val norms = Array.fill(m)(Array.empty[Long])
    rows.groupBy(_.getAs[Number]("sub").intValue()).foreach { case (sub, rs) =>
      require(sub >= 0 && sub < m, s"codebook subspace $sub outside m=$m")
      ids(sub) = rs.map(_.getAs[Number]("cell").longValue())
      vecs(sub) = rs.map(_.getSeq[Long](2).toArray)
      norms(sub) = vecs(sub).map(_.map(x => x * x).sum)
    }
    (ids, vecs, norms)
  }

  /** Encode a corpus against an EXISTING trained codebook: one NARROW
    * assignment pass — the whole codebook rides as a reference object
    * into the [[graft.functions.PqAssign]] kernel, which quantizes the
    * vector once and takes each subspace's argmax-(2·dot − ‖c‖²)
    * codeword (ties to the largest cell, the [[kmeansCodebook]]
    * convention) in ONE call per row. This is the full-corpus half of
    * the FAISS practice: train on a sample, encode everything in one
    * pass — with no join and no n·m·2^subDim candidate-row explosion
    * (the previous broadcast-join spelling measured 111 s at 200k
    * vectors; same arithmetic, pinned by `CellKernelsSpec`).
    */
  def pqEncodeWith(
      df: DataFrame, id: Column, vec: Column,
      codebook: DataFrame, m: Int, subDim: Int): DataFrame = {
    val (ids, vecs, norms) = collectPqCodebook(codebook, m)
    df.select(id.as("cid"),
      posexplode(graft.functions.PqAssign(vec, m, subDim, ids, vecs, norms))
        .as(Seq("sub", "cell")))
  }

  /** The SCALE-SHAPED PQ training spelling — FAISS practice end to
    * end: train the codebook on a deterministic, engine-portable
    * sample (the `sampleN` smallest md5("seed:id") — a
    * TakeOrderedAndProject, model-sized, replayable by any SQL
    * engine), run `iters` per-subspace Lloyd rounds on the sample
    * only (training cost sampleN·m·2^subDim per round instead of
    * n·m·2^subDim), then encode the FULL corpus with one
    * [[pqEncodeWith]] assignment pass. The returned codebook is
    * lineage-cut (model-sized) so the encode pass and the query-side
    * LUT build don't re-run the training.
    */
  def pqTrainSampleEncode(
      df: DataFrame, id: Column, vec: Column,
      m: Int, subDim: Int, iters: Int, sampleN: Int,
      seed: String = "pq"): (DataFrame, DataFrame) = {
    val sample = pqSample(df, id, vec, sampleN, seed)
    val (codebook, _) =
      pqTrainEncodeLloyd(sample, col("__sid"), col("__svec"), m, subDim, iters)
    val cb = codebook.localCheckpoint(true)
    (cb, pqEncodeWith(df, id, vec, cb, m, subDim))
  }

  /** The deterministic training sample [[pqTrainSampleEncode]] trains
    * on — the `sampleN` smallest md5("seed:id"), id-tiebroken. Exposed
    * package-side so diagnostics (the streaming gate's digest trail)
    * fingerprint the EXACT frame the trainer consumed, through this
    * one code path.
    */
  private[graft] def pqSample(
      df: DataFrame, id: Column, vec: Column,
      sampleN: Int, seed: String): DataFrame = df
    .select(id.as("__sid"), vec.as("__svec"))
    .orderBy(
      md5(concat_ws(":", lit(seed), col("__sid").cast("string"))),
      col("__sid"))
    .limit(sampleN)

  /** PQ top-k via asymmetric-distance LUTs: per query, precompute
    * dot(query-subvector, codeword) for every (subspace, cell) — a
    * model-sized table — then score each candidate as the sum of m
    * LUT hits on its codes and rank. The corpus is touched only
    * through its codes (broadcast LUT equi-join + one combinable
    * groupBy); no float vector is read at scan time.
    */
  def pqTopK(
      queries: DataFrame, // (qid, qvec)
      encoded: DataFrame, // (cid, sub, cell) from pqEncode
      codebook: DataFrame, // (sub, cell, pos, mean_milli) from pqTrain
      k: Int, m: Int, subDim: Int): DataFrame = {
    val q = queries.select(col("qid"), quantize(col("qvec")).as("qm"))
    val lut = codebook
      .crossJoin(broadcast(q))
      .groupBy(col("qid"), col("sub"), col("cell"))
      .agg(sum(
        element_at(col("qm"), (col("sub") * subDim + col("pos") + 1).cast("int"))
          * col("mean_milli")).as("lut"))
    val scored = encoded
      .join(broadcast(lut), Seq("sub", "cell"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("lut")).as("dot_pq"), count(lit(1)).as("__nsub"))
      // only candidates carrying all m subspace hits are comparable —
      // with a complete codebook that is every candidate; the filter
      // guards against a codebook trained on a different corpus
      .filter(col("__nsub") === m)
      .drop("__nsub")
    rankTopK(scored, "dot_pq", k)
  }

  /** IVF-PQ residual encoding — the rung above plain PQ on the
    * compression ladder: coarse-assign each vector to its nearest
    * trained centroid ([[kmeansCodebook]] reused verbatim), then
    * PQ-encode the RESIDUAL (quantized vector − centroid, exact int64
    * milli) with the sample-trained recipe ([[pqTrainSampleEncode]]
    * reused verbatim — residual millis re-enter through an exact
    * /1000.0 round-trip, so every downstream integer is the residual
    * itself). The coarse term restores the bulk of the dot product
    * EXACTLY at ADC time and the m bytes of code only carry the
    * remainder — which is what lifts compressed-domain recall past
    * the 8-byte plain-PQ ceiling without touching the rerank path.
    *
    * Returns (coarseCodebook (cell,pos,mean_milli),
    * pqCodebook (sub,cell,pos,mean_milli),
    * encoded (cid, ccell, sub, cell)). Shape at scale: the coarse
    * assignment is one [[graft.functions.TopCells]] kernel pass + a
    * broadcast join against the model-sized centroid table; training
    * cost is sample-sized; the corpus pays one encode pass.
    */
  def ivfPqTrainSampleEncode(
      df: DataFrame, id: Column, vec: Column,
      coarseCells: Int, coarseIters: Int,
      m: Int, subDim: Int, iters: Int, sampleN: Int,
      seed: String = "pq"): (DataFrame, DataFrame, DataFrame) = {
    val coarse = kmeansCodebook(
      df.select(id.as("__id"), vec.as("__vec")),
      pmod(col("__id"), lit(coarseCells.toLong)), col("__vec"), coarseIters)
      .localCheckpoint(true)
    val cb = collectCodebook(coarse)
    val cvecs = coarse.groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean_milli")))),
        e => e.getField("mean_milli")).as("__cvec"))
    val withRes = df
      .select(id.as("__id"), quantize(vec).as("__qm"), vec.as("__vec"))
      .withColumn("ccell", nearestCell("__vec", cb))
      .join(broadcast(cvecs), col("ccell") === col("cell"))
      // exact int64 residual, re-expressed as a float vector whose
      // re-quantization is the identity: |res_milli| ≲ 4000, so the
      // float32 value of res/1000 re-rounds to exactly res
      .withColumn("__rvec", transform(
        zip_with(col("__qm"), col("__cvec"), (a, b) => a - b),
        x => (x.cast("double") / 1000.0).cast("float")))
      .select(col("__id"), col("ccell"), col("__rvec"))
    val (pqCb, encoded) = pqTrainSampleEncode(
      withRes, col("__id"), col("__rvec"), m, subDim, iters, sampleN, seed)
    val withCoarse = encoded.join(
      withRes.select(col("__id").as("cid"), col("ccell")), Seq("cid"))
    (coarse, pqCb, withCoarse.select(col("cid"), col("ccell"), col("sub"), col("cell")))
  }

  /** [[ivfPqTopK]] with IVF PRUNING — the full FAISS search shape:
    * each query ADC-scans only the codes of its `nprobe` best coarse
    * cells (one TopCells kernel call per query + an equi-join on the
    * cell key), so per-query work is ~nprobe/cells of the code table
    * instead of all of it — at 10⁹ vectors the difference between a
    * full compressed scan and an O(√n)-candidates probe. With
    * `nprobe = |cells|` the result equals the unpruned scan exactly
    * (spec-pinned); smaller nprobe trades recall for scan fraction
    * monotonically.
    */
  def ivfPqTopKPruned(
      queries: DataFrame, // (qid, qvec)
      encoded: DataFrame, // (cid, ccell, sub, cell)
      coarseCodebook: DataFrame, // (cell, pos, mean_milli)
      pqCodebook: DataFrame, // (sub, cell, pos, mean_milli)
      k: Int, m: Int, subDim: Int, nprobe: Int): DataFrame = {
    val cb = collectCodebook(coarseCodebook)
    require(nprobe >= 1 && nprobe <= cb.length,
      s"nprobe must be in [1, ${cb.length}]")
    val q = queries.select(col("qid"), quantize(col("qvec")).as("qm"),
      col("qvec"))
    // each query probes its nprobe best coarse cells — one TopCells
    // kernel call per query, broadcast onto the code table's cell key
    val probes = q
      .withColumn("ccell", explode(topCells("qvec", cb, nprobe)))
      .select(col("qid"), col("ccell"))
    val cand = encoded.join(broadcast(probes), Seq("ccell"))
    val cdot = coarseCodebook
      .crossJoin(broadcast(q.select(col("qid"), col("qm"))))
      .groupBy(col("qid"), col("cell"))
      .agg(sum(element_at(col("qm"), (col("pos") + 1).cast("int"))
        * col("mean_milli")).as("cdot"))
      .select(col("qid"), col("cell").as("ccell"), col("cdot"))
    val lut = pqCodebook
      .crossJoin(broadcast(q.select(col("qid"), col("qm"))))
      .groupBy(col("qid"), col("sub"), col("cell"))
      .agg(sum(
        element_at(col("qm"), (col("sub") * subDim + col("pos") + 1).cast("int"))
          * col("mean_milli")).as("lut"))
    val scored = cand
      .join(broadcast(lut), Seq("qid", "sub", "cell"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid"), col("ccell"))
      .agg(sum(col("lut")).as("__res_dot"), count(lit(1)).as("__nsub"))
      .filter(col("__nsub") === m)
      .join(broadcast(cdot), Seq("qid", "ccell"))
      .select(col("qid"), col("cid"),
        (col("cdot") + col("__res_dot")).as("dot_ivfpq"))
    rankTopK(scored, "dot_ivfpq", k)
  }

  /** Compressed-domain top-k over IVF-PQ codes: score = the EXACT
    * centroid dot (per (query, coarse cell) — a model-sized broadcast
    * table) + the residual ADC LUT sum — [[pqTopK]]'s scoring with
    * the coarse term added back. The corpus is touched only through
    * its (ccell, codes) rows.
    */
  def ivfPqTopK(
      queries: DataFrame, // (qid, qvec)
      encoded: DataFrame, // (cid, ccell, sub, cell)
      coarseCodebook: DataFrame, // (cell, pos, mean_milli)
      pqCodebook: DataFrame, // (sub, cell, pos, mean_milli)
      k: Int, m: Int, subDim: Int): DataFrame = {
    val q = queries.select(col("qid"), quantize(col("qvec")).as("qm"))
    val cdot = coarseCodebook
      .crossJoin(broadcast(q))
      .groupBy(col("qid"), col("cell"))
      .agg(sum(element_at(col("qm"), (col("pos") + 1).cast("int"))
        * col("mean_milli")).as("cdot"))
      .select(col("qid"), col("cell").as("ccell"), col("cdot"))
    val lut = pqCodebook
      .crossJoin(broadcast(q))
      .groupBy(col("qid"), col("sub"), col("cell"))
      .agg(sum(
        element_at(col("qm"), (col("sub") * subDim + col("pos") + 1).cast("int"))
          * col("mean_milli")).as("lut"))
    val scored = encoded
      .join(broadcast(lut), Seq("sub", "cell"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid"), col("ccell"))
      .agg(sum(col("lut")).as("__res_dot"), count(lit(1)).as("__nsub"))
      .filter(col("__nsub") === m)
      .join(broadcast(cdot), Seq("qid", "ccell"))
      .select(col("qid"), col("cid"),
        (col("cdot") + col("__res_dot")).as("dot_ivfpq"))
    rankTopK(scored, "dot_ivfpq", k)
  }

  /** Reconstruct the quantized (milli) vector a code row encodes:
    * broadcast-join the model-sized codebook's per-(sub, cell)
    * codeword arrays onto the codes and reassemble per id — one
    * shuffle on the id key. Output (cid, dec: array of m·subDim
    * milli components).
    */
  def pqDecodeMilli(
      encoded: DataFrame, codebook: DataFrame): DataFrame = {
    val cw = codebook.groupBy(col("sub"), col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean_milli")))),
        e => e.getField("mean_milli")).as("__cw"))
    encoded.join(broadcast(cw), Seq("sub", "cell"))
      .groupBy(col("cid"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("__cw")))),
        e => e.getField("__cw"))).as("dec"))
  }

  /** Multi-stage RESIDUAL product quantization (RQ): stage 1 PQ-codes
    * the vector, each further stage codes the residual the previous
    * stages left — the code budget doubles (m bytes per stage) and
    * the quantization error compounds DOWN, which is the rung that
    * lifts compressed-domain (ADC) recall past the single-stage
    * 8-byte ceiling on corpora with little coarse-cluster structure
    * (for near-isotropic embeddings a coarse-centroid IVF term
    * removes only ~k^(-2/dim) of the energy; a whole second PQ stage
    * removes another full stage's worth). Every stage reuses the
    * sample-trained recipe verbatim ([[pqTrainSampleEncode]], seeds
    * `pq0`, `pq1`, …); residual millis re-enter through an exact
    * float round-trip, so all arithmetic stays int64-replayable.
    *
    * Returns (codebooks by stage, encoded (cid, stage, sub, cell)).
    * Corpus cost: one encode pass + one decode join per stage;
    * training cost is sample-sized per stage.
    */
  def pqResidualTrainSampleEncode(
      df: DataFrame, id: Column, vec: Column,
      m: Int, subDim: Int, iters: Int, sampleN: Int, stages: Int = 2,
      seed: String = "pq"): (Seq[DataFrame], DataFrame) = {
    require(stages >= 1, s"stages=$stages must be >= 1")
    var cur = df.select(id.as("cid"), quantize(vec).as("__qm"), vec.as("__v"))
    val codebooks = Seq.newBuilder[DataFrame]
    var encodedAll: DataFrame = null
    var s = 0
    while (s < stages) {
      val (cb, enc) = pqTrainSampleEncode(
        cur, col("cid"), col("__v"), m, subDim, iters, sampleN, s"$seed$s")
      codebooks += cb
      val tagged = enc.withColumn("stage", lit(s.toLong))
        .select(col("cid"), col("stage"), col("sub"), col("cell"))
      encodedAll = if (encodedAll == null) tagged else encodedAll.unionByName(tagged)
      s += 1
      if (s < stages) {
        // next stage sees the residual: exact int64 milli subtraction,
        // re-expressed as floats whose re-quantization is the identity
        cur = cur.join(pqDecodeMilli(enc, cb), Seq("cid"))
          .withColumn("__qm", zip_with(col("__qm"), col("dec"), (a, b) => a - b))
          .withColumn("__v",
            transform(col("__qm"), x => (x.cast("double") / 1000.0).cast("float")))
          .select(col("cid"), col("__qm"), col("__v"))
      }
    }
    (codebooks.result(), encodedAll)
  }

  /** Compressed-domain top-k over multi-stage residual codes: the ADC
    * score is the SUM of every stage's LUT hits (dot(q, x̂) where
    * x̂ = Σ stage codewords — additivity of the dot product), one
    * broadcast LUT equi-join over the (stage, sub, cell) codes.
    */
  def pqResidualTopK(
      queries: DataFrame, // (qid, qvec)
      encoded: DataFrame, // (cid, stage, sub, cell)
      codebooks: Seq[DataFrame],
      k: Int, m: Int, subDim: Int): DataFrame = {
    val q = queries.select(col("qid"), quantize(col("qvec")).as("qm"))
    val lut = codebooks.zipWithIndex.map { case (cb, s) =>
      cb.withColumn("stage", lit(s.toLong))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(q))
      .groupBy(col("qid"), col("stage"), col("sub"), col("cell"))
      .agg(sum(
        element_at(col("qm"), (col("sub") * subDim + col("pos") + 1).cast("int"))
          * col("mean_milli")).as("lut"))
    val scored = encoded
      .join(broadcast(lut), Seq("stage", "sub", "cell"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("lut")).as("dot_rq"), count(lit(1)).as("__nsub"))
      .filter(col("__nsub") === codebooks.length * m)
      .drop("__nsub")
    rankTopK(scored, "dot_rq", k)
  }

  /** Production PQ search: ADC-scan the codes for a top-`shortlist`
    * candidate set (cheap, compressed-domain), then rerank ONLY the
    * shortlist with exact full-precision dots — the standard
    * IVF/PQ + rerank recipe that buys back the recall the coarse
    * codes lose. The full corpus is read once through its codes; the
    * float vectors are fetched for shortlist·|queries| rows only.
    */
  def pqTopKRerank(
      queries: DataFrame, // (qid, qvec)
      encoded: DataFrame, // (cid, sub, cell)
      codebook: DataFrame, // (sub, cell, pos, mean_milli)
      candidates: DataFrame, // (cid, cvec) — fetched for the shortlist only
      k: Int, shortlist: Int, m: Int, subDim: Int): DataFrame = {
    val short = pqTopK(queries, encoded, codebook, shortlist, m, subDim)
      .select(col("qid"), col("cid"))
    rerank(queries, candidates, short, k)
  }

  /** [[pqTopKRerank]] for multi-stage residual codes — the production
    * read path on the RQ rung: ADC-shortlist via [[pqResidualTopK]]
    * (the higher-recall compressed ranking), then exact
    * full-precision rerank of shortlist·|queries| rows only.
    */
  def pqResidualTopKRerank(
      queries: DataFrame, // (qid, qvec)
      encoded: DataFrame, // (cid, stage, sub, cell)
      codebooks: Seq[DataFrame],
      candidates: DataFrame, // (cid, cvec) — fetched for the shortlist only
      k: Int, shortlist: Int, m: Int, subDim: Int): DataFrame = {
    val short = pqResidualTopK(queries, encoded, codebooks, shortlist, m, subDim)
      .select(col("qid"), col("cid"))
    rerank(queries, candidates, short, k)
  }

  private def rerank(
      queries: DataFrame, candidates: DataFrame,
      short: DataFrame, k: Int): DataFrame = {
    val scored = short
      .join(candidates, Seq("cid"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("cid"), dotQ(col("qvec"), col("cvec")).as("dot_q"))
    rankTopK(scored, "dot_q", k)
  }

  /** Sign-LSH bucket keys, one per hash table: table `t` hashes the
    * sign pattern of components [t·bits, t·bits+bits) (random-
    * hyperplane LSH with axis-aligned planes — deterministic and
    * engine-independent). Vectors sharing a bucket in ANY table are
    * candidates; more tables = higher recall at the same per-table
    * pruning factor.
    */
  def signBuckets(vec: Column, bits: Int, tables: Int): Column =
    transform(sequence(lit(0), lit(tables - 1)), t =>
      aggregate(
        zip_with(slice(vec, t * lit(bits) + 1, lit(bits)), sequence(lit(0), lit(bits - 1)),
          (x, i) => when(x >= 0, pow(lit(2.0), i).cast("long")).otherwise(0L)),
        lit(0L), _ + _))

  /** All tables' sign buckets packed into ONE int64: bucket of table t
    * occupies bit range [bits·t, bits·(t+1)). Lets the candidate join
    * carry a single long instead of an array, and makes the pair-dedupe
    * predicate ([[firstAgreeingTable]]) pure codegen'd integer math.
    * Requires bits·tables ≤ 63.
    */
  def packedSignBuckets(vec: Column, bits: Int, tables: Int): Column = {
    require(bits * tables <= 63, s"bits*tables = ${bits * tables} must fit in int64")
    aggregate(
      zip_with(signBuckets(vec, bits, tables), sequence(lit(0), lit(tables - 1)),
        (b, t) => b * pow(lit(2.0), t * lit(bits)).cast("long")),
      lit(0L), _ + _)
  }

  /** Index of the FIRST table whose buckets agree between two packed
    * signatures, or -1 — a CASE chain over literal bit masks, fully
    * inside whole-stage codegen (≈ tables AND/compare long ops per
    * pair). This is the hot-path pair-dedupe predicate: each colliding
    * pair is kept only in its first agreeing table, so LSH joins never
    * need a dropDuplicates shuffle, and the check costs no interpreted
    * higher-order function on the O(candidate-pairs) path.
    */
  def firstAgreeingTable(a: Column, b: Column, bits: Int, tables: Int): Column = {
    val x = a.bitwiseXOR(b)
    (0 until tables).reverse.foldLeft(lit(-1): Column)((els, t) =>
      when(x.bitwiseAND(lit(((1L << bits) - 1) << (bits * t))) === 0L, lit(t))
        .otherwise(els))
  }

  /** [[firstAgreeingTable]] restricted to tables where BOTH rows'
    * buckets survived a hot-bucket cap (`mask` = per-row bitmask of
    * surviving tables): the exactly-once rule under capping becomes
    * "first agreeing SURVIVING table", so a pair whose first agreement
    * sat in a capped bucket is still emitted from its next surviving
    * agreement instead of being lost.
    */
  def firstAgreeingSurvivingTable(
      a: Column, b: Column, maskA: Column, maskB: Column,
      bits: Int, tables: Int): Column = {
    val x = a.bitwiseXOR(b)
    val both = maskA.bitwiseAND(maskB)
    (0 until tables).reverse.foldLeft(lit(-1): Column)((els, t) =>
      when(
        x.bitwiseAND(lit(((1L << bits) - 1) << (bits * t))) === 0L &&
          both.bitwiseAND(lit(1L << t)) =!= 0L,
        lit(t)).otherwise(els))
  }

  /** Exact integer Gram matrix of the quantized embedding corpus —
    * G[i][j] = Σ_v q(v_i)·q(v_j), plus per-dimension sums and the row
    * count, i.e. everything needed to form the covariance
    * (Cov = G/n − mean·meanᵀ) that whitening / OPQ-style rotation
    * training consumes. One narrow dim² expansion per vector (CPU
    * only — the shuffle after map-side combine is ≤ dim² rows per
    * task regardless of corpus size, so a billion vectors still move
    * only |tasks|·dim² partials). All arithmetic int64 and
    * order-independent, hence oracle-reproducible bit-exactly.
    * Overflow bound (caller-owned): n·(1000·max|v|)² < 2^63 — at
    * unit-norm embeddings that is ~9×10¹² vectors; shard the corpus
    * and sum shards past that.
    *
    * Returns (i, j, g, sum_i, n): `sum_i` is Σ q(v_i) (constant per
    * i — carried on each row so consumers need no second pass).
    */
  def embGram(df: DataFrame, vec: Column): DataFrame =
    df.select(quantize(vec).as("q"))
      .select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("i"), col("qi"), posexplode(col("q")).as(Seq("j", "qj")))
      .groupBy(col("i"), col("j"))
      .agg(
        sum(col("qi") * col("qj")).as("g"),
        sum(col("qi")).as("sum_i"),
        count(lit(1)).as("n"))
      .select(col("i").cast("bigint").as("i"), col("j").cast("bigint").as("j"),
        col("g"), col("sum_i"), col("n"))

  /** Per-dimension whitening scales from [[embGram]]'s diagonal — the
    * operator that CONSUMES the Gram matrix: sdev_pos =
    * isqrt(n·G[d][d] − sum_d²), the (n·1000·σ_d)-scaled standard
    * deviation, in exact int64 (floor-sqrt with the ±1 integer
    * verification — immune to libm rounding, so a DuckDB oracle
    * reproduces every scale bit-exactly; clamped ≥ 1 so constant
    * dimensions pass through instead of dividing by zero).
    * Model-sized output (dim rows).
    */
  def whitenScales(gram: DataFrame): DataFrame = {
    val vn = col("n") * col("g") - col("sum_i") * col("sum_i")
    val s0 = floor(sqrt(vn.cast("double"))).cast("bigint")
    val s = when((s0 + 1) * (s0 + 1) <= vn, s0 + 1)
      .when(s0 * s0 > vn, s0 - 1)
      .otherwise(s0)
    gram.filter(col("i") === col("j"))
      .select(col("i").as("pos"), greatest(s, lit(1L)).as("sdev"))
  }

  /** Apply diagonal whitening: w_d = fdiv(10^6 · q_d, sdev_d) — every
    * dimension rescaled to comparable variance, exact int64. The
    * scales are a MODEL (dim rows): collected once, broadcast as a
    * literal array into one narrow projection pass — no join touches
    * the corpus. Output (id, wvec: int64 array).
    *
    * Why it matters for the ANN ladder: sign-LSH bits and PQ sign
    * cells split on coordinate signs, so a few high-variance
    * dimensions dominate every bucket decision and bury the signal
    * dimensions; whitening rebalances them (measured on the
    * planted-correlation spec fixture).
    */
  def whiten(df: DataFrame, id: Column, vec: Column, scales: DataFrame): DataFrame = {
    val sdevs = scales.orderBy("pos").select("sdev").collect()
      .map(_.getLong(0))
    val fdiv = graft.operators.CorpusStats.fdiv _
    df.select(id.as("id"),
      zip_with(quantize(vec), lit(sdevs),
        (q, s) => fdiv(q * 1000000L, s)).as("wvec"))
  }

  /** Re-express an exact int64 milli-ish vector as floats whose
    * re-quantization is the identity (|w| ≪ 2^24 · 1000) — the bridge
    * back into the float-vec ANN ladder (LSH, IVF, PQ).
    */
  def milliToVec(w: Column): Column =
    transform(w, x => (x.cast("double") / 1000.0).cast("float"))

  /** Apply a DENSE dim×dim milli transform (an OPQ rotation, a PCA
    * basis — any model matrix): w_j = fdiv(Σ_i q_i · T[i][j], 1000),
    * exact int64, the matrix broadcast as a literal into one narrow
    * pass (dim² multiplies per row, no join, no shuffle). For
    * diagonal transforms prefer [[whiten]] — dim multiplies per row
    * and single-floor arithmetic.
    */
  def applyDenseMilli(
      df: DataFrame, id: Column, vec: Column,
      tMilli: Array[Array[Long]]): DataFrame = {
    val dim = tMilli.length
    val fdiv = graft.operators.CorpusStats.fdiv _
    val cols = (0 until dim).map { j =>
      val column = (0 until dim).map(i => tMilli(i)(j)).toArray
      fdiv(
        aggregate(
          zip_with(col("__q"), lit(column), (q, t) => q * t),
          lit(0L), (acc, x) => acc + x),
        lit(1000L))
    }
    df.select(id.as("id"), quantize(vec).as("__q"))
      .select(col("id"), array(cols: _*).as("wvec"))
  }

  /** Elementwise centroids per cell (exact int64 milli sums → means):
    * the IVF coarse quantizer's codebook, built with one explode +
    * one shuffle on (cell, position). Input (cell, vec); output
    * (cell, pos, mean_milli).
    */
  def centroids(df: DataFrame, cell: Column, vec: Column): DataFrame =
    df.select(cell.as("cell"), posexplode(quantize(vec)).as(Seq("pos", "q")))
      .groupBy(col("cell"), col("pos"))
      .agg(meanHalfAway(sum(col("q")), count(lit(1))).as("mean_milli"))

  /** Collect a (cell, pos, mean_milli) codebook to the driver as
    * per-cell milli-component arrays. A codebook is small by
    * construction (|cells| × dims, model-sized); this is the k-means
    * broadcast-the-centroids pattern, never a corpus collect.
    * mean_milli/1000f must round-trip exactly through dot_q's
    * round(x·1000) quantization (checked), so inlined kernel scores
    * are bit-identical to the declarative form.
    */
  private def collectCodebook(codebook: DataFrame): Array[(Any, Array[Long])] = {
    val cb: Array[(Any, Array[Long])] = codebook
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean_milli")))),
        e => e.getField("mean_milli")).as("cvec_milli"))
      .collect()
      .map(r => (r.get(0), r.getSeq[Long](1).toArray))
    require(cb.forall(_._2.forall(m =>
      graft.functions.QuantizedDot.q(m / 1000f) == m)),
      "centroid milli-components must round-trip exactly through float")
    cb
  }

  /** Per-cell (score, cell) structs for nearest-centroid assignment
    * under the EXACT integer objective: argmin ‖q(v)−c‖² = argmax
    * (2·dot_q(v,c) − ‖c‖²) (‖q(v)‖² is constant per row). Inlined as
    * |cells| codegen'd dot_q kernel calls against per-cell float-array
    * Literals — a pure narrow projection (no join, no shuffle of the
    * big side); each centroid is ONE Literal node, so Janino compile
    * time stays flat in the codebook size. Struct ordering compares
    * score first, ties to the LARGEST cell id (array_max convention —
    * the oracle replays `ORDER BY score DESC, cell DESC`).
    */
  private def cellScores(vec: String, cb: Array[(Any, Array[Long])]): Column =
    array(cb.toIndexedSeq.map { case (cell, cvec) =>
      val norm = cvec.map(m => m * m).sum
      struct(
        (graft.functions.QuantizedDot(col(vec), lit(cvec.map(_ / 1000f))) * 2
          - lit(norm)).as("score"),
        lit(cell).as("cell"))
    }: _*)

  /** Deterministic integer Lloyd iterations — the real k-means recipe
    * behind a FAISS-style IVF coarse quantizer. Starting from the
    * caller's coarse cells (a label, a sign-cell — anything
    * deterministic), each iteration (1) broadcasts the model-sized
    * codebook as literals and re-assigns every vector to its nearest
    * centroid under the exact integer objective (a narrow projection
    * over the corpus — no shuffle), then (2) recomputes per-cell
    * elementwise milli means (one aggregate — the same shuffle shape
    * as [[centroids]]). All arithmetic is exact int64, so a SQL oracle
    * replays the training as a CTE chain, iteration by iteration. A
    * cell that loses all members simply drops out (deterministic;
    * FAISS re-seeds instead — irrelevant for a coarse quantizer, where
    * the next assignment pass redistributes).
    */
  /** One Lloyd round from an existing (cell, pos, mean_milli)
    * codebook: broadcast the model as literals, re-assign every vector
    * to its nearest centroid under the exact integer objective (narrow
    * projection, no shuffle of the big side), recompute per-cell milli
    * means (one aggregate).
    */
  private[graft] def lloydRound(
      df: DataFrame, vec: Column, cb: DataFrame): DataFrame = {
    val model = collectCodebook(cb)
    val assigned = df.select(vec.as("__v"))
      .select(nearestCell("__v", model).as("cell"), col("__v"))
    centroids(assigned, col("cell"), col("__v"))
  }

  /** Kernel form of a collected codebook when every cell id is a
    * bigint (the trained-quantizer case): (ids, milli vectors, norms)
    * for [[graft.functions.TopCells]]. Label-keyed codebooks (any
    * other id type) keep the literal spelling.
    */
  private def kernelCodebook(cb: Array[(Any, Array[Long])])
      : Option[(Array[Long], Array[Array[Long]], Array[Long])] =
    if (cb.nonEmpty && cb.forall(_._1.isInstanceOf[java.lang.Long]))
      Some((
        cb.map(_._1.asInstanceOf[java.lang.Long].longValue()),
        cb.map(_._2),
        cb.map(_._2.map(x => x * x).sum)))
    else None

  /** Top-`c` cell ids by (score desc, cell desc) under the exact
    * integer objective: ONE [[graft.functions.TopCells]] kernel call
    * when cell ids are bigints — generated code flat in the cell
    * count, so a √n-sized codebook (hundreds+ of cells) stays inside
    * whole-stage codegen instead of crossing Janino's 64 KB method
    * limit the way |cells| inlined literal kernels do. Falls back to
    * the literal `cellScores` sort for label-keyed codebooks
    * (value-identical — spec-pinned).
    */
  private def topCells(vec: String, cb: Array[(Any, Array[Long])], c: Int): Column =
    kernelCodebook(cb) match {
      case Some((ids, vecs, norms)) =>
        graft.functions.TopCells(col(vec), ids, vecs, norms, c)
      case None =>
        slice(reverse(array_sort(cellScores(vec, cb))), 1, c).getField("cell")
    }

  /** Argmax cell (ties to the largest id) — `c = 1` of [[topCells]]. */
  private def nearestCell(vec: String, cb: Array[(Any, Array[Long])]): Column =
    kernelCodebook(cb) match {
      case Some((ids, vecs, norms)) =>
        element_at(graft.functions.TopCells(col(vec), ids, vecs, norms, 1), 1)
      case None => array_max(cellScores(vec, cb)).getField("cell")
    }

  def kmeansCodebook(
      df: DataFrame, cell: Column, vec: Column, iters: Int): DataFrame = {
    var cb = centroids(df, cell, vec)
    var i = 0
    while (i < iters) {
      cb = lloydRound(df, vec, cb)
      i += 1
    }
    cb
  }

  /** IVF-style ANN: assign every vector to its nearest centroid
    * (broadcast codebook — one pass, no shuffle of the big side), then
    * search only within the query's `nprobe` best cells: the equi-join
    * on `cell` replaces the full scan, trading recall for a
    * |cells|/nprobe-fold pruning. Two standard recall knobs, both
    * monotone (the candidate set only grows):
    *  - `nprobe`: queries probe their n best cells (FAISS's knob);
    *  - `cassign`: candidates INDEX in their n best cells (FAISS's
    *    multiple-assignment variant) — the index grows `cassign`-fold,
    *    but a true neighbor sitting just across a cell boundary from
    *    its query becomes reachable without widening every query's
    *    probe. The knob to reach a recall target when the corpus
    *    scan-side cost (nprobe) is already budgeted.
    *
    * With `cassign` > 1 a (query, candidate) pair can meet in up to
    * min(nprobe, cassign) cells; it is emitted EXACTLY ONCE — from the
    * candidate's best-ranked cell among those the query probes, a
    * codegen'd array predicate over the carried cell lists (the LSH
    * pipeline's first-agreeing-table rule), never a dedupe shuffle.
    */
  def ivfTopK(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      codebook: DataFrame, // (cell, pos, mean_milli)
      k: Int, nprobe: Int = 1, cassign: Int = 1): DataFrame = {
    val cb = collectCodebook(codebook)
    require(nprobe >= 1 && nprobe <= cb.length,
      s"nprobe must be in [1, ${cb.length}]")
    require(cassign >= 1 && cassign <= cb.length,
      s"cassign must be in [1, ${cb.length}]")
    // queries probe their nprobe best cells — one TopCells kernel call
    // per row (codegen flat in |cells|; see [[topCells]])
    val qa = queries
      .withColumn("qcells", topCells("qvec", cb, nprobe))
      .withColumn("qcell", explode(col("qcells")))
    val ca = candidates
      .withColumn("ccells", topCells("cvec", cb, cassign))
      .withColumn("ccell", explode(col("ccells")))
    val scored = ca
      .join(broadcast(qa), col("qcell") === col("ccell"))
      .filter(col("qid") =!= col("cid"))
      // exactly-once: keep the meeting in the candidate's FIRST
      // (best-ranked) cell that the query also probes
      .filter(col("ccell") === element_at(
        filter(col("ccells"), x => array_contains(col("qcells"), x)), 1))
      .select(col("qid"), col("cid"), dotQ(col("qvec"), col("cvec")).as("dot_q"))
    rankTopK(scored, "dot_q", k)
  }

  /** Multi-table LSH ANN: explode per-table buckets, equi-join on
    * (table, bucket) — a shuffle on the bucket key, no cartesian —
    * dedupe candidate pairs, exact rerank within the candidate set.
    * Recall/pruning is tuned by (bits, tables); the spec measures
    * recall against [[bruteForceTopK]].
    */
  /** The production sizing rule for sign-LSH bucket width: enough
    * bits that the EXPECTED bucket holds ~`targetBucket` vectors —
    * `ceil(log2(n / targetBucket))`, clamped to what the embedding
    * dimension can feed (`tables * bits <= dim` for axis-aligned
    * projections). Self-join work per table is Σ bucket², so holding
    * the expected bucket size constant as the corpus grows keeps
    * candidate volume O(n·tables·targetBucket) — the knob to re-derive
    * at each scale-up rather than a constant to copy. The registered
    * fixture queries use exactly this rule at their own n (2k vectors,
    * 8 tables, target ~32 → 6 bits); at 1M vectors it asks for 15
    * bits before the dimension clamp.
    */
  def recommendedBits(n: Long, dim: Int, tables: Int, targetBucket: Int = 32): Int = {
    val wanted = math.max(1,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2)).toInt)
    math.min(wanted, math.max(1, dim / tables))
  }

  /** The production sizing rule for the IVF coarse quantizer — the
    * FAISS `sqrt(n)` heuristic: `cells ≈ √n` keeps the expected cell
    * at ~√n vectors, so probing `nprobe` cells scans ~`nprobe·√n`
    * candidates — O(√n) per query instead of O(n), re-derived at each
    * scale-up rather than a constant copied across scales (at 10⁹
    * vectors: ~31k cells of ~31k vectors; clamped to [4, 2¹⁶] — past
    * 2¹⁶ cells the codebook itself wants an index, IVF-in-IVF).
    */
  def recommendedCells(n: Long): Int =
    math.min(1 << 16, math.max(4, math.round(math.sqrt(n.toDouble)).toInt))

  /** Probe width for a target candidate fraction of the corpus:
    * `ceil(cells · fraction)` cells scanned per query (expected
    * fraction of n at balanced cells). ~0.15 with candidate
    * multi-assignment 2 reaches recall ≈0.8+ on the fixture corpora;
    * raise the fraction, not the cell count, to buy recall.
    */
  def recommendedNprobe(cells: Int, targetFraction: Double = 0.15): Int =
    math.max(1, math.min(cells, math.ceil(cells * targetFraction).toInt))

  /** Training-sample floor for a PQ codebook: `perCell` points per
    * codeword (2^subDim cells per subspace) keeps every populated
    * cell's mean estimable. The fixture gate trains at 1.5/cell (384
    * vectors for subDim 8 — the 500-vector corpus can't feed more);
    * at real scale use FAISS's ~39/cell (≈10k for 256 cells) — still
    * a driver-trivial sample of a 10⁹-vector corpus. Callers clamp to
    * min(n, recommendedPqSample(...)).
    */
  def recommendedPqSample(subDim: Int, perCell: Double = 1.5): Int =
    math.ceil((1L << subDim) * perCell).toInt

  /** Cap degenerate LSH buckets before a self-join: rows of any
    * (tbl, bucket) group larger than `cap` are dropped from the join,
    * and every surviving row gains a `__surv` bitmask of the tables
    * where ITS bucket survived — the exactly-once predicate then picks
    * the first agreeing SURVIVING table
    * ([[firstAgreeingSurvivingTable]]), so a pair loses recall only if
    * EVERY table where it agrees is capped (i.e. the pair genuinely
    * lives in hot regions everywhere). At 100 TB this is the guard
    * against a hot bucket (e.g. the all-zeros sign region of
    * near-constant embeddings) going quadratic: pair volume per bucket
    * is size², so one bucket holding 1% of a 10⁹-corpus would alone
    * emit 10¹⁴ candidates. Cost when enabled: one aggregation on the
    * (already shuffled) bucket key + one id-keyed mask aggregation.
    * With `cap = None` the mask is all-ones and nothing is dropped.
    */
  private[operators] def capBuckets(
      e: DataFrame, cap: Option[Int], tables: Int): DataFrame = cap match {
    // uncapped: every table survives — a constant mask keeps the plan
    // identical in shape to the capped one while the predicate helper
    // below lets the default path skip the mask entirely
    case None => e.withColumn("__surv", lit((1L << tables) - 1))
    case Some(c) =>
      val sizes = e.groupBy("tbl", "bucket")
        .agg(count(lit(1)).as("__bucket_n"))
        .filter(col("__bucket_n") <= c)
        .select(col("tbl"), col("bucket"))
      val kept = e.join(sizes, Seq("tbl", "bucket"), "left_semi")
      val masks = kept
        .groupBy(col("id"))
        // one row per (id, tbl), so the sum of distinct powers IS the
        // bitmask of surviving tables
        .agg(sum(expr("shiftleft(cast(1 as bigint), tbl)")).as("__surv"))
      kept.join(masks, Seq("id"))
  }

  /** The exactly-once pair predicate: with no cap, the plain (cheaper)
    * first-agreeing-table check; under a cap, the surviving-table
    * variant over the `__surv` masks.
    */
  private[operators] def emissionPredicate(
      cap: Option[Int], sigA: Column, sigB: Column,
      survA: Column, survB: Column, bits: Int, tables: Int): Column =
    if (cap.isEmpty) firstAgreeingTable(sigA, sigB, bits, tables)
    else firstAgreeingSurvivingTable(sigA, sigB, survA, survB, bits, tables)


  /** Corpus×corpus LSH top-k: every vector's k nearest LSH-candidate
    * neighbors. The all-pairs variant of [[lshTopK]] for query-set ==
    * corpus, where broadcasting the query side is impossible: both
    * sides shuffle on the bucket key (one exchange each), pairs are
    * emitted exactly once per direction via the packed-signature
    * first-agreeing-table predicate, the rerank is the codegen'd dot_q
    * kernel, and the per-query top-k runs through the bounded-heap
    * [[graft.plans.TopKPerGroup]] operator — O(groups·k) memory, no
    * full window sort of the candidate set. This is the 100 TB shape:
    * shuffle volume O(n·tables), never O(n²).
    */
  def lshTopKAll(
      df: DataFrame, id: Column, vec: Column,
      k: Int, bits: Int = 8, tables: Int = 4,
      maxBucketSize: Option[Int] = Some(10000)): DataFrame = {
    val pre = df.select(id.as("id"), vec.as("v"),
      signBuckets(vec, bits, tables).as("bs"),
      packedSignBuckets(vec, bits, tables).as("sig"))
    val e = capBuckets(
      pre.select(col("id"), col("v"), col("sig"),
        posexplode(col("bs")).as(Seq("tbl", "bucket"))),
      maxBucketSize, tables)
    val l = e.select(col("id").as("qid"), col("v").as("qv"),
      col("sig").as("sig_a"), col("__surv").as("surv_a"), col("tbl"), col("bucket"))
    val r = e.select(col("id").as("cid"), col("v").as("cv"),
      col("sig").as("sig_b"), col("__surv").as("surv_b"), col("tbl"), col("bucket"))
    val cands = l.join(r, Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid") &&
        col("tbl") === emissionPredicate(maxBucketSize,
          col("sig_a"), col("sig_b"), col("surv_a"), col("surv_b"), bits, tables))
      .select(col("qid"), col("cid"), dotQ(col("qv"), col("cv")).as("dot_q"))
    // largest (dot_q, -cid) == highest dot, ties to the smallest cid
    graft.plans.TopK.perGroup(
      cands, Seq(col("qid")), struct(col("dot_q"), -col("cid")), k)
      .select("qid", "cid", "dot_q")
  }

  def lshTopK(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      bits: Int = 8,
      tables: Int = 4): DataFrame = {
    val qb = queries
      .select(col("qid"), col("qvec"),
        signBuckets(col("qvec"), bits, tables).as("qbs"),
        packedSignBuckets(col("qvec"), bits, tables).as("qsig"))
      .select(col("qid"), col("qvec"), col("qsig"),
        posexplode(col("qbs")).as(Seq("tbl", "bucket")))
    val cb = candidates
      .select(col("cid"), col("cvec"),
        signBuckets(col("cvec"), bits, tables).as("cbs"),
        packedSignBuckets(col("cvec"), bits, tables).as("csig"))
      .select(col("cid"), col("cvec"), col("csig"),
        posexplode(col("cbs")).as(Seq("tbl", "bucket")))
    // each (qid, cid) pair survives only from the FIRST table where the
    // buckets agree — exactly-once without a dropDuplicates shuffle,
    // and the predicate is codegen'd integer math on the packed sigs
    val scored = cb
      .join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid") &&
        col("tbl") === firstAgreeingTable(col("qsig"), col("csig"), bits, tables))
      .select(col("qid"), col("cid"), dotQ(col("qvec"), col("cvec")).as("dot_q"))
    rankTopK(scored, "dot_q", k)
  }

  // ------------------------------------------------------------------
  // OPQ — optimized product quantization: learn an ORTHOGONAL
  // transform so the PQ subspaces carry balanced, decorrelated energy
  // (Ge et al., "Optimized Product Quantization", CVPR 2013; the
  // recall-per-byte upgrade FAISS applies before PQ).
  // ------------------------------------------------------------------

  /** The PARAMETRIC-family OPQ fit, exact-integer and oracle-
    * replayable: a variance-balancing dimension PERMUTATION (a signed-
    * permutation matrix IS orthogonal). Dims sort by exact per-dim
    * sdev ([[whitenScales]], integer isqrt — bit-reproducible in SQL)
    * descending and snake-draft into the m subspaces: round r visits
    * subspaces 0..m-1, then m-1..0, … so each subspace receives one
    * dim per variance "tier" and no subspace hoards the energy (the
    * balanced-allocation half of OPQ, which is what decides sign-cell
    * init and Lloyd behavior downstream). Returns newPos → oldPos.
    */
  def opqPermutation(scales: DataFrame, m: Int, subDim: Int): Array[Int] = {
    val byVar = scales.orderBy(col("sdev").desc, col("pos"))
      .select("pos").collect().map(_.getLong(0).toInt)
    require(byVar.length == m * subDim,
      s"dim ${byVar.length} != m*subDim ${m * subDim}")
    val perm = new Array[Int](byVar.length)
    byVar.zipWithIndex.foreach { case (oldPos, k) =>
      val round = k / m
      val idx = k % m
      val sub = if (round % 2 == 0) idx else m - 1 - idx
      perm(sub * subDim + round) = oldPos
    }
    perm
  }

  /** Apply a dimension permutation exactly: w[i] = q[perm(i)] — a
    * narrow codegen'd projection (no join, no shuffle), int64 milli
    * out like [[whiten]]. Permutations are the one orthogonal family
    * with NO rounding: dots are preserved bit-exactly.
    */
  def applyPermutation(
      df: DataFrame, id: Column, vec: Column, perm: Array[Int]): DataFrame =
    df.select(id.as("id"), quantize(vec).as("__q"))
      .select(col("id"),
        array(perm.map(p => element_at(col("__q"), p + 1)): _*).as("wvec"))

  /** The FULL alternating OPQ fit (the non-parametric Ge et al.
    * iteration), driver-side on the model-sized md5 training sample —
    * exactly where FAISS trains OPQ:
    *
    *   repeat `iters`: (1) rotate the sample by the current R; (2)
    *   train PQ on the rotated sample (sign-cell init + Lloyd rounds,
    *   the engine's own convention); (3) re-solve R by orthogonal
    *   Procrustes against the codewords — R = U·Vᵀ from the SVD of
    *   C·Xᵀ (computed via cyclic-Jacobi eigen of the symmetric MᵀM;
    *   deterministic sweep order, so the fit is bit-stable across
    *   runs).
    *
    * Returns the dim×dim rotation in milli fixed point for
    * [[applyDenseMilli]]. Not static-SQL-expressible (iterative SVD),
    * so its gate rides the spec suite + the SQL-replayable
    * [[opqPermutation]] rung; `OpqSpec` asserts the recall ladder.
    */
  def opqTrainRotationMilli(
      sampleMilli: Array[Array[Long]], m: Int, subDim: Int,
      iters: Int, lloydRounds: Int = 2,
      eigenInit: Boolean = true): Array[Array[Long]] = {
    val d = m * subDim
    require(sampleMilli.forall(_.length == d), s"sample rows must be dim $d")
    val x = sampleMilli.map(_.map(_ / 1000.0)) // n × d
    // Eigenvalue-allocation init (Ge et al. §OPQ-P → OPQ-NP handoff):
    // rotate to the sample's PCA basis and snake-draft the principal
    // components into the m subspaces by eigenvalue, so every
    // subspace starts with a balanced share of the energy. Starting
    // from identity instead leaves the alternation in a local optimum
    // next to I on axis-aligned anisotropy (probe-measured: identity
    // init never moved ADC recall; eigen init matches the
    // permutation rung and iterates past it).
    var r =
      if (!eigenInit) Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
      else {
        val n = x.length
        val mean = new Array[Double](d)
        x.foreach { v => var i = 0; while (i < d) { mean(i) += v(i); i += 1 } }
        var i = 0
        while (i < d) { mean(i) /= n; i += 1 }
        val cov = Array.ofDim[Double](d, d)
        x.foreach { v =>
          var a = 0
          while (a < d) {
            val da = v(a) - mean(a); val row = cov(a)
            var b = 0
            while (b < d) { row(b) += da * (v(b) - mean(b)); b += 1 }
            a += 1
          }
        }
        val (eval, evec) = jacobiEigen(cov)
        val order = (0 until d).sortBy(k => (-eval(k), k))
        val slot = new Array[Int](d) // eigen rank -> output row
        order.indices.foreach { k =>
          val round = k / m
          val idx = k % m
          val sub = if (round % 2 == 0) idx else m - 1 - idx
          slot(k) = sub * subDim + round
        }
        val r0 = Array.ofDim[Double](d, d)
        order.indices.foreach { k =>
          val pc = order(k)
          var j = 0
          while (j < d) { r0(slot(k))(j) = evec(j)(pc); j += 1 }
        }
        r0
      }
    var it = 0
    while (it < iters) {
      val y = x.map(v => matVec(r, v)) // rotated sample
      val cb = trainPqDouble(y, m, subDim, lloydRounds)
      val c = y.map(reconstructWith(cb, _, m, subDim))
      // Procrustes: maximize tr(Rᵀ Σ c xᵀ) → R = U Vᵀ, M = Σ c xᵀ
      val mMat = Array.ofDim[Double](d, d)
      var n = 0
      while (n < x.length) {
        val cv = c(n); val xv = x(n)
        var i = 0
        while (i < d) {
          val ci = cv(i); val row = mMat(i)
          var j = 0
          while (j < d) { row(j) += ci * xv(j); j += 1 }
          i += 1
        }
        n += 1
      }
      r = procrustes(mMat)
      it += 1
    }
    r.map(_.map(v => math.round(v * 1000.0)))
  }

  private def matVec(a: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val d = v.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      val row = a(i); var s = 0.0; var j = 0
      while (j < d) { s += row(j) * v(j); j += 1 }
      out(i) = s; i += 1
    }
    out
  }

  /** PQ-reconstruct one rotated vector against a trained codebook —
    * the C(X) the Procrustes step aligns to.
    */
  private def reconstructWith(
      cb: Array[Array[Array[Double]]], v: Array[Double],
      m: Int, subDim: Int): Array[Double] = {
    val out = new Array[Double](m * subDim)
    var s = 0
    while (s < m) {
      val cw = cb(s)(assignPqDouble(cb(s), v, s, subDim))
      System.arraycopy(cw, 0, out, s * subDim, subDim)
      s += 1
    }
    out
  }

  /** Train a PQ codebook on a driver-side sample (sign-cell init +
    * `rounds` Lloyd rounds, the engine's convention) in doubles.
    */
  private def trainPqDouble(
      sample: Array[Array[Double]], m: Int, subDim: Int,
      rounds: Int): Array[Array[Array[Double]]] = {
    val built = Array.tabulate(m) { s =>
      // sign-cell init (the engine's pqCells convention on quantized
      // milli signs — here sign of the double subcomponent)
      var assign: Array[Int] = sample.map { v =>
        var cell = 0; var p = 0
        while (p < subDim) {
          if (v(s * subDim + p) >= 0) cell |= 1 << p
          p += 1
        }
        cell
      }
      var cb: Array[Array[Double]] = null
      var round = 0
      while (round <= rounds) {
        val sums = Array.ofDim[Double](1 << subDim, subDim)
        val cnt = new Array[Int](1 << subDim)
        var n = 0
        while (n < sample.length) {
          val cell = assign(n); cnt(cell) += 1
          var p = 0
          while (p < subDim) {
            sums(cell)(p) += sample(n)(s * subDim + p); p += 1
          }
          n += 1
        }
        cb = Array.tabulate(1 << subDim)(cell =>
          if (cnt(cell) == 0) null
          else sums(cell).map(_ / cnt(cell)))
        if (round < rounds)
          assign = sample.map(v => assignPqDouble(cb, v, s, subDim))
        round += 1
      }
      cb
    }
    built
  }

  /** argmax over populated cells of 2·dot − ‖c‖², ties to the largest
    * cell — the engine's PqAssign convention, in doubles.
    */
  private def assignPqDouble(
      cb: Array[Array[Double]], v: Array[Double], s: Int,
      subDim: Int): Int = {
    var best = -1; var bestScore = Double.NegativeInfinity
    var cell = 0
    while (cell < cb.length) {
      val c = cb(cell)
      if (c != null) {
        var dot = 0.0; var nrm = 0.0; var p = 0
        while (p < subDim) {
          dot += c(p) * v(s * subDim + p); nrm += c(p) * c(p); p += 1
        }
        val score = 2 * dot - nrm
        if (score > bestScore || (score == bestScore && cell > best)) {
          best = cell; bestScore = score
        }
      }
      cell += 1
    }
    best
  }

  /** Orthogonal Procrustes: the R = U·Vᵀ of M's SVD, computed from the
    * cyclic-Jacobi eigen-decomposition of the symmetric MᵀM (V, Σ²)
    * with U = M·V·Σ⁻¹; near-null singular directions keep V's column
    * (R stays orthogonal). Deterministic sweep order → bit-stable.
    */
  private def procrustes(mMat: Array[Array[Double]]): Array[Array[Double]] = {
    val d = mMat.length
    val mtm = Array.tabulate(d, d)((i, j) => {
      var s = 0.0; var k = 0
      while (k < d) { s += mMat(k)(i) * mMat(k)(j); k += 1 }
      s
    })
    val (eval, v) = jacobiEigen(mtm)
    // U column k = M v_k / σ_k
    val u = Array.ofDim[Double](d, d)
    var k = 0
    while (k < d) {
      val sigma = math.sqrt(math.max(eval(k), 0.0))
      if (sigma > 1e-9) {
        var i = 0
        while (i < d) {
          var s = 0.0; var j = 0
          while (j < d) { s += mMat(i)(j) * v(j)(k); j += 1 }
          u(i)(k) = s / sigma
          i += 1
        }
      } else {
        var i = 0
        while (i < d) { u(i)(k) = v(i)(k); i += 1 }
      }
      k += 1
    }
    Array.tabulate(d, d)((i, j) => {
      var s = 0.0; var x = 0
      while (x < d) { s += u(i)(x) * v(j)(x); x += 1 }
      s
    })
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix: fixed
    * (p,q) sweep order, rotations applied until off-diagonal mass
    * vanishes (or 30 sweeps). Returns (eigenvalues, eigenvector
    * columns), both in the algorithm's deterministic order.
    */
  private def jacobiEigen(
      aIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = aIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (sweep < 30 && off > 1e-12) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1)) match {
                case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1))
                case tv => tv
              }
            val c = 1.0 / math.sqrt(t * t + 1)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }
}
