package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OPQ — the orthogonal-transform-before-PQ family: the exact-integer
  * variance-balancing permutation (the `ann_opq` gate rung) and the
  * alternating-Procrustes dense rotation fit (driver-side, spec-gated
  * here since an iterative SVD is not static-SQL-expressible).
  */
class OpqSpec extends SparkSpec {
  import spark.implicits._

  // the planted-correlation fixture (same construction as the
  // whitening spec): dims 0-7 independent high-variance noise, dims
  // 8-63 low-variance signal shared between base i and twin i+200 —
  // the anisotropic shape OPQ exists for
  private lazy val fixture: DataFrame = {
    val rnd = new scala.util.Random(7)
    def noise() = Array.fill(8)((rnd.nextFloat() - 0.5f) * 6.0f)
    val signals = (0 until 200).map(_ =>
      Array.fill(56)((rnd.nextFloat() - 0.5f) * 0.6f))
    val rows =
      (0 until 200).map(i => (i.toLong, noise() ++ signals(i))) ++
        (0 until 200).map(i => ((i + 200).toLong,
          noise() ++ signals(i).map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)))
    rows.toDF("vec_id", "embedding")
  }

  private def asVecs(milli: DataFrame): DataFrame =
    milli.select(col("id").as("vec_id"),
      Similarity.milliToVec(col("wvec")).as("embedding"))

  private def adcTop5(frame: DataFrame): Set[(Long, Long)] = {
    val (cb, enc) = Similarity.pqTrainSampleEncode(
      frame, col("vec_id"), col("embedding"), m = 8, subDim = 8,
      iters = 2, sampleN = 384)
    val q = frame.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.pqTopK(q, enc, cb, 5, 8, 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
  }

  private def bruteTop5(frame: DataFrame): Set[(Long, Long)] = {
    val q = frame.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = frame
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.bruteForceTopK(q, c, 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
  }

  private lazy val brute: Set[(Long, Long)] = bruteTop5(fixture)

  private def recall(
      top: Set[(Long, Long)], truth: Set[(Long, Long)] = brute): Double =
    (truth & top).size.toDouble / truth.size

  test("applyPermutation is exactly orthogonal: dots are preserved " +
    "bit-for-bit when both sides rotate") {
    val scales = Similarity.whitenScales(
      Similarity.embGram(fixture, col("embedding")))
    val perm = Similarity.opqPermutation(scales, 8, 8)
    assert(perm.sorted.toSeq == (0 until 64),
      "perm must be a bijection on dims")
    val rot = asVecs(Similarity.applyPermutation(
      fixture, col("vec_id"), col("embedding"), perm))
    def pairDots(df: DataFrame): Map[(Long, Long), Long] = {
      val a = df.filter(col("vec_id") < 5)
        .select(col("vec_id").as("ia"), col("embedding").as("va"))
      val b = df.filter(col("vec_id") >= 200 && col("vec_id") < 205)
        .select(col("vec_id").as("ib"), col("embedding").as("vb"))
      a.crossJoin(b)
        .select(col("ia"), col("ib"),
          Similarity.dotQ(col("va"), col("vb")).as("d"))
        .as[(Long, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    }
    assert(pairDots(fixture) == pairDots(rot),
      "a permutation must preserve every quantized dot exactly")
  }

  test("opqPermutation balances variance: every subspace receives " +
    "exactly one of the fixture's 8 noise dims") {
    val scales = Similarity.whitenScales(
      Similarity.embGram(fixture, col("embedding")))
    val perm = Similarity.opqPermutation(scales, 8, 8)
    // noise dims are 0-7 (highest sdev by construction); subspace of
    // new position i is i/8
    val noiseSubs = (0 until 64).filter(i => perm(i) < 8).map(_ / 8)
    assert(noiseSubs.sorted == (0 until 8),
      s"noise dims must spread one per subspace, got $noiseSubs")
  }

  test("recall at equal bytes on the planted-correlation fixture: " +
    "permutation-OPQ ADC beats plain PQ ADC by a wide margin") {
    val plain = recall(adcTop5(fixture))
    val scales = Similarity.whitenScales(
      Similarity.embGram(fixture, col("embedding")))
    val perm = Similarity.opqPermutation(scales, 8, 8)
    val opq = recall(adcTop5(asVecs(Similarity.applyPermutation(
      fixture, col("vec_id"), col("embedding"), perm))))
    info(f"fixture ADC recall@5: plain=$plain%.3f perm-OPQ=$opq%.3f")
    assert(opq >= plain + 0.2,
      s"perm-OPQ must beat plain PQ at equal bytes: $opq vs $plain")
    // the near-isotropic parquet embeddings: no rotation has variance
    // to rebalance there, so the permutation holds parity with plain PQ
    val e = graft.tables.Tables.load(spark, Sf0001, "embeddings")
    val eBrute = bruteTop5(e)
    val ePlain = recall(adcTop5(e), eBrute)
    val ePerm = recall(adcTop5(asVecs(Similarity.applyPermutation(
      e, col("vec_id"), col("embedding"), Similarity.opqPermutation(
        Similarity.whitenScales(Similarity.embGram(e, col("embedding"))), 8, 8)))),
      eBrute)
    info(f"parquet ADC recall@5: plain=$ePlain%.3f perm-OPQ=$ePerm%.3f")
    assert(math.abs(ePerm - ePlain) <= 0.1,
      s"perm-OPQ must hold parity on isotropic embeddings: $ePerm vs $ePlain")
  }

  test("dense alternating-Procrustes fit: orthogonal, deterministic, " +
    "and its eigen-allocation rotation beats plain PQ on the fixture") {
    val sample = Similarity.pqSample(
      fixture, col("vec_id"), col("embedding"), 384, "opq")
      .select(Similarity.quantize(col("__svec")))
      .collect().map(_.getSeq[Long](0).toArray)
    val r1 = Similarity.opqTrainRotationMilli(sample, 8, 8, iters = 2)
    val r2 = Similarity.opqTrainRotationMilli(sample, 8, 8, iters = 2)
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq,
      "the fit must be bit-deterministic")
    // orthogonality in milli fixed point: |(R Rᵀ)_ij/10⁶ − I_ij| small
    val d = 64
    var maxErr = 0.0
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var s = 0L; var k = 0
        while (k < d) { s += r1(i)(k) * r1(j)(k); k += 1 }
        val want = if (i == j) 1e6 else 0.0
        maxErr = math.max(maxErr, math.abs(s - want) / 1e6)
        j += 1
      }
      i += 1
    }
    assert(maxErr < 0.01, s"R Rᵀ deviates from I by $maxErr")
    val plain = recall(adcTop5(fixture))
    val dense = recall(adcTop5(asVecs(Similarity.applyDenseMilli(
      fixture, col("vec_id"), col("embedding"), r1))))
    info(f"fixture ADC recall@5: plain=$plain%.3f dense-OPQ=$dense%.3f")
    assert(dense >= plain + 0.1,
      s"dense OPQ must beat plain PQ at equal bytes: $dense vs $plain")
  }

  test("dense alternation composed on the permutation rung holds its " +
    "recall while optimizing reconstruction") {
    val scales = Similarity.whitenScales(
      Similarity.embGram(fixture, col("embedding")))
    val perm = Similarity.opqPermutation(scales, 8, 8)
    val permuted = asVecs(Similarity.applyPermutation(
      fixture, col("vec_id"), col("embedding"), perm))
    val permRecall = recall(adcTop5(permuted))
    val sample = Similarity.pqSample(
      permuted, col("vec_id"), col("embedding"), 384, "opq")
      .select(Similarity.quantize(col("__svec")))
      .collect().map(_.getSeq[Long](0).toArray)
    val r = Similarity.opqTrainRotationMilli(sample, 8, 8, iters = 2)
    val composed = recall(adcTop5(asVecs(Similarity.applyDenseMilli(
      permuted, col("vec_id"), col("embedding"), r))))
    info(f"fixture ADC recall@5: perm=$permRecall%.3f perm+dense=$composed%.3f")
    assert(composed >= permRecall - 0.05,
      s"the alternation must not give back the permutation's recall: " +
        s"$composed vs $permRecall")
  }
}
