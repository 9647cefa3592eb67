package graft.operators

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine and quantized dot agree with manual math") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 2L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f), 4L, Array(0.0f, 1.0f))
    ).toDF("qid", "qvec", "cid", "cvec")
    val out = df.select(
      col("qid"),
      Similarity.cosine(col("qvec"), col("cvec")).as("cos"),
      Similarity.dotQ(col("qvec"), col("cvec")).as("dot"))
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    assert(math.abs(out(0)._2 - 1.0) < 1e-9 && out(0)._3 == 1000L * 1000L)
    assert(math.abs(out(1)._2) < 1e-9 && out(1)._3 == 0L)
  }

  test("LSH top-k achieves useful recall vs brute force on real embeddings") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val brute = Similarity.bruteForceTopK(q, c, 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(q, c, 5, bits = 4, tables = 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // 8 tables of 4-bit sign-LSH: ~16x per-table pruning, unioned
    assert(recall > 0.3, s"recall=$recall")
    assert(lsh.nonEmpty)
  }

  test("IVF search finds neighbors within the query's cell") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val codebook = Similarity.centroids(e, col("label"), col("embedding"))
    assert(codebook.count() == 10 * 64) // 10 cells x 64 dims
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val ivf = Similarity.ivfTopK(q, c, codebook, 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val brute = Similarity.bruteForceTopK(q, c, 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // 10-cell coarse quantizer ~ 10x pruning; must beat random (0.1)
    assert(recall > 0.2, s"recall=$recall")
  }

  test("Lloyd iterations and nprobe lift IVF recall at the same cell count") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val brute = Similarity.bruteForceTopK(q, c, 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    def recall(codebook: org.apache.spark.sql.DataFrame, nprobe: Int): Double = {
      val got = Similarity.ivfTopK(q, c, codebook, 5, nprobe)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      (brute & got).size.toDouble / brute.size
    }
    val seed = Similarity.centroids(e, col("label"), col("embedding"))
    val trained = Similarity.kmeansCodebook(e, col("label"), col("embedding"), iters = 2)
    assert(trained.select("cell").distinct().count() <= 10)
    val r0 = recall(seed, 1)
    val rTrained = recall(trained, 1)
    val rProbe2 = recall(trained, 2)
    // nprobe=2's candidate set is a strict superset of nprobe=1's, so
    // its recall is monotonically >= — and must clear the seed
    // codebook's single-probe recall by a real margin
    assert(rProbe2 >= rTrained, s"nprobe=2 $rProbe2 < nprobe=1 $rTrained")
    assert(rProbe2 > r0, s"trained+nprobe2 $rProbe2 <= seed $r0")
    info(s"recall seed/1=$r0 trained/1=$rTrained trained/2=$rProbe2")
  }

  test("sizing-rule IVF config (recommendedCells, nprobe@0.25, cassign 3) reaches recall >= 0.8") {
    // the GATE config, derived from the production sizing rules at
    // the fixture's own n — not fixture-tuned constants: cells = √n,
    // probe ~25% of cells, candidates multi-assigned 3-wide. Recall
    // must hold as n grows (measured 0.90 at n=500, 0.94 at n=2000;
    // floors pin measured-with-margin)
    for ((dir, wantCells, wantNprobe, floor) <- Seq(
        (Sf0001, 22, 6, 0.8), (Sf01, 45, 12, 0.85))) {
      val e = Tables.load(spark, dir, "embeddings")
      val n = e.count()
      val cells = Similarity.recommendedCells(n)
      val nprobe = Similarity.recommendedNprobe(cells, 0.25)
      assert(cells == wantCells && nprobe == wantNprobe,
        s"rule drift at n=$n: cells=$cells np=$nprobe")
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val brute = Similarity.bruteForceTopK(q, c, 5)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      val trained = Similarity.kmeansCodebook(
        e, pmod(col("vec_id"), lit(cells.toLong)), col("embedding"), iters = 2)
      def run(cassign: Int): Map[Long, Seq[Long]] =
        Similarity.ivfTopK(q, c, trained, 5, nprobe = nprobe, cassign = cassign)
          .select("qid", "cid").as[(Long, Long)].collect().toSeq
          .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val single = run(1)
      val multi = run(3)
      def recallOf(m: Map[Long, Seq[Long]]): Double =
        (brute & m.toSeq.flatMap { case (q, cs) => cs.map(q -> _) }.toSet)
          .size.toDouble / brute.size
      val r1 = recallOf(single)
      val r2 = recallOf(multi)
      info(s"n=$n recall cassign=1 $r1 cassign=3 $r2")
      assert(r2 > r1, s"multi-assignment did not lift recall at n=$n: $r2 <= $r1")
      assert(r2 >= floor, s"gate-config recall at n=$n $r2 < $floor")
      // exactly-once: no query may list the same candidate twice
      multi.foreach { case (qid, cids) =>
        assert(cids.distinct.size == cids.size, s"duplicate neighbor for $qid")
      }
    }
  }

  test("no cartesian product in either ANN plan") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val lshPlan = Similarity.lshTopK(q, c, 5).queryExecution.executedPlan.toString
    assert(!lshPlan.contains("CartesianProduct"))
  }

  test("every top-k family ranks through the bounded heap — no Window in any scan path") {
    // the window spelling partitions by qid and fully sorts each
    // partition (= the whole corpus for the exhaustive scans); this
    // spec pins every family to TopKPerGroupExec instead
    val e = Tables.load(spark, Sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val ivfCb = Similarity.centroids(e, col("label"), col("embedding"))
    val (pqCb, pqEnc) =
      Similarity.pqTrainEncode(e, col("vec_id"), col("embedding"), m = 8, subDim = 8)
    val plans = Map(
      "brute" -> Similarity.bruteForceTopK(q, c, 5),
      "sq8" -> Similarity.sq8TopK(q,
        Similarity.sq8Encode(e, col("vec_id"), col("embedding")), 5),
      "pq" -> Similarity.pqTopK(q, pqEnc, pqCb, 5, 8, 8),
      "pq_rerank" -> Similarity.pqTopKRerank(q, pqEnc, pqCb, c, 5, 20, 8, 8),
      "ivf" -> Similarity.ivfTopK(q, c, ivfCb, 5),
      "lsh" -> Similarity.lshTopK(q, c, 5),
      "lsh_all" -> Similarity.lshTopKAll(e, col("vec_id"), col("embedding"), 3))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      // nodeName strips the Exec suffix in plan strings
      assert(plan.contains("TopKPerGroup"), s"$name missing TopKPerGroupExec")
      assert(!plan.contains("Window"), s"$name still has a Window:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian")
    }
  }

  test("native rank column matches the window row_number spelling exactly") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val heap = Similarity.bruteForceTopK(q, c, 5)
      .select("qid", "rnk", "cid", "dot_q")
      .as[(Long, Long, Long, Long)].collect().toSet
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        Similarity.dotQ(col("qvec"), col("cvec")).as("dot_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dot_q").desc, col("cid"))
    val windowed = scored
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 5)
      .select("qid", "rnk", "cid", "dot_q")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(heap == windowed)
    assert(heap.size == 50) // 10 queries x k=5, rank dense per query
  }

  test("embGram is the exact quantized outer-product sum (symmetric, diag = norms)") {
    val df = Seq(
      Array(1.0f, 2.0f, -1.0f),
      Array(0.5f, 0.0f, 3.0f)
    ).map(Tuple1(_)).toDF("v")
    val g = Similarity.embGram(df, col("v"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // q-vectors: (1000, 2000, -1000), (500, 0, 3000)
    assert(g((0L, 0L))._1 == 1000L * 1000 + 500L * 500)
    assert(g((0L, 1L))._1 == 1000L * 2000 + 500L * 0)
    assert(g((1L, 2L))._1 == 2000L * -1000 + 0L * 3000)
    assert(g((2L, 2L))._1 == 1000L * 1000 + 3000L * 3000)
    g.foreach { case ((i, j), (v, _, n)) =>
      assert(g((j, i))._1 == v, s"asymmetric at ($i,$j)")
      assert(n == 2L)
    }
    assert(g((0L, 0L))._2 == 1500L) // sum_i for i=0
    assert(g.size == 9)
  }

  test("hot-bucket cap drops the degenerate bucket, keeps the rest") {
    // 30 identical all-positive vectors = one hot bucket in EVERY
    // table; 2 near-identical negative vectors = a small legit bucket;
    // 2 vectors sharing the HOT bucket in table 0 but their own small
    // bucket in table 1 — must be recovered from table 1 under capping
    val hot = (0L until 30L).map(i => (i, Array.fill(8)(1.0f)))
    val pairDup = Seq(
      (100L, Array.fill(8)(-1.0f)),
      (101L, Array.fill(8)(-0.99f)))
    val straddlers = Seq(
      (200L, Array(1f, 1f, 1f, 1f, -1f, -1f, -1f, -1f)),
      (201L, Array(0.9f, 0.9f, 0.9f, 0.9f, -0.9f, -0.9f, -0.9f, -0.9f)))
    val df = (hot ++ pairDup ++ straddlers).toDF("vec_id", "embedding")
    val capped = graft.operators.Dedup.embeddingNearDups(
      df, col("vec_id"), col("embedding"), minCosineMilli = 900,
      bits = 4, tables = 2, maxBucketSize = Some(10))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the hot bucket emits nothing; the legit pair survives; the
    // straddler pair (first-agreeing table 0 is capped) is recovered
    // through its surviving table-1 bucket
    assert(capped == Set((100L, 101L), (200L, 201L)))
    val uncapped = graft.operators.Dedup.embeddingNearDups(
      df, col("vec_id"), col("embedding"), minCosineMilli = 900,
      bits = 4, tables = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // all hot pairs + legit pair + straddler pair (hot vectors and
    // straddlers differ in the table-1 half, cos < 0.9)
    assert(uncapped.size == 30 * 29 / 2 + 2)
  }

  test("sq8 codes decode within one quantization step of the original") {
    val e = Tables.load(spark, Sf0001, "embeddings").limit(200)
    val enc = Similarity.sq8Encode(e, col("vec_id"), col("embedding"))
    val err = enc
      .join(e.select(col("vec_id").as("cid"),
        Similarity.quantize(col("embedding")).as("m")), Seq("cid"))
      .select(array_max(zip_with(col("codes"), col("m"), (c, mv) =>
        abs(floor((c * 2 * col("maxabs")).cast("double") / 255).cast("bigint")
          - col("maxabs") - mv))).as("max_err"),
        col("maxabs"))
      .as[(Long, Long)].collect()
    // one 8-bit step is 2*maxabs/255; decode error stays within a step
    err.foreach { case (maxErr, maxabs) =>
      assert(maxErr <= 2 * maxabs / 255 + 1, s"err $maxErr scale $maxabs")
    }
  }

  test("pq cells are the subvector sign patterns; codebook means sit in-cell") {
    val df = Seq(
      (1L, Array(0.5f, -0.5f, 0.1f, -0.1f, 0.9f, -0.9f, 0.2f, -0.2f,
        -0.3f, 0.3f, -0.4f, 0.4f, -0.6f, 0.6f, -0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val cells = df.select(Similarity.pqCells(col("embedding"), 2, 8).as("c"))
      .as[Seq[Long]].collect().head
    // sub 0 signs: + - + - + - + -  -> bits 0,2,4,6 = 0x55
    // sub 1 signs: - + - + - + - +  -> bits 1,3,5,7 = 0xAA
    assert(cells == Seq(0x55L, 0xAAL))
    // native kernel == declarative HOF fold on real embeddings
    val e = Tables.load(spark, Sf0001, "embeddings")
    val diff = e.select(
      Similarity.pqCells(col("embedding"), 8, 8).as("native"),
      Similarity.pqCellsDeclarative(col("embedding"), 8, 8).as("decl"))
      .filter(col("native") =!= col("decl")).count()
    assert(diff == 0L)
    // a single-vector "corpus": every codebook mean equals the vector
    val cb = Similarity.pqTrain(df, col("embedding"), 2, 8)
      .orderBy("sub", "pos").select("mean_milli").as[Long].collect()
    assert(cb.toSeq == Seq(500L, -500L, 100L, -100L, 900L, -900L, 200L, -200L,
      -300L, 300L, -400L, 400L, -600L, 600L, -700L, 700L))
  }

  test("pq ADC shortlist + exact rerank recalls the exact scan") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(
      q, e.select(col("vec_id").as("cid"), col("embedding").as("cvec")), 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val codebook = Similarity.pqTrain(e, col("embedding"), 8, 8)
    val enc = Similarity.pqEncode(e, col("vec_id"), col("embedding"), 8, 8)
    val rer = Similarity.pqTopKRerank(
      q, enc, codebook, e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      k = 5, shortlist = 50, m = 8, subDim = 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & rer).size.toDouble / brute.size
    assert(recall >= 0.7, s"pq rerank recall $recall")
    // the coarse ADC-only ranking is strictly worse but non-trivial
    val adc = Similarity.pqTopK(q, enc, codebook, 5, 8, 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val adcRecall = (brute & adc).size.toDouble / brute.size
    assert(adcRecall >= 0.2, s"pq adc recall $adcRecall")

    // per-subspace Lloyd refinement (the gate's training) must beat
    // the raw sign-cell codebook on BOTH axes: ADC recall clears the
    // sign codebook's by a real margin, rerank recall stays >= 0.9
    val (lcb, lenc) = Similarity.pqTrainEncodeLloyd(
      e, col("vec_id"), col("embedding"), 8, 8, iters = 1)
    val ladc = Similarity.pqTopK(q, lenc, lcb, 5, 8, 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val ladcRecall = (brute & ladc).size.toDouble / brute.size
    info(s"adc sign=$adcRecall lloyd=$ladcRecall")
    assert(ladcRecall > adcRecall, s"lloyd $ladcRecall <= sign $adcRecall")
    assert(ladcRecall >= 0.45, s"lloyd adc recall $ladcRecall")
    val lrer = Similarity.pqTopKRerank(
      q, lenc, lcb, e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      k = 5, shortlist = 50, m = 8, subDim = 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val lrerRecall = (brute & lrer).size.toDouble / brute.size
    assert(lrerRecall >= 0.9, s"lloyd rerank recall $lrerRecall")
  }

  test("sample-trained PQ (the gate spelling): rerank >= 0.9, ADC >= 0.5 recall") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(
      q, e.select(col("vec_id").as("cid"), col("embedding").as("cvec")), 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    // the scale-shaped recipe at the GATE config: md5-sampled
    // recommendedPqSample(8) = 384 training vectors, 2 Lloyd rounds
    // on the sample, ONE full-corpus encode pass. ADC@5 measured
    // 0.544 over 50 queries and PLATEAUS 0.50-0.54
    // across sampleN 192..500 × iters 2..3 — the 8-byte-code ceiling
    // on this 500-vector fixture, not a training shortfall (the
    // production read path, shortlist rerank, measures 0.98): the
    // floor here pins measured-with-margin, the rerank floor is the
    // production claim.
    val (cb, enc) = Similarity.pqTrainSampleEncode(
      e, col("vec_id"), col("embedding"), m = 8, subDim = 8,
      iters = 2, sampleN = Similarity.recommendedPqSample(8))
    assert(Similarity.recommendedPqSample(8) == 384)
    val adc = Similarity.pqTopK(q, enc, cb, 5, 8, 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val adcRecall = (brute & adc).size.toDouble / brute.size
    info(s"sample-trained adc recall $adcRecall")
    assert(adcRecall >= 0.5, s"sample-trained adc recall $adcRecall")
    val rer = Similarity.pqTopKRerank(
      q, enc, cb, e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      k = 5, shortlist = 50, m = 8, subDim = 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val rerRecall = (brute & rer).size.toDouble / brute.size
    info(s"sample-trained rerank recall $rerRecall")
    assert(rerRecall >= 0.9, s"sample-trained rerank recall $rerRecall")
  }

  test("two-stage residual PQ (the ann_rq gate config): ADC >= 0.7, " +
    "a real margin over the single-stage ceiling") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(
      q, e.select(col("vec_id").as("cid"), col("embedding").as("cvec")), 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val (cb1, enc1) = Similarity.pqTrainSampleEncode(
      e, col("vec_id"), col("embedding"), m = 8, subDim = 8,
      iters = 2, sampleN = 384)
    val adc1 = Similarity.pqTopK(q, enc1, cb1, 5, 8, 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val r1 = (brute & adc1).size.toDouble / brute.size
    val (cbs, enc) = Similarity.pqResidualTrainSampleEncode(
      e, col("vec_id"), col("embedding"), m = 8, subDim = 8,
      iters = 2, sampleN = 384, stages = 2)
    val adc2 = Similarity.pqResidualTopK(q, enc, cbs, 5, 8, 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val r2 = (brute & adc2).size.toDouble / brute.size
    // a third 8-byte stage keeps paying
    val (cbs3, enc3) = Similarity.pqResidualTrainSampleEncode(
      e, col("vec_id"), col("embedding"), m = 8, subDim = 8,
      iters = 2, sampleN = 384, stages = 3)
    val adc3 = Similarity.pqResidualTopK(q, enc3, cbs3, 5, 8, 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val r3 = (brute & adc3).size.toDouble / brute.size
    info(f"adc single=$r1%.3f residual-2=$r2%.3f residual-3=$r3%.3f")
    // measured: 0.544 -> 0.796 -> 0.92 (50 queries); floors pin
    // measured-with-margin
    assert(r2 >= 0.7, s"residual ADC recall $r2")
    assert(r2 >= r1 + 0.1, s"residual $r2 not a real margin over single $r1")
    assert(r3 >= 0.85 && r3 > r2, s"3-stage residual ADC recall $r3 vs 2-stage $r2")
    // the production read path on the rung: RQ shortlist + exact rerank
    val rer = Similarity.pqResidualTopKRerank(
      q, enc, cbs, e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      k = 5, shortlist = 50, m = 8, subDim = 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val rr = (brute & rer).size.toDouble / brute.size
    info(f"residual rerank recall $rr%.3f")
    assert(rr >= 0.95, s"residual rerank recall $rr")
  }

  test("residual decode/re-encode bridge is exact: stage sums " +
    "reconstruct within one stage's quantization error, deterministic " +
    "across partitionings") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    def run(parts: Int) = {
      val (cbs, enc) = Similarity.pqResidualTrainSampleEncode(
        e.repartition(parts), col("vec_id"), col("embedding"),
        m = 8, subDim = 8, iters = 1, sampleN = 128, stages = 2)
      enc.groupBy("stage").count().as[(Long, Long)].collect().toSet
    }
    val a = run(2)
    assert(a == run(7), "stage encodings depend on partitioning")
    assert(a.map(_._2).toSet == Set(500L * 8), s"got $a")
  }

  test("IVF-PQ residual rung pays on coarse-clustered corpora " +
    "(planted clusters: ADC beats plain PQ)") {
    // 8 tight clusters in 64-d: center = ±1 pattern per cluster,
    // noise ±0.05 — the coarse quantizer removes nearly all energy,
    // so residual codes resolve the within-cluster ranking that
    // plain 8-byte PQ cannot
    val rows = (0 until 400).map { i =>
      val c = i % 8
      val rnd = new scala.util.Random(1000 + i)
      val center = (0 until 64).map(d =>
        if (((c >> (d % 3)) & 1) == 1) 1.0f else -1.0f)
      (i.toLong, center.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toArray)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(
      q, df.select(col("vec_id").as("cid"), col("embedding").as("cvec")), 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val (pcb, penc) = Similarity.pqTrainSampleEncode(
      df, col("vec_id"), col("embedding"), 8, 8, iters = 2, sampleN = 384)
    val plain = Similarity.pqTopK(q, penc, pcb, 5, 8, 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val (coarse, rcb, renc) = Similarity.ivfPqTrainSampleEncode(
      df, col("vec_id"), col("embedding"), coarseCells = 8, coarseIters = 3,
      m = 8, subDim = 8, iters = 2, sampleN = 384)
    val ivfpq = Similarity.ivfPqTopK(q, renc, coarse, rcb, 5, 8, 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val rPlain = (brute & plain).size.toDouble / brute.size
    val rIvf = (brute & ivfpq).size.toDouble / brute.size
    info(f"planted clusters: plain=$rPlain%.3f ivfpq=$rIvf%.3f")
    assert(rIvf > rPlain, s"ivf-pq $rIvf <= plain pq $rPlain on clustered data")
    assert(rIvf >= 0.7, s"ivf-pq recall $rIvf on planted clusters")
  }

  test("pruned IVF-PQ: nprobe = |cells| equals the full compressed scan " +
    "exactly; a narrow probe keeps recall on clustered data while " +
    "scanning a fraction of the codes") {
    val rows = (0 until 400).map { i =>
      val c = i % 8
      val rnd = new scala.util.Random(1000 + i)
      val center = (0 until 64).map(d =>
        if (((c >> (d % 3)) & 1) == 1) 1.0f else -1.0f)
      (i.toLong, center.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toArray)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val (coarse, rcb, renc) = Similarity.ivfPqTrainSampleEncode(
      df, col("vec_id"), col("embedding"), coarseCells = 8, coarseIters = 3,
      m = 8, subDim = 8, iters = 2, sampleN = 384)
    val cells = coarse.select("cell").distinct().count().toInt
    def res(d: org.apache.spark.sql.DataFrame) =
      d.select("qid", "rnk", "cid").as[(Long, Long, Long)].collect().toSet
    val full = res(Similarity.ivfPqTopK(q, renc, coarse, rcb, 5, 8, 8))
    val all = res(Similarity.ivfPqTopKPruned(q, renc, coarse, rcb, 5, 8, 8, cells))
    assert(all == full, "nprobe=|cells| must equal the unpruned scan")
    // narrow probe: recall of the full-scan ADC answer stays high on
    // clustered data (the query's own cluster holds its neighbors)
    val narrow = res(Similarity.ivfPqTopKPruned(q, renc, coarse, rcb, 5, 8, 8, 2))
    val recall = (full.map(t => (t._1, t._3)) &
      narrow.map(t => (t._1, t._3))).size.toDouble / full.size
    info(f"nprobe=2/$cells recall vs full ADC: $recall%.3f")
    assert(recall >= 0.8, s"narrow-probe recall $recall")
  }

  test("whitening consumes the Gram matrix: twins buried under " +
    "high-variance noise dims surface after whitening, through the " +
    "brute scan AND the LSH ladder") {
    // planted-correlation fixture: dims 0-7 are high-variance noise
    // (σ≈3, independent per vector), dims 8-63 carry the signal
    // (σ≈0.3, shared between each base vector i and its twin i+200).
    // Raw dots are dominated by the noise dims; whitening equalizes
    // per-dim variance, so the shared signal decides the ranking.
    val rnd = new scala.util.Random(7)
    def noise() = Array.fill(8)((rnd.nextFloat() - 0.5f) * 6.0f)
    val signals = (0 until 200).map(_ =>
      Array.fill(56)((rnd.nextFloat() - 0.5f) * 0.6f))
    val rows =
      (0 until 200).map(i => (i.toLong, noise() ++ signals(i))) ++
      (0 until 200).map(i => ((i + 200).toLong,
        noise() ++ signals(i).map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)))
    val df = rows.toDF("vec_id", "embedding")
    val qRaw = df.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cRaw = df.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def twinRecall(top: Map[Long, Seq[Long]]): Double =
      (0 until 50).count(i => top.getOrElse(i.toLong, Nil).contains(i + 200L)) / 50.0
    def tops(res: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      res.select("qid", "cid").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val rawBrute = twinRecall(tops(Similarity.bruteForceTopK(qRaw, cRaw, 3)))

    val scales = Similarity.whitenScales(Similarity.embGram(df, col("embedding")))
    val w = Similarity.whiten(df, col("vec_id"), col("embedding"), scales)
      .select(col("id").as("vec_id"), Similarity.milliToVec(col("wvec")).as("embedding"))
    val qW = w.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cW = w.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val whiteBrute = twinRecall(tops(Similarity.bruteForceTopK(qW, cW, 3)))
    info(f"twin recall brute: raw=$rawBrute%.2f whitened=$whiteBrute%.2f")
    assert(whiteBrute >= rawBrute + 0.3,
      s"whitening must surface the planted twins: raw $rawBrute, white $whiteBrute")
    assert(whiteBrute >= 0.9, s"whitened twin recall $whiteBrute")

    // composed with the ANN ladder: the LSH path on whitened vectors
    // keeps the improvement end to end
    val rawLsh = twinRecall(tops(Similarity.lshTopK(qRaw, cRaw, 3)))
    val whiteLsh = twinRecall(tops(Similarity.lshTopK(qW, cW, 3)))
    info(f"twin recall lsh: raw=$rawLsh%.2f whitened=$whiteLsh%.2f")
    assert(whiteLsh > rawLsh, s"lsh on whitened $whiteLsh <= raw $rawLsh")
  }

  test("applyDenseMilli: broadcast dim-square transform, exact int64 " +
    "(identity and a known rotation)") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, -0.5f)),
      (2L, Array(0.25f, -1.0f, 3.0f))).toDF("vec_id", "embedding")
    // identity (milli scale 1000): w == q
    val id3 = Array.tabulate(3, 3)((i, j) => if (i == j) 1000L else 0L)
    val gotId = Similarity.applyDenseMilli(df, col("vec_id"), col("embedding"), id3)
      .select("id", "wvec").as[(Long, Seq[Long])].collect().toMap
    assert(gotId(1L) == Seq(1000L, 2000L, -500L))
    assert(gotId(2L) == Seq(250L, -1000L, 3000L))
    // 90° rotation in dims (0,1): (x,y,z) -> (-y, x, z)
    val rot = Array(
      Array(0L, 1000L, 0L),
      Array(-1000L, 0L, 0L),
      Array(0L, 0L, 1000L))
    val gotRot = Similarity.applyDenseMilli(df, col("vec_id"), col("embedding"), rot)
      .select("id", "wvec").as[(Long, Seq[Long])].collect().toMap
    assert(gotRot(1L) == Seq(-2000L, 1000L, -500L))
  }

  test("native sq8 ADC kernel == declarative fold on real embeddings") {
    val e = Tables.load(spark, Sf0001, "embeddings").limit(300)
    val enc = Similarity.sq8Encode(e, col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val diff = enc.crossJoin(q)
      .select(
        Similarity.sq8Dot(col("qvec"), col("codes"), col("maxabs")).as("native"),
        Similarity.sq8DotDeclarative(col("qvec"), col("codes"), col("maxabs")).as("decl"))
      .filter(col("native") =!= col("decl")).count()
    assert(diff == 0L)
  }

  test("sq8 ADC top-k recalls the exact scan's neighbors") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(
      q, e.select(col("vec_id").as("cid"), col("embedding").as("cvec")), 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val sq = Similarity.sq8TopK(
      q, Similarity.sq8Encode(e, col("vec_id"), col("embedding")), 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & sq).size.toDouble / brute.size
    assert(recall >= 0.85, s"sq8 recall $recall")
  }

  test("signed projection: exact per-cell math, sign matrix deterministic, geometry preserved") {
    import org.apache.spark.sql.functions._
    // hand-check one cell: proj_j = sum_i q_i * sign(i, j)
    val v = Array.tabulate(4)(i => (i + 1) * 0.001f) // q = [1,2,3,4]
    val df = Seq((7L, v)).toDF("vec_id", "embedding")
    val got = Similarity.projectSigned(
      df, col("vec_id"), col("embedding"), inDim = 4, outDim = 2)
      .as[(Long, Seq[Long])].head()
    val expected = (0 until 2).map { j =>
      (0 until 4).map { i =>
        val s = if (Similarity.portableHash56Parity(s"p:$i:$j")) 1L else -1L
        (i + 1).toLong * s
      }.sum
    }
    assert(got._2 == expected, s"got ${got._2}, want $expected")
    // JL sanity on real vectors: projected cosine tracks true cosine
    // (rank preserved for a clearly-separated pair)
    val e = graft.tables.Tables.load(spark, Sf0001, "embeddings").limit(50)
    val proj = Similarity.projectSigned(
      e, col("vec_id"), col("embedding"), inDim = 64, outDim = 16)
    assert(proj.count() == 50)
    val dims = proj.select(size(col("proj"))).distinct()
      .as[Int].collect().toSeq
    assert(dims == Seq(16))
  }
}
