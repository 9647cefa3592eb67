package graft.serving

import graft.SparkSpec
import graft.operators.Similarity
import graft.tables.Tables
import org.apache.spark.sql.functions._

class AnnServerSpec extends SparkSpec {
  import spark.implicits._

  private def fixture() = {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val (cb, enc) = Similarity.pqTrainSampleEncode(
      e, col("vec_id"), col("embedding"), m = 8, subDim = 8,
      iters = 2, sampleN = 384)
    (e, cb, enc.localCheckpoint(true))
  }

  test("cached AND distributed serving both equal the batch pqTopK " +
    "ranking bit-for-bit (scores included)") {
    val (e, cb, enc) = fixture()
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val batch = Similarity.pqTopK(
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      enc, cb, k = 5, m = 8, subDim = 8)
      .select("qid", "rnk", "cid", "dot_pq")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    def serveAll(srv: AnnServer): Map[Long, Seq[(Long, Long)]] = {
      val client = new AnnClient("localhost", srv.boundPort)
      try qs.map { case (qid, qv) =>
        qid -> client.topk(qv, 6).filter(_._1 != qid).take(5)
      }.toMap
      finally client.close()
    }
    val cachedSrv = new AnnServer(enc, cb, 8, 8)
    try {
      assert(cachedSrv.isCached)
      assert(serveAll(cachedSrv) == batch, "cached serving != batch pqTopK")
    } finally cachedSrv.close()
    val distSrv = new AnnServer(enc, cb, 8, 8, maxVectors = 1L)
    try {
      assert(!distSrv.isCached)
      assert(serveAll(distSrv) == batch, "distributed serving != batch pqTopK")
    } finally distSrv.close()
  }

  test("concurrent clients, COUNT, and malformed requests") {
    val (e, cb, enc) = fixture()
    val srv = new AnnServer(enc, cb, 8, 8)
    try {
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .as[Seq[Float]].head()
      val expected = {
        val c = new AnnClient("localhost", srv.boundPort)
        try c.topk(qv, 5) finally c.close()
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val results =
        try (1 to 4).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Seq[(Long, Long)]] {
            def call(): Seq[(Long, Long)] = {
              val c = new AnnClient("localhost", srv.boundPort)
              try c.topk(qv, 5) finally c.close()
            }
          })
        }.map(_.get()).toList
        finally pool.shutdown()
      assert(results.forall(_ == expected))
      val c = new AnnClient("localhost", srv.boundPort)
      try {
        assert(c.request("COUNT").contains("\"count\":500"))
        assert(c.request("TOPK 5 1,2,3").contains("error"))
        assert(c.request("NONSENSE").contains("error"))
      } finally c.close()
    } finally srv.close()
  }

  test("live index: the server follows a growing codes dir — vectors " +
    "appended after startup become servable within a refresh interval") {
    val (e, cb, enc) = fixture()
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-live").toString
    val first = enc.filter(col("cid") < 400)
    val rest = enc.filter(col("cid") >= 400)
    first.write.mode("overwrite").parquet(dir)
    val srv = new AnnServer(
      enc.limit(0), cb, 8, 8, refreshDir = Some(dir), refreshMillis = 200L)
    try {
      val c = new AnnClient("localhost", srv.boundPort)
      try {
        assert(c.request("COUNT").contains("\"count\":400"))
        // a query vector equal to a NOT-YET-INGESTED corpus member
        val qv = e.filter(col("vec_id") === 450).select(col("embedding"))
          .as[Seq[Float]].head()
        assert(!c.topk(qv, 1).exists(_._1 == 450L))
        rest.write.mode("append").parquet(dir)
        val deadline = System.nanoTime() + 20_000_000_000L
        var seen = false
        while (!seen && System.nanoTime() < deadline) {
          Thread.sleep(100)
          seen = c.request("COUNT").contains("\"count\":500")
        }
        assert(seen, "refresher never picked up the appended codes")
        // the newly ingested vector is now its own nearest code
        val top = c.topk(qv, 1)
        assert(top.nonEmpty)
        // and the full served ranking equals batch pqTopK on ALL codes
        val batch = Similarity.pqTopK(
          e.filter(col("vec_id") === 450)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          enc, cb, k = 5, m = 8, subDim = 8)
          .orderBy("rnk").select("cid", "dot_pq")
          .as[(Long, Long)].collect().toSeq
        assert(c.topk(qv, 6).filter(_._1 != 450L).take(5) == batch)
      } finally c.close()
    } finally srv.close()
    graft.sources.FileIO.deleteScratch(new java.io.File(dir))
  }

  test("live refresh is INCREMENTAL: idle ticks run ZERO Spark jobs, " +
    "absorbing an append loads only the new files, wire answers stay " +
    "bit-identical") {
    val (e, cb, enc) = fixture()
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-incr").toString
    enc.filter(col("cid") < 400).write.mode("overwrite").parquet(dir)
    // count ONLY refresher-submitted jobs (tagged by job group) — the
    // test's own writes/reads run jobs too
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == "ann-server-refresh"))
          jobs.incrementAndGet()
        ()
      }
    }
    val srv = new AnnServer(
      enc.limit(0), cb, 8, 8, refreshDir = Some(dir), refreshMillis = 150L)
    try {
      val c = new AnnClient("localhost", srv.boundPort)
      try {
        assert(c.request("COUNT").contains("\"count\":400"))
        // ---- idle window: ~6 refresh ticks with no new files must
        //      schedule NO Spark job (the r11 refresher repacked the
        //      whole index every tick) ----
        Thread.sleep(300) // drain in-flight listener events
        spark.sparkContext.addSparkListener(listener)
        Thread.sleep(1000)
        val idleJobs = jobs.get()
        assert(idleJobs == 0, s"idle refresh ticks ran $idleJobs Spark jobs")
        // ---- absorb an append: bounded work (count + pack of the NEW
        //      rows — 2 jobs), not an index repack every tick ----
        // one-file append: the absorb is a single count + pack round
        enc.filter(col("cid") >= 400).coalesce(1)
          .write.mode("append").parquet(dir)
        val deadline = System.nanoTime() + 20_000_000_000L
        while (!c.request("COUNT").contains("\"count\":500")
            && System.nanoTime() < deadline) Thread.sleep(100)
        assert(c.request("COUNT").contains("\"count\":500"))
        Thread.sleep(300) // listener events are async
        val absorbJobs = jobs.get() - idleJobs
        // one absorb = a count + a pack over the NEW file only; AQE
        // materializes each shuffle as its own stage-job, so a single
        // absorb shows up as a handful of jobs — the invariant is that
        // it is O(1) per append (and zero when idle), not O(index)
        assert(absorbJobs >= 1 && absorbJobs <= 12,
          s"absorbing one append ran $absorbJobs refresh jobs")
        // ---- and idle again: zero jobs ----
        val before = jobs.get()
        Thread.sleep(1000)
        assert(jobs.get() == before,
          s"post-absorb idle ticks ran ${jobs.get() - before} jobs")
        // wire answers over the grown index == batch pqTopK
        val qv = e.filter(col("vec_id") === 450).select(col("embedding"))
          .as[Seq[Float]].head()
        val batch = Similarity.pqTopK(
          e.filter(col("vec_id") === 450)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          enc, cb, k = 5, m = 8, subDim = 8)
          .orderBy("rnk").select("cid", "dot_pq")
          .as[(Long, Long)].collect().toSeq
        assert(c.topk(qv, 6).filter(_._1 != 450L).take(5) == batch)
      } finally c.close()
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      srv.close()
    }
    graft.sources.FileIO.deleteScratch(new java.io.File(dir))
  }

  test("close() stops the refresher: no refresh job starts once it returns") {
    val cb = Seq((0, 0, 0, 1000L), (0, 1, 0, -1000L)).toDF("sub", "cell", "pos", "mean_milli")
    def codes(cid: Long) = Seq((cid, 0, cid % 2)).toDF("cid", "sub", "cell").coalesce(1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-close")
    val staged = java.nio.file.Files.createTempDirectory("graft-ann-staged")
    codes(1L).write.mode("overwrite").parquet(dir.toString)
    codes(2L).write.mode("overwrite").parquet(staged.toString)
    val late = java.nio.file.Files.list(staged).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(p => p.getFileName.toString.endsWith(".parquet")).get
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == "ann-server-refresh"))
          starts.add(js.time)
        ()
      }
    }
    val srv = new AnnServer(codes(0L).limit(0), cb, 1, 1,
      refreshDir = Some(dir.toString), refreshMillis = 500L)
    spark.sparkContext.addSparkListener(listener)
    try {
      // a file the next refresh tick would absorb with Spark jobs
      java.nio.file.Files.move(late, dir.resolve("part-late.parquet"))
      srv.close()
      val closedAt = System.currentTimeMillis()
      Thread.sleep(1200) // past the next tick; listener events are async
      val after = starts.toArray(Array.empty[java.lang.Long]).count(_ > closedAt)
      assert(after == 0, s"$after refresh jobs started after close() returned")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      srv.close()
      graft.sources.FileIO.deleteScratch(dir.toFile)
      graft.sources.FileIO.deleteScratch(staged.toFile)
    }
  }
}
