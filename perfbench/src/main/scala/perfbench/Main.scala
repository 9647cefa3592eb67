package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM. One run = one workload (a [[Variant]]) and one
  * seed, in three phases: bank_batch, bank_live, corpus_cdc. All set-up
  * and warm-up of every phase happens first (that is `setup_s`), then
  * each phase measures for its share of `--seconds`. The last stdout
  * line starting with `PERFBENCH_RESULT ` carries the metrics as bare
  * values; the launcher adds the units BENCHMARK.json declares and
  * prints the result line.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --work DIR --launched-ms EPOCH_MS, or --work DIR --selftest
  */
object Main {
  /** Shares of `--seconds` each phase measures for. */
  val Shares: Seq[(String, Double)] =
    Seq("bank_batch" -> 0.3, "bank_live" -> 0.25, "corpus_cdc" -> 0.45)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap ++
      argv.filter(_ == "--selftest").map(_.drop(2) -> "1")
    val work = new java.io.File(args("work"))
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.local.dir", new java.io.File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").toString)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try {
        if (args.contains("selftest")) SelfTest.run(spark, work)
        else run(spark, args, work)
      } finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, args: Map[String, String], work: java.io.File): Int = {
    val traced = args("trace") == "1"
    val trace = new Trace(spark.sparkContext, traced)
    spark.sparkContext.addSparkListener(trace)
    val checks = new Checks(Set.empty)
    val ctx = new Ctx(spark, trace, checks, args("seed").toLong, Variant(args("workload")),
      Sizes.full, work)
    val seconds = args("seconds").toDouble
    val phases = Main.phases(ctx)

    ctx.stealShare()
    setupAll(ctx, phases)
    ctx.stealShare()
    val setupS = (Clock.nowMs - args("launched-ms").toDouble) / 1000
    resetPeakRss()
    System.err.println(f"[perfbench] set up in $setupS%.1f s; measuring ${seconds}%.0f s")

    phases.zip(Shares).foreach { case (p, (name, share)) =>
      // the previous phase's garbage is collected here, not in this
      // phase's timed calls
      System.gc()
      val t0 = Clock.nowMs
      p.measure(seconds * share)
      System.err.println(f"[perfbench] $name measured in ${(Clock.nowMs - t0) / 1000}%.1f s")
    }
    ctx.assertQuiet("end of run")

    val attempted = checks.attempted.values.sum
    val failed = checks.failed.values.sum
    ctx.e2e("setup_s") = setupS
    ctx.e2e("peak_rss_mb") = peakRssMb
    ctx.notes("failed_ratio") = failed.toDouble / math.max(1L, attempted)
    ctx.notes("checks") = checks.attempted.keys.map(k => k -> s"${checks.failed(k)}/${checks.attempted(k)}").toMap
    ctx.notes("load1_end") = ctx.loadavg1
    val steal = ctx.stealShare()
    ctx.notes("cpu_steal_measured") = steal
    if (traced) ctx.layer("harness.cpu_steal") = steal
    if (traced) trace.writeSpans(new java.io.File(work, "spans.jsonl"))

    val metrics = if (traced) ctx.layer else ctx.e2e
    println("PERFBENCH_NOTES " + Json.value(ctx.notes.toMap))
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.toMap)))
    if (failed == 0) 0 else 1
  }

  val Cores = 4

  /** The phases warm up side by side: set-up is untimed, and one phase's
    * driver-bound plan compilation overlaps another's jobs.
    */
  def setupAll(ctx: Ctx, phases: Seq[Phase]): Unit = {
    ctx.quiet = false
    ctx.checking = false
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = phases.zip(Shares.map(_._1)).map { case (p, name) =>
      val t = new Thread(() => {
        val t0 = Clock.nowMs
        try p.setup() catch { case e: Throwable => err.set(e) }
        System.err.println(f"[perfbench] $name set up in ${(Clock.nowMs - t0) / 1000}%.1f s")
      }, s"perfbench-setup-$name")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(err.get).foreach(e => throw e)
    // the warm-ups' garbage is collected now, not in the first timed call
    System.gc()
    ctx.quiet = true
    ctx.checking = true
  }

  def phases(ctx: Ctx): Seq[Phase] = Seq(new BankBatch(ctx), new BankLive(ctx), new CorpusCdc(ctx))

  /** Start the peak-RSS count afresh, so the concurrent warm-up does
    * not set the peak that `peak_rss_mb` reports.
    */
  def resetPeakRss(): Unit = {
    val w = new java.io.FileWriter("/proc/self/clear_refs")
    try w.write("5") finally w.close()
  }

  /** Peak resident set of this process (`VmHWM`) since
    * [[resetPeakRss]], in MB.
    */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
