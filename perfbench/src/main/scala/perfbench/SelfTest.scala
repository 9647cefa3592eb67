package perfbench

import org.apache.spark.sql.SparkSession

/** Smoke-size self-test of the correctness checks: one run with the
  * true models must pass every check, and one run with every model
  * planted wrong must make every check fail. Exit code 0 only if both
  * hold.
  */
object SelfTest {
  def run(spark: SparkSession, work: java.io.File): Int = {
    val trace = new Trace(spark.sparkContext, traced = false)
    spark.sparkContext.addSparkListener(trace)
    def pass(plant: Set[String], setup: Boolean): Checks = {
      val checks = new Checks(plant)
      val ctx = new Ctx(spark, trace, checks, 1L, Variant.all.head, Sizes.smoke, work)
      val phases = Main.phases(ctx)
      if (setup) Main.setupAll(ctx, phases)
      phases.foreach(_.measure(Seconds))
      checks
    }
    val clean = pass(Set.empty, setup = true)
    val names = clean.attempted.keySet.toSet
    val planted = pass(names, setup = false)
    val rows = names.toSeq.sorted.map { n =>
      val ok = clean.failed(n) == 0 && planted.failed.getOrElse(n, 0L) > 0
      println(f"[selftest] $n%-32s true model: ${clean.failed(n)}%d/${clean.attempted(n)}%d wrong" +
        f"   planted model: ${planted.failed.getOrElse(n, 0L)}%d/${planted.attempted.getOrElse(n, 0L)}%d wrong" +
        (if (ok) "   ok" else "   FAILED"))
      ok
    }
    val good = rows.nonEmpty && rows.forall(identity)
    println(s"[selftest] ${if (good) "every check passes on the true model and fails on a planted one" else "FAILED"}")
    if (good) 0 else 1
  }

  val Seconds = 3.0
}
