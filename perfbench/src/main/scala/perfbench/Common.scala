package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The input property a workload fixes: `hotShare` is the share of
  * deposits (and of point queries) sent to one planted hot account.
  */
final case class Variant(name: String, hotShare: Double)

object Variant {
  val all: Seq[Variant] = Seq(
    Variant("hot_keys", hotShare = 0.05),
    Variant("uniform_keys", hotShare = 0.0))
  def apply(name: String): Variant = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Input sizes. `full` is what a measured run uses; `smoke` keeps the
  * self-test short.
  */
final case class Sizes(
    batchTransfers: Long, batchAccounts: Long,
    liveRatePerS: Int, liveAccounts: Int, queryRatePerS: Int,
    docs: Int, cdcBatches: Int, minLatencySamples: Int, minFreshSamples: Int)

object Sizes {
  val full = Sizes(
    batchTransfers = 50000L, batchAccounts = 100000L,
    liveRatePerS = 500, liveAccounts = 20000, queryRatePerS = 400,
    docs = 5000, cdcBatches = 2, minLatencySamples = 1000, minFreshSamples = 3)
  val smoke = Sizes(
    batchTransfers = 5000L, batchAccounts = 500L,
    liveRatePerS = 200, liveAccounts = 300, queryRatePerS = 20,
    docs = 800, cdcBatches = 2, minLatencySamples = 10, minFreshSamples = 0)
}

/** A workload phase: untimed set-up and warm-up, then a measurement
  * that runs for about `seconds` and checks every output.
  */
trait Phase {
  def setup(): Unit
  def measure(seconds: Double): Unit
}

/** Mismatch counting for the correctness checks. Each check names the
  * operations it covered and how many of them were wrong; `plant`
  * names checks whose model the self-test deliberately corrupts.
  */
final class Checks(val plant: Set[String]) {
  val attempted: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap()
  val failed: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap()
  def planted(name: String): Boolean = plant.contains(name)
  def record(name: String, n: Long, bad: Long, detail: => String = ""): Unit = {
    attempted(name) = attempted.getOrElse(name, 0L) + n
    failed(name) = failed.getOrElse(name, 0L) + bad
    if (bad > 0) System.err.println(s"[perfbench] check $name: $bad of $n wrong $detail")
  }
  def expect(name: String, ok: Boolean, detail: => String = ""): Unit =
    record(name, 1, if (ok) 0 else 1, detail)
}

/** Everything a phase needs. `e2e` and `layer` collect the metrics the
  * run prints; `notes` holds figures printed for a reader but not
  * part of the result line.
  */
final class Ctx(
    val spark: SparkSession, val trace: Trace, val checks: Checks,
    val seed: Long, val variant: Variant, val sizes: Sizes, val work: java.io.File) {
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val notes: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()

  /** A fresh, empty scratch directory under the run's work dir. */
  def freshDir(name: String): java.io.File = {
    val d = new java.io.File(work, name)
    Ctx.delete(d)
    d.getParentFile.mkdirs()
    d
  }

  /** Report each counter of a call as `<prefix>.<counter>`: the median
    * over the call's instances.
    */
  def layerCounters(prefix: String, samples: Iterable[Map[String, Double]]): Unit =
    if (trace.traced) Trace.CounterNames.foreach { c =>
      layer(s"$prefix.$c") =
        if (samples.isEmpty) 0.0 else Stats.median(samples.map(_(c)))
    }

  /** Before each timed section: nothing from an earlier one may still
    * run, or it would be charged to this one. Off while the phases warm
    * up side by side.
    */
  @volatile var quiet = true

  /** False while warming up: warm-up outputs are not checked. */
  @volatile var checking = true

  def assertQuiet(where: String): Unit = if (quiet) {
    val streams = trace.activeStreams
    val jobs = spark.sparkContext.statusTracker.getActiveJobIds().length
    require(streams == 0 && jobs == 0,
      s"$where: $streams stream(s) and $jobs job(s) still active")
  }

  /** Share of CPU time the hypervisor gave to other guests since the
    * last call (the first call measures from boot).
    */
  private var lastCpu = (0L, 0L)
  def stealShare(): Double = {
    val f = scala.io.Source.fromFile("/proc/stat")
    val cpu = try f.getLines().next().split("\\s+").drop(1).map(_.toLong) finally f.close()
    val now = (cpu.sum, if (cpu.length > 7) cpu(7) else 0L)
    val d = (now._1 - lastCpu._1, now._2 - lastCpu._2)
    lastCpu = now
    if (d._1 <= 0) 0.0 else d._2.toDouble / d._1
  }

  def loadavg1: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }
}

object Ctx {
  def delete(f: java.io.File): Unit = graft.sources.FileIO.deleteScratch(f)

  def bytesUnder(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(bytesUnder).sum

  def filesUnder(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles()).getOrElse(Array.empty).map(filesUnder).sum

  /** Order-independent fingerprint of a frame: (rows, xor of row hashes,
    * sum of the row hashes' low 20 bits). Two frames with the same rows
    * and column types agree whatever their partitioning or order.
    */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFL))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
