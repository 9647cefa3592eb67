package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf0001 = "/root/testdata/sf0.001"
  /** The 100× scale: its embeddings table holds 2000 vectors (500 at sf0.001). */
  val Sf01 = "/root/testdata/sf0.1"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val builder = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.local.dir", LocalDir.scratch)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // specs exercise streaming state on the library's production
    // settings (RocksDB with changelog checkpointing — see
    // StreamSessions); SPARK_GRAFT_STATESTORE=hdfs opts the whole suite
    // back onto the heap provider
    graft.streaming.StreamSessions
      .stateStoreConf(graft.streaming.StreamSessions.providerClassFromEnv)
      .foreach { case (k, v) => builder.config(k, v) }
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
