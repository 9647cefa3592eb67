package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session scoping for streaming entry points: every stateful query
  * runs on a CLONED session whose conf carries (1) a state shard count
  * sized to per-micro-batch state — loading/committing W stores per
  * batch is the fixed cost that dominates small batches — and (2) the
  * state-store provider.
  *
  * The provider defaults to **RocksDB**: at 100 TB keyed state must
  * spill — the default HDFS-backed provider keeps every key of every
  * shard on the executor HEAP, so an executor's state is bounded by
  * JVM memory and GC; RocksDB keeps the working set in native
  * memory + local SST files with changelog/snapshot files in the
  * checkpoint, which is the only shape that survives unbounded key
  * spaces. Spark pins the provider class in the offset log at the
  * FIRST micro-batch, so restarts and the `statestore` reader recover
  * the right provider from the checkpoint itself — flipping the
  * default never strands an existing checkpoint.
  *
  * `SPARK_GRAFT_STATESTORE=hdfs` (env) or
  * `spark.graft.stateStore=hdfs` (conf on the parent session) opts a
  * run back into the heap provider — the small-state/latency-first
  * configuration.
  */
object StreamSessions {

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Resolve the provider choice: explicit arg > parent-session conf >
    * env > RocksDB.
    */
  def providerClass(parent: SparkSession, choice: Option[String] = None): String =
    resolve(choice.orElse(parent.conf.getOption("spark.graft.stateStore")))

  /** Env-only resolution — for session BUILDERS (probe/spec mains)
    * that have no parent session yet.
    */
  def providerClassFromEnv: String = resolve(None)

  private def resolve(choice: Option[String]): String = {
    val named = choice
      .orElse(sys.env.get("SPARK_GRAFT_STATESTORE"))
      .map(_.trim.toLowerCase)
    named match {
      case Some("hdfs") | Some("heap") => // Spark's default heap provider
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case Some("rocksdb") | None => RocksDbProvider
      case Some(other) => other // a fully-qualified custom provider class
    }
  }

  /** A cloned session for one streaming query: state shard count +
    * state-store provider, scoped so the shared session's concurrent
    * batch queries keep their own conf.
    */
  def scoped(
      parent: SparkSession,
      statePartitions: Int,
      stateStore: Option[String] = None,
      noDataBatches: Boolean = true): SparkSession = {
    val ss = parent.newSession()
    // make the clone's streams stoppable by whoever tagged this gate
    // (no-op outside a GateStreams.withTag bracket)
    GateStreams.register(ss)
    ss.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    // single-sentinel drains (windowedTotalsFromFiles,
    // attributionOuterFromFiles) rely on a no-data micro-batch firing
    // after the sentinel advances the watermark to emit the final
    // windows / null verdicts; pin the option so drain completeness
    // is a property of the scoped session, not an ambient config.
    // Queries whose OUTPUT never waits on the watermark (inner
    // stream-stream joins: pairs emit the moment both rows exist, and
    // eviction emits nothing) pass noDataBatches=false — the trailing
    // no-data batch is one whole micro-batch of pure fixed cost.
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatches.toString)
    stateStoreConf(providerClass(parent, stateStore))
      .foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }

  /** The state-store settings of a streaming session on `provider`;
    * the test session takes them from here too, so the two never drift.
    * On RocksDB they turn on changelog checkpointing: per-batch
    * durability = the batch's delta, with SST snapshots uploaded in the
    * background — the per-micro-batch commit cost stops scaling with
    * total state size (the 100 TB-right default; also measured ~2x on
    * the small-batch gate queries, where full-snapshot uploads per
    * batch dominated), and the state store keeps the per-batch change
    * feed a QueryServer refreshes from.
    */
  private[graft] def stateStoreConf(provider: String): Seq[(String, String)] =
    ("spark.sql.streaming.stateStore.providerClass" -> provider) +:
      (if (provider != RocksDbProvider) Nil
       else Seq("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
}
