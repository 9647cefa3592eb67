package graft.tgraph.query

import graft.tgraph.{IsolationLevel, TGraphResult, TStream}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Queryable state — the reference's `tgraph/query/` package
  * (`Query.java:14` point/key-set queries, `PredicateQuery.java`,
  * `MultiStateQuery.java`, `QueryResultMerger.java`,
  * `WatermarkAssigner.java`).
  *
  * In graft a state snapshot is a DataFrame `(key, value, ...)`; queries
  * are Catalyst filters over it — a point query prunes on the key
  * (partition/file pruning at scale), a predicate query filters on the
  * value, a multi-state query unions namespaces. The reference's
  * QueryResultMerger (merging per-shard partial results) is Spark's own
  * shuffle-merge; nothing to hand-roll.
  */
object StateQueries {

  /** Point / key-set query (`Query.addKey`): prune to the given keys. */
  def pointQuery(snapshot: DataFrame, keys: Seq[Long]): DataFrame =
    snapshot.filter(col("key").isin(keys: _*))

  /** Batched point-query workload: answer a whole key SET in one pass
    * via a broadcast semi-join — the scalable spelling once the key
    * set outgrows an `IN` literal list (thousands of literals bloat
    * the expression tree; a broadcast hash lookup costs the same per
    * row regardless of set size). This is how a query STREAM is served
    * Spark-side: micro-batch the keys, one join per batch.
    */
  def pointQueryBatch(snapshot: DataFrame, keys: DataFrame): DataFrame =
    snapshot.join(
      org.apache.spark.sql.functions.broadcast(keys.select(col("key")).distinct()),
      Seq("key"), "left_semi")

  /** Predicate query (`PredicateQuery.QueryPredicate`): arbitrary
    * predicate over the state value.
    */
  def predicateQuery(snapshot: DataFrame, predicate: Column): DataFrame =
    snapshot.filter(predicate)

  /** Multi-namespace query (`MultiStateQuery.java`): union of per-
    * namespace snapshots tagged with their namespace.
    */
  def multiStateQuery(snapshots: Map[String, DataFrame]): DataFrame =
    snapshots
      .map { case (ns, df) =>
        df.select(lit(ns).as("namespace"), col("key"), col("value"))
      }
      .reduce(_ union _)

  /** Watermark-bounded visibility (`WatermarkAssigner` +
    * `TotalOrderEnforcer`): the state fold restricted to transactions
    * with event time <= watermark. Filtering BEFORE the fold pushes the
    * predicate to the scan.
    */
  def watermarkSnapshot(
      result: TGraphResult,
      nameSpace: String,
      timeCol: Column,
      watermark: Column): DataFrame =
    result
      .visibleUpdates(nameSpace, IsolationLevel.PL3)
      .filter(timeCol <= watermark)
      .groupBy(col("key"))
      .agg(sum(col("delta")).as("value"), count(lit(1)).as("n_updates"))

  /** Query suppliers — the reference's `RandomQuerySupplier` /
    * `FrequencyQuerySupplier` (`tgraph/query/QuerySource.java`):
    * deterministic sampled key sets to drive point-query workloads.
    * Sampling by seeded hash order keeps the choice reproducible across
    * engines and runs (no RNG state on executors).
    *
    * NOTE: engine-local variant — orders by Spark's Murmur3 `hash()`,
    * which no external oracle reproduces. Kept for in-engine probes
    * that only need determinism (`querySupplier`); NEW call sites
    * should prefer [[sampleFrame]], whose md5 ordering is
    * engine-portable and therefore oracle-checkable.
    */
  @deprecated(
    "order is Spark-Murmur3-specific and cannot be oracle-checked; " +
      "use sampleFrame (portable md5 order) instead", "round-9")
  def sampleKeys(snapshot: DataFrame, n: Int, seed: Int): Seq[Long] =
    snapshot
      .select(col("key").cast("bigint"))
      .orderBy(hash(col("key"), lit(seed)), col("key"))
      .limit(n)
      .collect()
      .map(_.getLong(0))
      .toSeq

  /** Engine-portable supplier sample: the same reproducible-key-set
    * contract as [[sampleKeys]], but ordered by an md5 of "seed:key"
    * instead of Spark's Murmur3 — any SQL engine reproduces the choice
    * bit-exactly, which puts the supplier itself (not just the queries
    * it drives) under the DuckDB oracle gate. Returns the sampled
    * rows, i.e. the supplier fused with the point query it feeds.
    */
  def sampleFrame(snapshot: DataFrame, n: Int, seed: Int): DataFrame =
    snapshot
      .orderBy(
        md5(concat_ws(":", lit(seed), col("key").cast("string"))), col("key"))
      .limit(n)

  /** A frequency-driven stream of point queries (queryRate analog):
    * one sampled key-set per tick. Driver-side plumbing; each query
    * itself is a distributed pruned scan.
    */
  def querySupplier(
      snapshot: DataFrame, avgSize: Int, seed: Int): Iterator[DataFrame] =
    Iterator.from(0).map(i => sampleFrame(snapshot, avgSize, seed + i))

  /** Queryable LIVE streaming state — the online analog of the
    * reference's state servers answering point/predicate queries
    * against running operators: Spark's state-store data source reads
    * the checkpointed state of a (running or stopped) streaming query
    * directly. Point/predicate queries compose on top as ordinary
    * pruned scans.
    */
  def streamingState(
      spark: org.apache.spark.sql.SparkSession,
      checkpointLocation: String): DataFrame =
    spark.read.format("statestore").load(checkpointLocation)

  /** The change feed of that live state: one row per state write of
    * the committed batches `fromBatch..toBatch` — `batch_id`,
    * `change_type` (`update` | `delete`), `key`, `value` (null on a
    * delete), `partition_id` — with each state partition's rows in
    * commit order. Needs per-batch change files in the checkpoint:
    * RocksDB with changelog checkpointing (the `StreamSessions`
    * default) or the HDFS provider's delta files.
    */
  def streamingStateChanges(
      spark: org.apache.spark.sql.SparkSession,
      checkpointLocation: String,
      fromBatch: Long,
      toBatch: Long): DataFrame =
    spark.read.format("statestore")
      .option("readChangeFeed", true)
      .option("changeStartBatchId", fromBatch)
      .option("changeEndBatchId", toBatch)
      .load(checkpointLocation)

  /** PL4 dependency tracking
    * (`state/PL4DependencyTrackingStrategy.java`): for each transaction,
    * how many earlier writes touched the keys it writes. Computed with a
    * RANGE window (strictly-earlier tids) — no self-join, one shuffle on
    * the state key, then a re-aggregation by tid.
    */
  def dependencies(updates: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("key"))
      .orderBy(col(TStream.TidCol))
      .rangeBetween(Window.unboundedPreceding, -1)
    updates
      .withColumn("__dep", count(lit(1)).over(w))
      .groupBy(col(TStream.TidCol))
      .agg(sum(col("__dep")).as("dep_count"))
      .select(col(TStream.TidCol).as("tid"), col("dep_count"))
  }
}
