package graft.tgraph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The transactional-graph context — analog of the reference's
  * `tgraph/TransactionEnvironment.java` (isolation level, open/close
  * lifecycle).
  *
  * The reference's concurrency-control strategy and dependency-tracking
  * switches have no flag here. Both strategies commit the same serial
  * history in graft's deterministic replay; their runtime difference
  * (optimistic replays vs pessimistic lock waits) is
  * [[graft.tgraph.state.StateOperator.strategyRuntime]]
  * (`t_strategy_runtime`), and PL4 dependency tracking is
  * [[graft.tgraph.query.StateQueries.dependencies]].
  *
  * `open` enriches a stream with transaction ids (the reference's
  * `twopc/OpenOperator`); `close` reduces votes across all state
  * operators of the graph and resolves commit/abort — the 2PC
  * coordinator (`twopc/CloseOperator` + `ReduceVotesFunction`) expressed
  * as a groupBy-min plus a join. Vote reduction is map-side combinable
  * (min agg), the join shuffles on `__tid` (or broadcasts when the vote
  * table is small — AQE decides).
  */
final case class TransactionEnvironment(
    isolation: IsolationLevel = IsolationLevel.PL3) {

  import TStream._

  /** Open a transactional graph: each input record becomes a transaction
    * with id `tid` (must be unique; deterministic — the analog of the
    * reference assigning timestamps/tids at the open operator).
    */
  def open(df: DataFrame, tid: Column): TStream =
    new TStream(
      this,
      df.withColumn(TidCol, tid.cast("bigint")).withColumn(BranchCol, lit(0)),
      Nil)

  /** Close the graph: 2PC vote reduction over every participating state
    * stream — votes from ALL namespaces of the transaction merge into one
    * commit decision (the reference's `twopc/ReduceVotesFunction.java`
    * across state operators). Returns the closed graph with final
    * per-transaction votes.
    *
    * `__vote` is the reference-merged vote (min under REPLAY < ABORT <
    * COMMIT — [[Vote.merge]] parity); the `__had_abort`/`__had_replay`
    * flags carry what replay resolution needs (see
    * [[TGraphResult.resolved]]).
    */
  def close(streams: StateStream*): TGraphResult = {
    val votes = streams
      .map(_.branchVotes)
      .reduce(_ union _)
      .groupBy(col(TidCol))
      .agg(
        min(col(VoteCol)).as(VoteCol),
        max((col(VoteCol) === Vote.Abort).cast("int")).as("__had_abort"),
        max((col(VoteCol) === Vote.Replay).cast("int")).as("__had_replay"))
    new TGraphResult(this, streams, votes)
  }
}

/** The closed transactional graph — committed state per namespace plus
  * the final vote stream (what the reference returns from
  * `TransactionEnvironment.close`: onCommit/onAbort streams and
  * queryable state).
  */
final class TGraphResult private[tgraph] (
    val env: TransactionEnvironment,
    streams: Seq[StateStream],
    val finalVotes: DataFrame) {

  import TStream._

  private def stream(nameSpace: String): StateStream =
    streams.find(_.nameSpace == nameSpace).getOrElse(
      throw new IllegalArgumentException(s"unknown namespace $nameSpace"))

  /** Vote resolution — what the reference's replay loop converges to.
    * A REPLAY verdict (which dominates the merge, `tgraph/Vote.java:10`)
    * sends the transaction back through the graph; on deterministic
    * replay the abort conditions re-fire and the transient (replay)
    * conditions clear. So the fixed point is: ABORT iff any branch voted
    * ABORT, COMMIT otherwise; a transaction that had any REPLAY branch
    * went through replay and keeps the `replayed` flag (even when it
    * ultimately aborts — the reference replays ABORT+REPLAY mixes too).
    */
  private[tgraph] def resolved: DataFrame =
    finalVotes.select(
      col(TidCol),
      when(col("__had_abort") === 1, Vote.Abort).otherwise(Vote.Commit).as(VoteCol),
      (col("__had_replay") === 1).as("__replayed"))

  /** Final votes as (tid, vote-name, replayed) — the close output. */
  def voteNames: DataFrame =
    resolved.select(
      col(TidCol).as("tid"),
      when(col(VoteCol) === Vote.Commit, "COMMIT").otherwise("ABORT").as("vote"),
      col("__replayed").as("replayed"))

  /** Updates of `nameSpace` visible at `isolation` (default: env's). */
  def visibleUpdates(nameSpace: String, isolation: IsolationLevel = env.isolation): DataFrame =
    stream(nameSpace).visible(resolved.drop("__replayed"), isolation)

  /** Committed-state fold: key → final value (sum of visible deltas).
    * Single shuffle on the state key; partial aggregation map-side.
    */
  def balances(nameSpace: String, isolation: IsolationLevel = env.isolation): DataFrame =
    visibleUpdates(nameSpace, isolation)
      .groupBy(col("key"))
      .agg(sum(col("delta")).as("value"), count(lit(1)).as("n_updates"))

  /** Per-key version chain (the versioned object store). */
  def versions(nameSpace: String, isolation: IsolationLevel = env.isolation): DataFrame =
    stream(nameSpace).versionChain(resolved.drop("__replayed"), isolation)
}
