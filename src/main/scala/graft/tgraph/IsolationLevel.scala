package graft.tgraph

/** Isolation levels, mirroring the reference's
  * `tgraph/IsolationLevel.java:6` (PL0..PL4, `gte` = ordinal order).
  *
  * Batch-deterministic semantics in graft (the reference's
  * `state/PL0Strategy..PL4Strategy.java` read/write lattice):
  *  - PL0: dirty reads AND dirty writes — state folds apply every
  *    update, aborted transactions included; the typed executor skips
  *    invariant validation entirely.
  *  - PL1: dirty READ, no dirty write (reference `PL1Strategy`): in
  *    the typed executor
  *    ([[graft.tgraph.state.StateOperator.runBatch]]) the vote reads
  *    the dirty chain — the running value with every executed write
  *    applied, committed or not — while the committed chain advances
  *    only on commit (`t_isolation_pl1`).
  *  - PL2: read-committed (reference `PL2Strategy`'s
  *    `readCommittedBefore(watermark)`): the vote is validated against
  *    the stale committed-snapshot-at-open read, admitting the
  *    lost-update anomalies read-committed permits — so PL2 histories
  *    provably differ from both PL1 and PL3 on the same input
  *    (`t_isolation_pl2` vs `t_isolation_pl1`/`t_state_sequential`).
  *  - PL3: committed updates, serialized per key in (order, tid, branch)
  *    order — what the window fold computes; the typed executor's
  *    invariant reads the running serial value.
  *  - PL4: PL3 plus dependency tracking (see
  *    `StateQueries.dependencies`), mirroring
  *    `state/PL4DependencyTrackingStrategy.java`.
  */
sealed abstract class IsolationLevel(val ordinal: Int) {
  def gte(other: IsolationLevel): Boolean = ordinal >= other.ordinal
  /** Aborted writes visible to reads at this level? Only PL0. */
  def readsUncommitted: Boolean = ordinal == 0
}

object IsolationLevel {
  case object PL0 extends IsolationLevel(0)
  case object PL1 extends IsolationLevel(1)
  case object PL2 extends IsolationLevel(2)
  case object PL3 extends IsolationLevel(3)
  case object PL4 extends IsolationLevel(4)
  val values: Seq[IsolationLevel] = Seq(PL0, PL1, PL2, PL3, PL4)
}
