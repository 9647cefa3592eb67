package perfbench

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Independent models of what each program output must be. They use
  * plain DataFrame operations or plain Scala over the generated inputs
  * and never call graft. `wrong = true` plants a one-unit error, which
  * the self-test uses to show that the check comparing against the
  * model fails.
  */
object Models {
  val MaxCents = 15000L
  val FrozenAccount = 13L

  /** The bank models over one transfer set, from one pass:
    *  - `commits`: transfers that commit (amount within the limit, not
    *    paying into the frozen account);
    *  - `pl3`: PL3 balances, committed movements folded per account, as
    *    the fingerprint of (acct, balance, n_updates);
    *  - `pl3Balance`: the same as (acct, balance);
    *  - `noTx`: every movement folded per account (the no-transaction
    *    baseline), as (acct, balance, n_updates).
    * `plant` names the checks whose model is made one cent wrong.
    */
  final case class Bank(
      commits: Long, pl3: (Long, Long, Long), pl3Balance: (Long, Long, Long),
      noTx: (Long, Long, Long))

  def bank(tr: DataFrame, plant: String => Boolean): Bank = {
    def off(check: String) =
      when(lit(plant(check)) && pmod(col("acct"), lit(7L)) === 0, lit(1L)).otherwise(lit(0L))
    val ok = col("cents") <= MaxCents && col("to_acct") =!= FrozenAccount
    val perAcct = tr
      .select(ok.as("ok"), explode(array(
        struct(col("from_acct").cast("long").as("acct"), (-col("cents")).cast("long").as("delta")),
        struct(col("to_acct").cast("long").as("acct"), col("cents").cast("long").as("delta")))).as("m"))
      .groupBy(col("m.acct").as("acct"))
      .agg(
        coalesce(sum(when(col("ok"), col("m.delta"))), lit(0L)).as("bal"),
        count(when(col("ok"), lit(1))).as("n"),
        sum(col("m.delta")).as("bal_all"),
        count(lit(1)).as("n_all"))
    def fp(cond: Column, cols: Column*) = {
      val h = xxhash64(cols: _*)
      Seq(count(when(cond, lit(1))), coalesce(bit_xor(when(cond, h)), lit(0L)),
        coalesce(sum(when(cond, h.bitwiseAND(lit(0xFFFFFL)))), lit(0L)))
    }
    val has = col("n") > 0
    val r = perAcct.agg(
      coalesce(sum(col("n")), lit(0L)),
      (fp(has, col("acct"), col("bal") + off("bank_batch.balances"), col("n")) ++
        fp(has, col("acct"), col("bal") + off("bank_batch.snapshot_recovery")) ++
        fp(lit(true), col("acct"), col("bal_all") + off("bank_batch.no_tx"), col("n_all"))): _*)
      .head()
    def trip(i: Int) = (r.getLong(i), r.getLong(i + 1), r.getLong(i + 2))
    Bank(r.getLong(0) / 2, trip(1), trip(4), trip(7))
  }

  /** t-spoon's sequential invariant per account: start at `start`, take
    * deltas in tid order, apply one only if the balance stays >= 0.
    * Columns (acct, balance, n_committed, n_events), all long.
    */
  def serialFold(deltas: Dataset[graft.evaluation.Bank.AcctDelta], start: Long,
      wrong: Boolean): DataFrame = {
    import deltas.sparkSession.implicits._
    deltas.map(d => (d.acct, d.tid, d.delta))
      .groupByKey(_._1)
      .mapGroups { (acct, it) =>
        var bal = start
        var ok = 0L
        var n = 0L
        it.toArray.sortBy(_._2).foreach { case (_, _, d) =>
          n += 1
          if (bal + d >= 0) { bal += d; ok += 1 }
        }
        (acct, if (wrong && acct % 7 == 0) bal + 1 else bal, ok, n)
      }
      .toDF("acct", "balance", "n_committed", "n_events")
  }
}
