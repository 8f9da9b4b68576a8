package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic validate-or-quarantine: the runtime form of the reference's DDL
  * CHECK constraints (`sql/DDL_dds.fct_deliveries.sql:19-21`,
  * `sql/DDL_cdm.dm_courier_ledger.sql:20-28`). Postgres rejects a violating
  * row at INSERT time and aborts the batch; a pipeline engine instead
  * SPLITS the batch — clean rows flow on, violating rows land in a
  * quarantine with the names of every failed check, so one malformed record
  * never stalls a 100 TB load and the failure is inspectable afterwards.
  *
  * Check semantics are exactly SQL CHECK: a row violates a check only when
  * the predicate evaluates FALSE — NULL passes (declare an explicit
  * [[Validate.notNull]] check where null itself is the defect).
  */
object Validate {

  final case class Check(name: String, predicate: Column)

  def notNull(cols: String*): Seq[Check] =
    cols.map(c => Check(s"${c}_not_null", col(c).isNotNull))

  /** Split `df` into (valid, quarantined). Quarantined rows carry a
    * `_violations` array<string> of the failed check names, in declaration
    * order. One projection + two narrow filters over the same lineage — no
    * shuffle. Each returned frame re-evaluates the upstream scan when
    * consumed independently; a caller that drains BOTH sides of a large
    * increment should persist the upstream (or write valid/quarantine in
    * one pass via partitionBy on a violation flag) at its stage boundary.
    */
  def split(df: DataFrame, checks: Seq[Check]): (DataFrame, DataFrame) = {
    val flagged = flag(df, checks)
    (flagged.filter(size(col("_violations")) === 0).drop("_violations"),
     flagged.filter(size(col("_violations")) > 0))
  }

  /** The one-pass primitive under [[split]]: annotate every row with its
    * `_violations` array. Consumers that need both dispositions in a
    * single scan (histograms, partitioned writes) aggregate or partition
    * on this column directly instead of splitting.
    */
  def flag(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "validate with no checks is a no-op; declare at least one")
    val violations = array(checks.map(c => when(violates(c), lit(c.name))): _*)
    df.withColumn("_violations", filter(violations, _.isNotNull))
  }

  /** True exactly for the rows [[flag]] quarantines under `c`: the
    * predicate is FALSE (NULL passes).
    */
  def violates(c: Check): Column = c.predicate <=> lit(false)

  /** The reference's delivery-fact invariants as a reusable check set
    * (rate 1–5, non-negative money, present keys).
    */
  val deliveryChecks: Seq[Check] =
    notNull("delivery_key", "order_key", "courier_key", "ts") ++ Seq(
      Check("rating_range", col("rating").between(1, 5)),
      Check("order_sum_non_negative", col("order_sum") >= 0),
      Check("tips_non_negative", col("tips") >= 0))
}
