package graft.silver

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality validation & quarantine split.
  *
  * Reference behavior: `/root/reference/02_Silver_Cleanse_PII.py:109-128` —
  * valid rows pass ALL rules; failing rows land in a quarantine table with a
  * `quarantine_reason`. The reference computes the quarantine set with
  * `subtract` (an EXCEPT ⇒ full shuffle + sort of BOTH sides). We instead
  * re-evaluate the (deterministic) predicates with `filter(!all)` — a
  * map-side-only pass, no shuffle — and derive the reason as the FIRST failing
  * rule via a when-chain. At 100 TB this turns an O(shuffle) split into two
  * codegen'd scans of the same cached/columnar input.
  */
object Quality {

  /** One DQ rule: `passes` must be true for a valid row. */
  final case class Rule(name: String, passes: Column)

  /** First-failing-rule reason, NULL when every rule passes. */
  def reason(rules: Seq[Rule]): Column =
    coalesce(rules.map(r => when(!coalesce(r.passes, lit(false)), lit(r.name))): _*)

  def allPass(rules: Seq[Rule]): Column =
    rules.map(r => coalesce(r.passes, lit(false))).reduce(_ && _)

  /** (valid, quarantined-with-reason). Two filter passes, zero shuffles. */
  def split(df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    val valid = df.filter(allPass(rules))
    val quarantined = df
      .withColumn("quarantine_reason", reason(rules))
      .filter(col("quarantine_reason").isNotNull)
    (valid, quarantined)
  }
}
