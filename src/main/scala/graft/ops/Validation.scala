package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-expectation checks at scale — the "is this table sane"
  * report every ingest pipeline runs before publishing (range
  * bounds, domain membership, non-null, cross-column order, key
  * uniqueness). The row-level checks all evaluate in ONE pass: a
  * single partial-aggregable scan computes every check's violation
  * count simultaneously (N checks must not cost N scans at 100 TB);
  * key uniqueness is the one check that genuinely needs a shuffle,
  * and it shuffles once on the key.
  */
object Validation {

  /** One named expectation: `passes` TRUE = row conforms. A NULL
    * verdict counts as a violation (SQL three-valued logic would
    * silently drop nulls from both sides otherwise). */
  final case class Check(name: String, passes: Column)

  /** Violation counts for every check in one scan.
    * @return (check, n_violations, n_rows), one row per check */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "at least one check")
    require(checks.map(_.name).distinct.size == checks.size,
      "check names must be unique")
    val aggs = checks.map(c =>
      sum(when(coalesce(c.passes, lit(false)), 0L).otherwise(1L)).as(c.name)) :+
      count(lit(1)).as("__n")
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = checks.map(c =>
      struct(lit(c.name).as("check_name"), col(c.name).as("n_violations"),
        col("__n").as("n_rows")))
    row.select(explode(array(stacked: _*)).as("s"))
      .select(col("s.check_name"), col("s.n_violations"), col("s.n_rows"))
  }

  /** Total surplus rows under a uniqueness expectation (0 = unique):
    * Σ(multiplicity − 1) over duplicated keys, as a single row that
    * unions onto a [[report]]. */
  def duplicateSurplus(df: DataFrame, keyCols: Seq[String],
                       checkName: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__k"))
      .agg(coalesce(sum(col("__k") - 1), lit(0L)).as("n_violations"),
        coalesce(sum(col("__k")), lit(0L)).as("n_rows"))
      .select(lit(checkName).as("check_name"), col("n_violations"), col("n_rows"))
}
