package graft.fixtures

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-scan planted-corpus builder. The dedup / winnowing /
  * decontam fixtures all plant near-copies as
  * `base.unionByName(base.filter(cond).withColumn(...))` — every
  * branch of that union is its own scan of the base table, so a
  * 2-branch plant costs two parquet scans (three with a second plant)
  * and every consumer's plan carries the duplicated scan subtree
  * (opt guide §3.3: wide unions, §7.2: duplicated subtrees — the same
  * disease [[SyntheticCdc]]'s change logs had before round 15).
  *
  * Here each input row instead emits one VARIANT TAG per matching
  * variant — `explode(filter(array(when(cond_i, i)), notNull))` — and
  * a final projection rewrites each overridden column as
  * `CASE tag WHEN i THEN override_i ELSE original`. One scan, one
  * Generate. Columns stay top-level attributes (no struct round-trip),
  * so scan-side column pruning still sees exactly the referenced
  * columns — the union form's ReadSchema is preserved.
  *
  * Row-set identical to the union by construction — same conditions,
  * same column overrides evaluated on the pre-override row, row order
  * immaterial to every consumer (hash/aggregate/orderBy-based) and
  * re-proven against the DuckDB oracle, which still runs the
  * UNION ALL form.
  */
object Planted {

  /** One output row per (input row, variant whose condition it
    * satisfies), in ONE scan of `base`. A variant is
    * (condition, column overrides); non-overridden columns pass
    * through. Override expressions are evaluated on the ORIGINAL row
    * (exactly like `filter(cond).withColumn(...)` branches, where
    * mods see the pre-mod columns). */
  def variants(base: DataFrame,
      vs: Seq[(Column, Seq[(String, Column)])]): DataFrame = {
    require(vs.nonEmpty, "Planted.variants: need at least one variant")
    val cols = base.columns.toSeq
    require(!cols.contains("__v"),
      "Planted.variants: base already has a __v column (the internal " +
        "variant tag) — rename it first")
    vs.foreach { case (_, mods) =>
      val unknown = mods.map(_._1).toSet -- cols.toSet
      require(unknown.isEmpty,
        s"Planted.variants: override of missing column(s) $unknown")
    }
    val tags = vs.zipWithIndex.map { case ((cond, _), i) => when(cond, lit(i)) }
    base
      .select(col("*"),
        explode(filter(array(tags: _*), e => e.isNotNull)).as("__v"))
      .select(cols.map { c =>
        vs.zipWithIndex
          .collect { case ((_, mods), i) =>
            mods.collectFirst { case (`c`, m) => (i, m) }
          }
          .flatten
          .foldRight(col(c)) { case ((i, m), orig) =>
            when(col("__v") === i, m).otherwise(orig)
          }
          .as(c)
      }: _*)
  }

  /** `base ∪ planted copies` in one scan: every row passes through
    * unchanged, plus one modified copy per matching plant. */
  def corpus(base: DataFrame,
      planted: (Column, Seq[(String, Column)])*): DataFrame =
    variants(base, (lit(true), Seq.empty[(String, Column)]) +: planted)
}
