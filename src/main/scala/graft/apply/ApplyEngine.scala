package graft.apply

import scala.jdk.CollectionConverters._

import graft.model.TableMeta
import graft.types.PgTypeMapper
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The CDC MERGE engine (SURVEY §2.8 A1) — the reference's ordered
  * row-at-a-time replay (`replayer/connemara_replay.pl:355-427,
  * 801-985`), re-expressed as a batch collapse + keyed join:
  *
  *  1. [[collapse]]: per key, fold the ordered event sequence into a
  *     single final state — `row` (full replacement), `patch`
  *     (column-wise partial overrides of the pre-batch row), or `del`.
  *     Replaces the reference's barrier/ordering protocol: within a
  *     batch, per-key order is total, cross-key order is immaterial.
  *  2. [[merge]]: full-outer join with the target on typed PK values;
  *     `patch` columns resolve via `coalesce(cast(new), old)` — the
  *     TOAST-partial-update semantics of `replayer/connemara_replay.pl:185-190`.
  *
  * No UDFs, no driver-side loops: the collapse is a compiled plan
  * node over a shuffle by key, the merge is built from codegen'd
  * built-ins (`map_*`, `when`) over a broadcast or shuffle by PK, and
  * both scale horizontally. A change set small enough that AQE would
  * coalesce those shuffles into one partition runs both in one
  * partition instead, with no exchange (`onePartition`).
  */
object ApplyEngine {

  /** Fold one key's ordered events into its final state.
    *
    * Output: `key array<string>`, `st ∈ {row, patch, del}`,
    * `vals map<string,string>`, `viol int` (count of
    * patch-after-delete sequences — the batch analog of the
    * reference's affected-rows==1 assertion,
    * `replayer/connemara_replay.pl:417-421`).
    *
    * The events are hash-partitioned by `key` into the session's core
    * count, as the reference's dispatcher hash-partitions changes by PK
    * across its worker threads (`replayer/connemara_replay.pl:764-777`);
    * each partition then folds its keys with one compiled sort + fold
    * call per key ([[graft.plans.CollapseEventsExpression]]), straight
    * from a hash table ([[graft.plans.CollapseByKey]]) — no map-side
    * partial aggregate and no sort fallback. Within a key the events
    * sort by `ord`, nulls first, ties in arrival order.
    * ApplyPropertySpec proves it equal to the lambda fold.
    *
    * `onePartition` is the small-trigger shape: the events fold in ONE
    * partition (a `coalesce(1)`, no exchange), in the task that
    * decodes them. The stream engine picks it when the batch's payload
    * bytes are at most the session's
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` — below
    * that, AQE would coalesce the hash shuffle into one partition
    * anyway, so the shuffle only added a job and its driver round-trip
    * ([[graft.stream.CdcStreamEngine.Shape]]). */
  def collapse(events: DataFrame, onePartition: Boolean = false): DataFrame =
    graft.plans.CollapseByKey(events,
      if (onePartition) 1 else events.sparkSession.sparkContext.defaultParallelism)

  /** `rows` collected from `like` (or from `like` with more columns
    * after its own) re-served as a local relation with `like`'s schema:
    * later plans read a small change set with no job and no exchange,
    * and it feeds several consumers without a checkpoint. */
  def toLocal(like: DataFrame, rows: Seq[Row]): DataFrame = {
    val n = like.schema.length
    like.sparkSession.createDataFrame(
      rows.map(r => if (r.length == n) r else Row.fromSeq(r.toSeq.take(n))).asJava,
      like.schema)
  }

  /** Skew-resistant two-phase collapse. The fold state `(st, vals,
    * viol)` is a MONOID under "apply B's events after A's": `row`
    * replaces, `del` tombstones, `patch` overlays column-wise — so a
    * hot key's events can pre-fold inside contiguous event-time
    * buckets (phase 1 shuffles on (key, bucket), spreading the hot
    * key across `bucketSeconds`-wide slices) and the per-key phase 2
    * only folds one small partial per bucket. Produces bit-identical
    * results to [[collapse]]; use when single keys receive very large
    * in-batch event counts (the reference would hot-spot one worker
    * thread on exactly that case).
    */
  def collapseSkewResistant(events: DataFrame, bucketSeconds: Long = 30): DataFrame = {
    // Native two-phase kernels (graft.plans.CollapsePartialExpression /
    // ComposePartialsExpression) — the interpreted twin below is the
    // property spec's reference. The hot-key case this op exists for
    // (one key, very many in-batch events) is exactly where an
    // interpreted per-event lambda hurt most.
    val partials = events
      .withColumn("bucket",
        floor(unix_timestamp(col("ord.ts")) / bucketSeconds))
      .groupBy(col("key"), col("bucket"))
      .agg(graft.plans.NativeCols.collapsePartial(
        collect_list(struct(col("ord"), col("op"), col("vals")))).as("partial"))
    partials
      .groupBy(col("key"))
      .agg(graft.plans.NativeCols.composePartials(
        collect_list(struct(col("bucket"), col("partial")))).as("fin"))
      .select(
        col("key"),
        col("fin.st").as("st"),
        col("fin.vals").as("vals"),
        col("fin.viol").as("viol"))
  }

  /** Align a DataFrame to a (possibly evolved) schema: add missing
    * columns as NULL, drop removed ones, apply type changes — how a
    * DDL-evolved registry schema meets pre-DDL table data (A8).
    */
  def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toIndexedSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** Apply collapsed per-key states onto the target table; returns the
    * post-batch table with the target's exact schema.
    *
    * The merge is deliberately NOT a full-outer join: full-outer
    * can only run as a shuffle join in Spark, which re-shuffles the
    * ENTIRE target per batch. Instead:
    *
    *   kept     = target LEFT OUTER JOIN changes   — st null → keep,
    *              `patch` → column overrides, `del`/`row` → drop old
    *   replaced = changes where st = `row`, built purely from vals
    *   result   = kept ∪ replaced
    *
    * One scan of the target, in one of two shapes:
    *  - large (default): with a small change set the left-outer join
    *    broadcasts (forced by `broadcastChanges`, or AQE decides), so
    *    the target never shuffles — the property that matters at
    *    100 TB where changes/batch ≪ table size. A change set that is
    *    not a local relation is checkpointed once for its two readers.
    *  - `onePartition`: both sides are coalesced to one partition and
    *    hash-joined there, with no exchange and no broadcast job (a
    *    local relation's broadcast still runs one); the result is one
    *    partition. For a driver-local change set ([[toLocal]]) over a
    *    target whose files are at most the session's
    *    `spark.sql.adaptive.coalescePartitions.minPartitionSize`, where
    *    AQE would coalesce a shuffle of the merged rows into one
    *    partition anyway. The stream engine picks it per table
    *    ([[graft.stream.CdcStreamEngine.Shape.onePartition]]).
    */
  def merge(target0: DataFrame, collapsed: DataFrame, meta: TableMeta,
            broadcastChanges: Boolean = false,
            onePartition: Boolean = false): DataFrame = {
    val target = conform(target0, meta.schema)
    // Typed PK columns from the key array, registry order.
    val typedKeys = meta.pkCols.zipWithIndex.map { case (c, i) =>
      PgTypeMapper.castFromText(element_at(col("key"), i + 1), meta.colType(c))
        .as(s"__k_$c")
    }
    // `chg` feeds BOTH union branches; without materialization the
    // whole decode→collapse subtree runs twice (exchange reuse does
    // not fire across the differing branch filters). localCheckpoint
    // is lazy=false-free and needs no explicit unpersist bookkeeping
    // at call sites; the collapsed set is small (≤ batch keys). A
    // local relation is already materialized.
    // Reserved __-prefixed names: a replicated table with columns
    // literally named `st`/`vals` must not make the join ambiguous.
    val chg0 = collapsed.select(
      typedKeys :+ col("st").as("__st") :+ col("vals").as("__vals"): _*)
    val chg = if (collapsed.isLocal) chg0 else chg0.localCheckpoint(eager = false)
    // join inputs per shape; the strategy hint goes on the join input
    // only (on `chg` it would also reach the `replaced` branch, which
    // joins nothing, and Spark warns once per merge)
    val (left, right) =
      if (onePartition) (target.coalesce(1), chg.coalesce(1).hint("shuffle_hash"))
      else (target, if (broadcastChanges) broadcast(chg) else chg)

    def fromVals(c: String): Column = {
      val dt = meta.colType(c)
      when(
        map_contains_key(col("__vals"), lit(c)),
        PgTypeMapper.castFromText(element_at(col("__vals"), lit(c)), dt))
    }

    val joinCond = meta.pkCols
      .map(c => target(c) <=> chg(s"__k_$c"))
      .reduce(_ && _)
    val kept = left.join(right, joinCond, "left_outer")
      .filter(col("__st").isNull || col("__st") === "patch")
      .select(meta.schema.fieldNames.toIndexedSeq.map { c =>
        when(col("__st") === "patch", fromVals(c).otherwise(target(c)))
          .otherwise(target(c))
          .as(c)
      }: _*)

    val replaced = chg
      .filter(col("__st") === "row")
      .select(meta.schema.fieldNames.toIndexedSeq.map { c =>
        val dt = meta.colType(c)
        if (meta.pkCols.contains(c)) col(s"__k_$c").cast(dt).as(c)
        else fromVals(c).otherwise(lit(null).cast(dt)).as(c)
      }: _*)

    val merged = kept.unionByName(replaced)
    if (onePartition) merged.coalesce(1) else merged
  }

  /** Parity validations (strict mode, SURVEY §2.8 A9 fail-fast):
    * rows whose application the reference would refuse — a `patch`
    * with no matching target row (affected rows ≠ 1), or a
    * patch-after-delete fold (`viol > 0`). Empty DataFrame = clean.
    */
  def violations(target: DataFrame, collapsed: DataFrame, meta: TableMeta): DataFrame = {
    val typedKeys = meta.pkCols.zipWithIndex.map { case (c, i) =>
      PgTypeMapper.castFromText(element_at(col("key"), i + 1), meta.colType(c)).as(c)
    }
    val patches = collapsed.filter(col("st") === "patch")
      .select(typedKeys :+ col("viol"): _*)
    val unmatched = patches
      .join(target.select(meta.pkCols.map(target(_)): _*), meta.pkCols, "left_anti")
      .withColumn("violation", lit("patch_without_target"))
    val folds = collapsed.filter(col("viol") > 0)
      .select(typedKeys :+ col("viol"): _*)
      .withColumn("violation", lit("patch_after_delete"))
    unmatched.unionByName(folds)
  }

  /** decode→collapse→merge in one call (batch-mode A1). */
  def applyChanges(target: DataFrame, events: DataFrame, meta: TableMeta,
                   broadcastChanges: Boolean = false): DataFrame =
    merge(target, collapse(events), meta, broadcastChanges)
}
