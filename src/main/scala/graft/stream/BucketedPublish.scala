package graft.stream

import graft.apply.ApplyEngine
import graft.model.TableMeta
import graft.types.PgTypeMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (bucket-level) CDC publish: the merge/stage pair for a
  * PK-bucketed [[TableStore]] table. A batch's collapsed change set
  * names a small set of touched PK buckets; ONLY those buckets are
  * read, merged, and rewritten — the store's other buckets are carried
  * forward by bucketmap reference, never rewritten. The touched
  * buckets' rows go to one bucket-sorted file (more only when their
  * bytes call for it, [[TableStore.stageBucketed]]), not one file per
  * bucket, and the read of the touched buckets skips other buckets'
  * row groups by their `__gv`/`__gb` statistics.
  *
  * This is what makes a 30 s commit cadence viable at 100 TB: per
  * batch, work is O(|changes| + touched_buckets × bucket_size), not
  * O(|table|) — the Spark re-expression of the reference replaying
  * each change as an in-place keyed UPDATE
  * (`replayer/connemara_replay.pl:220-251`) rather than rewriting the
  * table. Correctness rests on one invariant: the change side buckets
  * its typed PK values with the SAME `pmod(hash(pk…), n)` the store
  * used at write time (identical types via `castFromText` to the
  * registry column types), so every changed key's bucket is in the
  * changed set by construction and the restricted merge equals the
  * full merge restricted to those buckets.
  */
object BucketedPublish {

  /** The PK bucket of each row of a collapsed change set (`key` is the
    * text array the decoder emits; its typed values, registry order and
    * registry types, are the exact derivation [[ApplyEngine.merge]]
    * joins on). */
  private def bucketOf(meta: TableMeta, n: Int) =
    pmod(hash(meta.pkCols.zipWithIndex.map { case (c, i) =>
      PgTypeMapper.castFromText(element_at(col("key"), i + 1), meta.colType(c))
    }: _*), lit(n))

  /** Distinct buckets touched by a collapsed change set. Driver-side
    * collect — bounded by the batch's key count (≪ table), the same
    * disposition as the engine's touched-tables collect. */
  def changedBuckets(collapsed: DataFrame, meta: TableMeta, n: Int): Set[Int] =
    collapsed.select(bucketOf(meta, n).as("__gb"))
      .distinct().collect().map(_.getInt(0)).toSet

  /** One table's bucket delta onto `baseVersion`: the buckets its
    * changes touch, the restricted target, the change set as the merge
    * reads it, and the merged rows of those buckets. */
  final case class Delta(changed: Set[Int], target: DataFrame, collapsed: DataFrame,
                         merged: DataFrame)

  /** Plan one table's bucket delta in the trigger's shape — the one
    * path the stream engine and [[stageDelta]] share.
    *  - small trigger: ONE job collects the collapsed rows together
    *    with their buckets, so the driver holds both the changed-bucket
    *    set and the change side, as a local relation. If the files the
    *    touched buckets map to are also at most the session's
    *    `minPartitionSize` ([[CdcStreamEngine.Shape.onePartition]]), the
    *    merge runs in one partition with no exchange and stages as one
    *    file.
    *  - otherwise: the collapsed set is materialized once for its two
    *    readers (the bucket collect and the merge), the buckets come
    *    from a distinct over it, and the merge broadcasts the change
    *    side while the trigger fits the broadcast threshold. */
  def delta(store: TableStore, meta: TableMeta, spec: TableStore.BucketSpec,
            collapsed0: DataFrame, baseVersion: Long,
            shape: CdcStreamEngine.Shape): Delta = {
    val (collapsed, changed) =
      if (shape.small) {
        val rows = collapsed0.withColumn("__gb", bucketOf(meta, spec.n)).collect().toSeq
        (ApplyEngine.toLocal(collapsed0, rows), rows.map(r => r.getInt(r.length - 1)).toSet)
      } else {
        val c = collapsed0.localCheckpoint(eager = false)
        (c, changedBuckets(c, meta, spec.n))
      }
    val target = store.readBuckets(meta.id, changed, baseVersion)
    val onePartition =
      shape.onePartition(store.scanBytes(meta.id, baseVersion, Some(changed)))
    Delta(changed, target, collapsed,
      ApplyEngine.merge(target, collapsed, meta, shape.broadcast, onePartition))
  }

  /** Merge `collapsed` onto the committed `baseVersion` and stage the
    * result as `version`, rewriting only the touched buckets, through
    * [[delta]]. Returns the changed-bucket set (the caller commits via
    * the normal cross-table barrier). */
  def stageDelta(store: TableStore, meta: TableMeta,
                 spec: TableStore.BucketSpec, collapsed: DataFrame,
                 version: Long, baseVersion: Long,
                 shape: CdcStreamEngine.Shape): Set[Int] = {
    val d = delta(store, meta, spec, collapsed, baseVersion, shape)
    store.stageBucketed(meta.id, d.merged, version, spec, Some(d.changed),
      Some(baseVersion))
    d.changed
  }
}
