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

  /** Typed PK columns of a collapsed change set (`key` is the text
    * array the decoder emits; registry order, registry types — the
    * exact derivation [[ApplyEngine.merge]] joins on). */
  private def typedKeys(meta: TableMeta) =
    meta.pkCols.zipWithIndex.map { case (c, i) =>
      PgTypeMapper.castFromText(element_at(col("key"), i + 1), meta.colType(c))
    }

  /** Distinct buckets touched by a collapsed change set. Driver-side
    * collect — bounded by the batch's key count (≪ table), the same
    * disposition as the engine's touched-tables collect. */
  def changedBuckets(collapsed: DataFrame, meta: TableMeta, n: Int): Set[Int] =
    collapsed
      .select(pmod(hash(typedKeys(meta): _*), lit(n)).as("__gb"))
      .distinct().collect().map(_.getInt(0)).toSet

  /** Merge `collapsed` onto the committed `baseVersion` and stage the
    * result as `version`, rewriting only the touched buckets. Returns
    * the changed-bucket set (the caller commits via the normal
    * cross-table barrier). */
  def stageDelta(store: TableStore, meta: TableMeta,
                 spec: TableStore.BucketSpec, collapsed0: DataFrame,
                 version: Long, baseVersion: Long): Set[Int] = {
    // two consumers (bucket collect + merge) — materialize once
    val collapsed = collapsed0.localCheckpoint(eager = false)
    val changed = changedBuckets(collapsed, meta, spec.n)
    val target = store.readBuckets(meta.id, changed, baseVersion)
    // change set ≪ bucket: broadcast so the target side never shuffles
    val merged = ApplyEngine.merge(target, collapsed, meta, broadcastChanges = true)
    store.stageBucketed(meta.id, merged, version, spec, Some(changed), Some(baseVersion))
    changed
  }
}
