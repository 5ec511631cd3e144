package graft.stream

import java.nio.file.{Files, Paths}

import graft.model.TableId
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One stream family's persisted rows — the minhash band index, the
  * winnow index, the sketch registers or the rate-monitor registers —
  * as the one append-versioned table of a [[TableStore]] rooted at
  * `dir`. The crash contract is the store's:
  *  - [[append]] stages a micro-batch's new rows as version
  *    `committed + 1` and publishes them with the batch id as the
  *    table's origin in ONE manifest write; [[applied]] tells a
  *    replayed batch that its rows are already published, so it skips
  *    them instead of applying them twice;
  *  - [[compact]] folds the parts of a batch window into one dir,
  *    publishes a version that reads it instead of them, and vacuums;
  *  - [[read]] resolves the committed version through the manifest, so
  *    a reader sees a batch's rows, or a compaction's fold, only once
  *    they are committed, and never a fold together with its sources.
  *
  * One writer per directory: a stream and its in-loop compaction run
  * on the stream's thread, and an offline compaction must not overlap
  * the stream. Readers may run at any time. The directory belongs to
  * one stream checkpoint: batch ids are matched against the origin.
  */
private[graft] final class AppendTable(spark: SparkSession, dir: String) {
  private val store = new TableStore(spark, dir)
  private val id = TableId("graft", "stream", "rows")

  /** The committed version, if any batch was published. */
  def committed: Option[Long] = store.manifest().get(id.qualified)

  /** The committed rows (None before the first publish). */
  def read(): Option[DataFrame] = committed.map(store.readVersion(id, _))

  /** Whether `batchId`'s rows are already published. */
  def applied(batchId: Long): Boolean = store.origin(id).exists(_ >= batchId)

  /** Publish `rows` as stream batch `batchId`'s append. */
  def append(rows: DataFrame, batchId: Long): Unit = {
    val base = committed
    val version = base.fold(0L)(_ + 1)
    store.stageAppend(id, rows, version, batchId, base)
    AppendTable.maybeFail(dir, batchId, "append_staged")
    store.commitBatch(id, version, batchId)
    AppendTable.maybeFail(dir, batchId, "append_committed")
    store.vacuum()
  }

  /** The version dirs the committed version reads, with the lowest
    * batch each holds. */
  def parts(): Seq[(String, Long)] = committed.toSeq.flatMap { v =>
    store.parts(id, v).map { case (p, b) => store.dir(id, p) -> b }
  }

  /** Fold the parts whose lowest batch lies in `[fromBatch, upToBatch]`
    * — at least `minParts` of them — into one dir: `fold` gets their
    * rows and their byte size and returns the folded rows. Returns the
    * number of parts folded (0 = nothing to do). */
  def compact(fromBatch: Long, upToBatch: Long, minParts: Int)
      (fold: (DataFrame, Long) => DataFrame): Int = committed.fold(0) { base =>
    val window = store.parts(id, base)
      .collect { case (v, b) if b >= fromBatch && b <= upToBatch => v }
    if (window.size < minParts) 0
    else {
      val bytes = window.map { v =>
        val s = Files.walk(Paths.get(store.dir(id, v)))
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally s.close()
      }.sum
      store.stageCompaction(id, fold(store.readParts(id, base, window), bytes),
        base + 1, base, window)
      AppendTable.maybeFail(dir, upToBatch, "compact_staged")
      store.commit(Map(id -> (base + 1)))
      AppendTable.maybeFail(dir, upToBatch, "compact_committed")
      store.vacuum()
      window.size
    }
  }
}

private[graft] object AppendTable {

  /** Crash injection for recovery tests: `(dir, batch, point)` throws
    * once, at `point` of the [[AppendTable]] at `dir` — after an
    * append of `batch` is staged (`append_staged`) or committed
    * (`append_committed`), or after a compaction with upper bound
    * `batch` is staged (`compact_staged`) or committed
    * (`compact_committed`). Never set in production. */
  @volatile private[graft] var failpoint: Option[(String, Long, String)] = None

  private def maybeFail(dir: String, batch: Long, point: String): Unit =
    if (failpoint.contains((dir, batch, point))) {
      failpoint = None
      throw new IllegalStateException(
        s"failpoint: injected crash at batch $batch ($point) in $dir")
    }
}
