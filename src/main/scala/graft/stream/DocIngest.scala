package graft.stream

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming training-data ingest: the document-side composition of
  * the ops library under Structured Streaming — a quality floor
  * (narrow column expressions), exact content dedup bounded by a
  * watermark (state evicts, so memory is O(docs per watermark
  * window), never O(corpus)), and a windowed throughput aggregate
  * for pipeline health.
  *
  * At 100 TB/day this is the shape that holds: every stage is either
  * a narrow map or keyed streaming state with eviction; nothing
  * accumulates unbounded.
  *
  * == Crash contract ==
  * The persisted state — the band index ([[nearDupIngest]]), the
  * winnow index ([[winnowIngest]]) and the sketch registers
  * ([[sketchStream]]) — is an [[AppendTable]] per directory, published
  * through its [[TableStore]] manifest: a batch's rows become visible
  * in one manifest write that also records the batch id, so a replay
  * after a crash either re-stages an unpublished batch or skips a
  * published one, and a compaction becomes visible in one manifest
  * write too. Readers and probes resolve through the manifest and
  * never see a half-applied batch or compaction. The survivors and
  * drift-metrics outputs are batch-keyed overwrites, idempotent under
  * replay. Directories are local/POSIX paths.
  */
object DocIngest {

  /** Quality-filter + dedup a document stream: drop docs under
    * `minTokens`, then drop re-deliveries of identical content
    * (md5 fingerprint) within `watermark`. Adds `n_tokens` and `fp`
    * columns to the survivors. */
  def clean(docs: DataFrame, tsCol: String, textCol: String,
            minTokens: Int = 3, watermark: String = "1 minute"): DataFrame = {
    Seq("n_tokens", "fp").foreach { c =>
      require(!docs.columns.contains(c),
        s"input already has a $c column (reserved name)")
    }
    docs
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)))
      .filter(col("n_tokens") >= minTokens)
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Tumbling-window ingest health over a [[clean]]ed stream: docs
    * and tokens admitted per window. */
  def throughput(cleaned: DataFrame, tsCol: String,
                 windowLength: String = "30 seconds"): DataFrame =
    cleaned
      .groupBy(window(col(tsCol), windowLength))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .select(col("window.start").as("window_start"),
        col("n_docs"), col("n_tokens"))

  /** One batch of cross-corpus near-dup admission: probe `index`
    * (None for the first batch) and return (survivors, their
    * band-index rows to append).
    *
    * Semantics: transitive components — the same clustering
    * discipline as [[graft.ops.Dedup.dedupCorpus]]. Over the batch's
    * verified pair graph (new×index and new×new edges), a new doc is
    * admitted iff its component contains NO already-admitted doc and
    * it is the component's lowest new id. Conservative by design: a
    * doc linked to the corpus only through a rejected doc is still
    * rejected (its content is represented by the component's keeper),
    * matching how connected-component dedup treats chains.
    *
    * The returned survivors frame is localCheckpoint'd: the caller
    * writes it AND derives index rows from it, and without the
    * checkpoint both actions would re-run the whole admission
    * pipeline.
    */
  def admitBatch(batch: DataFrame, index: Option[DataFrame],
      idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 16, threshold: Double = 0.8)
      : (DataFrame, DataFrame) = {
    val pairs = index match {
      case Some(ix) => Dedup.incrementalNearDuplicates(
        batch, ix, idCol, textCol, numHashes, bands, threshold)
      case None => Dedup.minhashNearDuplicates(
        batch, idCol, textCol, numHashes, bands, threshold)
    }
    val survivors = survivorsByPairs(batch, pairs, idCol)
    (survivors,
      Dedup.minhashBandIndex(survivors, idCol, textCol, numHashes, bands))
  }

  /** [[admitBatch]]'s span-match sibling: one batch of cross-corpus
    * WINNOWING admission — probe the persisted fingerprint index
    * (None for the first batch) with
    * [[graft.ops.Winnowing.incrementalWinnowPairs]] and return
    * (survivors, their [[graft.ops.Winnowing.winnowIndex]] rows to
    * append). Same transitive-component admission semantics as
    * [[admitBatch]] (shared core), different duplication signal: a
    * doc is rejected when it SHARES A SPAN (≥ minShared rare
    * fingerprints, guaranteed for any common run of w+k−1 tokens)
    * with the corpus or a kept batch-mate — the boilerplate/
    * quote-reuse admission gate, where minhash's whole-document
    * Jaccard would admit a doc that embeds a long verbatim excerpt
    * inside enough fresh text. */
  def admitBatchWinnow(batch: DataFrame, index: Option[DataFrame],
      idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 3, maxDf: Int = 64,
      validateParams: Boolean = true)
      : (DataFrame, DataFrame) = {
    import graft.ops.Winnowing
    val pairs = index match {
      case Some(ix) => Winnowing.incrementalWinnowPairs(
        batch, ix, idCol, textCol, k, w, minShared, maxDf,
        validateParams)
      case None => Winnowing.winnowingPairs(
        batch, idCol, textCol, k, w, minShared, maxDf)
    }
    val survivors = survivorsByPairs(batch, pairs, idCol)
    (survivors, Winnowing.winnowIndex(survivors, idCol, textCol, k, w))
  }

  /** The admission core shared by [[admitBatch]] and
    * [[admitBatchWinnow]]: transitive components over the batch's
    * verified pair graph (new×index and new×new edges); a new doc is
    * admitted iff its component contains NO already-admitted doc and
    * it is the component's lowest new id. The survivors frame is
    * localCheckpoint'd: callers write it AND derive index rows from
    * it. */
  private def survivorsByPairs(batch: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    // components over the (tiny) pair graph; members only
    val members = Dedup.connectedComponents(pairs)
      .localCheckpoint(eager = false) // feeds three subtrees below
    val newIds = batch.select(col(idCol).as("__nid")).distinct()
    val newMembers =
      members.join(newIds, members("id") === newIds("__nid"), "left_semi")
    // components tainted by an already-admitted (non-batch) member
    val tainted =
      members.join(newIds, members("id") === newIds("__nid"), "left_anti")
        .select(col("comp")).distinct()
    val keepers = newMembers
      .join(tainted, Seq("comp"), "left_anti")
      .groupBy(col("comp")).agg(min(col("id")).as("id"))
      .select(col("id"))
    val removed = newMembers.select(col("id"))
      .join(keepers, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    batch.join(removed, Seq(idCol), "left_anti")
      .localCheckpoint(eager = false)
  }

  /** Streaming sketch maintenance — the proof of the sketch layer's
    * "runnable unchanged as a bounded-state streaming aggregation"
    * contract: each micro-batch's log-histogram registers
    * ([[graft.ops.Sketches.logHistogram]] of `measure`, grouped by
    * `groupCols`) are one [[AppendTable]] append, published with the
    * batch id (a replayed batch finds them applied and skips), and the
    * corpus-lifetime sketch is merge-on-read: counts ADD, so reading
    * is one bounded aggregation over ≤ batches·groups·buckets rows —
    * the corpus itself is long gone. Quantile readout via
    * [[graft.ops.Sketches.logHistQuantiles]] on [[mergedSketch]] is
    * IDENTICAL to the batch path on the concatenated corpus (the
    * merge is the same monoid Spark runs map-side; spec-pinned).
    */
  def sketchStream(docs: DataFrame, measure: org.apache.spark.sql.Column,
      groupCols: Seq[String], sketchDir: String, checkpointDir: String,
      subBits: Int = 6,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : StreamingQuery = {
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
    trigger.foreach(writer.trigger)
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val regs = new AppendTable(batch.sparkSession, sketchDir)
        if (!regs.applied(batchId)) regs.append(
          graft.ops.Sketches.logHistogram(batch, groupCols, measure, subBits),
          batchId)
      }
      .start()
  }

  /** The corpus-lifetime sketch from a [[sketchStream]] directory:
    * merge-on-read over the committed register parts (counts add). */
  def mergedSketch(spark: org.apache.spark.sql.SparkSession,
      sketchDir: String, groupCols: Seq[String]): DataFrame = {
    val regs = new AppendTable(spark, sketchDir).read()
    require(regs.isDefined, s"mergedSketch: no registers at $sketchDir")
    regs.get
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(sum(col("count")).as("count"))
  }

  /** Compact a [[sketchStream]] register directory: fold the parts of
    * batches ≤ `upToBatch` into one, ADDING counts (every non-`count`
    * column is a key), and publish it as one [[AppendTable]]
    * compaction — a reader sees either the parts or the fold, never
    * both, so merged counts are never double-represented.
    *
    * No windowed form is needed here (unlike [[compactIndex]]'s
    * in-loop window): registers are FIXED-STATE sketches — each part
    * is ≤ groups·buckets rows regardless of corpus size, so even a
    * full merge is bounded by batches·groups·buckets, never by data
    * volume.
    *
    * `retain = Some((keyCol, n))` is the RETENTION form for registers
    * whose key advances with wall-clock (the
    * [[graft.stream.EventStreams.rateMonitor]] period registers —
    * bounded per unit time but monotonically growing forever without
    * it): after merging, only rows with `keyCol >= max(keyCol) − n + 1`
    * (max over the MERGED parts) survive, so compacted state is
    * bounded by the analysis window, not by uptime — the TableStore
    * vacuum discipline applied to monitor registers. With retention a
    * single eligible part is still rewritten (the trim is the point);
    * dropped periods are gone from the compacted part, so pick `n` at
    * or above the widest analysis window any view will ask for.
    *
    * Returns the number of parts merged (0 = nothing to do).
    */
  def compactSketch(spark: org.apache.spark.sql.SparkSession,
      sketchDir: String, upToBatch: Long,
      retain: Option[(String, Long)] = None): Int =
    new AppendTable(spark, sketchDir).compact(Long.MinValue, upToBatch,
        minParts = if (retain.isDefined) 1 else 2) { (df, _) =>
      val keys = df.columns.filterNot(_ == "count").toSeq
      val merged = df.groupBy(keys.map(col): _*)
        .agg(sum(col("count")).as("count"))
      val retained = retain match {
        case Some((keyCol, n)) =>
          require(n > 0, "retain window must be positive")
          // cutoff from the merged data itself (no wall clock in the
          // loop — deterministic, replay-stable): keep the last n key
          // values of what these parts carry. The 1-row agg collect is
          // bounded control-plane, not a global window over the rows.
          val row = merged.agg((max(col(keyCol)) - lit(n - 1)).as("c"))
            .collect().head
          if (row.isNullAt(0)) merged
          else merged.filter(col(keyCol) >= lit(row.get(0)))
        case None => merged
      }
      retained.coalesce(1)
    }

  /** Compact the [[nearDupIngest]] band index: fold the parts whose
    * lowest batch K lies in `fromBatch` ≤ K ≤ `upToBatch` into one
    * (the default `fromBatch = 0` folds everything committed — the
    * offline maintenance form; the in-loop caller passes a trailing
    * window so compaction cost stays ∝ the window, not the index) —
    * without this the index accumulates one small part per
    * micro-batch forever (the same small-file decay the persisted IVF
    * index's append lifecycle compacts away). Only checkpoint-committed
    * batches are folded: callers pass an `upToBatch` strictly below the
    * batch the stream may still replay. The fold is one [[AppendTable]]
    * compaction: a probe sees either the window's parts or the fold.
    * Offline, run it with the stream stopped (one writer per index).
    *
    * `sortCol` (the winnow index's h) keeps the range-clustered sorted
    * layout through compaction so row-group stats stay tight.
    *
    * Returns the number of parts merged (0 = nothing to do).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, upToBatch: Long,
      targetFileBytes: Long = 128L << 20,
      fromBatch: Long = 0L,
      sortCol: Option[String] = None): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    new AppendTable(spark, indexDir).compact(fromBatch, upToBatch,
        minParts = 2) { (rows, bytes) =>
      val nFiles = math.max(1L,
        (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      // random repartition would scatter every file across the full
      // hash domain and undo the winnow index's pruned-probe layout
      sortCol match {
        case Some(c) => rows.repartitionByRange(nFiles, col(c))
          .sortWithinPartitions(col(c))
        case None => rows.repartition(nFiles)
      }
    }
  }

  /** Per-batch distribution drift gate: each micro-batch's `bucket`
    * distribution (language, source, length band, …) is compared to a
    * frozen reference histogram by total-variation distance
    * ([[graft.ops.Profiling.driftTvdCounts]] — integer ppm, so the
    * gate value is deterministic under replay), and a metrics row
    * `(batch, n_docs, tvd_ppm)` is appended per batch. In `strict`
    * mode a batch over `maxTvdPpm` throws
    * [[graft.ddl.KillSwitchException]] AFTER its metrics row lands —
    * the violation is recorded, then the stream dies (the fail-fast
    * discipline of the CDC engine's strict mode, applied to corpus
    * composition: a crawler bug that flips the language mix should
    * stop ingest, not poison the corpus).
    *
    * Metrics go to batch-keyed directories with overwrite, so a
    * replayed batch rewrites its own row idempotently (rows carry
    * their batch id). Empty batches
    * are recorded with a NULL tvd (no distribution to compare) and
    * never trip the gate. `reference` must be a non-empty
    * `(bucket, n_ref)` histogram — freeze it from a trusted corpus
    * version with a count-by-bucket aggregate.
    *
    * Scale shape: the per-batch cost is one map-side count-by-bucket
    * over the batch plus a |buckets|-row join against the broadcast
    * reference; nothing scales with corpus size.
    */
  def driftGate(docs: DataFrame, bucket: org.apache.spark.sql.Column,
      reference: DataFrame, metricsDir: String, checkpointDir: String,
      maxTvdPpm: Long, strict: Boolean = false,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : StreamingQuery = {
    require(reference.columns.toSeq == Seq("bucket", "n_ref"),
      s"reference must have columns (bucket, n_ref), got " +
        reference.columns.mkString(", "))
    val refCounts = reference.withColumnRenamed("n_ref", "n_a")
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
    trigger.foreach(writer.trigger)
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val batchCounts = batch.select(bucket.as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_b"))
          .localCheckpoint(eager = false) // feeds the total AND the TVD
        // bounded control-plane collect: |buckets| rows, never docs
        val nDocs = batchCounts.agg(coalesce(sum(col("n_b")), lit(0L)))
          .head().getLong(0)
        val tvd: Option[Long] =
          if (nDocs == 0L) None
          else Some(graft.ops.Profiling
            .driftTvdCounts(refCounts, batchCounts)
            .select(col("tvd_ppm")).head().getLong(0))
        Seq((batchId, nDocs, tvd))
          .toDF("batch", "n_docs", "tvd_ppm")
          .write.mode("overwrite").parquet(s"$metricsDir/batch=$batchId")
        if (strict && tvd.exists(_ > maxTvdPpm))
          throw new graft.ddl.KillSwitchException(
            s"drift gate: batch $batchId tvd_ppm=${tvd.get} > $maxTvdPpm")
        ()
      }
      .start()
  }

  /** Streaming cross-batch near-dup ingest: every micro-batch is
    * [[admitBatch]]ed against the committed band index, survivors land
    * in `outDir/batch=<id>` (overwrite: a replay rewrites them), and
    * their index rows are one [[AppendTable]] append — corpus growth
    * with near-dup admission at O(batch + collisions) per batch.
    * Survivors are written before the append commits, and a replayed
    * batch whose append already committed skips both, so each batch
    * is admitted against exactly the index its first run saw.
    *
    * `compactEvery = Some(n)`: every n-th batch folds the trailing
    * WINDOW of n committed batches (strictly before this one) with
    * [[compactIndex]]. Windowed, not from-zero: a full merge would
    * rewrite the whole index every n batches (quadratic over the
    * stream's life); the window keeps compaction cost ∝ n batches of
    * rows and bounds the part count at ≈ batches/n. Run the unwindowed
    * [[compactIndex]] offline when parts should fold further.
    */
  def nearDupIngest(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String, checkpointDir: String,
      numHashes: Int = 32, bands: Int = 16, threshold: Double = 0.8,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      compactEvery: Option[Int] = None)
      : StreamingQuery = {
    compactEvery.foreach(n => require(n >= 2,
      s"compactEvery=$n: compacting every batch just rewrites the index"))
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
    trigger.foreach(writer.trigger)
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val ix = new AppendTable(spark, indexDir)
        if (!ix.applied(batchId)) {
          val (survivors, idxRows) = admitBatch(
            batch, ix.read(), idCol, textCol, numHashes, bands, threshold)
          survivors.write.mode("overwrite")
            .parquet(s"$outDir/batch=$batchId")
          ix.append(idxRows, batchId)
        }
        compactEvery.foreach { n =>
          if (batchId > 0 && batchId % n == 0)
            compactIndex(spark, indexDir, upToBatch = batchId - 1,
              fromBatch = batchId - n)
        }
      }
      .start()
  }

  /** [[nearDupIngest]]'s winnowing sibling: every micro-batch is
    * [[admitBatchWinnow]]ed against the committed fingerprint index,
    * survivors land in `outDir`, and their index rows are appended —
    * corpus growth with SPAN-MATCH admission at O(batch + collisions)
    * per batch, completing [[graft.ops.Winnowing.winnowIndex]]'s
    * production lifecycle (build → append → probe → compact).
    *
    * Same publish protocol and in-loop compaction as [[nearDupIngest]].
    * Index rows are appended h-SORTED (each part is one
    * range-clustered file, and compaction keeps the order via
    * `sortCol` — the row-group-pruning layout
    * [[graft.ops.Winnowing.writeWinnowIndex]] enforces for the offline
    * form), and the index dir carries the (k, w) params sidecar, so a
    * restart with different params fails loudly.
    */
  def winnowIngest(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String, checkpointDir: String,
      k: Int = 4, w: Int = 4, minShared: Long = 3, maxDf: Int = 64,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      compactEvery: Option[Int] = None)
      : StreamingQuery = {
    compactEvery.foreach(n => require(n >= 2,
      s"compactEvery=$n: compacting every batch just rewrites the index"))
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
    trigger.foreach(writer.trigger)
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val ix = new AppendTable(spark, indexDir)
        val idxPath = new org.apache.hadoop.fs.Path(indexDir)
        val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // params guard, once per batch at O(1): the sidecar (written
        // below after the first append) proves the whole index's
        // (k, w), so the probe skips the DataFrame-form distinct-params
        // scan that would otherwise touch the FULL index every
        // micro-batch
        val sidecar = graft.ops.Winnowing.readParamsSidecar(fs, idxPath)
        sidecar.foreach(p => require(p == s"$k:$w",
          s"winnowIngest: index at $indexDir carries params {$p} but " +
            s"this stream uses $k:$w — restarted with different " +
            "winnowing params?"))
        if (!ix.applied(batchId)) {
          val (survivors, idxRows) = admitBatchWinnow(
            batch, ix.read(), idCol, textCol, k, w, minShared, maxDf,
            validateParams = sidecar.isEmpty)
          survivors.write.mode("overwrite")
            .parquet(s"$outDir/batch=$batchId")
          // one h-sorted file per part: batch fingerprint sets are
          // small (≈ 2/(w+1) of the batch's grams), and the sorted
          // layout keeps row-group h-stats tight from the first write
          ix.append(idxRows.repartitionByRange(1, col("h"))
            .sortWithinPartitions(col("h")), batchId)
        }
        if (sidecar.isEmpty)
          graft.ops.Winnowing.writeParamsSidecar(fs, idxPath, k, w)
        compactEvery.foreach { n =>
          if (batchId > 0 && batchId % n == 0)
            compactIndex(spark, indexDir, upToBatch = batchId - 1,
              fromBatch = batchId - n, sortCol = Some("h"))
        }
      }
      .start()
  }
}
