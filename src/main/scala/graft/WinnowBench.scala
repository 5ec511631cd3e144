package graft

import java.nio.file.{Files, Path, Paths}

import graft.ops.{DataSkipping, TextAnalysis, Winnowing}
import graft.stream.DocIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Winnow-index production-lifecycle benchmark — the measured
  * economics the band index already has ([[DocStreamBench]]), applied
  * to the winnowing family: [[graft.stream.DocIngest.winnowIngest]]'s
  * per-batch fingerprint → persisted-index probe → component admission
  * → h-sorted append loop under sustained load, then the two
  * maintenance questions an operator prices:
  *
  *  1. the PARTS/PROBE-COST CURVE: how much does a fragmented index
  *     (one part per micro-batch) cost a probe, and what does windowed
  *     compaction buy — probe latency measured at the post-run dir
  *     count, after a half compaction, and after a full compaction;
  *  2. the PRUNED-PROBE benefit: the same probe against a
  *     [[graft.ops.Winnowing.writeWinnowIndex]]-persisted fleet
  *     (h-range-clustered + stats manifest) through
  *     [[graft.ops.Winnowing.incrementalWinnowPairsPruned]], reporting
  *     files opened vs fleet size with a pairs-identical gate.
  *
  * Prints ONE JSON line:
  *   {"metric":"winnow_ingest_rows_per_sec","value":…,"batches":…,
  *    "rows":…,"admitted":…,"echo_admitted":…,"p50_ms":…,
  *    "probe_curve":[{"dirs":…,"sec":…},…],"compact_sec":…,
  *    "pruned_files_kept":…,"pruned_files_total":…,
  *    "probe_full_sec":…,"probe_pruned_sec":…,"failed":…}
  *
  * Workload: the documents fixture split into N fresh slices, one
  * micro-batch each; every batch b > 1 additionally re-delivers the
  * previous slice VERBATIM under new ids (≥ 10⁶) — a verbatim copy
  * shares every fingerprint with its original, so winnowing admission
  * must reject it WHENEVER rejection is structurally possible. The
  * floor: a doc with fewer than `minShared` rare (df ≤ maxDf)
  * fingerprints can never accumulate n_shared ≥ minShared, so its
  * echo is undetectable BY CONSTRUCTION (winnowing's guarantee is
  * per-run-of-w+k−1-tokens; a 10-token doc has at most a couple of
  * fingerprints). Gate: every admitted echo's original is below that
  * floor (`echo_violations == 0`), with the slip count reported.
  * Fresh docs carry organic span-dups (the fixture has templated
  * text), so admitted ∈ [40%, 100%] of fresh.
  */
object WinnowBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nBatches = sys.env.get("SPARK_GRAFT_STREAM_BATCHES")
      .flatMap(_.toIntOption).getOrElse(20)
    val defaultCpus = math.min(Runtime.getRuntime.availableProcessors(), 32)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates",
        (nBatches + 10).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val spool = Files.createTempDirectory("graft-wbench-spool-").toString
    val idxDir = Files.createTempDirectory("graft-wbench-idx-").toString + "/ix"
    val outDir = Files.createTempDirectory("graft-wbench-out-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-wbench-ckpt-").toString

    // ---- untimed setup: one spool file per batch ----
    // batch-volume lever (the DocStreamBench SPARK_GRAFT_STREAM_SCALE
    // discipline): `scale` id-shifted fixture copies, each copy's
    // TOKENS prefixed with a copy tag so copies share ZERO grams —
    // and therefore zero winnowing fingerprints: cross-copy content
    // stays independent, admission semantics (span structure WITHIN a
    // copy) unchanged. Answers whether the recorded rows/sec is
    // fixed-overhead-bound (throughput rises with batch volume) or
    // probe/pair-graph-bound (it doesn't).
    val scale = sys.env.get("SPARK_GRAFT_STREAM_SCALE")
      .flatMap(_.toIntOption).getOrElse(1)
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val baseMax = base.agg(max(col("doc_id"))).head().getLong(0)
    val docs = (0 until scale).map { s =>
      if (s == 0) base
      else base.select((col("doc_id") + s * (baseMax + 1)).as("doc_id"),
        regexp_replace(col("text"), "\\S+", s"c${s}_$$0").as("text"))
    }.reduce(_ unionByName _)
    val total = docs.count()
    val maxDocId = docs.agg(max(col("doc_id"))).head().getLong(0)
    require(maxDocId < 1000000L,
      s"WinnowBench id-space assumption violated: max doc_id $maxDocId " +
        ">= 1e6 collides with the echo-redelivery offsets")
    val perBatch = math.max(1L, total / nBatches)
    (1 to nBatches).foreach { b =>
      val lo = (b - 1).toLong * perBatch
      val hi = if (b == nBatches) Long.MaxValue else b.toLong * perBatch
      val fresh = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val echo = docs
        .filter(col("doc_id") >= lo - perBatch && col("doc_id") < lo)
        .select((col("doc_id") + 1000000L * b).as("doc_id"), col("text"))
      val dir = s"$spool/b$b"
      fresh.unionByName(echo)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val part = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $dir"))
      val target = Paths.get(s"$spool/batch_$b.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 60000L))
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
    val inputRows = spark.read.parquet(s"$spool/batch_*.parquet").count()

    spark.range(1 << 20).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    System.gc()

    // ---- timed region: the streaming admission loop ----
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(spool)
    val t0 = System.nanoTime()
    val q = DocIngest.winnowIngest(stream, "doc_id", "text",
      idxDir, outDir, ckpt, trigger = Some(Trigger.AvailableNow()))
    q.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(throw _)

    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val durs = progress.map(_.durationMs.get("triggerExecution").toLong).sorted
    def pct(p: Double): Long =
      if (durs.isEmpty) -1L
      else durs(math.min(durs.size - 1, math.ceil(p * durs.size).toInt - 1).max(0))
    val totalSec = durs.sum / 1e3

    // ---- sanity gates ----
    val admitted = spark.read.parquet(outDir)
    val nAdmitted = admitted.count()
    val echoAdmitted = admitted.filter(col("doc_id") >= 1000000L).count()
    // detectability floor: docs with ≥ minShared(3) fingerprints that
    // are rare (df ≤ 64) over the FULL corpus — df only grows as the
    // stream runs, so full-corpus-detectable ⇒ detectable at every
    // batch, making `violations == 0` a sound one-directional gate
    val fps = TextAnalysis.winnowingFingerprints(docs, "doc_id", "text",
        4, 4).select(col("id"), col("h")).distinct()
      .localCheckpoint(eager = false) // feeds the df agg AND the join
    val rareH = fps.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64).select(col("h"))
    val detectable = fps.join(rareH, Seq("h"))
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)
      .select(col("id").as("doc_id"))
    val echoViolations = admitted.filter(col("doc_id") >= 1000000L)
      .select(pmod(col("doc_id"), lit(1000000L)).as("doc_id")).distinct()
      .join(detectable, Seq("doc_id"), "left_semi")
      .count()
    val ok = echoViolations == 0L &&
      nAdmitted >= (total * 2) / 5 && nAdmitted <= total &&
      progress.size == nBatches

    // ---- economics 1: the dirs/probe-cost curve ----
    // probe batch: verbatim redeliveries of the first slice (the
    // steady-state shape — all rejections via the index). The id
    // offset sits one slot PAST the highest echo slot (echo ids are
    // doc_id + 1_000_000·b, b < nBatches; doc_ids < 1_000_000 by the
    // guard above), so probe ids can never collide with index rows at
    // ANY nBatches — a fixed constant would alias batch
    // ⌊const/1e6⌋'s echoes once nBatches reached it, violating the
    // probe's id-disjointness precondition and skewing pair counts.
    val probeBatch = docs.filter(col("doc_id") < perBatch)
      .select((col("doc_id") + lit(1000000L * (nBatches + 1)))
        .as("doc_id"), col("text"))
      .localCheckpoint() // timings must measure the PROBE
    val index = new graft.stream.AppendTable(spark, idxDir)
    def indexDirs(): Int = index.parts().size
    def timeProbe(): (Double, Long) = {
      System.gc()
      val t = System.nanoTime()
      val n = Winnowing.incrementalWinnowPairs(probeBatch, index.read().get,
        "doc_id", "text").count()
      ((System.nanoTime() - t) / 1e9, n)
    }
    val maxBatch = progress.map(_.batchId).max
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val (p0, pairs0) = timeProbe()
    curve += ((indexDirs(), p0))
    // half compaction: fold the first half of the stream's dirs
    DocIngest.compactIndex(spark, idxDir, upToBatch = maxBatch / 2,
      sortCol = Some("h"))
    val (p1, pairs1) = timeProbe()
    curve += ((indexDirs(), p1))
    // full compaction
    System.gc()
    val tc = System.nanoTime()
    DocIngest.compactIndex(spark, idxDir, upToBatch = maxBatch,
      sortCol = Some("h"))
    val compactSec = (System.nanoTime() - tc) / 1e9
    val (p2, pairs2) = timeProbe()
    curve += ((indexDirs(), p2))
    val curveOk = pairs0 == pairs1 && pairs1 == pairs2 && pairs0 > 0

    // ---- economics 2: the pruned-probe benefit ----
    // persist the full index as an h-range-clustered fleet + manifest
    val fleetDir = Files.createTempDirectory("graft-wbench-fleet-")
      .toString + "/ix"
    val fullIndex = index.read().get
    Winnowing.writeWinnowIndex(spark, fullIndex, fleetDir, nFiles = 64)
    // a NARROW probe (one doc) — the needle-lookup shape pruning serves
    // same headroom rule as the probe batch: one slot past the probe
    // batch's, so neither echoes nor the curve probe can alias it
    val needle = docs.filter(col("doc_id") === 3L)
      .select((col("doc_id") + lit(1000000L * (nBatches + 2)))
        .as("doc_id"), col("text"))
      .localCheckpoint()
    val keys = TextAnalysis.winnowingFingerprints(needle, "doc_id", "text",
      4, 4).select(col("h")).distinct().collect().map(_.getLong(0))
    val (keptFiles, totalFiles) = DataSkipping.prunedFilesForKeys(
      spark, fleetDir, "h", keys.toSeq)
    System.gc()
    val tf = System.nanoTime()
    val fullPairs = Winnowing.incrementalWinnowPairs(needle,
      spark.read.parquet(fleetDir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val probeFullSec = (System.nanoTime() - tf) / 1e9
    System.gc()
    val tp = System.nanoTime()
    val prunedPairs = Winnowing.incrementalWinnowPairsPruned(spark, needle,
      fleetDir, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val probePrunedSec = (System.nanoTime() - tp) / 1e9
    val prunedOk = prunedPairs == fullPairs && fullPairs.nonEmpty &&
      keptFiles.size < totalFiles

    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val curveJson = curve.map { case (d, s) =>
      s"""{"dirs":$d,"sec":${fmt(s)}}""" }.mkString("[", ",", "]")
    val line =
      s"""{"metric":"winnow_ingest_rows_per_sec","value":${fmt(inputRows / totalSec)},""" +
        s""""unit":"rows/sec","batches":${progress.size},"rows":$inputRows,""" +
        s""""admitted":$nAdmitted,"echo_admitted":$echoAdmitted,""" +
        s""""echo_violations":$echoViolations,""" +
        s""""total_sec":${fmt(totalSec)},"wall_sec":${fmt(wallSec)},""" +
        s""""p50_ms":${pct(0.5)},"p95_ms":${pct(0.95)},""" +
        s""""probe_curve":$curveJson,"probe_pairs":$pairs0,""" +
        s""""compact_sec":${fmt(compactSec)},""" +
        s""""pruned_files_kept":${keptFiles.size},""" +
        s""""pruned_files_total":$totalFiles,"needle_hashes":${keys.length},""" +
        s""""probe_full_sec":${fmt(probeFullSec)},""" +
        s""""probe_pruned_sec":${fmt(probePrunedSec)},""" +
        s""""failed":${!(ok && curveOk && prunedOk)},"scale":$scale,""" +
        s""""sf":"$sfDir"}"""
    java.nio.file.Files.write(Paths.get("WINNOWBENCH_DETAIL.json"),
      line.getBytes("UTF-8"))
    println(line)
    spark.stop()
    if (!(ok && curveOk && prunedOk)) sys.exit(1)
  }
}
