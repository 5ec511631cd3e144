package graft

import java.nio.file.{Files, Path, Paths}

import graft.stream.DocIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming document-ingest benchmark: the second production loop of
  * the engine — [[graft.stream.DocIngest.nearDupIngest]]'s per-batch
  * minhash → persisted-band-index probe → component admission → index
  * append pipeline under sustained load. [[StreamBench]] covers the
  * CDC replay path; this covers the training-data ingest path. Prints
  * ONE JSON line:
  *
  *   {"metric":"doc_ingest_rows_per_sec","value":…,"batches":…,
  *    "rows":…,"admitted":…,"total_sec":…,"p50_ms":…,"p95_ms":…,…}
  *
  * Workload: the documents fixture split into N equal fresh slices,
  * one micro-batch each; every batch b > 1 additionally re-delivers
  * the previous slice twice — once verbatim under new ids (exact
  * duplicates) and once with an appended token (near-duplicates,
  * 3-gram Jaccard ≈ 0.97) — so ~2/3 of steady-state input is
  * duplicate mass the admission pipeline must reject against the
  * persisted index. Batch volume ≈ 3×slice, corpus growth ∝ fresh
  * docs only.
  *
  * Sanity gates (benchmarking a broken loop is worse than no number):
  *  - the admitted set is exact-duplicate-free (an exact copy of an
  *    ADMITTED doc always has a direct Jaccard-1 edge into the index,
  *    so it can never be admitted — structural invariant);
  *  - every fresh slice id can only be admitted once, and planted
  *    re-delivery ids (≥ 10⁶) are admitted only when their original's
  *    content truly left the index via a chain rejection (counted and
  *    reported as `planted_admitted`). The gate requires EXACTLY 0,
  *    which is a FIXTURE-SPECIFIC invariant, not a general one: here
  *    every planted doc re-delivers the PREVIOUS batch's slice, whose
  *    content is always either admitted or rejected against an
  *    already-indexed near-twin — both leave an index edge the
  *    redelivery hits. A corpus whose organic rejections chain
  *    differently can legitimately admit a near-redelivery; loosen
  *    the gate before pointing this bench at one;
  *  - admitted ∈ [40%, 100%] of fresh docs (the fixture carries
  *    organic near-dups, so admitted < fresh by design).
  */
object DocStreamBench {
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

    val spool = Files.createTempDirectory("graft-dsbench-spool-").toString
    val idxDir = Files.createTempDirectory("graft-dsbench-idx-").toString + "/ix"
    val outDir = Files.createTempDirectory("graft-dsbench-out-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-dsbench-ckpt-").toString

    // ---- untimed setup: pre-write one spool file per batch ----
    // batch-volume lever (the CDC loop's SPARK_GRAFT_STREAM_SCALE,
    // here for admission): `scale` id-shifted fixture copies, each
    // copy's TOKENS prefixed with a copy tag so copies share ZERO
    // shingles — cross-copy content stays organically independent and
    // the admission semantics (near-dup structure WITHIN a copy) are
    // unchanged. Answers whether the recorded rows/sec is fixed-
    // overhead-bound (throughput rises with batch volume) or
    // pair-graph-bound (it doesn't).
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
    // the planted-redelivery id spaces (+10⁶·b exact, +2·10⁶·b near)
    // and every sanity gate below assume fresh ids < 10⁶; a larger
    // fixture (or scale) would alias planted ids into the fresh space
    // and flip the gates' meaning — fail the setup loudly instead
    val maxDocId = docs.agg(max(col("doc_id"))).head().getLong(0)
    require(maxDocId < 1000000L,
      s"DocStreamBench id-space assumption violated: max doc_id $maxDocId " +
        ">= 1e6 collides with the planted-redelivery offsets; use a smaller " +
        "fixture/scale or raise the offsets together with the gates")
    val perBatch = math.max(1L, total / nBatches)
    (1 to nBatches).foreach { b =>
      val lo = (b - 1).toLong * perBatch
      val hi = if (b == nBatches) Long.MaxValue else b.toLong * perBatch
      val fresh = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val prev = docs.filter(
        col("doc_id") >= lo - perBatch && col("doc_id") < lo)
      val near = prev.select(
        (col("doc_id") + 1000000L * b).as("doc_id"),
        concat(col("text"), lit(" redelivery")).as("text"))
      val exact = prev.select(
        (col("doc_id") + 2000000L * b).as("doc_id"), col("text"))
      val dir = s"$spool/b$b"
      fresh.unionByName(near).unionByName(exact)
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
    val q = DocIngest.nearDupIngest(stream, "doc_id", "text",
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
    val dupFps = admitted
      .groupBy(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .count().filter(col("count") > 1).limit(1).count()
    val plantedAdmitted =
      admitted.filter(col("doc_id") >= 1000000L).count()
    val freshAdmittedDupIds = admitted.filter(col("doc_id") < 1000000L)
      .groupBy(col("doc_id")).count().filter(col("count") > 1)
      .limit(1).count()
    val ok = dupFps == 0L && freshAdmittedDupIds == 0L &&
      plantedAdmitted == 0L &&
      nAdmitted >= (total * 2) / 5 && nAdmitted <= total &&
      progress.size == nBatches

    // ---- index-maintenance economics (post-run; the stream is done,
    // so every batch is committed and compaction is safe) ----
    // One part per micro-batch is the small-file decay compaction
    // exists for; record its cost and what a probe gains from it.
    val index = new graft.stream.AppendTable(spark, idxDir)
    // (parts the committed index reads, their parquet files, version
    // dirs on disk — vacuum keeps one superseded version for readers)
    def indexStats(): (Int, Int, Long) = {
      val parts = index.parts().map(p => new java.io.File(p._1))
      val onDisk = {
        val s = Files.walk(Paths.get(idxDir), 2)
        try s.filter(_.getFileName.toString.startsWith("v=")).count()
        finally s.close()
      }
      (parts.length, parts.map(d =>
        d.listFiles().count(_.getName.endsWith(".parquet"))).sum, onDisk)
    }
    // probe: near-dups of the first slice under fresh ids — the
    // steady-state admission shape (mostly rejections via the index)
    val probeBatch = docs.filter(col("doc_id") < perBatch)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat(col("text"), lit(" probetail")).as("text"))
      .localCheckpoint() // materialize: probe timings measure the PROBE
    def timeProbe(): (Double, Long) = {
      System.gc()
      val t = System.nanoTime()
      val (surv, _) = DocIngest.admitBatch(probeBatch, index.read(),
        "doc_id", "text")
      val n = surv.count()
      ((System.nanoTime() - t) / 1e9, n)
    }
    val (dirsBefore, filesBefore, _) = indexStats()
    val (probeBeforeSec, survBefore) = timeProbe()
    System.gc()
    val tc = System.nanoTime()
    val merged = DocIngest.compactIndex(spark, idxDir,
      upToBatch = progress.map(_.batchId).max)
    val compactSec = (System.nanoTime() - tc) / 1e9
    val (dirsAfter, filesAfter, dirsOnDisk) = indexStats()
    val (probeAfterSec, survAfter) = timeProbe()
    val compactOk = merged == dirsBefore && dirsAfter == 1 &&
      survAfter == survBefore

    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val line =
      s"""{"metric":"doc_ingest_rows_per_sec","value":${fmt(inputRows / totalSec)},""" +
        s""""unit":"rows/sec","batches":${progress.size},"rows":$inputRows,""" +
        s""""admitted":$nAdmitted,"planted_admitted":$plantedAdmitted,""" +
        s""""total_sec":${fmt(totalSec)},"wall_sec":${fmt(wallSec)},""" +
        s""""p50_ms":${pct(0.5)},"p95_ms":${pct(0.95)},""" +
        s""""index_dirs_before":$dirsBefore,"index_files_before":$filesBefore,""" +
        s""""index_dirs_after":$dirsAfter,"index_files_after":$filesAfter,""" +
        s""""index_dirs_on_disk":$dirsOnDisk,""" +
        s""""compact_sec":${fmt(compactSec)},""" +
        s""""probe_before_sec":${fmt(probeBeforeSec)},""" +
        s""""probe_after_sec":${fmt(probeAfterSec)},""" +
        s""""compact_consistent":$compactOk,""" +
        s""""failed":${!(ok && compactOk)},"scale":$scale,"sf":"$sfDir"}"""
    java.nio.file.Files.write(Paths.get("DOCSTREAMBENCH_DETAIL.json"),
      line.getBytes("UTF-8"))
    println(line)
    spark.stop()
    if (!(ok && compactOk)) sys.exit(1)
  }
}
