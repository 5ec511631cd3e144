package graft

import java.sql.Timestamp

import graft.stream.{AppendTable, DocIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class DocIngestSpec extends SparkSpec with StreamCrash {
  import spark.implicits._

  /** The committed rows of an index or register directory. */
  private def committed(dir: String): DataFrame =
    new AppendTable(spark, dir).read().get

  case class Doc(doc_id: Long, ts: Timestamp, text: String)

  private val base = 1699999980000L
  private def ts(sec: Long) = new Timestamp(base + sec * 1000)

  test("streaming ingest: quality floor + content dedup + windowed throughput") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val cleaned = DocIngest.clean(mem.toDF(), "ts", "text")
    val q = DocIngest.throughput(cleaned, "ts")
      .writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append()).start()

    mem.addData(
      Doc(1, ts(0), "alpha beta gamma delta"),   // admitted, 4 tokens
      Doc(2, ts(5), "too short"),                // dropped: 2 < 3 tokens
      Doc(3, ts(10), "alpha beta gamma delta"),  // dropped: duplicate of 1
      Doc(4, ts(40), "epsilon zeta eta"))        // admitted in next window
    q.processAllAvailable()
    // push the watermark past both windows so they close and emit
    mem.addData(Doc(99, ts(1000), "filler doc three tokens"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ingest")
      .select(col("window_start").cast("long") - base / 1000,
        col("n_docs"), col("n_tokens"))
      .as[(Long, Long, Long)].collect().toSet
    assert(rows.contains((0L, 1L, 4L)),
      s"first window should hold only doc 1 (dup + low-quality dropped): $rows")
    assert(rows.contains((30L, 1L, 3L)), s"second window should hold doc 4: $rows")
  }

  case class RawDoc(doc_id: Long, text: String)

  test("nearDupIngest: cross-batch near-dups dropped via the persisted index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString
    val mem = MemoryStream[RawDoc]
    val q = DocIngest.nearDupIngest(mem.toDF(), "doc_id", "text",
      s"$dir/index", s"$dir/out", s"$dir/ckpt")

    // batch 0: two distinct docs — both admitted
    mem.addData(
      RawDoc(1, "w1 w2 w3 w4 w5 w6 w7 w8"),
      RawDoc(2, "z1 z2 z3 z4 z5 z6 z7 z8"))
    q.processAllAvailable()
    // batch 1: 3 near-dups doc 1 (jaccard 6/7), 5 duplicates 4 in-batch
    mem.addData(
      RawDoc(3, "w1 w2 w3 w4 w5 w6 w7 w8 xtra"),
      RawDoc(4, "u1 u2 u3 u4 u5 u6 u7 u8"),
      RawDoc(5, "u1 u2 u3 u4 u5 u6 u7 u8"))
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 4L), s"admitted: $out")
    val indexed = committed(s"$dir/index")
      .select("id").distinct().as[Long].collect().toSet
    assert(indexed == Set(1L, 2L, 4L), s"indexed: $indexed")
  }

  test("admitBatch: a chain linked to the corpus only via a rejected doc still collapses") {
    import graft.ops.Dedup
    val old = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(old, "doc_id", "text",
      numHashes = 32, bands = 16)
    // 10 ~ corpus doc 1 (j = 6/7); 11 ~ 10 (j = 7/8) but 11 vs 1 is
    // only 6/8 = 0.75 < 0.8 — linked to the corpus through 10 alone
    val batch = Seq(
      (10L, "w1 w2 w3 w4 w5 w6 w7 w8 x1"),
      (11L, "w1 w2 w3 w4 w5 w6 w7 w8 x1 x2"),
      (12L, "q1 q2 q3 q4 q5 q6 q7 q8")).toDF("doc_id", "text")
    val (surv, idx) = DocIngest.admitBatch(batch, Some(index),
      "doc_id", "text", numHashes = 32, bands = 16)
    assert(surv.select("doc_id").as[Long].collect().toSet == Set(12L))
    assert(idx.select("id").distinct().as[Long].collect().toSet == Set(12L))
  }

  test("winnowIngest: cross-batch SPAN matches rejected via the persisted " +
      "h-sorted fingerprint index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("winnowingest").toString
    val mem = MemoryStream[RawDoc]
    val q = DocIngest.winnowIngest(mem.toDF(), "doc_id", "text",
      s"$dir/index", s"$dir/out", s"$dir/ckpt",
      k = 4, w = 4, minShared = 1, maxDf = 64)

    // batch 0: two distinct docs — both admitted
    mem.addData(
      RawDoc(1, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"),
      RawDoc(2, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"))
    q.processAllAvailable()
    // batch 1: doc 3 embeds a 7-token run of doc 1 (guaranteed span
    // match at w+k−1) inside otherwise-fresh text — minhash Jaccard
    // ≈ 7/17 would ADMIT it; docs 4/5 are an in-batch exact pair
    mem.addData(
      RawDoc(3, "c1 c2 a3 a4 a5 a6 a7 a8 a9 c3 c4 c5 c6 c7"),
      RawDoc(4, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12"),
      RawDoc(5, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12"))
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 4L), s"admitted: $out")
    val ix = committed(s"$dir/index")
    assert(ix.select("id").distinct().as[Long].collect().toSet ==
      Set(1L, 2L, 4L))
    // every appended part carries the params stamp and ONE h-sorted file
    assert(ix.select("params").distinct().as[String].collect().toSeq ==
      Seq("4:4"))
    val batchDirs = new AppendTable(spark, s"$dir/index").parts()
      .map(p => new java.io.File(p._1))
    assert(batchDirs.length == 2)
    batchDirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${d.getName}: ${parts.length} files")
      val hs = spark.read.parquet(d.toString).select("h")
        .as[Long].collect().toSeq
      assert(hs == hs.sorted, s"${d.getName} not h-sorted")
    }
    // the stream stamped the O(1) params sidecar, so per-batch probes
    // skip the full-index distinct-params scan
    val idxPath = new org.apache.hadoop.fs.Path(s"$dir/index")
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.ops.Winnowing.readParamsSidecar(fs, idxPath)
      .contains("4:4"))

    // restarting the ingest with DIFFERENT params against the same
    // index must fail loudly at the first batch, not silently match
    // nothing for the existing rows
    val mem2 = MemoryStream[RawDoc]
    val q2 = DocIngest.winnowIngest(mem2.toDF(), "doc_id", "text",
      s"$dir/index", s"$dir/out", s"$dir/ckpt2",
      k = 5, w = 4, minShared = 1, maxDf = 64)
    mem2.addData(RawDoc(9, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    def messages(t: Throwable): String =
      if (t == null) "" else t.toString + messages(t.getCause)
    assert(messages(err).contains("different"), messages(err))
  }

  test("winnowIngest with compactEvery: same admissions, bounded dirs, " +
      "h-order preserved through compaction") {
    implicit val sqlCtx = spark.sqlContext
    def run(compactEvery: Option[Int]): (Set[Long], Int, String) = {
      val dir = java.nio.file.Files.createTempDirectory("winnowcomp").toString
      val mem = MemoryStream[RawDoc]
      val q = DocIngest.winnowIngest(mem.toDF(), "doc_id", "text",
        s"$dir/index", s"$dir/out", s"$dir/ckpt",
        k = 4, w = 4, minShared = 1, maxDf = 64,
        compactEvery = compactEvery)
      (0 until 6).foreach { b =>
        // per batch: one fresh doc + one doc embedding a 7-token run
        // of the PREVIOUS batch's fresh doc (cross-batch rejection)
        val fresh = RawDoc(10L + b,
          (0 until 12).map(j => s"f${b}_$j").mkString(" "))
        val echo =
          if (b == 0) Seq.empty
          else Seq(RawDoc(100L + b, "e1 e2 " +
            (3 until 10).map(j => s"f${b - 1}_$j").mkString(" ") +
            s" e3_$b e4 e5 e6"))
        mem.addData(fresh +: echo: _*)
        q.processAllAvailable()
      }
      q.stop()
      val out = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSet
      (out, new AppendTable(spark, s"$dir/index").parts().size, s"$dir/index")
    }
    val (plain, plainDirs, _) = run(None)
    val (compacted, compDirs, compIdx) = run(Some(2))
    assert(compacted == plain, s"admissions must not change: " +
      s"$compacted vs $plain")
    assert(plain == (10L until 16L).toSet, s"only fresh docs admitted: $plain")
    assert(compDirs < plainDirs,
      s"compaction must bound dirs: $compDirs !< $plainDirs")
    // order-preserving compaction: every surviving parquet file —
    // merged or fresh — is individually h-sorted
    val parts = new AppendTable(spark, compIdx).parts()
      .flatMap(p => new java.io.File(p._1).listFiles()
        .filter(_.getName.endsWith(".parquet")))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val hs = spark.read.parquet(p.toString).select("h")
        .as[Long].collect().toSeq
      assert(hs == hs.sorted, s"$p not h-sorted after compaction")
    }
  }

  test("streaming ingest: duplicate content beyond the watermark is re-admitted") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = DocIngest.clean(mem.toDF(), "ts", "text", watermark = "10 seconds")
      .writeStream.format("memory").queryName("ingest2")
      .outputMode(OutputMode.Append()).start()

    mem.addData(Doc(1, ts(0), "alpha beta gamma delta"))
    q.processAllAvailable()
    // advance the watermark well past ts(0) + 10 s, evicting doc 1's state
    mem.addData(Doc(2, ts(120), "unrelated filler document text"))
    q.processAllAvailable()
    // same content again: state was evicted, so it is admitted anew
    mem.addData(Doc(3, ts(125), "alpha beta gamma delta"))
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("ingest2").select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L),
      s"doc 3 should be re-admitted after state eviction: $ids")
  }

  test("compactIndex: one part, same rows, same admissions; a refold is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val mem = MemoryStream[RawDoc]
    val q = DocIngest.nearDupIngest(mem.toDF(), "doc_id", "text",
      s"$dir/index", s"$dir/out", s"$dir/ckpt")
    mem.addData(RawDoc(1, "w1 w2 w3 w4 w5 w6 w7 w8"))
    q.processAllAvailable()
    mem.addData(RawDoc(2, "z1 z2 z3 z4 z5 z6 z7 z8"))
    q.processAllAvailable()
    mem.addData(RawDoc(3, "y1 y2 y3 y4 y5 y6 y7 y8"))
    q.processAllAvailable()
    q.stop()

    def rows() = committed(s"$dir/index").collect().map(_.toString).sorted.toSeq
    val before = rows()
    assert(DocIngest.compactIndex(spark, s"$dir/index", upToBatch = 2L) == 3)
    val parts = new AppendTable(spark, s"$dir/index").parts()
    assert(parts.map(_._2) == Seq(0L), s"expected one compacted part: $parts")
    assert(rows() == before, "compaction must preserve the rows exactly")
    assert(DocIngest.compactIndex(spark, s"$dir/index", upToBatch = 2L) == 0)

    // probe the compacted index exactly as batch 3 would: a near-dup
    // of doc 1 (admitted in batch 0) must still be rejected
    val probe = Seq((10L, "w1 w2 w3 w4 w5 w6 w7 w8 x1")).toDF("doc_id", "text")
    val (surv, _) = DocIngest.admitBatch(probe,
      Some(committed(s"$dir/index")), "doc_id", "text")
    assert(surv.isEmpty, "near-dup of a compacted-index doc must be rejected")
  }

  test("sketchStream: merged streaming registers ≡ one-shot batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sketch").toString
    val mem = MemoryStream[RawDoc]
    val measure = graft.ops.TextAnalysis.tokenCount(col("text"))
    val q = DocIngest.sketchStream(mem.toDF(), measure, Seq.empty,
      s"$dir/sk", s"$dir/ckpt", subBits = 4)
    val b1 = Seq(RawDoc(1, "a b c"), RawDoc(2, (1 to 40).mkString(" ")))
    val b2 = Seq(RawDoc(3, "x"), RawDoc(4, (1 to 40).mkString(" ")),
      RawDoc(5, (1 to 500).mkString(" ")))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val merged = DocIngest.mergedSketch(spark, s"$dir/sk", Seq.empty)
    val oneShot = graft.ops.Sketches.logHistogram(
      (b1 ++ b2).map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
      Seq.empty, measure, subBits = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket", "count").as[(Long, Long)].collect().toSet
    assert(rows(merged) == rows(oneShot), "merge-on-read must equal batch")
    // quantile readout identical through either path
    val ps = Seq("p50" -> 0.5, "p99" -> 0.99)
    val qm = graft.ops.Sketches.logHistQuantiles(merged, Seq.empty, 4, ps)
      .as[(Long, Long)].head()
    val qb = graft.ops.Sketches.logHistQuantiles(oneShot, Seq.empty, 4, ps)
      .as[(Long, Long)].head()
    assert(qm == qb && qm._1 > 0L, s"$qm vs $qb")
  }

  test("nearDupIngest with compactEvery: same admissions, bounded index dirs") {
    implicit val sqlCtx = spark.sqlContext
    def run(compactEvery: Option[Int]): (Set[Long], Int) = {
      val dir = java.nio.file.Files.createTempDirectory("autoc").toString
      val mem = MemoryStream[RawDoc]
      val q = DocIngest.nearDupIngest(mem.toDF(), "doc_id", "text",
        s"$dir/index", s"$dir/out", s"$dir/ckpt",
        compactEvery = compactEvery)
      // 5 batches; batch 3 redelivers batch-0 content (near-dup) so a
      // post-compaction probe decides a real rejection
      val batches = Seq(
        Seq(RawDoc(1, "w1 w2 w3 w4 w5 w6 w7 w8")),
        Seq(RawDoc(2, "z1 z2 z3 z4 z5 z6 z7 z8")),
        Seq(RawDoc(3, "y1 y2 y3 y4 y5 y6 y7 y8")),
        Seq(RawDoc(4, "w1 w2 w3 w4 w5 w6 w7 w8 x1"), // ~doc 1: reject
          RawDoc(5, "v1 v2 v3 v4 v5 v6 v7 v8")),
        Seq(RawDoc(6, "u1 u2 u3 u4 u5 u6 u7 u8")))
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val admitted = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSet
      (admitted, new AppendTable(spark, s"$dir/index").parts().size)
    }
    val (plain, plainDirs) = run(None)
    val (auto, autoDirs) = run(Some(2))
    assert(plain == auto, s"compaction changed admissions: $plain vs $auto")
    assert(plain == Set(1L, 2L, 3L, 5L, 6L), plain.toString)
    // windowed merges: batch 2 folds [0,1] into one part, batch 4
    // folds [2,3], batch 4's part stays — ≈ batches/N parts, and no
    // merge ever rewrote the whole index
    assert(plainDirs == 5 && autoDirs == 3,
      s"expected windowed compaction dirs: $autoDirs vs $plainDirs")
  }

  private val rawSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  /** A 4-file doc spool; batches 2 and 3 re-deliver batch 0 and 1
    * content, so the crash windows decide real rejections. */
  private def docSpool(files: Seq[Seq[(Long, String)]]): String = {
    val spool = java.nio.file.Files.createTempDirectory("spool").toString
    files.zipWithIndex.foreach { case (rows, i) =>
      addSpoolFile(spool, i + 1, rows.toDF("doc_id", "text"))
    }
    spool
  }

  /** (admitted ids, committed index rows) of one ingest run over
    * `spool` with in-loop compaction every 2 batches, crashing once
    * at `failpoint`. */
  private def ingestRun(spool: String, failpoint: Option[(Long, String)])
      (ingest: (DataFrame, String, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery)
      : (Seq[Long], Seq[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("crash").toString
    runCrashing(s"$dir/index", failpoint) { () =>
      ingest(spark.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", 1).parquet(spool),
        s"$dir/index", s"$dir/out", s"$dir/ckpt")
    }
    (spark.read.parquet(s"$dir/out").select("doc_id").as[Long]
      .collect().sorted.toSeq,
      committed(s"$dir/index").collect().map(_.toString).sorted.toSeq)
  }

  test("band index: a crash before or after each append and compaction " +
      "commit ends with the uninterrupted admissions and index rows") {
    import org.apache.spark.sql.streaming.Trigger
    val spool = docSpool(Seq(
      Seq(1L -> "w1 w2 w3 w4 w5 w6 w7 w8"),
      Seq(2L -> "z1 z2 z3 z4 z5 z6 z7 z8"),
      Seq(3L -> "y1 y2 y3 y4 y5 y6 y7 y8", 10L -> "w1 w2 w3 w4 w5 w6 w7 w8 x1"),
      Seq(4L -> "v1 v2 v3 v4 v5 v6 v7 v8", 11L -> "z1 z2 z3 z4 z5 z6 z7 z8 x2")))
    def run(fp: Option[(Long, String)]) = ingestRun(spool, fp) {
      (in, ix, out, ckpt) => DocIngest.nearDupIngest(in, "doc_id", "text",
        ix, out, ckpt, trigger = Some(Trigger.AvailableNow()),
        compactEvery = Some(2))
    }
    val clean = run(None)
    assert(clean._1 == Seq(1L, 2L, 3L, 4L), s"admitted: ${clean._1}")
    // batch 1's append, and the fold of batches [0, 1] inside batch 2
    crashPoints(batch = 1L, compactUpTo = 1L).foreach { fp =>
      assert(run(Some(fp)) == clean, s"crash at $fp")
    }
  }

  test("winnow index: a crash before or after each append and compaction " +
      "commit ends with the uninterrupted admissions and index rows") {
    import org.apache.spark.sql.streaming.Trigger
    def fresh(p: String) = (1 to 12).map(j => s"$p$j").mkString(" ")
    def echo(p: String, tag: String) =
      s"$tag ${(3 to 9).map(j => s"$p$j").mkString(" ")} ${tag}x ${tag}y"
    val spool = docSpool(Seq(
      Seq(1L -> fresh("a")),
      Seq(2L -> fresh("b")),
      Seq(3L -> fresh("c"), 10L -> echo("a", "e")),
      Seq(4L -> fresh("d"), 11L -> echo("b", "f"))))
    def run(fp: Option[(Long, String)]) = ingestRun(spool, fp) {
      (in, ix, out, ckpt) => DocIngest.winnowIngest(in, "doc_id", "text",
        ix, out, ckpt, k = 4, w = 4, minShared = 1, maxDf = 64,
        trigger = Some(Trigger.AvailableNow()), compactEvery = Some(2))
    }
    val clean = run(None)
    assert(clean._1 == Seq(1L, 2L, 3L, 4L), s"admitted: ${clean._1}")
    crashPoints(batch = 1L, compactUpTo = 1L).foreach { fp =>
      assert(run(Some(fp)) == clean, s"crash at $fp")
    }
  }

  test("sketch registers: a crash before or after an append or a " +
      "compaction commit never changes or doubles the merged counts") {
    import org.apache.spark.sql.streaming.Trigger
    val spool = docSpool(Seq(
      Seq(1L -> "a b c", 2L -> (1 to 40).mkString(" ")),
      Seq(3L -> "a b c"),
      Seq(4L -> (1 to 40).mkString(" "))))
    val measure = graft.ops.TextAnalysis.tokenCount(col("text"))
    def counts(sk: String) = DocIngest.mergedSketch(spark, sk, Seq.empty)
      .as[(Long, Long)].collect().sorted.toSeq
    def run(fp: Option[(Long, String)]): (String, Seq[(Long, Long)]) = {
      val dir = java.nio.file.Files.createTempDirectory("skcrash").toString
      runCrashing(s"$dir/sk", fp) { () =>
        DocIngest.sketchStream(spark.readStream.schema(rawSchema)
          .option("maxFilesPerTrigger", 1).parquet(spool), measure,
          Seq.empty, s"$dir/sk", s"$dir/ckpt", subBits = 4,
          trigger = Some(Trigger.AvailableNow()))
      }
      (s"$dir/sk", counts(s"$dir/sk"))
    }
    val (_, clean) = run(None)
    Seq(1L -> "append_staged", 1L -> "append_committed").foreach { fp =>
      assert(run(Some(fp))._2 == clean, s"crash at $fp")
    }
    // the offline compaction, crashed at each side of its commit, then
    // re-run: counts are the uninterrupted ones at every step
    Seq("compact_staged", "compact_committed").foreach { point =>
      val (sk, _) = run(None)
      AppendTable.failpoint = Some((sk, 2L, point))
      val e = intercept[IllegalStateException](
        DocIngest.compactSketch(spark, sk, upToBatch = 2L))
      assert(e.getMessage.contains("failpoint"), e.getMessage)
      assert(counts(sk) == clean, s"after a crash at $point")
      DocIngest.compactSketch(spark, sk, upToBatch = 2L)
      assert(counts(sk) == clean, s"after recovering from $point")
      assert(new AppendTable(spark, sk).parts().size == 1)
    }
  }

  test("compactSketch: counts add into one part; the sources leave in the same commit") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sksum").toString
    val mem = MemoryStream[RawDoc]
    val measure = graft.ops.TextAnalysis.tokenCount(col("text"))
    val q = DocIngest.sketchStream(mem.toDF(), measure, Seq.empty,
      s"$dir/sk", s"$dir/ckpt", subBits = 4)
    mem.addData(RawDoc(1, "a b c"), RawDoc(2, (1 to 40).mkString(" ")))
    q.processAllAvailable()
    mem.addData(RawDoc(3, "a b c"))
    q.processAllAvailable()
    mem.addData(RawDoc(4, (1 to 40).mkString(" ")))
    q.processAllAvailable()
    q.stop()
    def rows() = DocIngest.mergedSketch(spark, s"$dir/sk", Seq.empty)
      .as[(Long, Long)].collect().toSet
    val before = rows()
    val regs = new AppendTable(spark, s"$dir/sk")
    assert(regs.parts().map(_._2) == Seq(0L, 1L, 2L))
    assert(DocIngest.compactSketch(spark, s"$dir/sk", upToBatch = 2L) == 3)
    assert(regs.parts().map(_._2) == Seq(0L), s"one compacted part: ${regs.parts()}")
    assert(rows() == before, "compaction must preserve merged counts")
    // the folded register rows are the summed counts, one row per bucket
    assert(committed(s"$dir/sk").count() == before.size.toLong)
    assert(DocIngest.compactSketch(spark, s"$dir/sk", upToBatch = 2L) == 0)
  }

  case class LangDoc(doc_id: Long, lang: String)

  test("driftGate: metrics per batch; strict mode kills AFTER recording the violation") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(("en", 3L), ("de", 1L)).toDF("bucket", "n_ref")

    // non-strict: a drifted batch is recorded but the stream survives
    val dir1 = java.nio.file.Files.createTempDirectory("drift1").toString
    val mem1 = MemoryStream[LangDoc]
    val q1 = DocIngest.driftGate(mem1.toDF(), col("lang"), ref,
      s"$dir1/metrics", s"$dir1/ckpt", maxTvdPpm = 100000L)
    // batch 0 matches the reference mix exactly; batch 1 is all-French
    mem1.addData(LangDoc(1, "en"), LangDoc(2, "en"), LangDoc(3, "en"),
      LangDoc(4, "de"))
    q1.processAllAvailable()
    mem1.addData(LangDoc(5, "fr"), LangDoc(6, "fr"))
    q1.processAllAvailable()
    assert(q1.isActive, "non-strict gate must not kill the stream")
    q1.stop()
    val m1 = spark.read.parquet(s"$dir1/metrics")
      .select("batch", "n_docs", "tvd_ppm")
      .as[(Long, Long, Option[Long])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(m1(0L) == ((4L, Some(0L))), s"matched batch: ${m1(0L)}")
    assert(m1(1L) == ((2L, Some(1000000L))), s"disjoint batch: ${m1(1L)}")

    // strict: the same drifted batch records its metrics row, THEN dies
    val dir2 = java.nio.file.Files.createTempDirectory("drift2").toString
    val mem2 = MemoryStream[LangDoc]
    val q2 = DocIngest.driftGate(mem2.toDF(), col("lang"), ref,
      s"$dir2/metrics", s"$dir2/ckpt", maxTvdPpm = 100000L, strict = true)
    mem2.addData(LangDoc(1, "en"), LangDoc(2, "en"), LangDoc(3, "en"),
      LangDoc(4, "de"))
    q2.processAllAvailable()
    mem2.addData(LangDoc(5, "fr"), LangDoc(6, "fr"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    def rootCauses(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: rootCauses(x.getCause))
    assert(rootCauses(ex).exists(_.isInstanceOf[graft.ddl.KillSwitchException]),
      s"expected KillSwitchException in the cause chain: $ex")
    val m2 = spark.read.parquet(s"$dir2/metrics")
      .select("batch", "tvd_ppm").as[(Long, Option[Long])].collect().toMap
    assert(m2(1L) == Some(1000000L),
      s"the killing batch's violation must be recorded first: $m2")
  }
}
