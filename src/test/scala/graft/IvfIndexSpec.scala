package graft

import graft.ops.{IvfIndex, KMeans}
import org.apache.spark.sql.functions._

/** Persisted-IVF lifecycle: build ≡ the direct trained path, appends
  * are frozen-codebook and findable, and the probe prunes the
  * postings read to the probed cells' directories.
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // deterministic 8-dim vectors, enough spread for 8 distinct cells
  private def vec(id: Long): Seq[Double] =
    Seq.tabulate(8)(j => ((id * (j + 3)) % 17).toDouble / 4.0)

  private lazy val corpus = (0L until 60L).map(i => (i, vec(i)))
    .toDF("vec_id", "embedding")

  private def tmpDir(tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_ivfidx_${tag}_" +
      spark.sparkContext.applicationId

  test("build + query ≡ ivfTrainedTopK on the same corpus and params") {
    val dir = tmpDir("eq")
    IvfIndex.build(corpus, "vec_id", "embedding", dir,
      kCells = 8, iters = 2)
    val queries = corpus.filter(col("vec_id") < 10)
    val fromIndex = IvfIndex.query(queries, "vec_id", "embedding", dir,
      topK = 3, nProbe = 2)
      .as[(Long, Int, Long)].collect().toSeq.sorted
    val direct = KMeans.ivfTrainedTopK(queries, corpus,
      "vec_id", "embedding", topK = 3, kCells = 8, iters = 2, nProbe = 2)
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(fromIndex.nonEmpty && fromIndex == direct)
  }

  test("append: new vectors enter the frozen index and are findable") {
    val dir = tmpDir("app")
    IvfIndex.build(corpus, "vec_id", "embedding", dir,
      kCells = 8, iters = 2)
    // a distinctive direction no corpus vector has
    val newVec = Seq(9.0, 0.0, 9.0, 0.0, 9.0, 0.0, 9.0, 0.0)
    IvfIndex.append(Seq((1000L, newVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    // postings grew by exactly the batch
    assert(spark.read.parquet(s"$dir/postings").count() == 61L)
    // querying the same direction finds the appended doc first
    // (cosine 1.0 beats every corpus vector)
    val q = Seq((2000L, newVec.map(_ * 0.5))).toDF("vec_id", "embedding")
    val top = IvfIndex.query(q, "vec_id", "embedding", dir,
      topK = 1, nProbe = 2).as[(Long, Int, Long)].collect().toSeq
    assert(top == Seq((2000L, 1, 1000L)), top.toString)
  }

  test("compaction: 8 appends stay bounded per cell, results unchanged") {
    // 8 appends prove the boundedness property as well as 20 did
    // (every append grows a cell in dirA; every compaction folds dirB
    // back to one file per cell) at 40% of the job count — trimmed to
    // fit the driver's test budget (opt round 16)
    val dirA = tmpDir("cmpA") // appends only
    val dirB = tmpDir("cmpB") // appends + per-append compaction
    IvfIndex.build(corpus, "vec_id", "embedding", dirA, kCells = 8, iters = 2)
    IvfIndex.build(corpus, "vec_id", "embedding", dirB, kCells = 8, iters = 2)
    (0 until 8).foreach { b =>
      val batch = Seq((10000L + b, vec(100L + b))).toDF("vec_id", "embedding")
      IvfIndex.append(batch, "vec_id", "embedding", dirA)
      IvfIndex.append(batch, "vec_id", "embedding", dirB,
        compactTargetBytes = Some(128L << 20))
    }
    def cellFiles(dir: String): Map[String, Int] = {
      val root = new java.io.File(s"$dir/postings")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    // uncompacted: every append grew some cell; compacted: each cell is
    // one target-sized file (all data ≪ 128 MiB)
    assert(cellFiles(dirA).values.sum > cellFiles(dirB).values.sum)
    assert(cellFiles(dirB).values.forall(_ == 1),
      s"compacted cells not bounded: ${cellFiles(dirB)}")
    // identical content and identical query results either way
    val q = corpus.filter(col("vec_id") < 10)
    def res(dir: String) = IvfIndex.query(q, "vec_id", "embedding", dir,
      topK = 3, nProbe = 2).as[(Long, Int, Long)].collect().toSeq.sorted
    assert(spark.read.parquet(s"$dirA/postings").count() == 68L)
    assert(spark.read.parquet(s"$dirB/postings").count() == 68L)
    assert(res(dirA) == res(dirB) && res(dirB).nonEmpty)
  }

  test("compact: a cell crashed between delete and rename is rolled forward") {
    val dir = tmpDir("cmpR")
    IvfIndex.build(corpus, "vec_id", "embedding", dir, kCells = 8, iters = 2)
    val rowsBefore = spark.read.parquet(s"$dir/postings").drop("cell")
      .collect().toSet
    // pick a real cell and simulate the crash window: its list staged,
    // its live directory already deleted, the rename never happened
    val postings = new java.io.File(s"$dir/postings")
    val cellName = postings.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).head.getName
    val staging = new java.io.File(s"$dir/.compact_staging")
    assert(staging.mkdirs())
    assert(new java.io.File(postings, cellName)
      .renameTo(new java.io.File(staging, cellName)))
    // next compaction call (any cell set) must restore it, not discard it
    IvfIndex.compact(spark, dir,
      cells = Seq(cellName.stripPrefix("cell=").toInt))
    val rowsAfter = spark.read.parquet(s"$dir/postings").drop("cell")
      .collect().toSet
    assert(rowsAfter == rowsBefore, "recovery must restore the staged cell")
    assert(!staging.exists(), "staging cleared after recovery + compaction")
  }

  test("buildSq8 + querySq8 ≡ ADC over in-memory codes restricted to probed cells") {
    val dir = tmpDir("sq8")
    IvfIndex.buildSq8(corpus, "vec_id", "embedding", dir,
      kCells = 8, iters = 2)
    val queries = corpus.filter(col("vec_id") < 10)
    val fromIndex = IvfIndex.querySq8(queries, "vec_id", "embedding", dir,
      topK = 3, nProbe = 8) // nProbe = kCells → candidate set = whole corpus
      .as[(Long, Int, Long, Long)].collect().toSeq.sorted
    // with every cell probed, the persisted path must equal the flat
    // in-memory SQ8 ADC ranking — isolates the parquet round-trip +
    // pruning machinery from the scoring math
    val stats = graft.ops.ScalarQuant.dimStats(corpus, "embedding")
    val codes = graft.ops.ScalarQuant.encode(corpus, stats, "vec_id", "embedding")
    val direct = graft.ops.ScalarQuant.adcTopK(queries, codes, stats,
      "vec_id", "embedding", topK = 3)
      .as[(Long, Int, Long, Long)].collect().toSeq.sorted
    assert(fromIndex.nonEmpty && fromIndex == direct)
  }

  test("buildSq8 releases every checkpoint it pins once its writes are done") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    IvfIndex.buildSq8(corpus, "vec_id", "embedding", tmpDir("sq8rel"),
      kCells = 8, iters = 2)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persistent RDDs left by the build: $left")
  }

  test("appendSq8: frozen stats encode, findable; raw/SQ8 appends don't cross") {
    val dir = tmpDir("sq8app")
    IvfIndex.buildSq8(corpus, "vec_id", "embedding", dir,
      kCells = 8, iters = 2)
    // a direction past the corpus max on even dims — clamps to the top
    // code, so its reconstruction dominates every even-dim score term
    val newVec = Seq(9.0, 0.0, 9.0, 0.0, 9.0, 0.0, 9.0, 0.0)
    IvfIndex.appendSq8(Seq((1000L, newVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    assert(spark.read.parquet(s"$dir/postings").count() == 61L)
    val q = Seq((2000L, newVec.map(_ * 0.5))).toDF("vec_id", "embedding")
    val top = IvfIndex.querySq8(q, "vec_id", "embedding", dir,
      topK = 1, nProbe = 8).as[(Long, Int, Long, Long)].collect().toSeq
    assert(top.map(t => (t._1, t._2, t._3)) == Seq((2000L, 1, 1000L)),
      top.toString)
    // layout guard: a raw append into an SQ8 index (or vice versa)
    // must refuse, not silently mix schemas in the inverted lists
    val stray = Seq((3000L, newVec)).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      IvfIndex.append(stray, "vec_id", "embedding", dir)
    }
    val rawDir = tmpDir("rawguard")
    IvfIndex.build(corpus, "vec_id", "embedding", rawDir, kCells = 8, iters = 2)
    intercept[IllegalArgumentException] {
      IvfIndex.appendSq8(stray, "vec_id", "embedding", rawDir)
    }
  }

  test("querySq8 prunes the postings scan and stores codes, not vectors") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val dir = tmpDir("sq8prune")
      IvfIndex.buildSq8(corpus, "vec_id", "embedding", dir,
        kCells = 8, iters = 2)
      // the compressed postings carry int codes only — no float column
      val postingsSchema = spark.read.parquet(s"$dir/postings").schema
      assert(postingsSchema.fieldNames.toSet == Set("id", "codes", "cell"),
        postingsSchema.treeString)
      val q = corpus.filter(col("vec_id") === 0L)
      val res = IvfIndex.querySq8(q, "vec_id", "embedding", dir,
        topK = 3, nProbe = 2)
      res.collect()
      val scan = res.queryExecution.executedPlan
        .collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        .find(_.metadata("Location").contains("postings"))
        .getOrElse(fail("no postings scan in plan"))
      assert(scan.partitionFilters.nonEmpty,
        "probed-cell isin not pushed to partitioning")
      val chosen = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
        .flatMap(_.files.map(_.getPath.toString))
      val cells = chosen.flatMap(
        "cell=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).distinct
      assert(chosen.nonEmpty && cells.size == 2,
        s"scan touched cells $cells: ${chosen.mkString(", ")}")
    }
  }

  test("query prunes the postings scan to the probed cells' directories") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val dir = tmpDir("prune")
      IvfIndex.build(corpus, "vec_id", "embedding", dir,
        kCells = 8, iters = 2)
      val q = corpus.filter(col("vec_id") === 0L)
      val res = IvfIndex.query(q, "vec_id", "embedding", dir,
        topK = 3, nProbe = 2)
      res.collect()
      val scan = res.queryExecution.executedPlan
        .collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        .find(_.metadata("Location").contains("postings"))
        .getOrElse(fail("no postings scan in plan"))
      assert(scan.partitionFilters.nonEmpty,
        "probed-cell isin not pushed to partitioning")
      val chosen = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
        .flatMap(_.files.map(_.getPath.toString))
      // one query with nProbe=2 must touch exactly its 2 cells' dirs
      val cells = chosen.flatMap(
        "cell=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).distinct
      assert(chosen.nonEmpty && cells.size == 2,
        s"scan touched cells $cells: ${chosen.mkString(", ")}")
    }
  }
}
