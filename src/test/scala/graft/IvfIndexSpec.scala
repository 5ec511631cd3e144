package graft

import graft.ops.{IvfIndex, KMeans}
import graft.stream.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Persisted-IVF lifecycle: build ≡ the direct trained path, appends
  * are frozen-codebook and findable, every build, append and
  * compaction publishes in one store commit (a crash before it leaves
  * the previous index), and the probe pushes the probed cells to the
  * postings scan.
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

  private def tmpDir(tag: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfidx_${tag}_" +
      spark.sparkContext.applicationId
    graft.ops.Bucketing.cleanupOnExit(dir)
    dir
  }

  /** The committed postings, read through the index's store. */
  private def postings(dir: String): DataFrame =
    new TableStore(spark, dir).read(IvfIndex.Postings)

  /** Parquet files per part of the committed postings version. */
  private def partFiles(dir: String): Seq[Int] = {
    val store = new TableStore(spark, dir)
    val id = IvfIndex.Postings
    store.parts(id, store.manifest()(id.qualified)).map { case (p, _) =>
      new java.io.File(s"$dir/${id.qualified}/v=$p").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }
  }

  private def crashAt[T](dir: String, point: String)(op: => T): Unit = {
    IvfIndex.failpoint = Some((dir, point))
    val e = try intercept[IllegalStateException](op) finally IvfIndex.failpoint = None
    assert(e.getMessage.contains(s"failpoint: injected crash ($point)"), e.getMessage)
  }

  private def res(dir: String): Seq[(Long, Int, Long)] =
    IvfIndex.query(corpus.filter(col("vec_id") < 10), "vec_id", "embedding", dir,
      topK = 3, nProbe = 2).as[(Long, Int, Long)].collect().toSeq.sorted

  /** The probed cells the postings scan pushes to Parquet. */
  private def pushedCells(res: DataFrame): Set[String] = {
    val scan = res.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }
      .find(_.metadata("Location").contains("postings"))
      .getOrElse(fail("no postings scan in plan"))
    val pushed = scan.metadata("PushedFilters")
    "In\\(cell, \\[([^\\]]*)\\]\\)".r.findFirstMatchIn(pushed)
      .map(_.group(1).split(",").map(_.trim).toSet)
      .getOrElse(fail(s"no pushed In(cell, …) on the postings scan: $pushed"))
  }

  test("build + query ≡ ivfTrainedTopK on the same corpus and params") {
    val dir = tmpDir("eq")
    IvfIndex.build(corpus, "vec_id", "embedding", dir,
      kCells = 8, iters = 2)
    val queries = corpus.filter(col("vec_id") < 10)
    val fromIndex = res(dir)
    val direct = ReferenceIvf.ivfTrainedTopK(queries, corpus,
      "vec_id", "embedding", topK = 3, kCells = 8, iters = 2, nProbe = 2)
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(fromIndex.nonEmpty && fromIndex == direct)
    // the same probe and ranking over the trained frames in memory
    val (assigned, cents) =
      KMeans.trainWithCentroids(corpus, "vec_id", "embedding", k = 8, iters = 2)
    val inMemory = IvfIndex.queryFrames(queries, "vec_id", "embedding", cents,
      corpus.select(col("vec_id").as("id"), col("embedding").as("vec"))
        .join(assigned.withColumnRenamed("cluster", "cell"), Seq("id")),
      topK = 3, nProbe = 2).as[(Long, Int, Long)].collect().toSeq.sorted
    assert(inMemory == direct)
  }

  test("build: a staged rebuild leaves the previous index; a committed one replaces it") {
    val dir = tmpDir("rebuild")
    IvfIndex.build(corpus, "vec_id", "embedding", dir, kCells = 8, iters = 2)
    val before = res(dir)
    val ids = (0L until 60L).toSet
    // a different corpus: other ids, other vectors
    val other = (500L until 540L).map(i => (i, vec(i * 7 + 3)))
      .toDF("vec_id", "embedding")
    crashAt(dir, "build_staged") {
      IvfIndex.build(other, "vec_id", "embedding", dir, kCells = 8, iters = 2)
    }
    assert(res(dir) == before)
    assert(postings(dir).select("id").as[Long].collect().toSet == ids)
    // committed, crashed before its vacuum: the new index is read
    crashAt(dir, "build_committed") {
      IvfIndex.build(other, "vec_id", "embedding", dir, kCells = 8, iters = 2)
    }
    // only the second corpus's rows are read
    assert(postings(dir).select("id").as[Long].collect().toSet == (500L until 540L).toSet)
    val after = res(dir)
    assert(after.nonEmpty && after.forall(r => r._3 >= 500L), after.toString)
    // a completed rebuild keeps one earlier version on disk, not every build
    IvfIndex.build(other, "vec_id", "embedding", dir, kCells = 8, iters = 2)
    assert(new java.io.File(s"$dir/${IvfIndex.Postings.qualified}").list()
      .filter(_.startsWith("v=")).sorted.toSeq == Seq("v=1", "v=2"))
    assert(res(dir) == after)
  }

  test("append: new vectors enter the frozen index and are findable") {
    val dir = tmpDir("app")
    IvfIndex.build(corpus, "vec_id", "embedding", dir,
      kCells = 8, iters = 2)
    // a distinctive direction no corpus vector has
    val newVec = Seq(9.0, 0.0, 9.0, 0.0, 9.0, 0.0, 9.0, 0.0)
    val batch = Seq((1000L, newVec)).toDF("vec_id", "embedding")
    val q = Seq((2000L, newVec.map(_ * 0.5))).toDF("vec_id", "embedding")
    def top = IvfIndex.query(q, "vec_id", "embedding", dir,
      topK = 1, nProbe = 2).as[(Long, Int, Long)].collect().toSeq
    // staged, not committed: the batch is not read
    crashAt(dir, "append_staged") {
      IvfIndex.append(batch, "vec_id", "embedding", dir)
    }
    assert(postings(dir).count() == 60L)
    assert(top != Seq((2000L, 1, 1000L)), top.toString)
    // committed, crashed before its vacuum: the batch is read
    crashAt(dir, "append_committed") {
      IvfIndex.append(batch, "vec_id", "embedding", dir)
    }
    // postings grew by exactly the batch
    assert(postings(dir).count() == 61L)
    // querying the same direction finds the appended doc first
    // (cosine 1.0 beats every corpus vector)
    assert(top == Seq((2000L, 1, 1000L)), top.toString)
  }

  test("compaction: 8 appends stay bounded per cell, results unchanged") {
    val dirA = tmpDir("cmpA") // appends only
    val dirB = tmpDir("cmpB") // appends + compaction after each
    IvfIndex.build(corpus, "vec_id", "embedding", dirA, kCells = 8, iters = 2)
    IvfIndex.build(corpus, "vec_id", "embedding", dirB, kCells = 8, iters = 2)
    (0 until 8).foreach { b =>
      val batch = Seq((10000L + b, vec(100L + b))).toDF("vec_id", "embedding")
      IvfIndex.append(batch, "vec_id", "embedding", dirA)
      IvfIndex.append(batch, "vec_id", "embedding", dirB)
      IvfIndex.compact(spark, dirB)
    }
    // uncompacted: one more part per append; compacted: the build's
    // part and one fold, each one file (all data ≪ the advisory size)
    assert(partFiles(dirA).size == 9)
    assert(partFiles(dirA).sum > partFiles(dirB).sum)
    assert(partFiles(dirB) == Seq(1, 1), s"compacted parts not bounded: ${partFiles(dirB)}")
    // identical content and identical query results either way
    assert(postings(dirA).count() == 68L)
    assert(postings(dirB).count() == 68L)
    assert(res(dirA) == res(dirB) && res(dirB).nonEmpty)
  }

  test("compact: a staged fold is not read, a committed one is; a planned probe survives it") {
    val dir = tmpDir("cmpCrash")
    IvfIndex.build(corpus, "vec_id", "embedding", dir, kCells = 8, iters = 2)
    (0 until 3).foreach { b =>
      IvfIndex.append(Seq((10000L + b, vec(100L + b))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir)
    }
    val before = res(dir)
    val rows = postings(dir).collect().toSet
    crashAt(dir, "compact_staged")(IvfIndex.compact(spark, dir))
    assert(partFiles(dir).size == 4 && res(dir) == before)
    // planned (its parts resolved) before the fold, collected after it
    val planned = IvfIndex.query(corpus.filter(col("vec_id") < 10), "vec_id", "embedding",
      dir, topK = 3, nProbe = 2)
    assert(IvfIndex.compact(spark, dir) == 3)
    assert(planned.as[(Long, Int, Long)].collect().toSeq.sorted == before)
    assert(partFiles(dir).size == 2 && res(dir) == before)
    assert(postings(dir).collect().toSet == rows)
    // committed, crashed before its vacuum: the fold is read
    IvfIndex.append(Seq((20000L, vec(200L))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    val grown = res(dir)
    crashAt(dir, "compact_committed")(IvfIndex.compact(spark, dir))
    assert(partFiles(dir).size == 2 && res(dir) == grown)
    assert(postings(dir).count() == 64L)
  }

  test("an index dir in the per-cell-directory layout is refused, naming the dir") {
    val dir = tmpDir("oldlayout")
    assert(new java.io.File(s"$dir/postings/cell=3").mkdirs())
    val batch = Seq((1L, vec(1L))).toDF("vec_id", "embedding")
    Seq[() => Any](
      () => IvfIndex.query(batch, "vec_id", "embedding", dir, topK = 1, nProbe = 1),
      () => IvfIndex.append(batch, "vec_id", "embedding", dir),
      () => IvfIndex.compact(spark, dir)
    ).foreach { op =>
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains(dir) && e.getMessage.contains("rebuild the index"),
        e.getMessage)
    }
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
    val batch = Seq((1000L, newVec)).toDF("vec_id", "embedding")
    crashAt(dir, "appendSq8_staged") {
      IvfIndex.appendSq8(batch, "vec_id", "embedding", dir)
    }
    assert(postings(dir).count() == 60L)
    IvfIndex.appendSq8(batch, "vec_id", "embedding", dir)
    assert(postings(dir).count() == 61L)
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
      val postingsSchema = postings(dir).schema
      assert(postingsSchema.fieldNames.toSet == Set("id", "codes", "cell"),
        postingsSchema.treeString)
      val q = corpus.filter(col("vec_id") === 0L)
      val res = IvfIndex.querySq8(q, "vec_id", "embedding", dir,
        topK = 3, nProbe = 2)
      res.collect()
      assert(pushedCells(res).size == 2, pushedCells(res).toString)
    }
  }

  test("query prunes the postings scan to the probed cells") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val dir = tmpDir("prune")
      IvfIndex.build(corpus, "vec_id", "embedding", dir,
        kCells = 8, iters = 2)
      val q = corpus.filter(col("vec_id") === 0L)
      val res = IvfIndex.query(q, "vec_id", "embedding", dir,
        topK = 3, nProbe = 2)
      res.collect()
      // one query with nProbe=2 pushes exactly its 2 cells to Parquet
      assert(pushedCells(res).size == 2, pushedCells(res).toString)
    }
  }
}
