package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.model.TableId
import graft.stream.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF index — the production shape of the ANN surface. An
  * IVF index is built ONCE, stored as inverted lists, probed
  * incrementally, and extended with new vectors WITHOUT retraining
  * (Jégou et al. 2011 — the quantizer is frozen after training; only
  * the lists grow). The index directory is a [[TableStore]] root
  * holding three tables: `centroids` (cell, component-sum s, count n —
  * the exact representation, so later assignments use the SAME
  * arithmetic that trained it), `stats` (the SQ8 range row, SQ8
  * indexes only) and `postings` (id, vec or codes, cell), an append
  * table whose `_parts` sidecar names the part dirs of each version.
  *
  * == Lifecycle ==
  *  - `build` / `buildSq8`: train ([[KMeans.trainWithCentroids]],
  *    exact integer Lloyd), stage every table one version above the
  *    committed ones, and publish them in ONE manifest commit. A
  *    rebuild into the same dir replaces the whole index in that one
  *    step (a raw build also retires an earlier SQ8 build's stats).
  *  - `append` / `appendSq8`: assign a new batch against the frozen
  *    codebook (one broadcast crossJoin + map-side-combinable argmin,
  *    [[KMeans.assign]]), stage ONLY its rows as one more postings
  *    part, and commit once: nothing existing is read or rewritten.
  *  - `compact`: fold every part appended since the build into one
  *    part and commit once.
  *  - `query` / `querySq8`: probe each query's `nProbe` nearest cells,
  *    then scan the committed postings with `cell IN (probed)`. The
  *    postings files are sorted by cell and sized by bytes, so Parquet
  *    skips other cells' row groups by their statistics.
  *
  * == Crash contract ==
  * The store's ([[TableStore]]): a crash before a commit leaves the
  * previous index, a crash after it the new one, and a retry
  * overwrites the staged, never-published dirs. A reader resolves the
  * committed versions when it plans. Every commit is followed by a
  * vacuum that keeps one version of history, so a probe planned
  * before a build, append or compaction still finds its files
  * afterwards. One writer per dir.
  *
  * The dir must be a local/POSIX path (the store's atomic rename). A
  * dir in the older per-cell-directory layout (`postings/cell=N`, no
  * manifest) is refused, naming the dir: rebuild the index.
  *
  * `build` + `query` is plan-for-plan the same math as the trained
  * in-memory path ([[queryFrames]]), and the registered
  * `td_ann_ivf_indexed` shares `td_ann_ivf_trained`'s oracle SQL, so
  * the parquet round-trip itself is hash-checked.
  */
object IvfIndex {

  private val Centroids = TableId("graft", "ivf", "centroids")
  private val Stats = TableId("graft", "ivf", "stats")
  private[graft] val Postings = TableId("graft", "ivf", "postings")

  /** Train a `kCells`-cell codebook on `corpus` and publish the index
    * under `dir`: centroids + cell-sorted postings, one commit.
    *
    * The postings assign the corpus with ONE [[nearestCell]] pass
    * against the frozen codebook (the [[append]] shape) — the same
    * exact argmin that [[KMeans.trainWithCentroids]]'s final
    * assignment runs, carrying the raw vector through min_by, so no
    * `corpus ⋈ assignment` id-shuffle join is needed. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
            kCells: Int, iters: Int, scale: Int = 1000): Unit = {
    val (_, cents) =
      KMeans.trainWithCentroids(corpus, idCol, vecCol, kCells, iters, scale)
    val store = new TableStore(corpus.sparkSession, dir)
    val v = nextVersion(versions(store))
    store.stage(Centroids, cents, v)
    store.stageAppend(Postings,
      byCell(nearestCell(rows(corpus, idCol, vecCol), cents, scale)), v, v, None)
    publish(store, dir, "build", Map(Centroids -> v, Postings -> v), drops = Set(Stats))
  }

  /** Nearest frozen cell per (id, vec) row — the [[KMeans.assign]]
    * argmin, carrying the raw vector through. */
  private def nearestCell(rows: DataFrame, cents: DataFrame,
                          scale: Int): DataFrame =
    KMeans.assign(rows.withColumn("qv", KMeans.quantize(col("vec"), scale)),
      cents, carry = "vec")

  private def rows(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))

  /** Postings files sorted by cell and sized by bytes: the rebalance
    * lets the adaptive planner merge small partitions and split large
    * ones (the layout of [[TableStore.stageBucketed]]). */
  private def byCell(postings: DataFrame): DataFrame =
    postings.hint("rebalance", col("cell")).sortWithinPartitions("cell")

  /** The committed version of each index table. */
  private def versions(store: TableStore): Map[TableId, Long] = {
    val m = store.manifest()
    Seq(Centroids, Stats, Postings).flatMap(t => m.get(t.qualified).map(t -> _)).toMap
  }

  /** One above every committed version of the index's tables. */
  private def nextVersion(vs: Map[TableId, Long]): Long =
    vs.values.maxOption.fold(0L)(_ + 1)

  /** Commit the staged versions in one manifest write, then vacuum
    * with one version of history: a probe planned before this commit
    * still finds its files, and a rebuild does not keep every earlier
    * build on disk. */
  private def publish(store: TableStore, dir: String, op: String,
                      updates: Map[TableId, Long],
                      drops: Set[TableId] = Set.empty): Unit = {
    maybeFail(dir, s"${op}_staged")
    store.commitWithDrops(updates, drops)
    maybeFail(dir, s"${op}_committed")
    store.vacuum(keepHistory = 1)
  }

  /** The store at `dir` and the committed version of each index table.
    * Refuses the older per-cell-directory layout, a dir with no index,
    * and (given `column`) postings without that column: raw and SQ8
    * indexes are not interchangeable. */
  private def committed(spark: SparkSession, dir: String, op: String,
                        column: Option[String]): (TableStore, Map[TableId, Long]) = {
    val store = new TableStore(spark, dir)
    val old = Paths.get(dir, "postings")
    if (store.manifestSeq() == 0L && Files.isDirectory(old)) {
      val s = Files.list(old)
      val cellDirs =
        try s.iterator().asScala.exists(_.getFileName.toString.startsWith("cell="))
        finally s.close()
      if (cellDirs) throw new IllegalStateException(
        s"IvfIndex.$op: $dir holds per-cell postings/cell=N dirs and no manifest, " +
          "a layout this index no longer reads; rebuild the index")
    }
    val vs = versions(store)
    if (!vs.contains(Postings))
      throw new IllegalStateException(s"IvfIndex.$op: no index at $dir; build one first")
    column.foreach { c =>
      val fields = store.readVersion(Postings, vs(Postings)).schema.fieldNames
      require(fields.contains(c),
        s"IvfIndex.$op: postings at $dir carry ${fields.mkString(",")} — " +
          s"not an index layout with '$c' (raw and SQ8 indexes are " +
          "not interchangeable)")
    }
    (store, vs)
  }

  /** Add a batch of new vectors to an existing index WITHOUT
    * retraining: assignment against the committed codebook, the batch's
    * postings staged as one more part and committed once. Cost ∝ the
    * batch, never the corpus. */
  def append(newRows: DataFrame, idCol: String, vecCol: String,
             dir: String, scale: Int = 1000): Unit = {
    val (store, vs) = committed(newRows.sparkSession, dir, "append", Some("vec"))
    val cents = store.readVersion(Centroids, vs(Centroids))
    stageBatch(store, dir, vs,
      nearestCell(rows(newRows, idCol, vecCol), cents, scale), "append")
  }

  private def stageBatch(store: TableStore, dir: String, vs: Map[TableId, Long],
                         postings: DataFrame, op: String): Unit = {
    val v = nextVersion(vs)
    store.stageAppend(Postings, byCell(postings), v, v, Some(vs(Postings)))
    publish(store, dir, op, Map(Postings -> v))
  }

  /** Fold every postings part appended since the build into one part
    * and commit it once; a probe planned before the fold still finds
    * its files. The build's own part is not rewritten: the cost is ∝
    * the appended rows.
    * Returns the number of parts folded (0 = fewer than two appended
    * parts, nothing to do). */
  def compact(spark: SparkSession, dir: String): Int = {
    val (store, vs) = committed(spark, dir, "compact", None)
    val base = vs(Postings)
    val window = store.parts(Postings, base).map(_._1).filter(_ > vs(Centroids))
    if (window.size < 2) 0
    else {
      val v = nextVersion(vs)
      store.stageCompaction(Postings,
        byCell(store.readParts(Postings, base, window)), v, base, window)
      publish(store, dir, "compact", Map(Postings -> v))
      window.size
    }
  }

  /** Top-`topK` neighbors per query from the persisted index: each
    * query probes its `nProbe` nearest cells (same exact metric that
    * trained the codebook), the committed postings are read with
    * `cell IN (probed)`, and candidates rank by true cosine.
    * Output (query_id, rank, neighbor_id) — identical contract (and,
    * given the same build params, identical values) to
    * [[queryFrames]] over the trained frames. */
  def query(queries: DataFrame, idCol: String, vecCol: String, dir: String,
            topK: Int, nProbe: Int, scale: Int = 1000): DataFrame = {
    val (store, vs) = committed(queries.sparkSession, dir, "query", Some("vec"))
    val probes = probeCells(queries, idCol, vecCol,
      store.readVersion(Centroids, vs(Centroids)), nProbe, scale)
      .localCheckpoint(eager = false) // feeds the probed-cell collect AND the join
    rankByCosine(probes, probedPostings(store, vs, probes), topK)
  }

  /** [[query]]'s probe and ranking over in-memory frames, with no
    * store: `cents` is a codebook as [[KMeans.trainWithCentroids]]
    * returns it, `postings` (id, vec, cell) the corpus in its cells. */
  private[graft] def queryFrames(queries: DataFrame, idCol: String, vecCol: String,
                                 cents: DataFrame, postings: DataFrame, topK: Int,
                                 nProbe: Int, scale: Int = 1000): DataFrame =
    rankByCosine(probeCells(queries, idCol, vecCol, cents, nProbe, scale),
      postings, topK)

  private def rankByCosine(probes: DataFrame, postings: DataFrame,
                           topK: Int): DataFrame = {
    val byRank = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("neighbor_id"))
    // a corpus row lives in exactly one cell → no duplicate pairs
    probes.join(postings.select(col("cell"), col("id").as("neighbor_id"),
        col("vec").as("cvec")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("csim", Similarity.cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(byRank))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Each query's `nProbe` nearest frozen cells (same exact metric
    * that trained the codebook). Carries both the raw vector (for
    * exact-cosine ranking) and its quantized form (for ADC ranking).
    * @return (query_id, qvec, qv, cell) */
  private[ops] def probeCells(queries: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, nProbe: Int, scale: Int): DataFrame = {
    val byQuery = Window.partitionBy("query_id").orderBy(col("g"), col("cell"))
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        KMeans.quantize(col(vecCol), scale).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("g", KMeans.cellScore(col("qv"), col("s"), col("n")))
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qvec"), col("qv"), col("cell"))
  }

  /** The committed postings of the probed cells. The probed-cell set
    * is ≤ kCells ints (a bounded control plane); its `cell IN (…)`
    * reaches Parquet as a pushed filter, which skips the row groups of
    * the other cells — the disk analog of an IVF probe. */
  private def probedPostings(store: TableStore, vs: Map[TableId, Long],
                             probes: DataFrame): DataFrame = {
    val cells = probes.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    store.readVersion(Postings, vs(Postings)).filter(col("cell").isin(cells: _*))
  }

  /** [[build]] with SQ8-compressed postings ([[ScalarQuant]]): the
    * inverted lists store one byte per dimension (codes) instead of a
    * raw float vector — a 4× smaller index whose probe path reads
    * codes plus two dim-sized broadcast rows (stats + centroids) and
    * ranks by the exact-integer ADC score. The production trade
    * (FAISS `IVF…,SQ8`): same cell filter, same frozen-codebook
    * lifecycle, a quarter of the bytes per candidate, recall bounded
    * by the one-step quantization error instead of PQ's subspace
    * collapse. Centroids, stats and postings publish in one commit. */
  def buildSq8(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
               kCells: Int, iters: Int, levels: Int = 255,
               scale: Int = 1000): Unit = {
    val (assigned, cents) =
      KMeans.trainWithCentroids(corpus, idCol, vecCol, kCells, iters, scale)
    val store = new TableStore(corpus.sparkSession, dir)
    val v = nextVersion(versions(store))
    store.stage(Centroids, cents, v)
    // lazy localCheckpoint: the 1-row stats frame feeds the stats
    // write AND the encode broadcast — one dim-stats corpus pass, not
    // two; released below once both writes have consumed it
    val stats = ScalarQuant.dimStats(corpus, vecCol, scale)
      .localCheckpoint(eager = false)
    store.stage(Stats, stats, v)
    store.stageAppend(Postings,
      byCell(sq8Postings(rows(corpus, idCol, vecCol), cents, stats, levels, scale)),
      v, v, None)
    // the training cuts (corpus, codebook) and the stats cut
    Seq(assigned, stats).foreach(Lineage.release)
    publish(store, dir, "build", Map(Centroids -> v, Stats -> v, Postings -> v))
  }

  /** One [[nearestCell]] pass, then the encode; `keep` carries the cell
    * through the narrow encode projection. */
  private def sq8Postings(rows: DataFrame, cents: DataFrame, stats: DataFrame,
                          levels: Int, scale: Int): DataFrame =
    ScalarQuant.encode(nearestCell(rows, cents, scale), stats, "id", "vec",
      levels, scale, keep = Seq("cell"))

  /** Add a batch to a [[buildSq8]] index WITHOUT retraining: cell
    * assignment against the frozen codebook AND encoding against the
    * frozen stats row (the standard SQ lifecycle — re-deriving stats
    * from corpus+batch would silently re-scale every existing code;
    * out-of-range batch dimensions clamp at the edges instead). Same
    * cost shape as [[append]]. The raw-vector [[append]] must never
    * target an SQ8 index — the schemas differ by construction and the
    * write would corrupt the lists, so both appends verify the
    * postings schema first. */
  def appendSq8(newRows: DataFrame, idCol: String, vecCol: String,
                dir: String, levels: Int = 255, scale: Int = 1000): Unit = {
    val (store, vs) = committed(newRows.sparkSession, dir, "appendSq8", Some("codes"))
    stageBatch(store, dir, vs,
      sq8Postings(rows(newRows, idCol, vecCol), store.readVersion(Centroids, vs(Centroids)),
        store.readVersion(Stats, vs(Stats)), levels, scale), "appendSq8")
  }

  /** Probe a [[buildSq8]] index: same cell filter as [[query]],
    * candidates ranked by the ADC score of their byte codes against
    * the query's full quantized vector (exact integer arithmetic end
    * to end — the whole persisted pipeline is SQL-oracle-checkable).
    * @return (query_id, rank, neighbor_id, score) */
  def querySq8(queries: DataFrame, idCol: String, vecCol: String, dir: String,
               topK: Int, nProbe: Int, levels: Int = 255,
               scale: Int = 1000): DataFrame = {
    val (store, vs) = committed(queries.sparkSession, dir, "querySq8", Some("codes"))
    val stats = store.readVersion(Stats, vs(Stats))
    val probes = probeCells(queries, idCol, vecCol,
      store.readVersion(Centroids, vs(Centroids)), nProbe, scale)
      .localCheckpoint(eager = false) // feeds the probed-cell collect AND the join
    val postings = probedPostings(store, vs, probes)
      .crossJoin(broadcast(stats))
      .select(col("cell"), col("id").as("neighbor_id"),
        ScalarQuant.reconstruct(col("codes"), col("st"), levels).as("rv"))
    val byRank = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    probes.join(postings, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", KMeans.dotL(col("qv"), col("rv")))
      .withColumn("rank", row_number().over(byRank))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** Crash injection for recovery tests: `(dir, point)` throws once, at
    * `point` of the index at `dir` — `<op>_staged` after an op's
    * versions are staged and before its commit, `<op>_committed` after
    * the commit and before the vacuum, for op `build`, `append`,
    * `appendSq8` and `compact`. Never set in production. */
  @volatile private[graft] var failpoint: Option[(String, String)] = None

  private def maybeFail(dir: String, point: String): Unit =
    if (failpoint.contains((dir, point))) {
      failpoint = None
      throw new IllegalStateException(s"failpoint: injected crash ($point) in $dir")
    }
}
