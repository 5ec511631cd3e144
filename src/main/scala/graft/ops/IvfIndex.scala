package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF index — the production shape of the ANN surface.
  * [[KMeans.ivfTrainedTopK]] retrains the codebook and reassigns the
  * whole corpus on every call; at 100 TB an IVF index is built ONCE,
  * stored as inverted lists, probed incrementally, and extended with
  * new vectors WITHOUT retraining (Jégou et al. 2011 — the quantizer
  * is frozen after training; only the lists grow). This module is
  * that lifecycle over parquet:
  *
  *  - `build`: train ([[KMeans.trainWithCentroids]], exact integer
  *    Lloyd), persist `centroids/` (cell, component-sum s, count n —
  *    the exact representation, so later assignments use the SAME
  *    arithmetic that trained it) and `postings/` (id, vec)
  *    PARTITIONED BY cell — the directory layout IS the inverted
  *    list: a probe lists only its cells' directories.
  *  - `append`: assign a new batch against the frozen codebook (one
  *    broadcast crossJoin + map-side-combinable min_by argmin — the
  *    [[KMeans]] assignment shape) and append its postings
  *    partitions; nothing existing is read or rewritten.
  *  - `query`: probe each query's `nProbe` nearest cells, then scan
  *    ONLY those partitions (the probed-cell set is ≤ kCells ints —
  *    bounded control plane, same discipline as the sketch-register
  *    collects) and rank candidates by exact cosine.
  *
  * `build` + `query` is plan-for-plan the same math as
  * [[KMeans.ivfTrainedTopK]] — IvfIndexSpec asserts result equality,
  * and the registered `td_ann_ivf_indexed` shares
  * `td_ann_ivf_trained`'s oracle SQL, so the parquet round-trip
  * itself (partition-column typing included) is hash-checked.
  */
object IvfIndex {

  /** Train a `kCells`-cell codebook on `corpus` and persist the index
    * under `dir`: `centroids/` + cell-partitioned `postings/`.
    *
    * The postings write assigns the corpus with ONE [[nearestCell]]
    * pass against the frozen codebook (the [[append]] shape) — the
    * same exact argmin that [[KMeans.trainWithCentroids]]'s final
    * assignment runs, carrying the raw vector through min_by, so the
    * earlier `corpus ⋈ assignment` id-shuffle join (three exchanges:
    * assignment groupBy + two join sides) collapses to the argmin's
    * single map-side-combinable exchange (opt round 16, guide §2.4). */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
            kCells: Int, iters: Int, scale: Int = 1000): Unit = {
    val (_, cents) =
      KMeans.trainWithCentroids(corpus, idCol, vecCol, kCells, iters, scale)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    nearestCell(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
      cents, scale)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/postings")
  }

  /** Nearest frozen cell per (id, vec) row — broadcast codebook,
    * map-side-combinable argmin, exact integer metric (the
    * [[KMeans.assign]] shape, carrying the raw vector through). */
  private def nearestCell(rows: DataFrame, cents: DataFrame,
                          scale: Int): DataFrame =
    rows
      .withColumn("qv", KMeans.quantize(col("vec"), scale))
      .crossJoin(broadcast(cents))
      .withColumn("f", KMeans.dotL(col("s"), col("s")) -
        lit(2L) * col("n") * KMeans.dotL(col("qv"), col("s")))
      .withColumn("g",
        col("f").cast("double") / (col("n") * col("n")).cast("double"))
      .groupBy(col("id"))
      .agg(min_by(struct(col("cell"), col("vec")),
        struct(col("g"), col("cell"))).as("w"))
      .select(col("id"), col("w.vec").as("vec"), col("w.cell").as("cell"))

  /** Add a batch of new vectors to an existing index WITHOUT
    * retraining: assignment against the persisted codebook, postings
    * appended partition-wise. Cost ∝ the batch, never the corpus.
    *
    * Every append adds at least one file per touched cell, so a
    * long-lived index degrades into small-file soup (each probe then
    * pays per-file open cost instead of sequential reads). Pass
    * `compactTargetBytes` to fold the touched cells back into
    * target-sized files after the append ([[compact]]) — cost ∝ the
    * touched cells' list size, never the whole index. */
  def append(newRows: DataFrame, idCol: String, vecCol: String,
             dir: String, scale: Int = 1000,
             compactTargetBytes: Option[Long] = None): Unit = {
    requirePostingsColumn(newRows.sparkSession, dir, "vec", "append")
    val cents = newRows.sparkSession.read.parquet(s"$dir/centroids")
    val assigned = nearestCell(
      newRows.select(col(idCol).as("id"), col(vecCol).as("vec")),
      cents, scale)
      .localCheckpoint(eager = false) // feeds the write AND the cell collect
    assigned.write.mode("append").partitionBy("cell").parquet(s"$dir/postings")
    compactTargetBytes.foreach { target =>
      // bounded control plane: the batch's touched-cell set is ≤ kCells
      // ints, same discipline as query's probed-cell collect
      val touched = assigned.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq
      compact(newRows.sparkSession, dir, touched, target)
    }
  }

  /** Rewrite the given cells' inverted lists as ⌈bytes/target⌉
    * files each — the maintenance pass that keeps a frequently
    * appended index probe-efficient. One pruned scan + one shuffle
    * over ONLY the named cells (per-cell file counts come from the
    * driver-side directory listing — metadata, no data read), staged
    * to `.compact_staging` and swapped in per cell. The swap is a
    * delete+rename per cell directory, not atomic across the index:
    * run it as a maintenance window op (the same contract as any
    * parquet-level compaction without a table format — concurrent
    * probes of a cell mid-swap can observe a partial list). A crash
    * BETWEEN a cell's delete and its rename is rolled forward on the
    * next call: any staged cell whose live directory is missing is
    * renamed in before the staging area is cleared, so the staged
    * copy (which holds the cell's full list) is never discarded while
    * it is the only copy. */
  def compact(spark: SparkSession, dir: String, cells: Seq[Int],
              targetFileBytes: Long = 128L << 20): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val postings = new Path(s"$dir/postings")
    val fs = postings.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prevStaging = new Path(s"$dir/.compact_staging")
    if (fs.exists(prevStaging)) {
      fs.listStatus(prevStaging)
        .filter(_.getPath.getName.startsWith("cell="))
        .foreach { st =>
          val live = new Path(postings, st.getPath.getName)
          if (!fs.exists(live) && !fs.rename(st.getPath, live))
            throw new IllegalStateException(
              s"IvfIndex.compact: recovery rename to $live failed")
        }
    }
    val present = cells.distinct.filter(c =>
      fs.exists(new Path(postings, s"cell=$c")))
    if (present.isEmpty) return
    val nFilesByCell = present.map { c =>
      val bytes = fs.getContentSummary(new Path(postings, s"cell=$c")).getLength
      c -> math.max(1L,
        (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    }.toMap
    val staging = new Path(s"$dir/.compact_staging")
    fs.delete(staging, true)
    // one job for all touched cells: partition-pruned scan, shuffle on
    // (cell, slice) so each cell lands in its computed file count, the
    // partitioned write splits files per cell
    val slices = typedlit(nFilesByCell)
    spark.read.parquet(postings.toString)
      .filter(col("cell").isin(present: _*))
      .withColumn("slice",
        pmod(hash(col("id")), element_at(slices, col("cell"))))
      .repartition(col("cell"), col("slice"))
      .drop("slice")
      .write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
    present.foreach { c =>
      val live = new Path(postings, s"cell=$c")
      val staged = new Path(staging, s"cell=$c")
      if (fs.exists(staged)) {
        fs.delete(live, true)
        if (!fs.rename(staged, live)) throw new IllegalStateException(
          s"IvfIndex.compact: failed to swap in compacted cell=$c")
      }
    }
    fs.delete(staging, true)
    ()
  }

  /** Top-`topK` neighbors per query from the persisted index: each
    * query probes its `nProbe` nearest cells (same exact metric that
    * trained the codebook), the postings scan is PRUNED to the probed
    * cells' directories, and candidates rank by true cosine.
    * Output (query_id, rank, neighbor_id) — identical contract (and,
    * given the same build params, identical values) to
    * [[KMeans.ivfTrainedTopK]]. */
  def query(queries: DataFrame, idCol: String, vecCol: String, dir: String,
            topK: Int, nProbe: Int, scale: Int = 1000): DataFrame = {
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    val probes = probeCells(queries, idCol, vecCol, cents, nProbe, scale)
    val postings = spark.read.parquet(s"$dir/postings")
      .filter(col("cell").isin(probedCellIds(probes): _*))
      .select(col("cell"), col("id").as("neighbor_id"), col("vec").as("cvec"))
    val byRank = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("neighbor_id"))
    probes.join(postings, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("csim", Similarity.cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(byRank))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Each query's `nProbe` nearest frozen cells (same exact metric
    * that trained the codebook). Carries both the raw vector (for
    * exact-cosine ranking) and its quantized form (for ADC ranking);
    * localCheckpointed because it feeds the probed-cell collect AND
    * the candidate join.
    * @return (query_id, qvec, qv, cell) */
  private def probeCells(queries: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, nProbe: Int, scale: Int): DataFrame = {
    val byQuery = Window.partitionBy("query_id").orderBy(col("g"), col("cell"))
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        KMeans.quantize(col(vecCol), scale).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("f", KMeans.dotL(col("s"), col("s")) -
        lit(2L) * col("n") * KMeans.dotL(col("qv"), col("s")))
      .withColumn("g",
        col("f").cast("double") / (col("n") * col("n")).cast("double"))
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qvec"), col("qv"), col("cell"))
      .localCheckpoint(eager = false)
  }

  /** Bounded control plane (≤ kCells ints): turning the probed cells
    * into a partition-column isin is what makes the postings read
    * list ONLY those directories — the disk analog of an IVF probe. */
  private def probedCellIds(probes: DataFrame): Seq[Int] =
    probes.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq

  /** [[build]] with SQ8-compressed postings ([[ScalarQuant]]): the
    * inverted lists store one byte per dimension (codes) instead of a
    * raw float vector — a 4× smaller index whose probe path reads
    * codes plus two dim-sized broadcast rows (stats + centroids) and
    * ranks by the exact-integer ADC score. The production trade
    * (FAISS `IVF…,SQ8`): same cell pruning, same frozen-codebook
    * lifecycle, a quarter of the bytes per candidate, recall bounded
    * by the one-step quantization error instead of PQ's subspace
    * collapse. */
  def buildSq8(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
               kCells: Int, iters: Int, levels: Int = 255,
               scale: Int = 1000): Unit = {
    val (assigned, cents) =
      KMeans.trainWithCentroids(corpus, idCol, vecCol, kCells, iters, scale)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    // lazy localCheckpoint: the 1-row stats frame feeds the stats
    // write AND the encode broadcast — one dim-stats corpus pass, not
    // two; released below once both writes have consumed it
    val stats = ScalarQuant.dimStats(corpus, vecCol, scale)
      .localCheckpoint(eager = false)
    stats.write.mode("overwrite").parquet(s"$dir/stats")
    // one nearestCell pass replaces encode ⋈ assignment (same collapse
    // as [[build]]: three exchanges to one); `keep` carries the cell
    // through the narrow encode projection
    ScalarQuant.encode(
      nearestCell(
        corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
        cents, scale),
      stats, "id", "vec", levels, scale, keep = Seq("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/postings")
    // the training cuts (corpus, codebook) and the stats cut
    Seq(assigned, stats).foreach(Lineage.release)
  }

  /** Add a batch to a [[buildSq8]] index WITHOUT retraining: cell
    * assignment against the frozen codebook AND encoding against the
    * frozen stats row (the standard SQ lifecycle — re-deriving stats
    * from corpus+batch would silently re-scale every existing code;
    * out-of-range batch dimensions clamp at the edges instead). Same
    * cost shape and compaction option as [[append]]. The raw-vector
    * [[append]] must never target an SQ8 index — the schemas differ
    * by construction and the write would corrupt the lists, so both
    * appends verify the postings schema first. */
  def appendSq8(newRows: DataFrame, idCol: String, vecCol: String,
                dir: String, levels: Int = 255, scale: Int = 1000,
                compactTargetBytes: Option[Long] = None): Unit = {
    val spark = newRows.sparkSession
    requirePostingsColumn(spark, dir, "codes", "appendSq8")
    val cents = spark.read.parquet(s"$dir/centroids")
    val stats = spark.read.parquet(s"$dir/stats")
    val assigned = nearestCell(
      newRows.select(col(idCol).as("id"), col(vecCol).as("vec")),
      cents, scale)
    val coded = ScalarQuant.encode(
      assigned.select(col("id"), col("vec")), stats, "id", "vec",
      levels, scale)
      .join(assigned.select(col("id"), col("cell")), Seq("id"))
      .localCheckpoint(eager = false) // feeds the write AND the cell collect
    coded.write.mode("append").partitionBy("cell").parquet(s"$dir/postings")
    compactTargetBytes.foreach { target =>
      val touched = coded.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq
      compact(spark, dir, touched, target)
    }
  }

  private def requirePostingsColumn(spark: SparkSession, dir: String,
      column: String, op: String): Unit = {
    val fields = spark.read.parquet(s"$dir/postings").schema.fieldNames
    require(fields.contains(column),
      s"IvfIndex.$op: postings at $dir carry ${fields.mkString(",")} — " +
        s"not an index layout with '$column' (raw and SQ8 indexes are " +
        "not interchangeable)")
  }

  /** Probe a [[buildSq8]] index: same directory-pruned cell scan as
    * [[query]], candidates ranked by the ADC score of their byte
    * codes against the query's full quantized vector (exact integer
    * arithmetic end to end — the whole persisted pipeline is
    * SQL-oracle-checkable).
    * @return (query_id, rank, neighbor_id, score) */
  def querySq8(queries: DataFrame, idCol: String, vecCol: String, dir: String,
               topK: Int, nProbe: Int, levels: Int = 255,
               scale: Int = 1000): DataFrame = {
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    val stats = spark.read.parquet(s"$dir/stats")
    val probes = probeCells(queries, idCol, vecCol, cents, nProbe, scale)
    val postings = spark.read.parquet(s"$dir/postings")
      .filter(col("cell").isin(probedCellIds(probes): _*))
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
}
