package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lloyd's k-means codebook training over an embedding column — the
  * trained-centroid upgrade to [[Similarity]]'s deterministic IVF
  * stand-in codebook (reference provenance: the engine's ANN surface;
  * the coarse quantizer of an IVF index is exactly a k-means codebook,
  * Jégou et al. 2011).
  *
  * Everything is EXACT integer arithmetic so training is reproducible
  * bit-for-bit across engines and cluster sizes:
  *  - vectors quantize by `floor(x·scale)` (float multiply + floor are
  *    deterministic IEEE ops — no round-half ambiguity);
  *  - a centroid is represented as (component-sum vector S, count n),
  *    never as a float mean;
  *  - the argmin compares dist²(x, S/n) via the integer
  *    f = |S|² − 2·n·(x·S) (the Σx² term is constant per x and drops
  *    out), ordered as the exact double f/n² — every |f| here is far
  *    below 2^53, so the int→double conversion and one division are
  *    correctly rounded and identical everywhere; ties break on the
  *    cluster id.
  *
  * Scale shape: the codebook (k·dim longs) broadcasts; assignment is a
  * narrow map over the corpus (k codegen'd dot products per row, then
  * a per-id window over k rows); the update is one shuffle keyed by
  * (cluster, component). Nothing is O(n²) and no step collects the
  * corpus to the driver.
  */
object KMeans {

  /** `floor(x·scale)` integer quantization of a float vector. Native
    * single-pass expression; [[quantizeFold]] is the spec twin. */
  def quantize(vec: Column, scale: Int = 1000): Column =
    graft.plans.NativeCols.quantizeLong(vec, scale)

  private[graft] def quantizeFold(vec: Column, scale: Int = 1000): Column =
    transform(vec, x => floor(x.cast("double") * scale).cast("long"))

  /** Exact integer dot — native one-compiled-loop expression (this is
    * the argmin kernel, run k times per row per Lloyd iteration and
    * per probe; the interpreted fold twin [[dotLFold]] is the spec
    * reference). */
  private[graft] def dotL(a: Column, b: Column): Column =
    graft.plans.NativeCols.dotLong(a, b)

  private[graft] def dotLFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** The cell metric of training, assignment and IVF probes: dist²
    * from `qv` to the centroid S/n less the constant |qv|², as the
    * exact integer f = |S|² − 2·n·(qv·S) ordered by the double f/n²
    * (see the object doc). */
  private[ops] def cellScore(qv: Column, s: Column, n: Column): Column =
    (dotL(s, s) - lit(2L) * n * dotL(qv, s)).cast("double") /
      (n * n).cast("double")

  /** Assign each (id, qv) row to its nearest centroid in (cell, s, n)
    * representation; exact argmin, ties on cell. Top-1 is a min_by
    * aggregation (map-side combinable: the shuffle carries one row
    * per id, not k sorted rows) — ordering by struct(g, cell) is
    * exactly the (g asc, cell asc) tiebreak a window would apply.
    * @return (id, `carry`, cell) */
  private[ops] def assign(q: DataFrame, centroids: DataFrame,
      carry: String = "qv"): DataFrame =
    q.crossJoin(broadcast(centroids))
      .withColumn("g", cellScore(col("qv"), col("s"), col("n")))
      .groupBy(col("id"))
      .agg(min_by(struct(col("cell"), col(carry)), struct(col("g"), col("cell")))
        .as("w"))
      .select(col("id"), col(s"w.$carry").as(carry), col("w.cell").as("cell"))

  /** Train `k` clusters for `iters` Lloyd iterations and return the
    * final assignment (id, cluster). Initial codebook: per cell
    * `id % k`, the vector of the smallest id. A cluster that loses all
    * members keeps its previous centroid (deterministic, mirrors the
    * SQL oracle's LEFT JOIN + COALESCE).
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Int = 1000): DataFrame =
    trainWithCentroids(corpus, idCol, vecCol, k, iters, scale)._1

  /** [[train]] plus the trained codebook in its exact (cell,
    * component-sum vector, count) representation — what the IVF probe
    * path needs to assign queries to cells with the same arithmetic
    * that trained them. */
  def trainWithCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Int = 1000): (DataFrame, DataFrame) = {
    val q = corpus
      .select(col(idCol).as("id"), quantize(col(vecCol), scale).as("qv"))
      .localCheckpoint(eager = false) // scanned once per iteration
    // init codebook: lowest-id vector per id%k class, as a map-side-
    // combinable min_by (a row_number window here would sort-shuffle
    // the whole corpus k-wide just to seed k rows)
    var centroids = q
      .withColumn("cell", pmod(col("id"), lit(k)).cast("int"))
      .groupBy(col("cell"))
      .agg(min_by(col("qv"), col("id")).as("s"))
      .select(col("cell"), col("s"), lit(1L).as("n"))
      .localCheckpoint() // k rows — truncate lineage each iteration
    for (_ <- 1 to iters) {
      val assigned = assign(q, centroids)
      val sums = assigned
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("v")).as("sv"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("sv")))),
          s => s.getField("sv")).as("s_new"))
      val cnt = assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_new"))
      val superseded = centroids
      centroids = centroids.as("old")
        .join(sums.join(cnt, Seq("cell")), Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("s_new"), col("s")).as("s"),
          coalesce(col("n_new"), col("n")).as("n"))
        .localCheckpoint()
      Lineage.release(superseded) // the eager cut above no longer reads it
    }
    (assign(q, centroids).select(col("id"), col("cell").as("cluster")),
      centroids)
  }

  /** IVF index-health report over a cluster assignment ([[train]]'s
    * output, or the cell column of a persisted
    * [[graft.ops.IvfIndex]]): per-cell population, corpus share, and
    * the global imbalance factor — the number an operator tunes k /
    * re-trains on, because IVF probe latency is bounded by the
    * LARGEST probed cell, not the average (a 10× hot cell means 10×
    * worst-case probe cost at any nProbe). All ratios are exact
    * integer ppm (`div`), so the report is oracle-checkable
    * bit-for-bit.
    *
    * Scale shape: one count-aggregate shuffle keyed by cell (k groups,
    * map-side combinable); the 1-row total/max then BROADCASTS back —
    * the corpus is never re-shuffled and nothing is O(k²).
    *
    * @return (cluster, n_vectors, share_ppm, imbalance_ppm) —
    *         share_ppm = n·10⁶ div total; imbalance_ppm =
    *         max(n)·k·10⁶ div total (10⁶ = perfectly balanced),
    *         repeated on every row so the report is self-contained.
    */
  def clusterBalance(assignments: DataFrame, k: Int,
      clusterCol: String = "cluster"): DataFrame = {
    val counts = assignments
      .groupBy(col(clusterCol).as("cluster"))
      .agg(count(lit(1)).as("n_vectors"))
    val tot = counts.agg(
      sum(col("n_vectors")).as("total"),
      max(col("n_vectors")).as("mx"))
    counts.crossJoin(broadcast(tot))
      .select(col("cluster"), col("n_vectors"),
        expr("n_vectors * 1000000 div total").as("share_ppm"),
        expr(s"mx * $k * 1000000 div total").as("imbalance_ppm"))
  }

  /** The trained codebook itself as float-mean centroids (cell,
    * centroid: array<double>) — pluggable where a coarse quantizer is
    * needed (IVF cell assignment, SemDeDup cells). */
  def codebook(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Int = 1000): DataFrame = {
    val assigned = train(corpus, idCol, vecCol, k, iters, scale)
    corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(assigned, Seq("id"))
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("cluster"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))
  }
}
