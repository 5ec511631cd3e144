package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search"): the memory-compression path for ANN at
  * 100 TB — a d-dim float vector becomes M small codes (one byte each
  * at k ≤ 256), and query scoring reads the codes plus a broadcast
  * codebook instead of the raw vectors. A 64-float embedding (256 B)
  * compresses to M=4 codes (4 B): a 100 TB embedding corpus's index
  * fits in ~1.6 TB of codes, and scoring is M lookups per candidate.
  *
  * Everything here is EXACT integer arithmetic (same discipline as
  * [[KMeans]]): vectors quantize by `floor(x·scale)`; the per-subspace
  * codebook is the deterministic id-modulo stand-in (the [[KMeans]]
  * trained codebook plugs in the same way the IVF one does); encoding
  * argmins compare `|c|² − 2·x·c` (the |x|² term drops out per row);
  * ADC scores are integer dot products summed over subspaces. The
  * whole encode → score → rank pipeline is value-checkable in ANSI
  * SQL.
  *
  * Scale shape: codebooks are M·k subvectors (tiny — broadcast);
  * encoding is a narrow map (M·k dot products per row, then a window
  * over M·k rows per id); ADC candidate scoring is one keyed join of
  * queries × codes with a per-query top-k window. Nothing is O(n²) on
  * the corpus.
  */
object ProductQuant {

  // native exact-integer dot (see KMeans.dotL — same kernel, M·k
  // evaluations per row at encode time)
  private def dotL(a: Column, b: Column): Column =
    graft.plans.NativeCols.dotLong(a, b)

  /** Split a quantized vector into M contiguous subvectors:
    * (sub m, subvector) rows. `dim` must be divisible by `m`. */
  private def subvectors(qv: Column, dim: Int, m: Int): Column = {
    val w = dim / m
    posexplode(transform(sequence(lit(0), lit(m - 1)),
      i => slice(qv, i * w + 1, lit(w))))
  }

  /** Deterministic per-subspace codebook: for each subspace m, code c
    * is the subvector of the smallest id with id % k == c.
    * @return (sub, code, cvec) */
  def standInCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, scale: Int = 1000): DataFrame =
    // lowest-id subvector per (sub, code) as a map-side-combinable
    // min_by — the row_number window form sort-shuffled the corpus
    // m-wide to keep m·k rows
    corpus
      .select(col(idCol).as("id"),
        KMeans.quantize(col(vecCol), scale).as("qv"))
      .select(col("id"), pmod(col("id"), lit(k)).cast("int").as("code"),
        subvectors(col("qv"), dim, m).as(Seq("sub", "cvec")))
      .groupBy(col("sub"), col("code"))
      .agg(min_by(col("cvec"), col("id")).as("cvec"))
      .select(col("sub"), col("code"), col("cvec"))

  /** Encode each vector as M codes: per subspace, the code whose
    * centroid minimizes exact L2 (compared as the integer
    * |c|² − 2·x·c; ties on code).
    * @return (id, sub, code) — M rows per vector */
  def encode(corpus: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, scale: Int = 1000): DataFrame =
    corpus
      .select(col(idCol).as("id"),
        KMeans.quantize(col(vecCol), scale).as("qv"))
      .select(col("id"), subvectors(col("qv"), dim, m).as(Seq("sub", "xvec")))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("f",
        dotL(col("cvec"), col("cvec")) - lit(2L) * dotL(col("xvec"), col("cvec")))
      // top-1 as a min_by aggregation, not a window: the argmin is
      // map-side combinable, so the shuffle carries one row per
      // (id, sub) instead of sorting k rows per group. Ordering by
      // struct(f, code) = exactly the (f asc, code asc) tiebreak.
      .groupBy(col("id"), col("sub"))
      .agg(min_by(col("code"), struct(col("f"), col("code"))).as("code"))
      .select(col("id"), col("sub"), col("code"))

  /** IVF + PQ: the two 100 TB ANN techniques composed the way a
    * production index (FAISS IVFPQ) deploys them — the trained
    * k-means coarse quantizer restricts each query to `nProbe` cells,
    * and candidates inside probed cells are scored from their PQ
    * codes via ADC (no raw vectors on the scoring path). Simplified
    * vs. the paper: codes quantize the raw vectors, not the
    * per-cell residuals (residuals are float-centroid differences —
    * they would give up the exact-arithmetic discipline).
    *
    * Per-query work: k cell scores + nProbe/k of the corpus scored at
    * M lookups each; corpus storage touched: codes only.
    */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, k: Int, topK: Int, kCells: Int,
      iters: Int, nProbe: Int, scale: Int = 1000): DataFrame = {
    val (assigned, cents) =
      KMeans.trainWithCentroids(corpus, idCol, vecCol, kCells, iters, scale)
    val cb = standInCodebook(corpus, idCol, vecCol, dim, m, k, scale)
    val codes = encode(corpus, cb, idCol, vecCol, dim, m, scale)
      .join(assigned.select(col("id"), col("cluster").as("cell")), Seq("id"))
    // probe cells with the same exact metric that trained the codebook
    val probes = IvfIndex.probeCells(queries, idCol, vecCol, cents, nProbe, scale)
    // ADC lookup tables per (query, sub, code)
    val qsubs = probes.select(col("query_id"), col("cell"),
      subvectors(col("qv"), dim, m).as(Seq("sub", "xvec")))
    val partial = qsubs.join(broadcast(cb), Seq("sub"))
      .withColumn("p", dotL(col("xvec"), col("cvec")))
      .select(col("query_id"), col("cell"), col("sub"), col("code"), col("p"))
    val byRank = Window.partitionBy("query_id")
      .orderBy(col("adc_score").desc, col("neighbor_id"))
    codes.withColumnRenamed("id", "neighbor_id")
      .join(partial, Seq("cell", "sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("p")).as("adc_score"))
      .withColumn("rank", row_number().over(byRank))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_score"))
  }

  /** ADC (asymmetric distance computation) top-k: queries keep their
    * full quantized vectors, candidates are only their codes; the
    * score is the integer inner product Σ_m q_m · centroid[m][code_m],
    * ranked per query (ties on neighbor id).
    *
    * @return (query_id, rank, neighbor_id, adc_score)
    */
  def adcTopK(queries: DataFrame, codes: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int, topK: Int,
      scale: Int = 1000): DataFrame = {
    val q = queries
      .select(col(idCol).as("query_id"),
        KMeans.quantize(col(vecCol), scale).as("qv"))
      .select(col("query_id"), subvectors(col("qv"), dim, m).as(Seq("sub", "xvec")))
    // per (query, subspace, code): the partial lookup-table entry;
    // join codes on (sub, code) and sum the M partials per pair
    val partial = q.join(broadcast(codebook), Seq("sub"))
      .withColumn("p", dotL(col("xvec"), col("cvec")))
      .select(col("query_id"), col("sub"), col("code"), col("p"))
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("adc_score").desc, col("neighbor_id"))
    codes.withColumnRenamed("id", "neighbor_id")
      .join(partial, Seq("sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("p")).as("adc_score"))
      // only pairs with all M subspaces scored (inner join keeps M)
      .withColumn("rank", row_number().over(byQuery))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_score"))
  }
}
