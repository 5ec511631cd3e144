package graft

import graft.ops.{KMeans, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The trained-codebook IVF search written out in one plan, with its
  * own copy of the cell metric — the reference the persisted index
  * ([[graft.ops.IvfIndex]]) and the recall checks compare against. */
object ReferenceIvf {

  /** IVF ANN with the TRAINED codebook: corpus rows live in their
    * final k-means cell; each query probes its `nProbe` nearest cells
    * (same exact integer metric that trained the codebook), and
    * candidates within probed cells rank by true cosine.
    * @return (query_id, rank, neighbor_id) */
  def ivfTrainedTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, topK: Int, kCells: Int, iters: Int,
      nProbe: Int, scale: Int = 1000): DataFrame = {
    val (assigned, cents) =
      KMeans.trainWithCentroids(corpus, idCol, vecCol, kCells, iters, scale)
    val qq = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), KMeans.quantize(col(vecCol), scale).as("qv"))
    val byQuery = Window.partitionBy("query_id").orderBy(col("g"), col("cell"))
    val probes = qq.crossJoin(broadcast(cents))
      .withColumn("f", KMeans.dotL(col("s"), col("s")) -
        lit(2L) * col("n") * KMeans.dotL(col("qv"), col("s")))
      .withColumn("g",
        col("f").cast("double") / (col("n") * col("n")).cast("double"))
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qvec"), col("cell"))
    val corpusVecs = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .join(assigned.select(col("id").as("neighbor_id"),
        col("cluster").as("cell")), Seq("neighbor_id"))
    // a corpus row lives in exactly one cell → no duplicate pairs
    val byRank = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("neighbor_id"))
    probes.join(corpusVecs, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("csim", Similarity.cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(byRank))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }
}
