package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Quantitative checks for the hash-defined (rows-only) query
  * variants: the xxhash64 paths carry no DuckDB oracle (no xxhash64
  * there), so their ALGORITHM quality is pinned against the exact /
  * oracled twins instead of a row count.
  */
class AnnQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("LSH top-k recall clears a floor vs the exact ranking") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5))
    val lsh = pairs(Similarity.lshTopK(q, e, "vec_id", "embedding", 5,
      numPlanes = 8, probes = 2))
    val ivf = pairs(Similarity.ivfTopK(q, e, "vec_id", "embedding", 5))
    val lshRecall = (exact & lsh).size.toDouble / exact.size
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    info(f"LSH recall vs exact: $lshRecall%.3f  (pairs ${lsh.size})")
    info(f"IVF recall vs exact: $ivfRecall%.3f  (pairs ${ivf.size})")
    // the fixture embeddings are uniform-random (td_embedding_neardup
    // finds ZERO pairs), so exact top-5 "neighbors" sit at cosine
    // ≈ 0.25 — sign-LSH's worst case (collision prob ≈ 0.58/plane).
    // 8×8 multi-table + 2 probes measures ~0.33 here (single-table
    // measured 0.03); real quality is pinned by the planted-near-dup
    // test below, where neighbors actually exist.
    assert(lshRecall >= 0.25, f"LSH recall $lshRecall%.3f under floor")
    assert(ivfRecall >= 0.70, f"IVF recall $ivfRecall%.3f under floor")
    // trained codebook: same probe budget must clear the same floor as
    // the deterministic stand-in codebook (it should cluster at least
    // as coherently as id-modulo seeds)
    val trained = pairs(ReferenceIvf.ivfTrainedTopK(
      q, e, "vec_id", "embedding", topK = 5, kCells = 16, iters = 2,
      nProbe = 4))
    val trainedRecall = (exact & trained).size.toDouble / exact.size
    info(f"trained-IVF recall vs exact: $trainedRecall%.3f")
    assert(trainedRecall >= 0.70,
      f"trained-IVF recall $trainedRecall%.3f under floor")
    // PQ/ADC: 64 floats → 4 codes is a 64× compression; on
    // uniform-random vectors (no cluster structure for the codebook
    // to exploit) recall is necessarily modest — the floor just pins
    // that scoring is better than chance (random top-5 of ~500:
    // expected recall ≈ 0.01)
    val cb = graft.ops.ProductQuant.standInCodebook(
      e, "vec_id", "embedding", dim = 64, m = 4, k = 8)
    val codes = graft.ops.ProductQuant.encode(
      e, cb, "vec_id", "embedding", dim = 64, m = 4)
    val pq = pairs(graft.ops.ProductQuant.adcTopK(
      q, codes, cb, "vec_id", "embedding", dim = 64, m = 4, topK = 5))
    val pqRecall = (exact & pq).size.toDouble / exact.size
    info(f"PQ/ADC recall vs exact: $pqRecall%.3f")
    assert(pqRecall >= 0.10, f"PQ recall $pqRecall%.3f under floor")
    // IVF+PQ composition: probing restricts candidates, so its recall
    // is bounded by PQ's — it must stay within reach of full-corpus
    // ADC while touching ~nProbe/kCells of the codes
    val ivfpq = pairs(graft.ops.ProductQuant.ivfAdcTopK(
      q, e, "vec_id", "embedding", dim = 64, m = 4, k = 8, topK = 5,
      kCells = 8, iters = 2, nProbe = 3))
    val ivfpqRecall = (exact & ivfpq).size.toDouble / exact.size
    info(f"IVF+PQ recall vs exact: $ivfpqRecall%.3f")
    assert(ivfpqRecall >= 0.05,
      f"IVF+PQ recall $ivfpqRecall%.3f under floor")
    // md5-plane sibling (the oracled form): same table/plane budget as
    // the xxhash64 form, so it must clear the same recall floor — the
    // plane DERIVATION changes, the geometry doesn't
    val lshMd5 = pairs(Similarity.lshTopKMd5(q, e, "vec_id", "embedding",
      k = 5, dim = 64, numPlanes = 8, numTables = 8))
    val md5Recall = (exact & lshMd5).size.toDouble / exact.size
    info(f"md5-LSH recall vs exact: $md5Recall%.3f  (pairs ${lshMd5.size})")
    assert(md5Recall >= 0.25, f"md5-LSH recall $md5Recall%.3f under floor")
  }

  test("SQ8 ADC ranking tracks the exact same-metric ranking") {
    // fidelity of the int8 compression itself: compare against the
    // exact integer DOT-product top-k (the metric family ADC scores
    // in), so normalization differences with the cosine baseline
    // can't masquerade as quantization loss
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    def quant(c: org.apache.spark.sql.Column) =
      transform(c, x => floor(x.cast("double") * 1000).cast("long"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("s").desc, col("neighbor_id"))
    val exact = broadcast(
      q.select(col("vec_id").as("query_id"), quant(col("embedding")).as("qv")))
      .join(e.select(col("vec_id").as("neighbor_id"),
        quant(col("embedding")).as("cv")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("s", dot(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val stats = graft.ops.ScalarQuant.dimStats(e, "embedding")
    val codes = graft.ops.ScalarQuant.encode(e, stats, "vec_id", "embedding")
    val sq8 = graft.ops.ScalarQuant.adcTopK(q, codes, stats,
      "vec_id", "embedding", topK = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & sq8).size.toDouble / exact.size
    info(f"SQ8 recall vs exact dot ranking: $recall%.3f")
    // 255 levels per dimension leave a one-step-per-dim error — far
    // finer than PQ's 64x collapse, so the floor is high
    assert(recall >= 0.70, f"SQ8 recall $recall%.3f under floor")
  }

  test("LSH recalls planted near-duplicate neighbors") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    // plant a near-copy of each query vector (one coordinate nudged:
    // cosine vs the original ≈ 1) under id+1e6
    val q = e.filter(col("vec_id") < 10)
    val planted = q.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, j) => when(j === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
    val corpus = e.select("vec_id", "embedding").unionByName(planted)
    val found = graft.ops.Similarity
      .lshTopK(q, corpus, "vec_id", "embedding", 5, numPlanes = 8, probes = 2)
      .filter(col("neighbor_id") === col("query_id") + 1000000L)
      .count()
    info(s"planted near-dups recalled: $found/10")
    assert(found >= 8, s"only $found of 10 planted near-dups recalled")
  }

  test("xxhash64 simhash near-dup structure agrees with the oracled md5 twin") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val xx = Dedup.simhashDf(d, "doc_id", "text")
      .select(col("id"), col("simhash").as("hxx"))
    val md = Dedup.simhashMd5Df(d, "doc_id", "text")
      .select(col("id"), col("simhash").as("hmd"))
    val joined = xx.join(md, "id").cache()

    // identical text must collapse to ONE hash value under BOTH
    // schemes (scheme-independent invariant)
    val byText = d.select(col("doc_id").as("id"), col("text")).join(joined, "id")
      .groupBy("text")
      .agg(countDistinct("hxx").as("nxx"), countDistinct("hmd").as("nmd"))
    assert(byText.filter(col("nxx") =!= 1 || col("nmd") =!= 1).count() == 0)

    // pairwise agreement: exact-duplicate TEXT pairs are hamming-0
    // under both; and the hamming-<=3 near-dup pair sets of the two
    // schemes overlap on those planted duplicates
    def hamm(a: String, b: String) =
      bit_count(col(a).bitwiseXOR(col(b)))
    val l = joined.select(col("id").as("id_a"), col("hxx").as("xa"), col("hmd").as("ma"))
    val r = joined.select(col("id").as("id_b"), col("hxx").as("xb"), col("hmd").as("mb"))
    val cross = l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .withColumn("dx", hamm("xa", "xb"))
      .withColumn("dm", hamm("ma", "mb"))
    val xxNear = cross.filter(col("dx") <= 3)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val mdNear = cross.filter(col("dm") <= 3)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val overlap =
      if (xxNear.isEmpty && mdNear.isEmpty) 1.0
      else (xxNear & mdNear).size.toDouble / math.max(xxNear.size, mdNear.size)
    info(f"near-dup pairs xx=${xxNear.size} md=${mdNear.size} overlap=$overlap%.3f")
    assert(xxNear.nonEmpty, "fixture should contain simhash near-dups")
    assert(overlap >= 0.5, f"scheme agreement $overlap%.3f under floor")
  }

  test("semanticContamination: threshold gates, best match wins, ties break on id") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),   // matches bench 10/12 at cos 1, 11 at ~.995
      (2L, Array(0.0f, 1.0f)),   // orthogonal to every bench vector
      (3L, Array(0.9f, 0.1f))    // near [1,0]: above threshold vs 10/11/12
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.9f, 0.1f)),
      (12L, Array(2.0f, 0.0f))   // same DIRECTION as 10 → equal cosine
    ).toDF("bench_id", "bvec")
    val r = Similarity.semanticContamination(corpus, "vec_id", "embedding",
        bench, "bench_id", "bvec", threshold = 0.9)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    // doc 1: cos 1.0 vs both 10 and 12 (equal) → lowest id 10, 3 matches
    // doc 2: nothing ≥ 0.9 → absent
    // doc 3: best is its own direction (bench 11, cos 1.0), 3 matches
    assert(r == Seq((1L, 10L, 3L), (3L, 11L, 3L)), r.toString)
  }

  test("recallAtK: a query with fewer than k exact neighbors can still reach 10⁶") {
    import spark.implicits._
    // query 1 has only 3 true neighbors (corpus smaller than k+1);
    // a perfect approximate ranking must score recall_ppm = 1e6, not
    // 3e6/5 — the denominator is least(k, |exact|)
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L), (2L, 12L), (2L, 13L), (2L, 14L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 99L), (1L, 98L),
      (2L, 10L), (2L, 11L), (2L, 12L), (2L, 99L), (2L, 98L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(exact, approx, k = 5)
      .orderBy("query_id")
      .select("query_id", "hits", "recall_ppm")
      .as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 3L, 1000000L), (2L, 3L, 600000L)), r.toString)
  }
}
