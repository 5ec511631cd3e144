package graft.queries

import graft.{GraftQuery, Tables}
import graft.ops.{BloomJoin, Dedup, Multimodal, Pipeline, Profiling, Retrieval, Sampling, Similarity, Sketches, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search & embeddings: cosine top-k, IVF/PQ/SQ8
  * ANN, k-means, SemDeDup, recall evaluation.
  *
  * Split from the original TrainingData.scala (round 11) —
  * query definitions are unchanged; TrainingData.all still
  * registers everything in the original order.
  */
object TrainingDataAnn {

  /** Brute-force cosine top-5; oracle checks neighbor identity and
    * rank (cosine values agree to ~1e-15 across engines — enough to
    * order distinct neighbors, not enough to hash-compare doubles).
    */
  val td_cosine_topk = GraftQuery(
    "td_cosine_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                   c.vec_id) AS rank
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
      WHERE rank <= 5 ORDER BY query_id, rank"""))


  /** Sliding-window chunking for embedding prep
    * ([[graft.ops.Pipeline.chunkForEmbedding]]): 16-token windows
    * every 8 tokens (overlapping halves). Empty docs are excluded —
    * the two engines disagree on tokenizing "" ([] vs ['']), and a
    * 0-token doc has nothing to embed. */
  val td_chunk_embed = GraftQuery(
    "td_chunk_embed",
    (s, dir) => {
      graft.ops.Pipeline.chunkForEmbedding(
        Tables.documents(s, dir)
          .filter(col("doc_id") < 100 && length(trim(col("text"))) > 0),
        "doc_id", "text", windowTokens = 16, strideTokens = 8)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("chunk"), col("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents WHERE doc_id < 100 AND length(trim(text)) > 0),
      w AS (
        SELECT doc_id, t,
          CASE WHEN len(t) <= 16 THEN 1
               ELSE CAST(ceil((len(t) - 16) / 8.0) AS INT) + 1 END AS nw
        FROM tok),
      c AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               t[CAST(i*8+1 AS INT) : CAST(i*8+16 AS INT)] AS ch
        FROM w, unnest(range(0, nw)) AS u(i))
      SELECT doc_id, chunk_idx, array_to_string(ch, ' ') AS chunk,
             CAST(len(ch) AS INT) AS n_tokens
      FROM c ORDER BY doc_id, chunk_idx"""))


  /** Mean-pooling per group ([[graft.ops.Similarity.meanPoolVectors]])
    * over deterministic integer-valued vectors (exact sums at any
    * aggregation order, so the double means hash-match cross-engine —
    * real float embeddings would diverge in the sum). The library op
    * returns the pooled ARRAY per group; the registered query
    * posexplodes it back to (label, pos, value) SCALARS so the
    * driver's oracle comparator (which cannot hash array cells) gets
    * a verifiable row shape — same information, exploded. */
  val td_mean_pool = GraftQuery(
    "td_mean_pool",
    (s, dir) => {
      val corpus = Tables.embeddings(s, dir).select(
        col("label"),
        transform(sequence(lit(0), lit(7)),
          i => pmod(col("vec_id") * (i + 1), lit(97)).cast("double"))
          .as("v"))
      Similarity.meanPoolVectors(corpus, "label", "v")
        .select(col("label"), posexplode(col("pooled")).as(Seq("pos", "m")))
        .orderBy(col("label"), col("pos"))
    },
    Some("""WITH v AS (
        SELECT label,
          list_transform(range(0, 8),
            i -> CAST((vec_id * (i + 1)) % 97 AS DOUBLE)) AS v
        FROM embeddings),
      e AS (
        SELECT label, CAST(i AS INT) AS pos, v[CAST(i AS INT) + 1] AS x
        FROM v, unnest(range(0, 8)) AS t(i))
      SELECT label, pos, AVG(x) AS m FROM e GROUP BY 1, 2
      ORDER BY label, pos"""))


  /** Embedding-cosine near-dup pairs over a bounded subset, exact
    * baseline — oracle recomputes with list_cosine_similarity. The
    * 0.8 threshold sits far from the cross-engine double divergence
    * (~1e-15). */
  val td_embedding_neardup = GraftQuery(
    "td_embedding_neardup",
    (s, dir) => {
      // planted exact copies give the threshold something to find:
      // the fixture's organic pairs top out ~0.51 cosine, so without
      // planting this query proved only "nothing ≥ 0.8" (a 0-row
      // match). Copies sit at ≈1.0 — far from the threshold on both
      // sides, immune to cross-engine float divergence.
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 150)
        .select(col("vec_id"), col("embedding"))
      val corpus = graft.fixtures.Planted.corpus(e,
        (pmod(col("vec_id"), lit(3)) === 0) ->
          Seq("vec_id" -> (col("vec_id") + 1000000L)))
      Similarity.cosineNearDuplicates(corpus, "vec_id", "embedding", 0.8)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150
        UNION ALL
        SELECT vec_id + 1000000, embedding FROM embeddings
        WHERE vec_id < 150 AND vec_id % 3 = 0)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.8
      ORDER BY id_a, id_b"""))


  /** IVF ANN. The coarse quantizer is deterministic (cell c's centroid
    * = the lowest-id vector with id%nCells = c), so the whole
    * inverted-file search is SQL-expressible: the oracle recomputes
    * centroid choice, cell assignment, nProbe probing, and final
    * ranking. Ranks order on cosine values whose cross-engine
    * divergence (~1e-7, DuckDB sums float lists in float) sits far
    * below the gaps between distinct random vectors.
    */
  val td_ann_ivf = GraftQuery(
    "td_ann_ivf",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", 5, nCells = 16, nProbe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH cent AS (
        SELECT CAST(vec_id % 16 AS INTEGER) AS cell,
               arg_min(embedding, vec_id) AS centroid
        FROM embeddings GROUP BY 1),
      ca AS (
        SELECT neighbor_id, cvec, cell FROM (
          SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC, c.cell) AS rn
          FROM embeddings e CROSS JOIN cent c)
        WHERE rn = 1),
      qa AS (
        SELECT query_id, qvec, cell FROM (
          SELECT e.vec_id AS query_id, e.embedding AS qvec, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC, c.cell) AS rn
          FROM embeddings e CROSS JOIN cent c
          WHERE e.vec_id < 20)
        WHERE rn <= 4),
      cand AS (
        SELECT DISTINCT query_id, qvec, neighbor_id, cvec
        FROM qa JOIN ca USING (cell)
        WHERE query_id <> neighbor_id)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(qvec, cvec) DESC, neighbor_id) AS rank
        FROM cand)
      WHERE rank <= 5 ORDER BY query_id, rank"""))


  /** Hard-negative mining ([[graft.ops.Similarity.hardNegatives]]):
    * per anchor, the 5 most-similar embeddings with a DIFFERENT label
    * — contrastive-training data prep over the same IVF candidate
    * shape as [[td_ann_ivf]] (probed cells, never all-pairs), with
    * the label-mismatch filter ahead of the exact cosine. Oracled:
    * the SQL adds the label join + filter to td_ann_ivf's verified
    * IVF chain, so cell assignment, probing, filtering, and ranking
    * all hash-match. */
  val td_hard_negatives = GraftQuery(
    "td_hard_negatives",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.hardNegatives(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", "label", k = 5, nCells = 16, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH cent AS (
        SELECT CAST(vec_id % 16 AS INTEGER) AS cell,
               arg_min(embedding, vec_id) AS centroid
        FROM embeddings GROUP BY 1),
      ca AS (
        SELECT neighbor_id, cvec, neg_label, cell FROM (
          SELECT e.vec_id AS neighbor_id, e.embedding AS cvec,
            e.label AS neg_label, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC, c.cell) AS rn
          FROM embeddings e CROSS JOIN cent c)
        WHERE rn = 1),
      qa AS (
        SELECT query_id, qvec, anchor_label, cell FROM (
          SELECT e.vec_id AS query_id, e.embedding AS qvec,
            e.label AS anchor_label, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC, c.cell) AS rn
          FROM embeddings e CROSS JOIN cent c
          WHERE e.vec_id < 20)
        WHERE rn <= 4),
      cand AS (
        SELECT DISTINCT query_id, qvec, neighbor_id, cvec
        FROM qa JOIN ca USING (cell)
        WHERE query_id <> neighbor_id AND anchor_label <> neg_label)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(qvec, cvec) DESC, neighbor_id) AS rank
        FROM cand)
      WHERE rank <= 5 ORDER BY query_id, rank"""))


  /** In-engine ANN evaluation ([[graft.ops.Similarity.recallAtK]]):
    * per-query recall@5 of the IVF index against the exact cosine
    * ranking, as exact integers (ppm) — the tuning loop that decides
    * nCells/nProbe on a sample BEFORE a 100 TB index build. Oracled:
    * the SQL computes both rankings (brute-force window +
    * td_ann_ivf's verified chain) and the same join/count. */
  val td_ann_recall = GraftQuery(
    "td_ann_recall",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      val approx = Similarity.ivfTopK(q, e, "vec_id", "embedding", 5,
        nCells = 16, nProbe = 4)
      Similarity.recallAtK(exact, approx, 5)
        .orderBy(col("query_id"))
    },
    Some("""WITH exact AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                       c.vec_id) AS rank
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
        WHERE rank <= 5),
      cent AS (
        SELECT CAST(vec_id % 16 AS INTEGER) AS cell,
               arg_min(embedding, vec_id) AS centroid
        FROM embeddings GROUP BY 1),
      ca AS (
        SELECT neighbor_id, cvec, cell FROM (
          SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC, c.cell) AS rn
          FROM embeddings e CROSS JOIN cent c)
        WHERE rn = 1),
      qa AS (
        SELECT query_id, qvec, cell FROM (
          SELECT e.vec_id AS query_id, e.embedding AS qvec, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC, c.cell) AS rn
          FROM embeddings e CROSS JOIN cent c
          WHERE e.vec_id < 20)
        WHERE rn <= 4),
      cand AS (
        SELECT DISTINCT query_id, qvec, neighbor_id, cvec
        FROM qa JOIN ca USING (cell)
        WHERE query_id <> neighbor_id),
      ivf AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY list_cosine_similarity(qvec, cvec) DESC, neighbor_id) AS rank
          FROM cand)
        WHERE rank <= 5)
      SELECT e.query_id AS query_id,
        CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS hits,
        (CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) * 1000000) // LEAST(5, COUNT(*)) AS recall_ppm
      FROM exact e LEFT JOIN ivf i
        ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
      GROUP BY 1 ORDER BY e.query_id"""))


  /** Lloyd k-means codebook training (the trained coarse quantizer an
    * IVF index needs), two iterations, k=8 — EXACT integer-arithmetic
    * centroids so the full training loop (init → assign → update →
    * assign → update → assign) is value-checked cross-engine, not just
    * a single assignment step. */
  val td_kmeans = GraftQuery(
    "td_kmeans",
    (s, dir) => {
      graft.ops.KMeans.train(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, iters = 2)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings),
      c0 AS (
        SELECT CAST(id % 8 AS INTEGER) AS cell, arg_min(qv, id) AS s,
          CAST(1 AS BIGINT) AS n
        FROM q GROUP BY 1),
      a1 AS (
        SELECT id, qv, cell FROM (
          SELECT q.id, q.qv, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c0 c) WHERE rn = 1),
      s1 AS (
        SELECT cell, list(sv ORDER BY pos) AS s_new FROM (
          SELECT cell, kv.pos AS pos, CAST(SUM(kv.v) AS BIGINT) AS sv
          FROM (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
                  i -> {'pos': i, 'v': qv[i]})) AS kv FROM a1) t
          GROUP BY cell, kv.pos) t2
        GROUP BY cell),
      n1 AS (SELECT cell, COUNT(*) AS n_new FROM a1 GROUP BY cell),
      c1 AS (
        SELECT c0.cell, COALESCE(s1.s_new, c0.s) AS s,
          CAST(COALESCE(n1.n_new, c0.n) AS BIGINT) AS n
        FROM c0 LEFT JOIN s1 USING (cell) LEFT JOIN n1 USING (cell)),
      a2 AS (
        SELECT id, qv, cell FROM (
          SELECT q.id, q.qv, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c1 c) WHERE rn = 1),
      s2 AS (
        SELECT cell, list(sv ORDER BY pos) AS s_new FROM (
          SELECT cell, kv.pos AS pos, CAST(SUM(kv.v) AS BIGINT) AS sv
          FROM (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
                  i -> {'pos': i, 'v': qv[i]})) AS kv FROM a2) t
          GROUP BY cell, kv.pos) t2
        GROUP BY cell),
      n2 AS (SELECT cell, COUNT(*) AS n_new FROM a2 GROUP BY cell),
      c2 AS (
        SELECT c1.cell, COALESCE(s2.s_new, c1.s) AS s,
          CAST(COALESCE(n2.n_new, c1.n) AS BIGINT) AS n
        FROM c1 LEFT JOIN s2 USING (cell) LEFT JOIN n2 USING (cell)),
      a3 AS (
        SELECT id, cell FROM (
          SELECT q.id, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c2 c) WHERE rn = 1)
      SELECT id AS vec_id, CAST(cell AS INTEGER) AS cluster
      FROM a3 ORDER BY vec_id"""))


  /** IVF index-health report ([[graft.ops.KMeans.clusterBalance]])
    * over [[td_kmeans]]'s exact trained assignment: per-cell
    * population, corpus share, and the global imbalance factor (max
    * cell × k / total, ppm) — the tuning signal for k/nProbe, since
    * probe latency is bounded by the largest cell. The oracle replays
    * the same two Lloyd iterations and aggregates; all ratios are
    * integer ppm. */
  val td_ivf_balance = GraftQuery(
    "td_ivf_balance",
    (s, dir) => {
      val assigned = graft.ops.KMeans.train(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, iters = 2)
      graft.ops.KMeans.clusterBalance(assigned, k = 8)
        .orderBy(col("cluster"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings),
      c0 AS (
        SELECT CAST(id % 8 AS INTEGER) AS cell, arg_min(qv, id) AS s,
          CAST(1 AS BIGINT) AS n
        FROM q GROUP BY 1),
      a1 AS (
        SELECT id, qv, cell FROM (
          SELECT q.id, q.qv, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c0 c) WHERE rn = 1),
      s1 AS (
        SELECT cell, list(sv ORDER BY pos) AS s_new FROM (
          SELECT cell, kv.pos AS pos, CAST(SUM(kv.v) AS BIGINT) AS sv
          FROM (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
                  i -> {'pos': i, 'v': qv[i]})) AS kv FROM a1) t
          GROUP BY cell, kv.pos) t2
        GROUP BY cell),
      n1 AS (SELECT cell, COUNT(*) AS n_new FROM a1 GROUP BY cell),
      c1 AS (
        SELECT c0.cell, COALESCE(s1.s_new, c0.s) AS s,
          CAST(COALESCE(n1.n_new, c0.n) AS BIGINT) AS n
        FROM c0 LEFT JOIN s1 USING (cell) LEFT JOIN n1 USING (cell)),
      a2 AS (
        SELECT id, qv, cell FROM (
          SELECT q.id, q.qv, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c1 c) WHERE rn = 1),
      s2 AS (
        SELECT cell, list(sv ORDER BY pos) AS s_new FROM (
          SELECT cell, kv.pos AS pos, CAST(SUM(kv.v) AS BIGINT) AS sv
          FROM (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
                  i -> {'pos': i, 'v': qv[i]})) AS kv FROM a2) t
          GROUP BY cell, kv.pos) t2
        GROUP BY cell),
      n2 AS (SELECT cell, COUNT(*) AS n_new FROM a2 GROUP BY cell),
      c2 AS (
        SELECT c1.cell, COALESCE(s2.s_new, c1.s) AS s,
          CAST(COALESCE(n2.n_new, c1.n) AS BIGINT) AS n
        FROM c1 LEFT JOIN s2 USING (cell) LEFT JOIN n2 USING (cell)),
      a3 AS (
        SELECT id, cell FROM (
          SELECT q.id, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c2 c) WHERE rn = 1),
      counts AS (
        SELECT CAST(cell AS INTEGER) AS cluster, COUNT(*) AS n_vectors
        FROM a3 GROUP BY 1),
      tot AS (
        SELECT SUM(n_vectors) AS total, MAX(n_vectors) AS mx FROM counts)
      SELECT cluster, n_vectors,
        CAST(n_vectors * 1000000 // total AS BIGINT) AS share_ppm,
        CAST(mx * 8 * 1000000 // total AS BIGINT) AS imbalance_ppm
      FROM counts, tot ORDER BY cluster"""))


  /** IVF ANN over the TRAINED k-means codebook: [[td_kmeans]]'s exact
    * training loop, then the persisted index's probe and ranking
    * ([[graft.ops.IvfIndex.queryFrames]]) on the trained frames in
    * memory, with no store — the full ANN path (train → assign → probe
    * → rank) is value-checked end to end. */
  val td_ann_ivf_trained = GraftQuery(
    "td_ann_ivf_trained",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (assigned, cents) = graft.ops.KMeans.trainWithCentroids(
        e, "vec_id", "embedding", k = 8, iters = 2)
      val postings = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
        .join(assigned.withColumnRenamed("cluster", "cell"), Seq("id"))
      graft.ops.IvfIndex.queryFrames(e.filter(col("vec_id") < 20),
        "vec_id", "embedding", cents, postings, topK = 5, nProbe = 3)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings),
      c0 AS (
        SELECT CAST(id % 8 AS INTEGER) AS cell, arg_min(qv, id) AS s,
          CAST(1 AS BIGINT) AS n
        FROM q GROUP BY 1),
      a1 AS (
        SELECT id, qv, cell FROM (
          SELECT q.id, q.qv, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c0 c) WHERE rn = 1),
      s1 AS (
        SELECT cell, list(sv ORDER BY pos) AS s_new FROM (
          SELECT cell, kv.pos AS pos, CAST(SUM(kv.v) AS BIGINT) AS sv
          FROM (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
                  i -> {'pos': i, 'v': qv[i]})) AS kv FROM a1) t
          GROUP BY cell, kv.pos) t2
        GROUP BY cell),
      n1 AS (SELECT cell, COUNT(*) AS n_new FROM a1 GROUP BY cell),
      c1 AS (
        SELECT c0.cell, COALESCE(s1.s_new, c0.s) AS s,
          CAST(COALESCE(n1.n_new, c0.n) AS BIGINT) AS n
        FROM c0 LEFT JOIN s1 USING (cell) LEFT JOIN n1 USING (cell)),
      a2 AS (
        SELECT id, qv, cell FROM (
          SELECT q.id, q.qv, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c1 c) WHERE rn = 1),
      s2 AS (
        SELECT cell, list(sv ORDER BY pos) AS s_new FROM (
          SELECT cell, kv.pos AS pos, CAST(SUM(kv.v) AS BIGINT) AS sv
          FROM (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
                  i -> {'pos': i, 'v': qv[i]})) AS kv FROM a2) t
          GROUP BY cell, kv.pos) t2
        GROUP BY cell),
      n2 AS (SELECT cell, COUNT(*) AS n_new FROM a2 GROUP BY cell),
      c2 AS (
        SELECT c1.cell, COALESCE(s2.s_new, c1.s) AS s,
          CAST(COALESCE(n2.n_new, c1.n) AS BIGINT) AS n
        FROM c1 LEFT JOIN s2 USING (cell) LEFT JOIN n2 USING (cell)),
      a3 AS (
        SELECT id, cell FROM (
          SELECT q.id, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c2 c) WHERE rn = 1),
      qs AS (
        SELECT vec_id AS query_id, embedding AS qvec,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qqv
        FROM embeddings WHERE vec_id < 20),
      probes AS (
        SELECT query_id, qvec, cell FROM (
          SELECT qs.query_id, qs.qvec, c.cell,
            row_number() OVER (PARTITION BY qs.query_id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> qs.qqv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM qs CROSS JOIN c2 c) WHERE rn <= 3),
      cvecs AS (
        SELECT a3.id AS neighbor_id, e.embedding AS cvec, a3.cell
        FROM a3 JOIN embeddings e ON e.vec_id = a3.id),
      cand AS (
        SELECT query_id, qvec, neighbor_id, cvec
        FROM probes JOIN cvecs USING (cell)
        WHERE query_id <> neighbor_id)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(qvec, cvec) DESC, neighbor_id)
            AS rank
        FROM cand)
      WHERE rank <= 5 ORDER BY query_id, rank"""))


  /** The PERSISTED-index form of [[td_ann_ivf_trained]]
    * ([[graft.ops.IvfIndex]]): train → publish centroids + cell-sorted
    * postings in one store commit → probe the stored index. Same
    * params, same math, so it shares td_ann_ivf_trained's oracle —
    * which makes the round-trip itself (schema sidecars, inverted-list
    * layout, frozen-codebook probe) hash-checked. The index dir is
    * keyed by applicationId + data dir so concurrent sessions and
    * scale factors never collide (the same staging discipline as
    * q20_partition_prune); a second run in one session rebuilds into
    * it, replacing the index in one commit. */
  val td_ann_ivf_indexed = GraftQuery(
    "td_ann_ivf_indexed",
    (s, dir) => {
      val stage = s"${System.getProperty("java.io.tmpdir")}/graft_ivfidx_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      graft.ops.Bucketing.cleanupOnExit(stage)
      val e = Tables.embeddings(s, dir)
      graft.ops.IvfIndex.build(e, "vec_id", "embedding", stage,
        kCells = 8, iters = 2)
      graft.ops.IvfIndex.query(e.filter(col("vec_id") < 20),
        "vec_id", "embedding", stage, topK = 5, nProbe = 3)
        .orderBy(col("query_id"), col("rank"))
    },
    td_ann_ivf_trained.oracle)


  /** Product-quantization ADC top-k ([[graft.ops.ProductQuant]]):
    * encode 64-dim vectors as M=4 one-byte codes, score candidates via
    * the asymmetric-distance lookup table — all integer arithmetic, so
    * the full encode → score → rank pipeline is value-checked. */
  val td_pq_adc = GraftQuery(
    "td_pq_adc",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = graft.ops.ProductQuant.standInCodebook(
        e, "vec_id", "embedding", dim = 64, m = 4, k = 8)
      val codes = graft.ops.ProductQuant.encode(
        e, cb, "vec_id", "embedding", dim = 64, m = 4)
      graft.ops.ProductQuant.adcTopK(
        e.filter(col("vec_id") < 20), codes, cb,
        "vec_id", "embedding", dim = 64, m = 4, topK = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings),
      subs AS (
        SELECT id, s.sub AS sub, s.v AS xvec FROM (
          SELECT id, unnest(list_transform(range(0, 4),
            i -> {'sub': i, 'v': list_slice(qv, i*16 + 1, i*16 + 16)})) AS s
          FROM q) t),
      cb AS (
        SELECT sub, code, cvec FROM (
          SELECT sub, CAST(id % 8 AS INTEGER) AS code, xvec AS cvec,
            row_number() OVER (PARTITION BY sub, id % 8 ORDER BY id) AS rn
          FROM subs) WHERE rn = 1),
      enc AS (
        SELECT id, sub, code FROM (
          SELECT s.id, s.sub, c.code,
            row_number() OVER (PARTITION BY s.id, s.sub ORDER BY
              list_sum(list_transform(range(1, len(c.cvec)+1),
                i -> c.cvec[i] * c.cvec[i]))
              - 2 * list_sum(list_transform(range(1, len(c.cvec)+1),
                i -> s.xvec[i] * c.cvec[i])),
              c.code) AS rn
          FROM subs s JOIN cb c USING (sub)) WHERE rn = 1),
      partial AS (
        SELECT qs.id AS query_id, qs.sub, c.code,
          list_sum(list_transform(range(1, len(c.cvec)+1),
            i -> qs.xvec[i] * c.cvec[i])) AS p
        FROM (SELECT * FROM subs WHERE id < 20) qs
        JOIN cb c USING (sub)),
      scored AS (
        SELECT p.query_id, e.id AS neighbor_id,
          CAST(SUM(p.p) AS BIGINT) AS adc_score
        FROM enc e JOIN partial p ON p.sub = e.sub AND p.code = e.code
        WHERE p.query_id <> e.id
        GROUP BY 1, 2)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        adc_score FROM (
        SELECT query_id, neighbor_id, adc_score,
          row_number() OVER (PARTITION BY query_id
            ORDER BY adc_score DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5
      ORDER BY query_id, rank"""))


  /** IVF+PQ composed index ([[graft.ops.ProductQuant.ivfAdcTopK]]) —
    * oracled END TO END: the SQL chains td_ann_ivf_trained's exact
    * 2-iteration k-means (coarse quantizer + probes) into td_pq_adc's
    * codebook/encode/ADC scoring, all in the same exact integer
    * arithmetic, so the full production composition (train → assign →
    * probe → code → ADC-rank) is value-checked, not just its parts.
    * AnnQualitySpec additionally pins a recall floor. */
  val td_ann_ivfpq = GraftQuery(
    "td_ann_ivfpq",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.ops.ProductQuant.ivfAdcTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", dim = 64, m = 4, k = 8, topK = 5,
        kCells = 8, iters = 2, nProbe = 3)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings),
      c0 AS (
        SELECT CAST(id % 8 AS INTEGER) AS cell, arg_min(qv, id) AS s,
          CAST(1 AS BIGINT) AS n
        FROM q GROUP BY 1),
      a1 AS (
        SELECT id, qv, cell FROM (
          SELECT q.id, q.qv, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c0 c) WHERE rn = 1),
      s1 AS (
        SELECT cell, list(sv ORDER BY pos) AS s_new FROM (
          SELECT cell, kv.pos AS pos, CAST(SUM(kv.v) AS BIGINT) AS sv
          FROM (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
                  i -> {'pos': i, 'v': qv[i]})) AS kv FROM a1) t
          GROUP BY cell, kv.pos) t2
        GROUP BY cell),
      n1 AS (SELECT cell, COUNT(*) AS n_new FROM a1 GROUP BY cell),
      c1 AS (
        SELECT c0.cell, COALESCE(s1.s_new, c0.s) AS s,
          CAST(COALESCE(n1.n_new, c0.n) AS BIGINT) AS n
        FROM c0 LEFT JOIN s1 USING (cell) LEFT JOIN n1 USING (cell)),
      a2 AS (
        SELECT id, qv, cell FROM (
          SELECT q.id, q.qv, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c1 c) WHERE rn = 1),
      s2 AS (
        SELECT cell, list(sv ORDER BY pos) AS s_new FROM (
          SELECT cell, kv.pos AS pos, CAST(SUM(kv.v) AS BIGINT) AS sv
          FROM (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
                  i -> {'pos': i, 'v': qv[i]})) AS kv FROM a2) t
          GROUP BY cell, kv.pos) t2
        GROUP BY cell),
      n2 AS (SELECT cell, COUNT(*) AS n_new FROM a2 GROUP BY cell),
      c2 AS (
        SELECT c1.cell, COALESCE(s2.s_new, c1.s) AS s,
          CAST(COALESCE(n2.n_new, c1.n) AS BIGINT) AS n
        FROM c1 LEFT JOIN s2 USING (cell) LEFT JOIN n2 USING (cell)),
      a3 AS (
        SELECT id, cell FROM (
          SELECT q.id, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c2 c) WHERE rn = 1),
      subs AS (
        SELECT id, s.sub AS sub, s.v AS xvec FROM (
          SELECT id, unnest(list_transform(range(0, 4),
            i -> {'sub': i, 'v': list_slice(qv, i*16 + 1, i*16 + 16)})) AS s
          FROM q) t),
      cb AS (
        SELECT sub, code, cvec FROM (
          SELECT sub, CAST(id % 8 AS INTEGER) AS code, xvec AS cvec,
            row_number() OVER (PARTITION BY sub, id % 8 ORDER BY id) AS rn
          FROM subs) WHERE rn = 1),
      enc AS (
        SELECT id, sub, code FROM (
          SELECT s.id, s.sub, c.code,
            row_number() OVER (PARTITION BY s.id, s.sub ORDER BY
              list_sum(list_transform(range(1, len(c.cvec)+1),
                i -> c.cvec[i] * c.cvec[i]))
              - 2 * list_sum(list_transform(range(1, len(c.cvec)+1),
                i -> s.xvec[i] * c.cvec[i])),
              c.code) AS rn
          FROM subs s JOIN cb c USING (sub)) WHERE rn = 1),
      codes AS (
        SELECT e.id, e.sub, e.code, a3.cell
        FROM enc e JOIN a3 ON a3.id = e.id),
      qs AS (
        SELECT vec_id AS query_id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qqv
        FROM embeddings WHERE vec_id < 20),
      probes AS (
        SELECT query_id, qqv, cell FROM (
          SELECT qs.query_id, qs.qqv, c.cell,
            row_number() OVER (PARTITION BY qs.query_id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> qs.qqv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM qs CROSS JOIN c2 c) WHERE rn <= 3),
      qsubs AS (
        SELECT query_id, cell, s.sub AS sub, s.v AS xvec FROM (
          SELECT query_id, cell, unnest(list_transform(range(0, 4),
            i -> {'sub': i, 'v': list_slice(qqv, i*16 + 1, i*16 + 16)})) AS s
          FROM probes) t),
      partial AS (
        SELECT p.query_id, p.cell, p.sub, c.code,
          list_sum(list_transform(range(1, len(c.cvec)+1),
            i -> p.xvec[i] * c.cvec[i])) AS p
        FROM qsubs p JOIN cb c USING (sub)),
      scored AS (
        SELECT p.query_id, k.id AS neighbor_id,
          CAST(SUM(p.p) AS BIGINT) AS adc_score
        FROM codes k JOIN partial p
          ON p.cell = k.cell AND p.sub = k.sub AND p.code = k.code
        WHERE p.query_id <> k.id
        GROUP BY 1, 2)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        adc_score FROM (
        SELECT query_id, neighbor_id, adc_score,
          row_number() OVER (PARTITION BY query_id
            ORDER BY adc_score DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5
      ORDER BY query_id, rank"""))


  /** Multi-table sign-LSH with md5-derived integer planes
    * ([[graft.ops.Similarity.lshTopKMd5]]): the oracled form of LSH
    * ANN — the DuckDB side recomputes the identical plane matrix from
    * its own md5 and the sign dots are exact integer arithmetic, so
    * buckets, collisions, and ranks all hash-match. The production
    * path ([[graft.ops.Similarity.lshTopK]], xxhash64-seeded Gaussian
    * planes) is intentionally NOT registered as a driver query: its
    * buckets are engine-defined, so a value oracle is impossible by
    * construction; it stays covered by OpsSpec ("lshTopK cosines agree
    * with the exhaustive ranking") and AnnQualitySpec's recall floor
    * (0.33 at the same table/probe budget as this query's 0.36), and
    * this query hash-checks the same bucket/collision/rank pipeline. */
  val td_ann_lsh_md5 = GraftQuery(
    "td_ann_lsh_md5",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.lshTopKMd5(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, dim = 64,
        numPlanes = 8, numTables = 8)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS id, embedding AS v,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings),
      planes AS (
        SELECT t, p, j,
          ('0x' || substr(md5(CAST(t AS VARCHAR) || ',' ||
              CAST(p AS VARCHAR) || ',' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
            % 1000001 - 500000 AS c
        FROM range(8) tt(t), range(8) pp(p), range(64) jj(j)),
      dots AS (
        SELECT q.id, pl.t, pl.p,
          SUM(q.qv[CAST(pl.j AS INT) + 1] * pl.c) AS d
        FROM q CROSS JOIN planes pl
        GROUP BY 1, 2, 3),
      buckets AS (
        SELECT id, t,
          SUM(CASE WHEN d > 0 THEN (1::BIGINT << CAST(p AS INT))
              ELSE 0 END) AS bucket
        FROM dots GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT qb.id AS query_id, cb.id AS neighbor_id
        FROM buckets qb JOIN buckets cb
          ON qb.t = cb.t AND cb.bucket IN
            (qb.bucket, xor(qb.bucket, 1), xor(qb.bucket, 2))
        WHERE qb.id < 20 AND qb.id <> cb.id),
      scored AS (
        SELECT c.query_id, c.neighbor_id,
          list_cosine_similarity(a.v, b.v) AS cos
        FROM cand c
        JOIN q a ON a.id = c.query_id
        JOIN q b ON b.id = c.neighbor_id)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5
      ORDER BY query_id, rank"""))


  /** Semantic decontamination
    * ([[graft.ops.Similarity.semanticContamination]]): the embedding
    * sibling of td_decontam/td_fuzzy_decontam — catches the leakage
    * class n-grams structurally miss (paraphrase, translation, format
    * shuffle). Benchmark = 15 verbatim vector copies re-id'd above
    * 5000, so every contaminated doc scores cosine ≈ 1.0 against its
    * copy while the fixture's organic pairs top out ~0.51 — both far
    * from the 0.8 threshold, immune to cross-engine float divergence
    * (the td_embedding_neardup disposition; `cos` itself is excluded
    * from the output). Each flagged doc has exactly one match, so the
    * best-match tie-break never rides on float ordering. */
  val td_semantic_decontam = GraftQuery(
    "td_semantic_decontam",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      val corpus = e.filter(col("vec_id") < 400)
      val bench = e.filter(col("vec_id") < 100 &&
          pmod(col("vec_id"), lit(7)) === 0)
        .select((col("vec_id") + 5000L).as("bench_id"),
          col("embedding").as("bvec"))
      Similarity.semanticContamination(corpus, "vec_id", "embedding",
          bench, "bench_id", "bvec", threshold = 0.8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some("""WITH bench AS (
        SELECT vec_id + 5000 AS bench_id, embedding FROM embeddings
        WHERE vec_id < 100 AND vec_id % 7 = 0),
      m AS (
        SELECT c.vec_id AS doc_id, b.bench_id,
          list_cosine_similarity(c.embedding, b.embedding) AS cos
        FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400) c
        CROSS JOIN bench b)
      SELECT doc_id, bench_id, n_matches FROM (
        SELECT doc_id, bench_id,
          CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_matches,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY cos DESC, bench_id) AS rn
        FROM m WHERE cos >= 0.8)
      WHERE rn = 1 ORDER BY doc_id"""))


  /** SemDeDup: semantic near-dup pairs via coarse-quantizer cells +
    * within-cell exact cosine. The codebook is the same deterministic
    * one as [[td_ann_ivf]], so the oracle recomputes the WHOLE
    * pipeline — cell assignment included. `cos` itself is excluded
    * from the output (float-sum divergence ~1e-7 cross-engine; same
    * disposition as td_embedding_neardup). */
  val td_semdedup = GraftQuery(
    "td_semdedup",
    (s, dir) => {
      // plant exact duplicate vectors (cos ≈ 1.0, organic pairs max
      // ~0.51 in the fixture): every reported pair sits far from the
      // 0.8 threshold on BOTH sides, so the float-sum divergence
      // between engines can't flip membership. Planted ids never win
      // arg_min, so the codebook is unchanged by the planting.
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val corpus = graft.fixtures.Planted.corpus(e,
        lit(true) -> Seq("vec_id" -> (col("vec_id") + 1000000L)))
      // `cell` stays OUT of the output: a vector whose top-2 centroid
      // similarities differ by less than the engines' ~1e-7 float-sum
      // divergence can be celled differently per engine. The planted
      // PAIR is immune (identical vectors always share a cell), so
      // pair membership is stable — the cell label is not.
      Similarity.semanticNearDuplicates(
        corpus, "vec_id", "embedding", 0.8, nCells = 16)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
      cent AS (
        SELECT CAST(vec_id % 16 AS INTEGER) AS cell,
               arg_min(embedding, vec_id) AS centroid
        FROM corpus GROUP BY 1),
      asg AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC,
                       c.cell) AS rn
          FROM corpus e CROSS JOIN cent c)
        WHERE rn = 1)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.8
      ORDER BY id_a, id_b"""))


  /** SQ8 scalar-quantized ANN ([[graft.ops.ScalarQuant]]): per-
    * dimension int8 affine codes (4× compression at 64 dims), scored
    * asymmetrically — the query keeps its full quantized vector, the
    * corpus contributes one byte per dimension. Stats, codes, and
    * scores are exact integer arithmetic, so the full stats → encode
    * → score → rank pipeline hash-matches the SQL oracle. */
  val td_ann_sq8 = GraftQuery(
    "td_ann_sq8",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val stats = graft.ops.ScalarQuant.dimStats(e, "embedding")
      val codes = graft.ops.ScalarQuant.encode(e, stats, "vec_id", "embedding")
      graft.ops.ScalarQuant.adcTopK(
        e.filter(col("vec_id") < 20), codes, stats,
        "vec_id", "embedding", topK = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings),
      dims AS (
        SELECT i, MIN(qv[i]) AS mn, MAX(qv[i]) AS mx
        FROM q CROSS JOIN range(1, 65) t(i) GROUP BY i),
      codes AS (
        SELECT q.id, d.i,
          LEAST(255, GREATEST(0,
            ((qv[d.i] - d.mn) * 255) // GREATEST(d.mx - d.mn, 1))) AS code
        FROM q CROSS JOIN dims d),
      scored AS (
        SELECT p.id AS query_id, c.id AS neighbor_id,
          CAST(SUM(p.qv[c.i] * (d.mn * 255 + c.code * (d.mx - d.mn)))
            AS BIGINT) AS score
        FROM codes c
        JOIN dims d USING (i)
        CROSS JOIN (SELECT * FROM q WHERE id < 20) p
        WHERE p.id <> c.id
        GROUP BY 1, 2)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, score
      FROM (
        SELECT query_id, neighbor_id, score,
          row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5
      ORDER BY query_id, rank"""))


  /** Persisted IVF index with SQ8-compressed postings
    * ([[graft.ops.IvfIndex.buildSq8]]/[[graft.ops.IvfIndex.querySq8]]):
    * the FAISS `IVF…,SQ8` production trade — inverted lists hold one
    * byte per dimension, probes read the postings with a pushed
    * `cell IN (probed)` filter and rank by the exact-integer ADC score. Oracled END TO END: the SQL chains
    * td_ann_ivf_trained's unrolled 2-iteration k-means into
    * td_ann_sq8's stats/encode/score pipeline with the candidate set
    * restricted to each query's 3 probed cells, so training,
    * assignment, compression, the parquet round-trip, pruning, and
    * ranking are all value-checked in one hash. */
  val td_ann_ivf_sq8 = GraftQuery(
    "td_ann_ivf_sq8",
    (s, dir) => {
      val stage = s"${System.getProperty("java.io.tmpdir")}/graft_ivfsq8_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      graft.ops.Bucketing.cleanupOnExit(stage)
      val e = Tables.embeddings(s, dir)
      graft.ops.IvfIndex.buildSq8(e, "vec_id", "embedding", stage,
        kCells = 8, iters = 2)
      graft.ops.IvfIndex.querySq8(e.filter(col("vec_id") < 20),
        "vec_id", "embedding", stage, topK = 5, nProbe = 3)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings),
      c0 AS (
        SELECT CAST(id % 8 AS INTEGER) AS cell, arg_min(qv, id) AS s,
          CAST(1 AS BIGINT) AS n
        FROM q GROUP BY 1),
      a1 AS (
        SELECT id, qv, cell FROM (
          SELECT q.id, q.qv, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c0 c) WHERE rn = 1),
      s1 AS (
        SELECT cell, list(sv ORDER BY pos) AS s_new FROM (
          SELECT cell, kv.pos AS pos, CAST(SUM(kv.v) AS BIGINT) AS sv
          FROM (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
                  i -> {'pos': i, 'v': qv[i]})) AS kv FROM a1) t
          GROUP BY cell, kv.pos) t2
        GROUP BY cell),
      n1 AS (SELECT cell, COUNT(*) AS n_new FROM a1 GROUP BY cell),
      c1 AS (
        SELECT c0.cell, COALESCE(s1.s_new, c0.s) AS s,
          CAST(COALESCE(n1.n_new, c0.n) AS BIGINT) AS n
        FROM c0 LEFT JOIN s1 USING (cell) LEFT JOIN n1 USING (cell)),
      a2 AS (
        SELECT id, qv, cell FROM (
          SELECT q.id, q.qv, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c1 c) WHERE rn = 1),
      s2 AS (
        SELECT cell, list(sv ORDER BY pos) AS s_new FROM (
          SELECT cell, kv.pos AS pos, CAST(SUM(kv.v) AS BIGINT) AS sv
          FROM (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
                  i -> {'pos': i, 'v': qv[i]})) AS kv FROM a2) t
          GROUP BY cell, kv.pos) t2
        GROUP BY cell),
      n2 AS (SELECT cell, COUNT(*) AS n_new FROM a2 GROUP BY cell),
      c2 AS (
        SELECT c1.cell, COALESCE(s2.s_new, c1.s) AS s,
          CAST(COALESCE(n2.n_new, c1.n) AS BIGINT) AS n
        FROM c1 LEFT JOIN s2 USING (cell) LEFT JOIN n2 USING (cell)),
      a3 AS (
        SELECT id, cell FROM (
          SELECT q.id, c.cell,
            row_number() OVER (PARTITION BY q.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> q.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM q CROSS JOIN c2 c) WHERE rn = 1),
      dims AS (
        SELECT i, MIN(qv[i]) AS mn, MAX(qv[i]) AS mx
        FROM q CROSS JOIN range(1, 65) t(i) GROUP BY i),
      codes AS (
        SELECT q.id, d.i,
          LEAST(255, GREATEST(0,
            ((qv[d.i] - d.mn) * 255) // GREATEST(d.mx - d.mn, 1))) AS code,
          a3.cell
        FROM q CROSS JOIN dims d JOIN a3 ON a3.id = q.id),
      probes AS (
        SELECT query_id, qqv, cell FROM (
          SELECT qs.id AS query_id, qs.qv AS qqv, c.cell,
            row_number() OVER (PARTITION BY qs.id ORDER BY
              CAST(list_sum(list_transform(range(1, len(c.s)+1),
                     i -> c.s[i] * c.s[i]))
                - 2 * c.n * list_sum(list_transform(range(1, len(c.s)+1),
                     i -> qs.qv[i] * c.s[i])) AS DOUBLE)
                / CAST(c.n * c.n AS DOUBLE),
              c.cell) AS rn
          FROM (SELECT * FROM q WHERE id < 20) qs
          CROSS JOIN c2 c) WHERE rn <= 3),
      scored AS (
        SELECT p.query_id, k.id AS neighbor_id,
          CAST(SUM(p.qqv[k.i] * (d.mn * 255 + k.code * (d.mx - d.mn)))
            AS BIGINT) AS score
        FROM codes k
        JOIN dims d USING (i)
        JOIN probes p ON p.cell = k.cell
        WHERE p.query_id <> k.id
        GROUP BY 1, 2)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, score
      FROM (
        SELECT query_id, neighbor_id, score,
          row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5
      ORDER BY query_id, rank"""))

}
