package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard. Designed for the 100 TB
  * path: every stage is a narrow map or a shuffle keyed by
  * hash/band-bucket; candidate pair generation never goes O(n²) on
  * the full corpus — only within LSH buckets.
  */
object Dedup {

  /** Cross-document boilerplate removal (the CCNet paragraph-hash
    * discipline, applied per line): a line whose hash occurs in
    * ≥ `minDocs` DISTINCT documents is boilerplate — navigation,
    * headers, footers, cookie banners — and is dropped from every
    * document; document-unique content is untouched. This is the
    * cross-corpus complement of the within-doc repetition signals in
    * [[TextAnalysis]]: boilerplate is invisible inside one doc and
    * only identifiable against the corpus.
    *
    * Scale shape: one line-keyed shuffle for the distinct-doc counts
    * (map-side partial — the hot "© footer" key collapses to ONE row
    * per partition before the exchange), then the verdict flows back
    * as a BROADCAST of only the boilerplate keys, and one per-doc
    * ordered reassembly whose aggregation state is bounded by the
    * document's own line count (the G2 ordered-string_agg fold).
    * Never all-pairs, never a collect of the corpus.
    *
    * The join-back side matters at 100 TB: boilerplate lines are BY
    * DEFINITION the hottest keys in the corpus (the ones appearing in
    * millions of documents), so a shuffled `lines ⋈ counts` on lfp
    * concentrates every copy of the footer into one partition. The
    * default instead broadcasts the distinct BOILERPLATE keys only —
    * bounded by the number of distinct repeated lines, not by corpus
    * size — so `lines` is never re-partitioned by the skewed key. Pass
    * `broadcastBoilers = false` when that set is too large to ship
    * (corpora that are mostly duplicates); the fallback is a left join
    * against the boiler-key sliver where AQE skew-join splitting
    * applies.
    * @return (id, n_lines, n_removed, cleaned) — cleaned preserves
    *         original line order; a fully-boilerplate doc yields ""
    */
  def removeBoilerplateLines(docs: DataFrame, idCol: String,
      textCol: String, minDocs: Long,
      broadcastBoilers: Boolean = true): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be at least 2")
    val lines = docs.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lfp", md5(col("line")))
    val boilers = lines.groupBy(col("lfp"))
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("lfp"), lit(true).as("is_boiler"))
    val verdictSide = if (broadcastBoilers) broadcast(boilers) else boilers
    lines.join(verdictSide, Seq("lfp"), "left")
      .withColumn("is_boiler", coalesce(col("is_boiler"), lit(false)))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_removed"),
        concat_ws("\n", transform(
          array_sort(collect_list(
            when(!col("is_boiler"), struct(col("pos"), col("line"))))),
          e => e.getField("line"))).as("cleaned"))
  }

  /** Per-source dedup ROI — "which source do I dedup FIRST?": token
    * mass each source would shed under global exact dedup (its docs
    * that are non-canonical copies of anything in the corpus,
    * including cross-source copies — the canonical owner keeps the
    * tokens, every other holder counts them as savings). The ranking
    * signal that orders a 100 TB dedup campaign by payoff before any
    * expensive near-dup pass runs.
    *
    * Scale shape: one narrow pass for (fp, tokens), ONE md5-keyed
    * shuffle for the canonical winner (min-aggregate, map-side
    * combinable — [[exact]]'s shape), then the |fp| winner table
    * equi-joins back and per-source sums combine map-side. No pair
    * join, no text through any exchange.
    *
    * @return (source, n_docs, n_dup_docs, total_tokens, dup_tokens,
    *         savings_ppm) — savings_ppm = dup_tokens·10⁶ div
    *         max(total_tokens, 1).
    */
  def dedupRoi(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
        col(sourceCol).as("source"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_words"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .localCheckpoint(eager = false)
    val winners = base.groupBy(col("fp")).agg(min(col("id")).as("keep_id"))
    base.join(winners, Seq("fp"))
      .withColumn("is_dup", col("id") =!= col("keep_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_words")).as("total_tokens"),
        sum(when(col("is_dup"), col("n_words")).otherwise(0L))
          .as("dup_tokens"))
      .withColumn("savings_ppm",
        expr("dup_tokens * 1000000 div greatest(total_tokens, 1)"))
  }

  /** Exact dedup: keep the lowest id per content key (default: the
    * whitespace/case-normalized md5 fingerprint; pass e.g.
    * `t => md5(TextAnalysis.canonicalize(t))` for
    * punctuation-insensitive identity). One shuffle on the
    * (high-cardinality, well-distributed) md5 key; min-aggregate is
    * map-side combinable.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String,
            key: Column => Column = TextAnalysis.fingerprint): DataFrame =
    docs
      .withColumn("fp", key(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Word n-gram shingle set of a text column — native codegen
    * expression (one tight loop per row; the `transform` lambda form
    * evaluates interpreted per shingle, ~3× slower at corpus scale).
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.plans.NativeCols.wordShingles(text, n)

  /** The original higher-order-function form of [[shingles]] — kept as
    * the semantic reference the native expression is verified against
    * (VectorExprsSpec). */
  def shinglesFold(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** MinHash signature: for each of `numHashes` seeded hash
    * functions, the min over the shingle set of xxhash64(shingle,
    * seed). Pure column expressions → codegen, no shuffle.
    */
  def minhashSignature(shingleSet: Column, numHashes: Int = 32): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(shingleSet, s => xxhash64(s, lit(seed))))
    }: _*)

  /** md5-derived sibling of [[minhashSignature]] (the portable-hash
    * discipline of td_simhash_md5/td_ann_lsh_md5): hash function j is
    * the first 60 bits of md5("j|shingle"), so a SQL oracle can
    * recompute every signature bit-for-bit. Same estimator quality —
    * the only difference is the hash family. Use the xxhash64 form in
    * production (one fused codegen call per shingle vs an md5 string
    * round-trip). */
  def minhashSignatureMd5(shingleSet: Column, numHashes: Int = 32): Column =
    array((0 until numHashes).map { j =>
      array_min(transform(shingleSet, s =>
        conv(substring(md5(concat_ws("|", lit(j.toString), s)), 1, 15),
          16, 10).cast("long")))
    }: _*)

  /** (band, bucket) generator for a signature column: one row per
    * band, bucket = xxhash64 of that band's signature slice. The ONE
    * definition of the banding scheme — shared by the doc-level and
    * group-level paths so they can never drift. */
  private def bandBucketCols(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    posexplode(transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rows + 1, lit(rows)))))
  }

  /** Banding stage shared by the batch and incremental LSH paths:
    * (id, shingle-set, band, bucket) with one row per (doc, band). */
  private def bandedSignatures(docs: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int,
      shingleN: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sh", shingles(col("text"), shingleN))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("id"), col("sh"),
        bandBucketCols(col("sig"), numHashes, bands).as(Seq("band", "bucket")))

  /** Exact-Jaccard verification of candidate pairs carrying both
    * shingle sets; emits (id_a, id_b, jaccard ≥ threshold). */
  private def verifyPairs(cand: DataFrame, threshold: Double): DataFrame =
    cand
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** MinHash LSH candidate pairs, verified by true Jaccard.
    *
    * shingle → signature (map) → explode bands (map) → shuffle by
    * (band, bucket-hash) → pairs within buckets (tiny) → distinct →
    * exact-Jaccard filter on the pair (map). The only O(n²) work is
    * inside buckets; band/bucket keying is the scale path.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold
    */
  def minhashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.8,
      shingleN: Int = 3): DataFrame = {
    val banded =
      bandedSignatures(docs, idCol, textCol, numHashes, bands, shingleN)
    val a = banded.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    verifyPairs(
      a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b")),
      threshold)
  }

  /** Persistable LSH band index of a corpus: (id, sh, band, bucket).
    * Built ONCE per corpus and appended per ingest batch, so
    * signatures are never recomputed — the property that makes
    * near-dup checks affordable on a growing 100 TB corpus. The
    * shingle sets ride along so verification never reopens corpus
    * text; if index bytes matter more than a verify-time lookup,
    * store (id, band, bucket) and re-fetch candidate texts with a
    * keyed join instead. */
  def minhashBandIndex(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleN: Int = 3): DataFrame =
    bandedSignatures(docs, idCol, textCol, numHashes, bands, shingleN)
      // constant per index (compresses to nothing in parquet); probed
      // by incrementalNearDuplicates so a probe with different LSH
      // parameters fails loudly instead of silently matching nothing
      .withColumn("params", lit(s"$numHashes:$bands:$shingleN"))

  /** Incremental near-dup detection: signatures are computed for the
    * NEW batch only and probed against an existing [[minhashBandIndex]].
    * Returns every verified pair with at least one new-side member —
    * new×index collisions plus new×new pairs — with id_a < id_b.
    * Per batch the work is O(|batch| + collisions): the index is
    * probed by a (band, bucket) equi-join, never rescanned, and the
    * corpus text is never touched. New ids must be disjoint from
    * index ids (append the batch's index rows after the check).
    */
  def incrementalNearDuplicates(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.8,
      shingleN: Int = 3): DataFrame = {
    // bucket hashes only match when both sides banded identically; a
    // parameter mismatch would otherwise report ~zero near-dups with
    // no error (silent corpus contamination). One-row driver read.
    require(index.columns.contains("params"),
      "index lacks the params column — was it built by minhashBandIndex?")
    val expected = s"$numHashes:$bands:$shingleN"
    index.select("params").limit(1).collect().headOption.foreach { r =>
      require(r.getString(0) == expected,
        s"index was built with LSH params ${r.getString(0)}, " +
          s"but the probe uses $expected")
    }
    val nb =
      bandedSignatures(newDocs, idCol, textCol, numHashes, bands, shingleN)
        .localCheckpoint(eager = false) // feeds the probe AND the self-join
    val a = nb.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val b = index.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    // new × index: order the pair by id after the join (ids interleave)
    val cross = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("swap", col("id_a") > col("id_b"))
      .select(
        when(col("swap"), col("id_b")).otherwise(col("id_a")).as("id_a"),
        when(col("swap"), col("id_a")).otherwise(col("id_b")).as("id_b"),
        when(col("swap"), col("sh_b")).otherwise(col("sh_a")).as("sh_a"),
        when(col("swap"), col("sh_a")).otherwise(col("sh_b")).as("sh_b"))
    val withinNew = a.join(
      nb.select(col("band"), col("bucket"),
        col("id").as("id_b"), col("sh").as("sh_b")),
      Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
    verifyPairs(cross.unionByName(withinNew), threshold)
  }

  /** Collection-level near-duplicate detection: each GROUP (source,
    * domain, user, repo…) is treated as the union of its documents'
    * shingle sets, and groups whose set-Jaccard clears `threshold`
    * are reported. Finds wholesale-copied collections that doc-level
    * dedup only sees one pair at a time.
    *
    * Scale shape: the group signature is per-seed `min(xxhash64)`
    * over the exploded (group, shingle) relation — a map-side
    * combinable hash aggregate; no group's text is ever collected.
    * Candidates come from the same band/bucket keying as the
    * doc-level LSH, so nothing is all-pairs on groups either. The
    * exact verify joins the (group, shingle) relation with itself ON
    * THE SHINGLE restricted to candidate groups — bounded by
    * candidate count, not group count.
    *
    * @return (grp_a, grp_b, jaccard) with grp_a < grp_b, jaccard ≥ threshold
    */
  def groupNearDuplicates(docs: DataFrame, groupCol: String,
      textCol: String, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.8, shingleN: Int = 3): DataFrame = {
    // the deduplicated (group, shingle) relation drives BOTH the
    // signature agg and the verify join — materialize once
    val shingled = docs
      .select(col(groupCol).as("grp"),
        explode(shingles(col(textCol), shingleN)).as("s"))
      .distinct()
      .localCheckpoint(eager = false)
    val sigs = shingled.groupBy(col("grp"))
      .agg(min(xxhash64(col("s"), lit(0))).as("h0"),
        (1 until numHashes).map(seed =>
          min(xxhash64(col("s"), lit(seed))).as(s"h$seed")): _*)
      .select(col("grp"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
    val banded = sigs.select(col("grp"),
      bandBucketCols(col("sig"), numHashes, bands).as(Seq("band", "bucket")))
    val cand = banded.select(col("band"), col("bucket"), col("grp").as("grp_a"))
      .join(banded.select(col("band"), col("bucket"), col("grp").as("grp_b")),
        Seq("band", "bucket"))
      .filter(col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"))
      .distinct()
    val sizes = shingled.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    // restrict to candidate groups BEFORE the shingle-keyed join:
    // common shingles co-occur across many groups, and pair blowup is
    // bounded by candidates only if non-candidates never enter
    val candGroups = cand.select(col("grp_a").as("grp"))
      .unionByName(cand.select(col("grp_b").as("grp"))).distinct()
    val restricted = shingled.join(candGroups, Seq("grp"), "left_semi")
    val inter = restricted.select(col("grp").as("grp_a"), col("s"))
      .join(restricted.select(col("grp").as("grp_b"), col("s")), Seq("s"))
      .filter(col("grp_a") < col("grp_b"))
      .join(cand, Seq("grp_a", "grp_b"), "left_semi")
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col("grp").as("grp_a"), col("n").as("na")), Seq("grp_a"))
      .join(sizes.select(col("grp").as("grp_b"), col("n").as("nb")), Seq("grp_b"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("grp_a"), col("grp_b"), col("jaccard"))
  }

  /** 64-bit SimHash over whitespace tokens: bit i = majority vote of
    * bit i across token hashes. Single pass over the token array — a
    * 64-counter accumulator folded once (the naive per-bit form
    * re-hashes every token 64×; Catalyst CSE does not rescue it).
    */
  def simhash(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    val hashes = transform(toks, t => xxhash64(t))
    val bitIdx = sequence(lit(0), lit(63))
    val ones = aggregate(
      hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, bitIdx,
        (a, i) => a + call_function("getbit", h, i).cast("int")))
    val bits = zip_with(ones, bitIdx,
      (v, _) => when(v * 2 > size(hashes), lit(1L)).otherwise(lit(0L)))
    // fold MSB→LSB: (acc << 1) | bit — shift, not *2: ANSI mode would
    // reject the deliberate wrap when bit 63 is set
    aggregate(reverse(bits), lit(0L), (acc, b) => shiftleft(acc, 1).bitwiseOR(b))
  }

  /** DataFrame-level SimHash — same definition as [[simhash]], but
    * explode + grouped bit-count sums so the whole thing stays in
    * whole-stage codegen (higher-order-function lambdas are
    * interpreted per element; at corpus scale that loses to one
    * shuffle with map-side combine).
    */
  def simhashDf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashOver(docs, idCol, textCol, xxhash64(_), bits = 64)

  /** SimHash with md5-derived 60-bit token hashes (first 15 hex chars
    * of md5 → bigint). Slower to hash than xxhash64, but md5 exists in
    * every engine, so the full simhash value is oracle-checkable —
    * the portability/speed trade both variants document.
    *
    * Native one-pass expression ([[graft.plans.SimHashMd5Expression]]):
    * a NARROW MAP — the explode + 60-bit-sum groupBy twin below
    * shuffles one row per token just to compute a per-doc value.
    * OpsSpec proves native ≡ shuffle form value-for-value. */
  def simhashMd5Df(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.plans.NativeCols.simhashMd5(col(textCol)).as("simhash"))

  /** Shuffle-form twin of [[simhashMd5Df]] — the spec's equivalence
    * reference. */
  private[graft] def simhashMd5DfFold(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    simhashOver(docs, idCol, textCol,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"), bits = 60)

  private def simhashOver(docs: DataFrame, idCol: String, textCol: String,
                          hashOf: Column => Column, bits: Int): DataFrame = {
    val hashes = docs
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("id"), hashOf(col("tok")).as("h"))
    val bitSums = (0 until bits).map(i =>
      sum(call_function("getbit", col("h"), lit(i))).as(s"b$i"))
    val counted = hashes.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sim = (0 until bits)
      .map(i => when(col(s"b$i") * 2 > col("n"), shiftleft(lit(1L), i))
        .otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    // parity with the column form: NULL text → NULL simhash (the fold
    // over a NULL token array is NULL); zero-token docs (no exploded
    // rows) → 0, like the column version's empty fold
    docs.select(col(idCol).as("id"), col(textCol).isNull.as("__null_text"))
      .join(counted.select(col("id"), sim.as("simhash")), Seq("id"), "left")
      .select(col("id"),
        when(col("__null_text"), lit(null).cast("long"))
          .otherwise(coalesce(col("simhash"), lit(0L))).as("simhash"))
  }

  /** SimHash near-dup candidates: block on 16-bit chunks (any pair
    * within Hamming distance 3 shares at least one of 4 chunks —
    * pigeonhole), verify by true Hamming distance.
    */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3): DataFrame = {
    // 4 chunks guarantee a shared chunk only up to 3 differing bits
    // (pigeonhole); a larger radius would silently lose recall
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming unsupported: 16-bit-chunk blocking is only " +
        "complete for maxHamming <= 3")
    val withSim = simhashDf(docs, idCol, textCol)
      .select(col("id"), col("simhash").as("sim"))
    val chunked = withSim.select(
      col("id"), col("sim"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("sim"), c * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk", "ckey")))
    val a = chunked.select(col("chunk"), col("ckey"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col("id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components over an undirected near-duplicate pair
    * graph — the step that turns pairwise matches into dedup CLUSTERS
    * (keep `min(id)` per component, drop the rest). Iterative
    * min-label propagation: each round every vertex takes the min
    * label among itself and its neighbors; converges in O(graph
    * diameter) rounds (tiny for dup clusters — they are
    * near-cliques). Each round is one keyed join + one map-side-
    * combinable min-aggregate, both shuffling only the (pairs-sized,
    * ≪ corpus) edge list; lineage is cut per round via `strategy`
    * ([[Lineage.Local]] default; pass [[Lineage.Reliable]] on
    * preemptible clusters) so plans don't grow with iteration count.
    *
    * @param pairs columns `id_a`, `id_b` (one row per undirected pair)
    * @return (id, comp) for every vertex that appears in `pairs`,
    *         comp = min vertex id of its component
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          strategy: Lineage.Strategy = Lineage.Local): DataFrame = {
    val (edges, edgesPath) = Lineage.cutTracked(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .distinct(), strategy)
    var (labels, labelsPath) = Lineage.cutTracked(
      edges.select(col("u").as("id")).distinct()
        .withColumn("comp", col("id")), strategy)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels.withColumnRenamed("id", "u"), Seq("u"))
        .select(col("v").as("id"), col("comp"))
      val (next, nextPath) = Lineage.cutTracked(
        labels.unionByName(prop)
          .groupBy(col("id")).agg(min(col("comp")).as("comp")), strategy)
      // one tiny driver-side count per round IS the convergence test —
      // it reads only the diff join, never collects the labels
      val changed = next
        .join(labels.withColumnRenamed("comp", "prev"), Seq("id"))
        .filter(col("comp") =!= col("prev")).limit(1).count()
      converged = changed == 0
      // the previous round's labels state is dead: `next` is
      // materialized and the convergence probe above was its last
      // reader — retire it now so scratch stays O(1) states
      Lineage.delete(labelsPath)
      labels = next
      labelsPath = nextPath
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: not converged after $maxIter rounds")
    // the returned plan reads only the final labels state; the edge
    // list has no further reader
    Lineage.delete(edgesPath)
    labels
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the round-count-safe alternative to
    * [[connectedComponents]]. Min-label propagation needs O(graph
    * diameter) rounds: fine for near-dup clusters (near-cliques),
    * quadratic-feeling on chain-shaped graphs (shared-boilerplate
    * chains A~B~C~… that real corpora do produce). The alternating
    * star rounds rewire every vertex's neighbors to the minimum of
    * its closed neighborhood — large-star the strictly-larger
    * neighbors, small-star the smaller ones — and the edge set
    * provably flattens into a star forest rooted at each component's
    * minimum in O(log n) rounds, independent of diameter.
    *
    * Scale shape per round: two groupBy(min) + join pairs, all
    * edge-list-sized (edges only ever re-point at smaller ids; the
    * set never grows beyond the undirected closure), min-aggregates
    * map-side combinable, lineage cut per round via `strategy`
    * ([[Lineage.Local]] default; [[Lineage.Reliable]] for
    * preemptible clusters).
    *
    * Same contract as [[connectedComponents]]: `pairs` has
    * `id_a`/`id_b` (one row per undirected pair); returns (id, comp)
    * for every vertex appearing in `pairs`, comp = min id of its
    * component. Verified equivalent to label propagation by property
    * spec, and by the shared oracle of `td_cc_largestar` /
    * `td_dedup_components`.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 25,
                              strategy: Lineage.Strategy = Lineage.Local): DataFrame = {
    val vertices = Lineage.cut(
      pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id")))
        .distinct(), strategy)
    // canonical (u = larger, v = smaller); self-pairs contribute nothing
    var (edges, edgesPath) = Lineage.cutTracked(
      pairs
        .select(greatest(col("id_a"), col("id_b")).as("u"),
          least(col("id_a"), col("id_b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(), strategy)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: u's neighbors v > u re-link to m = min(N(u) ∪ {u})
      val und = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = und.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m, so u > v
        .distinct()
      // small-star: u's smaller neighbors (ls is already (larger u,
      // smaller v)) and u itself re-link to m = min of that set
      val mins2 = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val linked = ls.join(mins2, Seq("u"))
      val (next, nextPath) = Lineage.cutTracked(
        linked
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(linked.select(col("u"), col("m").as("v")))
          .distinct(), strategy)
      // fixed point = star forest; one limit-1 short-circuit job over
      // the union of both anti-join directions, edge-sized inputs
      val changed = next.join(edges, Seq("u", "v"), "left_anti")
        .unionByName(edges.join(next, Seq("u", "v"), "left_anti"))
        .limit(1).count()
      converged = changed == 0
      // previous round's edge state: `next` is materialized and the
      // anti-join probe was its last reader — retire it eagerly
      Lineage.delete(edgesPath)
      edges = next
      edgesPath = nextPath
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar: not converged after $maxIter rounds")
    // post-condition: the composition fixed point must be a star
    // forest (≤1 out-edge per vertex); a spurious fixed point would
    // otherwise silently emit multiple comp rows per vertex below.
    // Limit-1 probe on edge-sized input — one cheap job, runs once.
    val multi = edges.groupBy(col("u")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count()
    if (multi != 0) throw new IllegalStateException(
      "connectedComponentsStar: converged state is not a star forest " +
        "(a vertex has more than one out-edge) — labels would be corrupt")
    // star forest: every non-root has exactly one (id, root) edge;
    // roots (and any vertex whose component collapsed onto it) label
    // themselves
    val nonRoots = edges.select(col("u").as("id"), col("v").as("comp"))
    val roots = vertices
      .join(nonRoots.select(col("id")), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    nonRoots.unionByName(roots)
  }

  /** Duplication profile — the dedup-PLANNING statistic run before
    * committing to a dedup pass over 100 TB: exact-duplicate cluster
    * sizes ([[graft.ops.TextAnalysis.fingerprint]] groups) bucketed
    * into powers of two, with per-bucket cluster/doc counts, the doc
    * count dedup would remove (`extra_docs` = docs − clusters), and
    * the corpus-level removable mass `dup_ppm` repeated per row. All
    * integer arithmetic — bit-exact anywhere.
    *
    * Scale shape: one md5-keyed shuffle with map-side partial counts
    * (16-byte keys, text never moves); the histogram and the window
    * run on |clusters| then |buckets| rows.
    */
  def dupProfile(docs: DataFrame, textCol: String): DataFrame = {
    val clusters = docs
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .groupBy(col("__fp")).agg(count(lit(1)).as("__sz"))
    clusters
      .withColumn("bucket",
        when(col("__sz") <= 1L, lit(1L))
          .otherwise(expr("shiftleft(1L, length(bin(__sz - 1)))")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("__sz")).as("n_docs"))
      .withColumn("extra_docs", col("n_docs") - col("n_clusters"))
      .withColumn("dup_ppm",
        expr("sum(extra_docs) over () * 1000000 div sum(n_docs) over ()"))
  }

  /** End-to-end near-duplicate removal: LSH candidate pairs →
    * connected components over the verified-pair graph → keep only
    * the lowest-id member of each duplicate cluster. Returns the
    * surviving rows of `docs` with all columns intact.
    *
    * Scale shape: the pair graph is tiny relative to the corpus
    * (edges exist only between near-duplicates), so the component
    * step runs on edges ≪ corpus; the final step is one left-anti
    * join of the corpus against the removed-id set. No broadcast
    * hint: the planner broadcasts when the set is under threshold
    * and falls back to a shuffle join on dup-heavy corpora where
    * removed ids are a large fraction of the input.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 32, bands: Int = 16,
                  threshold: Double = 0.8): DataFrame = {
    val pairs =
      minhashNearDuplicates(docs, idCol, textCol, numHashes, bands, threshold)
    // comp = min id reachable from each node (incl. itself): every
    // non-minimum member of a cluster is removed, the minimum survives
    val removed = connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(removed, Seq(idCol), "left_anti")
  }

  /** [[dedupCorpus]] with quality-aware canonical selection: within
    * each near-duplicate cluster, keep the member with the HIGHEST
    * `scoreCol` (ties break on lowest id) instead of the lowest id —
    * what a production pipeline does when duplicates differ in
    * quality (e.g. one copy is truncated).
    *
    * Same scale shape as [[dedupCorpus]]: components run on the pair
    * graph (≪ corpus); scores are looked up for cluster MEMBERS only,
    * and both member lookup and the final anti join are unhinted so
    * the planner broadcasts small sets and shuffles large ones.
    */
  def dedupCorpusBy(docs: DataFrame, idCol: String, textCol: String,
                    scoreCol: String, numHashes: Int = 32,
                    bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val pairs =
      minhashNearDuplicates(docs, idCol, textCol, numHashes, bands, threshold)
    val members = connectedComponents(pairs) // (id, comp) — members only
    val scored = docs.select(col(idCol).as("id"), col(scoreCol).as("__score"))
      .join(members, Seq("id"))
      .localCheckpoint(eager = false) // feeds the winner aggs AND removed
    // winner per cluster: max score, then min id — as two map-side-
    // combinable aggregates + joins, never a row_number window over
    // comp: a boilerplate mega-cluster (the very thing dedup mines)
    // would funnel every member into ONE un-splittable window task,
    // while partial aggs collapse it within each task and the joins
    // are AQE-skew-splittable. Ties on the exact stored score value
    // break to min id — no float arithmetic, so the equality join is
    // exact.
    val best = scored.groupBy(col("comp"))
      .agg(max(col("__score")).as("__score"))
    val winners = scored.join(best, Seq("comp", "__score"))
      .groupBy(col("comp")).agg(min(col("id")).as("__win"))
    val removed = scored
      .join(winners, Seq("comp"))
      .filter(col("id") =!= col("__win"))
      .select(col("id").as(idCol))
    docs.join(removed, Seq(idCol), "left_anti")
  }

  /** Chunk-level dedup (the paragraph/line dedup of training
    * pipelines, applied to fixed token windows since the fixture has
    * no newlines): explode each doc into `chunkTokens`-sized chunks,
    * keep each distinct chunk only for the lowest (doc_id, chunk_idx),
    * report per-doc retention.
    *
    * Scale shape: the keep/drop winner per distinct chunk is a
    * map-side-combinable `min(struct(id, chunk_idx))` aggregate —
    * duplicate chunks collapse within each task BEFORE the exchange,
    * so the chunk-keyed shuffle carries one row per distinct chunk
    * per task, and nothing sorts (the previous row_number window
    * sort-shuffled every chunk occurrence corpus-wide). The per-doc
    * chunk count never needs the exploded relation at all: tokens
    * are non-empty by construction, so it is `ceil(n_tokens /
    * chunkTokens)` computed in a narrow projection.
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 20): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val nChunks = greatest(
      ((size(toks) + lit(chunkTokens - 1)) / lit(chunkTokens)).cast("int"), lit(1))
    val chunks = docs.select(
      col(idCol).as("id"),
      posexplode(transform(
        sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * chunkTokens + 1, lit(chunkTokens)))))
        .as(Seq("chunk_idx", "chunk")))
      .filter(length(col("chunk")) > 0)
    // lexicographic min(struct) = (lowest id, then chunk_idx) — the
    // same winner the ordered window picked
    val kept = chunks
      .groupBy(col("chunk"))
      .agg(min(struct(col("id"), col("chunk_idx"))).as("w"))
      .groupBy(col("w.id").as("id"))
      .agg(count(lit(1)).as("n_kept"))
    // empty/whitespace-only docs produce no non-empty chunks (0-chunk
    // rows, not omitted); non-empty docs have ceil(tokens/chunkTokens)
    // non-empty chunks — tokens() never yields "" so no chunk in
    // range is empty
    docs.select(col(idCol).as("id"),
      ((size(toks) + lit(chunkTokens - 1)) / lit(chunkTokens))
        .cast("long").as("n_chunks"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Distinct-character set of a text column. Compute this ONCE per
    * row before any pairwise join — recomputing it inside an O(n²)
    * pair comparison multiplies the split cost by the fan-out.
    */
  def charSet(text: Column): Column = array_distinct(split(text, ""))

  /** Set Jaccard over two precomputed element arrays:
    * |A∩B| / |A∪B| as exact int/int double division. */
  def setJaccard(ca: Column, cb: Column): Column =
    size(array_intersect(ca, cb)).cast("double") / size(array_union(ca, cb))

  /** ASCII char set as a 128-bit bitmap `(lo, hi)` — for ASCII text
    * this represents exactly the distinct-char set, and pairwise
    * Jaccard becomes two ANDs + two ORs + popcounts instead of array
    * intersect/union: the O(n²) pair stage drops from array-walk cost
    * to a handful of ALU ops. Non-ASCII chars (ascii() > 127) must
    * not occur — use [[charSet]]/[[setJaccard]] there.
    */
  def charMask(text: Column): Column =
    graft.plans.NativeCols.charMask(text)

  /** The original interpreted fold form of [[charMask]] — kept as the
    * semantic reference the native codegen expression is verified
    * against (VectorExprsSpec). */
  def charMaskFold(text: Column): Column = {
    val zero = struct(lit(0L).as("lo"), lit(0L).as("hi"))
    aggregate(split(text, ""), zero, (acc, ch) => {
      val a = ascii(ch)
      val bit = call_function("shiftleft", lit(1L), pmod(a, lit(64)))
      struct(
        when(a < 64, acc.getField("lo").bitwiseOR(bit))
          .otherwise(acc.getField("lo")).as("lo"),
        when(a >= 64, acc.getField("hi").bitwiseOR(bit))
          .otherwise(acc.getField("hi")).as("hi"))
    })
  }

  /** Benchmark decontamination: count, per corpus doc, the distinct
    * word n-gram shingles it shares with ANY document in `benchmark`
    * (the eval sets a training corpus must not contain). Docs with a
    * hit get dropped or down-weighted downstream.
    *
    * Scale shape: the benchmark shingle set is tiny next to a 100 TB
    * corpus, so it broadcasts; the corpus side is a narrow codegen'd
    * shingle-explode→broadcast-join pipeline whose only shuffle is the
    * final per-doc count over the (small) matched subset. Per-doc
    * shingle arrays are already distinct, so a plain count suffices.
    */
  def contaminatedDocs(corpus: DataFrame, benchmark: DataFrame,
                       idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val benchShingles = broadcast(
      benchmark.select(explode(shingles(col(textCol), n)).as("shingle"))
        .distinct())
    corpus
      .select(col(idCol), explode(shingles(col(textCol), n)).as("shingle"))
      .join(benchShingles, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** FUZZY benchmark decontamination: corpus docs whose shingle-set
    * Jaccard against ANY benchmark document clears `threshold`,
    * reporting the best-matching benchmark doc — catches paraphrased
    * or lightly-edited eval contamination that exact shared-shingle
    * counting ([[contaminatedDocs]]) understates.
    *
    * Blocking is LOSSLESS (not LSH): jaccard ≥ t > 0 implies at least
    * one shared shingle, so the candidate set "corpus doc shares ≥ 1
    * shingle with benchmark doc" cannot miss a qualifying pair. The
    * benchmark side is tiny next to a 100 TB corpus and broadcasts;
    * the exact Jaccard verify runs once per candidate pair.
    *
    * @return (id, bench_id, jaccard) — one row per contaminated
    *         corpus doc, best benchmark match (ties → lowest id)
    */
  def fuzzyContaminatedDocs(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val c = corpus
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .localCheckpoint(eager = false) // feeds blocking AND verify
    val b = benchmark
      .select(col(idCol).as("bench_id"), shingles(col(textCol), n).as("bsh"))
    val cand = c.select(col("id"), explode(col("sh")).as("shingle"))
      .join(broadcast(
        b.select(col("bench_id"), explode(col("bsh")).as("shingle"))),
        Seq("shingle"))
      .select(col("id"), col("bench_id")).distinct()
    cand
      .join(c, Seq("id"))
      .join(broadcast(b), Seq("bench_id"))
      .withColumn("jaccard",
        size(array_intersect(col("sh"), col("bsh"))).cast("double") /
          size(array_union(col("sh"), col("bsh"))))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id"))
      .agg(max_by(struct(col("bench_id"), col("jaccard")),
        struct(col("jaccard"), -col("bench_id"))).as("w"))
      .select(col("id"), col("w.bench_id").as("bench_id"),
        col("w.jaccard").as("jaccard"))
  }

  /** Scale-safe exact char-set similarity self-join: every pair
    * (id_a < id_b) within a `partCol` group whose ASCII char-set
    * Jaccard ≥ `threshold` — WITHOUT an all-pairs join.
    *
    * Candidates come from the canonical prefix filter (SSJoin /
    * ppjoin): under a fixed total order on chars, two sets with
    * jac ≥ t MUST share an element within their first
    * `|S| − ⌈t·|S|⌉ + 1` chars — take w = min(A∩B) in the order;
    * at most `|A| − ⌈t·|A|⌉` elements of A∖B precede it. So exploding
    * only the prefix and equi-joining on (part, char) is lossless.
    * The order is ascending document frequency per part (rarest chars
    * first) — with t = 0.9 the prefix is ≤ ~0.1·|charset|+1 rare
    * chars, so candidate buckets are keyed by rare chars and stay
    * small; a char-code order would bucket every doc under ' '.
    * Survivors are verified with the exact bit-parallel
    * [[maskJaccard]] residual. Same keyed-candidates shape as
    * [[minhashNearDuplicates]], but exact, not probabilistic.
    *
    * Scale: a map-side-partial df aggregate + join-back on
    * (part, bit), one window shuffle keyed by doc (≤ 128 rows each), one
    * shuffle on (part, char) buckets, one distinct on pairs. Output
    * is the similar-pair set itself — the only O(n²) left is a part
    * whose docs genuinely all match, which is output size, not plan
    * waste.
    */
  /** Fold-form twin of the native char-bit-set builder — the spec's
    * equivalence reference. */
  private[graft] def charBitsFold(text: Column): Column = {
    val bitId = (c: Column) => {
      val a = ascii(c)
      when(a < 64, a).otherwise(lit(64) + pmod(a, lit(64)))
    }
    array_distinct(transform(split(text, ""), bitId))
  }

  def charJaccardSimilar(docs: DataFrame, partCol: String, idCol: String,
      textCol: String, threshold: Double = 0.9): DataFrame = {
    // candidate keys live in the SAME folded 128-bit space the mask
    // verifies in (bit = cp if cp<64 else 64 + cp mod 64): with exact
    // chars as keys, two non-ASCII chars that alias to one mask bit
    // would verify as similar yet never meet in the equi-join —
    // silent misses off the ASCII contract. In mask space the prefix
    // filter is lossless w.r.t. maskJaccard for ANY input. Native
    // one-pass bit-set builder (graft.plans.CharBitsExpression) — the
    // split+transform form evaluated an interpreted lambda per char;
    // VectorExprsSpec proves native ≡ fold.
    val d = docs.select(
      col(partCol).as("part"), col(idCol).as("id"),
      charMask(col(textCol)).as("cm"),
      graft.plans.NativeCols.charBits(col(textCol)).as("cs"))

    // per-(part,bit) document frequency → the prefix order
    val exploded = d.select(col("part"), col("id"), col("cm"),
      explode(col("cs")).as("ch"))
    // df as a map-side-combinable aggregate joined back, never
    // count(*) OVER (PARTITION BY part, ch): a bit set in every doc
    // of a giant part (' ' is) would funnel ALL its occurrences into
    // one un-splittable window task; the groupBy collapses it to one
    // row per task map-side and the join-back is AQE-skew-splittable
    val dfTab = exploded.groupBy(col("part"), col("ch"))
      .agg(count(lit(1)).as("df"))
    val withDf = exploded.join(dfTab, Seq("part", "ch"))

    // keep each doc's prefix: chars ranked by (df, ch) up to
    // |S| − ⌈t·|S|⌉ + 1
    val byDoc = Window.partitionBy("part", "id")
    val prefix = withDf
      .withColumn("pos", row_number().over(byDoc.orderBy("df", "ch")))
      .withColumn("n", count(lit(1)).over(byDoc))
      .filter(col("pos") <=
        col("n") - ceil(lit(threshold) * col("n")).cast("int") + 1)
      .select(col("part"), col("ch"), col("id"), col("cm"))

    val a = prefix.select(col("part"), col("ch"),
      col("id").as("id_a"), col("cm").as("ma"))
    val b = prefix.select(col("part"), col("ch"),
      col("id").as("id_b"), col("cm").as("mb"))
    a.join(b, Seq("part", "ch"))
      .filter(col("id_a") < col("id_b"))
      .select(col("part"), col("id_a"), col("id_b"), col("ma"), col("mb"))
      .distinct() // a pair may share several prefix chars
      .withColumn("jac", maskJaccard(col("ma"), col("mb")))
      .filter(col("jac") >= threshold)
      .select(col("part"), col("id_a"), col("id_b"), col("jac"))
  }

  /** EXACT word-n-gram Jaccard near-duplicate pairs — the
    * deterministic sibling of [[minhashNearDuplicates]] (which is
    * probabilistic: a pair missing every band stays unseen). Same
    * prefix-filter candidate generation as [[charJaccardSimilar]],
    * lifted from ASCII char sets to shingle sets: under the global
    * ascending-document-frequency shingle order, two sets with
    * jac ≥ t must share a shingle within their first
    * `|S| − ⌈t·|S|⌉ + 1` elements, so exploding only that prefix and
    * equi-joining on the shingle is lossless. Candidates are verified
    * with the full `array_intersect` Jaccard.
    *
    * Scale: shingling is a narrow codegen map; the df aggregate is
    * map-side partial (one row per distinct shingle) and the df
    * join-back and candidate join shuffle by shingle — rare-shingle keys, so
    * buckets stay small (with t = 0.8 the prefix is ~20% of each
    * doc's shingles, and common shingles never enter it); the verify
    * join is |candidates|, not |corpus|².
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold
    */
  def ngramJaccardSimilar(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // d feeds prefix generation AND the verify join — localCheckpoint
    // or the shingle scan runs twice (two-branch recompute landmine)
    val d = docs
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .localCheckpoint(eager = false)

    val exploded = d.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("g"))
    // df as a map-side-combinable aggregate joined back, never
    // count(*) OVER (PARTITION BY g): the window form funnels every
    // occurrence of a boilerplate shingle into ONE task with no
    // partial aggregation and no AQE skew-split — precisely the hot
    // key the rarity order exists to demote. The groupBy collapses a
    // hot gram map-side; the join-back is skew-splittable.
    val dfTab = exploded.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val withDf = exploded.join(dfTab, Seq("g"))

    val byDoc = Window.partitionBy("id")
    val prefix = withDf
      .withColumn("pos", row_number().over(byDoc.orderBy("df", "g")))
      .filter(col("pos") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh")).cast("int") + 1)
      .select(col("g"), col("id"))

    val cand = prefix.select(col("g"), col("id").as("id_a"))
      .join(prefix.select(col("g"), col("id").as("id_b")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair may share several prefix shingles

    cand
      .join(d.select(col("id").as("id_a"), col("sh").as("sa")), Seq("id_a"))
      .join(d.select(col("id").as("id_b"), col("sh").as("sb")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      // one division of two small ints — bit-identical across engines
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Edit-distance near-duplicates: shingle-Jaccard candidate
    * blocking + exact `levenshtein` verification.
    *
    * The blocking is RECALL-COMPLETE for the target pairs, not a
    * heuristic: one edit (insert/delete/substitute a word) destroys
    * at most `shingleN` of a document's word n-gram shingles, so any
    * pair within `maxDist` WORD edits has shingle Jaccard ≥
    * (L − maxDist·shingleN) / (L + maxDist·shingleN) for shingle-set
    * size L — pass a `jaccardFloor` at or below that bound for the
    * shortest documents you care about and no qualifying pair can be
    * missed. Candidates come from [[ngramJaccardSimilar]] (prefix-
    * filtered, ≡-all-pairs proven by spec), the residual is one
    * `levenshtein` call per candidate — never per cross-pair.
    *
    * @return (id_a, id_b, edit_dist) with id_a < id_b,
    *         edit_dist ≤ maxDist (CHARACTER-level distance, the
    *         standard levenshtein both engines implement)
    */
  def editDistanceNearDuplicates(docs: DataFrame, idCol: String,
      textCol: String, maxDist: Int, shingleN: Int = 3,
      jaccardFloor: Double = 0.5): DataFrame = {
    val texts = docs.select(col(idCol).as("__eid"), col(textCol).as("__etext"))
    ngramJaccardSimilar(docs, idCol, textCol, shingleN, jaccardFloor)
      .select(col("id_a"), col("id_b"))
      .join(texts.withColumnRenamed("__eid", "id_a")
        .withColumnRenamed("__etext", "__ta"), Seq("id_a"))
      .join(texts.withColumnRenamed("__eid", "id_b")
        .withColumnRenamed("__etext", "__tb"), Seq("id_b"))
      // bounded variant: the DP early-exits once a row of the matrix
      // exceeds maxDist (returns -1) — for far-apart candidates this
      // is O(len·maxDist) instead of O(len²)
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** Jaccard over two [[charMask]] bitmaps (exact ASCII char-set
    * Jaccard, bit-parallel). */
  def maskJaccard(ma: Column, mb: Column): Column = {
    def pop(c: Column) = bit_count(c).cast("int")
    val inter = pop(ma.getField("lo").bitwiseAND(mb.getField("lo"))) +
      pop(ma.getField("hi").bitwiseAND(mb.getField("hi")))
    val union = pop(ma.getField("lo").bitwiseOR(mb.getField("lo"))) +
      pop(ma.getField("hi").bitwiseOR(mb.getField("hi")))
    inter.cast("double") / union
  }
}
