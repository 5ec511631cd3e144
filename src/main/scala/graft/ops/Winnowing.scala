package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gram- and span-level duplication: asymmetric containment mining
  * (prefix-filter), duplicated-span detection/removal (Lee et al.
  * substring dedup at word-n-gram granularity), winnowing (MOSS)
  * fingerprint pairing with a persistable incremental index, and
  * span-level benchmark decontamination — the sub-document complement
  * of [[Dedup]]'s whole-document families, split out of it when that
  * module outgrew its bound (round-14 motion; behavior unchanged).
  *
  * Scale discipline shared with [[Dedup]]: nothing is all-pairs —
  * candidates come from rare-gram prefix filters, df-capped
  * fingerprint hashes, or broadcast benchmark gram sets; exchanges
  * key on grams/hashes/doc ids, never on document text.
  */
object Winnowing {

  /** EXACT asymmetric near-CONTAINMENT pairs — the dedup signal
    * Jaccard misses by construction: a short document wholly embedded
    * in a long one (a quoted article, a wrapped license header, a
    * template carrying a payload) has jac ≈ |B|/|A| → 0 while
    * containment C(B,A) = |S(B)∩S(A)| / |S(B)| = 1. Mining C ≥ t is
    * the quote/subset detector a curation pipeline runs alongside the
    * symmetric near-dup pass.
    *
    * Candidate generation is the prefix-filter lemma applied to the
    * CONTAINED side only (containment is one-sided, so only B's set
    * size bounds the overlap): if |S(B)∩S(A)| ≥ t·|S(B)|, then under
    * any global shingle order A must hit one of B's first
    * `|S(B)| − ⌈t·|S(B)|⌉ + 1` shingles. Ordering by ascending
    * document frequency makes those prefix shingles the RAREST ones,
    * so the candidate equi-join keys on rare shingles and stays
    * skew-light; the container side indexes ALL its shingles (it must
    * — nothing bounds |S(A)|), which is the same one
    * exploded-corpus-keyed-by-shingle exchange the df join-back
    * already pays in [[Dedup.ngramJaccardSimilar]]. Verify is exact
    * `array_intersect` over the candidate set only.
    *
    * `minShingles` drops trivially small contained sides (a 1-shingle
    * doc is "contained" in anything sharing a phrase) — a report
    * knob, not a correctness device.
    *
    * @return (id_contained, id_container, containment) with
    *         containment ≥ threshold, ids distinct; near-identical
    *         pairs legitimately appear in both directions.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      minShingles: Int = 4): DataFrame = {
    // d feeds prefix generation AND the verify join — localCheckpoint
    // or the shingle scan runs twice (two-branch recompute landmine)
    val d = docs
      .select(col(idCol).as("id"), Dedup.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(eager = false)

    val exploded = d.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("g"))
    // Document frequency as a map-side-combinable aggregate joined
    // back — never count(*) OVER (PARTITION BY g): the window form
    // has no partial aggregation and can never be skew-split, so
    // every occurrence of a boilerplate shingle (license headers,
    // template text) funnels into ONE task before the rarity order
    // is even computed. The groupBy collapses a hot gram to one row
    // per task map-side, and the join-back is AQE-skew-splittable.
    val dfTab = exploded.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val withDf = exploded.join(dfTab, Seq("g"))

    val byDoc = Window.partitionBy("id")
    // Required overlap r = the SMALLEST integer with r/n_sh >=
    // threshold under the SAME double comparison the verify filter
    // uses below. ceil(t·n) alone is not that: when fl(t·n) rounds
    // just above an integer k while fl(k/n) >= t still holds, ceil
    // lands on k+1, the prefix shortens by one, and a borderline
    // pair verify WOULD accept is never generated — silently broken
    // losslessness. One widening probe (k−1) restores consistency;
    // the other rounding direction only lengthens the prefix, which
    // costs candidates but never recall.
    val kc = ceil(lit(threshold) * col("n_sh")).cast("int")
    val rReq = when(
      (kc - 1).cast("double") / col("n_sh") >= threshold, kc - 1)
      .otherwise(kc)
    val prefix = withDf
      .filter(col("n_sh") >= minShingles)
      .withColumn("pos", row_number().over(byDoc.orderBy("df", "g")))
      .filter(col("pos") <= col("n_sh") - rReq + 1)
      .select(col("g"), col("id").as("id_in"))

    val cand = prefix
      .join(exploded.select(col("g"), col("id").as("id_out")), Seq("g"))
      .filter(col("id_in") =!= col("id_out"))
      .select(col("id_in"), col("id_out"))
      .distinct() // a pair may share several prefix shingles

    cand
      .join(d.select(col("id").as("id_in"), col("sh").as("si")), Seq("id_in"))
      .join(d.select(col("id").as("id_out"), col("sh").as("so")), Seq("id_out"))
      .withColumn("n_inter", size(array_intersect(col("si"), col("so"))))
      // one division of two small ints — bit-identical across engines
      .withColumn("containment",
        col("n_inter").cast("double") / size(col("si")))
      .filter(col("containment") >= threshold)
      .select(col("id_in").as("id_contained"),
        col("id_out").as("id_container"),
        size(col("si")).as("n_sh_contained"),
        size(col("so")).as("n_sh_container"),
        col("containment"))
  }

  /** The dedup ACTION for [[containmentPairs]]: drop every document
    * that is ≥ `threshold` contained in a STRICTLY DOMINANT other —
    * dominant = larger shingle set, tie broken on lower id, so an
    * identical pair keeps exactly its lowest id (never both, never
    * neither) and a quote always loses to its host. Deterministic,
    * order-free, single-pass over the mined pairs: the drop set is
    * one narrow filter + distinct over pair rows, then one left-anti
    * join back — no components, no iteration (containment into a
    * dominant doc is a directed edge into a strictly greater
    * (size, -id) key, so "drop if any such edge exists" needs no
    * transitive closure).
    *
    * @return the surviving rows of `docs`, all columns intact.
    */
  def dropContained(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      minShingles: Int = 4): DataFrame = {
    val drops = containmentPairs(docs, idCol, textCol, n, threshold,
        minShingles)
      .filter(col("n_sh_container") > col("n_sh_contained") ||
        (col("n_sh_container") === col("n_sh_contained") &&
          col("id_container") < col("id_contained")))
      .select(col("id_contained").as(idCol))
      .distinct()
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** Exact duplicated-span coverage per document — the substring-level
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (2022), at word-n-gram granularity: a
    * position is "duplicated" when it is covered by some word n-gram
    * that also appears in at least `minDocs` distinct documents.
    * Overlapping spans are merged (interval-island window) so each
    * position counts once.
    *
    * Plan shape (100 TB path): explode positioned n-grams (narrow),
    * one shuffle keyed by gram for the distinct-doc count, one keyed
    * join back to positions, one per-doc window — never O(n²); the
    * per-gram group carries only (gram, doc) pairs.
    *
    * @return (id, n_tokens, dup_tokens, dup_ppm) — dup_ppm =
    *         dup_tokens·10⁶ div n_tokens (exact integer arithmetic,
    *         oracle-safe), 0 for empty docs.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame = {
    val base = docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")))

    // grams feeds BOTH the corpus-wide count and the span probe —
    // materialize once (the two-branch recompute landmine). Native
    // one-pass gram builder (a doc under n tokens yields an empty
    // array → posexplode drops it, ≡ the old n_tokens >= n filter).
    val grams = docs
      .select(col(idCol).as("id"),
        posexplode(graft.plans.NativeCols.positionedGrams(col(textCol), n))
          .as(Seq("pos", "gram")))
      .localCheckpoint(eager = false)

    val dupGrams = grams
      .groupBy(col("gram"))
      .agg(countDistinct(col("id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col("gram"))

    val spans = grams.join(dupGrams, Seq("gram"))
      .select(col("id"), col("pos"), (col("pos") + lit(n - 1)).as("e"))

    // Interval-island merge: a span starts a new island iff it begins
    // past the running max end of everything before it.
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val prevMax = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    val covered = spans
      .withColumn("pme", max(col("e")).over(prevMax))
      .withColumn("isl", sum(
        when(col("pme").isNull || col("pos") > col("pme"), 1L)
          .otherwise(0L)).over(byDoc))
      .groupBy(col("id"), col("isl"))
      .agg((max(col("e")) - min(col("pos")) + 1).as("cov"))
      .groupBy(col("id"))
      .agg(sum(col("cov")).cast("long").as("dup_tokens"))

    base.select(col("id"), col("n_tokens"))
      .join(covered, Seq("id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_ppm",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("dup_tokens * 1000000L div n_tokens")))
  }

  /** The TRANSFORM counterpart of [[duplicatedSpans]]: rewrite each
    * document with its cross-document duplicated spans removed (the
    * actual cleaning step of Lee et al.'s substring dedup). A word
    * survives iff no corpus-duplicated n-gram covers its position.
    * Same plan shape as the signal — one extra keyed join from
    * positions back to covered intervals and an ordered per-doc
    * rebuild (collect_list is bounded by the document length, the
    * same bound `tokens` itself carries).
    *
    * @return (id, clean_text, n_tokens, n_kept)
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 5, minDocs: Int = 2): DataFrame = {
    val base = docs
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .withColumn("n_tokens",
        size(TextAnalysis.tokens(col("__text"))))
    // native one-pass gram builder (see duplicatedSpans)
    val grams = docs
      .select(col(idCol).as("id"),
        posexplode(graft.plans.NativeCols.positionedGrams(col(textCol), n))
          .as(Seq("pos", "gram")))
      .localCheckpoint(eager = false)
    val dupGrams = grams
      .groupBy(col("gram"))
      .agg(countDistinct(col("id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col("gram"))
    // per doc: the set of covered word positions, as merged intervals
    val spans = grams.join(dupGrams, Seq("gram"))
      .select(col("id"), col("pos"), (col("pos") + lit(n - 1)).as("e"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val prevMax = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    val islands = spans
      .withColumn("pme", max(col("e")).over(prevMax))
      .withColumn("isl", sum(
        when(col("pme").isNull || col("pos") > col("pme"), 1L)
          .otherwise(0L)).over(byDoc))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
      .groupBy(col("id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("cut"))
    base
      .join(islands, Seq("id"), "left")
      .withColumn("cut", coalesce(col("cut"),
        array().cast("array<struct<s:int,e:int>>")))
      // one compiled excision pass (spec-proved ≡ the exciseFold
      // transform+exists lambda it replaced)
      .withColumn("ex",
        graft.plans.NativeCols.excisePositions(col("__text"), col("cut")))
      .select(col("id"), col("ex.clean_text").as("clean_text"),
        col("n_tokens"), col("ex.n_kept").as("n_kept"))
  }

  /** Winnowing-fingerprint pair mining (the MOSS detector over
    * [[TextAnalysis.winnowingFingerprints]]): documents sharing
    * ≥ `minShared` selected fingerprint hashes. Winnowing's guarantee
    * makes this the SPAN-match complement of minhash: any pair
    * sharing a run of ≥ w+k−1 tokens shares a fingerprint with
    * certainty, while whole-document similarity can be arbitrarily
    * low — the copied-paragraph detector, at 2/(w+1) of the gram
    * volume.
    *
    * Scale shape: the candidate join keys on fingerprint HASHES, and
    * `maxDf` drops hashes selected in more than that many documents
    * before the join — the boilerplate-gram skew guard (same
    * discipline as the boilerplate broadcast): a fingerprint shared
    * by thousands of docs is template text, not plagiarism signal,
    * and would otherwise quadratically dominate the pair fan-out.
    *
    * @return (id_a, id_b, fp_a, fp_b, n_shared) with id_a < id_b;
    *         fp_a/fp_b are each side's distinct-hash fingerprint
    *         counts (df-capped side only feeds n_shared)
    */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 3,
      maxDf: Int = 64): DataFrame = {
    // distinct hashes per doc feed the df filter, the pair join AND
    // the per-doc counts — materialize once
    val fp = TextAnalysis.winnowingFingerprints(docs, idCol, textCol, k, w)
      .select(col("id"), col("h")).distinct()
      .localCheckpoint(eager = false)
    val counts = fp.groupBy(col("id")).agg(count(lit(1)).as("nfp"))
    // df as a map-side-combinable aggregate, not count(*) OVER
    // (PARTITION BY h): the window form funnels every occurrence of a
    // boilerplate fingerprint into one un-splittable task BEFORE the
    // maxDf filter can drop it — the guard itself becomes the 100 TB
    // hot spot. The groupBy partial-aggregates a hot hash within each
    // task, and the join-back keys only on hashes that SURVIVED the
    // cap, so its groups are <= maxDf rows — skew is gone before any
    // h-keyed exchange of fingerprint rows. Both sides of the pair
    // self-join read rare — materialize so the df stage runs once.
    val rareH = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("h"))
    val rare = fp.join(rareH, Seq("h"))
      .localCheckpoint(eager = false)
    rare.select(col("h"), col("id").as("id_a"))
      .join(rare.select(col("h"), col("id").as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(counts.select(col("id").as("id_a"), col("nfp").as("fp_a")),
        Seq("id_a"))
      .join(counts.select(col("id").as("id_b"), col("nfp").as("fp_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("fp_a"), col("fp_b"),
        col("n_shared"))
  }

  /** Persistable winnowing fingerprint index: the distinct (id, h)
    * fingerprint set of a corpus, built ONCE and appended per ingest
    * batch so documents are never re-fingerprinted — the same
    * economics as [[Dedup.minhashBandIndex]], at winnowing's ≈2/(w+1) of
    * the gram volume. Write it SORTED by `h`: probes arrive as hash
    * sets, so parquet row-group min/max stats then prune the scan
    * (the [[DataSkipping]] story applied to the index). The `params`
    * column makes a probe with different (k, w) fail loudly instead
    * of silently matching nothing. */
  def winnowIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame =
    TextAnalysis.winnowingFingerprints(docs, idCol, textCol, k, w)
      .select(col("id"), col("h")).distinct()
      .withColumn("params", lit(s"$k:$w"))

  /** Incremental winnowing probe: fingerprint the NEW batch only and
    * report every pair sharing ≥ `minShared` rare fingerprints with
    * the index or within the batch — the per-batch form of
    * [[winnowingPairs]] for a growing corpus (the incremental-LSH
    * discipline applied to span-match detection). Batch ids must be
    * disjoint from index ids; append the batch's index rows after
    * the check.
    *
    * Scale shape: the index enters through ONE equi-join against the
    * BROADCAST batch hash set (row-group-prunable when the index is
    * stored h-sorted), so per-batch cost is O(|batch| + collisions)
    * — the index is never re-fingerprinted and corpus text is never
    * reopened. The df cap is computed over batch ∪ matched index
    * rows, which equals the GLOBAL df for every hash the batch
    * carries — boilerplate hashes drop before any pair expands.
    *
    * @return (id_a, id_b, n_shared): id_a is always the new-batch
    *         doc; id_b is an index partner, or a batch partner with
    *         id_a < id_b
    */
  def incrementalWinnowPairs(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, k: Int = 4, w: Int = 4,
      minShared: Long = 3, maxDf: Int = 64,
      validateParams: Boolean = true): DataFrame = {
    // validateParams=false is for callers that already proved the
    // directory's params through O(1) metadata (winnowIngest's
    // per-stream sidecar check) — the distinct-params scan here
    // touches the WHOLE index, which an in-loop probe must not pay
    // per micro-batch
    if (validateParams) validateIndexParams(index, k, w)
    val bf = fingerprintSet(newDocs, idCol, textCol, k, w)
      .localCheckpoint(eager = false) // feeds prune, df, and both join sides
    probePairs(bf, index, minShared, maxDf)
  }

  /** Name of the tiny sidecar recording a persisted index directory's
    * (k, w) — written by [[writeWinnowIndex]] and
    * [[graft.stream.DocIngest.winnowIngest]] so probes validate
    * params from O(1) metadata instead of scanning the index per
    * probe. Starts with `_`, so Spark's parquet reader never sees it. */
  private[graft] val paramsSidecarName = "_winnow_params"

  private[graft] def writeParamsSidecar(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, k: Int, w: Int): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, paramsSidecarName), true)
    // END terminator: a truncated sidecar must read as absent (fall
    // back to the scan), never as a shorter params value
    try out.write(s"$k:$w\nEND".getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readParamsSidecar(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, paramsSidecarName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList.filter(_.nonEmpty)
        finally in.close()
      if (lines.length == 2 && lines.last == "END") Some(lines.head)
      else None
    }
  }

  /** Directory-level params guard: O(1) against the
    * [[paramsSidecarName]] sidecar when one exists; otherwise the
    * full [[validateIndexParams]] scan (a pre-sidecar directory, or
    * one assembled by hand-appending winnowIndex frames). The
    * sidecar is trusted because every writer that creates it
    * ([[writeWinnowIndex]], winnowIngest) only ever appends rows with
    * exactly those params. */
  private[graft] def validateIndexParamsAt(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      k: Int, w: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readParamsSidecar(fs, root) match {
      case Some(p) =>
        require(p == s"$k:$w",
          s"index at $indexDir carries winnowing params {$p} (sidecar), " +
            s"but the probe uses $k:$w — wrong index for these params?")
      case None =>
        validateIndexParams(spark.read.parquet(indexDir), k, w)
    }
  }

  /** [[incrementalWinnowPairs]]' params guard: DISTINCT params, not
    * limit(1) — an index assembled by appending winnowIndex outputs
    * with DIFFERENT (k, w) (likely under the append-per-batch
    * lifecycle these ops document) would pass a first-row probe and
    * silently match nothing for the mismatched portion. The distinct
    * is tiny (one row per params value ever appended), but the scan
    * under it touches the whole index — directory-backed callers
    * should validate via [[validateIndexParamsAt]]'s O(1) sidecar
    * (this form remains for in-memory frames and sidecar-less dirs);
    * the eager job at construction time is the existing guard idiom
    * (the 1-row guards at Dedup.scala:259). */
  private[graft] def validateIndexParams(index: DataFrame, k: Int,
      w: Int): Unit = {
    require(index.columns.contains("params"),
      "index lacks the params column — was it built by winnowIndex?")
    val expected = s"$k:$w"
    val seen = index.select("params").distinct().collect()
      .map(_.getString(0)).sorted
    require(seen.forall(_ == expected),
      s"index carries winnowing params {${seen.mkString(", ")}}, " +
        s"but the probe uses $expected — mixed or mismatched " +
        "winnowIndex appends?")
  }

  /** The distinct (id, h, nw=true) fingerprint set of a batch — the
    * probe side [[probePairs]] consumes. */
  private def fingerprintSet(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame =
    TextAnalysis.winnowingFingerprints(docs, idCol, textCol, k, w)
      .select(col("id"), col("h")).distinct()
      .withColumn("nw", lit(true))

  /** The probe core shared by the in-memory and pruned-read forms:
    * join the index on the broadcast batch hash set, df-cap over
    * batch ∪ matched (= global df for every batch-carried hash), then
    * the pair join. Matched index rows pass through DISTINCT: an
    * index assembled by appending overlapping winnowIndex frames can
    * hold the same (id, h) row twice, and a duplicate row would
    * otherwise inflate n_shared past the threshold (the minhash band
    * index tolerates duplicates — components are
    * edge-duplication-invariant — but winnowing's SHARED-COUNT
    * semantics are not; the distinct runs over the matched sliver
    * only, never the index). */
  private def probePairs(bf: DataFrame, index: DataFrame,
      minShared: Long, maxDf: Int): DataFrame = {
    val matched = index
      .join(broadcast(bf.select(col("h")).distinct()), Seq("h"))
      .select(col("id"), col("h")).distinct()
      .withColumn("nw", lit(false))
    // Every h in the union is a batch hash (matched is the index
    // sliver equi-joined on the broadcast batch set), so the df table
    // is bounded by the batch's distinct fingerprints — the same set
    // already broadcast above. BROADCAST the survivors back: the
    // matched rows never shuffle by h for the guard at all, and the
    // map-side partial agg collapses a boilerplate hash within each
    // task instead of funneling its occurrences into one window task.
    val un = bf.unionByName(matched)
      .localCheckpoint(eager = false) // feeds the df agg AND the join
    val rareH = un.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("h"))
    val rare = un.join(broadcast(rareH), Seq("h"))
      .localCheckpoint(eager = false) // both sides of the pair join
    rare.filter(col("nw")).select(col("h"), col("id").as("id_a"))
      .join(rare.select(col("h"), col("id").as("id_b"),
        col("nw").as("nw_b")), Seq("h"))
      .filter(when(col("nw_b"), col("id_a") < col("id_b"))
        .otherwise(lit(true)))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** ENFORCED h-sorted index persistence: write `index` (a
    * [[winnowIndex]] frame) range-clustered and sorted on `h` into
    * ~`nFiles` files under `dir`, then build the [[DataSkipping]]
    * stats manifest for `h` — the write path [[winnowIndex]]'s
    * docstring promises. Each file owns a tight disjoint h-slice, so
    * a probe's hash set prunes to O(|hashes|) files out of the fleet
    * via [[DataSkipping.prunedFilesForKeys]] instead of opening the
    * whole index ([[incrementalWinnowPairsPruned]] is that read
    * path). Returns the index read back from `dir`. */
  def writeWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      index: DataFrame, dir: String, nFiles: Int): DataFrame = {
    require(nFiles > 0, "nFiles must be positive")
    require(index.columns.contains("h") && index.columns.contains("params"),
      "writeWinnowIndex expects a winnowIndex frame (id, h, params)")
    index.repartitionByRange(nFiles, col("h"))
      .sortWithinPartitions(col("h"))
      .write.mode("overwrite").parquet(dir)
    DataSkipping.buildStats(spark, dir, Seq("h"))
    // O(1) params metadata for probes — valid because this write just
    // verified a single-params frame below (the distinct guard runs
    // at probe time for sidecar-less dirs only)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val params = index.select("params").distinct().collect()
      .map(_.getString(0))
    require(params.length == 1,
      s"writeWinnowIndex: mixed params {${params.mkString(", ")}}")
    val Array(k, w) = params.head.split(":").map(_.toInt)
    writeParamsSidecar(fs, root, k, w)
    spark.read.parquet(dir)
  }

  /** [[incrementalWinnowPairs]] against a [[writeWinnowIndex]]-persisted
    * directory, opening ONLY the index files whose h-range may hold a
    * batch fingerprint: the batch's distinct hash set (bounded
    * control-plane — ≈ 2/(w+1) of the batch's grams, `maxProbeKeys`
    * guards the collect) prunes the file list through the stats
    * manifest, and the probe core then runs the exact join on the
    * surviving superset. Params are validated for the WHOLE
    * directory, not the pruned subset — a mismatched-params index
    * would prune to nearly nothing and silently match nothing, the
    * exact failure the guard exists to catch. The validation is O(1)
    * against the [[paramsSidecarName]] sidecar [[writeWinnowIndex]]
    * records (a sidecar-less legacy dir falls back to the full
    * distinct-params scan). Results are identical to the unpruned
    * probe (pruning is a superset guarantee; spec-pinned). */
  def incrementalWinnowPairsPruned(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, indexDir: String, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 3, maxDf: Int = 64,
      maxProbeKeys: Long = 4000000L): DataFrame = {
    validateIndexParamsAt(spark, indexDir, k, w)
    val bf = fingerprintSet(newDocs, idCol, textCol, k, w)
      .localCheckpoint(eager = false) // feeds the key collect AND the probe
    // limit BEFORE collect: the guard must fire without first
    // materializing an over-cap key set on the driver
    val capped = math.toIntExact(maxProbeKeys) + 1
    val keys = bf.select(col("h")).distinct().limit(capped)
      .collect().map(_.getLong(0))
    require(keys.length < capped,
      s"batch carries > $maxProbeKeys distinct fingerprints — split " +
        "the batch or raise maxProbeKeys (the pruned probe collects " +
        "the batch hash set to the driver)")
    val ix = DataSkipping.prunedReadForKeys(spark, indexDir, "h",
      keys.toSeq)
    probePairs(bf, ix, minShared, maxDf)
  }

  /** SPAN-level benchmark decontamination (the n-gram-collision
    * window-removal rule of GPT-3/PaLM-style preprocessing): instead
    * of dropping whole documents on any shared shingle
    * ([[Dedup.contaminatedDocs]]), locate each corpus position whose word
    * `n`-gram appears in the benchmark, widen it by `radius` tokens
    * on each side, merge overlapping windows, and rewrite the
    * document with only the contaminated windows excised — the
    * surgical form that keeps a 10 k-token document losing one
    * leaked question.
    *
    * Scale shape: the benchmark gram set BROADCASTS (eval suites are
    * tiny next to a 100 TB corpus); corpus grams come from the native
    * one-pass `positioned_grams` expression; interval merge is the
    * same per-doc island window [[removeDuplicatedSpans]] uses (one
    * doc-keyed exchange over matched seeds only); the rebuild is a
    * narrow array filter. Docs with no hit pass through unchanged.
    *
    * @return (id, n_tokens, n_spans, removed_tokens, clean_text)
    */
  def scrubContaminationSpans(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      radius: Int = 2): DataFrame = {
    val base = corpus
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .withColumn("n_tokens",
        size(TextAnalysis.tokens(col("__text"))))
      .localCheckpoint(eager = false)
    val benchGrams = broadcast(
      benchmark.select(
          explode(graft.plans.NativeCols.positionedGrams(col(textCol), n))
            .as("gram"))
        .distinct())
    // seed spans: matched gram positions widened by the radius;
    // starts clamp at 0, ends may overshoot the doc length (harmless
    // — positions past the last token never exist to excise)
    val seeds = corpus
      .select(col(idCol).as("id"),
        posexplode(graft.plans.NativeCols.positionedGrams(col(textCol), n))
          .as(Seq("pos", "gram")))
      .join(benchGrams, Seq("gram"))
      .select(col("id"),
        greatest(col("pos") - lit(radius), lit(0)).as("pos"),
        (col("pos") + lit(n - 1 + radius)).as("e"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val prevMax = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    val islands = seeds
      .withColumn("pme", max(col("e")).over(prevMax))
      .withColumn("isl", sum(
        when(col("pme").isNull || col("pos") > col("pme"), 1L)
          .otherwise(0L)).over(byDoc))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
      .groupBy(col("id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("cut"),
        count(lit(1)).as("n_spans"))
    base
      .join(islands, Seq("id"), "left")
      .withColumn("cut", coalesce(col("cut"),
        array().cast("array<struct<s:int,e:int>>")))
      // one compiled excision pass (spec-proved ≡ the exciseFold
      // transform+exists lambda it replaced)
      .withColumn("ex",
        graft.plans.NativeCols.excisePositions(col("__text"), col("cut")))
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (col("n_tokens") - col("ex.n_kept")).cast("long")
          .as("removed_tokens"),
        col("ex.clean_text").as("clean_text"))
  }

  /** The interpreted higher-order-function form of the excision step
    * — the semantic reference [[graft.plans.VectorOps
    * .excisePositions]] is verified against (VectorExprsSpec):
    * per-token membership test against the cut intervals via
    * `transform` + `exists`, rebuild via `concat_ws`. */
  private[graft] def exciseFold(text: Column, cuts: Column): Column = {
    val withIdx = transform(TextAnalysis.tokens(text),
      (t, i) => struct(t.as("t"), i.as("i")))
    val kept = filter(withIdx, x => !exists(cuts, c =>
      x.getField("i") >= c.getField("s") &&
        x.getField("i") <= c.getField("e")))
    struct(
      concat_ws(" ", transform(kept, _.getField("t"))).as("clean_text"),
      size(kept).as("n_kept"))
  }
}
