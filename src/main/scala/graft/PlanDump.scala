package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for the scale-defining queries into
  * PLANS.md — the artifact that shows the physical properties the
  * oracle can't: pushed filters, pruned read schemas, broadcast vs
  * shuffle joins, codegen spans, and the bucketed join's missing
  * exchange.
  */
object PlanDump {

  private val picks: Seq[(String, String)] = Seq(
    "q1_agg" ->
      "Partial (map-side) aggregation before one hash shuffle on the group key; whole pipeline in one WholeStageCodegen span; scan reads only the 5 referenced lineitem columns.",
    "q3_multi_join" ->
      "Both dimension joins are BroadcastHashJoin (nation/region never shuffle the fact side); the IN-list filter is pushed into the region parquet scan (PushedFilters).",
    "q19_bucketed_join" ->
      "Both sides read from bucketed tables (SelectedBucketsCount); at this tiny SF the planner broadcasts the dimension (also shuffle-free for the fact side) and the remaining Exchanges belong to the post-join agg/sort. With broadcast off, the same layout joins as SortMergeJoin with ZERO exchange and ZERO sort - asserted in BucketingSpec.",
    "q20_partition_prune" ->
      "The priority filter becomes a PartitionFilter on the staged read: non-matching directories are never listed, the scan touches 1 of 5 partitions.",
    "q21_asof_join" ->
      "As-of join as union + ONE keyed window scan: a single Exchange on the key, a single Sort, no theta-join — the |left|x|right| blowup never exists in the plan.",
    "q22_range_join" ->
      "Interval containment as a hash equi-join on (key, time-bucket) + residual filter: SortMergeJoin/BHJ on equality, never BroadcastNestedLoopJoin.",
    "cdc_apply" ->
      "Decode is a narrow from_json map; the per-key collapse is the only keyed shuffle; the merge joins the (small) collapsed change set against the target without shuffling the target side.",
    "td_minhash_neardup" ->
      "Candidate pairs come from the band-bucket shuffle join (never O(n^2) on the corpus); signatures are pure column expressions computed in a narrow map.",
    "td_cosine_topk" ->
      "Brute-force baseline: the query side broadcasts; per-query top-k via window over the scored candidates.",
    "q29_exists" ->
      "Catalyst decorrelation: EXISTS/NOT EXISTS become LeftSemi/LeftAnti hash joins and the correlated scalar COUNT becomes an aggregate + LeftOuter join — no per-row subquery execution anywhere.",
    "q31_lateral" ->
      "Correlated LATERAL with ORDER BY/LIMIT plans as WindowGroupLimit: a map-side partial top-k per key BEFORE the exchange, then the final group limit and one broadcast join — per-group limits never materialize the full per-key order.",
    "td_semdedup" ->
      "SemDeDup: centroids broadcast to a narrow cell-assignment map; the all-pairs stage is a self-equi-join keyed by cell (bounded populations), never all-pairs on the corpus.",
    "td_incremental_neardup" ->
      "Incremental LSH: signatures computed for the NEW batch only; the persisted index enters as a plain scan probed by a (band, bucket) equi-join — the corpus is never rescanned and its text never reopened.",
    "td_source_neardup" ->
      "Collection-level near-dup: group signatures are 32 min() aggregates over the exploded (group, shingle) relation — partial aggregation before one shuffle; the exact verify join is restricted to candidate groups before touching shingle keys.",
    "td_dup_spans" ->
      "Substring-dedup signal: positioned n-grams explode in a narrow map; the corpus-wide distinct-doc count is one shuffle keyed by gram (partial count before the exchange); spans join back keyed by gram; the interval merge is one per-doc window — never O(n^2).",
    "td_kmeans" ->
      "Lloyd training: the codebook (k rows) broadcasts into every assignment; both the init pick and the per-iteration assignment are map-side-combinable min_by aggregates (one row per id reaches the exchange, never a sorted window); the centroid update is one shuffle keyed by (cluster, component). No stage collects the corpus.",
    "td_pq_adc" ->
      "PQ/ADC: codebook broadcasts; both the codebook pick and the per-(id, subspace) encoding argmin are map-side-combinable min_by aggregates; candidate scoring joins the (query, sub, code) lookup table against codes keyed by (sub, code) — raw vectors never reach the scoring join.",
    "q34_zorder" ->
      "Z-order box read: the cell isin() becomes a PartitionFilter (only intersecting z-cell dirs are listed); the exact box predicate remains as the data filter pushed to the parquet scan.",
    "q36_overlap_join" ->
      "Interval-overlap join: both sides explode bucket sequences in narrow maps, then ONE hash equi-join on (key, bucket); the first-shared-bucket filter dedups pairs with an integer comparison — no nested loop, no distinct over the result.",
    "td_ann_lsh_md5" ->
      "Multi-table sign-LSH with md5-derived constant planes: bucketing is a NARROW map (the plane matrix folds into the plan as integer literals - no join, no shuffle to fetch planes); candidates come from one keyed (table, bucket) equi-join; the only window ranks per-query candidates. Exact integer sign dots make the buckets bit-identical cross-engine - this is the oracled sibling of the xxhash64 form.",
    "td_blocklist_scrub" ->
      "Bloom-prefiltered scrub: the bypass branch (bloom-negative rows, the overwhelming majority at scale) reaches the union with NO join node at all; the residual branch broadcasts the blocklist into one BroadcastHashJoin LeftAnti — the corpus side never shuffles.",
    "td_heavy_hitters" ->
      "Exact heavy hitters: the count-min build aggregates map-side partial into at most d*w cells per task before one tiny exchange; the exact count then aggregates only estimate-thresholded candidate occurrences — the full vocabulary never shuffles.",
    "ev_funnel" ->
      "N-step funnel over ONE user-keyed window exchange: every cascaded min(when(step)) aggregate shares the same partitioning (a funnel must not shuffle once per step); the step-type IN filter is pushed into the events parquet scan.",
    "ev_rolling_distinct_hll" ->
      "Rolling 7-period distinct with O(periods*2^p) state: the per-period HLL register table aggregates map-side partial (at most 2^p cells per period reach the exchange); the x7 window fan-out explodes the REGISTER table, never the event stream; the merge is an element-wise max() aggregate with no window node anywhere - at 100 TB the event scan is touched exactly once and nothing downstream scales with user cardinality.",
    "ev_attribution" ->
      "Last-touch attribution: purchases and touches meet in the as-of join's union + ONE user-keyed window scan (no theta-join - the |purchases|x|touches| product never exists in the plan); the lookback tolerance is a post-mask on the nearest touch; the channel rollup aggregates map-side into at most |channels| rows.",
    "ev_gapfill" ->
      "Per-key gap fill on a 6 h grid: the grid derives from a per-key MIN/MAX aggregate and THEN explodes (rows ~ keys*slots, never events*slots); slot-last values come from one map-side-combinable max_by; the forward fill reuses the (key, slot) partitioning the grid join just produced - the only window runs per key with no extra exchange.",
    "cdc_incr_agg" ->
      "Incremental materialized-aggregate maintenance: the ENGINE's work is the seed aggregate plus the pre-image join (cost proportional to the BATCH, not the table) — PlanAuditSpec pins the op in isolation to exactly 2 table scans; the extra scans visible in THIS dump all belong to SyntheticCdc fabricating the change log out of the customer table (fixture, not engine). The per-group delta aggregates map-side partial; the state merge is a null-safe join on the handful of group rows. The recompute this replaces (a full-table GROUP BY per batch) is what the DuckDB oracle runs.",
    "td_quantiles_by_value" ->
      "Exact percentile-disc without a corpus sort: counts per (group, value) aggregate map-side partial (output bounded by distinct values), and the rank walk runs on that small table's cumulative window — the per-group full row sort of the rank formulation never happens.",
    "td_quantile_sketch" ->
      "Log-histogram quantile sketch registers: radix-2 integer bucket map in a narrow projection, then one map-side-combinable count aggregation into at most (65-subBits)*2^subBits cells per group — fixed state at any corpus size, mergeable by adding counts, streamable unchanged.",
    "td_domain_mix" ->
      "Target-proportion mix: domain counts aggregate map-side into |domains| rows, the feasible-total min is a 1-row frame, and the derived keep rates broadcast back — the corpus itself sees a single narrow hash filter, no shuffle.",
    "q38_validate" ->
      "Data-expectation gate: all five row-level checks evaluate in ONE partial-aggregable scan (conditional sums in the same aggregate); only the key-uniqueness surplus pays a keyed shuffle, map-side combined.",
    "td_ann_sq8" ->
      "SQ8 scalar-quantized ANN: per-dimension stats aggregate map-side into dim cells and collapse to ONE broadcast array row; encoding is a narrow map; scoring broadcasts the tiny query batch over the codes scan (1 B/dim instead of 4) and per-query top-k plans as a partial+final WindowGroupLimit — no cartesian product, no global sort.",
    "td_ann_ivf_sq8" ->
      "Persisted IVF index with SQ8 postings (FAISS IVF…,SQ8): the probed cells reach the postings scan as a pushed In(cell, …) filter over cell-sorted files, so Parquet skips the other cells' row groups by their statistics; candidates carry byte codes only, and the ADC ranking reads two dim-sized broadcast rows (stats + centroids) — 4x less index I/O per probe than raw-vector postings, same frozen-codebook lifecycle.",
    "td_hard_negatives" ->
      "Hard-negative mining: identical IVF candidate shape to td_ann_ivf (broadcast-codebook narrow cell assignment, probed-cell equi-join — per anchor only nProbe/nCells of the corpus is touched); the label-mismatch filter runs BEFORE the exact cosine so positives never reach scoring; the only window ranks per-anchor cell-bounded candidates.",
    "td_content_chunks" ->
      "Content-defined chunking: segmentation is ONE compiled pass per row (native CdcChunksExpression — no interpreted per-char lambda, no UDF, no join to find boundaries); the chunk subtree is localCheckpointed once because it feeds BOTH the share count and the join back (the round-9 audit caught the double-computed plan); the only shuffles are the fingerprint-keyed share count and the final per-doc aggregate, both map-side partial.",
    "td_content_chunks_fast" ->
      "Production content-defined chunking: same plan shape as td_content_chunks but boundaries from the Rabin–Karp rolling hash (O(1) per position vs an md5 per position) — still fully oracled because the window hash is exact 64-bit integer arithmetic DuckDB recomputes term-by-term.",
    "td_ann_recall" ->
      "In-engine ANN eval: both rankings window over their own candidate sets (exact: broadcast query batch; IVF: probed-cell equi-join), then ONE keyed join of two k-rows-per-query tables + a map-side-combinable count — evaluation cost ∝ queries·k, independent of the corpus.",
    "td_kmv_overlap" ->
      "Cross-source KMV overlap: the per-source bottom-k sketch is a partial+final WindowGroupLimit over a map-side-partial distinct (≤ k rows per group per map task reach the exchange); every pair join downstream runs against k-row sketches — broadcast-sized by construction. Dedup ORDER across a 10-source corpus costs k rows per source, never a cross-source content join.",
    "td_temperature_mix" ->
      "Temperature mixing: per-domain counts aggregate map-side into |domains| rows; the share/feasible-total derivation runs on two broadcast 1-row frames; the corpus itself sees only the broadcast rate join + a narrow hash filter — identical scale shape to td_domain_mix with the target vector computed in-plan.",
    "td_quality_prune_cutoff" ->
      "Per-domain quality pruning, cutoff form: score counts aggregate map-side into (domain, score) rows — bounded by distinct scores, never a per-domain row sort like the exact-rank twin; the |domains|-row cutoff table enters the corpus as an explicit BroadcastHashJoin and the keep test is a narrow filter. The corpus is scanned, never re-sorted or re-shuffled.",
    "td_drift_tvd" ->
      "Corpus-version drift gate: each version collapses to a map-side-partial count-by-bucket (one streaming pass per side); the full-outer join, the share windows, and the TVD total all run on |buckets| rows — corpus cost is exactly two scans regardless of bucket skew.",
    "td_corpus_diff" ->
      "Corpus snapshot diff: both versions collapse to (id, md5) in narrow maps BEFORE the full-outer join — every Exchange in the plan carries fingerprint rows (~25 bytes), never document text (PlanAuditSpec asserts it); at 100 TB the diff weighs |ids|, not corpus bytes.",
    "td_lang_purity" ->
      "Span-level language purity: posexplode is a narrow map; the per-(doc, span) marker counts and the per-doc span-language counts are both map-side-partial sums — two linear keyed exchanges with |langs|-bounded state, no window over tokens anywhere.",
    "td_dsir_select" ->
      "DSIR importance resampling: both corpora collapse to dim-bounded hashed-ngram bucket counts with map-side partial aggregation; the dim-row weight table BROADCASTS into the raw-side feature join (the corpus never re-shuffles to meet the weights); top-k plans as TakeOrderedAndProject — per-partition heaps, no global sort anywhere.",
    "ev_anomaly" ->
      "Event-rate anomaly gate: one map-side-partial agg to (type, period) counts, then the |types|-row stats table BROADCASTS back onto the counts — the event table shuffles once and the integer z-test ((n·x−S)² > k²·(n·Q−S²)) runs as a codegen'd projection; no window over raw events, no float, no sqrt.",
    "ev_markov" ->
      "Markov transition matrix: ONE entity-keyed Exchange feeds the lead window; pair counts collapse (map-side partial) to ≤|types|² rows before the per-from-type total window runs over that tiny set — transition PPM is exact integer div, and the event table never shuffles twice.",
    "td_cooccurrence" ->
      "Frequent co-occurrence mining: the Apriori property as a plan shape — the vocab-sized document-frequency table BROADCASTS to filter each doc's token set BEFORE the doc-keyed pair self-join, so pair fan-out is C(frequent tokens in doc, 2) and no exchange ever carries raw text; pair counts and the lift's df terms are vocab-bounded broadcasts.",
    "td_containment" ->
      "Asymmetric near-containment mining: the prefix filter applies to the CONTAINED side only (containment is one-sided), and ordering the prefix by ascending df makes the candidate equi-join key on the RAREST shingles — the same one exploded-corpus exchange the df window already pays; the verify join is bounded by candidates and shuffles shingle sets, never raw text (PlanAuditSpec asserts no cartesian and no text through exchanges).",
    "td_curation_funnel" ->
      "End-to-end curation funnel (quality -> exact dedup -> decontam in ONE plan): the corpus is scanned once (localCheckpoint pins the shared base), dedup is one md5-keyed exchange, the benchmark shingle set BROADCASTS into the contamination probe, and the per-source funnel counts are map-side-partial sums — composition adds no driver round-trips and no second corpus-sized shuffle.",
    "td_join_estimate" ->
      "Histogram join-size estimation, multi-resolution form (round 15): each side collapses ONCE to a finest-width (4096) md5-route histogram via a map-side-combinable count — coarser widths (256/16) re-aggregate that checkpointed histogram, exact because every width divides the finest (pmod(pmod(H,4096),w) = pmod(H,w)). Two md5-bearing corpus scans total where the per-width form paid six; the bucket-product joins and the exact-count comparison (test-scale only) run on <= 4096-row inputs.",
    "td_token_fertility" ->
      "Tokenizer fertility by (source, lang): BPE token counts are a narrow codegen pass (the same expression td_bpe_encode oracles), then one partial-aggregate exchange of (source, lang) groups — per-token work never crosses the wire and raw text never shuffles (PlanAuditSpec asserts both).",
    "td_dedup_roi" ->
      "Per-source dedup ROI: the narrow pass collapses text to (fingerprint, token count) before ANY exchange, the canonical winner is a map-side-combinable min over the md5 key, and the winner table equi-joins back by fingerprint — per-source savings sums combine map-side; the campaign-ordering report costs exactly one corpus-keyed shuffle of 25-byte rows.",
    "td_containment_dedup" ->
      "Containment dedup action: the mined pair set (already bounded by the one-sided prefix filter) collapses to a distinct drop-id set via one filter — dominance (larger shingle set, tie on id) needs no transitive closure — and survivors emerge from a single left-anti join; no iteration, no components.",
    "td_vocab_richness" ->
      "Vocabulary richness: text collapses to (source, word) rows in a narrow explode BEFORE the one keyed shuffle (map-side combine makes per-word counts cheap); the TTR/hapax collapse then runs over vocabulary-bounded input — raw text never crosses an exchange (PlanAuditSpec asserts it).",
    "ev_interarrival" ->
      "Inter-arrival profile: ONE entity-keyed Exchange feeds the lag window (the event-analytics family's invariant shape); gaps bucket in a codegen'd projection (power-of-two via bin-length, no log, no float) and the histogram collapses map-side to ≤|types|·64 rows before the share join.",
    "td_decontam_canonical" ->
      "Canonicalized decontamination: the canonical form is one extra narrow regex pass; the benchmark's canonical shingle set still BROADCASTS and the corpus still never re-shuffles — obfuscation robustness costs zero exchanges over td_decontam.",
    "td_lsh_precision" ->
      "LSH operating point: signatures and band buckets are narrow md5 projections; candidates key by (band, bucket) — the only pair generation is within buckets — and the three 1-row count frames compose via broadcast; the exact-pair reference reuses the lossless prefix-filter miner, so the measurement itself scales like the miner it measures.",
    "td_winnowing" ->
      "Winnowing pair mining: the whole per-doc selection (gram hashes + sliding-window rightmost-tie argmin) runs inside the native winnow_fingerprints expression — a NARROW map, no explode fan-out, no (doc, window) shuffle; the df cap is a map-side-combinable groupBy(h).count joined back (PlanAuditSpec pins ZERO WindowExec anywhere — a hot boilerplate hash collapses to one partial row per task instead of funneling into one window task), and the pair join keys only on hashes that SURVIVED the cap, so candidate volume is bounded by genuinely-shared content.",
    "td_winnowing_density" ->
      "Density sweep: three narrow fingerprint scans (one per w) each collapsing to a 1-row count before the union; the gram total broadcasts into the ppm projection — nothing but 1-row frames past the scans.",
    "td_decontam_spans" ->
      "Span decontamination: benchmark grams DISTINCT then BROADCAST; corpus grams from the native positioned_grams expression (narrow Generate); matched seeds shuffle once keyed by doc for the island merge; the excision is an in-row array filter — the corpus text never shuffles.",
    "ev_changepoint" ->
      "CUSUM changepoint: one exchange to the (type, period) grid; cumulative sums, totals, and the argmax rank are all windows over the same type-keyed partitioning (WindowGroupLimit caps the rank scan); output is one row per type.",
    "td_embedding_drift" ->
      "Embedding drift: both snapshots posexplode in narrow maps and collapse map-side to (label, dim) centroid partials before their single exchanges; the two centroid aggregates join via BroadcastHashJoin and the per-label fold runs over rows ∝ |labels|·dim.",
    "td_incremental_winnowing" ->
      "Incremental winnowing probe: only the NEW batch is fingerprinted (native narrow map); the index enters through ONE equi-join against the BROADCAST batch hash set — never rescanned wholesale, row-group-prunable when stored h-sorted; the global-df cap is a partial aggregate whose survivor set (bounded by the batch's distinct hashes) BROADCASTS back, so matched index rows never shuffle by hash and per-batch cost stays O(batch + collisions).",
    "td_winnow_index_pruned" ->
      "Pruned persisted-index probe: the index scan lists ONLY the files whose h-range can hold a batch fingerprint (stats-manifest pruning over the writeWinnowIndex h-range-clustered fleet — the scan's file list, not a post-filter); downstream is the identical probe core, so the plan differs from td_incremental_winnowing only in the scan's input files.",
    "ev_anomaly_horizon" ->
      "Horizon rate anomaly: identical shape to ev_anomaly — the external-clock horizon only changes the grid's pmax expression (a greatest() over the |types|-row span agg), so the trailing-silence extension costs zero additional exchanges.",
    "ev_changepoint_horizon" ->
      "Horizon changepoint: identical shape to ev_changepoint; the horizon extends the sequence() grid from the same |types|-row span agg — the zero-filled tail rides the existing type-keyed window pass.",
    "ev_seasonal_anomaly" ->
      "Seasonal anomaly: the gap-fill's one event shuffle; lag(season) and the residual stats ride the SAME type-keyed partitioning (no second exchange of the grid); the |types|-row stats broadcast back.",
    "ev_multi_seasonal" ->
      "Nested-cadence anomaly: composed differencing (1-B)(1-B^7) — each lag pass is a Window over the SAME type-keyed sort the gap-fill grid already established (extra Window operators, zero extra Exchange, zero re-sort); the z-test stats on the whitened residual broadcast back exactly as in the single-season form.",
    "ev_robust_anomaly" ->
      "Robust (median/MAD) anomaly: both percentile-disc ranking passes ride the gap-fill grid's type-keyed partitioning (grid rows bounded by maxSpanPeriods — the one family where type-keyed windows are bounded state, not data volume); the |types|-row median and MAD frames BROADCAST back, so the detector adds zero exchanges over ev_anomaly.",
    "td_mrr" ->
      "MRR@k eval: the ranked side is already a per-query top-k (rows ∝ queries·k — corpus-independent); one equi-join against the broadcast relevance pairs and one query-keyed min; reciprocals are integer div, no float crosses engines.")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val qs = SparkEntry.queries
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the scale-defining queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` over `$dir`. These are the\n")
    sb.append("properties the 100 TB design rests on; PlanAuditSpec asserts\n")
    sb.append("the load-bearing ones in CI.\n")
    picks.foreach { case (name, note) =>
      val df = qs(name)(spark, dir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n$note\n\n```\n$plan```\n")
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
