package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Physical-plan dump for the headline queries — `PLANS.md` is generated
  * by `runMain graft.Plans <sfDir> [out.md]` so the plan SHAPES the scale
  * story depends on can be reviewed without running anything. Each entry
  * carries the property worth checking in the text below it.
  */
object Plans {

  private val headline: Seq[(String, String)] = Seq(
    "s1_scan_filter_project" ->
      "Filters reach the scan (PushedFilters) and ReadSchema carries only the projected columns.",
    "q1_pricing_agg" ->
      "Partial aggregation before the exchange (HashAggregate x2); one shuffle on the group key.",
    "j1_join_topk" ->
      "Dimension side broadcasts; the fact-to-fact join is left to AQE (no forced broadcast).",
    "w4_grouped_topk" ->
      "Custom operator: GroupedTopK partial -> exchange -> GroupedTopK final; no WindowExec, no global sort of the input.",
    "v3_lsh_ann_topk" ->
      "Banded-LSH candidates via equi-join on (band_id, key) — no cross join; neighbor selection through GroupedTopK.",
    "d4_lsh_neardup_pairs" ->
      "Band keys as an equi-join; exact Jaccard only on candidates; signature table persisted (kernels run once).",
    "d8_stratified_sample" ->
      "Pure scan filter — zero exchanges (the only sampling shape that holds at 100 TB).",
    "t6_chunking" ->
      "Sequence explode is a narrow transform — zero exchanges before the fan-out.",
    "a2_sigma_clip" ->
      "Three clip passes as per-group aggregates: each pass collects its few (flag, status) bounds and filters by them as literals; the final stats are one partial+final HashAggregate — no window, no sort of the fact rows, no persist.",
    "w5_asof_prior" ->
      "As-of join as one frame-bounded window — single shuffle on the user key, no join, no union/backfill.",
    "a6_fit_recovery" ->
      "ObjectHashAggregate over the Gram-buffer Aggregator: map-side partial fit, one tiny shuffle per group.",
    "m2_media_batch_stats" ->
      "Batched mapPartitions decode seam — binary payloads never shuffle.",
    "v8_ivf_sampled" ->
      "Sample-trained IVF: centroids broadcast into every argmin (BroadcastNestedLoop over a tiny built side is fine); in-cell search joins probes to lists on the cell id; GroupedTopK bounds the exchange.",
    "a16_pair_product" ->
      "Rank-pair join from one window pass; clip stats broadcast back; regression from partial-aggregated exact moments.",
    "x1_skew_salted_agg" ->
      "Two HashAggregate stages: partial on (key, salt), merge on key — both map-side combined, one exchange each.",
    "t7_source_stats" ->
      "Per-source rollup: narrow token/size derivations, partial HashAggregate before the single exchange of n_sources rows.",
    "g1_cube" ->
      "CUBE: one Expand (4 grouping sets) into one partial+final HashAggregate — levels multiply rows pre-shuffle but collapse map-side.",
    "a17_exact_corr" ->
      "Correlation from exact decimal moments: single partial-aggregable shuffle of 3 groups; the float math runs on the 6-tuple, not the rows.",
    "st3_hopping_window" ->
      "Hopping windows: Expand×2 then partial aggregate — shuffle carries window×type partials, not events.",
    "d9_edit_distance" ->
      "Levenshtein bounded thrice: PREFIX-exact classes (md5 of the scored 120 chars — the boilerplate-header flood the sf1 headroom run measured at 79× under the weaker full-text key) collapse to one representative pre-banding, band join limits PAIRS, the fixed prefix limits per-pair DP.",
    "k1_kmv_distinct" ->
      "KMV sketch: GroupedTopK partial→exchange→final keeps k rows per group in flight — the distributed sketch-union shape.",
    "w8_percentiles" ->
      "Exact quantiles by cumulative count: ONE map-side-combined aggregate over (event_type, v) moves only distinct values; the running-count windows and the conditional-min pivot run over that aggregate, never the fact rows.",
    "f2_funnel" ->
      "Funnel: conditional min/max per user (one shuffle), cohort rollup of |users| rows — no event-log self-join.",
    "t8_topk_ngrams" ->
      "Vocabulary top-k: map-side-combined bigram counts, then GroupedTopK — the full count table never sorts globally.",
    "j9_full_outer" ->
      "Full-outer reconciliation: both sides pre-aggregated to dimension size before the join.",
    "f4_json_extract" ->
      "JSON path extraction as a codegen'd per-row scalar; one partial-aggregated shuffle on the parsed key.",
    "v9_vector_stats" ->
      "Per-vector folds stay inside the scan stage — zero exchanges before the output sort (plan-guarded).",
    "d10_dup_clusters" ->
      "Connected components: the printed plan is the FINAL round's (two joins + min-aggregate over checkpointed labels); lineage is truncated per round so plan depth is constant regardless of rounds.",
    "st4_interval_join" ->
      "Interval join: equi-join on the id with the time-range as join-level filter; in streaming both sides' state is watermark-bounded.",
    "m4_phash_clusters" ->
      "Image dup clusters: banded Hamming pairs feed the same checkpointed CC loop as d10 — pair discovery never O(n²), plan depth constant.",
    "v10_ann_recall" ->
      "Recall audit: brute-force side is bounded by the broadcast 5-query sample; IVF side reuses v8's probe join; both select through GroupedTopK.",
    "v11_embed_clusters" ->
      "Embedding dup clusters (SemDeDup): v5's banded cosine pairs into the CC loop; the only corpus-sized shuffles are the band join and the per-round edge join.",
    "v12_pq_codes" ->
      "PQ encode: per-subspace broadcast argmin over SLICED vectors — the corpus is scanned, never shuffled; the 4 encode outputs union partition-locally.",
    "g2_grouping_sets" ->
      "Explicit grouping sets: one Expand (3 sets, no cross level) into partial+final HashAggregate — marginals without the cube's cross-product cost.",
    "k2_cms_heavy" ->
      "Count-min sketch: the counter shuffle carries ≤ d·w = 192 cells (map-side partial); the per-key probe is a broadcast join of the cell table.",
    "t9_seq_pack" ->
      "Sequence packing: ONE window pass per lang shard (running token total); shards pack independently — no global order anywhere.",
    "d11_budget_sample" ->
      "Budget mixture: |sources|-row totals aggregate, rate table broadcast back, sample is a pure filter — no reservoir, no second shuffle.",
    "x3_bloom_prune" ->
      "Bloom pruning: probe rows drop at the scan stage via two broadcast word-table lookups — only plausible matches would ever reach a shuffle.",
    "w9_gap_fill" ->
      "Gap fill: spine bounds from a 1-row aggregate, day list broadcast-crossed with users, forward fill in one window pass per user.",
    "w11_scd2_history" ->
      "SCD2: change-point filter + lead() share ONE exchange on the dimension key — the history rebuilds without a self-join.",
    "dq1_constraint_report" ->
      "DQ report: each table's metrics from ONE partial-aggregated scan (count/conditional-sum/distinct together); orphans via anti-join.",
    "a3_pixel_meanclip" ->
      "Pixel photometry: the LUT/aperture/background tables all broadcast; clip stats join back per image key — per-image partitioning is the scale unit.",
    "v13_ivf_pq_probe" ->
      "IVF-PQ probe: coarse centroids/codebooks broadcast, candidates from the inverted-list equi-join, ADC reads the CODES table — no corpus-embedding scan in the probe path.",
    "v14_ivf_pq_refined" ->
      "ADC shortlist + exact rerank: the corpus join is bounded by candK·|queries| shortlisted ids — quantization never reaches the final ranking, the corpus is touched only for point lookups; query vectors come from the QUERIES frame, so external vectors search without ingestion.",
    "v15_ivfpq_recall" ->
      "Serving-path recall audit: exact side priced per SAMPLED query (broadcast query block against one corpus scan), refined side is the v14 pipeline — the audit itself stays runnable at any corpus size.",
    "k3_bottomk_quantiles" ->
      "Bottom-k quantile sketch: GroupedTopK partial→exchange→final ships ≤k rows per group (the mergeable coordinated sample); the full-sort truth side is the priced audit, not the sketch path.",
    "v16_index_stats" ->
      "Index health: two aggregations over the id-sized lists/codes tables — the audit never scans the corpus; code-usage totals broadcast back for the within-subspace share.",
    "t11_pii_redact" ->
      "PII scrub: counts and the chained redaction are codegen'd regexp scalars inside the scan stage — zero exchanges before the output sort.",
    "d12_url_dedup" ->
      "URL dedup: canonicalization is narrow string work in the scan; the ONLY shuffle is the map-side-combined aggregate on the canonical key.",
    "x4_bucketed_join" ->
      "Bucketed co-located join: both FileScans carry the bucket layout (SelectedBucketsCount), EnsureRequirements inserts NO exchange under the join — the only shuffles are the post-join 5-group rollup and its orderBy.",
    "d13_line_dedup" ->
      "Line dedup: segments travel as 8-byte polyhash keys — the exchanges are the dup-set count-distinct pair (partial-deduped map-side), the hash join back, and the per-doc reassembly; no string ever crosses the wire, and the dup set broadcasts when small.",
    "t12_ngram_score" ->
      "Model inference as a scan: uni+bigram hashing, bucket weights, and the dot product are all per-row expressions inside the scan stage — zero exchanges before the output sort.",
    "v17_filtered_ann" ->
      "Filtered ANN: the allowed-id semi-join lands on the candidate list BEFORE the codes join, so ineligible vectors never reach ADC; quantizers stay broadcast, the corpus is still never scanned in the probe.",
    "x5_mv_rewrite" ->
      "Summary rewrite: the FileScan reads graft_mv2_lineitem (grain-sized), lineitem.parquet appears nowhere — the fact was scanned once at refresh, not per query.",
    "x7_mv_minmax_avg" ->
      "Summary-served min/max/avg: same grain-table-only scan as x5; min/max fold over the stored per-group extremes, avg is the re-summed sum/cnt divide — no fact access for any of the three.",
    "x8_mv_orders" ->
      "Second summary, different base fact: the scan reads graft_mv2_orders, orders.parquet appears nowhere — the path-keyed registry serves each covered Aggregate from its own grain table.",
    "a18_theilsen" ->
      "Theil–Sen: the modulus filter is pushed to the scan, the pair join is a per-group equi-join on l_suppkey (sampled groups bound the O(n²)), and the median is one window pass over pairs.",
    "t13_novelty" ->
      "Novelty: compiled shingle kernel in the scan; the df aggregate and the join back both key on the 8-byte gram hash — the rare-set table is vocabulary-sized, never corpus-sized.",
    "d14_dup_spans" ->
      "Dup spans: positional trigram hashes from the compiled kernel, the duplicated-gram semi-join keys on 8 bytes, and the islands pass is ONE window per doc over flagged positions only.",
    "t14_bm25" ->
      "BM25: corpus stats reduce to a scalar row broadcast back with a BroadcastNestedLoopJoin (1-row side), scoring stays in the scan stage, and the top-10 is a global sort of scalars.",
    "x6_zorder_box" ->
      "Z-order clustered scan: both box filters are literals pushed to the graft_z_lineitem FileScan (PushedFilters on l_partkey AND l_suppkey); the Morton layout makes the row-group min/max stats tight in BOTH dimensions, so the pushed filters skip most of the table before a page is decoded — pruning via row order, no index structure.",
    "gr2_triangles" ->
      "Triangle counting, the at-scale path of Graph.triangleCounts (below its edge bound the same arithmetic runs in one task): degree-ordered orientation bounds every node's wedge fan-out by arboricity (the celebrity-node guard); the wedge join and the closing-edge join are both hash equi-joins over the O(n) LSH pair graph.",
    "x9_interval_bucket_join" ->
      "Bucketized range join: windows explode to ≤2 bucket keys, points to exactly 1 — the pure-inequality join becomes a hash equi-join + exact range filter; the plan must show SortMergeJoin/ShuffledHashJoin on `bucket`, never BroadcastNestedLoopJoin.",
    "t15_tfidf_topterms" ->
      "TF-IDF keywords: explode→(doc,term) partial-aggregated count, df re-aggregated from it (vocabulary-sized), N broadcast; per-doc top-3 plans through the row_number≤k rewrite onto GroupedTopK — no global sort.",
    "d15_lsh_recall" ->
      "LSH recall audit: the exact-truth side is all-pairs over a FIXED-SIZE sample (bottom-1000 doc_ids by md5, planned as TakeOrderedAndProject - per-partition top-k, one k-row merge, no full sort), so truth cost is a CONSTANT ~k^2/2 pairs at any corpus size; the candidate side reuses the production band equi-join; one scalar row out.",
    "dq2_mad_outliers" ->
      "Median/MAD outliers: ONE map-side-combined aggregate over (event_type, v), localCheckpointed and read three times (median, deviation table, outlier count) — cumulative-count selection over distinct values, the fact table scanned once and never sorted, no interpolation arithmetic.",
    "d16_lsh_tuned" ->
      "Banding retune: one signature scan over d15's fixed-size (bottom-1000-by-md5) sample feeds BOTH band layouts; each candidate set is a band equi-join persisted once and read twice (count + recall join) — recall ~5%→~70% priced against the candidate-volume increase in a single plan, truth cost constant at any corpus size.",
    "m5_frame_sample" ->
      "Frame sampling: the 1→N generator runs inside the batched mapPartitions decode stage — payload binaries never shuffle; only (id, frame_idx, n_px, mean_luma) stat rows reach the sort.",
    "m6_thumbnails" ->
      "Thumbnail resize: decode + nearest-neighbor downsample in the scan-side mapPartitions; output rows carry 8 sampled pixels per image, so the exchange moves thumbnails, not planes.",
    "st5_user_profile" ->
      "Keyed-state batch face: flatMapGroupsWithState plans as one hash exchange on user_id + per-group state fold — the same operator the stream runs, with integer-cents accumulation making the fold order-proof.",
    "c1_curation_funnel" ->
      "Curation funnel: the four head stages persist once each and feed both their successor and a 1-row count; the tail three scalars (clean/sampled/chunks) come from ONE narrow aggregate over the decontamination survivors — the sample keep-bit is deterministic per row and the chunk count has the closed form sum((n_tok+39) div 40), so the chunk explode never runs and the only data-sized shuffles are the dedup groupBy and band joins.",
    "gr4_sssp" ->
      "Weighted SSSP through the hybrid bounded driver: below the edge threshold the 3 min-plus rounds run in ONE executor task (the printed plan is the top-15 over the materialized distance table); above it, each round is one frontier⋈edges hash join + a min-plus aggregate over exact integers — associative and idempotent, so partial aggregation and shuffle order are free on any layout.",
    "d17_containment" ->
      "Containment dedup: the same banded candidate equi-join as d4 — never all-pairs — with the exact check scoring |∩|/min instead of Jaccard; the top-15 is a sort of candidate-sized scalars.",
    "w13_range_frame" ->
      "RANGE-interval frame: one hash exchange on user_id + one within-group sort serves both the count and the cents sum — the 30-minute frame bound is evaluated per row against the sorted run, no self-join.",
    "dq3_volume_anomaly" ->
      "Volume anomaly: the daily table is dimension-sized, the three trailing-frame sums share ONE window sort, and the 2σ alarm is algebraically integer — (7c−s)² > 4(7ss−s²) — so no float comparison sits at the decision boundary.",
    "v19_embed_gram" ->
      "Gram sufficient statistics: one corpus scan × a broadcast 36-row (i,j) frame; map-side partial aggregation collapses every partition to 36 decimal sums before the single exchange — the moment-table shape that trains a whitening transform without a second pass.",
    "v18_rand_proj" ->
      "JL projection: the ±1 sign matrix is an 8-row BROADCAST side (BroadcastNestedLoopJoin over the tiny side), the integer dot product folds inside the scan stage — zero data-sized exchanges before the output sort.",
    "gr5_kcore" ->
      "k-core peel through Graph's one hybrid driver: the count() that materializes the symmetrized pair graph picks the path — one executor task peels a small graph (distributed rounds are pure stage overhead there), big graphs run degree-aggregate + two semi-joins per round, localCheckpoint-truncated; integer counts make both paths bit-identical.",
    "c2_cte_funnel" ->
      "CTE flagship composed end-to-end: the pair table broadcasts (suppliers are dimension-sized); the two fact shuffles are the per-(supplier,part) observation aggregate and the o1⋈o2 match join; everything after the bin join runs on matched rows only, and the stage counts + Gram moments meet in broadcast cross-joins of 1-row aggregates.")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.local()
    val sb = new StringBuilder
    sb.append("# PLANS — headline physical plans\n\n")
    sb.append(s"Generated by `runMain graft.Plans $sfDir` (Spark " +
      s"${spark.version}, AQE on). Regenerate after plan-affecting " +
      "changes; plan-shape invariants are additionally pinned by " +
      "PlanShapeSpec/GroupedTopKSpec.\n")
    headline.foreach { case (name, note) =>
      // graph queries eagerly materialize-and-release; dump their
      // PRE-finish plan (the registered one is a checkpoint scan)
      val df = operators.GraphQueries.planOnly
        .getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
      df.collect() // finalize AQE so the printed plan is the executed one
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(6000))
      sb.append("\n```\n")
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote ${headline.size} plans to $out")
    spark.stop()
  }
}
