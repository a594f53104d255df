package graft

/** Plan-shape regression gate: every SparkEntry query's physical plan is
  * audited for (a) no CartesianProduct ever, (b) BroadcastNestedLoopJoin
  * only where a deliberate 1-row query-vector broadcast makes it benign,
  * (c) keyed (hash/range) shuffle count at or under its recorded
  * baseline. The count is [[Explain.keyedExchanges]], structural and
  * taken from a clean cache, so a query reads the same alone (`-z`) and
  * anywhere in the suite.
  *
  * The point (round-2 verdict item 7): a regression like q38's 13-shuffle
  * lineage explosion gets caught by `sbt test`, not discovered in the
  * bench numbers a round later. Baselines are the audited plan shapes —
  * lowering one is fine (update the map); raising one should hurt.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * a broadcast crossJoin against a tiny bounded relation — a 1-row
    * query vector / total count / collected hot-shingle set, or q54's
    * Q-row query batch. */
  private val bnljAllowed = Set(
    "q22_jaccard_pairs", "q26_ann_topk", "q32_detail_api", "q38_ivf_search",
    "q41_topk_per_label", "q54_knn_join", "q61_rerank_ann",
    "q62_quantized_ann", "q64_unigram_rarity",
    // q68/q74: the broadcast crossJoin is the 1-row (N, avgdl, df*)
    // corpus-stats relation
    "q68_bm25_rank", "q74_detail_ranked",
    // q72: the brute-force side is q54's Q-row query-batch broadcast
    "q72_ivf_recall",
    // q79: the 1-row decile-cutoff broadcast
    "q79_curriculum",
    // q87/q88: the 1-row vocab-size / corpus-count broadcast (same
    // pattern as q64's total); q89: the 1-row max-source-count broadcast
    "q87_lm_perplexity", "q88_tfidf_keywords", "q89_mixture_epochs",
    // q94: the languages-list broadcast crossJoin (rows = #languages)
    "q94_lm_langid",
    // q95: q22's collected hot-shingle-set broadcast (1 row)
    "q95_containment_pairs",
    // q103: the 1-row class-totals broadcast (q64's total pattern)
    "q103_odds_quality",
    // q114: inherits q68's 1-row corpus-stats broadcast and q26's 1-row
    // query-vector broadcast through the two fused lists
    "q114_hybrid_rrf",
    // q123: the 1-row global-max-hour relation broadcasts into the
    // per-type span (crossJoin(broadcast(gmax)) — the q68 shape)
    "q123_rate_anomaly_dense",
    // q127: the 1-row token-total and bigram-total broadcasts (q64's
    // total pattern, twice)
    "q127_pmi_collocations",
    // q130: the 1-row corpus-totals broadcast (q64's total pattern),
    // crossed into both the query-term selection and the scoring
    "q130_more_like_this",
    // q132/q133: the 1-row kept-user-count broadcast (same pattern)
    "q132_basket_lift", "q133_basket_rules",
    // q139: the 1-row occurrence-total broadcast (q64's total pattern)
    "q139_heavy_hitters")

  /** Max keyed (hash/range) exchanges allowed per query, counted by
    * [[Explain.keyedExchanges]] from a clean cache (recorded at sf0.001
    * with `SPARK_GRAFT_SF_DIR=… runMain graft.Explain --scan`, which
    * applies the same count). Each baseline equals the query's count;
    * `Explain --scan qNN` lists the counted exchanges, one line each
    * with its keys and the operator it shuffles, which the comments
    * below name. */
  private val shuffleBaseline = Map(
    // q03: same 3 exchanges as q01 — the next-day shadow rows are
    // emitted map-side BEFORE the daily aggregate, so day-over-day
    // rides the one aggregation the plain DAU count already pays (the
    // retired lag-window shape had a 4th, uncounted
    // `Exchange SinglePartition` on top)
    "q01_dau_total" -> 3, "q02_dau_by_hour" -> 3, "q03_dau_day_over_day" -> 3,
    "q04_order_wide" -> 1, "q05_customer_enriched" -> 1,
    "q06_order_wide_enriched" -> 1, "q07_route_counts" -> 2,
    "q08_cdc_normalize" -> 2, "q09_route_by_config" -> 2,
    "q10_json_props" -> 2, "q11_stats_by_item" -> 2, "q12_detail_page" -> 0,
    "q13_highlight" -> 1, "q14_status_recode" -> 2,
    "q15_acctbal_buckets" -> 2, "q16_dedup_exact" -> 2,
    "q17_token_frequency" -> 1, "q18_token_counts" -> 1, "q19_lang_id" -> 1,
    // q22: hot-df agg on h + the candidate-pair groupBy on (a.doc_id,
    // b.doc_id) + the output sort; the index self-join broadcasts at
    // this scale, and the sizes ride the index rows (PPJoin size-ratio
    // shape), so no tail join exchanges
    "q20_quality" -> 1, "q21_fingerprints" -> 1, "q22_jaccard_pairs" -> 3,
    "q23_minhash_sigs" -> 1, "q24_minhash_lsh_pairs" -> 2, "q25_simhash" -> 1,
    // q61: both retrieval stages are map-only + k-bounded TakeOrdered
    // heaps over the 1-row query broadcast — zero shuffles, like q26
    "q26_ann_topk" -> 0, "q61_rerank_ann" -> 0, "q62_quantized_ann" -> 0,
    "q27_blocked_neardup" -> 1, "q28_lsh_buckets" -> 1,
    "q29_lsh_neardup" -> 1, "q30_dau_realtime" -> 4, "q31_stats_by_type" -> 2,
    "q32_detail_api" -> 0, "q33_media_meta" -> 1, "q34_frame_sample" -> 1,
    "q35_media_features" -> 1, "q36_hourly_stats" -> 2,
    "q37_top_tokens" -> 3, "q38_ivf_search" -> 0, "q39_stats_token_match" -> 2,
    "q40_sessionize" -> 2, "q41_topk_per_label" -> 2,
    "q42_supplier_stats" -> 2, "q43_age_pinned" -> 2,
    // q45: the simhash cluster agg inside the cached carrier + the pair
    // distinct + the output sort; the band self-join broadcasts
    "q44_stats_analyzed" -> 2, "q45_simhash_neardup" -> 3,
    "q46_asof_join" -> 3, "q47_hash_sample" -> 1,
    "q48_stratified_sample" -> 2, "q49_length_stats" -> 2,
    "q50_curation" -> 3, "q51_weighted_sample" -> 1,
    "q52_label_centroids" -> 2,
    // q53: at this scale the components run on the driver (union-find
    // over the checkpointed edge list, at plan build); the audited plan
    // is the sorted local relation it returns — nothing to shuffle. The
    // distributed loop (over the edge budget) is not this plan
    "q53_neardup_components" -> 0, "q54_knn_join" -> 2,
    "q55_asof_tolerance" -> 3,
    // q59/q63: per-block packing window + output sort — parallelism is
    // the block count, no global window; q63's span explode is map-side
    "q59_sequence_packing" -> 2, "q63_pack_spans" -> 2,
    // q60: the keep-window on comp + the output sort; the driver-
    // dispatched component labels (q53) are a local relation that
    // broadcasts into the corpus(doc_id, quality) join. A label set too
    // big to broadcast would add the doc_id join's two exchanges (q170)
    "q60_canonical_docs" -> 2,
    // q56: scan of the materialized inverted file → map-only scoring →
    // TakeOrderedAndProject; the index build/train run before the audited
    // plan exists
    "q56_ivf_file_search" -> 0,
    // q57: map-only repetition stats; the one exchange is the output sort
    "q57_repetition" -> 1,
    // q64: the token-keyed tf agg inside the cached carrier + the
    // per-doc score agg + output sort; vocab broadcasts under the
    // measured guard, total rides a 1-row BNLJ crossJoin
    "q64_unigram_rarity" -> 3,
    // q58: bench-shingle distinct + per-doc overlap count + output sort —
    // the corpus-sized side only shuffles on doc_id
    "q58_decontaminate" -> 3,
    // q65: (eval, doc) pair agg + per-eval rollup + output sort; the
    // bench index broadcasts under the measured guard
    "q65_contamination_report" -> 3,
    // q66: batch-side candidate-fp distinct + confirmed-fp distinct +
    // output sort. The confirmed distinct (round-8 ADVICE fix) bounds
    // the anti-join broadcast at candidate count even when the corpus
    // holds duplicate fingerprints: its partial hash-aggregate collapses
    // dups MAP-SIDE, so the added exchange carries at most
    // candidates×partitions fp rows — the corpus itself (content or
    // full rows) still never shuffles (Bloom pass + broadcast probes)
    "q66_incremental_dedup" -> 3,
    // q67: tiny per-lang count agg (broadcast back) + output sort; the
    // corpus itself is a map-only filter
    "q67_temperature_mixture" -> 2,
    // q68: per-doc (dl, tf*) fold is map-side, corpus stats ride a 1-row
    // broadcast crossJoin, top-N is a TakeOrdered heap — zero shuffles
    "q68_bm25_rank" -> 0,
    // q69: gram min/max agg feeding the semi-join probe side in place +
    // the islands window on doc_id (the span agg reuses its
    // partitioning) + the output sort — grams shuffle as hashed keys
    // with (doc_id, pos), never the document body
    "q69_duplicate_spans" -> 3,
    // q70: the q69 chain (minus its sort) + covered-position
    // countDistinct + the docs-side join exchange + the output sort —
    // every exchange carries (doc_id, position/count) keys only
    "q70_dup_span_stats" -> 6,
    // q71: one partition-pruned scan serves the whole query batch; the
    // TopK aggregation's query_id exchange (≤k pairs per query) + the
    // output sort; the index build/train run before the audited plan
    "q71_ivf_knn_join" -> 2,
    // q72: both retrieval arms' TopK exchanges + the overlap semi-join,
    // rollup, and output sort — every exchange carries at most Q·k
    // (query_id, vec_id) rows
    "q72_ivf_recall" -> 6,
    // q73: the PPJoin prefix path (Vernica et al. SIGMOD'10 3-stage
    // shape) — the df agg on h, the sorted carrier's groupBy on doc_id
    // (cached) and the output sort. The df join and the prefix
    // self-join broadcast at this scale, the candidate-pair distinct
    // rides the carrier's doc_id partitioning, and both verify joins
    // broadcast under the measured carrier-size guard
    "q73_jaccard_prefix" -> 3,
    // q74: BM25 stats ride the 1-row broadcast (like q68), the scored
    // sku set broadcasts into part then lineitem (J1's shape), and the
    // page window is a TakeOrdered heap — zero shuffles
    "q74_detail_ranked" -> 0,
    // q75: the output sort only — the driver-dispatched component labels
    // (q53) are a local relation that broadcasts onto the vec_id spine;
    // the pair join runs at plan build, feeding the checkpointed edges
    "q75_semantic_dedup" -> 1,
    // q76/q77: map-only regex passes — the one exchange is the output
    // sort, same as every per-doc scan query
    "q76_pii_scan" -> 1, "q77_pii_redact" -> 1,
    // q78: countDistinct expands to a two-level aggregate (2) + the
    // output sort; all per-doc signals ride the scan projection
    "q78_corpus_report" -> 3,
    // q79: one SinglePartition exchange for the 9-cutoff percentile
    // aggregate (broadcast back as one row); decile assignment is
    // map-side, and AQE folds the output sort of the tiny result
    "q79_curriculum" -> 1,
    // q80: the audited plan is the collected merge table (a
    // LocalRelation — training's word-count shuffle runs before the
    // plan exists); q81: the encode expression rides the scan + the
    // output sort, same as every per-doc map query
    "q80_bpe_merges" -> 0, "q81_bpe_subtokens" -> 1,
    // q82: identical audited tail to q75 (components run pre-plan; the
    // intra-cell pair join feeds the eager edge materialization)
    "q82_semantic_dedup_ivf" -> 1,
    // q83: the chunk-df pass runs EAGERLY at plan build (dictionary
    // collect); the audited plan is the map-only reassembly + the
    // output sort — document text never shuffles
    "q83_chunk_dedup" -> 1,
    // q84: one exchange for the chunk-text groupBy; the top-1000 cut is
    // a TakeOrdered heap, not a global sort
    "q84_boilerplate_chunks" -> 1,
    // q85: the per-source MinK quota agg (k-bounded partial agg, so
    // the exchange carries <= cap pairs per source per map task) + the
    // deterministic output sort
    "q85_domain_cap" -> 2,
    // q86: the split label is a scan-projection expression; only the
    // output sort exchanges
    "q86_leakage_safe_split" -> 1,
    // q87: the two model aggs (uni on w, bi on (w1,w2)) + the per-doc
    // bigram-tf agg + the two model joins' probe-side re-exchanges + the
    // final per-doc agg/sort — every exchange carries token keys and
    // counts, never text; vocab size rides the 1-row broadcast
    "q87_lm_perplexity" -> 6,
    // q88: the df agg on token + the per-doc rank window on doc_id + the
    // output sort; tf is map-side (term_freqs) and the df join
    // broadcasts at this scale
    "q88_tfidf_keywords" -> 3,
    // q89: per-source count agg (broadcast back) + the tiny factor
    // relation's exchange + the output sort — the explode is map-side
    "q89_mixture_epochs" -> 3,
    // q90: the word-count agg + the output sort (training's only
    // distributed stage); q91: map-only native encode, sort only
    "q90_bpe_word_counts" -> 2, "q91_bpe_encode_fixed" -> 1,
    // q92: map-only blocklist counter, sort only; q93: the tiny
    // per-lang agg + sort — the encode counts are scan projections
    "q92_blocklist_scan" -> 1, "q93_tokenizer_fertility" -> 2,
    // q94: the hit/miss decomposition — q87's model exchanges with
    // lang in the keys (uni, vdf, bi, doc-bigram aggs), the INNER hit
    // join's probe exchanges + hit aggregate, the per-doc totals agg,
    // and the thin (docs × L) assembly + argmin. Four more exchanges
    // than the old ×L product, but each carries shared-vocab hits or
    // per-doc scalars instead of |bigrams|·L arithmetic rows —
    // measured 0.83→0.56 s at sf0.1, 8.4–12→3.9 s at sf1. Token-key
    // shuffles throughout, text never leaves the scan
    "q94_lm_langid" -> 13,
    // q95: the prefix arm — the df agg inside the cached dfRel carrier,
    // the candidate distinct and the output sort. The prefix × full
    // candidate join and both verify joins broadcast (measured guard),
    // and the directed explode and threshold filter are map-side
    "q95_containment_pairs" -> 3,
    // q96: map-only integer rule flags, output sort only
    "q96_gopher_rules" -> 1,
    // q97: the fixed-size bucket-distribution agg (≤8192 rows,
    // broadcast back) + the per-doc weight agg + the output sort —
    // feature occurrences never shuffle (map-side combine on doc_id)
    "q97_dsir_weights" -> 3,
    // q98: map-only native CDC kernel, output sort only; q99: the
    // countDistinct two-level agg on 8 B segment identities + sort
    "q98_cdc_segments" -> 1, "q99_cdc_dup_segments" -> 3,
    // q100: the dup dictionary builds EAGERLY at plan time (8 B hash
    // agg + bounded collect); the audited plan is the map-only kernel
    // reassembly + output sort — document text never shuffles
    "q100_cdc_dedup" -> 1,
    // q101: map-only native repetition kernel (all nine signals in one
    // struct per doc), output sort only
    "q101_gopher_repetition" -> 1,
    // q102: the NAME QUOTIENT's distinct on name under each of the two
    // cached carriers (long-path q-grams, short-path deletion variants),
    // the short path's (a_name, b_name) candidate distinct, and the
    // output sort. The gram df is collected at plan build, the long
    // path's candidate distinct rides its carrier's name partitioning,
    // and the verify and clone-group expansion joins broadcast
    "q102_fuzzy_pairs" -> 4,
    // q103: the token-keyed model agg (once in the scoring pass, once
    // behind the 1-row totals collapse) + the per-doc re-agg + output
    // sort; the weight table broadcasts into the scoring pass
    "q103_odds_quality" -> 4,
    // q104: the audited plan is the measured DRIVER path (the graph
    // builds eagerly at plan time; the returned frame is a sorted local
    // relation); the distributed loop's rounds are checkpoint-truncated
    // and spec-pinned equal
    "q104_pagerank" -> 0,
    // q105: ONE user-keyed exchange feeds every chained window, the
    // per-user dedup, and the map-side rollup into the single-row agg
    "q105_funnel" -> 1,
    // q106: first-seen agg + its user-keyed join probe + the two-level
    // distinct-count + output sort
    "q106_cohorts" -> 4,
    // q107: the quotient machinery collapses at plan time (64-name
    // local relations, driver-dispatch components); the audited plan is
    // the name-group agg (cached) + the output sort — both stamp joins
    // broadcast
    "q107_fuzzy_clusters" -> 2,
    // q108: training collects at plan time; the audited plan is the
    // map-only in-expression encode + output sort. q109: map-only ADC
    // scoring + TakeOrdered — zero exchanges. q110: the composed
    // IVF-prune + ADC-score plan is equally map-only
    "q108_pq_codes" -> 1, "q109_pq_search" -> 0,
    "q110_ivfpq_search" -> 0,
    // q111: ONE aggregation (Spark expands the rollup grouping sets
    // map-side via Expand) + the output sort
    "q111_rollup_report" -> 2,
    // q112: the whole curation family composed runs ONCE at plan build
    // and is local-checkpointed (the memoized manifest); the audited
    // plan scans the checkpoint — nothing to shuffle. Each stage's own
    // shuffle shape is audited by its standalone query
    "q112_corpus_build" -> 0,
    // q113: the per-block rollup over q112's checkpointed manifest — its
    // two countDistincts expand into a two-level agg (on (block, bin,
    // doc_id, gid), then block) — + the output sort
    "q113_build_report" -> 3,
    // q114: both candidate lists are k-bounded TakeOrdered heaps over
    // map-only scans; the rank windows and the fusion aggregate run on
    // ≤2·kEach rows behind SinglePartition exchanges (not counted as
    // hash/range shuffles, and bounded by kEach by construction)
    "q114_hybrid_rrf" -> 0,
    // q115: the k-bounded MinK per-cell aggregation + the output sort
    // (assignment is the in-expression CellArgmax on the scan)
    "q115_cluster_sample" -> 2,
    // q116: ONE key shuffle feeds both windows (the transition filter
    // preserves partitioning/sort, so the lead window adds no
    // exchange) + the output sort
    "q116_scd2_history" -> 2,
    // q117: ONE user-keyed shuffle for the shared first/last-touch
    // window + the output sort
    "q117_attribution" -> 2,
    // q118: the q22 skeleton minus its pair join — one hash-key owner
    // agg (the join back reuses its exchange), the per-doc agg, the
    // output sort; shingle hashing is map-only on the scan
    "q118_ngram_novelty" -> 3,
    // q119: the cached carriers' builds (degree agg; und distinct +
    // its user-keyed edge join) + the degree join's re-exchange + the
    // wedge and closing joins' exchanges + the corner agg + sort, each
    // carrier counted once however often the plan refers to it
    "q119_triangles" -> 10,
    // q120: the (type, hour) bucket agg, the type-keyed trailing
    // window, the output sort — corpus collapses to buckets before
    // anything sorts
    "q120_rate_anomaly" -> 3,
    // q121: at this scale the label rounds run on the driver (the q104
    // measured dispatch, at plan build); the audited plan is the local
    // relation they return — nothing to shuffle
    "q121_label_prop" -> 0,
    // q122: ONE user-keyed window shuffle (both leads share the frame)
    // + the path-count agg; the top-N is a TakeOrdered heap
    "q122_top_paths" -> 2,
    // q123: q120's bucket agg + window exchanges plus the span
    // aggregation behind the dense grid (the 1-row global max rides a
    // broadcast, not a shuffle)
    "q123_rate_anomaly_dense" -> 3,
    // q124/q125: the audited plan is the collected trace relation +
    // its output sort (driver dispatch at spec scale) — the
    // distributed loop's per-round joins are spec-pinned bit-equal
    "q124_rank_convergence" -> 1,
    "q125_lpa_convergence" -> 1,
    // q126: seg-hash distinct + canon agg + canonical pair join +
    // pair distinct + two text joinbacks + output sort, all on keys
    "q126_lcs_pairs" -> 5,
    // q127: two word-count aggs + the two vocab-keyed joins + the
    // top-k sort; the 1-row totals ride broadcasts
    "q127_pmi_collocations" -> 5,
    // q128: q102's single-pass machinery (side-tagged: one df agg, one
    // cached prefix/variant carrier) — the mention-count carrier agg,
    // the name distinct, the (p_name, d_name) pair distinct — + the
    // best-match agg on mention + the output sort
    "q128_fuzzy_link" -> 5,
    // q129: the postings carrier is built map-side (in-array position
    // filter — no explode-then-shuffle), every positional join
    // broadcasts or reuses the carrier: match agg + output sort only
    "q129_phrase_search" -> 2,
    // q130: the df agg on term + the scoring agg on doc_id; tf and dl
    // are map-side in the cached carrier, the 1-row totals and m-row
    // query terms broadcast (their window is a SinglePartition exchange,
    // not counted), and the top-N is a TakeOrdered heap
    "q130_more_like_this" -> 2,
    // q131: q129's shape against the partition-pruned postings scan —
    // match agg + output sort; the positional joins broadcast or reuse
    // the pruned cached carrier
    "q131_phrase_index_search" -> 2,
    // q132: the basket agg on user_id (cached carrier), the item-count
    // agg on k (cached) and the pair-support agg on (item_a, item_b);
    // both vocab joins broadcast the item counts, top-K is a heap
    "q132_basket_lift" -> 3,
    // q133: q132's three aggs (the pair supports cached); the
    // 2-direction union's vocab joins broadcast as in q132
    "q133_basket_rules" -> 3,
    // q134 is iterative like q53: the audited plan is the post-
    // checkpoint settled set + output sort (per-round keyed join +
    // anti-join shuffles run during construction, bounded by depth)
    "q134_bfs_hops" -> 1,
    // q135: user window → (src,dst) agg into the CACHED edge carrier
    // (two exchanges), then out-weight agg (broadcast back), src
    // window, output sort
    "q135_next_items" -> 5,
    // q136: q104's audited shape (the measured driver path collects;
    // the distributed loop's per-round shuffles run during
    // construction behind checkpoints)
    "q136_personalized_rank" -> 0,
    // q137: register agg (cached) + merged-'ALL' re-agg + 2 estimate
    // aggs, the exact audit's per-type two-level distinct (2) and
    // global distinct on uid (1; its final agg is SinglePartition), and
    // the output sort; the estimate ⋈ exact join broadcasts. At 100 TB
    // only the register/estimate path runs
    "q137_hll_users" -> 8,
    // q138: day-grain register agg + rollup re-agg + 2 estimate aggs
    // + union sort — the audit-free sketch path
    "q138_hll_daily" -> 5,
    // q139: candidate distinct + candidate-bounded count agg + sort
    "q139_heavy_hitters" -> 3,
    // q140: file-grain stats agg + sort — zkey/file_id are map-only
    "q140_zorder_layout" -> 2,
    // q141: the per-order lineitem agg on l_orderkey inside the cached
    // window carrier + the output sort; orders ⋈ lineitem and the
    // (custkey, cell) equi-join broadcast — never an NLJ
    "q141_concurrent_orders" -> 2,
    // q142: bucket + exact-value register aggs (cached), their 'ALL'
    // re-aggs, the two cumulative-walk windows on event_type, and the
    // output sort; the estimate ⋈ exact join broadcasts
    "q142_hist_quantiles" -> 7,
    // q143: three 1-row table aggs + two anti-join orphan counts
    "q143_quality_report" -> 4,
    // q144: register agg (cached), the per-pair union re-agg on
    // (type_a, type_b, j) and its estimate agg, the per-type estimate
    // agg (cached, read as est_a and est_b), the exact audit's
    // (type, uid) distinct (cached) and pair-overlap agg, and the output
    // sort. The type pairs explode one collected type list (a global
    // aggregate, not keyed) and the uid self-join broadcasts
    "q144_hll_overlap" -> 7,
    // q145: pruned layout scan + exact filter + output sort — the
    // layout build is a memoized write job, not part of this plan
    "q145_zorder_scan" -> 1,
    // q146: local min-k pass shuffles only k·partitions rows/scope: the
    // sketch build's (scope, h) distinct and per-scope top-k window
    // (cached), the 'ALL' re-top-k's (ALL, h) distinct (its window is a
    // global TakeOrdered), the per-type estimate agg, plus the exact
    // audit (per-type two-level distinct, global distinct on uid) and
    // the output sort; at 100 TB only the sketch/estimate path runs
    "q146_kmv_users" -> 8,
    // q147: the sketch build's two exchanges (cached), the per-pair union
    // re-top-k's (type_a, type_b, h) distinct and window (the theta agg
    // rides its partitioning; the membership joins broadcast, the type
    // pairs explode one collected type list), and the exact audit: the
    // (type, uid) distinct (cached), the pair-overlap agg, the per-type
    // counts (cached, read as ea and eb), and the output sort
    "q147_kmv_overlap" -> 8,
    // q148: pruned layout scan + exact filter + output sort — the
    // bloom probe join runs driver-side at plan build (candidate
    // collection), like q145's quadrant computation
    "q148_bloom_lookup" -> 1,
    // q149: counter hash-agg + catalog probe-min agg + the exact
    // audit agg + join/sort; at 100 TB only the register path runs
    "q149_cms_counts" -> 4,
    // q150: q142's shape on the auto grid — bucket + exact-value
    // register aggs, 'ALL' re-aggs, two cumulative-walk windows,
    // join + sort (the grid itself is a 1-row aggregate at build)
    "q150_price_quantiles" -> 9,
    // q151: q148's pruned-scan shape over the post-deletion layout
    // (the deletion itself is a memoized copy-on-write build job)
    "q151_forget_key" -> 1,
    // q152: day-grain register agg (cached) + the per-type and 'ALL'
    // range merge re-aggs + 2 estimate aggs, the exact audit's per-type
    // two-level distinct and global distinct on uid, and the output
    // sort; at 100 TB only the register-merge path runs over stored rows
    "q152_hll_range" -> 9,
    // q153: q151's pruned-scan shape over the batch-deleted version
    // (the ONE-job batched rewrite is a memoized copy-on-write build)
    "q153_forget_batch" -> 1,
    // q156: q147's sketch algebra over the range sketch. The day-grain
    // build's two exchanges (cached), the range re-top-k's (type, h)
    // distinct and per-type window (cached, read five times), the
    // per-pair union re-top-k's distinct and window, the exact audit
    // (as in q147) and the output sort. Every estimator exchange runs
    // over sketch-sized rows (≤ types × days × k); the exact audit
    // drops at 100 TB
    "q156_kmv_range_overlap" -> 10,
    // q157: the q148 pruned-scan shape over the intersected candidate
    // set of the date-clustered layout (both index probes run at plan
    // build, driver-side)
    "q157_composed_lookup" -> 1,
    // q158/q159: the same pruned-scan + sort shape over post-erasure
    // versions (the batched rewrites are memoized copy-on-write builds)
    "q158_zorder_forget_batch" -> 1,
    "q159_composed_forget" -> 1,
    // q160: the q153 pruned-scan shape over the VACUUMED lineage's
    // retained version (build + promote + vacuum are memoized)
    "q160_vacuumed_forget" -> 1,
    // q155: q145's pruned-scan shape over the post-erasure z-layout
    // version (the quadrant-candidate rewrite is a memoized
    // copy-on-write build, not part of this plan)
    "q155_zorder_forget" -> 1,
    // q154: q45's banded-join shape over the cached dHash cluster
    // carrier (cluster agg + pair distinct; the band self-join
    // broadcasts) + the pair list's own sort + the output sort of the
    // union; the dHash itself is map-side — payload bytes never shuffle
    "q154_media_neardup" -> 4,
    // q161: q151's pruned-scan + sort shape over the post-takedown
    // CORPUS layout (the four-artifact takedown is a memoized
    // copy-on-write build, not part of this plan)
    "q161_doc_takedown" -> 1,
    // q162: full manifest read of the post-takedown pack layout + the
    // presentation sort (the repack ran inside the build job)
    "q162_takedown_pack" -> 1,
    // q163: q131's anchor-join shape over the bucket-pruned
    // post-takedown postings (the cached carrier's exchanges)
    "q163_takedown_phrase" -> 2,
    // q164: q56's shape — cell-pruned scan, map-only scoring, bounded
    // top-k (TakeOrdered, no exchange)
    "q164_takedown_ann" -> 0,
    // q165: a four-row driver-local report + its sort
    "q165_takedown_report" -> 1,
    // q166: q161's pruned-scan + sort shape (the cascade expansion and
    // the four-artifact takedown are memoized builds; the expansion's
    // component chain runs driver-dispatched like q53/q60)
    "q166_cluster_takedown" -> 1,
    // q167: the component carrier joins resolve map-side against the
    // driver-dispatched components; one sort for the presentation order
    "q167_cluster_expansion" -> 1,
    // q168/q169: the table fold — one scan of the two-column base
    // relation relabeled through the broadcast merge roots (driver-
    // dispatched like q53), one distinct exchange + the presentation
    // sort (the store build itself is a memoized one-time job)
    "q168_cluster_table" -> 2,
    "q169_cluster_forget" -> 2,
    // q170: the table-served q60 — the corpus-sized (doc_id, comp)
    // relation is NOT broadcastable at scale, so the quality join is
    // an SMJ (2 exchanges) over the assignment's distinct (1), plus
    // the per-comp keeper window (1) and the presentation sort (1).
    // q60's own 2-exchange shape relies on the driver-dispatched
    // component LocalRelation broadcasting — exactly what a 100 TB
    // corpus cannot assume; this is the honest at-scale plan
    "q170_canonical_table" -> 5)

  // Audited shapes must not depend on which specs ran before this one
  // in the JVM: a carrier another spec left cached (and materialized)
  // carries real size statistics that can flip this spec's joins to
  // broadcasts. Resetting here starts the full-sweep tests below from
  // the same state whatever the suite order; each per-query audit then
  // clears again before it plans, as `Explain --scan` does.
  test("audit precondition: start from a cache-clean session") {
    spark.catalog.clearCache()
  }

  test("every query has a shuffle baseline (keep the map in sync)") {
    val missing = SparkEntry.queries.keySet -- shuffleBaseline.keySet
    assert(missing.isEmpty, s"no baseline for: $missing")
  }

  test("q50 shuffles carry curation keys, never the document body") {
    // the round-4 scale-killer: the fp-dedup exchange used to ship the
    // full `text` column. Assert at the attribute level that no shuffle
    // in the curation plan outputs it (AQE off so ShuffleExchangeExec
    // nodes are directly collectable from the executed plan).
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.Curation.curate(spark, sf)
        .queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected the fp/lang rank shuffles")
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name == "text"),
          s"shuffle carries the corpus body: ${e.output.map(_.name)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("NO query shuffles the document body or media payload") {
    // the generalized q50 lesson: `text` / `content` / `frame` are the
    // wide columns that turn a key shuffle into a corpus shuffle at
    // 100 TB. Derived values (tokens, shingles, fingerprints, lengths)
    // may shuffle; the raw payload columns never should.
    val forbidden = Set("text", "content", "frame")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // ScanPar.spread's ROUND-ROBIN redistribution of a BARE SCAN is the
    // only exempt shape: it fires only when the scan itself is
    // under-split (the bench's single-row-group files), moving source
    // rows ONCE so the map work parallelizes; at production file counts
    // its gate makes it a no-op, so no corpus-body shuffle exists at
    // scale. The exemption requires BOTH round-robin partitioning AND a
    // leaf-scan child (optionally under project/filter/codegen glue —
    // the only shapes spread produces), so an ungated `.repartition()`
    // of a derived relation that carries the body still fails the
    // audit. Keyed (hash/range) exchanges must never carry the body —
    // that is the 100 TB corpus-shuffle hazard.
    def bareScanChild(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
      import org.apache.spark.sql.execution._
      p match {
        case w: WholeStageCodegenExec => bareScanChild(w.child)
        case i: InputAdapter          => bareScanChild(i.child)
        case c: ColumnarToRowExec     => bareScanChild(c.child)
        case pr: ProjectExec          => bareScanChild(pr.child)
        case f: FilterExec            => bareScanChild(f.child)
        case _: FileSourceScanExec    => true
        case _                        => false
      }
    }
    try {
      val bad = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
        fn(spark, sf).queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.output.exists(a => forbidden(a.name)) &&
                !(e.outputPartitioning.isInstanceOf[
                    org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] &&
                  bareScanChild(e.child)) =>
            s"$name shuffles [${e.output.map(_.name).mkString(", ")}]"
        }
      }
      assert(bad.isEmpty, s"wide columns ride a shuffle:\n${bad.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name plan: no cartesian, no stray NLJ, shuffles within baseline") {
      // plan from a clean cache: a carrier an earlier test materialized
      // carries real size statistics that can flip its joins to broadcasts
      spark.catalog.clearCache()
      val executed = fn(spark, sf).queryExecution.executedPlan
      val plan = executed.toString()
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains CartesianProduct")
      if (!bnljAllowed(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plan contains an unexpected BroadcastNestedLoopJoin")
      val n = Explain.keyedExchanges(executed).size
      val limit = shuffleBaseline.getOrElse(name, 0)
      assert(n <= limit,
        s"$name shuffles regressed: $n > baseline $limit")
    }
  }
}
