package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one operator from SURVEY §2 (or a north-star
  * extension) re-expressed Spark-first; `oracleSql` is the equivalent ANSI
  * SQL the driver runs in DuckDB over the same parquet tables. Column
  * names and types are aligned on both sides; doubles that aggregate
  * across rows are rounded identically on both sides.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    OrderWide.orderWideEnriched(spark, "/root/testdata/sf0.001")

  // Shared literal parameters (must match the oracle SQL below).
  private val Item = "small ring"

  /** Mixing recipe for q51: per-language keep percentage. */
  private val MixRecipe: Seq[(String, Int)] =
    Seq("en" -> 50, "de" -> 25, "fr" -> 10)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // —— DAU pipeline (J5 dedup, F1/F2, A1/A2, F11) ——
    "q01_dau_total"        -> ((s, d) => Dau.dauTotal(s, d)),
    "q02_dau_by_hour"      -> ((s, d) => Dau.dauByHour(s, d)),
    "q03_dau_day_over_day" -> ((s, d) => Dau.dauDayOverDay(s, d)),
    // —— Order wide table (J1–J4, T9, F3) ——
    "q04_order_wide"          -> ((s, d) => OrderWide.orderWide(s, d)),
    "q05_customer_enriched"   -> ((s, d) => OrderWide.customerEnriched(s, d)),
    "q06_order_wide_enriched" -> ((s, d) => OrderWide.orderWideEnriched(s, d)),
    "q42_supplier_stats"      -> ((s, d) => OrderWide.supplierStats(s, d)),
    // —— Routing / CDC / JSON (T1, T5–T7, F5) ——
    "q07_route_counts"    -> ((s, d) => Demux.routeCounts(s, d)),
    "q08_cdc_normalize"   -> ((s, d) => Demux.cdcNormalize(s, d)),
    "q09_route_by_config" -> ((s, d) => Demux.routeByConfig(s, d)),
    "q10_json_props"      -> ((s, d) => Demux.jsonProps(s, d)),
    // —— Serving layer (A3–A6, F8–F10) ——
    "q11_stats_by_item"   -> ((s, d) => Serving.statsByItem(s, d, Item, "p_brand")),
    "q12_detail_page"     -> ((s, d) => Serving.detailByItem(s, d, Item, 2, 20)),
    "q13_highlight"       -> ((s, d) => Serving.highlight(s, d, Item)),
    "q14_status_recode"   -> ((s, d) => Serving.statusRecode(s, d)),
    "q39_stats_token_match" -> ((s, d) =>
      Serving.statsByItemTokenMatch(s, d, Item, "p_brand")),
    // deliberately mixed-case + punctuated query: the analyzer must
    // normalize it to ["small","ring"] before matching
    "q44_stats_analyzed" -> ((s, d) =>
      Serving.statsByItemAnalyzed(s, d, "SMALL, Ring.", "p_brand")),
    "q43_age_pinned" -> ((s, d) =>
      Serving.ageDistribution(s, d, "2024-06-15")),
    "q15_acctbal_buckets" -> ((s, d) => Serving.acctbalBuckets(s, d)),
    // —— Dedup family (extensions) ——
    "q16_dedup_exact"       -> ((s, d) => Dedup.exact(s, d)),
    "q17_token_frequency"   -> ((s, d) => TextAnalysis.tokenFrequency(s, d)),
    "q22_jaccard_pairs"     -> ((s, d) => Dedup.ngramJaccardPairs(s, d)),
    // q73: same exact-Jaccard contract at a dedup-grade threshold, on
    // the PPJoin prefix-index path PINNED (candidates only from
    // rare-first prefixes, verified against the full hashed sets) — the
    // adaptive entrypoint would measure this df-flat corpus and pick
    // the counting join (see Dedup.prefixPathPays), so the gate calls
    // the prefix path directly to keep it oracle-covered
    "q73_jaccard_prefix"    -> ((s, d) => Dedup.ngramJaccardPairsPrefix(
      graft.Tables.documents(s, d), 0.5, 3, Dedup.DefaultMaxDf)),
    "q23_minhash_sigs"      -> ((s, d) => Dedup.minhashSignatures(s, d)),
    "q24_minhash_lsh_pairs" -> ((s, d) => Dedup.minhashLshPairs(s, d)),
    "q25_simhash"           -> ((s, d) => Dedup.simhashSignatures(s, d)),
    "q53_neardup_components" -> ((s, d) =>
      Dedup.connectedComponents(
        Dedup.minhashLshPairs(s, d, ordered = false))),
    // —— Text analysis (extensions) ——
    "q18_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(s, d)),
    "q19_lang_id"      -> ((s, d) => TextAnalysis.langId(s, d)),
    "q20_quality"      -> ((s, d) => TextAnalysis.quality(s, d)),
    "q21_fingerprints" -> ((s, d) => TextAnalysis.fingerprints(s, d)),
    "q49_length_stats" -> ((s, d) => TextAnalysis.lengthStats(s, d)),
    "q57_repetition"   -> ((s, d) => TextAnalysis.repetition(s, d)),
    "q64_unigram_rarity" -> ((s, d) => TextAnalysis.unigramRarity(s, d)),
    "q58_decontaminate" -> ((s, d) => Dedup.decontaminate(s, d)),
    "q65_contamination_report" -> ((s, d) => Dedup.contaminationReport(s, d)),
    "q50_curation" -> ((s, d) => Curation.curate(s, d)),
    "q59_sequence_packing" -> ((s, d) => Packing.pack(s, d)),
    // budget 64 (not the 2048 default) so sf0.01 docs actually straddle
    // window boundaries and the split path is what's gated
    "q63_pack_spans" -> ((s, d) => Packing.packSpans(s, d, budget = 64)),
    "q60_canonical_docs"   -> ((s, d) => Curation.canonicalDocs(s, d)),
    "q51_weighted_sample" -> ((s, d) =>
      Sampling.sampleByWeights(s, d, MixRecipe)),
    "q52_label_centroids" -> ((s, d) => Similarity.labelCentroids(s, d)),
    "q54_knn_join" -> ((s, d) =>
      Similarity.knnJoin(s, d, queryIds = Seq(0L, 1L, 2L, 3L), k = 5)),
    // —— Similarity search (extensions) ——
    "q26_ann_topk"        -> ((s, d) => Similarity.topK(s, d)),
    "q61_rerank_ann"      -> ((s, d) => Similarity.rerankTopK(s, d)),
    "q62_quantized_ann"   -> ((s, d) => Similarity.quantizedTopK(s, d)),
    "q27_blocked_neardup" -> ((s, d) => Similarity.blockedNearDup(s, d)),
    "q28_lsh_buckets"     -> ((s, d) => Similarity.lshBuckets(s, d)),
    "q29_lsh_neardup"     -> ((s, d) => Similarity.lshNearDup(s, d)),
    // —— Serving API compositions (§2.7 endpoints) ——
    "q30_dau_realtime"  -> ((s, d) => Api.dauRealtime(s, d, "2024-01-15")),
    "q31_stats_by_type" -> ((s, d) => Api.statsByItem(s, d, Item, "segment")),
    "q32_detail_api"    -> ((s, d) => Api.detailByItem(s, d, Item, 2, 20)),
    // —— Multimodal columns (extension; decode is a documented stub) ——
    "q33_media_meta"   -> ((s, d) => Multimodal.mediaMeta(s, d)),
    "q34_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.mediaTable(s, d))
        .select(col("doc_id"), col("media_type"), col("frame_no").cast("long").as("frame_no"),
          length(col("frame")).cast("long").as("frame_len"))
        .orderBy("doc_id", "frame_no")),
    "q41_topk_per_label" -> ((s, d) => Similarity.topKPerLabel(s, d)),
    // integer-exact Lloyd training (sum of floor(v*1e6) longs) makes the
    // whole train→assign→search pipeline oracle-expressible
    // train is memoized per (dir, cells, iters): an IVF deployment trains
    // once and serves many searches, so the bench's min-of-N measures the
    // per-request search — run 1 pays the (amortized-in-practice) training
    "q38_ivf_search" -> ((s, d) => {
      val cents = IvfIndex.trainCached(s, d, cells = 8, iters = 2)
      IvfIndex.search(s, d, cents, queryId = 0L, k = 10, nprobe = 3)
    }),
    // the 100 TB search path, oracle-gated: assignments MATERIALIZED as a
    // cell-partitioned inverted file, so the probe filter prunes whole
    // partition directories at the scan (PartitionFilters — asserted by
    // IvfIndexSpec/PlanAuditSpec) instead of re-assigning the corpus per
    // query. Same trained centroids / probes / scoring as q38, so the
    // same unrolled-Lloyd DuckDB oracle applies verbatim. Train + the
    // index rewrite are memoized per (dir, cells, iters) — round-5
    // verdict finding #3: the number this query reports should be the
    // per-request pruned-scan search latency, not index construction.
    "q56_ivf_file_search" -> ((s, d) => {
      val (idx, cents) = IvfIndex.invertedFileCached(s, d, cells = 8, iters = 2)
      val qv = Tables.embeddings(s, d).where(col("vec_id") === 0L)
        .select("embedding").head.getSeq[Float](0).toArray
      IvfIndex.searchInvertedFile(s, idx, cents, qv, excludeId = Some(0L),
        k = 10, nprobe = 3)
    }),
    // —— SimHash banded near-dup, as-of join, deterministic sampling ——
    "q45_simhash_neardup" -> ((s, d) => Dedup.simhashNearDup(s, d)),
    "q46_asof_join"       -> ((s, d) => AsofJoin.eventsWithLastOrder(s, d)),
    // tolerance chosen to split the corpus (order→event gaps run
    // ~8200–8800 days): roughly half the matches survive the bound
    "q55_asof_tolerance"  -> ((s, d) =>
      AsofJoin.eventsWithRecentOrder(s, d, toleranceDays = 8400)),
    "q47_hash_sample"     -> ((s, d) => Sampling.hashSample(s, d)),
    "q48_stratified_sample" -> ((s, d) => Sampling.stratifiedSample(s, d)),
    // —— Windowed / ranked aggregations ——
    "q36_hourly_stats"  -> ((s, d) => EventRates.hourlyStats(s, d)),
    "q37_top_tokens"    -> ((s, d) => EventRates.topTokensPerLang(s, d)),
    "q40_sessionize"    -> ((s, d) => Sessionize.sessions(s, d)),
    "q35_media_features" -> ((s, d) => {
      val ds = Multimodal.decodeFeatures(s, d)
      ds.toDF()
        .select(col("doc_id"), col("media_type"),
          col("n_bytes").cast("long").as("n_bytes"),
          graft.functions.TextFunctions.roundStable(
            element_at(col("features"), 1).cast("double"), 4).as("f0"))
        .orderBy("doc_id")
    }),
    // —— Incremental / span-level dedup, mixture sampling, relevance ——
    "q66_incremental_dedup" -> ((s, d) => Dedup.incrementalNewDocs(s, d)),
    "q67_temperature_mixture" -> ((s, d) => Sampling.temperatureSample(s, d)),
    "q68_bm25_rank" -> ((s, d) => Ranking.bm25Rank(s, d)),
    // q74: the A4 detail page served in ES's true relevance order —
    // BM25 over the part dim's analyzed sku names, AND-matched, lines
    // ordered by (score desc, l_orderkey, l_linenumber), paged
    "q74_detail_ranked" -> ((s, d) =>
      Ranking.detailByItemRanked(s, d, Item, 1, 20)),
    // q75: the SemDeDup pass — embedding-cosine near-dup edges →
    // connected components → one canonical survivor per component
    // (min-id policy); full per-vector verdict
    "q75_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(s, d)),
    // q76/q77: the privacy-scrub stage — per-doc PII inventory and the
    // tag-redacted corpus (Dolma/FineWeb-style regex scrub; patterns
    // stay inside the Java-regex ∩ RE2 subset so the oracle is
    // bit-identical). The synthetic corpus carries no PII, so both are
    // exact-identity gates corpus-wide; planted-PII behavior is pinned
    // by PiiSpec.
    "q76_pii_scan"   -> ((s, d) => Pii.piiScan(s, d)),
    "q77_pii_redact" -> ((s, d) => Pii.piiRedact(s, d)),
    // q78: the audit rollup of a curation run — per (source, lang)
    // totals, exact-dup count, fixed-point mean quality, PII incidence
    "q78_corpus_report" -> ((s, d) => Curation.corpusReport(s, d)),
    // q79: quality-decile stamp via broadcast percentile cutoffs (the
    // scale-safe ntile)
    "q79_curriculum" -> ((s, d) => Curation.curriculum(s, d)),
    // q80/q81: BPE vocabulary induction + subword accounting under the
    // learned merges. The training argmax loop is replayed by the
    // oracle as 50 unrolled pair-count→argmax→substitute rounds (see
    // bpeTrainCtes); exact semantics are additionally pinned by
    // BpeSpec's hand-traces.
    "q80_bpe_merges"    -> ((s, d) => Bpe.mergeTable(s, d)),
    "q81_bpe_subtokens" -> ((s, d) => Bpe.subtokenCounts(s, d)),
    // q82: SemDeDup on TRAINED k-means cells (the paper's algorithm)
    "q82_semantic_dedup_ivf" -> ((s, d) => Similarity.semanticDedupIvf(s, d)),
    "q69_duplicate_spans" -> ((s, d) => Dedup.duplicateSpans(s, d)),
    "q70_dup_span_stats"  -> ((s, d) => Dedup.duplicateSpanStats(s, d)),
    // q54's batch shape composed with q56's disk-level pruning: one
    // partition-pruned scan serves the whole query batch
    "q71_ivf_knn_join" -> ((s, d) =>
      IvfIndex.ivfKnnJoin(s, d, queryIds = Seq(0L, 1L, 2L, 3L), k = 5,
        nprobe = 3, cells = 8, iters = 2)),
    // the accuracy side of the nprobe tradeoff as a GATED metric
    "q72_ivf_recall" -> ((s, d) =>
      IvfIndex.recallReport(s, d, queryIds = Seq(0L, 1L, 2L, 3L), k = 10,
        nprobe = 3, cells = 8, iters = 2)),
    // q83: C4-style boilerplate removal — corpus-repeated 10-token
    // chunks deleted from every doc, map-only reassembly
    "q83_chunk_dedup" -> ((s, d) => Dedup.chunkDedup(s, d)),
    // q84: the boilerplate dictionary itself (the audit view)
    "q84_boilerplate_chunks" -> ((s, d) => Dedup.boilerplateChunks(s, d)),
    "q85_domain_cap"        -> ((s, d) => Sampling.domainCap(s, d)),
    "q86_leakage_safe_split" -> ((s, d) => Sampling.leakageSafeSplit(s, d)),
    // q87: CCNet-style perplexity filter — bigram LM trained on the
    // trusted 'en' slice, log-free fixed-point inverse-probability score
    "q87_lm_perplexity" -> ((s, d) => LangModel.perplexityScore(s, d)),
    // q88: TF-IDF keyword extraction, integer idf (monotone = same
    // ranking as log idf, engine-exact)
    "q88_tfidf_keywords" -> ((s, d) => TextAnalysis.tfidfKeywords(s, d)),
    // q89: mixture upsampling — equal-contribution epochs per source,
    // fractional epoch via the hashSample Bernoulli rule
    "q89_mixture_epochs" -> ((s, d) => Sampling.mixtureEpochs(s, d)),
    // q90/q91: the oracle-able split of BPE (round-8 verdict #3) — q90
    // gates training's distributed word-count input, q91 gates the
    // distributed encode expression under a FIXED literal merge table
    // (the oracle replays the rank-order merge loop per word in a
    // DuckDB recursive CTE); only the driver argmax iteration remains
    // outside the oracle, pinned by BpeSpec
    "q90_bpe_word_counts" -> ((s, d) => Bpe.wordCountRelation(s, d)),
    "q91_bpe_encode_fixed" -> ((s, d) => Bpe.subtokenCountsFixed(s, d)),
    // q92: C4-style token blocklist accounting — map-only native
    // counter over a fixed banned-identity set
    "q92_blocklist_scan" -> ((s, d) => TextAnalysis.blocklistScan(s, d)),
    // q93: tokenizer fertility per language under the fixed BPE vocab
    "q93_tokenizer_fertility" ->
      ((s, d) => TextAnalysis.tokenizerFertility(s, d)),
    // q94: language ID by LM — least-perplexed per-lang bigram model
    "q94_lm_langid" -> ((s, d) => LangModel.lmLangId(s, d)),
    // q95: directed shingle-set containment — the asymmetric partial-
    // copy detector (Broder's containment) symmetric Jaccard misses
    "q95_containment_pairs" -> ((s, d) => Dedup.containmentPairs(s, d)),
    // q96: the Gopher quality ruleset as per-rule integer flags
    "q96_gopher_rules" -> ((s, d) => Curation.gopherRules(s, d)),
    // q97: DSIR hashed-ngram importance weights vs the 'en' target slice
    "q97_dsir_weights" -> ((s, d) => Sampling.dsirWeights(s, d)),
    // q98: content-defined chunking (Rabin-style token boundaries) —
    // the shift-tolerant dedup primitive fixed windows can't be
    "q98_cdc_segments" -> ((s, d) => Dedup.cdcSegments(s, d)),
    // q99: cross-doc duplicated CDC segments (the audit dictionary)
    "q99_cdc_dup_segments" -> ((s, d) => Dedup.cdcDupSegments(s, d)),
    // q100: first-occurrence substring dedup at CDC boundaries —
    // repetition removed, one canonical copy of everything kept
    "q100_cdc_dedup" -> ((s, d) => Dedup.cdcDedup(s, d)),
    // q101: the Gopher REPETITION ruleset — all nine within-doc
    // repeated-ngram character fractions + the conjunction verdict
    "q101_gopher_repetition" -> ((s, d) => Curation.gopherRepetition(s, d)),
    // q102: edit-distance fuzzy self-join over part names (entity
    // resolution / ES fuzziness parity) — ED-Join prefix + SymSpell
    // deletion-neighborhood candidates, exact levenshtein verify
    "q102_fuzzy_pairs" -> ((s, d) => FuzzyJoin.fuzzyPairs(s, d)),
    // q103: supervised odds-ratio quality classifier — closed-form
    // "looks like the trusted slice" filter, all-integer weights
    "q103_odds_quality" -> ((s, d) => LangModel.oddsQuality(s, d)),
    // q104: PageRank on the per-user item-transition graph — the
    // iterate-join-aggregate centrality, exact integer fixed point
    "q104_pagerank" -> ((s, d) => GraphRank.pageRank(s, d)),
    // q105: strict-order funnel (view → click → purchase) — users
    // reaching each step strictly after their earliest prior step
    "q105_funnel" -> ((s, d) => Sessionize.funnel(s, d)),
    // q106: cohort retention matrix — first-seen day × activity offset
    "q106_cohorts" -> ((s, d) => Sessionize.cohorts(s, d)),
    // q107: fuzzy clusters — q102's linear-output production form
    // (cluster stamp per key instead of the quadratic pair relation)
    "q107_fuzzy_clusters" -> ((s, d) => FuzzyJoin.fuzzyClusters(s, d)),
    // q108: product-quantization codes (the 64×-compressed embedding
    // representation); q109: ADC search over the codes
    "q108_pq_codes" -> ((s, d) => PqIndex.pqCodes(s, d)),
    "q109_pq_search" -> ((s, d) => PqIndex.pqSearch(s, d)),
    // q110: IVF+PQ composed — coarse cells prune, PQ codes score
    "q110_ivfpq_search" -> ((s, d) => PqIndex.ivfPqSearch(s, d)),
    // q111: GROUP BY ROLLUP corpus report — cells + subtotals + grand
    // total in one aggregation pass
    "q111_rollup_report" -> ((s, d) => Curation.rollupReport(s, d)),
    // q112: THE one-command corpus build — scrub → six gates → exact +
    // near + semantic dedup → domain cap → mixture → packing, gated as
    // one manifest (see Curation.corpusBuild)
    "q112_corpus_build" -> ((s, d) => Curation.corpusBuild(s, d)),
    // q113: the build's per-block shard report (size/skew audit)
    "q113_build_report" -> ((s, d) => Curation.buildReport(s, d)),
    // q114: hybrid lexical+vector retrieval fused by Reciprocal Rank
    // Fusion — the ES/OpenSearch hybrid-search combiner over the green
    // q68 BM25 and q26 ANN lists
    "q114_hybrid_rrf" -> ((s, d) => Ranking.hybridRrf(s, d)),
    // q115: cluster-balanced diversity sample — k-means cells (q82's
    // measured Lloyd) capped per cell by deterministic hash rank
    "q115_cluster_sample" -> ((s, d) => Sampling.clusterBalancedSample(s, d)),
    // q116: SCD Type-2 dimension history from the CDC change feed —
    // the Kimball extension of the reference's last-wins dim upsert
    "q116_scd2_history" -> ((s, d) => Warehouse.scd2History(s, d)),
    // q117: first/last-touch conversion attribution (as-of composition)
    "q117_attribution" -> ((s, d) => Sessionize.attribution(s, d)),
    // q118: n-gram novelty — the per-doc fraction of first-occurrence
    // shingles (mosaic-duplicate signal pairwise dedup can't see)
    "q118_ngram_novelty" -> ((s, d) => TextAnalysis.ngramNovelty(s, d)),
    // q119: per-node triangle counts on the undirected item graph
    // (degree-ordered orientation — each triangle found exactly once)
    "q119_triangles" -> ((s, d) => GraphRank.triangles(s, d)),
    // q120: trailing-window rate anomalies — the z-score test cleared
    // of divisions/sqrt so both engines decide on exact integers
    "q120_rate_anomaly" -> ((s, d) => EventRates.rateAnomalies(s, d)),
    // q121: synchronous label-propagation communities (deterministic
    // smallest-label tie-break, fixed rounds — oracle-unrollable)
    "q121_label_prop" -> ((s, d) => GraphRank.labelPropagation(s, d)),
    // q122: top length-3 item journeys (path mining over per-user
    // consecutive k sequences; self-transitions kept)
    "q122_top_paths" -> ((s, d) => Sessionize.topPaths(s, d)),
    // q123: q120 over a DENSE calendar-hour grid — silent hours are
    // explicit cnt=0 rows the z-test can flag (collapse detection)
    "q123_rate_anomaly_dense" ->
      ((s, d) => EventRates.rateAnomaliesDense(s, d)),
    // q124/q125: convergence diagnostics for the iterative family —
    // per-round L1 rank delta / label flips (both dispatch paths
    // bit-identical; the fixed-iteration contract stays on q104/q121)
    "q124_rank_convergence" ->
      ((s, d) => GraphRank.pageRankConvergence(s, d)),
    "q125_lpa_convergence" ->
      ((s, d) => GraphRank.labelPropagationConvergence(s, d)),
    // q126: exact longest-common-token-substring per CDC-candidate
    // pair (suffix-automaton kernel; oracle replays it with an
    // algorithmically independent diagonal-run window)
    "q126_lcs_pairs" -> ((s, d) => Dedup.lcsPairs(s, d)),
    // q127: PMI collocation mining — top bigrams by the log-free
    // fixed-point lift (monotone with PMI; 128-bit-exact both engines)
    "q127_pmi_collocations" ->
      ((s, d) => TextAnalysis.pmiCollocations(s, d)),
    // q128: fuzzy entity linking — free-text bigram mentions resolved
    // against the part-name catalog (cross-relation fuzzy dim join;
    // best match per mention, no probe-side self-join)
    "q128_fuzzy_link" -> ((s, d) => FuzzyJoin.fuzzyLink(s, d)),
    // q129: positional phrase search (ES match_phrase) — in-array
    // position filter, then one keyed (doc_id, pos−i) join per term
    "q129_phrase_search" -> ((s, d) => Ranking.phraseSearch(s, d)),
    // q130: more-like-this (ES more_like_this) — top-m query-doc terms
    // by tf·idf_ppm, BM25-shaped integer scoring (128-bit fixed point,
    // no float/libm on the ranking boundary)
    "q130_more_like_this" -> ((s, d) => Ranking.moreLikeThis(s, d)),
    // q131: q129 served from the PERSISTED term-bucketed postings index
    // (built once per corpus, memoized) — partition-pruned disk reads,
    // the corpus text never touched at query time
    "q131_phrase_index_search" -> ((s, d) => Ranking.phraseSearchIndexed(s, d)),
    // q132: market-basket lift — item pairs by co-engagement lift over
    // per-user baskets (q127's fixed-point discipline on catalog
    // analytics; basket cap bounds the pair expansion)
    "q132_basket_lift" -> ((s, d) => Sessionize.basketLift(s, d)),
    // q133: directional association rules — the support/confidence/
    // lift triple (conf_ppm = n_ab·10⁶ div n_antecedent; both
    // directions of each supported pair)
    "q133_basket_rules" -> ((s, d) => Sessionize.basketRules(s, d)),
    // q134: BFS hop distance from a seed item over the directed k-
    // transition graph — the frontier-expansion shape (one keyed join
    // + one anti-join per round, vocabulary-bounded), driver dispatch
    // under the q104 edge budget
    "q134_bfs_hops" -> ((s, d) => GraphRank.bfsHops(s, d)),
    // q135: next-item table — top-3 successors per item by transition
    // count with the exact integer conditional probability
    // prob_ppm = (w·10⁶) div wout (Markov reading of the q104 edges)
    "q135_next_items" -> ((s, d) => GraphRank.nextItems(s, d)),
    // q136: personalized PageRank — q104's integer walk with all
    // teleport mass at the seed (seeded random-walk relevance); same
    // shared loop, dispatch, and exact-Long arithmetic
    "q136_personalized_rank" -> ((s, d) => GraphRank.personalizedRank(s, d)),
    // q137: HLL distinct users per event type + the cross-type union
    // derived by MERGING per-type registers (not rescanning events),
    // audited against the exact distinct (err_ppm). All-integer raw
    // estimator — both engines compute identical registers + estimate
    "q137_hll_users" -> ((s, d) => Sketches.hllUsers(s, d)),
    // q138: the persisted-sketch rollup — day-grain registers built
    // once; per-(type, day) estimates AND per-type all-days rollups
    // from the same register relation (max re-aggregation)
    "q138_hll_daily" -> ((s, d) => Sketches.hllUsersDaily(s, d)),
    // q139: deterministic heavy hitters over the props.k catalog —
    // Misra-Gries candidate pass (bounded memory, map-only) + exact
    // verification of the candidate superset, so output is exact
    "q139_heavy_hitters" -> ((s, d) => Sketches.heavyHitters(s, d)),
    // q140: Z-order layout report — bit-interleaved (user, item) keys,
    // map-only quadrant file assignment (no global sort), per-file
    // min/max footer stats showing BOTH dimensions bounded
    "q140_zorder_layout" -> ((s, d) => Warehouse.zorderLayout(s, d)),
    // q141: interval-overlap join via cell decomposition — concurrent
    // fulfillment windows per customer; an equi-join on (customer,
    // cell) + exact re-verify + first-shared-cell dedup, never an
    // inequality-only NLJ/cartesian
    "q141_concurrent_orders" -> ((s, d) => IntervalJoin.concurrentOrders(s, d)),
    // q142: histogram-sketch quantiles (p50/p95/p99) per event type +
    // SUM-merged 'ALL' rollup, audited against the exact order
    // statistic — estimate and truth share one cumulative-walk code
    // path at two grid resolutions
    "q142_hist_quantiles" -> ((s, d) => Sketches.histQuantiles(s, d)),
    // q143: Deequ-role data-quality report — one aggregation pass per
    // table (completeness/compliance/uniqueness/freshness as integer
    // ppm) + one broadcast anti-join per foreign key (orphan counts)
    "q143_quality_report" -> ((s, d) => Checks.qualityReport(s, d)),
    // q144: audience overlap — HLL set algebra: pairwise union
    // registers from the SAME per-type register relation, intersection
    // via inclusion-exclusion (clamped), exact audit column
    "q144_hll_overlap" -> ((s, d) => Sketches.hllOverlap(s, d)),
    // q145: the SERVED z-order range scan — reads the materialized
    // z-layout through file_id IN (quadrants) partition pruning, exact
    // predicate re-applied after the prune (a pruning bug fails loudly
    // against the oracle's plain filter, never silently)
    "q145_zorder_scan" ->
      ((s, d) => Warehouse.zorderScan(s, d, 0L, 40L, 10L, 19L)),
    // q146: KMV (theta) distinct users — the q137 surface re-answered
    // by the second sketch family: the k smallest distinct hashes per
    // type ARE the sketch, built bounded-memory (mapPartitions min-k,
    // the MG shape), merged by union→re-top-k; nreg<k degenerates to
    // the exact count for free (no LC table needed)
    "q146_kmv_users" -> ((s, d) => Sketches.kmvUsers(s, d)),
    // q147: audience overlap via theta-sketch membership counting —
    // direct intersection/Jaccard from the union sample (error ∝ the
    // intersection), vs q144's inclusion-exclusion (error ∝ the union);
    // all pair sketches from ONE cached per-type register relation
    "q147_kmv_overlap" -> ((s, d) => Sketches.kmvOverlap(s, d)),
    // q148: the SERVED bloom point lookup — orders of 3 probe
    // customers read through file_id IN (bloom candidates) partition
    // pruning over the arrival-keyed layout (the case z-order/minmax
    // stats can't prune); exact predicate re-applied, so fp only costs
    // files, never rows — the oracle is the plain filter
    "q148_bloom_lookup" ->
      ((s, d) => BloomSkip.pointLookup(s, d, Seq(7L, 42L, 133L))),
    // q149: Count-Min point frequencies of the whole item catalog,
    // audited against the exact counts — one-sided error by
    // construction (est >= exact; the err column measures the
    // collision overshoot); (d, w, cnt) registers are SUM-mergeable,
    // so the streamed sink compacts like the histogram's
    "q149_cms_counts" -> ((s, d) => Sketches.cmsCounts(s, d)),
    // q150: the q142 histogram family generalized to an arbitrary
    // numeric column — the grid derives from the column's own min/max
    // (one bounded 1-row aggregate), then the identical SUM-mergeable
    // register build + shared cumulative walk; estimates are bucket
    // lower bounds, audited at cent resolution
    "q150_price_quantiles" -> ((s, d) => Sketches.priceQuantiles(s, d)),
    // q151: right-to-erasure through the skipping index — customer 7's
    // rows deleted by rewriting ONLY the bloom-candidate files (the
    // rest carried byte-identical, the index patched incrementally),
    // then both the deleted and a surviving key probed through the
    // patched index; the oracle (plain filter, key excluded) hashes
    // the deletion's absence AND the survivors' presence
    "q151_forget_key" ->
      ((s, d) => BloomSkip.forgetKey(s, d, 7L, Seq(42L))),
    // q152: the sketch warehouse's RANGE read — distinct users in a
    // two-week window answered by max-merging the day-grain register
    // table's rows for the range (any of the 2^days ranges from ONE
    // stored relation, zero event rescans at serving time); exact
    // audit + err_ppm as in q137
    "q152_hll_range" -> ((s, d) => Sketches.hllUsersRange(s, d)),
    // q153: BATCHED right-to-erasure — a compliance window's worth of
    // keys (3 customers) deleted in ONE copy-on-write rewrite job over
    // the UNION of their bloom-candidate files; untouched files are
    // SHARED between layout versions through the manifest (a row, not
    // an I/O — forget is O(candidates), never O(corpus)); then the
    // deleted keys AND two survivors probe the patched index — every
    // absence and every presence rides the hash
    "q153_forget_batch" ->
      ((s, d) => BloomSkip.forgetKeys(s, d, Seq(7L, 13L, 29L),
        Seq(42L, 133L))),
    // q154: perceptual-hash near-dup over the media table's BINARY
    // payloads — dHash over the resized 64-byte thumbnail (the fixed-
    // dimension normalization real image dHash gets from resizing),
    // exact-duplicate clusters (hamming 0) + banded-Hamming near-pairs
    // (the q45 skeleton), never across media types; the oracle replays
    // the identical comparison-sum bit arithmetic over the ASCII
    // source text (char access ≡ byte access for an ASCII payload)
    "q154_media_neardup" -> ((s, d) => Multimodal.mediaNearDup(s, d)),
    // q155: right-to-erasure through the Z-ORDER layout (the second
    // skipping index gets the same forget contract as the bloom path's
    // q151 — a user's rows must not survive in the analytics layout):
    // user 7's rows deleted by rewriting ONLY the quadrant files whose
    // x-interval contains the user (candidates from quadrant GEOMETRY,
    // the z-order twin of the bloom probe), untouched quadrants
    // manifest-shared, then the q145 rectangle scan runs through the
    // forgotten version — the oracle is the plain rectangle filter
    // with the user excluded
    "q155_zorder_forget" ->
      ((s, d) => Warehouse.zorderForgetScan(s, d, 7L, 0L, 40L, 10L, 19L)),
    // q156: audience overlap for an ARBITRARY date range — the query
    // only the KMV family answers from storage: q152's HLL day rollups
    // serve range UNIONS but registers cannot intersect; here the
    // day-grain KMV table's rows for the range re-top-k into per-type
    // range sketches (min-k over sets is associative — merge-of-days ≡
    // build-over-range, which the oracle pins by building directly
    // over the range) and theta membership counting yields the
    // intersection, error ∝ the intersection; exact audit as in q147
    "q156_kmv_range_overlap" -> ((s, d) => Sketches.kmvOverlapRange(s, d)),
    // q157: the COMPOSED skipping lookup — `o_custkey IN (...) AND
    // o_orderdate IN [from, to]` answered by INTERSECTING the two
    // per-file indexes of a date-clustered layout (bloom on the key ∩
    // min/max stats on the date) before the scan: bloom alone scans a
    // customer's whole multi-year history, stats alone scan every file
    // of the window, the AND touches only files where both hold; the
    // oracle is the plain conjunctive filter
    "q157_composed_lookup" ->
      ((s, d) => BloomSkip.lookupKeysInRange(s, d, Seq(7L, 42L),
        "1995-01-01", "1996-06-30")),
    // q158: BATCHED erasure through the z-order layout — q153's
    // one-job batching applied to the analytics layout: two users'
    // x-stripes union into ONE rewrite (K users cost one job, not K),
    // untouched quadrants manifest-shared, then the q145 rectangle
    // scan through the forgotten version; oracle = plain rectangle
    // filter with both users excluded
    "q158_zorder_forget_batch" ->
      ((s, d) => Warehouse.zorderForgetScanBatch(s, d, Seq(7L, 13L),
        0L, 40L, 10L, 19L)),
    // q159: erasure through the COMPOSED layout — the key batch
    // deletes via bloom candidates with BOTH per-file indexes patched
    // incrementally (bloom partials + min/max date stats recomputed
    // for rewritten files only), then deleted keys and survivors probe
    // through the intersected indexes of the patched version; with
    // q151/q153 (arrival-bloom), q155/q158 (z-order) and this, EVERY
    // layout the warehouse serves has the same forget contract
    "q159_composed_forget" ->
      ((s, d) => BloomSkip.forgetKeysInRange(s, d, Seq(7L, 42L),
        Seq(13L, 133L), "1995-01-01", "1996-06-30")),
    // q160: GDPR-COMPLETE erasure — forget the batch, PROMOTE the
    // post-erasure version into the lineage's version log, then VACUUM
    // so the deleted users' bytes are PHYSICALLY gone (a forget's old
    // bytes live on in pre-forget snapshots until they expire — the
    // Iceberg expire-snapshots discipline with the compliance
    // reading); probes answer through the retained version, and the
    // spec sweeps every surviving parquet file for leftover keys
    "q160_vacuumed_forget" ->
      ((s, d) => BloomSkip.vacuumedForget(s, d, Seq(7L, 13L, 29L),
        Seq(42L, 133L))),
    // q161: right-to-erasure for the DOCUMENT corpus — the takedown
    // batch deleted from the curated-corpus layout in one bloom-pruned
    // rewrite (the q153 machinery keyed on doc_id), then the deleted
    // ids and survivors probed through the patched per-file index; the
    // oracle is the plain filter with the batch excluded
    "q161_doc_takedown" ->
      ((s, d) => DocForget.takedownScan(s, d, Seq(45L, 48L, 262L),
        Seq(7L, 100L))),
    // q162: the takedown propagated through the PACKED SHARDS — only
    // the deleted docs' blocks rewrite, and their survivors REPACK
    // (per-block prefix sums recomputed in the same job) so no shard
    // carries a hole where a deleted doc's spans were; the oracle
    // packs the corpus with the batch excluded — a stale offset or
    // leftover span fails the hash
    "q162_takedown_pack" ->
      ((s, d) => DocForget.takedownPack(s, d, Seq(45L, 48L, 262L))),
    // q163: the takedown propagated through the POSITIONAL POSTINGS —
    // only the deleted docs' term buckets rewrite; the q131 phrase
    // search through the patched index must lose the deleted docs'
    // matches (45 and 262 match this phrase at sf0.01) and keep every
    // other
    "q163_takedown_phrase" ->
      ((s, d) => DocForget.takedownPhrase(s, d, Seq(45L, 48L, 262L))),
    // q164: the takedown propagated through the IVF INVERTED FILE —
    // only the deleted vectors' cells rewrite (candidates from the
    // index's own per-file bloom on vec_id, no assignment recompute);
    // q56's probe path over the patched version, oracle = the same
    // unrolled-Lloyd chain with the batch excluded from scoring
    "q164_takedown_ann" ->
      ((s, d) => DocForget.takedownAnn(s, d, Seq(45L, 48L, 262L))),
    // q165: the takedown ACCOUNTING — exact per-artifact deleted-row
    // counts from the rewrite jobs' own Observation metrics; the
    // oracle recomputes every count from the source tables (too few =
    // a leftover row somewhere, too many = a lost survivor)
    "q165_takedown_report" ->
      ((s, d) => DocForget.takedownReport(s, d, Seq(45L, 48L, 262L))),
    // q166: CLUSTER takedown — the realistic request ("remove this
    // content", not "this copy"): seed 45 expands through its q60
    // near-dup cluster ({45,267,413} at sf0.01) and the whole cluster
    // runs the four-artifact takedown; the probe list includes known
    // cluster mates at several SFs, and the oracle re-derives the
    // cascade (NOT IN over the replayed MinHash-LSH component chain),
    // so both the deletions and the cascade's exact reach ride the hash
    "q166_cluster_takedown" ->
      ((s, d) => DocForget.clusterTakedownScan(s, d, Seq(45L),
        Seq(7L, 100L, 267L, 413L, 487L))),
    // q167: the cascade accounting — every (doc_id, cluster) the seed
    // expands to, i.e. exactly what q166 deletes
    "q167_cluster_expansion" ->
      ((s, d) => DocForget.clusterExpansion(s, d, Seq(45L))),
    // q168: the stream-maintained near-dup CLUSTER TABLE (round-16
    // verdict #4 — kills q167's per-call corpus recompute): the corpus
    // ingested in three deterministic batches through the incremental
    // fold (within-batch LSH components + a batch-vs-corpus merge
    // log), served as ONE map-side-relabeled scan of the base
    // relation; oracle = the one-shot recursive-CTE component chain
    // (q167's `allc` over every doc), so the incremental fixpoint must
    // equal the batch recompute EXACTLY — every band key, est_sim and
    // label min rides the hash
    "q168_cluster_table" ->
      ((s, d) => graft.streaming.ClusterStream.assignmentFor(s, d)),
    // q169: near-dup clustering under DELETES — the erasure twin:
    // doc 45's takedown removes its rows and re-derives its cluster's
    // survivors in place (cluster-local recompute, O(affected
    // cluster)); oracle = the same chain over the RETAINED documents
    "q169_cluster_forget" ->
      ((s, d) => graft.streaming.ClusterStream
        .forgottenAssignmentFor(s, d, Seq(45L))),
    // q170: canonical selection (q60's keeper rule) served FROM the
    // incremental cluster table instead of re-deriving LSH +
    // components per call — the q167→q168 move applied to q60; the
    // oracle is exactly q60's (same keeper, same arithmetic), so the
    // two formulations must agree bit-for-bit
    "q170_canonical_table" ->
      ((s, d) => Curation.canonicalWithComps(
        graft.Tables.documents(s, d),
        graft.streaming.ClusterStream.assignmentForUnordered(s, d))),
  )

  /** Queries whose headline bench time can be a per-JVM memo read
    * (trained centroids/codebooks, the inverted file, gate models,
    * the build manifest). Bench re-runs these in its `cold` section
    * with [[Memo.clearAll]] before every sample, so the TRUE
    * build/train cost gets a tracked number (round-10 verdict #2)
    * while the headline keeps measuring the serving path. */
  val coldQueries: Seq[String] = Seq(
    "q38_ivf_search", "q56_ivf_file_search", "q82_semantic_dedup_ivf",
    "q108_pq_codes", "q110_ivfpq_search", "q112_corpus_build",
    "q113_build_report", "q115_cluster_sample",
    "q131_phrase_index_search", "q145_zorder_scan", "q148_bloom_lookup",
    "q151_forget_key", "q153_forget_batch", "q155_zorder_forget",
    "q157_composed_lookup", "q158_zorder_forget_batch",
    "q159_composed_forget", "q160_vacuumed_forget",
    "q161_doc_takedown", "q162_takedown_pack", "q163_takedown_phrase",
    "q164_takedown_ann", "q165_takedown_report", "q166_cluster_takedown",
    "q168_cluster_table", "q169_cluster_forget", "q170_canonical_table")

  /** Driver-dispatch queries re-run with the dispatch budget zeroed,
    * so the DISTRIBUTED plan — the one that executes at 100 TB — gets
    * a tracked number instead of a driver-JIT lottery (round-10
    * verdict #2). Results are spec-pinned bit-identical to the
    * headline entries; only the execution path differs. */
  val distributedVariants: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q53_neardup_components" -> ((s, d) =>
        Dedup.connectedComponents(
          Dedup.minhashLshPairs(s, d, ordered = false), edgeBudget = 0L)),
      "q104_pagerank" -> ((s, d) =>
        GraphRank.pageRank(s, d, edgeBudget = 0L)),
      "q107_fuzzy_clusters" -> ((s, d) =>
        FuzzyJoin.fuzzyClusters(s, d, edgeBudget = 0L)),
      "q121_label_prop" -> ((s, d) =>
        GraphRank.labelPropagation(s, d, edgeBudget = 0L)),
      "q124_rank_convergence" -> ((s, d) =>
        GraphRank.pageRankConvergence(s, d, edgeBudget = 0L)),
      "q125_lpa_convergence" -> ((s, d) =>
        GraphRank.labelPropagationConvergence(s, d, edgeBudget = 0L)),
      "q134_bfs_hops" -> ((s, d) =>
        GraphRank.bfsHops(s, d, edgeBudget = 0L)),
      "q136_personalized_rank" -> ((s, d) =>
        GraphRank.personalizedRank(s, d, edgeBudget = 0L)))

  // DuckDB-runnable oracle SQL. Conventions: counts stay BIGINT on both
  // sides; sums of integers are CAST to BIGINT (DuckDB widens to HUGEINT);
  // money SUMs are cent-exact on both sides (TextFunctions.moneySum:
  // per-row floor(x·100 + 0.5) cents — bit-equal in every engine —
  // summed as integers, ONE final /100.0): a double SUM's last ulp
  // depends on partial-aggregation ORDER, which flipped a rounded
  // digit at sf1; other float results of exact-integer arithmetic
  // (averages, the rarity mean) use the engine-stable
  // floor(x·10^d + 0.5)/10^d rule (TextFunctions.roundStable) since
  // round() diverges at half boundaries (Spark HALF_UPs the shortest
  // decimal repr, DuckDB rounds the binary double). NO gated output
  // uses round() anymore — every rounded value (cosine scores, jaccard,
  // quality ratios, BM25, q_bp) goes through the floor rule on both
  // sides. List folds mirror Spark's sequential `aggregate` so doubles
  // are bitwise-identical.
  // MinHash affine constants (j, a_j, b_j) as a SQL VALUES list — the
  // same md5-derived constants the Spark side embeds as array literals.
  private val MhConstsSql: String = {
    import graft.functions.TextFunctions.{minHashA, minHashB}
    val (a, b) = (minHashA(16), minHashB(16))
    (0 until 16).map(j => s"($j, ${a(j)}, ${b(j)})").mkString(", ")
  }

  // The composite quality score over CTE columns (toks, text) — the ONE
  // SQL rendering of TextFunctions.qualityScore, shared by the q50 and
  // q60 oracles so the compositions cannot drift from each other (q20
  // derives the same score from its separately-output ratio columns).
  private def qualityCaseSql: String =
    raw"""floor(((CASE WHEN len(toks) BETWEEN 20 AND 1000
                      THEN CAST(0.5 AS DOUBLE)
                      WHEN len(toks) >= 5 THEN CAST(0.25 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END)
                + (CASE WHEN (CASE WHEN len(toks) = 0
                         THEN CAST(0.0 AS DOUBLE)
                         ELSE CAST(len(list_filter(toks,
                           s -> list_contains(['the','a','an','and','of',
                             'to','in','is','it','on','for'], s)))
                           AS DOUBLE) / len(toks) END) >= 0.05
                        THEN CAST(0.3 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END)
                + CAST(0.2 AS DOUBLE)
                + (CASE WHEN (CASE WHEN len(regexp_replace(text,
                         '\s+', '', 'g')) = 0 THEN CAST(0.0 AS DOUBLE)
                         ELSE CAST(len(regexp_replace(text,
                           '[^[:punct:]]', '', 'g')) AS DOUBLE)
                           / len(regexp_replace(text, '\s+', '', 'g'))
                         END) > 0.2
                        THEN CAST(-0.2 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END)) * 100 + 0.5) / 100"""

  // Shared recursive-CC + verdict tail for the SemDeDup oracles
  // (q75/q82): consumes CTE `pairs`(id1, id2), emits the full
  // per-vector (vec_id, comp, keep) verdict. The WITH must be RECURSIVE.
  private def semanticVerdictSql: String =
    """sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                 UNION ALL
                 SELECT id2 AS src, id1 AS dst FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM sym),
         reach(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sy.dst, r.comp FROM reach r JOIN sym sy ON r.id = sy.src),
         cmp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
         SELECT e.vec_id, COALESCE(c.comp, e.vec_id) AS comp,
                CASE WHEN e.vec_id = COALESCE(c.comp, e.vec_id)
                     THEN 1 ELSE 0 END AS keep
         FROM embeddings e LEFT JOIN cmp c ON e.vec_id = c.id
         ORDER BY vec_id"""

  // Shared CTE chain for the MinHash-LSH pipeline (q24 pairs, q53
  // components): shingle → minhash → banded buckets → candidate pairs →
  // est_sim scoring. `sc` is the scored-pairs relation. The `docsFrom`
  // variant runs the chain over a filtered corpus (q169: the retained
  // documents after a cluster-table takedown).
  private def minhashLshCtes: String = minhashLshCtesOver("documents")

  private def minhashLshCtesOver(docsFrom: String): String =
    raw"""t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                      s -> len(s) > 0) AS toks
           FROM $docsFrom),
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(len(toks) - 2),
                    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END) AS shingles
           FROM t),
         ex AS (
           SELECT doc_id,
                  ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT
                    % 2147483647 AS base
           FROM sh),
         consts(j, a, b) AS (VALUES $MhConstsSql),
         h AS (
           SELECT doc_id, c.j AS hash_idx,
                  (c.a::BIGINT * base + c.b::BIGINT) % 2147483647 AS hv
           FROM ex CROSS JOIN consts c),
         sig AS (
           SELECT doc_id, hash_idx, min(hv) AS hash_val
           FROM h GROUP BY doc_id, hash_idx),
         bk AS (
           SELECT doc_id, hash_idx // 2 AS band,
                  md5(array_to_string(list(hash_val ORDER BY hash_idx), ','))
                    AS band_key
           FROM sig GROUP BY doc_id, band),
         cand AS (
           SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
           FROM bk x JOIN bk y
             ON x.band = y.band AND x.band_key = y.band_key
            AND x.doc_id < y.doc_id),
         sc AS (
           SELECT id1, id2,
                  CAST(sum(CASE WHEN s1.hash_val = s2.hash_val THEN 1 ELSE 0 END)
                    AS DOUBLE) / 16 AS est_sim
           FROM cand
           JOIN sig s1 ON id1 = s1.doc_id
           JOIN sig s2 ON id2 = s2.doc_id AND s1.hash_idx = s2.hash_idx
           GROUP BY id1, id2)"""

  // LSH bucket signature as a DuckDB expression over `embedding`: the
  // same md5-derived integer hyperplane weights the Spark side embeds as
  // literals (Similarity.planeWeights). Integer weights + identical
  // ascending-index fold order ⇒ the dot-product sign (and so the
  // bucket) is bit-for-bit reproducible across engines.
  private def lshBucketSql: String =
    graft.operators.Similarity.planeWeights(graft.operators.Similarity.LshPlanes)
      .zipWithIndex.map { case (w, j) =>
      val lst = w.map(v => s"$v.0").mkString("[", ", ", "]")
      s"""(CASE WHEN list_reduce(list_transform(list_zip(embedding, $lst),
            p -> p[1]::DOUBLE * p[2]), (x, y) -> x + y) >= 0
           THEN ${1L << j} ELSE 0 END)"""
    }.mkString(" + ")

  // Cosine similarity as a DuckDB expression (ascending-index folds —
  // bitwise-identical to the native CosineSimilarity expression).
  private def cosSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
          p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
        / (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE),
             (x, y) -> x + y))
           * sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE),
               (x, y) -> x + y)))"""

  // q38's oracle: the IVF pipeline unrolled — init centroids from the C
  // lowest vec_ids, `iters` Lloyd iterations (assign = argmax cosine with
  // ties toward the smaller cell; update = integer-exact component
  // averages sum(floor(v*1e6))/(n*1e6)), then probe-and-score. Every
  // aggregation is over longs or a single IEEE op, so DuckDB reproduces
  // the Spark result bit-for-bit.
  /** All CTEs for the multi-query IVF batch kNN: the shared
    * unrolled-Lloyd prefix + per-query probe ranking + ranked IVF
    * results in CTE `r` (q71 selects from it; q72 layers the
    * brute-force comparison on top). */
  private def ivfKnnCtes(cells: Int, iters: Int, nprobe: Int,
      queryIds: Seq[Long]): String = {
    val (prefix, afSql) = ivfCtes(cells, iters)
    prefix + ",\n" +
      s"""q AS (SELECT vec_id AS query_id, embedding AS qe FROM e
                WHERE vec_id IN (${queryIds.mkString(", ")})),
         probe AS (
           SELECT query_id, cell FROM (
             SELECT q.query_id, c.cell, row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY ${cosSql("c.centroid", "q.qe")} DESC, c.cell) AS rn
             FROM c$iters c CROSS JOIN q) t
           WHERE rn <= $nprobe),
         af AS ($afSql),
         s AS (
           SELECT q.query_id, e.vec_id,
                  floor((${cosSql("e.embedding", "q.qe")}) * 1000000 + 0.5) / 1000000 AS score
           FROM e JOIN af USING (vec_id)
                JOIN probe ON probe.cell = af.cell
                JOIN q ON q.query_id = probe.query_id
           WHERE e.vec_id <> q.query_id),
         r AS (
           SELECT query_id, vec_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
           FROM s)"""
  }

  /** Multi-query IVF batch kNN (q71): the same unrolled-Lloyd CTE chain
    * as q38/q56, with per-query probe ranking and per-query top-k. */
  private def ivfKnnJoinSql(cells: Int, iters: Int, nprobe: Int, k: Int,
      queryIds: Seq[Long]): String =
    "WITH " + ivfKnnCtes(cells, iters, nprobe, queryIds) + "\n" +
      s"""SELECT query_id, rank, vec_id, score FROM r WHERE rank <= $k
         ORDER BY query_id, rank"""

  /** Recall@k report (q72): IVF top-k vs exact brute-force top-k per
    * query — both deterministic (rounded score, vec_id tiebreak). */
  private def ivfRecallSql(cells: Int, iters: Int, nprobe: Int, k: Int,
      queryIds: Seq[Long]): String =
    "WITH " + ivfKnnCtes(cells, iters, nprobe, queryIds) + ",\n" +
      s"""ivf AS (SELECT query_id, vec_id FROM r WHERE rank <= $k),
         bs AS (
           SELECT q.query_id, e.vec_id,
                  floor((${cosSql("e.embedding", "q.qe")}) * 1000000 + 0.5) / 1000000 AS score
           FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         br AS (
           SELECT query_id, vec_id, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
           FROM bs),
         brute AS (SELECT query_id, vec_id FROM br WHERE rank <= $k),
         ov AS (
           SELECT query_id, count(*) AS n_overlap
           FROM ivf SEMI JOIN brute USING (query_id, vec_id)
           GROUP BY query_id)
         SELECT ql.query_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
                floor((CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE)
                      / CAST($k AS DOUBLE)) * 10000 + 0.5) / 10000 AS recall
         FROM (SELECT DISTINCT query_id FROM q) ql
         LEFT JOIN ov ON ql.query_id = ov.query_id
         ORDER BY ql.query_id"""

  /** Shared unrolled-Lloyd CTE chain (seed + `iters` train iterations);
    * returns (prefix CTEs, final-assignment subquery body `af`). */
  private def ivfCtes(cells: Int, iters: Int): (String, String) =
    ivfCtes(cells.toString, iters)

  /** [[ivfCtes]] with the cell count as a SQL expression, so an oracle
    * can derive it from the corpus with the operator's own rule (q82's
    * measured `max(16, ceil(n/128))` — the round-9 verdict's frozen-
    * parameter fix: the sf1 sweep no longer departs by design), and the
    * embedding source CTE injectable (q112 trains on the corpus-build
    * survivors' embeddings). */
  private def ivfCtes(cellsSql: String, iters: Int,
      embCte: String = "e AS (SELECT vec_id, embedding FROM embeddings)")
      : (String, String) = {
    val init =
      s"""$embCte,
         c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                         AS cell,
                       list_transform(embedding, v -> v::DOUBLE) AS centroid
                FROM (SELECT vec_id, embedding FROM e
                      ORDER BY vec_id LIMIT ($cellsSql)) seed)"""
    val iterCtes = (0 until iters).map { i =>
      s"""a$i AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "c.centroid")} DESC,
                               c.cell) AS rn
             FROM e CROSS JOIN c$i c) t
           WHERE rn = 1),
         x$i AS (
           SELECT a$i.cell,
                  unnest(range(len(e.embedding))) AS pos,
                  unnest(e.embedding) AS v
           FROM a$i JOIN e USING (vec_id)),
         s$i AS (
           SELECT cell, pos,
                  CAST(sum(CAST(floor(v::DOUBLE * 1000000.0) AS BIGINT))
                    AS BIGINT) AS sv,
                  count(*) AS n
           FROM x$i GROUP BY cell, pos),
         c${i + 1} AS (
           SELECT cell,
                  list(CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                       ORDER BY pos) AS centroid
           FROM s$i GROUP BY cell)"""
    }
    val afSql =
      s"""SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "c.centroid")} DESC,
                               c.cell) AS rn
             FROM e CROSS JOIN c$iters c) t
           WHERE rn = 1"""
    ((init +: iterCtes).mkString(",\n"), afSql)
  }

  /** `excludeIds` (q164): vectors DELETED from the inverted file by a
    * takedown — excluded from scoring only. Training (the unrolled
    * Lloyd chain) still sees them: a takedown patches cells, it never
    * retrains the frozen coarse quantizer. */
  private def ivfSearchSql(cells: Int, iters: Int, nprobe: Int, k: Int,
      queryId: Long, excludeIds: Seq[Long] = Nil): String = {
    val (prefix, afSql) = ivfCtes(cells, iters)
    val excl =
      if (excludeIds.isEmpty) ""
      else s"\n           AND e.vec_id NOT IN (${excludeIds.mkString(", ")})"
    val fin =
      s"""q AS (SELECT embedding AS qe FROM e WHERE vec_id = $queryId),
         probe AS (
           SELECT cell FROM (
             SELECT c.cell, row_number() OVER (
               ORDER BY ${cosSql("c.centroid", "q.qe")} DESC, c.cell) AS rn
             FROM c$iters c CROSS JOIN q) t
           WHERE rn <= $nprobe),
         af AS ($afSql)
         SELECT e.vec_id, floor((${cosSql("e.embedding", "q.qe")}) * 1000000 + 0.5) / 1000000 AS score
         FROM e JOIN af USING (vec_id) JOIN probe USING (cell) CROSS JOIN q
         WHERE e.vec_id <> $queryId$excl
         ORDER BY score DESC, e.vec_id LIMIT $k"""
    "WITH " + prefix + ",\n" + fin
  }

  /** Exact n-gram-Jaccard pair oracle (q22/q73), parameterized by
    * threshold: shingle → hot-cap (df > maxDf dropped) → intersection
    * counts → round(J,4) ≥ t. Deliberately the PLAIN counting
    * formulation — the Spark side's plan (counting join below
    * [[graft.operators.Dedup.PrefixPathThreshold]], prefix index at or
    * above) is pure pruning over the same arithmetic. */
  private def jaccardPairsSql(threshold: Double): String =
    s"""WITH t AS (
         SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'),
                                    s -> len(s) > 0) AS toks
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(range(len(toks) - 2),
                  i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
           END) AS shingles
         FROM t),
       tok0 AS (SELECT doc_id, unnest(shingles) AS token FROM sh),
       hot AS (SELECT token FROM tok0 GROUP BY token
               HAVING count(*) > ${graft.operators.Dedup.DefaultMaxDf}),
       tok AS (SELECT * FROM tok0 WHERE token NOT IN (SELECT token FROM hot)),
       sz AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS cnt_inter
         FROM tok a JOIN tok b
           ON a.token = b.token AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT id1, id2,
              floor((CAST(cnt_inter AS DOUBLE)
                    / (s1.n_tok + s2.n_tok - cnt_inter)) * 10000 + 0.5) / 10000 AS jaccard
       FROM inter
       JOIN sz s1 ON id1 = s1.doc_id
       JOIN sz s2 ON id2 = s2.doc_id
       WHERE floor((CAST(cnt_inter AS DOUBLE)
                   / (s1.n_tok + s2.n_tok - cnt_inter)) * 10000 + 0.5) / 10000 >= $threshold
       ORDER BY id1, id2"""

  /** Queries whose oracle is an unrolled ITERATIVE chain (r1..r10,
    * l1..l5, g2..g10): DuckDB inlines WITH-chains by default, so
    * round N would recompute its whole prefix per reference —
    * exponential work at big corpora (measured at sf10: q124's oracle
    * out-spilled a 70 GB disk inlined, 7.7 s materialized). `AS
    * MATERIALIZED` pins each CTE to ONE evaluation; a pure execution
    * hint, bit-identical results. The q112/q113 build-chain oracles
    * are deliberately NOT in the set: their cost is corpus-sized
    * carrier CTEs, not an iterative prefix, and forcing those to
    * materialize trades streaming pipelines for a 66 GB spill
    * (measured at sf10 — inlined completes, materialized dies). */
  private val materializedOracles = Set(
    "q104_pagerank", "q121_label_prop", "q124_rank_convergence",
    "q125_lpa_convergence", "q136_personalized_rank",
    "q80_bpe_merges", "q81_bpe_subtokens", "q91_bpe_encode_fixed",
    "q93_tokenizer_fertility")

  private def materializeCtes(sql: String): String =
    sql.replaceAll("""(\w+) AS \(""", "$1 AS MATERIALIZED (")

  def oracleSql: Map[String, String] = rawOracleSql.map { case (k, v) =>
    k -> (if (materializedOracles(k)) materializeCtes(v) else v)
  }

  private def rawOracleSql: Map[String, String] = Map(
    "q38_ivf_search" ->
      ivfSearchSql(cells = 8, iters = 2, nprobe = 3, k = 10, queryId = 0L),
    // q56 materializes the same assignment to disk before searching — the
    // result (and so the oracle) is identical to the in-flight q38 path
    "q56_ivf_file_search" ->
      ivfSearchSql(cells = 8, iters = 2, nprobe = 3, k = 10, queryId = 0L),
    "q71_ivf_knn_join" ->
      ivfKnnJoinSql(cells = 8, iters = 2, nprobe = 3, k = 5,
        queryIds = Seq(0L, 1L, 2L, 3L)),
    "q72_ivf_recall" ->
      ivfRecallSql(cells = 8, iters = 2, nprobe = 3, k = 10,
        queryIds = Seq(0L, 1L, 2L, 3L)),
    "q01_dau_total" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, count(DISTINCT user_id) AS dau
         FROM events GROUP BY 1 ORDER BY dt""",
    "q02_dau_by_hour" ->
      """WITH e AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt,
                  strftime(ts, '%H') AS hr, ts, event_id
           FROM events),
         f AS (
           SELECT dt, hr, row_number() OVER (
             PARTITION BY dt, user_id
             ORDER BY ts::TIMESTAMP, event_id) AS rn
           FROM e)
         SELECT dt, hr, count(*) AS cnt FROM f WHERE rn = 1
         GROUP BY dt, hr ORDER BY dt, hr""",
    "q03_dau_day_over_day" ->
      """WITH d AS (
           SELECT strftime(ts, '%Y-%m-%d') AS dt,
                  count(DISTINCT user_id) AS dau
           FROM events GROUP BY 1)
         SELECT d.dt, d.dau, coalesce(y.dau, 0) AS dau_yd
         FROM d LEFT JOIN d AS y
           ON d.dt = strftime(y.dt::DATE + INTERVAL 1 DAY, '%Y-%m-%d')
         ORDER BY d.dt""",
    "q04_order_wide" ->
      """SELECT o_orderkey AS order_id, l_linenumber AS detail_id,
                o_custkey AS user_id, o_orderstatus AS order_status,
                strftime(o_orderdate, '%Y-%m-%d') AS create_date,
                strftime(o_orderdate, '%H') AS create_hour,
                l_partkey AS sku_id, l_quantity AS sku_num,
                l_extendedprice AS order_price,
                l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
                  AS split_total_amount,
                o_totalprice AS total_amount
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         ORDER BY order_id, detail_id""",
    "q05_customer_enriched" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
                n_name AS nation_name, r_name AS region_name
         FROM customer
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey""",
    "q06_order_wide_enriched" ->
      """WITH wide AS (
           SELECT o_orderkey AS order_id, l_linenumber AS detail_id,
                  o_custkey AS user_id, o_orderstatus AS order_status,
                  strftime(o_orderdate, '%Y-%m-%d') AS create_date,
                  strftime(o_orderdate, '%H') AS create_hour,
                  l_partkey AS sku_id, l_quantity AS sku_num,
                  l_extendedprice AS order_price,
                  l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
                    AS split_total_amount,
                  o_totalprice AS total_amount
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         dims AS (
           SELECT c_custkey, c_mktsegment,
                  n_name AS nation_name, r_name AS region_name
           FROM customer
           LEFT JOIN nation ON c_nationkey = n_nationkey
           LEFT JOIN region ON n_regionkey = r_regionkey)
         SELECT wide.*, dims.c_mktsegment, dims.nation_name, dims.region_name
         FROM wide LEFT JOIN dims ON wide.user_id = dims.c_custkey
         ORDER BY order_id, detail_id""",
    "q42_supplier_stats" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
                count(*) AS n_suppliers,
                CAST(SUM(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  / 100.0 AS total_bal
         FROM supplier
         LEFT JOIN nation ON s_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY region_name, nation_name""",
    "q07_route_counts" ->
      """SELECT 'DWD_' || upper(event_type) AS topic, count(*) AS cnt,
                CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  / 100.0 AS total_value
         FROM events GROUP BY 1 ORDER BY topic""",
    "q08_cdc_normalize" ->
      """SELECT op, count(*) AS cnt FROM (
           SELECT CASE WHEN event_type = 'signup' THEN 'insert'
                       WHEN event_type = 'purchase' THEN 'insert'
                       WHEN event_type = 'click' THEN 'update'
                       WHEN event_type = 'view' THEN 'update'
                  END AS op
           FROM events)
         WHERE op IS NOT NULL GROUP BY op ORDER BY op""",
    "q09_route_by_config" ->
      """WITH config(event_type, route) AS (VALUES
           ('purchase','FACT'), ('signup','FACT'), ('click','FACT'),
           ('view','FACT'), ('error','DIM'))
         SELECT route, event_type, count(*) AS cnt
         FROM events JOIN config USING (event_type)
         GROUP BY route, event_type ORDER BY route, event_type""",
    "q10_json_props" ->
      """SELECT event_type, count(*) AS cnt,
                CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
                CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q11_stats_by_item" ->
      """SELECT p_brand AS name,
                CAST(SUM(CAST(floor(l_extendedprice
                      * (CAST(1.0 AS DOUBLE) - l_discount)
                      * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
                  AS value
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_name LIKE '%small%' AND p_name LIKE '%ring%'
         GROUP BY 1 ORDER BY name""",
    "q12_detail_page" ->
      """SELECT l_orderkey, l_linenumber, p_name AS sku_name,
                l_quantity AS sku_num, l_extendedprice AS order_price,
                l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
                  AS total_amount,
                p_brand, p_type
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_name LIKE '%small%' AND p_name LIKE '%ring%'
         ORDER BY l_orderkey, l_linenumber LIMIT 20 OFFSET 20""",
    "q13_highlight" ->
      """SELECT p_partkey,
                regexp_replace(p_name, '(small|ring)', '<em>\1</em>', 'g')
                  AS sku_name_hl
         FROM part
         WHERE p_name LIKE '%small%' AND p_name LIKE '%ring%'
         ORDER BY p_partkey""",
    "q14_status_recode" ->
      """SELECT CASE WHEN o_orderstatus = 'F' THEN 'filled'
                     WHEN o_orderstatus = 'O' THEN 'open'
                     ELSE 'partial' END AS status_name,
                count(*) AS cnt,
                CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  / 100.0 AS total
         FROM orders GROUP BY 1 ORDER BY status_name""",
    "q15_acctbal_buckets" ->
      """SELECT CASE WHEN c_acctbal <= 1000.0 THEN 'low'
                     WHEN c_acctbal <= 5000.0 THEN 'mid'
                     ELSE 'high' END AS bucket,
                count(*) AS cnt,
                CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  / 100.0 AS total_bal
         FROM customer GROUP BY 1 ORDER BY bucket""",
    "q16_dedup_exact" ->
      """SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dupes FROM (
           SELECT doc_id,
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
           FROM documents)
         GROUP BY fp ORDER BY keep_id""",
    "q17_token_frequency" ->
      """SELECT token, count(*) AS cnt FROM (
           SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                     t -> len(t) > 0)) AS token
           FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 100""",
    "q18_token_counts" ->
      """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subtokens,
                CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         FROM (SELECT doc_id, text,
                      list_filter(regexp_split_to_array(text, '\s+'),
                                  t -> len(t) > 0) AS toks
               FROM documents)
         ORDER BY doc_id""",
    "q19_lang_id" ->
      """WITH t AS (
           SELECT doc_id, lang,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents)
         SELECT doc_id, lang,
                CASE WHEN (CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
                     ELSE CAST(len(list_filter(toks, s -> list_contains(
                       ['the','a','an','and','of','to','in','is','it','on','for'],
                       s))) AS DOUBLE) / len(toks) END) >= 0.05
                     THEN 'en' ELSE 'unknown' END AS pred_lang
         FROM t ORDER BY doc_id""",
    "q20_quality" ->
      """WITH t AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         m AS (
           SELECT doc_id, len(toks) AS n,
                  CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
                       ELSE CAST(len(list_filter(toks, s -> list_contains(
                         ['the','a','an','and','of','to','in','is','it','on','for'],
                         s))) AS DOUBLE) / len(toks) END AS stop_raw,
                  CASE WHEN len(regexp_replace(text, '\s+', '', 'g')) = 0
                       THEN CAST(0.0 AS DOUBLE)
                       ELSE CAST(len(regexp_replace(text, '[^[:punct:]]', '', 'g'))
                            AS DOUBLE) / len(regexp_replace(text, '\s+', '', 'g'))
                  END AS punct_raw,
                  CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
                       ELSE CAST(list_aggregate(list_transform(toks, s -> len(s)),
                            'sum') AS DOUBLE) / len(toks) END AS mean_raw
           FROM t)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                floor((stop_raw) * 10000 + 0.5) / 10000 AS stop_ratio,
                floor((punct_raw) * 10000 + 0.5) / 10000 AS punct_ratio,
                floor((mean_raw) * 10000 + 0.5) / 10000 AS mean_tok_len,
                floor(((CASE WHEN n BETWEEN 20 AND 1000 THEN CAST(0.5 AS DOUBLE)
                            WHEN n >= 5 THEN CAST(0.25 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                      + (CASE WHEN stop_raw >= 0.05 THEN CAST(0.3 AS DOUBLE)
                              ELSE CAST(0.0 AS DOUBLE) END)
                      + CAST(0.2 AS DOUBLE)
                      + (CASE WHEN punct_raw > 0.2 THEN CAST(-0.2 AS DOUBLE)
                              ELSE CAST(0.0 AS DOUBLE) END)) * 100 + 0.5) / 100 AS quality
         FROM m ORDER BY doc_id""",
    "q21_fingerprints" ->
      """SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id""",
    // within-doc k-gram repetition: total grams from the token count
    // (floored at the 1 whole-text shingle short docs collapse to),
    // distinct grams via the same shingle definition as q22/q23
    "q57_repetition" ->
      raw"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                      s -> len(s) > 0) AS toks
           FROM documents),
         g AS (
           SELECT doc_id,
                  CASE WHEN len(toks) - 2 > 1 THEN len(toks) - 2 ELSE 1 END
                    AS n_grams,
                  len(list_distinct(
                    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                         ELSE list_transform(range(len(toks) - 2),
                           i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                    END)) AS n_distinct
           FROM t)
         SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                CAST(n_distinct AS BIGINT) AS n_distinct,
                floor((CAST(1.0 AS DOUBLE)
                      - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)) * 10000 + 0.5) / 10000
                  AS rep_ratio
         FROM g ORDER BY doc_id""",
    // decontamination: distinct shingles shared with the salted-hash
    // "benchmark" sample (>= 1), per non-benchmark doc
    "q58_decontaminate" ->
      raw"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                      s -> len(s) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(len(toks) - 2),
                    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END) AS shingles
           FROM t),
         b AS (
           SELECT doc_id FROM documents
           WHERE ('0x' || substr(md5('bench:' || doc_id), 1, 15))::BIGINT
                   % 100 < 10),
         bs AS (
           SELECT DISTINCT unnest(shingles) AS token FROM sh
           WHERE doc_id IN (SELECT doc_id FROM b)),
         ci AS (
           SELECT doc_id, unnest(shingles) AS token FROM sh
           WHERE doc_id NOT IN (SELECT doc_id FROM b))
         SELECT doc_id, count(*) AS n_shared
         FROM ci WHERE token IN (SELECT token FROM bs)
         GROUP BY doc_id HAVING count(*) >= 1
         ORDER BY doc_id""",
    "q65_contamination_report" ->
      raw"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                      s -> len(s) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(len(toks) - 2),
                    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END) AS shingles
           FROM t),
         b AS (
           SELECT doc_id FROM documents
           WHERE ('0x' || substr(md5('bench:' || doc_id), 1, 15))::BIGINT
                   % 100 < 10),
         bs AS (
           SELECT doc_id AS eval_id, unnest(shingles) AS token FROM sh
           WHERE doc_id IN (SELECT doc_id FROM b)),
         ci AS (
           SELECT doc_id, unnest(shingles) AS token FROM sh
           WHERE doc_id NOT IN (SELECT doc_id FROM b)),
         p AS (
           SELECT bs.eval_id, ci.doc_id, count(*) AS n_shared
           FROM ci JOIN bs USING (token)
           GROUP BY bs.eval_id, ci.doc_id
           HAVING count(*) >= 1)
         SELECT eval_id, CAST(count(*) AS BIGINT) AS n_contaminated
         FROM p GROUP BY eval_id ORDER BY eval_id""",
    "q22_jaccard_pairs" -> jaccardPairsSql(0.1),
    // q73: identical exact-Jaccard semantics at threshold 0.5 — the
    // oracle is the plain counting formulation; the Spark side's prefix
    // index is pure pruning, so the results must match it exactly
    "q73_jaccard_prefix" -> jaccardPairsSql(0.5),
    "q23_minhash_sigs" ->
      raw"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                      s -> len(s) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(len(toks) - 2),
                    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END) AS shingles
           FROM t),
         ex AS (
           SELECT doc_id,
                  ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT
                    % 2147483647 AS base
           FROM sh),
         consts(j, a, b) AS (VALUES $MhConstsSql),
         h AS (
           SELECT doc_id, c.j AS hash_idx,
                  (c.a::BIGINT * base + c.b::BIGINT) % 2147483647 AS hv
           FROM ex CROSS JOIN consts c)
         SELECT doc_id, CAST(hash_idx AS BIGINT) AS hash_idx,
                CAST(min(hv) AS BIGINT) AS hash_val
         FROM h GROUP BY doc_id, hash_idx ORDER BY doc_id, hash_idx""",
    "q24_minhash_lsh_pairs" ->
      s"""WITH $minhashLshCtes
         SELECT id1, id2, floor((est_sim) * 10000 + 0.5) / 10000 AS est_sim
         FROM sc WHERE est_sim >= 0.5 ORDER BY id1, id2""",
    // components of the LSH near-dup graph: DuckDB computes min-reachable
    // id via a recursive CTE; the engine's label propagation converges to
    // the same fixpoint
    "q53_neardup_components" ->
      s"""WITH RECURSIVE $minhashLshCtes,
         pairs AS (SELECT id1, id2 FROM sc WHERE est_sim >= 0.5),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                 UNION ALL
                 SELECT id2 AS src, id1 AS dst FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM sym),
         reach(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON r.id = s.src)
         SELECT id AS doc_id, min(comp) AS comp
         FROM reach GROUP BY id ORDER BY doc_id""",
    "q25_simhash" ->
      """WITH t AS (
           SELECT doc_id, list_transform(
             list_distinct(list_filter(regexp_split_to_array(text, '\s+'),
                                       s -> len(s) > 0)),
             s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
           FROM documents),
         b AS (
           SELECT doc_id, i.range AS i,
                  CASE WHEN 2 * len(list_filter(hs,
                         h -> (h & CAST(pow(2, i.range) AS BIGINT)) <> 0))
                         > len(hs)
                       THEN CAST(pow(2, i.range) AS BIGINT) ELSE 0 END AS bit
           FROM t, range(32) i)
         SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
         FROM b GROUP BY doc_id ORDER BY doc_id""",
    "q26_ann_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         s AS (
           SELECT vec_id,
                  list_reduce(list_transform(list_zip(embedding, qe),
                    p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
                  / (sqrt(list_reduce(list_transform(embedding,
                       v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))
                     * sqrt(list_reduce(list_transform(qe,
                         v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y)))
                    AS score_raw
           FROM embeddings, q WHERE vec_id <> 0)
         SELECT vec_id, floor((score_raw) * 1000000 + 0.5) / 1000000 AS score
         FROM s ORDER BY score DESC, vec_id LIMIT 10""",
    "q61_rerank_ann" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         c AS (
           SELECT vec_id, embedding, qe,
                  list_reduce(list_transform(
                    list_zip(embedding[1:16], qe[1:16]),
                    p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
                  / (sqrt(list_reduce(list_transform(embedding[1:16],
                       v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))
                     * sqrt(list_reduce(list_transform(qe[1:16],
                         v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y)))
                    AS coarse_score
           FROM embeddings, q WHERE vec_id <> 0),
         s AS (SELECT vec_id, embedding, qe FROM c
               ORDER BY coarse_score DESC, vec_id LIMIT 50),
         r AS (
           SELECT vec_id,
                  list_reduce(list_transform(list_zip(embedding, qe),
                    p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
                  / (sqrt(list_reduce(list_transform(embedding,
                       v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))
                     * sqrt(list_reduce(list_transform(qe,
                         v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y)))
                    AS score_raw
           FROM s)
         SELECT vec_id, floor((score_raw) * 1000000 + 0.5) / 1000000 AS score
         FROM r ORDER BY score DESC, vec_id LIMIT 10""",
    "q62_quantized_ann" ->
      """WITH mq AS (
           SELECT vec_id,
                  list_transform(embedding, v -> CAST(floor(v::DOUBLE *
                    (127.0 / list_reduce(list_transform(embedding,
                       u -> abs(u::DOUBLE)), (x, y) -> greatest(x, y))))
                    AS BIGINT)) AS qv
           FROM embeddings),
         q AS (SELECT qv AS qq FROM mq WHERE vec_id = 0),
         s AS (
           SELECT vec_id,
                  list_reduce(list_transform(list_zip(qv, qq),
                    p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
                  / (sqrt(list_reduce(list_transform(qv,
                       v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))
                     * sqrt(list_reduce(list_transform(qq,
                         v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y)))
                    AS score_raw
           FROM mq, q WHERE vec_id <> 0)
         SELECT vec_id, floor((score_raw) * 1000000 + 0.5) / 1000000 AS score
         FROM s ORDER BY score DESC, vec_id LIMIT 10""",
    "q27_blocked_neardup" ->
      """WITH s AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2,
                  floor((list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                      p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
                    / (sqrt(list_reduce(list_transform(a.embedding,
                         v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))
                       * sqrt(list_reduce(list_transform(b.embedding,
                           v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y)))) * 1000000 + 0.5) / 1000000
                    AS score
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT id1, id2, score FROM s WHERE score >= 0.3
         ORDER BY id1, id2""",
    "q28_lsh_buckets" ->
      s"""SELECT vec_id, CAST($lshBucketSql AS BIGINT) AS bucket
         FROM embeddings ORDER BY vec_id""",
    "q29_lsh_neardup" ->
      s"""WITH b AS (
           SELECT vec_id, embedding, $lshBucketSql AS bucket
           FROM embeddings),
         s AS (
           SELECT a.vec_id AS id1, b2.vec_id AS id2,
                  floor((${cosSql("a.embedding", "b2.embedding")}) * 1000000 + 0.5) / 1000000 AS score
           FROM b a JOIN b b2
             ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         SELECT id1, id2, score FROM s WHERE score >= 0.3
         ORDER BY id1, id2""",
    "q45_simhash_neardup" ->
      """WITH t AS (
           SELECT doc_id, list_transform(
             list_distinct(list_filter(regexp_split_to_array(text, '\s+'),
                                       s -> len(s) > 0)),
             s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
           FROM documents),
         b AS (
           SELECT doc_id, i.range AS i,
                  CASE WHEN 2 * len(list_filter(hs,
                         h -> (h & CAST(pow(2, i.range) AS BIGINT)) <> 0))
                         > len(hs)
                       THEN CAST(pow(2, i.range) AS BIGINT) ELSE 0 END AS bit
           FROM t, range(48) i),
         s AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
               FROM b GROUP BY doc_id),
         cl AS (SELECT simhash, min(doc_id) AS keep_id,
                       count(*) AS n_members
                FROM s GROUP BY simhash),
         bands AS (
           SELECT simhash, keep_id, n_members, k.range AS band,
                  (simhash // CAST(pow(2, k.range * 12) AS BIGINT)) % 4096
                    AS bval
           FROM cl, range(4) k),
         cand AS (
           SELECT DISTINCT x.keep_id AS id1, y.keep_id AS id2,
                  x.simhash AS s1, y.simhash AS s2,
                  x.n_members AS n1, y.n_members AS n2
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.bval = y.bval
            AND x.keep_id < y.keep_id)
         SELECT id1, id2,
                CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming, n1, n2
         FROM cand
         WHERE bit_count(xor(s1, s2)) <= 3
         ORDER BY id1, id2""",
    "q46_asof_join" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events),
         o AS (SELECT o_custkey AS user_id, o_orderdate::TIMESTAMP AS ots,
                      max(o_orderkey) AS last_order_key
               FROM orders GROUP BY 1, 2)
         SELECT e.user_id, e.event_id,
                strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                o.last_order_key
         FROM e ASOF LEFT JOIN o
           ON e.user_id = o.user_id AND e.ts >= o.ots
         ORDER BY e.user_id, e.event_id""",
    "q50_curation" ->
      raw"""WITH fpd AS (
           SELECT doc_id, lang, text,
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
           FROM documents),
         keep AS (
           SELECT doc_id, lang, text FROM (
             SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
               AS rn
             FROM fpd) t
           WHERE rn = 1),
         m AS (
           SELECT doc_id, lang, text,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM keep),
         q AS (
           SELECT doc_id, lang, $qualityCaseSql AS quality
           FROM m),
         f AS (SELECT * FROM q WHERE quality >= 0.5),
         r AS (
           SELECT doc_id, lang, quality, row_number() OVER (
             PARTITION BY lang
             ORDER BY ('0x' || substr(md5('curate:' || doc_id), 1, 15))::BIGINT,
                      doc_id) AS rk
           FROM f)
         SELECT doc_id, lang, quality, rk FROM r WHERE rk <= 100
         ORDER BY doc_id""",
    "q59_sequence_packing" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                       t -> len(t) > 0)) AS BIGINT) AS n_tokens,
                  ('0x' || substr(md5('pack:' || doc_id), 1, 15))::BIGINT
                    % 8 AS block
           FROM documents),
         w AS (
           SELECT doc_id, block, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY block ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                    AS start_tok
           FROM d)
         SELECT doc_id, block, n_tokens, start_tok,
                CAST(block * 1099511627776 + start_tok // 2048 AS BIGINT)
                  AS bin
         FROM w ORDER BY doc_id""",
    "q64_unigram_rarity" ->
      """WITH tk AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                     t -> len(t) > 0)) AS token
           FROM documents),
         tf AS (SELECT token, COUNT(*) AS tf FROM tk GROUP BY token),
         tot AS (SELECT COUNT(*) AS total FROM tk),
         j AS (
           SELECT doc_id, (total * 10000) // tf AS fp
           FROM tk JOIN tf USING (token) CROSS JOIN tot)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                floor(CAST(SUM(fp) AS DOUBLE)
                      / (CAST(COUNT(*) AS DOUBLE) * 10000.0)
                      * 1000000 + 0.5) / 1000000 AS rarity
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    "q63_pack_spans" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                       t -> len(t) > 0)) AS BIGINT) AS n_tokens,
                  ('0x' || substr(md5('pack:' || doc_id), 1, 15))::BIGINT
                    % 8 AS block
           FROM documents),
         w AS (
           SELECT doc_id, block, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY block ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                    AS start_tok
           FROM d),
         sp AS (
           SELECT doc_id, block, start_tok, n_tokens,
                  unnest(generate_series(start_tok // 64,
                    (start_tok + n_tokens - 1) // 64)) AS win
           FROM w WHERE n_tokens > 0)
         SELECT doc_id,
                CAST(block * 1099511627776 + win AS BIGINT) AS bin,
                CAST(greatest(start_tok, win * 64) - start_tok AS BIGINT)
                  AS tok_from,
                CAST(least(start_tok + n_tokens, (win + 1) * 64) - start_tok
                  AS BIGINT) AS tok_to
         FROM sp ORDER BY doc_id, bin""",
    "q60_canonical_docs" ->
      raw"""WITH RECURSIVE $minhashLshCtes,
         pairs AS (SELECT id1, id2 FROM sc WHERE est_sim >= 0.5),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                 UNION ALL
                 SELECT id2 AS src, id1 AS dst FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM sym),
         reach(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON r.id = s.src),
         cmp AS (SELECT id AS doc_id, min(comp) AS comp
                 FROM reach GROUP BY id),
         mq AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         qual AS (
           SELECT doc_id, $qualityCaseSql AS quality
           FROM mq),
         j AS (SELECT q.doc_id, COALESCE(c.comp, q.doc_id) AS comp, q.quality
               FROM qual q LEFT JOIN cmp c ON q.doc_id = c.doc_id)
         SELECT doc_id, comp, quality,
                CASE WHEN row_number() OVER (PARTITION BY comp
                       ORDER BY quality DESC, doc_id) = 1
                     THEN 1 ELSE 0 END AS keep
         FROM j ORDER BY doc_id""",
    "q51_weighted_sample" -> {
      val vals = MixRecipe.map { case (l, p) => s"('$l', $p)" }.mkString(", ")
      s"""WITH w(lang, pct) AS (VALUES $vals)
         SELECT doc_id, lang FROM documents JOIN w USING (lang)
         WHERE ('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT
                 % 100 < pct
         ORDER BY doc_id"""
    },
    "q52_label_centroids" ->
      """SELECT label, pos, count(*) AS n_vectors,
                CAST(CAST(sum(CAST(floor(v::DOUBLE * 1000000.0) AS BIGINT))
                     AS BIGINT) AS DOUBLE)
                  / (CAST(count(*) AS DOUBLE) * 1000000.0) AS mean
         FROM (SELECT label,
                      unnest(range(len(embedding))) AS pos,
                      unnest(embedding) AS v
               FROM embeddings)
         GROUP BY label, pos ORDER BY label, pos""",
    "q49_length_stats" ->
      """SELECT lang, count(*) AS n_docs,
                min(n_chars) AS min_chars, max(n_chars) AS max_chars,
                floor(avg(n_chars) * 100 + 0.5) / 100 AS avg_chars,
                quantile_cont(n_chars, 0.25) AS p25,
                quantile_cont(n_chars, 0.5) AS p50,
                quantile_cont(n_chars, 0.75) AS p75
         FROM documents GROUP BY lang ORDER BY lang""",
    "q55_asof_tolerance" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events),
         o AS (SELECT o_custkey AS user_id, o_orderdate::TIMESTAMP AS ots,
                      max(o_orderkey) AS last_order_key
               FROM orders GROUP BY 1, 2)
         SELECT e.user_id, e.event_id,
                strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                CASE WHEN o.ots IS NOT NULL
                      AND o.ots >= e.ts - INTERVAL 725760000 SECOND
                     THEN o.last_order_key END AS last_order_key
         FROM e ASOF LEFT JOIN o
           ON e.user_id = o.user_id AND e.ts >= o.ots
         ORDER BY e.user_id, e.event_id""",
    "q47_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE ('0x' || substr(md5('sample:' || doc_id), 1, 15))::BIGINT
                 % 100 < 10
         ORDER BY doc_id""",
    "q48_stratified_sample" ->
      """WITH r AS (
           SELECT lang, doc_id, row_number() OVER (
             PARTITION BY lang
             ORDER BY ('0x' || substr(md5('strat:' || doc_id), 1, 15))::BIGINT,
                      doc_id) AS rk
           FROM documents)
         SELECT lang, doc_id, rk FROM r WHERE rk <= 20 ORDER BY lang, rk""",
    "q30_dau_realtime" ->
      """WITH e AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt,
                  strftime(ts, '%H') AS hr, ts, event_id
           FROM events),
         f AS (
           SELECT dt, hr, row_number() OVER (
             PARTITION BY dt, user_id
             ORDER BY ts::TIMESTAMP, event_id) AS rn
           FROM e),
         c AS (SELECT dt, hr, count(*) AS cnt FROM f WHERE rn = 1
               GROUP BY dt, hr),
         td AS (SELECT hr, cnt AS dau_td FROM c WHERE dt = '2024-01-15'),
         yd AS (SELECT hr, cnt AS dau_yd FROM c WHERE dt = '2024-01-14')
         SELECT coalesce(td.hr, yd.hr) AS hr,
                coalesce(dau_td, 0) AS dau_td,
                coalesce(dau_yd, 0) AS dau_yd
         FROM td FULL OUTER JOIN yd ON td.hr = yd.hr ORDER BY hr""",
    "q31_stats_by_type" ->
      """SELECT c_mktsegment AS name,
                CAST(SUM(CAST(floor(l_extendedprice
                      * (CAST(1.0 AS DOUBLE) - l_discount)
                      * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
                  AS value
         FROM orders
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN part ON l_partkey = p_partkey
         LEFT JOIN customer ON o_custkey = c_custkey
         WHERE p_name LIKE '%small%' AND p_name LIKE '%ring%'
         GROUP BY 1 ORDER BY name""",
    "q32_detail_api" ->
      """WITH m AS (
           SELECT l_orderkey, l_linenumber, p_name, l_quantity,
                  l_extendedprice, l_discount, p_brand, p_type
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE '%small%' AND p_name LIKE '%ring%')
         SELECT l_orderkey, l_linenumber,
                regexp_replace(p_name, '(small|ring)', '<em>\1</em>', 'g')
                  AS sku_name,
                l_quantity AS sku_num, l_extendedprice AS order_price,
                l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
                  AS total_amount,
                p_brand, p_type,
                (SELECT count(*) FROM m) AS total
         FROM m ORDER BY l_orderkey, l_linenumber LIMIT 20 OFFSET 20""",
    "q33_media_meta" ->
      """SELECT doc_id,
                (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]
                  AS media_type,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                CAST(n_chars % 640 + 1 AS INT) AS width,
                CAST(n_chars % 480 + 1 AS INT) AS height
         FROM documents ORDER BY doc_id""",
    // q34/q35 oracles are BYTE-based (hex of the UTF-8 payload) and drive
    // their stride count off octet_length — exact for non-ASCII text and
    // any payload size, matching the Spark side's binary semantics.
    "q34_frame_sample" ->
      """SELECT doc_id,
                (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]
                  AS media_type,
                f.range AS frame_no,
                CAST(LEAST(16, octet_length(encode(text))
                             - CAST(f.range * 16 AS INT)) AS BIGINT)
                  AS frame_len
         FROM documents, range(4) f
         WHERE octet_length(encode(text)) - f.range * 16 > 0
         ORDER BY doc_id, frame_no""",
    "q35_media_features" ->
      """WITH h AS (
           SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS nb
           FROM documents),
         f AS (
           SELECT doc_id, nb,
                  CASE WHEN nb = 0 THEN CAST(0.0 AS DOUBLE) ELSE
                    list_reduce(
                      list_transform(range(CAST((nb + 7) // 8 AS BIGINT)),
                        k -> ('0x' || substr(hx, CAST(k * 16 + 1 AS INT), 2))
                               ::BIGINT / CAST(255.0 AS DOUBLE)),
                      (x, y) -> x + y)
                  END AS f0_raw
           FROM h)
         SELECT doc_id,
                (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]
                  AS media_type,
                CAST(nb AS BIGINT) AS n_bytes,
                floor((CAST(CAST(f0_raw AS REAL) AS DOUBLE)) * 10000 + 0.5) / 10000 AS f0
         FROM f ORDER BY doc_id""",
    "q44_stats_analyzed" ->
      """SELECT p_brand AS name,
                CAST(SUM(CAST(floor(l_extendedprice
                      * (CAST(1.0 AS DOUBLE) - l_discount)
                      * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
                  AS value
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE list_contains(list_filter(
                 regexp_split_to_array(lower(p_name), '[^a-z0-9]+'),
                 t -> len(t) > 0), 'small')
           AND list_contains(list_filter(
                 regexp_split_to_array(lower(p_name), '[^a-z0-9]+'),
                 t -> len(t) > 0), 'ring')
         GROUP BY 1 ORDER BY name""",
    "q39_stats_token_match" ->
      """SELECT p_brand AS name,
                CAST(SUM(CAST(floor(l_extendedprice
                      * (CAST(1.0 AS DOUBLE) - l_discount)
                      * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
                  AS value
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE list_contains(string_split(p_name, ' '), 'small')
           AND list_contains(string_split(p_name, ' '), 'ring')
         GROUP BY 1 ORDER BY name""",
    "q41_topk_per_label" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         s AS (
           SELECT label, vec_id,
                  floor((list_reduce(list_transform(list_zip(embedding, qe),
                      p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
                    / (sqrt(list_reduce(list_transform(embedding,
                         v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))
                       * sqrt(list_reduce(list_transform(qe,
                           v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y)))) * 1000000 + 0.5) / 1000000
                    AS score
           FROM embeddings, q WHERE vec_id <> 0),
         r AS (
           SELECT label, vec_id, score, row_number() OVER (
             PARTITION BY label ORDER BY score DESC, vec_id) AS rank
           FROM s)
         SELECT label, rank, vec_id, score FROM r WHERE rank <= 3
         ORDER BY label, rank""",
    "q54_knn_join" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                     FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
         s AS (
           SELECT q.query_id, e.vec_id,
                  floor((${cosSql("e.embedding", "q.qe")}) * 1000000 + 0.5) / 1000000 AS score
           FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         r AS (
           SELECT query_id, vec_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
           FROM s)
         SELECT query_id, rank, vec_id, score FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    "q40_sessionize" ->
      """WITH e AS (
           SELECT user_id, ts::TIMESTAMP AS ts, event_id,
                  lag(ts::TIMESTAMP) OVER (
                    PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
                    AS prev_ts
           FROM events),
         f AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN prev_ts IS NULL
                         OR ts > prev_ts + INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_sess
           FROM e),
         g AS (
           SELECT user_id, ts,
                  CAST(sum(new_sess) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
           FROM f)
         SELECT user_id, session_no,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                count(*) AS n_events
         FROM g GROUP BY user_id, session_no
         ORDER BY user_id, session_no""",
    "q43_age_pinned" ->
      """SELECT age, count(*) AS cnt FROM (
           SELECT CAST(date_part('year', DATE '2024-06-15')
                    - date_part('year', o_orderdate)
                    - CASE WHEN date_part('month', DATE '2024-06-15')
                             < date_part('month', o_orderdate)
                           OR (date_part('month', DATE '2024-06-15')
                                 = date_part('month', o_orderdate)
                               AND date_part('day', DATE '2024-06-15')
                                 < date_part('day', o_orderdate))
                           THEN 1 ELSE 0 END AS BIGINT) AS age
           FROM orders)
         GROUP BY age ORDER BY age""",
    "q36_hourly_stats" ->
      """SELECT strftime(date_trunc('hour', ts::TIMESTAMP),
                         '%Y-%m-%d %H:%M:%S') AS wstart,
                event_type, count(*) AS cnt,
                CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  / 100.0 AS total_value
         FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""",
    "q37_top_tokens" ->
      """WITH c AS (
           SELECT lang, token, count(*) AS cnt FROM (
             SELECT lang,
                    unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                       t -> len(t) > 0)) AS token
             FROM documents)
           GROUP BY lang, token),
         r AS (
           SELECT lang, token, cnt, row_number() OVER (
             PARTITION BY lang ORDER BY cnt DESC, token) AS rank
           FROM c)
         SELECT lang, token, cnt, rank FROM r WHERE rank <= 3
         ORDER BY lang, rank""",
    // q66: the Bloom prefilter is an optimization only — the answer is
    // exactly the fingerprint anti-join, which is what this asserts
    "q66_incremental_dedup" ->
      """WITH inc AS (
           SELECT doc_id, lang,
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
           FROM documents WHERE doc_id % 5 = 0),
         corp AS (
           SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT doc_id, lang, fp FROM inc
         ANTI JOIN corp USING (fp)
         ORDER BY doc_id""",
    // q67: per-lang ppm threshold floor(1e6·4/√count) — sqrt/mul/div are
    // correctly-rounded IEEE ops, bit-identical across engines
    "q67_temperature_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang)
         SELECT doc_id, lang FROM documents JOIN c USING (lang)
         WHERE ('0x' || substr(md5('tmix:' || doc_id), 1, 15))::BIGINT
                 % 1000000
               < CAST(floor(1000000.0 * 4 / sqrt(CAST(cnt AS DOUBLE)))
                      AS BIGINT)
         ORDER BY doc_id""",
    // q68: BM25 (k1=1.2, b=0.75) over whitespace tokens; every float op
    // mirrors the Spark side's textual order (see Ranking.bm25Rank's
    // determinism contract); constants appear as the same literals
    // ((1.2 + 1.0), not 2.2 — the parsed doubles must match bitwise)
    "q68_bm25_rank" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         f AS (
           SELECT doc_id, len(toks) AS dl,
                  len(list_filter(toks, s -> s = 'spark'))  AS tf0,
                  len(list_filter(toks, s -> s = 'vector')) AS tf1
           FROM t),
         s AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                  CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS avgdl,
                  CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                    AS df0,
                  CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                    AS df1
           FROM f)
         SELECT doc_id,
                floor((ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                          * (CAST(tf0 AS DOUBLE) * (1.2 + 1.0))
                          / (CAST(tf0 AS DOUBLE)
                             + 1.2 * (1.0 - 0.75
                                      + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                      + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                          * (CAST(tf1 AS DOUBLE) * (1.2 + 1.0))
                          / (CAST(tf1 AS DOUBLE)
                             + 1.2 * (1.0 - 0.75
                                      + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) * 10000 + 0.5) / 10000 AS score
         FROM f, s
         WHERE tf0 > 0 OR tf1 > 0
         ORDER BY score DESC, doc_id
         LIMIT 50""",
    // q74: q68's BM25 arithmetic (same textual float-op order, same
    // literals) over the part dim's ANALYZED sku names (lowercase,
    // non-alphanumeric split — the q44 analyzer), AND-matched, then the
    // q12 detail projection ordered by (score desc, key) and paged
    "q74_detail_ranked" ->
      """WITH pd AS (
           SELECT p_partkey AS doc_id,
                  list_filter(regexp_split_to_array(lower(p_name),
                                                    '[^a-z0-9]+'),
                              s -> len(s) > 0) AS toks
           FROM part),
         f AS (
           SELECT doc_id, len(toks) AS dl,
                  len(list_filter(toks, s -> s = 'small')) AS tf0,
                  len(list_filter(toks, s -> s = 'ring'))  AS tf1
           FROM pd),
         s AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                  CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS avgdl,
                  CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                    AS df0,
                  CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                    AS df1
           FROM f),
         sc AS (
           SELECT doc_id,
                  floor((ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                            * (CAST(tf0 AS DOUBLE) * (1.2 + 1.0))
                            / (CAST(tf0 AS DOUBLE)
                               + 1.2 * (1.0 - 0.75
                                        + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                        + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                            * (CAST(tf1 AS DOUBLE) * (1.2 + 1.0))
                            / (CAST(tf1 AS DOUBLE)
                               + 1.2 * (1.0 - 0.75
                                        + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) * 10000 + 0.5) / 10000 AS score
           FROM f, s
           WHERE tf0 > 0 AND tf1 > 0)
         SELECT l_orderkey, l_linenumber, p_name AS sku_name,
                l_quantity AS sku_num, l_extendedprice AS order_price,
                l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
                  AS total_amount,
                p_brand, p_type, score
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN sc ON p_partkey = sc.doc_id
         ORDER BY score DESC, l_orderkey, l_linenumber
         LIMIT 20 OFFSET 0""",
    // q75: q27's blocked cosine pairs feed q53's recursive min-label
    // components; canonical = min id in component (comp label itself),
    // singletons keep themselves
    "q75_semantic_dedup" ->
      s"""WITH RECURSIVE sc AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2,
                  floor((${cosSql("a.embedding", "b.embedding")}) * 1000000 + 0.5) / 1000000
                    AS score
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id),
         pairs AS (SELECT id1, id2 FROM sc WHERE score >= 0.3),
         $semanticVerdictSql""",
    // q82: SemDeDup proper — pairs within TRAINED k-means cells (the
    // q38 unrolled-Lloyd CTE chain supplies the assignment), then the
    // same components + verdict tail as q75. The cell count is DERIVED
    // from the corpus with the operator's own measured rule, so the
    // oracle tracks the operator at every SF (16 at the gate, 157 at
    // sf1) instead of freezing the gate-SF parameter.
    "q82_semantic_dedup_ivf" -> {
      val (prefix, afSql) = ivfCtes(
        "SELECT CAST(LEAST(4096, GREATEST(16, (COUNT(*) + 127) // 128))" +
          " AS INT) FROM embeddings", 3)
      s"""WITH RECURSIVE $prefix,
         af AS ($afSql),
         sc AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2,
                  floor((${cosSql("a.embedding", "b.embedding")}) * 1000000 + 0.5) / 1000000
                    AS score
           FROM e a JOIN af fa ON a.vec_id = fa.vec_id
                JOIN af fb ON fa.cell = fb.cell
                JOIN e b ON b.vec_id = fb.vec_id
                        AND a.vec_id < b.vec_id),
         pairs AS (SELECT id1, id2 FROM sc WHERE score >= 0.3),
         $semanticVerdictSql"""
    },
    // q76: match counts via len(regexp_extract_all) — DuckDB's RE2 and
    // Spark's regexp_count agree on the lookaround-free pattern subset
    "q76_pii_scan" ->
      s"""SELECT doc_id,
            CAST(len(regexp_extract_all(text, '${Pii.EmailRe}')) AS BIGINT)
              AS n_email,
            CAST(len(regexp_extract_all(text, '${Pii.Ipv4Re}')) AS BIGINT)
              AS n_ipv4,
            CAST(len(regexp_extract_all(text, '${Pii.PhoneRe}')) AS BIGINT)
              AS n_phone,
            CASE WHEN len(regexp_extract_all(text, '${Pii.EmailRe}'))
                    + len(regexp_extract_all(text, '${Pii.Ipv4Re}'))
                    + len(regexp_extract_all(text, '${Pii.PhoneRe}')) > 0
                 THEN 1 ELSE 0 END AS has_pii
         FROM documents ORDER BY doc_id""",
    // q77: the same three replacements in the same EMAIL → IPV4 → PHONE
    // order ('g' = replace-all, Spark's default)
    "q77_pii_redact" ->
      s"""SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(text,
              '${Pii.EmailRe}', '${Pii.EmailTag}', 'g'),
              '${Pii.Ipv4Re}', '${Pii.Ipv4Tag}', 'g'),
              '${Pii.PhoneRe}', '${Pii.PhoneTag}', 'g') AS clean_text
         FROM documents ORDER BY doc_id""",
    // q78: every aggregate an integer sum (basis-point quality — the
    // q64 fixed-point trick) so accumulation order can't flip the hash;
    // the one division runs once per group on exact integers
    "q78_corpus_report" ->
      raw"""WITH t AS (
           SELECT source, lang, n_chars, text,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         m AS (
           SELECT source, lang, n_chars,
                  CAST(len(toks) AS BIGINT) AS n_toks,
                  CAST(floor((($qualityCaseSql) * 10000) + 0.5) AS BIGINT) AS q_bp,
                  md5(text) AS fp,
                  CASE WHEN len(regexp_extract_all(text, '${Pii.EmailRe}'))
                          + len(regexp_extract_all(text, '${Pii.Ipv4Re}'))
                          + len(regexp_extract_all(text, '${Pii.PhoneRe}'))
                          > 0 THEN 1 ELSE 0 END AS pii
           FROM t)
         SELECT source, lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(sum(n_toks) AS BIGINT) AS total_tokens,
                CAST(count(*) - count(DISTINCT fp) AS BIGINT)
                  AS n_exact_dups,
                CAST(floor((CAST(sum(q_bp) AS DOUBLE) / count(*)) + 0.5) AS BIGINT)
                  AS mean_quality_bp,
                CAST(sum(pii) AS BIGINT) AS n_pii_docs
         FROM m GROUP BY source, lang ORDER BY source, lang""",
    // q79: quantile_cont = Spark's exact `percentile` (linear
    // interpolation, the q49 parity); strict > against each cutoff, so
    // ties share a decile deterministically
    "q79_curriculum" ->
      raw"""WITH t AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         q AS (SELECT doc_id, ($qualityCaseSql) AS quality FROM t),
         c AS (SELECT ${(1 until 10).map(i =>
             s"quantile_cont(quality, ${i / 10.0}) AS c$i").mkString(", ")}
               FROM q)
         SELECT doc_id, quality,
                10 - (${(1 until 10).map(i =>
                  s"CASE WHEN quality > c$i THEN 1 ELSE 0 END")
                  .mkString(" + ")}) AS decile
         FROM q, c ORDER BY doc_id""",
    // q69: 8-token k-grams as 60-bit md5 keys (identical hashing on
    // both sides — a collision merges the same identities everywhere);
    // "≥2 distinct docs" as min≠max (same rewrite the Spark side uses);
    // gaps-and-islands span merge
    "q69_duplicate_spans" ->
      s"""WITH $dupSpanCtes
         SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
                count(*) AS n_grams
         FROM i GROUP BY doc_id, grp
         ORDER BY doc_id, span_start""",
    // q70: q69 rolled up per document — DISTINCT covered positions
    // (spans from runs separated by a sub-k gap overlap in token space)
    "q70_dup_span_stats" ->
      s"""WITH $dupSpanCtes,
         spans AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
           FROM i GROUP BY doc_id, grp),
         cov AS (
           SELECT DISTINCT doc_id, tpos FROM (
             SELECT doc_id, unnest(range(s, e + 1)) AS tpos FROM spans)),
         dt AS (SELECT doc_id, count(*) AS dup_tokens FROM cov
                GROUP BY doc_id),
         n AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
         SELECT n.doc_id, n.n_tokens,
                COALESCE(dt.dup_tokens, 0) AS dup_tokens,
                CASE WHEN n.n_tokens = 0 THEN CAST(0.0 AS DOUBLE)
                     ELSE floor((CAST(COALESCE(dt.dup_tokens, 0) AS DOUBLE)
                                / CAST(n.n_tokens AS DOUBLE)) * 10000 + 0.5) / 10000 END
                  AS dup_fraction
         FROM n LEFT JOIN dt ON n.doc_id = dt.doc_id
         ORDER BY n.doc_id""",
    // q83: C4 line dedup over aligned 10-token chunks — chunks repeated
    // ≥3 times corpus-wide are removed from every doc; docs reassemble
    // from survivors in chunk order (Spark groups df on the 60-bit md5
    // hash — hash-identity, same accepted convention as the similarity
    // family; the SQL groups on chunk text, identical absent collisions)
    "q83_chunk_dedup" ->
      s"""WITH $chunkCtes,
         d AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(*) >= 3),
         keep AS (SELECT doc_id, idx, chunk FROM ch
                  ANTI JOIN d USING (chunk)),
         agg AS (SELECT doc_id,
                        string_agg(chunk, ' ' ORDER BY idx) AS clean_text,
                        count(*) AS n_kept
                 FROM keep GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch
                 GROUP BY doc_id)
         SELECT t.doc_id,
                COALESCE(agg.clean_text, '') AS clean_text,
                CAST(COALESCE(tot.n_chunks, 0)
                     - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped
         FROM t LEFT JOIN tot USING (doc_id) LEFT JOIN agg USING (doc_id)
         ORDER BY t.doc_id""",
    // q84: the boilerplate dictionary (audit view), hottest first
    "q84_boilerplate_chunks" ->
      s"""WITH $chunkCtes
         SELECT chunk, CAST(count(*) AS BIGINT) AS n
         FROM ch GROUP BY chunk HAVING count(*) >= 3
         ORDER BY n DESC, chunk LIMIT 1000""",
    // q85: per-source domain cap — keep the 10 smallest salted-md5
    // ranks per source (same hash convention as q48's quota sampler)
    "q85_domain_cap" ->
      """WITH r AS (
           SELECT source, doc_id, row_number() OVER (
             PARTITION BY source
             ORDER BY ('0x' || substr(md5('dcap:' || doc_id), 1, 15))::BIGINT,
                      doc_id) AS rk
           FROM documents)
         SELECT source, doc_id FROM r WHERE rk <= 10
         ORDER BY source, doc_id""",
    // q86: split keyed on source (not doc_id) — domain-level holdout
    "q86_leakage_safe_split" ->
      """SELECT doc_id, source,
           CASE WHEN ('0x' || substr(md5('split:' || source), 1, 15))::BIGINT
                     % 100 < 10 THEN 'test'
                WHEN ('0x' || substr(md5('split:' || source), 1, 15))::BIGINT
                     % 100 < 20 THEN 'val'
                ELSE 'train' END AS split
         FROM documents ORDER BY doc_id""",
    // q87: bigram-LM perplexity proxy. Model from the lang='en' slice:
    // c1 = unigram occurrences, c2 = bigram occurrences, V = distinct
    // vocab; per-bigram integer inverse smoothed probability
    // ((c1+V)*1e6) // (c2+1); docs with <2 tokens have no bigrams and
    // are absent (inner GROUP BY), matching the Spark side.
    "q87_lm_perplexity" ->
      raw"""WITH t AS (
           SELECT doc_id, lang,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         cb AS (
           SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2,
                  COUNT(*) AS tf
           FROM (SELECT doc_id, toks, unnest(range(len(toks)-1)) AS i
                 FROM t WHERE len(toks) > 1)
           GROUP BY 1, 2, 3),
         uni AS (
           SELECT w, COUNT(*) AS c1
           FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')
           GROUP BY 1),
         v AS (SELECT COUNT(*) AS v FROM uni),
         bi AS (
           SELECT toks[i+1] AS w1, toks[i+2] AS w2, COUNT(*) AS c2
           FROM (SELECT toks, unnest(range(len(toks)-1)) AS i
                 FROM t WHERE lang = 'en' AND len(toks) > 1)
           GROUP BY 1, 2),
         j AS (
           SELECT cb.doc_id, cb.tf,
                  ((COALESCE(uni.c1, 0) + v.v) * 1000000)
                    // (COALESCE(bi.c2, 0) + 1) AS ip
           FROM cb
           LEFT JOIN uni ON cb.w1 = uni.w
           LEFT JOIN bi ON cb.w1 = bi.w1 AND cb.w2 = bi.w2
           CROSS JOIN v)
         SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
                CAST(SUM(ip * tf) // SUM(tf) AS BIGINT) AS ppx_micros
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    // q88: TF-IDF top-3 keywords per doc; integer idf = (N*1e6) // df,
    // score = tf * idf, ties on token asc.
    "q88_tfidf_keywords" ->
      raw"""WITH tk AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                     s -> len(s) > 0)) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf
                FROM tk GROUP BY 1, 2),
         df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n FROM documents),
         s AS (
           SELECT tf.doc_id, tf.token,
                  tf.tf * ((n.n * 1000000) // df.df) AS score
           FROM tf JOIN df USING (token) CROSS JOIN n),
         r AS (
           SELECT doc_id, token, score,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, token) AS rk
           FROM s)
         SELECT doc_id, token, CAST(score AS BIGINT) AS score,
                CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",
    // q89: mixture upsampling — factor6 = (maxCnt*1e6) // cnt per
    // source; every doc repeats (factor6 // 1e6) times plus one more
    // when its salted-md5 residue < factor6 % 1e6.
    "q89_mixture_epochs" ->
      """WITH c AS (SELECT source, COUNT(*) AS cnt
                  FROM documents GROUP BY 1),
         m AS (SELECT MAX(cnt) AS max_cnt FROM c),
         f AS (
           SELECT source,
                  ((max_cnt * 1000000) // cnt) // 1000000 AS epochs,
                  ((max_cnt * 1000000) // cnt) % 1000000 AS rem
           FROM c CROSS JOIN m),
         d AS (
           SELECT doc_id, documents.source,
                  epochs + CASE WHEN ('0x' || substr(md5('mix:' || doc_id),
                    1, 15))::BIGINT % 1000000 < rem THEN 1 ELSE 0 END
                    AS reps
           FROM documents JOIN f USING (source))
         SELECT doc_id, source, epoch
         FROM (SELECT doc_id, source,
                      CAST(unnest(range(reps)) AS BIGINT) AS epoch
               FROM d)
         ORDER BY doc_id, epoch""",
    // q112/q113: the one-command corpus build (and its shard report) —
    // the full composed pipeline replayed as one CTE chain (see
    // corpusBuildSql)
    "q112_corpus_build" -> corpusBuildManifestSql,
    "q113_build_report" -> corpusBuildReportSql,
    // q114: RRF fusion of the q68 BM25 list and the q26 cosine list —
    // ranks come from each list's already-rounded (score, id) order,
    // each contribution is one IEEE division 1/(60+rank), the fused sum
    // adds lex + vec in fixed textual order, rounded to 6 dp
    "q114_hybrid_rrf" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         f AS (
           SELECT doc_id, len(toks) AS dl,
                  len(list_filter(toks, s -> s = 'spark'))  AS tf0,
                  len(list_filter(toks, s -> s = 'vector')) AS tf1
           FROM t),
         s AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                  CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS avgdl,
                  CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                    AS df0,
                  CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                    AS df1
           FROM f),
         lex AS (
           SELECT doc_id,
                  floor((ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                            * (CAST(tf0 AS DOUBLE) * (1.2 + 1.0))
                            / (CAST(tf0 AS DOUBLE)
                               + 1.2 * (1.0 - 0.75
                                        + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                        + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                            * (CAST(tf1 AS DOUBLE) * (1.2 + 1.0))
                            / (CAST(tf1 AS DOUBLE)
                               + 1.2 * (1.0 - 0.75
                                        + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) * 10000 + 0.5) / 10000 AS score
           FROM f, s
           WHERE tf0 > 0 OR tf1 > 0
           ORDER BY score DESC, doc_id
           LIMIT 50),
         lexr AS (
           SELECT doc_id,
                  row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
           FROM lex),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         sv AS (
           SELECT vec_id,
                  floor((list_reduce(list_transform(list_zip(embedding, qe),
                    p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
                  / (sqrt(list_reduce(list_transform(embedding,
                       v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))
                     * sqrt(list_reduce(list_transform(qe,
                         v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))))
                    * 1000000 + 0.5) / 1000000 AS score
           FROM embeddings, q WHERE vec_id <> 0
           ORDER BY score DESC, vec_id
           LIMIT 50),
         vecr AS (
           SELECT vec_id AS doc_id,
                  row_number() OVER (ORDER BY score DESC, vec_id) AS vec_rank
           FROM sv),
         u AS (
           SELECT doc_id, lex_rank, CAST(NULL AS BIGINT) AS vec_rank
           FROM lexr
           UNION ALL
           SELECT doc_id, CAST(NULL AS BIGINT) AS lex_rank, vec_rank
           FROM vecr),
         g AS (
           SELECT doc_id, min(lex_rank) AS lex_rank,
                  min(vec_rank) AS vec_rank
           FROM u GROUP BY doc_id)
         SELECT doc_id, lex_rank, vec_rank,
                floor((coalesce(1.0 / (60.0 + CAST(lex_rank AS DOUBLE)), 0.0)
                     + coalesce(1.0 / (60.0 + CAST(vec_rank AS DOUBLE)), 0.0))
                      * 1000000 + 0.5) / 1000000 AS rrf
         FROM g ORDER BY rrf DESC, doc_id LIMIT 20""",
    // q115: the q82 measured-cell Lloyd assignment, then ≤24 vectors
    // per cell by the q48 salted-hash order
    "q115_cluster_sample" -> {
      val (prefix, afSql) = ivfCtes(
        "SELECT CAST(LEAST(4096, GREATEST(16, (COUNT(*) + 127) // 128))" +
          " AS INT) FROM embeddings", 3)
      s"""WITH $prefix,
         af AS ($afSql),
         r AS (
           SELECT cell, vec_id, row_number() OVER (PARTITION BY cell
               ORDER BY ('0x' || substr(md5('csamp:' || vec_id), 1, 15))::BIGINT,
                        vec_id) AS rk
           FROM af)
         SELECT cell, vec_id FROM r WHERE rk <= 24
         ORDER BY cell, vec_id"""
    },
    // q116: SCD2 — null-safe transition filter in (ts, seq) order per
    // key, half-open validity from lead(); epoch micros on both sides
    "q116_scd2_history" ->
      """WITH c AS (
           SELECT user_id AS key, ts::TIMESTAMP AS ts, event_id AS seq,
                  CAST(props->>'k' AS BIGINT) AS attr
           FROM events
           WHERE event_type IN ('signup', 'purchase', 'click', 'view')),
         p AS (
           SELECT key, ts, seq, attr,
                  lag(attr) OVER w AS prev_attr,
                  row_number() OVER w AS rn
           FROM c WINDOW w AS (PARTITION BY key ORDER BY ts, seq)),
         v AS (SELECT key, ts, seq, attr FROM p
               WHERE rn = 1 OR attr IS DISTINCT FROM prev_attr),
         f AS (
           SELECT key,
                  row_number() OVER w AS version,
                  attr,
                  epoch_us(ts) AS valid_from_us,
                  lead(epoch_us(ts)) OVER w AS valid_to_us
           FROM v WINDOW w AS (PARTITION BY key ORDER BY ts, seq))
         SELECT key, version, attr, valid_from_us, valid_to_us,
                CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS is_current
         FROM f ORDER BY key, version""",
    // q117: purchases ASOF-joined to the per-(user, ts)-deduped touch
    // feed (last touch) + the per-user first touch
    "q117_attribution" ->
      """WITH tch AS (
           SELECT user_id, ts::TIMESTAMP AS ts, max(event_id) AS last_touch_event,
                  max_by(event_type, event_id) AS last_touch_type
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1, 2),
         p AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events
               WHERE event_type = 'purchase'),
         lt AS (
           SELECT p.user_id, p.event_id, p.ts,
                  tch.last_touch_event, tch.last_touch_type
           FROM p ASOF LEFT JOIN tch
             ON p.user_id = tch.user_id AND p.ts >= tch.ts),
         ft AS (
           SELECT p.event_id AS pe, t.event_id AS first_touch_event,
                  t.event_type AS first_touch_type
           FROM p JOIN (SELECT user_id, ts::TIMESTAMP AS ts, event_id,
                               event_type
                        FROM events
                        WHERE event_type IN ('click', 'view')) t
             ON p.user_id = t.user_id AND t.ts <= p.ts
           QUALIFY row_number() OVER (PARTITION BY p.event_id
             ORDER BY t.ts, t.event_id) = 1)
         SELECT lt.user_id, lt.event_id, epoch_us(lt.ts) AS ts_us,
                last_touch_event, last_touch_type,
                first_touch_event, first_touch_type
         FROM lt LEFT JOIN ft ON lt.event_id = ft.pe
         ORDER BY user_id, event_id""",
    // q118: the q22 shingle identity (3-gram, short-text fallback,
    // md5-60 hash) → per-shingle min-doc_id owner → per-doc novel
    // fraction in integer micros (Long floor division on both sides)
    "q118_ngram_novelty" ->
      raw"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                      s -> len(s) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(len(toks) - 2),
                    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END) AS shingles
           FROM t),
         u AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         tok AS (SELECT doc_id,
                        ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
                 FROM u),
         own AS (SELECT h, min(doc_id) AS owner FROM tok GROUP BY h),
         per AS (
           SELECT tok.doc_id, count(*) AS n_shingles,
                  CAST(sum(CASE WHEN own.owner = tok.doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
           FROM tok JOIN own USING (h)
           GROUP BY tok.doc_id)
         SELECT doc_id, n_shingles, n_novel,
                (n_novel * 1000000) // n_shingles AS novelty_micros
         FROM per ORDER BY doc_id""",
    // q119: the same degree-ordered orientation — wedge join closed by
    // the oriented (v, w) edge, each triangle once, corners exploded
    // back to per-node counts; all exact integers
    "q119_triangles" ->
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  CAST(props->>'k' AS BIGINT) AS k
           FROM events WHERE props->>'k' IS NOT NULL),
         tr AS (
           SELECT k AS src, lead(k) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS dst
           FROM ev),
         und AS (
           SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM tr WHERE dst IS NOT NULL AND src <> dst),
         deg AS (
           SELECT node, count(*) AS degree FROM (
             SELECT a AS node FROM und
             UNION ALL SELECT b AS node FROM und) t
           GROUP BY node),
         o AS (
           SELECT CASE WHEN (da.degree < db.degree)
                         OR (da.degree = db.degree AND a < b)
                       THEN a ELSE b END AS u,
                  CASE WHEN (da.degree < db.degree)
                         OR (da.degree = db.degree AND a < b)
                       THEN b ELSE a END AS v,
                  CASE WHEN (da.degree < db.degree)
                         OR (da.degree = db.degree AND a < b)
                       THEN db.degree ELSE da.degree END AS dv
           FROM und JOIN deg da ON da.node = und.a
                    JOIN deg db ON db.node = und.b),
         tri AS (
           SELECT e1.u AS x, e1.v AS y, e2.v AS z
           FROM o e1 JOIN o e2 ON e1.u = e2.u
                 AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
                JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v),
         corners AS (
           SELECT node, count(*) AS triangles FROM (
             SELECT x AS node FROM tri
             UNION ALL SELECT y AS node FROM tri
             UNION ALL SELECT z AS node FROM tri) t
           GROUP BY node)
         SELECT deg.node, deg.degree,
                coalesce(corners.triangles, CAST(0 AS BIGINT)) AS triangles
         FROM deg LEFT JOIN corners USING (node)
         ORDER BY node""",
    // q120: same integer-cleared z-test, same trailing observed-bucket
    // frame (ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    "q120_rate_anomaly" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS h,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         st AS (
           SELECT event_type, h, cnt,
                  sum(cnt) OVER w AS s,
                  sum(cnt * cnt) OVER w AS q,
                  count(*) OVER w AS n
           FROM hourly
           WINDOW w AS (PARTITION BY event_type ORDER BY h
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_s,
                cnt, n AS n_window,
                CASE WHEN n < 12 THEN NULL
                     WHEN (n * cnt - s) * (n * cnt - s)
                          > 9 * (n * q - s * s) THEN 1 ELSE 0 END
                  AS is_anomaly
         FROM st ORDER BY event_type, hour_s""",
    // q123: the q120 z-test over a dense per-type calendar-hour grid —
    // generate_series from each type's first hour to the global last
    // hour, missing hours count 0
    "q123_rate_anomaly_dense" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS h,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         span AS (SELECT event_type, min(h) AS hmin FROM hourly GROUP BY 1),
         gmax AS (SELECT max(h) AS hmax FROM hourly),
         grid AS (
           SELECT s.event_type,
                  unnest(generate_series(s.hmin, g.hmax,
                                         INTERVAL 1 HOUR)) AS h
           FROM span s CROSS JOIN gmax g),
         dense AS (
           SELECT g.event_type, g.h, coalesce(hourly.cnt, 0) AS cnt
           FROM grid g LEFT JOIN hourly
             ON hourly.event_type = g.event_type AND hourly.h = g.h),
         st AS (
           SELECT event_type, h, cnt,
                  sum(cnt) OVER w AS s,
                  sum(cnt * cnt) OVER w AS q,
                  count(*) OVER w AS n
           FROM dense
           WINDOW w AS (PARTITION BY event_type ORDER BY h
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_s,
                cnt, n AS n_window,
                CASE WHEN n < 12 THEN NULL
                     WHEN (n * cnt - s) * (n * cnt - s)
                          > 9 * (n * q - s * s) THEN 1 ELSE 0 END
                  AS is_anomaly
         FROM st ORDER BY event_type, hour_s""",
    // q121: 5 unrolled synchronous LPA rounds (see labelPropSql)
    "q121_label_prop" -> labelPropSql(5),
    // q124/q125: per-round deltas over the same unrolled CTE chains
    "q124_rank_convergence" -> pageRankConvergenceSql(10),
    "q125_lpa_convergence" -> labelPropConvergenceSql(5),
    // q126: candidates = each later occurrence paired with its shared
    // duplicated CDC segment's FIRST owner (the canonical rule — the
    // q98/q99 CTE chain), then the exact LCS via an ALGORITHMICALLY
    // INDEPENDENT method from the Spark kernel's suffix automaton:
    // token-position matches grouped by diagonal i−j, longest
    // consecutive-i island per pair (gaps-and-islands window) — two
    // different exact algorithms agreeing is the strongest oracle form
    "q126_lcs_pairs" -> (cdcSegmentsSql +
      raw""",
         sd AS (SELECT DISTINCT seg_h, doc_id FROM segs),
         canon AS (SELECT seg_h, min(doc_id) AS c FROM sd
                   GROUP BY seg_h HAVING count(*) >= 2),
         pairs AS (
           SELECT DISTINCT canon.c AS id1, sd.doc_id AS id2
           FROM sd JOIN canon USING (seg_h)
           WHERE sd.doc_id > canon.c),
         tok AS (
           SELECT doc_id, unnest(toks) AS tok,
                  unnest(range(1, len(toks) + 1)) AS pos
           FROM t),
         m AS (
           SELECT p.id1, p.id2, ta.pos AS i, tb.pos AS j
           FROM pairs p
           JOIN tok ta ON ta.doc_id = p.id1
           JOIN tok tb ON tb.doc_id = p.id2 AND tb.tok = ta.tok),
         runs AS (
           SELECT id1, id2, i - j AS diag, i,
                  i - row_number() OVER (PARTITION BY id1, id2, i - j
                                         ORDER BY i) AS grp
           FROM m),
         lcs AS (
           SELECT id1, id2, CAST(max(cnt) AS BIGINT) AS lcs_tokens
           FROM (SELECT id1, id2, diag, grp, count(*) AS cnt
                 FROM runs GROUP BY id1, id2, diag, grp)
           GROUP BY id1, id2)
         SELECT id1, id2, lcs_tokens FROM lcs
         WHERE lcs_tokens >= 4 ORDER BY id1, id2"""),
    // q127: unigram/bigram counts + 1-row totals; the lift is the same
    // 128-bit integer expression (HUGEINT here, DECIMAL(38,0) in
    // Spark) so both engines rank on exact integers, no libm
    "q127_pmi_collocations" ->
      raw"""WITH t AS (
           SELECT list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS l
           FROM documents),
         u AS (SELECT unnest(l) AS w FROM t),
         ucnt AS (SELECT w, count(*) AS n FROM u GROUP BY w),
         tot AS (SELECT count(*) AS t FROM u),
         bg AS (SELECT unnest(l[1:len(l)-1]) AS a,
                       unnest(l[2:len(l)]) AS b
                FROM t WHERE len(l) >= 2),
         bcnt AS (SELECT a, b, count(*) AS n_ab FROM bg GROUP BY a, b),
         btot AS (SELECT count(*) AS bt FROM bg)
         SELECT a, b, n_ab,
                CAST((CAST(n_ab AS HUGEINT) * t * t * 1000000) //
                     (CAST(ua.n AS HUGEINT) * ub.n * bt) AS BIGINT)
                  AS lift_micros
         FROM bcnt
         JOIN ucnt ua ON ua.w = bcnt.a
         JOIN ucnt ub ON ub.w = bcnt.b, tot, btot
         WHERE n_ab >= 5
         ORDER BY lift_micros DESC, a, b
         LIMIT 100""",
    // q128: quotient cross-join oracle — distinct mentions × distinct
    // catalog names through DuckDB's own levenshtein, argmin per
    // mention with the same (dist, name) tie-break
    "q128_fuzzy_link" ->
      raw"""WITH t AS (
           SELECT list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS l
           FROM documents),
         m AS (SELECT unnest(l[1:len(l)-1]) || ' ' || unnest(l[2:len(l)])
                 AS mention
               FROM t WHERE len(l) >= 2),
         mc AS (SELECT mention, count(*) AS n_occ FROM m GROUP BY mention),
         d AS (SELECT DISTINCT p_name AS name FROM part),
         cand AS (
           SELECT mention, name,
                  CAST(levenshtein(mention, name) AS BIGINT) AS dist
           FROM mc, d),
         best AS (
           SELECT mention, name, dist,
                  row_number() OVER (PARTITION BY mention
                                     ORDER BY dist, name) AS rn
           FROM cand WHERE dist <= 2)
         SELECT best.mention, name, dist, n_occ
         FROM best JOIN mc ON mc.mention = best.mention
         WHERE rn = 1
         ORDER BY best.mention""",
    // q129: aligned three-way slice zip — an algorithmically different
    // formulation (the Spark side joins postings positionally)
    "q129_phrase_search" ->
      raw"""WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS l
           FROM documents),
         tg AS (SELECT doc_id,
                       generate_subscripts(l[1:len(l)-2], 1) - 1 AS pos,
                       unnest(l[1:len(l)-2]) AS a,
                       unnest(l[2:len(l)-1]) AS b,
                       unnest(l[3:len(l)])   AS c
                FROM t WHERE len(l) >= 3)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
                CAST(min(pos) AS BIGINT) AS first_pos
         FROM tg WHERE a = 'query' AND b = 'big' AND c = 'part'
         GROUP BY doc_id ORDER BY doc_id""",
    // q131: identical contract to q129 — the index is a read-path
    // detail the oracle never sees
    "q131_phrase_index_search" ->
      raw"""WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS l
           FROM documents),
         tg AS (SELECT doc_id,
                       generate_subscripts(l[1:len(l)-2], 1) - 1 AS pos,
                       unnest(l[1:len(l)-2]) AS a,
                       unnest(l[2:len(l)-1]) AS b,
                       unnest(l[3:len(l)])   AS c
                FROM t WHERE len(l) >= 3)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
                CAST(min(pos) AS BIGINT) AS first_pos
         FROM tg WHERE a = 'query' AND b = 'big' AND c = 'part'
         GROUP BY doc_id ORDER BY doc_id""",
    // q130: same integer fixed-point scoring chain (HUGEINT here,
    // DECIMAL(38,0) in Spark) — both engines rank on exact integers
    "q130_more_like_this" ->
      raw"""WITH tk AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                     t -> len(t) > 0)) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM tk GROUP BY doc_id, term),
         dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
                FROM tf GROUP BY doc_id),
         tot AS (SELECT count(*) AS n_docs,
                        CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         qt AS (SELECT term, (n_docs * 1000000) // df AS idf_ppm,
                       row_number() OVER (
                         ORDER BY (tf * ((n_docs * 1000000) // df)) DESC,
                                  term) AS rn
                FROM tf JOIN dft USING (term), tot WHERE doc_id = 1),
         q AS (SELECT term, idf_ppm FROM qt WHERE rn <= 10),
         cand AS (
           SELECT tf.doc_id, q.idf_ppm,
                  CAST((22 * CAST(tf.tf AS HUGEINT) * sum_dl * 1000000)
                       // (10 * CAST(tf.tf AS HUGEINT) * sum_dl
                           + 3 * sum_dl + 9 * dl.dl * n_docs)
                    AS BIGINT) AS sat_micros
           FROM tf JOIN q USING (term) JOIN dl USING (doc_id), tot
           WHERE tf.doc_id <> 1)
         SELECT doc_id,
                CAST(SUM(CAST(idf_ppm AS HUGEINT) * sat_micros)
                     // 1000000 AS BIGINT) AS score_micros,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM cand GROUP BY doc_id
         ORDER BY score_micros DESC, doc_id
         LIMIT 20""",
    // q132: distinct (user,item) baskets with the same cap rule, pair
    // counts via self-join on the quotient, same 128-bit integer lift
    "q132_basket_lift" ->
      raw"""WITH bi0 AS (
           SELECT DISTINCT user_id,
                  CAST(props->>'k' AS BIGINT) AS k
           FROM events WHERE props->>'k' IS NOT NULL),
         bs AS (SELECT user_id, count(*) AS n FROM bi0 GROUP BY user_id),
         keep AS (SELECT user_id FROM bs WHERE n <= 256),
         bi AS (SELECT bi0.user_id, bi0.k
                FROM bi0 JOIN keep USING (user_id)),
         tot AS (SELECT count(*) AS u FROM keep),
         ic AS (SELECT k, count(*) AS n FROM bi GROUP BY k),
         pc AS (
           SELECT x.k AS item_a, y.k AS item_b, count(*) AS n_ab
           FROM bi x JOIN bi y
             ON x.user_id = y.user_id AND x.k < y.k
           GROUP BY 1, 2)
         SELECT item_a, item_b, n_ab,
                CAST((CAST(n_ab AS HUGEINT) * u * 1000000) //
                     (CAST(ia.n AS HUGEINT) * ib.n) AS BIGINT) AS lift_ppm
         FROM pc
         JOIN ic ia ON ia.k = pc.item_a
         JOIN ic ib ON ib.k = pc.item_b, tot
         WHERE n_ab >= 5
         ORDER BY lift_ppm DESC, item_a, item_b
         LIMIT 100""",
    // q133: q132's CTE chain + a 2-direction union with per-direction
    // confidence; same 128-bit integers
    "q133_basket_rules" ->
      raw"""WITH bi0 AS (
           SELECT DISTINCT user_id,
                  CAST(props->>'k' AS BIGINT) AS k
           FROM events WHERE props->>'k' IS NOT NULL),
         bs AS (SELECT user_id, count(*) AS n FROM bi0 GROUP BY user_id),
         keep AS (SELECT user_id FROM bs WHERE n <= 256),
         bi AS (SELECT bi0.user_id, bi0.k
                FROM bi0 JOIN keep USING (user_id)),
         tot AS (SELECT count(*) AS u FROM keep),
         ic AS (SELECT k, count(*) AS n FROM bi GROUP BY k),
         pc AS (
           SELECT x.k AS item_a, y.k AS item_b, count(*) AS n_ab
           FROM bi x JOIN bi y
             ON x.user_id = y.user_id AND x.k < y.k
           GROUP BY 1, 2
           HAVING count(*) >= 5),
         dr AS (
           SELECT item_a AS antecedent, item_b AS consequent, n_ab FROM pc
           UNION ALL
           SELECT item_b, item_a, n_ab FROM pc)
         SELECT antecedent, consequent, n_ab,
                CAST((CAST(n_ab AS HUGEINT) * 1000000) // ia.n AS BIGINT)
                  AS conf_ppm,
                CAST((CAST(n_ab AS HUGEINT) * u * 1000000) //
                     (CAST(ia.n AS HUGEINT) * ic2.n) AS BIGINT) AS lift_ppm
         FROM dr
         JOIN ic ia ON ia.k = dr.antecedent
         JOIN ic ic2 ON ic2.k = dr.consequent, tot
         ORDER BY conf_ppm DESC, antecedent, consequent
         LIMIT 100""",
    // q134: level-synchronous BFS as a recursive CTE — UNION (not ALL)
    // dedups (node, dist) pairs so cycles terminate; min(dist) per node
    // is exactly the frontier loop's first-discovery depth
    "q134_bfs_hops" ->
      raw"""WITH RECURSIVE e0 AS (
           SELECT user_id, ts, event_id,
                  CAST(props->>'k' AS BIGINT) AS k
           FROM events WHERE props->>'k' IS NOT NULL),
         tr AS (
           SELECT k AS src,
                  lead(k) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
           FROM e0),
         e AS (SELECT DISTINCT src, dst FROM tr WHERE dst IS NOT NULL),
         bfs AS (
           SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
           UNION
           SELECT e.dst, bfs.dist + 1
           FROM bfs JOIN e ON e.src = bfs.node
           WHERE bfs.dist < 6)
         SELECT node, CAST(min(dist) AS BIGINT) AS dist
         FROM bfs GROUP BY node ORDER BY dist, node""",
    // q135: the q104 edge aggregation + one src-partitioned window;
    // prob_ppm integer floor division, ties (w desc, dst asc)
    "q135_next_items" ->
      raw"""WITH e0 AS (
           SELECT user_id, ts, event_id,
                  CAST(props->>'k' AS BIGINT) AS k
           FROM events WHERE props->>'k' IS NOT NULL),
         tr AS (
           SELECT k AS src,
                  lead(k) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
           FROM e0),
         e AS (
           SELECT src, dst, CAST(count(*) AS BIGINT) AS w
           FROM tr WHERE dst IS NOT NULL GROUP BY src, dst),
         outw AS (
           SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY src),
         ranked AS (
           SELECT e.src, e.dst, e.w,
                  CAST((e.w * 1000000) // o.wout AS BIGINT) AS prob_ppm,
                  CAST(row_number() OVER (
                    PARTITION BY e.src ORDER BY e.w DESC, e.dst)
                    AS BIGINT) AS rnk
           FROM e JOIN outw o ON o.src = e.src)
         SELECT src, dst, w, prob_ppm, rnk FROM ranked
         WHERE rnk <= 3 ORDER BY src, rnk""",
    // q122: two leads over the same user window, count per path tuple,
    // ties order by the path
    "q122_top_paths" ->
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  CAST(props->>'k' AS BIGINT) AS k
           FROM events WHERE props->>'k' IS NOT NULL),
         st AS (
           SELECT k AS p1,
                  lead(k, 1) OVER w AS p2,
                  lead(k, 2) OVER w AS p3
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT p1, p2, p3, count(*) AS cnt
         FROM st WHERE p2 IS NOT NULL AND p3 IS NOT NULL
         GROUP BY p1, p2, p3
         ORDER BY cnt DESC, p1, p2, p3 LIMIT 50""",
    // q80/q81: BPE training replayed as 50 unrolled pair-count →
    // argmax → substitute rounds (the round-9 verdict's last
    // `no_oracle` rows; see bpeTrainCtes for the replace()-as-
    // applyMerge construction).
    "q80_bpe_merges" -> bpeMergesSql(50),
    "q81_bpe_subtokens" -> bpeSubtokensSql(50),
    // q90: BPE training's distributed input relation — plain word count.
    "q90_bpe_word_counts" ->
      raw"""SELECT word, COUNT(*) AS cnt
         FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                         s -> len(s) > 0)) AS word
               FROM documents)
         GROUP BY word ORDER BY word""",
    // q91: replay the BPE encode loop per distinct word under the FIXED
    // merge table (Bpe.FixedMerges as a VALUES literal): seed each word
    // as characters with the last one carrying '</w>', then repeatedly
    // merge the LEFTMOST occurrence of the lowest-ranked adjacent pair
    // (equivalent to the kernel's all-occurrences-left-to-right pass:
    // a merge can't create a new occurrence of its own pair, so
    // re-scanning from position 1 visits the same occurrences in the
    // same order). Lengths strictly decrease, so each word's final
    // state is its minimum-length row.
    "q91_bpe_encode_fixed" ->
      raw"""$bpeEncodeCtes,
         occ AS (SELECT doc_id, unnest(toks) AS word FROM t),
         s AS (SELECT doc_id, COUNT(*) AS n_words, SUM(n_sub) AS n_bpe
               FROM occ JOIN c USING (word) GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(COALESCE(s.n_words, 0) AS BIGINT) AS n_words,
                CAST(COALESCE(s.n_bpe, 0) AS BIGINT) AS n_bpe
         FROM documents d LEFT JOIN s USING (doc_id)
         ORDER BY doc_id""",
    // q92: token-level blocklist accounting; hash-identity probing on
    // the Spark side is injective up to md5-60 collisions, so the
    // string-membership oracle verifies it unchanged.
    "q92_blocklist_scan" ->
      raw"""WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         b AS (
           SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(toks, s -> list_contains(
                    ['slow', 'merge', 'zzz-absent'], s))) AS BIGINT)
                    AS n_banned
           FROM t)
         SELECT doc_id, n_tokens, n_banned,
                CAST(CASE WHEN n_banned = 0 THEN 1 ELSE 0 END AS BIGINT)
                  AS keep
         FROM b ORDER BY doc_id""",
    // q93: per-language fertility under the same fixed merge table —
    // the q91 encode CTE grouped by the lang dimension.
    "q93_tokenizer_fertility" ->
      raw"""$bpeEncodeCtes,
         occ AS (SELECT lang, unnest(toks) AS word FROM t),
         s AS (SELECT lang, COUNT(*) AS n_words, SUM(n_sub) AS n_bpe
               FROM occ JOIN c USING (word) GROUP BY lang)
         SELECT lang, CAST(n_words AS BIGINT) AS n_words,
                CAST(n_bpe AS BIGINT) AS n_bpe,
                CAST((n_bpe * 1000000) // n_words AS BIGINT)
                  AS fertility_micros
         FROM s ORDER BY lang""",
    // q94: the q87 model/scoring CTEs with lang prepended to every
    // model key; per doc the prediction is the (ppx, lang)-minimal row.
    "q94_lm_langid" ->
      raw"""WITH t AS (
           SELECT doc_id, lang,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         cb AS (
           SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2,
                  COUNT(*) AS tf
           FROM (SELECT doc_id, toks, unnest(range(len(toks)-1)) AS i
                 FROM t WHERE len(toks) > 1)
           GROUP BY 1, 2, 3),
         uni AS (
           SELECT lang, w, COUNT(*) AS c1
           FROM (SELECT lang, unnest(toks) AS w FROM t)
           GROUP BY 1, 2),
         v AS (SELECT lang, COUNT(*) AS v FROM uni GROUP BY 1),
         bi AS (
           SELECT lang, toks[i+1] AS w1, toks[i+2] AS w2, COUNT(*) AS c2
           FROM (SELECT lang, toks, unnest(range(len(toks)-1)) AS i
                 FROM t WHERE len(toks) > 1)
           GROUP BY 1, 2, 3),
         langs AS (SELECT DISTINCT lang FROM documents),
         j AS (
           SELECT cb.doc_id, l.lang, cb.tf,
                  ((COALESCE(uni.c1, 0) + v.v) * 1000000)
                    // (COALESCE(bi.c2, 0) + 1) AS ip
           FROM cb
           CROSS JOIN langs l
           LEFT JOIN uni ON uni.lang = l.lang AND cb.w1 = uni.w
           LEFT JOIN bi ON bi.lang = l.lang AND cb.w1 = bi.w1
                       AND cb.w2 = bi.w2
           JOIN v ON v.lang = l.lang),
         s AS (SELECT doc_id, lang, SUM(ip * tf) // SUM(tf) AS ppx
               FROM j GROUP BY 1, 2),
         r AS (SELECT doc_id, lang, ppx,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY ppx, lang) AS rk
               FROM s)
         SELECT doc_id, lang AS pred_lang, CAST(ppx AS BIGINT) AS ppx_micros
         FROM r WHERE rk = 1 ORDER BY doc_id""",
    // q95: directed containment over the q22 shingle universe (same
    // tokenize/shingle/hot-cap CTEs); each undirected intersection row
    // yields up to two directed rows, containment = inter/|src| under
    // the stable floor rule.
    "q95_containment_pairs" ->
      raw"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                      s -> len(s) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(len(toks) - 2),
                    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END) AS shingles
           FROM t),
         tok0 AS (SELECT doc_id, unnest(shingles) AS token FROM sh),
         hot AS (SELECT token FROM tok0 GROUP BY token
                 HAVING count(*) > ${graft.operators.Dedup.DefaultMaxDf}),
         tok AS (SELECT * FROM tok0
                 WHERE token NOT IN (SELECT token FROM hot)),
         sz AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS cnt
           FROM tok a JOIN tok b
             ON a.token = b.token AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         d AS (
           SELECT id1 AS src_id, id2 AS dst_id,
                  floor(CAST(cnt AS DOUBLE) / s1.n_tok * 10000 + 0.5)
                    / 10000 AS containment
           FROM inter JOIN sz s1 ON id1 = s1.doc_id
           UNION ALL
           SELECT id2, id1,
                  floor(CAST(cnt AS DOUBLE) / s2.n_tok * 10000 + 0.5)
                    / 10000
           FROM inter JOIN sz s2 ON id2 = s2.doc_id)
         SELECT src_id, dst_id, containment
         FROM d WHERE containment >= 0.8
         ORDER BY src_id, dst_id""",
    // q96: the Gopher token-shape ruleset — every flag is an integer
    // comparison (no float ratio ever materializes), wlen in exact
    // integer micros.
    "q96_gopher_rules" ->
      raw"""WITH t AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n,
                  CAST(COALESCE(list_sum(
                    list_transform(toks, s -> len(s))), 0) AS BIGINT) AS sl,
                  CAST(len(regexp_extract_all(text, '#'))
                    + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT)
                    AS nsym,
                  CAST(len(list_filter(toks,
                    s -> regexp_matches(s, '[A-Za-z]'))) AS BIGINT) AS na,
                  CAST(len(list_intersect(list_distinct(toks),
                    ['the','a','an','and','of','to','in','is','it','on',
                     'for'])) AS BIGINT) AS ns
           FROM t),
         f AS (
           SELECT doc_id, n AS n_tokens,
                  CASE WHEN n > 0 THEN (sl * 1000000) // n
                       ELSE 0 END AS wlen_micros,
                  CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END
                    AS r_wordcount,
                  CASE WHEN n > 0 AND 3 * n <= sl AND sl <= 10 * n
                       THEN 1 ELSE 0 END AS r_wordlen,
                  CASE WHEN n > 0 AND 10 * nsym <= n THEN 1 ELSE 0 END
                    AS r_symbol,
                  CASE WHEN n > 0 AND 5 * na >= 4 * n THEN 1 ELSE 0 END
                    AS r_alpha,
                  CASE WHEN ns >= 2 THEN 1 ELSE 0 END AS r_stop
           FROM s)
         SELECT doc_id, n_tokens, CAST(wlen_micros AS BIGINT) AS wlen_micros,
                CAST(r_wordcount AS BIGINT) AS r_wordcount,
                CAST(r_wordlen AS BIGINT) AS r_wordlen,
                CAST(r_symbol AS BIGINT) AS r_symbol,
                CAST(r_alpha AS BIGINT) AS r_alpha,
                CAST(r_stop AS BIGINT) AS r_stop,
                CAST(CASE WHEN r_wordcount = 1 AND r_wordlen = 1
                      AND r_symbol = 1 AND r_alpha = 1 AND r_stop = 1
                      THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM f ORDER BY doc_id""",
    // q97: DSIR hashed-ngram importance weights — unigram+bigram
    // features md5-hashed into 8192 buckets, one aggregation builds
    // both distributions, per-feature integer smoothed ratio
    // ((ct+1)*1e6)//(cr+1), doc weight = exact integer mean.
    "q97_dsir_weights" ->
      raw"""WITH t AS (
           SELECT doc_id, lang,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         f AS (
           SELECT doc_id, lang,
                  unnest(list_concat(toks,
                    list_transform(range(len(toks) - 1),
                      i -> toks[i+1] || ' ' || toks[i+2]))) AS feat
           FROM t),
         o AS (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(feat), 1, 15))::BIGINT % 8192
                    AS bucket
           FROM f),
         b AS (
           SELECT bucket, count(*) AS cr,
                  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
           FROM o GROUP BY 1),
         sc AS (SELECT bucket, ((ct + 1) * 1000000) // (cr + 1) AS score6
                FROM b)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                CAST(SUM(score6) // count(*) AS BIGINT) AS weight_micros
         FROM o JOIN sc USING (bucket)
         GROUP BY doc_id ORDER BY doc_id""",
    // q98: CDC segmentation — boundary AFTER every token whose md5-60
    // is ≡ 0 mod 16, last token always closes a segment; seg_h =
    // md5-60 of the segment tokens joined by single spaces.
    "q98_cdc_segments" -> (cdcSegmentsSql +
      raw""" SELECT doc_id, seg_idx, n_tokens, seg_h
         FROM segs ORDER BY doc_id, seg_idx"""),
    // q99: segments in >= 2 docs, with occurrence/doc counts.
    "q99_cdc_dup_segments" -> (cdcSegmentsSql +
      raw""" SELECT seg_h, CAST(COUNT(*) AS BIGINT) AS n_occ,
                CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM segs GROUP BY seg_h HAVING COUNT(DISTINCT doc_id) >= 2
         ORDER BY seg_h"""),
    // q100: keep each duplicated segment's globally-first occurrence
    // (min packed doc_id·1e6+seg_idx), drop the rest; reassemble kept
    // segments in order, single-space joined. Zero-token docs → ('',0).
    "q100_cdc_dedup" -> (cdcSegmentsSql +
      raw""", canon AS (
           SELECT seg_h, MIN(doc_id * 1000000 + seg_idx) AS canon,
                  COUNT(*) AS cnt
           FROM segs GROUP BY seg_h),
         kept AS (
           SELECT s.doc_id, s.seg_idx, s.seg_text,
                  CASE WHEN c.cnt >= 2
                        AND s.doc_id * 1000000 + s.seg_idx <> c.canon
                       THEN 0 ELSE 1 END AS keep
           FROM segs s JOIN canon c USING (seg_h)),
         agg AS (
           SELECT doc_id,
                  string_agg(CASE WHEN keep = 1 THEN seg_text END,
                             ' ' ORDER BY seg_idx) AS clean_text,
                  SUM(1 - keep) AS n_dropped
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
                CAST(COALESCE(a.n_dropped, 0) AS BIGINT) AS n_dropped
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id"""),
    // q101: Gopher repetition signals — per n, group the doc's word
    // n-grams, take max(count·chars) (top-gram mass, n = 2..4) or the
    // duplicated-gram mass sum (n = 5..10); fixed-point micros by
    // integer floor division over the doc's total token chars.
    "q101_gopher_repetition" -> gopherRepetitionSql,
    // q102: the fuzzy join's answer is DEFINED extensionally — all
    // a<b pairs within levenshtein 2 — so the oracle is the O(n²)
    // brute force the Spark plan must never be; candidate filtering is
    // the plan's concern, not the contract's.
    "q102_fuzzy_pairs" ->
      raw"""WITH p AS (SELECT p_partkey AS k, p_name AS n FROM part)
         SELECT a.k AS a_key, b.k AS b_key,
                CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist
         FROM p a JOIN p b
           ON a.k < b.k AND abs(len(a.n) - len(b.n)) <= 2
              AND levenshtein(a.n, b.n) <= 2
         ORDER BY a_key, b_key""",
    // q103: replay the classifier's exact integer steps — per-class
    // token occurrence counts, Laplace-smoothed per-10⁹ class rates,
    // clamped rate ratio, per-doc occurrence-weighted integer mean.
    "q103_odds_quality" ->
      raw"""WITH c AS (
           SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS occ
           FROM (SELECT doc_id, lang,
                        unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                           s -> len(s) > 0)) AS tok
                 FROM documents)
           GROUP BY doc_id, lang, tok),
         m AS (
           SELECT tok,
                  CAST(SUM(CASE WHEN lang = 'en' THEN occ ELSE 0 END)
                       AS BIGINT) AS cp,
                  CAST(SUM(CASE WHEN lang <> 'en' THEN occ ELSE 0 END)
                       AS BIGINT) AS cn
           FROM c GROUP BY tok),
         t AS (
           SELECT CAST(SUM(cp) AS BIGINT) AS np,
                  CAST(SUM(cn) AS BIGINT) AS nn,
                  CAST(COUNT(*) AS BIGINT) AS v
           FROM m),
         w AS (
           SELECT tok,
                  least(((cp + 1) * 1000000000 // (np + v)) * 1000000
                          // greatest((cn + 1) * 1000000000 // (nn + v), 1),
                        1000000000000) AS w
           FROM m, t),
         s AS (
           SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_tokens,
                  CAST(SUM(occ * w) AS BIGINT) AS mass
           FROM c JOIN w USING (tok) GROUP BY doc_id)
         SELECT doc_id, n_tokens,
                CAST(mass // n_tokens AS BIGINT) AS score_micros,
                CAST(CASE WHEN mass // n_tokens >= 1000000
                     THEN 1 ELSE 0 END AS BIGINT) AS pred
         FROM s ORDER BY doc_id""",
    // q104: the fixed-iteration integer PageRank is replayed exactly —
    // one generated CTE per round (r1..r10), the q82 unrolled-oracle
    // pattern.
    "q104_pagerank" -> pageRankSql(10),
    // q136: the seeded-teleport variant of the same unrolled chain
    "q136_personalized_rank" -> personalizedRankSql(10, seed = 0L),
    // q137/q138: HLL registers recomputed verbatim — the shared md5-60
    // hash, j = h mod 256, rho = 1 + trailing zeros of h div 256 via
    // the branch-free bit_count form; estimate in HUGEINT (Spark:
    // DECIMAL(38,0)) with the exact-rational alpha 7213·m/(10000·m+10790)
    "q137_hll_users" ->
      raw"""WITH e AS (
           SELECT event_type,
                  ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  1, 15))::BIGINT AS h,
                  user_id
           FROM events),
         hr AS (
           SELECT event_type, h % 256 AS j,
                  CASE WHEN (h // 256) = 0 THEN 53
                       ELSE bit_count(((h // 256) & -(h // 256)) - 1) + 1
                  END AS rho
           FROM e),
         regs AS (SELECT event_type, j, max(rho) AS rho
                  FROM hr GROUP BY 1, 2),
         rall AS (SELECT 'ALL' AS event_type, j, max(rho) AS rho
                  FROM regs GROUP BY 2),
         r AS (SELECT * FROM regs UNION ALL SELECT * FROM rall),
         s AS (SELECT event_type,
                      sum(CAST(1::BIGINT << (62 - rho) AS HUGEINT))
                        + (256 - count(*))
                          * CAST(4611686018427387904 AS HUGEINT) AS ssum,
                      256 - count(*) AS vz
               FROM r GROUP BY 1),
         raw AS (SELECT event_type, vz,
                        CAST((CAST(7213 AS HUGEINT) * 256 * 256 * 256
                              * CAST(4611686018427387904 AS HUGEINT))
                             // (2570790 * ssum) AS BIGINT) AS est_raw
                 FROM s),
         est AS (SELECT event_type,
                        CASE WHEN vz > 0 AND 2 * est_raw < 1280
                             THEN CAST((${Sketches.lcTableSql})[vz + 1]
                                       AS BIGINT)
                             ELSE est_raw END AS est_distinct
                 FROM raw),
         ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
                FROM e GROUP BY 1
                UNION ALL
                SELECT 'ALL', count(DISTINCT user_id) FROM e)
         SELECT est.event_type, est_distinct, exact_distinct,
                CAST(CAST(abs(est_distinct - exact_distinct) AS HUGEINT)
                     * 1000000 // exact_distinct AS BIGINT) AS err_ppm
         FROM est JOIN ex ON est.event_type = ex.event_type
         ORDER BY est.event_type""",
    "q138_hll_daily" ->
      raw"""WITH e AS (
           SELECT event_type, strftime(ts, '%Y-%m-%d') AS dt,
                  ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  1, 15))::BIGINT AS h
           FROM events),
         hr AS (
           SELECT event_type, dt, h % 256 AS j,
                  CASE WHEN (h // 256) = 0 THEN 53
                       ELSE bit_count(((h // 256) & -(h // 256)) - 1) + 1
                  END AS rho
           FROM e),
         regs AS (SELECT event_type, dt, j, max(rho) AS rho
                  FROM hr GROUP BY 1, 2, 3),
         rall AS (SELECT event_type, 'ALL' AS dt, j, max(rho) AS rho
                  FROM regs GROUP BY 1, 3),
         r AS (SELECT * FROM regs UNION ALL SELECT * FROM rall),
         s AS (SELECT event_type, dt,
                      sum(CAST(1::BIGINT << (62 - rho) AS HUGEINT))
                        + (256 - count(*))
                          * CAST(4611686018427387904 AS HUGEINT) AS ssum,
                      256 - count(*) AS vz
               FROM r GROUP BY 1, 2),
         raw AS (SELECT event_type, dt, vz,
                        CAST((CAST(7213 AS HUGEINT) * 256 * 256 * 256
                              * CAST(4611686018427387904 AS HUGEINT))
                             // (2570790 * ssum) AS BIGINT) AS est_raw
                 FROM s)
         SELECT event_type, dt,
                CASE WHEN vz > 0 AND 2 * est_raw < 1280
                     THEN CAST((${Sketches.lcTableSql})[vz + 1] AS BIGINT)
                     ELSE est_raw END AS est_distinct
         FROM raw ORDER BY event_type, dt""",
    // q144: same register CTE as q137; per-pair UNION registers from
    // the 2-member explode equi-join; both estimate paths (single,
    // union) carry the LC correction; I-E overlap clamped at 0
    "q144_hll_overlap" ->
      raw"""WITH e AS (
           SELECT event_type, user_id,
                  ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  1, 15))::BIGINT AS h
           FROM events),
         hr AS (
           SELECT event_type, h % 256 AS j,
                  CASE WHEN (h // 256) = 0 THEN 53
                       ELSE bit_count(((h // 256) & -(h // 256)) - 1) + 1
                  END AS rho
           FROM e),
         regs AS (SELECT event_type, j, max(rho) AS rho
                  FROM hr GROUP BY 1, 2),
         ty AS (SELECT DISTINCT event_type FROM regs),
         pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
                   FROM ty a, ty b WHERE a.event_type < b.event_type),
         pr AS (SELECT type_a, type_b, type_a AS t FROM pairs
                UNION ALL SELECT type_a, type_b, type_b FROM pairs),
         uregs AS (SELECT type_a, type_b, j, max(rho) AS rho
                   FROM pr JOIN regs ON regs.event_type = pr.t
                   GROUP BY 1, 2, 3),
         us AS (SELECT type_a, type_b,
                       sum(CAST(1::BIGINT << (62 - rho) AS HUGEINT))
                         + (256 - count(*))
                           * CAST(4611686018427387904 AS HUGEINT) AS ssum,
                       256 - count(*) AS vz
                FROM uregs GROUP BY 1, 2),
         uraw AS (SELECT type_a, type_b, vz,
                         CAST((CAST(7213 AS HUGEINT) * 256 * 256 * 256
                               * CAST(4611686018427387904 AS HUGEINT))
                              // (2570790 * ssum) AS BIGINT) AS est_raw
                  FROM us),
         uest AS (SELECT type_a, type_b,
                         CASE WHEN vz > 0 AND 2 * est_raw < 1280
                              THEN CAST((${Sketches.lcTableSql})[vz + 1]
                                        AS BIGINT)
                              ELSE est_raw END AS union_est
                  FROM uraw),
         s1 AS (SELECT event_type,
                       sum(CAST(1::BIGINT << (62 - rho) AS HUGEINT))
                         + (256 - count(*))
                           * CAST(4611686018427387904 AS HUGEINT) AS ssum,
                       256 - count(*) AS vz
                FROM regs GROUP BY 1),
         r1 AS (SELECT event_type, vz,
                       CAST((CAST(7213 AS HUGEINT) * 256 * 256 * 256
                             * CAST(4611686018427387904 AS HUGEINT))
                            // (2570790 * ssum) AS BIGINT) AS est_raw
                FROM s1),
         est1 AS (SELECT event_type,
                         CASE WHEN vz > 0 AND 2 * est_raw < 1280
                              THEN CAST((${Sketches.lcTableSql})[vz + 1]
                                        AS BIGINT)
                              ELSE est_raw END AS est_distinct
                  FROM r1),
         m AS (SELECT DISTINCT event_type, user_id FROM events),
         ex AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
                       count(*) AS overlap_exact
                FROM m x JOIN m y ON x.user_id = y.user_id
                 AND x.event_type < y.event_type
                GROUP BY 1, 2)
         SELECT uest.type_a, uest.type_b, union_est,
                greatest(a.est_distinct + b.est_distinct - union_est,
                         0) AS overlap_est,
                coalesce(overlap_exact, 0) AS overlap_exact
         FROM uest
         JOIN est1 a ON a.event_type = uest.type_a
         JOIN est1 b ON b.event_type = uest.type_b
         LEFT JOIN ex ON ex.type_a = uest.type_a
                     AND ex.type_b = uest.type_b
         ORDER BY 1, 2""",
    // q146: KMV replay — both engines keep the 64 smallest distinct
    // md5-60("kmv:"+uid) hashes per type (row_number over the distinct
    // relation), merge the 'ALL' union by re-top-k, and evaluate the
    // same all-integer estimator (k-1)·2^60 div h_k, with nreg<k
    // degenerating to the exact count
    "q146_kmv_users" ->
      raw"""WITH e AS (
           SELECT event_type, user_id,
                  ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
                                  1, 15))::BIGINT AS h
           FROM events),
         dh AS (SELECT DISTINCT event_type, h FROM e),
         rk AS (SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h) AS rn
                FROM dh),
         regs AS (SELECT event_type, h FROM rk WHERE rn <= 64),
         au AS (SELECT DISTINCT h FROM regs),
         ark AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM au),
         allk AS (SELECT 'ALL' AS event_type, h FROM ark WHERE rn <= 64),
         r AS (SELECT * FROM regs UNION ALL SELECT * FROM allk),
         s AS (SELECT event_type, count(*) AS nreg, max(h) AS hk
               FROM r GROUP BY 1),
         est AS (SELECT event_type,
                        CASE WHEN nreg < 64 THEN nreg
                             ELSE CAST(CAST(63 AS HUGEINT)
                                       * 1152921504606846976
                                       // greatest(hk, 1) AS BIGINT)
                        END AS est_distinct
                 FROM s),
         ex AS (SELECT event_type,
                       count(DISTINCT user_id) AS exact_distinct
                FROM e GROUP BY 1
                UNION ALL
                SELECT 'ALL', count(DISTINCT user_id) FROM e)
         SELECT est.event_type, est_distinct, exact_distinct,
                CAST(CAST(abs(est_distinct - exact_distinct) AS HUGEINT)
                     * 1000000 // exact_distinct AS BIGINT) AS err_ppm
         FROM est JOIN ex ON est.event_type = ex.event_type
         ORDER BY est.event_type""",
    // q156: q147's theta replay restricted to the range — the oracle
    // builds the range sketch DIRECTLY over the filtered events, which
    // is exactly the merge-of-days ≡ build-over-range identity the
    // engine's day-grain path must satisfy (min-k over sets is
    // associative); a day-grain k mismatch or merge bug changes the
    // final sketch and fails the hash
    "q156_kmv_range_overlap" ->
      raw"""WITH e AS (
           SELECT event_type, user_id,
                  ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
                                  1, 15))::BIGINT AS h
           FROM events
           WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08'
             AND '2024-01-21'),
         dh AS (SELECT DISTINCT event_type, h FROM e),
         rk AS (SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h) AS rn
                FROM dh),
         regs AS (SELECT event_type, h FROM rk WHERE rn <= 64),
         ty AS (SELECT DISTINCT event_type FROM regs),
         pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
                   FROM ty a, ty b WHERE a.event_type < b.event_type),
         pr AS (SELECT ta, tb, ta AS t FROM pairs
                UNION ALL SELECT ta, tb, tb FROM pairs),
         uall AS (SELECT DISTINCT ta, tb, h
                  FROM pr JOIN regs ON regs.event_type = pr.t),
         urk AS (SELECT ta, tb, h,
                        row_number() OVER (PARTITION BY ta, tb
                                           ORDER BY h) AS rn
                 FROM uall),
         ku AS (SELECT ta, tb, h FROM urk WHERE rn <= 64),
         fl AS (SELECT ku.ta, ku.tb, ku.h,
                       CASE WHEN ra.h IS NOT NULL THEN 1 ELSE 0 END AS ia,
                       CASE WHEN rb.h IS NOT NULL THEN 1 ELSE 0 END AS ib
                FROM ku
                LEFT JOIN regs ra ON ra.event_type = ku.ta AND ra.h = ku.h
                LEFT JOIN regs rb ON rb.event_type = ku.tb AND rb.h = ku.h),
         st AS (SELECT ta, tb, count(*) AS kun,
                       sum(ia * ib) AS matches, max(h) AS hk
                FROM fl GROUP BY 1, 2),
         um AS (SELECT ta, tb, kun, matches,
                       CASE WHEN kun < 64 THEN kun
                            ELSE CAST(CAST(63 AS HUGEINT)
                                      * 1152921504606846976
                                      // greatest(hk, 1) AS BIGINT)
                       END AS union_est
                FROM st),
         ovl AS (SELECT ta, tb, union_est,
                        CAST(CAST(matches AS HUGEINT) * 1000000
                             // kun AS BIGINT) AS jaccard_ppm,
                        CAST(CAST(matches AS HUGEINT) * union_est
                             // kun AS BIGINT) AS overlap_est
                 FROM um),
         m AS (SELECT DISTINCT event_type, user_id FROM events
               WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08'
                 AND '2024-01-21'),
         exo AS (SELECT x.event_type AS ta, y.event_type AS tb,
                        count(*) AS overlap_exact
                 FROM m x JOIN m y ON x.user_id = y.user_id
                  AND x.event_type < y.event_type
                 GROUP BY 1, 2),
         exd AS (SELECT event_type, count(DISTINCT user_id) AS ed
                 FROM e GROUP BY 1)
         SELECT ovl.ta AS type_a, ovl.tb AS type_b, union_est,
                overlap_est, coalesce(overlap_exact, 0) AS overlap_exact,
                jaccard_ppm,
                CAST(CAST(coalesce(overlap_exact, 0) AS HUGEINT) * 1000000
                     // (ea.ed + eb.ed - coalesce(overlap_exact, 0))
                     AS BIGINT) AS jaccard_exact_ppm
         FROM ovl
         LEFT JOIN exo ON exo.ta = ovl.ta AND exo.tb = ovl.tb
         JOIN exd ea ON ea.event_type = ovl.ta
         JOIN exd eb ON eb.event_type = ovl.tb
         ORDER BY type_a, type_b""",
    // q147: theta-sketch set algebra — per-pair union sample via
    // explode+equi-join on the SAME per-type sketch CTE, membership
    // flags via left joins back to the sketches, all-integer
    // jaccard/intersection estimates + exact audit columns
    "q147_kmv_overlap" ->
      raw"""WITH e AS (
           SELECT event_type, user_id,
                  ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
                                  1, 15))::BIGINT AS h
           FROM events),
         dh AS (SELECT DISTINCT event_type, h FROM e),
         rk AS (SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h) AS rn
                FROM dh),
         regs AS (SELECT event_type, h FROM rk WHERE rn <= 64),
         ty AS (SELECT DISTINCT event_type FROM regs),
         pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
                   FROM ty a, ty b WHERE a.event_type < b.event_type),
         pr AS (SELECT ta, tb, ta AS t FROM pairs
                UNION ALL SELECT ta, tb, tb FROM pairs),
         uall AS (SELECT DISTINCT ta, tb, h
                  FROM pr JOIN regs ON regs.event_type = pr.t),
         urk AS (SELECT ta, tb, h,
                        row_number() OVER (PARTITION BY ta, tb
                                           ORDER BY h) AS rn
                 FROM uall),
         ku AS (SELECT ta, tb, h FROM urk WHERE rn <= 64),
         fl AS (SELECT ku.ta, ku.tb, ku.h,
                       CASE WHEN ra.h IS NOT NULL THEN 1 ELSE 0 END AS ia,
                       CASE WHEN rb.h IS NOT NULL THEN 1 ELSE 0 END AS ib
                FROM ku
                LEFT JOIN regs ra ON ra.event_type = ku.ta AND ra.h = ku.h
                LEFT JOIN regs rb ON rb.event_type = ku.tb AND rb.h = ku.h),
         st AS (SELECT ta, tb, count(*) AS kun,
                       sum(ia * ib) AS matches, max(h) AS hk
                FROM fl GROUP BY 1, 2),
         um AS (SELECT ta, tb, kun, matches,
                       CASE WHEN kun < 64 THEN kun
                            ELSE CAST(CAST(63 AS HUGEINT)
                                      * 1152921504606846976
                                      // greatest(hk, 1) AS BIGINT)
                       END AS union_est
                FROM st),
         ovl AS (SELECT ta, tb, union_est,
                        CAST(CAST(matches AS HUGEINT) * 1000000
                             // kun AS BIGINT) AS jaccard_ppm,
                        CAST(CAST(matches AS HUGEINT) * union_est
                             // kun AS BIGINT) AS overlap_est
                 FROM um),
         m AS (SELECT DISTINCT event_type, user_id FROM events),
         exo AS (SELECT x.event_type AS ta, y.event_type AS tb,
                        count(*) AS overlap_exact
                 FROM m x JOIN m y ON x.user_id = y.user_id
                  AND x.event_type < y.event_type
                 GROUP BY 1, 2),
         exd AS (SELECT event_type, count(DISTINCT user_id) AS ed
                 FROM e GROUP BY 1)
         SELECT ovl.ta AS type_a, ovl.tb AS type_b, union_est,
                overlap_est, coalesce(overlap_exact, 0) AS overlap_exact,
                jaccard_ppm,
                CAST(CAST(coalesce(overlap_exact, 0) AS HUGEINT) * 1000000
                     // (ea.ed + eb.ed - coalesce(overlap_exact, 0))
                     AS BIGINT) AS jaccard_exact_ppm
         FROM ovl
         LEFT JOIN exo ON exo.ta = ovl.ta AND exo.tb = ovl.tb
         JOIN exd ea ON ea.event_type = ovl.ta
         JOIN exd eb ON eb.event_type = ovl.tb
         ORDER BY type_a, type_b""",
    // q152: q137's register replay restricted to the date range —
    // merging stored day-grain registers for a range is identical to
    // building registers over the range's rows (max is associative),
    // so the oracle filters first and the integers match
    "q152_hll_range" ->
      raw"""WITH e AS (
           SELECT event_type, user_id,
                  ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  1, 15))::BIGINT AS h
           FROM events
           WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08'
             AND '2024-01-21'),
         hr AS (
           SELECT event_type, h % 256 AS j,
                  CASE WHEN (h // 256) = 0 THEN 53
                       ELSE bit_count(((h // 256) & -(h // 256)) - 1) + 1
                  END AS rho
           FROM e),
         regs AS (SELECT event_type, j, max(rho) AS rho
                  FROM hr GROUP BY 1, 2),
         rall AS (SELECT 'ALL' AS event_type, j, max(rho) AS rho
                  FROM regs GROUP BY 2),
         r AS (SELECT * FROM regs UNION ALL SELECT * FROM rall),
         s AS (SELECT event_type,
                      sum(CAST(1::BIGINT << (62 - rho) AS HUGEINT))
                        + (256 - count(*))
                          * CAST(4611686018427387904 AS HUGEINT) AS ssum,
                      256 - count(*) AS vz
               FROM r GROUP BY 1),
         raw AS (SELECT event_type, vz,
                        CAST((CAST(7213 AS HUGEINT) * 256 * 256 * 256
                              * CAST(4611686018427387904 AS HUGEINT))
                             // (2570790 * ssum) AS BIGINT) AS est_raw
                 FROM s),
         est AS (SELECT event_type,
                        CASE WHEN vz > 0 AND 2 * est_raw < 1280
                             THEN CAST((${Sketches.lcTableSql})[vz + 1]
                                       AS BIGINT)
                             ELSE est_raw END AS est_distinct
                 FROM raw),
         ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
                FROM e GROUP BY 1
                UNION ALL
                SELECT 'ALL', count(DISTINCT user_id) FROM e)
         SELECT est.event_type, est_distinct, exact_distinct,
                CAST(CAST(abs(est_distinct - exact_distinct) AS HUGEINT)
                     * 1000000 // exact_distinct AS BIGINT) AS err_ppm
         FROM est JOIN ex ON est.event_type = ex.event_type
         ORDER BY est.event_type""",
    // q151: the engine deletes through candidate-file rewrites and
    // answers through the patched index; the oracle is the plain
    // filter with the deleted key excluded — a leftover row of the
    // deleted customer OR a lost row of the survivor fails the hash
    "q151_forget_key" ->
      raw"""SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE o_custkey IN (7, 42) AND o_custkey <> 7
         ORDER BY o_orderkey""",
    // q154: both engines evaluate the LITERALLY IDENTICAL dHash
    // comparison sum (one generator, Multimodal.dhashTermsSql, feeds
    // engine and oracle — the zorderTermsSql discipline) over the
    // 64-byte thumbnail: the engine reads the resized BINARY payload
    // byte-by-byte, the oracle reads the ASCII source text char-by-
    // char (value-equal; ascii('') = 0 covers the zero-pad), then the
    // same cluster/band/verify replay as q45
    "q154_media_neardup" ->
      raw"""WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio'
                       ELSE 'video' END AS media_type,
                  substr(text, 1, 64) AS t64
           FROM documents),
         s AS (SELECT doc_id, media_type,
                      CAST(${operators.Multimodal.dhashTermsSql(
                        operators.Multimodal.byteAtDuckSql("t64"))}
                        AS BIGINT) AS dhash
               FROM d),
         cl AS (SELECT media_type, dhash, min(doc_id) AS keep_id,
                       count(*) AS n_members
                FROM s GROUP BY 1, 2),
         dup AS (SELECT media_type, keep_id AS id1, keep_id AS id2,
                        CAST(0 AS BIGINT) AS hamming,
                        n_members AS n1, n_members AS n2
                 FROM cl WHERE n_members > 1),
         bands AS (
           SELECT media_type, dhash, keep_id, n_members, k.range AS band,
                  (dhash // CAST(pow(2, k.range * 14) AS BIGINT)) % 16384
                    AS bval
           FROM cl, range(4) k),
         cand AS (
           SELECT DISTINCT x.media_type, x.keep_id AS id1,
                  y.keep_id AS id2, x.dhash AS h1, y.dhash AS h2,
                  x.n_members AS n1, y.n_members AS n2
           FROM bands x JOIN bands y
             ON x.media_type = y.media_type AND x.band = y.band
            AND x.bval = y.bval AND x.keep_id < y.keep_id),
         pairs AS (
           SELECT media_type, id1, id2,
                  CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming,
                  n1, n2
           FROM cand WHERE bit_count(xor(h1, h2)) <= 3)
         SELECT * FROM (SELECT * FROM dup UNION ALL SELECT * FROM pairs)
         ORDER BY media_type, id1, id2""",
    // q153: the engine deletes the whole key batch in one rewrite job
    // (manifest-shared non-candidates) and answers through the patched
    // index; the oracle is the plain filter with the batch excluded —
    // any leftover row of a deleted customer OR lost row of either
    // survivor fails the hash
    "q153_forget_batch" ->
      raw"""SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE o_custkey IN (7, 13, 29, 42, 133)
           AND o_custkey NOT IN (7, 13, 29)
         ORDER BY o_orderkey""",
    // q150: both engines derive the identical integer grid (lo, width)
    // from the column's min/max, build the same bucket registers, and
    // run the same ceil-rank cumulative walk at both resolutions
    "q150_price_quantiles" ->
      raw"""WITH e AS (
           SELECT o_orderpriority,
                  CAST(floor(o_totalprice * 100) AS BIGINT) AS c
           FROM orders),
         g AS (SELECT min(c) AS lo,
                      greatest(1, ((max(c) - min(c) + 1) + 1023) // 1024)
                        AS width
               FROM e),
         regs AS (SELECT o_orderpriority, (c - lo) // width AS b,
                         count(*) AS cnt
                  FROM e CROSS JOIN g GROUP BY 1, 2),
         rall AS (SELECT 'ALL' AS o_orderpriority, b, sum(cnt) AS cnt
                  FROM regs GROUP BY 2),
         r AS (SELECT * FROM regs UNION ALL SELECT * FROM rall),
         cum AS (SELECT o_orderpriority, b,
                        sum(cnt) OVER (PARTITION BY o_orderpriority
                                       ORDER BY b) AS cum,
                        sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
                 FROM r),
         est AS (SELECT o_orderpriority,
                        min(CASE WHEN cum >= (n * 50 + 99) // 100
                                 THEN b END) AS pb50,
                        min(CASE WHEN cum >= (n * 95 + 99) // 100
                                 THEN b END) AS pb95,
                        min(CASE WHEN cum >= (n * 99 + 99) // 100
                                 THEN b END) AS pb99
                 FROM cum GROUP BY 1),
         vals AS (SELECT o_orderpriority, c, count(*) AS cnt
                  FROM e GROUP BY 1, 2),
         vall AS (SELECT 'ALL' AS o_orderpriority, c, sum(cnt) AS cnt
                  FROM vals GROUP BY 2),
         v AS (SELECT * FROM vals UNION ALL SELECT * FROM vall),
         vcum AS (SELECT o_orderpriority, c,
                         sum(cnt) OVER (PARTITION BY o_orderpriority
                                        ORDER BY c) AS cum,
                         sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
                  FROM v),
         ex AS (SELECT o_orderpriority,
                       min(CASE WHEN cum >= (n * 50 + 99) // 100
                                THEN c END) AS p50_exact_cents,
                       min(CASE WHEN cum >= (n * 95 + 99) // 100
                                THEN c END) AS p95_exact_cents,
                       min(CASE WHEN cum >= (n * 99 + 99) // 100
                                THEN c END) AS p99_exact_cents
                FROM vcum GROUP BY 1)
         SELECT est.o_orderpriority,
                g.lo AS grid_lo_cents, g.width AS grid_width_cents,
                g.lo + pb50 * g.width AS p50_est_cents, p50_exact_cents,
                g.lo + pb95 * g.width AS p95_est_cents, p95_exact_cents,
                g.lo + pb99 * g.width AS p99_est_cents, p99_exact_cents
         FROM est
         JOIN ex ON ex.o_orderpriority = est.o_orderpriority
         CROSS JOIN g
         ORDER BY est.o_orderpriority""",
    // q149: CMS replay — both engines build the same (d, w) counter
    // relation on md5-60("cms<d>:"+item) mod width and take the min
    // over each item's d probed counters; the err column is the
    // one-sided collision overshoot
    "q149_cms_counts" ->
      raw"""WITH e AS (
           SELECT CAST(props->>'k' AS BIGINT) AS item FROM events
           WHERE props->>'k' IS NOT NULL),
         rng AS (SELECT unnest(range(4)) AS d),
         hr AS (
           SELECT d,
                  ('0x' || substr(md5('cms' || CAST(d AS VARCHAR) || ':'
                                      || CAST(item AS VARCHAR)),
                                  1, 15))::BIGINT % 2048 AS w
           FROM e CROSS JOIN rng),
         regs AS (SELECT d, w, count(*) AS cnt FROM hr GROUP BY 1, 2),
         it AS (SELECT DISTINCT item FROM e),
         pr AS (
           SELECT item, d,
                  ('0x' || substr(md5('cms' || CAST(d AS VARCHAR) || ':'
                                      || CAST(item AS VARCHAR)),
                                  1, 15))::BIGINT % 2048 AS w
           FROM it CROSS JOIN rng),
         est AS (SELECT item, min(coalesce(cnt, 0)) AS est_cnt
                 FROM pr LEFT JOIN regs USING (d, w) GROUP BY item),
         ex AS (SELECT item, count(*) AS exact_cnt FROM e GROUP BY item)
         SELECT est.item, est_cnt, exact_cnt,
                est_cnt - exact_cnt AS err
         FROM est JOIN ex ON est.item = ex.item
         ORDER BY est.item""",
    // q160: after promote + vacuum, the retained version answers the
    // same plain filter with the batch excluded (the physical-erasure
    // sweep is spec-side: the oracle pins the READ, the spec pins that
    // no deleted byte survives anywhere in the lineage)
    "q160_vacuumed_forget" ->
      raw"""SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE o_custkey IN (7, 13, 29, 42, 133)
           AND o_custkey NOT IN (7, 13, 29)
         ORDER BY o_orderkey""",
    // q161: the engine deletes the doc batch from the curated-corpus
    // layout (bloom-pruned one-job rewrite on doc_id) and probes
    // through the patched index; the oracle is the plain filter with
    // the batch excluded
    "q161_doc_takedown" ->
      raw"""SELECT doc_id, lang, source, n_chars
         FROM documents
         WHERE doc_id IN (45, 48, 262, 7, 100)
           AND doc_id NOT IN (45, 48, 262)
         ORDER BY doc_id""",
    // q162: the engine rewrites only the deleted docs' pack blocks,
    // repacking survivors in the same job; the oracle is q59's pack
    // replay over the corpus with the batch excluded — any stale
    // start_tok/bin or leftover row fails the hash
    "q162_takedown_pack" ->
      raw"""WITH d AS (
           SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                       t -> len(t) > 0)) AS BIGINT) AS n_tokens,
                  ('0x' || substr(md5('pack:' || doc_id), 1, 15))::BIGINT
                    % 8 AS block
           FROM documents
           WHERE doc_id NOT IN (45, 48, 262)),
         w AS (
           SELECT doc_id, block, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY block ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                    AS start_tok
           FROM d)
         SELECT doc_id, block, n_tokens, start_tok,
                CAST(block * 1099511627776 + start_tok // 2048 AS BIGINT)
                  AS bin
         FROM w ORDER BY doc_id""",
    // q163: the engine rewrites only the deleted docs' term buckets
    // and serves the q131 phrase search through the patched postings;
    // the oracle is the q129 slice-zip replay with the batch excluded
    "q163_takedown_phrase" ->
      raw"""WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS l
           FROM documents
           WHERE doc_id NOT IN (45, 48, 262)),
         tg AS (SELECT doc_id,
                       generate_subscripts(l[1:len(l)-2], 1) - 1 AS pos,
                       unnest(l[1:len(l)-2]) AS a,
                       unnest(l[2:len(l)-1]) AS b,
                       unnest(l[3:len(l)])   AS c
                FROM t WHERE len(l) >= 3)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
                CAST(min(pos) AS BIGINT) AS first_pos
         FROM tg WHERE a = 'query' AND b = 'big' AND c = 'part'
         GROUP BY doc_id ORDER BY doc_id""",
    // q164: the engine rewrites only the deleted vectors' cells and
    // serves q56's probe path over the patched inverted file; the
    // oracle is the same unrolled-Lloyd chain (training unchanged —
    // takedowns never retrain the frozen quantizer) with the batch
    // excluded from scoring
    "q164_takedown_ann" ->
      ivfSearchSql(cells = 8, iters = 2, nprobe = 3, k = 10,
        queryId = 0L, excludeIds = Seq(45L, 48L, 262L)),
    // q166: the engine expands the seed through its near-dup cluster
    // and deletes the whole cluster; the oracle re-derives the cascade
    // with the q60 component chain and excludes it dynamically — an
    // over-reaching cascade loses probe rows, an under-reaching one
    // leaves a cluster mate behind, both fail the hash
    "q166_cluster_takedown" ->
      raw"""WITH RECURSIVE $minhashLshCtes,
         pairs AS (SELECT id1, id2 FROM sc WHERE est_sim >= 0.5),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                 UNION ALL
                 SELECT id2 AS src, id1 AS dst FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM sym),
         reach(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON r.id = s.src),
         cmp AS (SELECT id AS doc_id, min(comp) AS comp
                 FROM reach GROUP BY id),
         allc AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
                  FROM documents d LEFT JOIN cmp c ON d.doc_id = c.doc_id),
         seedc AS (SELECT DISTINCT comp FROM allc WHERE doc_id IN (45)),
         del AS (SELECT a.doc_id FROM allc a
                 JOIN seedc s ON a.comp = s.comp)
         SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id IN (45, 7, 100, 267, 413, 487)
           AND doc_id NOT IN (SELECT doc_id FROM del)
         ORDER BY doc_id""",
    // q167: the cascade itself, oracle-derived from the same chain
    "q167_cluster_expansion" ->
      raw"""WITH RECURSIVE $minhashLshCtes,
         pairs AS (SELECT id1, id2 FROM sc WHERE est_sim >= 0.5),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                 UNION ALL
                 SELECT id2 AS src, id1 AS dst FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM sym),
         reach(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON r.id = s.src),
         cmp AS (SELECT id AS doc_id, min(comp) AS comp
                 FROM reach GROUP BY id),
         allc AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
                  FROM documents d LEFT JOIN cmp c ON d.doc_id = c.doc_id),
         seedc AS (SELECT DISTINCT comp FROM allc WHERE doc_id IN (45))
         SELECT a.doc_id, a.comp FROM allc a
         JOIN seedc s ON a.comp = s.comp
         ORDER BY a.doc_id""",
    // q168: the incrementally maintained cluster table must equal the
    // one-shot batch component chain over EVERY document (q167's allc)
    "q168_cluster_table" ->
      raw"""WITH RECURSIVE $minhashLshCtes,
         pairs AS (SELECT id1, id2 FROM sc WHERE est_sim >= 0.5),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                 UNION ALL
                 SELECT id2 AS src, id1 AS dst FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM sym),
         reach(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON r.id = s.src),
         cmp AS (SELECT id AS doc_id, min(comp) AS comp
                 FROM reach GROUP BY id)
         SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
         FROM documents d LEFT JOIN cmp c ON d.doc_id = c.doc_id
         ORDER BY d.doc_id""",
    // q169: after the in-place takedown of doc 45 the table must equal
    // the batch chain over the RETAINED corpus — survivor relabeling
    // (and any component split) rides the hash
    "q169_cluster_forget" ->
      raw"""WITH RECURSIVE ${minhashLshCtesOver(
             "(SELECT * FROM documents WHERE doc_id NOT IN (45))")},
         pairs AS (SELECT id1, id2 FROM sc WHERE est_sim >= 0.5),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                 UNION ALL
                 SELECT id2 AS src, id1 AS dst FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM sym),
         reach(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON r.id = s.src),
         cmp AS (SELECT id AS doc_id, min(comp) AS comp
                 FROM reach GROUP BY id)
         SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
         FROM documents d LEFT JOIN cmp c ON d.doc_id = c.doc_id
         WHERE d.doc_id NOT IN (45)
         ORDER BY d.doc_id""",
    // q170: exactly q60's oracle — the table-served formulation must
    // reproduce the recompute's canonical selection bit-for-bit
    "q170_canonical_table" ->
      raw"""WITH RECURSIVE $minhashLshCtes,
         pairs AS (SELECT id1, id2 FROM sc WHERE est_sim >= 0.5),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                 UNION ALL
                 SELECT id2 AS src, id1 AS dst FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM sym),
         reach(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON r.id = s.src),
         cmp AS (SELECT id AS doc_id, min(comp) AS comp
                 FROM reach GROUP BY id),
         mq AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         qual AS (
           SELECT doc_id, $qualityCaseSql AS quality
           FROM mq),
         j AS (SELECT q.doc_id, COALESCE(c.comp, q.doc_id) AS comp, q.quality
               FROM qual q LEFT JOIN cmp c ON q.doc_id = c.doc_id)
         SELECT doc_id, comp, quality,
                CASE WHEN row_number() OVER (PARTITION BY comp
                       ORDER BY quality DESC, doc_id) = 1
                     THEN 1 ELSE 0 END AS keep
         FROM j ORDER BY doc_id""",
    // q165: exact per-artifact deletion accounting — the engine
    // reports its rewrite jobs' Observation counts; the oracle
    // recomputes each from the source tables
    "q165_takedown_report" ->
      raw"""WITH del AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id IN (45, 48, 262))
         SELECT 'corpus' AS artifact,
                CAST(count(*) AS BIGINT) AS rows_deleted FROM del
         UNION ALL
         SELECT 'ivf', CAST(count(*) AS BIGINT)
         FROM embeddings WHERE vec_id IN (45, 48, 262)
         UNION ALL
         SELECT 'pack', CAST(count(*) AS BIGINT) FROM del
         UNION ALL
         SELECT 'postings',
                CAST(coalesce(sum(len(list_filter(
                  regexp_split_to_array(text, '\s+'),
                  t -> len(t) > 0))), 0) AS BIGINT)
         FROM del
         ORDER BY artifact""",
    // q158: the engine deletes the user batch in one stripe-union
    // rewrite and scans through the forgotten version; oracle = the
    // q145 rectangle with both users excluded
    "q158_zorder_forget_batch" ->
      raw"""SELECT event_id, user_id,
                CAST(props->>'k' AS BIGINT) AS item
         FROM events
         WHERE props->>'k' IS NOT NULL
           AND user_id BETWEEN 0 AND 40
           AND CAST(props->>'k' AS BIGINT) BETWEEN 10 AND 19
           AND user_id NOT IN (7, 13)
         ORDER BY event_id""",
    // q159: the engine deletes the batch through the composed layout
    // (both indexes patched) and answers through the intersected
    // indexes of the patched version; oracle = the plain conjunctive
    // filter with the batch excluded
    "q159_composed_forget" ->
      raw"""SELECT o_orderkey, o_custkey, o_totalprice,
                strftime(o_orderdate, '%Y-%m-%d') AS odate
         FROM orders
         WHERE o_custkey IN (7, 42, 13, 133)
           AND o_custkey NOT IN (7, 42)
           AND CAST(o_orderdate AS DATE) BETWEEN '1995-01-01'
             AND '1996-06-30'
         ORDER BY o_orderkey""",
    // q157: the engine answers through the intersected indexes of the
    // date-clustered layout; the oracle is the plain conjunctive
    // filter — an over-pruned file (a row the AND should return but a
    // candidate set dropped) fails the hash, never silently
    "q157_composed_lookup" ->
      raw"""SELECT o_orderkey, o_custkey, o_totalprice,
                strftime(o_orderdate, '%Y-%m-%d') AS odate
         FROM orders
         WHERE o_custkey IN (7, 42)
           AND CAST(o_orderdate AS DATE) BETWEEN '1995-01-01'
             AND '1996-06-30'
         ORDER BY o_orderkey""",
    // q148: the engine answers through the bloom-indexed layout +
    // candidate-file partition pruning; the oracle is the plain
    // filter — a pruning bug (a skipped file holding a probe
    // customer's order) fails the hash, never silently
    "q148_bloom_lookup" ->
      raw"""SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE o_custkey IN (7, 42, 133)
         ORDER BY o_orderkey""",
    // q155: the engine deletes the user through quadrant-candidate
    // rewrites and scans through the forgotten version; the oracle is
    // the plain rectangle filter with the user excluded — a leftover
    // row of the user OR a lost row of anyone else fails the hash
    "q155_zorder_forget" ->
      raw"""SELECT event_id, user_id,
                CAST(props->>'k' AS BIGINT) AS item
         FROM events
         WHERE props->>'k' IS NOT NULL
           AND user_id BETWEEN 0 AND 40
           AND CAST(props->>'k' AS BIGINT) BETWEEN 10 AND 19
           AND user_id <> 7
         ORDER BY event_id""",
    // q145: the engine answers through the materialized z-layout +
    // quadrant partition pruning; the oracle is the plain rectangle
    // filter — if pruning ever skipped a quadrant holding matching
    // rows, the row sets (and hash) would diverge
    "q145_zorder_scan" ->
      raw"""SELECT event_id, user_id,
                CAST(props->>'k' AS BIGINT) AS item
         FROM events
         WHERE props->>'k' IS NOT NULL
           AND user_id BETWEEN 0 AND 40
           AND CAST(props->>'k' AS BIGINT) BETWEEN 10 AND 19
         ORDER BY event_id""",
    // q139: the sketch pass is candidate generation only — the output
    // contract is the exact threshold count, so the oracle is the
    // plain group-by + having it is guaranteed to equal
    "q139_heavy_hitters" ->
      raw"""WITH e AS (
           SELECT CAST(props->>'k' AS BIGINT) AS item FROM events
           WHERE props->>'k' IS NOT NULL),
         c AS (SELECT item, count(*) AS cnt FROM e GROUP BY item),
         tot AS (SELECT count(*) AS n FROM e)
         SELECT item, cnt FROM c, tot
         WHERE cnt * 1000000 > n * 10500
         ORDER BY cnt DESC, item""",
    // q140: the interleave is the SAME generated shift/mask sum on
    // both sides (Warehouse.zorderTermsSql), so file ids and footer
    // stats are integer-identical
    "q140_zorder_layout" ->
      raw"""WITH e AS (
           SELECT user_id, CAST(props->>'k' AS BIGINT) AS item
           FROM events WHERE props->>'k' IS NOT NULL),
         z AS (SELECT user_id, item,
                      ${Warehouse.zorderTermsSql("user_id", "item")} AS zkey
               FROM e)
         SELECT zkey // ${1L << Warehouse.ZShift} AS file_id,
                count(*) AS cnt,
                min(user_id) AS u_min, max(user_id) AS u_max,
                min(item) AS i_min, max(item) AS i_max
         FROM z GROUP BY 1 ORDER BY 1""",
    // q141: DuckDB plans the inequality pair natively (IEJoin); the
    // engine's cell decomposition must reproduce it pair-for-pair
    "q141_concurrent_orders" ->
      raw"""WITH ow0 AS (
           SELECT o_orderkey, o_custkey,
                  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                       AS BIGINT) AS d_ord,
                  CAST(CAST(max(l_shipdate) AS DATE) - DATE '1970-01-01'
                       AS BIGINT) AS d_ship
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           GROUP BY o_orderkey, o_custkey, o_orderdate),
         ow AS (
           SELECT o_orderkey, o_custkey,
                  least(d_ord, d_ship) AS lo, greatest(d_ord, d_ship) AS hi
           FROM ow0)
         SELECT a.o_custkey,
                a.o_orderkey AS a_orderkey, b.o_orderkey AS b_orderkey,
                least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1
                  AS overlap_days
         FROM ow a JOIN ow b
           ON a.o_custkey = b.o_custkey
          AND a.o_orderkey < b.o_orderkey
          AND a.lo <= b.hi AND b.lo <= a.hi
         ORDER BY 1, 2, 3""",
    // q142: same fixed 1024×0.5 grid, same SUM-merged rollup, same
    // ceil(n·q/100) cumulative walk at bucket and exact-value
    // resolution; floor(value·10⁶) is IEEE-identical cross-engine
    "q142_hist_quantiles" ->
      raw"""WITH e AS (SELECT event_type, value FROM events),
         regs AS (
           SELECT event_type,
                  least(greatest(CAST(floor(value * 1000000) AS BIGINT)
                                 // 500000, 0), 1023) AS b,
                  count(*) AS cnt
           FROM e GROUP BY 1, 2),
         rall AS (SELECT 'ALL' AS event_type, b, sum(cnt) AS cnt
                  FROM regs GROUP BY 2),
         r AS (SELECT * FROM regs UNION ALL SELECT * FROM rall),
         cum AS (SELECT event_type, b,
                        sum(cnt) OVER (PARTITION BY event_type
                                       ORDER BY b) AS cum,
                        sum(cnt) OVER (PARTITION BY event_type) AS n
                 FROM r),
         est AS (SELECT event_type,
                        min(CASE WHEN cum >= (n * 50 + 99) // 100
                                 THEN b END) * 500000 AS p50_est_micros,
                        min(CASE WHEN cum >= (n * 95 + 99) // 100
                                 THEN b END) * 500000 AS p95_est_micros,
                        min(CASE WHEN cum >= (n * 99 + 99) // 100
                                 THEN b END) * 500000 AS p99_est_micros
                 FROM cum GROUP BY 1),
         vals AS (SELECT event_type,
                         CAST(floor(value * 1000000) AS BIGINT) AS vfp,
                         count(*) AS cnt
                  FROM e GROUP BY 1, 2),
         vall AS (SELECT 'ALL' AS event_type, vfp, sum(cnt) AS cnt
                  FROM vals GROUP BY 2),
         v AS (SELECT * FROM vals UNION ALL SELECT * FROM vall),
         vcum AS (SELECT event_type, vfp,
                         sum(cnt) OVER (PARTITION BY event_type
                                        ORDER BY vfp) AS cum,
                         sum(cnt) OVER (PARTITION BY event_type) AS n
                  FROM v),
         ex AS (SELECT event_type,
                       min(CASE WHEN cum >= (n * 50 + 99) // 100
                                THEN vfp END) AS p50_exact_micros,
                       min(CASE WHEN cum >= (n * 95 + 99) // 100
                                THEN vfp END) AS p95_exact_micros,
                       min(CASE WHEN cum >= (n * 99 + 99) // 100
                                THEN vfp END) AS p99_exact_micros
                FROM vcum GROUP BY 1)
         SELECT est.event_type,
                p50_est_micros, p50_exact_micros,
                p95_est_micros, p95_exact_micros,
                p99_est_micros, p99_exact_micros
         FROM est JOIN ex ON est.event_type = ex.event_type
         ORDER BY est.event_type""",
    // q143: every metric recomputed as plain SQL aggregates + anti-join
    // orphan counts; all-integer (counts / ppm via integer division)
    "q143_quality_report" ->
      raw"""WITH evm AS (
           SELECT count(*) AS n, count(DISTINCT event_id) AS dk,
                  sum(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END) AS nnu,
                  sum(CASE WHEN event_type IS NOT NULL AND event_type <> ''
                           THEN 1 ELSE 0 END) AS nnt,
                  sum(CASE WHEN value >= 0.0 THEN 1 ELSE 0 END) AS vok,
                  max(CAST(epoch_us(ts) AS BIGINT)) AS mts
           FROM events),
         om AS (
           SELECT count(*) AS n, count(DISTINCT o_orderkey) AS dk,
                  sum(CASE WHEN o_totalprice > 0.0 THEN 1 ELSE 0 END) AS pok
           FROM orders),
         lm AS (
           SELECT count(*) AS n,
                  sum(CASE WHEN l_quantity > 0.0 THEN 1 ELSE 0 END) AS qok,
                  sum(CASE WHEN l_discount >= 0.0 AND l_discount <= 1.0
                           THEN 1 ELSE 0 END) AS dok
           FROM lineitem),
         rep AS (
           SELECT 'events' AS entity, 'rows' AS metric,
                  CAST(n AS BIGINT) AS value FROM evm
           UNION ALL SELECT 'events', 'event_id_unique_ppm',
                  CAST(dk * 1000000 // n AS BIGINT) FROM evm
           UNION ALL SELECT 'events', 'user_id_complete_ppm',
                  CAST(nnu * 1000000 // n AS BIGINT) FROM evm
           UNION ALL SELECT 'events', 'event_type_complete_ppm',
                  CAST(nnt * 1000000 // n AS BIGINT) FROM evm
           UNION ALL SELECT 'events', 'value_nonneg_ppm',
                  CAST(vok * 1000000 // n AS BIGINT) FROM evm
           UNION ALL SELECT 'events', 'max_ts_micros', mts FROM evm
           UNION ALL SELECT 'orders', 'rows', CAST(n AS BIGINT) FROM om
           UNION ALL SELECT 'orders', 'o_orderkey_unique_ppm',
                  CAST(dk * 1000000 // n AS BIGINT) FROM om
           UNION ALL SELECT 'orders', 'totalprice_positive_ppm',
                  CAST(pok * 1000000 // n AS BIGINT) FROM om
           UNION ALL SELECT 'orders', 'orphan_custkey',
                  (SELECT count(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey))
           UNION ALL SELECT 'lineitem', 'rows', CAST(n AS BIGINT) FROM lm
           UNION ALL SELECT 'lineitem', 'quantity_positive_ppm',
                  CAST(qok * 1000000 // n AS BIGINT) FROM lm
           UNION ALL SELECT 'lineitem', 'discount_in_unit_ppm',
                  CAST(dok * 1000000 // n AS BIGINT) FROM lm
           UNION ALL SELECT 'lineitem', 'orphan_orderkey',
                  (SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey)))
         SELECT entity, metric, value FROM rep
         ORDER BY entity, metric""",
    // q105: per-user minimal step times — min(view), then min(click)
    // STRICTLY after it, then min(purchase) after that; count non-null
    // per step. NULL propagation in the CASE matches Spark's when().
    "q105_funnel" ->
      raw"""WITH s1 AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS t1
           FROM events GROUP BY user_id),
         s2 AS (
           SELECT e.user_id,
                  min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1
                      THEN e.ts END) AS t2
           FROM events e JOIN s1 USING (user_id) GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id,
                  min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2
                      THEN e.ts END) AS t3
           FROM events e JOIN s2 USING (user_id) GROUP BY e.user_id)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
                  CAST(count(t1) AS BIGINT) AS n_users FROM s1
           UNION ALL
           SELECT CAST(2 AS BIGINT), 'click',
                  CAST(count(t2) AS BIGINT) FROM s2
           UNION ALL
           SELECT CAST(3 AS BIGINT), 'purchase',
                  CAST(count(t3) AS BIGINT) FROM s3)
         ORDER BY step""",
    // q106: UTC day-string cohorts (the q01 bucketing convention),
    // integer day offsets, exact distinct counts.
    "q106_cohorts" ->
      raw"""WITH ev AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt FROM events),
         f AS (
           SELECT user_id, min(dt) AS cohort_dt FROM ev GROUP BY user_id)
         SELECT cohort_dt,
                CAST(CAST(dt AS DATE) - CAST(cohort_dt AS DATE)
                     AS BIGINT) AS day_offset,
                CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
         FROM ev JOIN f USING (user_id)
         GROUP BY cohort_dt, day_offset
         ORDER BY cohort_dt, day_offset""",
    // q107: clusters over the brute-force distance-≤2 name graph —
    // min-reachable-surrogate via the q53 recursive-CTE pattern; each
    // name's surrogate is its minimum key, so the cluster id is the
    // smallest key in the cluster.
    "q107_fuzzy_clusters" ->
      raw"""WITH RECURSIVE p AS (
           SELECT p_partkey AS k, p_name AS n FROM part),
         g AS (SELECT n, min(k) AS nid FROM p GROUP BY n),
         pairs AS (
           SELECT a.nid AS id1, b.nid AS id2 FROM g a JOIN g b
           ON a.n < b.n AND abs(len(a.n) - len(b.n)) <= 2
              AND levenshtein(a.n, b.n) <= 2),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                 UNION ALL SELECT id2, id1 FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM sym),
         reach(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON r.id = s.src),
         lab AS (SELECT id AS nid, min(comp) AS comp
                 FROM reach GROUP BY id)
         SELECT p.k AS key, CAST(coalesce(l.comp, g.nid) AS BIGINT)
                  AS cluster
         FROM p JOIN g USING (n) LEFT JOIN lab l ON l.nid = g.nid
         ORDER BY key""",
    // q108/q109: the per-subspace Lloyd chain unrolled (the q38/q82
    // pattern), L2 assignment with lowest-cell ties, empty cells keep
    // their previous centroid; ADC sums the per-subspace table in
    // ascending subspace order.
    "q108_pq_codes" -> (pqCtes(4, 8, 2, 16) +
      raw""",
         af AS (${pqAssignFinal()})
         SELECT vec_id, CAST(s AS BIGINT) AS s, CAST(cell AS BIGINT)
                  AS code
         FROM af ORDER BY vec_id, s"""),
    "q109_pq_search" -> (pqCtes(4, 8, 2, 16) +
      raw""",
         af AS (${pqAssignFinal()}),
         q AS (SELECT embedding AS qe FROM e WHERE vec_id = 0),
         dt AS (
           SELECT c.s, c.cell,
                  list_reduce(list_transform(
                    list_zip(list_slice(q.qe, c.s * 16 + 1, c.s * 16 + 16),
                             c.cent),
                    p -> (p[1]::DOUBLE - p[2]) * (p[1]::DOUBLE - p[2])),
                    (x, y) -> x + y) AS d2
           FROM c2 c CROSS JOIN q),
         sc AS (
           SELECT a.vec_id,
                  list_reduce(list(dt.d2 ORDER BY a.s), (x, y) -> x + y)
                    AS raw
           FROM af a JOIN dt ON dt.s = a.s AND dt.cell = a.cell
           WHERE a.vec_id <> 0 GROUP BY a.vec_id)
         SELECT vec_id, floor(raw * 1000000 + 0.5) / 1000000 AS adist
         FROM sc ORDER BY raw, vec_id LIMIT 10"""),
    // q110: the q38 IVF chain (probe pruning) composed with the PQ
    // chain (p-prefixed CTEs, shared `e`) — ADC within probed cells.
    "q110_ivfpq_search" -> ivfPqSearchSql(),
    // q111: the same whitespace token count as q18, rolled up with
    // 'ALL' sentinels over the grouping nulls.
    "q111_rollup_report" ->
      raw"""SELECT coalesce(source, 'ALL') AS source,
                coalesce(lang, 'ALL') AS lang,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
                                         s -> len(s) > 0))) AS BIGINT)
                  AS n_tokens
         FROM documents GROUP BY ROLLUP (source, lang)
         ORDER BY source, lang""",
  )

  /** Composed IVF+PQ oracle: IVF coarse chain (cells=8, 2 iters, as
    * q38) for probe selection and assignment, PQ chain (4×8, 2 iters)
    * for ADC scoring, joined on the probed-cell membership. */
  private def ivfPqSearchSql(cells: Int = 8, ivfIters: Int = 2,
      nprobe: Int = 3, pqIters: Int = 2, topK: Int = 10,
      queryId: Long = 0L): String = {
    val (ivfPrefix, ivfAf) = ivfCtes(cells, ivfIters)
    val pq = pqCtes(4, 8, pqIters, 16, p = "p", withE = false)
    raw"""WITH $ivfPrefix,
         $pq,
         q AS (SELECT embedding AS qe FROM e WHERE vec_id = $queryId),
         probe AS (
           SELECT cell FROM (
             SELECT c.cell, row_number() OVER (
               ORDER BY ${cosSql("c.centroid", "q.qe")} DESC, c.cell)
               AS rn
             FROM c$ivfIters c CROSS JOIN q) t
           WHERE rn <= $nprobe),
         afiv AS ($ivfAf),
         afpq AS (${pqAssignFinal("p", pqIters)}),
         dt AS (
           SELECT c.s, c.cell,
                  list_reduce(list_transform(
                    list_zip(list_slice(q.qe, c.s * 16 + 1, c.s * 16 + 16),
                             c.cent),
                    p -> (p[1]::DOUBLE - p[2]) * (p[1]::DOUBLE - p[2])),
                    (x, y) -> x + y) AS d2
           FROM pc$pqIters c CROSS JOIN q),
         sc AS (
           SELECT a.vec_id,
                  list_reduce(list(dt.d2 ORDER BY a.s), (x, y) -> x + y)
                    AS raw
           FROM afpq a JOIN dt ON dt.s = a.s AND dt.cell = a.cell
                JOIN afiv ON afiv.vec_id = a.vec_id
                JOIN probe ON afiv.cell = probe.cell
           WHERE a.vec_id <> $queryId GROUP BY a.vec_id)
         SELECT vec_id, floor(raw * 1000000 + 0.5) / 1000000 AS adist
         FROM sc ORDER BY raw, vec_id LIMIT $topK"""
  }

  /** Shared per-subspace unrolled-Lloyd chain for the PQ oracles:
    * CTEs `${p}seed`, `${p}c0` .. `${p}c$iters` over `m` subspaces ×
    * `k` cells of `d` components. With `withE` (the standalone form)
    * the chain opens `WITH e AS (...)`; composed callers (q110) share
    * an existing `e` and pass a name prefix to avoid colliding with
    * the IVF chain's CTE names. */
  private def pqCtes(m: Int, k: Int, iters: Int, d: Int,
      p: String = "", withE: Boolean = true): String = {
    def l2(vec: String, cent: String, s: String): String =
      s"""list_reduce(list_transform(
            list_zip(list_slice($vec, $s * $d + 1, $s * $d + $d), $cent),
            p -> (p[1]::DOUBLE - p[2]) * (p[1]::DOUBLE - p[2])),
            (x, y) -> x + y)"""
    val e = if (withE)
      s"WITH e AS (SELECT vec_id, embedding FROM embeddings),\n         "
    else ""
    val init =
      s"""$e${p}seed AS (
           SELECT embedding,
                  CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                    AS cell
           FROM (SELECT vec_id, embedding FROM e
                 ORDER BY vec_id LIMIT $k) t),
         ${p}c0 AS (
           SELECT sp.s, ${p}seed.cell,
                  list_transform(
                    list_slice(embedding, sp.s * $d + 1, sp.s * $d + $d),
                    v -> v::DOUBLE) AS cent
           FROM ${p}seed, (SELECT unnest(range($m)) AS s) sp)"""
    val rounds = (0 until iters).map { i =>
      s"""${p}a$i AS (
           SELECT vec_id, s, cell FROM (
             SELECT e.vec_id, c.s, c.cell,
                    row_number() OVER (PARTITION BY e.vec_id, c.s
                      ORDER BY ${l2("e.embedding", "c.cent", "c.s")},
                               c.cell) AS rn
             FROM e CROSS JOIN ${p}c$i c) t
           WHERE rn = 1),
         ${p}x$i AS (
           SELECT a.s, a.cell, pp.i AS pos,
                  e.embedding[a.s * $d + pp.i + 1]::DOUBLE AS v
           FROM ${p}a$i a JOIN e USING (vec_id),
                (SELECT unnest(range($d)) AS i) pp),
         ${p}s$i AS (
           SELECT s, cell, pos,
                  CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT))
                       AS BIGINT) AS sv,
                  count(*) AS n
           FROM ${p}x$i GROUP BY s, cell, pos),
         ${p}c${i + 1} AS (
           SELECT c.s, c.cell, coalesce(nw.cent, c.cent) AS cent
           FROM ${p}c$i c LEFT JOIN (
             SELECT s, cell,
                    list(CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE)
                         * 1000000.0) ORDER BY pos) AS cent
             FROM ${p}s$i GROUP BY s, cell) nw USING (s, cell))"""
    }
    (init +: rounds).mkString(",\n         ")
  }

  /** The PQ final-assignment subquery body against `${p}c$iters`. */
  private def pqAssignFinal(p: String = "", iters: Int = 2): String =
    s"""SELECT vec_id, s, cell FROM (
          SELECT e.vec_id, c.s, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id, c.s
                   ORDER BY list_reduce(list_transform(
                       list_zip(list_slice(e.embedding,
                                c.s * 16 + 1, c.s * 16 + 16), c.cent),
                       p -> (p[1]::DOUBLE - p[2]) * (p[1]::DOUBLE - p[2])),
                       (x, y) -> x + y),
                            c.cell) AS rn
          FROM e CROSS JOIN ${p}c$iters c) t
        WHERE rn = 1"""

  /** Generated oracle for q104: transition edges from per-user lead(),
    * then `iters` unrolled rank CTEs applying the exact integer update
    * `r' = 150000 + (85 · Σ floor(r·w / wout)) div 100`. */
  /** q121 oracle: `iters` unrolled synchronous LPA rounds — per round,
    * each node adopts the most frequent neighbor label (ties to the
    * smallest label), replayed as a count + row_number per round. */
  /** The shared unrolled-LPA CTE chain (l0..l`iters`) — used by the
    * q121 final-labels oracle and the q125 per-round flip oracle. */
  private def labelPropCtes(iters: Int): String = {
    val header = raw"""WITH ev AS (
         SELECT user_id, ts, event_id, CAST(props->>'k' AS BIGINT) AS k
         FROM events WHERE props->>'k' IS NOT NULL),
       tr AS (
         SELECT k AS src, lead(k) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS dst
         FROM ev),
       und AS (
         SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM tr WHERE dst IS NOT NULL AND src <> dst),
       sym AS (SELECT a AS u, b AS v FROM und
               UNION ALL SELECT b AS u, a AS v FROM und),
       l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym)"""
    val rounds = (1 to iters).map { i =>
      s"""l$i AS (
         SELECT u AS node, lbl FROM (
           SELECT s.u, l.lbl, count(*) AS cnt,
                  row_number() OVER (PARTITION BY s.u
                    ORDER BY count(*) DESC, l.lbl) AS rn
           FROM sym s JOIN l${i - 1} l ON s.v = l.node
           GROUP BY s.u, l.lbl) t
         WHERE rn = 1)"""
    }
    (header +: rounds).mkString(",\n")
  }

  private def labelPropSql(iters: Int): String =
    labelPropCtes(iters) +
      s"\nSELECT node, lbl AS label FROM l$iters ORDER BY node"

  /** q125 oracle: per unrolled round, flips vs the previous round's
    * labels and the surviving community count. */
  private def labelPropConvergenceSql(iters: Int): String = {
    val deltas = (1 to iters).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
           CAST(sum(CASE WHEN a.lbl <> b.lbl THEN 1 ELSE 0 END)
                AS BIGINT) AS flips,
           CAST(count(DISTINCT a.lbl) AS BIGINT) AS n_communities
         FROM l$i a JOIN l${i - 1} b USING (node)"""
    }.mkString("\n         UNION ALL\n         ")
    labelPropCtes(iters) +
      s"\nSELECT * FROM (\n         $deltas) ORDER BY round"
  }

  /** The shared unrolled-PageRank CTE chain (r0..r`iters`) — used by
    * the q104 final-ranks oracle and the q124 per-round L1 oracle. */
  private def pageRankCtes(iters: Int): String = {
    val header = raw"""WITH e0 AS (
         SELECT user_id, ts, event_id,
                CAST(props->>'k' AS BIGINT) AS k
         FROM events),
       tr AS (
         SELECT k AS src,
                lead(k) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS dst
         FROM e0),
       e AS (
         SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         FROM tr WHERE dst IS NOT NULL GROUP BY src, dst),
       outw AS (
         SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY src),
       nodes AS (SELECT DISTINCT k AS node FROM e0),
       r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"""
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         SELECT n.node,
                CAST(150000 + (85 * COALESCE(c.s, 0)) // 100
                     AS BIGINT) AS r
         FROM nodes n LEFT JOIN (
           SELECT e.dst AS node, SUM((r.r * e.w) // o.wout) AS s
           FROM e JOIN r${i - 1} r ON r.node = e.src
                  JOIN outw o ON o.src = e.src
           GROUP BY e.dst) c USING (node))"""
    }
    (header +: rounds).mkString(",\n       ")
  }

  private def pageRankSql(iters: Int): String =
    pageRankCtes(iters) +
      s"\n       SELECT node, r AS rank_micros FROM r$iters ORDER BY node"

  /** q136 oracle: q104's unrolled chain with the teleport mass
    * concentrated at the seed (150000·|V| there, 0 elsewhere) and the
    * walk started at the seed (10⁶·|V|). */
  private def personalizedRankSql(iters: Int, seed: Long): String = {
    val header = raw"""WITH e0 AS (
         SELECT user_id, ts, event_id,
                CAST(props->>'k' AS BIGINT) AS k
         FROM events),
       tr AS (
         SELECT k AS src,
                lead(k) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS dst
         FROM e0),
       e AS (
         SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         FROM tr WHERE dst IS NOT NULL GROUP BY src, dst),
       outw AS (
         SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY src),
       nodes AS (SELECT DISTINCT k AS node FROM e0),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       r0 AS (
         SELECT node,
                CAST(CASE WHEN node = $seed THEN 1000000 * n
                     ELSE 0 END AS BIGINT) AS r
         FROM nodes, nn)"""
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         SELECT n.node,
                CAST(CASE WHEN n.node = $seed THEN 150000 * nn.n
                     ELSE 0 END
                     + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
         FROM nodes n LEFT JOIN (
           SELECT e.dst AS node, SUM((r.r * e.w) // o.wout) AS s
           FROM e JOIN r${i - 1} r ON r.node = e.src
                  JOIN outw o ON o.src = e.src
           GROUP BY e.dst) c USING (node), nn)"""
    }
    (header +: rounds).mkString(",\n       ") +
      s"\n       SELECT node, r AS rank_micros FROM r$iters ORDER BY node"
  }

  /** q124 oracle: per unrolled round, the L1 rank delta (micros) and
    * the moved-node count vs the previous round. */
  private def pageRankConvergenceSql(iters: Int): String = {
    val deltas = (1 to iters).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
           CAST(sum(abs(a.r - b.r)) AS BIGINT) AS l1_delta_micros,
           CAST(sum(CASE WHEN a.r <> b.r THEN 1 ELSE 0 END)
                AS BIGINT) AS moved_nodes
         FROM r$i a JOIN r${i - 1} b USING (node)"""
    }.mkString("\n         UNION ALL\n         ")
    pageRankCtes(iters) +
      s"\n       SELECT * FROM (\n         $deltas) ORDER BY round"
  }

  /** Generated oracle for q101: one CTE per gram size (the nine Gopher
    * repetition signals share the tokenized-docs CTE). Thresholds come
    * from the same table the Spark plan uses
    * ([[graft.operators.Curation.RepetitionCapsMicros]]) so the two
    * sides cannot drift. */
  private def gopherRepetitionSql: String = {
    val caps = graft.operators.Curation.RepetitionCapsMicros
    val header = raw"""WITH t AS (
         SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                    s -> len(s) > 0) AS toks
         FROM documents),
       tc AS (
         SELECT doc_id,
                CAST(coalesce(list_sum(list_transform(toks, s -> len(s))),
                     0) AS BIGINT) AS total_chars
         FROM t)"""
    val ctes = caps.map { case (f, _) =>
      val n = f.replaceAll("[a-z]+", "").toInt
      val agg =
        if (f.startsWith("top")) "max(cnt * chars)"
        else "sum(CASE WHEN cnt >= 2 THEN cnt * chars ELSE 0 END)"
      s"""g$n AS (
         SELECT doc_id, CAST($agg AS BIGINT) AS mass
         FROM (SELECT doc_id, gram, count(*) AS cnt,
                      len(gram) - ${n - 1} AS chars
               FROM (SELECT doc_id,
                            unnest(CASE WHEN len(toks) >= $n
                              THEN list_transform(range(len(toks) - ${n - 1}),
                                i -> array_to_string(
                                  list_slice(toks, i + 1, i + $n), ' '))
                              ELSE [] END) AS gram
                     FROM t)
               GROUP BY doc_id, gram)
         GROUP BY doc_id)"""
    }
    val cols = caps.map { case (f, _) =>
      val n = f.replaceAll("[a-z]+", "").toInt
      s"""CAST(CASE WHEN total_chars > 0
              THEN coalesce(g$n.mass, 0) * 1000000 // total_chars
              ELSE 0 END AS BIGINT) AS ${f}_micros"""
    }
    val keep = caps
      .map { case (f, cap) => s"${f}_micros <= $cap" }
      .mkString(" AND ")
    val joins = caps.map { case (f, _) =>
      val n = f.replaceAll("[a-z]+", "").toInt
      s"LEFT JOIN g$n USING (doc_id)"
    }
    (header +: ctes).mkString(",\n       ") +
      "\n       SELECT doc_id, total_chars,\n       " +
      cols.mkString(",\n       ") +
      s""",\n       CAST(CASE WHEN $keep AND total_chars > 0
              THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM tc ${joins.mkString(" ")}
         ORDER BY doc_id"""
  }

  /** Shared CTE chain for the CDC oracles (q98/q99): tokenized docs,
    * 1-based boundary positions (md5-60(token) ≡ 0 mod CdcModulus, or
    * the last token), and the segment relation
    * `segs(doc_id, seg_idx, n_tokens, seg_h)`. */
  private val cdcSegmentsSql: String =
    raw"""WITH t AS (
         SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                    s -> len(s) > 0) AS toks
         FROM documents),
       b AS (
         SELECT doc_id, toks,
                list_filter(range(1, len(toks) + 1),
                  i -> ('0x' || substr(md5(toks[i]), 1, 15))::BIGINT
                         % ${graft.operators.Dedup.CdcModulus} = 0
                       OR i = len(toks)) AS ends
         FROM t WHERE len(toks) > 0),
       u AS (
         SELECT doc_id, toks, ends, unnest(range(len(ends))) AS i
         FROM b),
       segs AS (
         SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
                CAST(ends[i+1] - st + 1 AS BIGINT) AS n_tokens,
                array_to_string(list_slice(toks, st, ends[i+1]), ' ')
                  AS seg_text,
                ('0x' || substr(md5(array_to_string(
                  list_slice(toks, st, ends[i+1]), ' ')), 1, 15))::BIGINT
                  AS seg_h
         FROM (SELECT doc_id, toks, ends, i,
                      CASE WHEN i = 0 THEN 1 ELSE ends[i] + 1 END AS st
               FROM u))"""

  /** The q112 one-command corpus-build oracle: every stage of
    * [[graft.operators.Curation.corpusBuild]] replayed in one CTE
    * chain — scrub (q77 arithmetic) → quality (q20) + Gopher shape
    * (q96) + repetition (q101) + perplexity (q87) + DSIR (q97) + odds
    * (q103) gates → exact dedup (fingerprint min-id) → MinHash-LSH
    * near dedup (q24 CTEs + q53 recursive components) → trained-cell
    * semantic dedup (the q82 unrolled-Lloyd chain over SURVIVOR
    * embeddings with the measured cell rule) → domain cap (q85) →
    * mixture epochs (q89) → packing (q59). Heavily-referenced CTEs
    * are MATERIALIZED (the scrubbed corpus feeds ~15 stages; without
    * it DuckDB re-inlines the parquet scan per reference). Every
    * arithmetic fragment is copied verbatim from the corresponding
    * standalone oracle, so the composition cannot drift from the
    * already-gated stage semantics. */
  private def corpusBuildSql: String = {
    import graft.operators.Pii
    val repCtes = graft.operators.Curation.RepetitionCapsMicros.map {
      case (f, _) =>
        val n = f.replaceAll("[a-z]+", "").toInt
        val agg =
          if (f.startsWith("top")) "max(cnt * chars)"
          else "sum(CASE WHEN cnt >= 2 THEN cnt * chars ELSE 0 END)"
        s"""g$n AS (
         SELECT doc_id, CAST($agg AS BIGINT) AS mass
         FROM (SELECT doc_id, gram, count(*) AS cnt,
                      len(gram) - ${n - 1} AS chars
               FROM (SELECT doc_id,
                            unnest(CASE WHEN len(toks) >= $n
                              THEN list_transform(range(len(toks) - ${n - 1}),
                                i -> array_to_string(
                                  list_slice(toks, i + 1, i + $n), ' '))
                              ELSE [] END) AS gram
                     FROM t)
               GROUP BY doc_id, gram)
         GROUP BY doc_id)"""
    }
    val repConds = graft.operators.Curation.RepetitionCapsMicros.map {
      case (f, cap) =>
        val n = f.replaceAll("[a-z]+", "").toInt
        s"""(CASE WHEN total_chars > 0 THEN coalesce(g$n.mass, 0)
            * 1000000 // total_chars ELSE 0 END) <= $cap"""
    }.mkString(" AND ")
    val repJoins = graft.operators.Curation.RepetitionCapsMicros.map {
      case (f, _) =>
        s"LEFT JOIN g${f.replaceAll("[a-z]+", "")} USING (doc_id)"
    }.mkString(" ")
    val (ivfPrefix, ivfAf) = ivfCtes(
      "SELECT CAST(LEAST(4096, GREATEST(16, (COUNT(*) + 127) // 128))" +
        " AS INT) FROM e", 3,
      embCte = """e AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings
        SEMI JOIN nr ON embeddings.vec_id = nr.doc_id)""")
    val parts = Seq(
      s"""sd AS MATERIALIZED (
      SELECT doc_id, lang, source,
             regexp_replace(regexp_replace(regexp_replace(text,
               '${Pii.EmailRe}', '${Pii.EmailTag}', 'g'),
               '${Pii.Ipv4Re}', '${Pii.Ipv4Tag}', 'g'),
               '${Pii.PhoneRe}', '${Pii.PhoneTag}', 'g') AS text
      FROM documents)""",
      raw"""t AS MATERIALIZED (
      SELECT doc_id, lang, source, text,
             list_filter(regexp_split_to_array(text, '\s+'),
                         s -> len(s) > 0) AS toks
      FROM sd)""",
      s"""qs AS (SELECT doc_id, ($qualityCaseSql) AS quality FROM t)""",
      raw"""gsh AS (
      SELECT doc_id,
             CASE WHEN (n >= 50 AND n <= 100000)
                   AND (n > 0 AND 3 * n <= sl AND sl <= 10 * n)
                   AND (n > 0 AND 10 * nsym <= n)
                   AND (n > 0 AND 5 * na >= 4 * n)
                   AND (ns >= 2) THEN 1 ELSE 0 END AS g_shape
      FROM (SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n,
                   CAST(COALESCE(list_sum(
                     list_transform(toks, s -> len(s))), 0) AS BIGINT) AS sl,
                   CAST(len(regexp_extract_all(text, '#'))
                     + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT)
                     AS nsym,
                   CAST(len(list_filter(toks,
                     s -> regexp_matches(s, '[A-Za-z]'))) AS BIGINT) AS na,
                   CAST(len(list_intersect(list_distinct(toks),
                     ['the','a','an','and','of','to','in','is','it','on',
                      'for'])) AS BIGINT) AS ns
            FROM t))""",
      raw"""tc AS MATERIALIZED (
      SELECT doc_id,
             CAST(coalesce(list_sum(list_transform(toks, s -> len(s))),
                  0) AS BIGINT) AS total_chars
      FROM t)""") ++ repCtes ++ Seq(
      s"""grep AS (
         SELECT doc_id,
                CAST(CASE WHEN $repConds AND total_chars > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS g_rep
         FROM tc $repJoins)""",
      """cb AS (
      SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2, COUNT(*) AS tf
      FROM (SELECT doc_id, toks, unnest(range(len(toks)-1)) AS i
            FROM t WHERE len(toks) > 1)
      GROUP BY 1, 2, 3)""",
      """uni AS (
      SELECT w, COUNT(*) AS c1
      FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')
      GROUP BY 1)""",
      "v AS (SELECT COUNT(*) AS v FROM uni)",
      """bi AS (
      SELECT toks[i+1] AS w1, toks[i+2] AS w2, COUNT(*) AS c2
      FROM (SELECT toks, unnest(range(len(toks)-1)) AS i
            FROM t WHERE lang = 'en' AND len(toks) > 1)
      GROUP BY 1, 2)""",
      """ppx  AS MATERIALIZED (
      SELECT doc_id, CAST(SUM(ip * tf) // SUM(tf) AS BIGINT) AS ppx
      FROM (SELECT cb.doc_id, cb.tf,
                   ((COALESCE(uni.c1, 0) + v.v) * 1000000)
                     // (COALESCE(bi.c2, 0) + 1) AS ip
            FROM cb
            LEFT JOIN uni ON cb.w1 = uni.w
            LEFT JOIN bi ON cb.w1 = bi.w1 AND cb.w2 = bi.w2
            CROSS JOIN v)
      GROUP BY doc_id)""",
      """dso AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(feat), 1, 15))::BIGINT % 8192 AS bucket
      FROM (SELECT doc_id, lang,
                   unnest(list_concat(toks,
                     list_transform(range(len(toks) - 1),
                       i -> toks[i+1] || ' ' || toks[i+2]))) AS feat
            FROM t))""",
      """dsb AS (
      SELECT bucket, ((SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1)
             * 1000000) // (count(*) + 1) AS score6
      FROM dso GROUP BY bucket)""",
      """dsir  AS MATERIALIZED (
      SELECT doc_id, CAST(SUM(score6) // count(*) AS BIGINT) AS dsir
      FROM dso JOIN dsb USING (bucket) GROUP BY doc_id)""",
      """oc AS (
      SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS occ
      FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM t)
      GROUP BY doc_id, lang, tok)""",
      """om AS (
      SELECT tok,
             CAST(SUM(CASE WHEN lang = 'en' THEN occ ELSE 0 END)
                  AS BIGINT) AS cp,
             CAST(SUM(CASE WHEN lang <> 'en' THEN occ ELSE 0 END)
                  AS BIGINT) AS cn
      FROM oc GROUP BY tok)""",
      """ot AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cn) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM om)""",
      """ow AS (
      SELECT tok,
             least(((cp + 1) * 1000000000 // (np + v)) * 1000000
                     // greatest((cn + 1) * 1000000000 // (nn + v), 1),
                   1000000000000) AS w
      FROM om, ot)""",
      """odds  AS MATERIALIZED (
      SELECT doc_id,
             CAST(SUM(occ * w) // SUM(occ) AS BIGINT) AS odds
      FROM oc JOIN ow USING (tok) GROUP BY doc_id)""",
      // corpus-relative model-gate cutoffs — exact order statistics
      // (keep the best 90% of scored docs, ties at the cutoff pass):
      // the operator's q79-style percentile rule replayed with
      // ORDER BY + LIMIT-subquery
      """pcut AS (SELECT max(v) AS cut FROM (
        SELECT ppx AS v FROM ppx ORDER BY ppx
        LIMIT (SELECT GREATEST((count(*) * 90) // 100, 1) FROM ppx)))""",
      """dcut AS (SELECT min(v) AS cut FROM (
        SELECT dsir AS v FROM dsir ORDER BY dsir DESC
        LIMIT (SELECT GREATEST((count(*) * 90) // 100, 1) FROM dsir)))""",
      """ocut AS (SELECT min(v) AS cut FROM (
        SELECT odds AS v FROM odds ORDER BY odds DESC
        LIMIT (SELECT GREATEST((count(*) * 90) // 100, 1) FROM odds)))""",
      """gated AS MATERIALIZED (
      SELECT t.doc_id
      FROM t
      JOIN qs USING (doc_id)
      JOIN gsh USING (doc_id)
      JOIN grep USING (doc_id)
      LEFT JOIN ppx USING (doc_id)
      LEFT JOIN dsir USING (doc_id)
      LEFT JOIN odds USING (doc_id)
      WHERE qs.quality >= 0.5 AND gsh.g_shape = 1 AND grep.g_rep = 1
        AND (ppx.ppx IS NULL OR ppx.ppx <= (SELECT cut FROM pcut))
        AND (dsir.dsir IS NULL OR dsir.dsir >= (SELECT cut FROM dcut))
        AND (odds.odds IS NULL OR odds.odds >= (SELECT cut FROM ocut)))""",
      raw"""ex AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT t.doc_id, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
          ORDER BY t.doc_id) AS rn
        FROM t SEMI JOIN gated USING (doc_id)) z
      WHERE rn = 1)""",
      """nt AS (
      SELECT t.doc_id, toks FROM t SEMI JOIN ex USING (doc_id))""",
      """nsh AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE list_transform(range(len(toks) - 2),
               i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
        END) AS shingles
      FROM nt)""",
      """nex AS (
      SELECT doc_id,
             ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT
               % 2147483647 AS base
      FROM nsh)""",
      s"consts(j, a, b) AS (VALUES $MhConstsSql)",
      """nh AS (
      SELECT doc_id, c.j AS hash_idx,
             (c.a::BIGINT * base + c.b::BIGINT) % 2147483647 AS hv
      FROM nex CROSS JOIN consts c)""",
      """nsig AS MATERIALIZED (
      SELECT doc_id, hash_idx, min(hv) AS hash_val
      FROM nh GROUP BY doc_id, hash_idx)""",
      """nbk AS MATERIALIZED (
      SELECT doc_id, hash_idx // 2 AS band,
             md5(array_to_string(list(hash_val ORDER BY hash_idx), ','))
               AS band_key
      FROM nsig GROUP BY doc_id, band)""",
      """ncand AS (
      SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
      FROM nbk x JOIN nbk y
        ON x.band = y.band AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id)""",
      """npair AS (
      SELECT id1, id2
      FROM (SELECT id1, id2,
                   CAST(sum(CASE WHEN s1.hash_val = s2.hash_val
                        THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_sim
            FROM ncand
            JOIN nsig s1 ON id1 = s1.doc_id
            JOIN nsig s2 ON id2 = s2.doc_id AND s1.hash_idx = s2.hash_idx
            GROUP BY id1, id2) z
      WHERE est_sim >= 0.5)""",
      """nsym AS (SELECT id1 AS src, id2 AS dst FROM npair
      UNION ALL SELECT id2 AS src, id1 AS dst FROM npair)""",
      """nreach(id, comp) AS (
      SELECT id, id FROM (SELECT DISTINCT src AS id FROM nsym) z
      UNION
      SELECT sy.dst, r.comp FROM nreach r JOIN nsym sy ON r.id = sy.src)""",
      """ncomp AS MATERIALIZED (SELECT id, min(comp) AS comp FROM nreach
      GROUP BY id)""",
      """nr AS MATERIALIZED (
      SELECT ex.doc_id FROM ex LEFT JOIN ncomp ON ex.doc_id = ncomp.id
      WHERE ncomp.comp IS NULL OR ncomp.comp = ex.doc_id)""",
      ivfPrefix,
      s"af AS ($ivfAf)",
      s"""spair AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM e a JOIN af fa ON a.vec_id = fa.vec_id
           JOIN af fb ON fa.cell = fb.cell
           JOIN e b ON b.vec_id = fb.vec_id AND a.vec_id < b.vec_id
      WHERE floor((${cosSql("a.embedding", "b.embedding")}) * 1000000 + 0.5)
              / 1000000 >= 0.3)""",
      """ssym AS (SELECT id1 AS src, id2 AS dst FROM spair
      UNION ALL SELECT id2 AS src, id1 AS dst FROM spair)""",
      """sreach(id, comp) AS (
      SELECT id, id FROM (SELECT DISTINCT src AS id FROM ssym) z
      UNION
      SELECT sy.dst, r.comp FROM sreach r JOIN ssym sy ON r.id = sy.src)""",
      """scomp AS MATERIALIZED (SELECT id, min(comp) AS comp FROM sreach
      GROUP BY id)""",
      """sem AS MATERIALIZED (
      SELECT nr.doc_id
      FROM nr
      SEMI JOIN e ON nr.doc_id = e.vec_id
      LEFT JOIN scomp ON nr.doc_id = scomp.id
      WHERE scomp.comp IS NULL OR scomp.comp = nr.doc_id)""",
      """cap AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT sd.source, sem.doc_id, row_number() OVER (
          PARTITION BY sd.source
          ORDER BY ('0x' || substr(md5('dcap:' || sem.doc_id),
                      1, 15))::BIGINT, sem.doc_id) AS rk
        FROM sem JOIN sd USING (doc_id)) z
      WHERE rk <= 100)""",
      """mcnt AS (
      SELECT sd.source, count(*) AS cnt
      FROM cap JOIN sd USING (doc_id) GROUP BY sd.source)""",
      "mmax AS (SELECT MAX(cnt) AS max_cnt FROM mcnt)",
      """mfac AS (
      SELECT source,
             ((max_cnt * 1000000) // cnt) // 1000000 AS epochs,
             ((max_cnt * 1000000) // cnt) % 1000000 AS rem
      FROM mcnt CROSS JOIN mmax)""",
      """meps AS MATERIALIZED (
      SELECT doc_id, source,
             CAST(unnest(range(reps)) AS BIGINT) AS epoch
      FROM (SELECT cap.doc_id, sd.source,
                   epochs + CASE WHEN ('0x' || substr(md5('mix:' ||
                     cap.doc_id), 1, 15))::BIGINT % 1000000 < rem
                     THEN 1 ELSE 0 END AS reps
            FROM cap JOIN sd USING (doc_id)
            JOIN mfac ON sd.source = mfac.source) z)""",
      """pd AS (
      SELECT m.doc_id, m.epoch,
             CAST(len(t.toks) AS BIGINT) AS n_tokens,
             ('0x' || substr(md5('build:' || m.doc_id || ':' || m.epoch),
                1, 15))::BIGINT % 8 AS block
      FROM meps m JOIN t USING (doc_id))""",
      """pw AS (
      SELECT doc_id, epoch, block, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY block
               ORDER BY doc_id, epoch ROWS UNBOUNDED PRECEDING)
               - n_tokens AS BIGINT) AS start_tok
      FROM pd)""")
    "WITH RECURSIVE\n " + parts.mkString(",\n ") + ",\n " +
      """manifest AS (
      SELECT doc_id, epoch, CAST(block AS BIGINT) AS block,
             n_tokens, start_tok,
             CAST(block * 1099511627776 + start_tok // 2048 AS BIGINT)
               AS bin
      FROM pw)"""
  }

  /** q112's final select over [[corpusBuildSql]]'s `manifest` CTE. */
  private def corpusBuildManifestSql: String =
    corpusBuildSql +
      "\n SELECT doc_id, epoch, block, n_tokens, start_tok, bin" +
      " FROM manifest ORDER BY doc_id, epoch"

  /** q113's per-block shard report over the same chain. */
  private def corpusBuildReportSql: String =
    corpusBuildSql +
      """
 SELECT block, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        CAST(count(DISTINCT bin) AS BIGINT) AS n_bins
 FROM manifest GROUP BY block ORDER BY block"""

  /** Unrolled BPE-training oracle chain (q80/q81): q90's word-count
    * relation capped to the trainer's vocab bound, then `n`
    * pair-count → argmax → substitute rounds — the exact
    * [[graft.operators.Bpe.trainOn]] loop replayed relationally.
    *
    * The substitute step needs no recursion: tokens never contain
    * whitespace, so a word's segmentation rides as the string
    * `' s1  s2 ... sk '` (every symbol wrapped in its own spaces), and
    * DuckDB's `replace(ws, ' l  r ', ' lr ')` — left-to-right,
    * non-overlapping, replacement text never rescanned — IS
    * [[graft.operators.BpeKernel.applyMerge]]: each match consumes
    * exactly symbols i,i+1's private regions and scanning resumes at
    * symbol i+2. Pair counts re-split the string per round; the argmax
    * tie-break (count desc, left asc, right asc) and the
    * minPairCount=2 early stop mirror trainOn (once a round's `best`
    * is empty the vocabulary stops changing, so all later rounds are
    * empty too — exactly the driver's `done` flag).
    *
    * The chain's final relation `v{n}` is the trainer's finished
    * vocabulary segmentation, which q81 reads directly: encodeWord
    * reproduces the training segmentation for every word the trainer
    * saw (the min-rank-repeat loop replays the same merges in the same
    * global order — BpeSpec pins this), and at gate SFs the corpus
    * vocabulary is far below the 100k cap so every word is seen. If a
    * corpus ever overflowed the cap, unseen words would drop from the
    * oracle's join and the gate would fail loudly on n_words. */
  private def bpeTrainCtes(n: Int): String = {
    val seed =
      raw"""t AS (SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'),
                           s -> len(s) > 0) AS toks
             FROM documents),
         wc AS (SELECT word, COUNT(*) AS cnt
                FROM (SELECT unnest(toks) AS word FROM t)
                GROUP BY word
                ORDER BY cnt DESC, word
                LIMIT ${graft.operators.Bpe.DefaultVocabCap}),
         v0 AS MATERIALIZED (
           SELECT word, cnt,
                  ' ' || array_to_string(
                    list_transform(range(1, len(word) + 1),
                      i -> substr(word, CAST(i AS INT), 1) ||
                           CASE WHEN i = len(word) THEN '</w>'
                                ELSE '' END),
                    '  ') || ' ' AS ws
           FROM wc)"""
    val rounds = (0 until n).map { k =>
      s"""pc$k AS (
           SELECT syms[CAST(i AS INT) + 1] AS l,
                  syms[CAST(i AS INT) + 2] AS r, SUM(cnt) AS c
           FROM (SELECT cnt, syms, unnest(range(len(syms) - 1)) AS i
                 FROM (SELECT cnt,
                         list_filter(regexp_split_to_array(ws, ' +'),
                                     s -> len(s) > 0) AS syms
                       FROM v$k))
           GROUP BY 1, 2),
         best$k AS (SELECT l, r, c FROM pc$k WHERE c >= 2
                    ORDER BY c DESC, l, r LIMIT 1),
         v${k + 1} AS MATERIALIZED (
           SELECT word, cnt,
                  CASE WHEN b.l IS NULL THEN ws
                       ELSE replace(ws, ' ' || b.l || '  ' || b.r || ' ',
                                        ' ' || b.l || b.r || ' ') END AS ws
           FROM v$k LEFT JOIN best$k b ON TRUE)"""
    }
    val merges = "merges AS (" + (0 until n).map { k =>
      s"""SELECT CAST($k AS INT) AS rank, l AS "left", r AS "right",
                CAST(c AS BIGINT) AS pair_count FROM best$k"""
    }.mkString("\n           UNION ALL ") + ")"
    "WITH\n  " + ((seed +: rounds) :+ merges).mkString(",\n  ")
  }

  /** q80's oracle: the learned merge table from the unrolled chain. */
  private def bpeMergesSql(n: Int): String =
    bpeTrainCtes(n) +
      "\n  SELECT rank, \"left\", \"right\", pair_count FROM merges" +
      " ORDER BY rank"

  /** q81's oracle: per-doc word/subtoken counts read straight off the
    * chain's final vocabulary segmentation `v{n}` (see bpeTrainCtes). */
  private def bpeSubtokensSql(n: Int): String =
    bpeTrainCtes(n) +
      s""",
  c AS (SELECT word,
               len(list_filter(regexp_split_to_array(ws, ' +'),
                               s -> len(s) > 0)) AS n_sub
        FROM v$n),
  occ AS (SELECT doc_id, unnest(toks) AS word FROM t),
  s AS (SELECT doc_id, COUNT(*) AS n_words, SUM(n_sub) AS n_bpe
        FROM occ JOIN c USING (word) GROUP BY doc_id)
  SELECT d.doc_id,
         CAST(COALESCE(s.n_words, 0) AS BIGINT) AS n_words,
         CAST(COALESCE(s.n_bpe, 0) AS BIGINT) AS n_bpe
  FROM documents d LEFT JOIN s USING (doc_id)
  ORDER BY doc_id"""

  /** Shared CTE chain for the fixed-merge BPE oracles (q91/q93): the
    * merge table (Bpe.FixedMerges as a VALUES literal), tokenized docs
    * `t(doc_id, lang, toks)`, and the recursive per-word encode ending
    * in `c(word, n_sub)` — each word seeded as characters with the last
    * carrying '</w>', then repeatedly merging the LEFTMOST occurrence
    * of the lowest-ranked adjacent pair (equivalent to the kernel's
    * all-occurrences-left-to-right pass: a merge can't create a new
    * occurrence of its own pair, so re-scanning from position 1 visits
    * the same occurrences in the same order). Lengths strictly
    * decrease, so each word's final state is its minimum-length row. */
  private def bpeEncodeCtes: String =
    raw"""WITH RECURSIVE
         m(rk, l, r) AS (VALUES
           (0,'j','o'),(1,'jo','i'),(2,'joi','n</w>'),(3,'a','n'),
           (4,'h','a'),(5,'s','h'),(6,'r','o'),(7,'o','w</w>'),
           (8,'ro','w</w>'),(9,'l','o'),(10,'s','lo')),
         t AS (SELECT doc_id, lang,
                 list_filter(regexp_split_to_array(text, '\s+'),
                             s -> len(s) > 0) AS toks
               FROM documents),
         w AS (SELECT DISTINCT unnest(toks) AS word FROM t),
         enc AS (
           SELECT word,
                  list_transform(range(1, len(word) + 1),
                    i -> substr(word, CAST(i AS INT), 1) ||
                         CASE WHEN i = len(word) THEN '</w>' ELSE '' END)
                    AS syms
           FROM w
           UNION ALL
           SELECT e.word,
                  e.syms[:p.pos-1] || [e.syms[p.pos] || e.syms[p.pos+1]]
                    || e.syms[p.pos+2:] AS syms
           FROM enc e, LATERAL (
             SELECT CAST(u.i AS INT) AS pos
             FROM unnest(range(1, len(e.syms))) AS u(i)
             JOIN m ON m.l = e.syms[u.i] AND m.r = e.syms[u.i + 1]
             ORDER BY m.rk, u.i LIMIT 1) p),
         c AS (SELECT word, MIN(len(syms)) AS n_sub FROM enc GROUP BY word)"""

  // Shared CTE chain for the boilerplate-chunk pipeline (q83/q84):
  // whitespace tokens → aligned 10-token windows, 0-based chunk index.
  // DuckDB list slices are 1-based inclusive and clamp at the end, like
  // Spark's slice(toks, i*10+1, 10).
  private def chunkCtes: String =
    raw"""t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         cidx AS (
           SELECT doc_id, toks,
                  unnest(range(CAST(ceil(len(toks) / 10.0) AS BIGINT)))
                    AS idx
           FROM t WHERE len(toks) > 0),
         ch AS (
           SELECT doc_id, idx,
                  array_to_string(toks[idx*10 + 1 : idx*10 + 10], ' ')
                    AS chunk
           FROM cidx)"""

  // Shared CTE chain for the duplicate-span pipeline (q69 spans, q70
  // per-doc stats): tokens → positional 8-gram md5-keys → grams in ≥2
  // distinct docs → duplicated positions → islands. `i` is the
  // (doc_id, pos, grp) island relation; `t` the token relation.
  private def dupSpanCtes: String =
    raw"""t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              s -> len(s) > 0) AS toks
           FROM documents),
         gp AS (
           SELECT doc_id, toks,
                  unnest(range(len(toks) - 7)) AS pos
           FROM t WHERE len(toks) >= 8),
         g AS (
           SELECT doc_id, pos,
                  ('0x' || substr(md5(
                     array_to_string(toks[pos + 1:pos + 8], ' ')),
                     1, 15))::BIGINT AS gram_h
           FROM gp),
         d AS (SELECT gram_h FROM g GROUP BY gram_h
               HAVING min(doc_id) <> max(doc_id)),
         p AS (SELECT doc_id, pos FROM g SEMI JOIN d USING (gram_h)),
         i AS (SELECT doc_id, pos,
                      pos - row_number() OVER (
                        PARTITION BY doc_id ORDER BY pos) AS grp
               FROM p)"""
}
