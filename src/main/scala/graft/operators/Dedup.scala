package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.graft.{Dict, TextExpressions}

/** Deduplication family for the training-data pipeline (north-star
  * extensions, SURVEY §7.2 step 8): exact, near-dup via n-gram Jaccard,
  * MinHash+LSH, and SimHash — all over the `documents` table.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash-aggregate on the fingerprint — a single shuffle whose
  *    keys are 128-bit digests; at 100 TB this is the cheapest pass.
  *  - jaccard pairs: NEVER O(n²). An inverted index (token → doc) turns
  *    pair generation into a self-equi-join on token; intersection sizes
  *    fall out of a groupBy on (id1, id2). Hot tokens are the skew risk —
  *    drop ubiquitous tokens (document-frequency cap) exactly like a real
  *    pipeline drops stopwords from the index.
  *  - minhash/LSH: constant-size signatures (k hashes) replace the token
  *    index; banding turns near-dup search into an equi-join on band keys.
  *    Signature build is embarrassingly parallel; only band keys shuffle.
  *  - simhash: a single 64→32-bit signature per doc; near-dup = small
  *    Hamming distance, found by joining on rotated prefix buckets (here:
  *    exact-signature buckets, the degenerate-but-shuffle-cheap case).
  */
object Dedup {

  /** Document-frequency FLOOR for [[ngramJaccardPairs]]' hot cap —
    * shared with the oracle SQL builder so both sides always agree.
    * Under AUTO resolution this is the small-corpus regime's effective
    * cap (the relative term only overtakes it past
    * [[DefaultMaxDf]]/[[MaxDfFrac]] = 100k documents), so every gated
    * SF is numerically unchanged by AUTO. */
  val DefaultMaxDf = 1000

  /** Fraction of the corpus a shingle may appear in before AUTO maxDf
    * drops it. The sf1 scale run's carried finding (BENCH_SF1.md #4):
    * an ABSOLUTE cap is not scale-stable — the df of ordinary
    * boilerplate shingles grows linearly with corpus size, so a cap
    * that never fires at sf1 silently rewrites Jaccard semantics
    * (mass stopword removal) somewhere between sf10 and sf100 on the
    * SAME distribution. A relative cap drops "shingles in > 1% of
    * documents" at every scale — the scale-invariant reading of the
    * stopword analogy. Candidate-mass COST at the relative cap is the
    * dispatch's job, not the cap's: [[prefixPathPays]] prices the
    * actual capped df distribution per corpus and picks the prefix
    * path when hot-but-under-cap shingles make the counting join's
    * pair mass explode. */
  val MaxDfFrac = 0.01

  /** Sentinel for `maxDf` parameters: resolve per corpus via
    * [[resolveMaxDf]]. */
  val AutoMaxDf = -1

  /** AUTO maxDf: the relative cap with the absolute floor —
    * max([[DefaultMaxDf]], ⌈[[MaxDfFrac]] · nDocs⌉). Explicit caps pass
    * through untouched. */
  def resolveMaxDf(maxDf: Int, nDocs: => Long): Int =
    if (maxDf != AutoMaxDf) maxDf
    else math.min(Int.MaxValue.toLong, math.max(DefaultMaxDf.toLong,
      math.ceil(MaxDfFrac * nDocs).toLong)).toInt

  /** Ceiling on the estimated bytes of the hashed-shingle carrier the
    * prefix path will broadcast into its verify joins (both sides of a
    * corpus-sized relation — priced conservatively against executor
    * memory, same measured-guard discipline as
    * [[MaxBroadcastShingles]]). */
  val MaxVerifyBroadcastBytes = 256L << 20

  /** Exact dedup: canonical fingerprint → keeper id + duplicate count.
    * Only groups with at least one row are emitted (every doc belongs to
    * exactly one group; singletons included so the output is a full
    * dedup-decision table). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dupes"))
      .orderBy("keep_id")

  /** Distinct (doc_id, shingle) inverted-index relation. 3-gram shingles,
    * not unigrams: with a small vocabulary every doc shares every token,
    * so a unigram index degenerates into a near-cross-product; shingles
    * keep the index selective (measured ~1.6 docs/shingle vs ~all
    * docs/token on the test corpus — the difference between a 4M-row and
    * a 400M-row join at sf0.1). */
  private def shingleIndex(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(TextExpressions.shingleSet(col("text"), k)).as("token"))

  /** Inverted shingle index on 60-bit HASH identity — the form every
    * similarity-join stage consumes (df aggregation, hot cap, equi-join
    * keys, overlap counts): exchanges carry 8 B longs, never shingle
    * strings, and the counts are invariant under the injective hash
    * (see [[org.apache.spark.sql.graft.ShingleHashSet]]). */
  private def shingleHashIndex(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(TextExpressions.shingleHashSet(col("text"), k)).as("h"))

  /** Near-dup pairs by exact 3-gram-shingle-set Jaccard ≥ `threshold`,
    * generated via inverted-index self-join (no cross product). Output:
    * (id1, id2, jaccard) with id1 < id2.
    *
    * `maxDf` is the hot-shingle guard: shingles present in more than
    * `maxDf` documents are dropped from the shingle universe (index AND
    * set sizes — i.e. Jaccard is computed over the capped universe,
    * exactly like stopword removal). Without it, one ubiquitous shingle
    * (boilerplate headers, licence text — guaranteed at 100 TB) re-creates
    * the O(n²) join this operator exists to avoid. The hot set is tiny by
    * construction (few shingles can exceed maxDf docs), so the drop is a
    * broadcast anti-join — no extra shuffle on the index.
    *
    * The DEFAULT cap is corpus-relative ([[AutoMaxDf]] →
    * [[resolveMaxDf]]): max([[DefaultMaxDf]], ⌈1% of documents⌉) — see
    * [[MaxDfFrac]] for why an absolute cap is not scale-stable. */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.1, shingleK: Int = 3,
      maxDf: Int = AutoMaxDf): DataFrame =
    ngramJaccardPairsOn(Tables.documents(spark, dir), threshold, shingleK,
      maxDf)

  /** Threshold below which [[ngramJaccardPairsOn]] never considers the
    * prefix-index join: the prefix keeps each doc's first
    * n − ⌈t·n⌉ + 1 sorted shingles, so at low t it covers ~the whole
    * set — the extra stages (order join, per-doc sort, verify joins)
    * cannot pay for themselves regardless of the corpus. Measured at
    * sf0.1 (DuckDB probe): candidate rows counting→prefix are
    * 1.26M→1.04M at t=0.1 but 0.66M→0.11M at t=0.7.
    *
    * ABOVE this threshold the choice is NOT threshold-driven — it is
    * skew-driven, and [[ngramJaccardPairsOn]] measures it per corpus
    * (see [[prefixPathPays]]): the sf1 scale run showed the counting
    * join 2–6× faster than the prefix path at EVERY threshold on a
    * df-flat corpus (max df ≈ 25·sf — no hot shingles, so candidate
    * generation was never the bottleneck the prefix machinery
    * amortizes against). */
  val PrefixPathThreshold = 0.3

  /** Candidate-pair rows the counting join may emit per inverted-index
    * row before the prefix path's extra corpus-sized stages (global
    * order join, per-doc sort, two verify joins) pay for themselves.
    * Calibrated from the sf1 run (BENCH_SF1.md): at ratio ≈ 0.5 the
    * counting join won 2–6×, and the prefix overhead is ~4 extra
    * stages over the same index — so the pair mass must exceed the
    * index size by roughly an order of magnitude before pruning wins. */
  val CountingPairRowsPerIndexRow = 8.0

  /** TRUE when the capped shingle-df distribution is hot enough that
    * the counting join's candidate mass — exactly Σ df·(df−1)/2 pair
    * rows through its groupBy — exceeds
    * [[CountingPairRowsPerIndexRow]] × the index size (Σ df). Pure
    * arithmetic so the dispatch rule is unit-testable against flat and
    * Zipfian distributions without a corpus. */
  def prefixPathPays(sumDf: Long, sumDf2: Long): Boolean =
    (sumDf2 - sumDf) / 2.0 > CountingPairRowsPerIndexRow * sumDf

  /** [[ngramJaccardPairs]] over an explicit `documents` relation
    * (doc_id, text). Exact at every threshold; the PLAN is adaptive on
    * TWO measured axes: below [[PrefixPathThreshold]] the inverted-index
    * counting join always runs ([[ngramJaccardPairsCounting]] — the
    * prefix would cover ~the whole set); at or above it a per-corpus
    * skew probe (one narrow aggregation over the hashed shingle index —
    * the same df relation either chosen path builds as its first stage)
    * prices the counting join's candidate mass and picks the PPJoin
    * prefix-index join ([[ngramJaccardPairsPrefix]]) only when hot
    * shingles make that mass explode ([[prefixPathPays]]). Both paths
    * produce identical results; both cutoffs are measured, not guessed
    * (sf0.1 candidate probe + the sf1 scale run, see BENCH_SF1.md). */
  def ngramJaccardPairsOn(docs: DataFrame, threshold: Double = 0.1,
      shingleK: Int = 3, maxDf: Int = AutoMaxDf): DataFrame = {
    // AUTO cap resolves against the corpus size — a metadata-cheap count
    // on a source table; callers handing in an expensive mid-pipeline
    // relation pass an explicit cap (or cache) to skip the extra action
    val cap = resolveMaxDf(maxDf, docs.count())
    if (threshold < PrefixPathThreshold)
      ngramJaccardPairsCounting(docs, threshold, shingleK, cap)
    else {
      val st = shingleHashIndex(docs, shingleK)
        .groupBy("h").agg(count(lit(1)).as("df"))
        .where(col("df") <= cap)
        .agg(coalesce(sum("df"), lit(0L)).as("s1"),
          coalesce(sum(col("df") * col("df")), lit(0L)).as("s2"))
        .head
      if (prefixPathPays(st.getLong(0), st.getLong(1)))
        ngramJaccardPairsPrefix(docs, threshold, shingleK, cap)
      else ngramJaccardPairsCounting(docs, threshold, shingleK, cap)
    }
  }

  /** Counting-join path: inverted shingle index self-join with the
    * PPJoin size-ratio prefilter (Xiao et al., WWW'08) evaluated INSIDE
    * the join — Jaccard(A,B) ≤ |smaller|/|larger|, so a pair whose
    * capped set sizes violate `min ≥ threshold·max` is dropped before
    * the candidate-pair groupBy, the superlinear stage at corpus scale.
    * The filter is exact: every dropped pair provably fails the final
    * predicate. Intersections are counted by the groupBy itself, so no
    * verify stage exists — the right shape when the prefix would cover
    * most of every set (low thresholds). */
  def ngramJaccardPairsCounting(docs0: DataFrame, threshold: Double,
      shingleK: Int, maxDf: Int): DataFrame = {
    // the shingle passes below are the expensive map work — spread a
    // single-split scan so they use every core (no-op at scale)
    val docs = ScanPar.spread(docs0)
    // df-cap side: one hashed-shingle pass feeding the hot aggregation
    // only (single consumer — no cache), collected to a 1-row broadcast
    // of 8 B keys. The hot set is tiny by construction: few shingles
    // can exceed maxDf distinct documents.
    val hotArr = shingleHashIndex(docs, shingleK)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)
      .agg(collect_list("h").as("hot_toks"))
    // the carrier: one row per doc with its CAPPED hashed shingle array
    // and its size — a second (final) shingle pass. Cached: it feeds
    // both sides of the self-join below, which would otherwise re-scan
    // and re-shingle the corpus per side (the dominant cost). Hash
    // identity end-to-end: the self-join keys, the size-ratio filter,
    // and the intersection count below never touch a string.
    val capped = graft.Caches.register(docs.crossJoin(broadcast(hotArr))
      .select(col("doc_id"),
        array_except(TextExpressions.shingleHashSet(col("text"), shingleK),
          col("hot_toks")).as("toks"))
      .cache())
    // the inverted index derives map-side from the cached carrier and
    // carries n_tok on every row (+8 B per index row) so the size-ratio
    // filter can run inside the join and the pair sizes ride the groupBy
    // instead of two corpus-sized joins afterwards
    val idx = capped.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tok"),
      explode(col("toks")).as("token"))
    val a = idx.as("a"); val b = idx.as("b")
    // margin 5e-5: the FINAL predicate tests round(jaccard, 4), which a
    // raw J as low as threshold − 0.00005 still satisfies — prefiltering
    // at the raw threshold would drop pairs the (round-tested) oracle
    // keeps. J ≤ min/max, so min ≥ (t − 5e-5)·max retains every pair
    // that can possibly round up to t.
    val tMargin = threshold - 0.00005
    a.join(b,
        col("a.token") === col("b.token") &&
          col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n_tok"), col("b.n_tok")) >=
            lit(tMargin) * greatest(col("a.n_tok"), col("b.n_tok")))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"),
        // n_tok is functionally determined by the doc id — max = the value
        max(col("a.n_tok")).as("n1"), max(col("b.n_tok")).as("n2"))
      .withColumn("jaccard",
        roundStable(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"), 4))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
      .orderBy("id1", "id2")
  }

  /** Expected CDC segment length in tokens (the boundary modulus). */
  val CdcModulus = 16

  /** q98: content-defined chunking — the token stream split at
    * content-derived boundaries (after every token whose md5-60 is
    * ≡ 0 mod `p`), one row per segment with its size and md5-60
    * identity. Public recipe: Rabin-fingerprint CDC (LBFS,
    * Muthitacharoen et al. SOSP'01; ubiquitous in dedup storage and
    * shift-tolerant corpus dedup). The point vs the q83 fixed
    * 10-token windows: boundaries depend only on LOCAL content, so an
    * edit or insertion changes at most the segment it touches —
    * fixed windows re-align EVERYWHERE downstream of an insertion and
    * lose every subsequent match (spec-demonstrated).
    *
    * Scale shape: map-only — the native [[
    * org.apache.spark.sql.graft.CdcSegments]] kernel tokenizes once
    * and hashes token regions (one hash per token for the boundary
    * rule, one per segment for identity); the only exchange is the
    * output sort. Segment rows are (8 B + 8 B) per ~p tokens. */
  def cdcSegments(spark: SparkSession, dir: String,
      p: Int = CdcModulus): DataFrame =
    cdcSegmentsOn(Tables.documents(spark, dir), p)

  /** The unordered CDC segment relation (map-only, no sort) — shared
    * by the gated view, the dup aggregation, and the streaming sink. */
  private[graft] def cdcSegmentRelation(docs: DataFrame, p: Int): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(TextExpressions.cdcSegments(col("text"), p))
          .as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
        col("seg.n_tokens").as("n_tokens"), col("seg.seg_h").as("seg_h"))

  /** [[cdcSegments]] over an explicit (doc_id, text) relation. */
  def cdcSegmentsOn(docs: DataFrame, p: Int = CdcModulus): DataFrame =
    cdcSegmentRelation(docs, p).orderBy("doc_id", "seg_idx")

  /** q99: cross-document duplicated CDC segments — the segment-level
    * dup dictionary (the q84 audit view on shift-tolerant boundaries):
    * segments appearing in ≥ 2 documents, with occurrence and document
    * counts. ONE hash-aggregation on 8 B segment identities (the
    * countDistinct expands to the standard two-level agg); text never
    * shuffles. */
  def cdcDupSegments(spark: SparkSession, dir: String,
      p: Int = CdcModulus): DataFrame =
    cdcSegmentRelation(Tables.documents(spark, dir), p)
      .groupBy("seg_h")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select("seg_h", "n_occ", "n_docs")
      .orderBy("seg_h")

  /** Ceiling on DUPLICATED-segment dictionary entries [[cdcDedup]] will
    * collect and ship ([[MaxBoilerplateDict]]'s contract: ~32 B per
    * entry, so the default is a few hundred MB of executor footprint). */
  val MaxCdcDict = 8000000

  /** q100: CDC first-occurrence dedup — the exact-substring dedup
    * POLICY (keep the globally first occurrence, drop every later one;
    * Lee et al. 2022's substring-dedup semantics) applied at q98's
    * shift-tolerant segment granularity. Unlike q83's boilerplate pass
    * (which drops ALL occurrences of high-df chunks), this keeps one
    * canonical copy of every duplicated segment, so no content is
    * lost — only repetition.
    *
    * Scale shape: the dictionary holds only DUPLICATED segment hashes
    * (bounded by real duplication mass, not corpus size) with their
    * packed canonical occurrence `doc_id·10⁶ + seg_idx`; it ships
    * inside a map-side kernel ([[
    * org.apache.spark.sql.graft.CdcFirstOccurrenceText]]) that walks
    * segments once, binary-searches each hash, and reassembles kept
    * token regions — document text NEVER shuffles (the q83 kernel
    * discipline); the only exchanges carry 8 B hashes (dictionary
    * build) and the output sort. An over-cap dictionary fails LOUDLY
    * with direction (dedup boilerplate first / raise the cap) rather
    * than silently shuffling the corpus body. Packing contract:
    * doc_id < 2⁶³/10⁶ ≈ 9·10¹², seg_idx < 10⁶ (kernel-enforced). */
  def cdcDedup(spark: SparkSession, dir: String,
      p: Int = CdcModulus): DataFrame =
    cdcDedupOn(Tables.documents(spark, dir), p, MaxCdcDict)

  /** [[cdcDedup]] with the cap injectable for specs. */
  private[operators] def cdcDedupOn(docs: DataFrame, p: Int,
      maxDict: Int): DataFrame = {
    val dict = Dict.sortedPairs(cdcSegmentRelation(docs, p)
      .groupBy("seg_h")
      .agg(min(col("doc_id") * lit(1000000L) + col("seg_idx"))
        .as("canon"), count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2)
      .select("seg_h", "canon")
      .limit(maxDict + 1))
    require(dict.size <= maxDict,
      s"cdcDedup: more than $maxDict duplicated segments — run " +
        "boilerplate/chunk dedup first (q83) or raise MaxCdcDict " +
        "with the executor memory to back it")
    val res = TextExpressions.cdcFirstOccurrenceText(
      col("text"), col("doc_id"), p, dict)
    docs
      .select(col("doc_id"), res.as("r"))
      .select(col("doc_id"), col("r.clean_text").as("clean_text"),
        col("r.n_dropped").as("n_dropped"))
      .orderBy("doc_id")
  }

  /** Ceiling on CDC-candidate pairs [[lcsPairs]] will ship both texts
    * for — the audit-view guard family (q102's rule): pair generation
    * over shared duplicated segments is the one quadratic-output
    * object here, so it fails loudly with direction instead of
    * silently shuffling text for an unbounded pair set. */
  val MaxLcsPairs = 2000000L

  /** q126: EXACT longest-common-token-substring audit — the upgrade
    * path past both substring-dedup approximations (round-10 verdict
    * #7): q69 sees only fixed 8-token grams, q98–q100 only whole CDC
    * segments; this reports, for every document pair sharing at least
    * one duplicated CDC segment, the TRUE longest duplicated token
    * run (suffix-automaton kernel, [[
    * org.apache.spark.sql.graft.LcsKernel]]) — exact even when the
    * run crosses every CDC boundary (spec-pinned against brute-force
    * DP on random corpora; Lee et al. 2022's substring-dedup
    * semantics at pair granularity).
    *
    * Candidate contract: pairs must share a COMPLETE duplicated
    * segment (the q99 dictionary — shift-tolerant, recall bounded by
    * the CDC granularity exactly like q100's dedup policy); within a
    * candidate pair the reported length is exact, and `minLen` cuts
    * the audit to runs worth acting on. DEFAULT pairing is CANONICAL:
    * each later occurrence pairs with the segment's FIRST owner
    * (min doc_id — the q100 first-occurrence policy in pair form, and
    * exactly the pair a dedup action needs: later-vs-canonical).
    * `allPairs = true` gives the full clique audit — but that output
    * is QUADRATIC in clone-group size: the sf1 scale run measured
    * 3.47M all-pairs vs 18.4k canonical pairs on the clone-heavy 10×
    * corpus (189×), so the clique form lives behind the same loud
    * guard and the canonical form is the scale path.
    *
    * Scale shape: candidates come from the 8 B seg-hash dictionary
    * (bounded by real duplication mass); canonical pairing is LINEAR
    * in duplicated-segment occurrences (one keyed join against the
    * min-owner relation — no self-join); document text shuffles ONLY
    * for candidate pairs, behind the loud [[MaxLcsPairs]] guard
    * (`limit(cap+1).count()` — early-terminating, never a full
    * count of a blown-up pair set); the kernel is O(|a|+|b|) time and
    * O(|a|) memory per pair with no corpus-wide suffix structure —
    * block-local exactness at bounded executor memory. */
  def lcsPairs(spark: SparkSession, dir: String, minLen: Int = 4,
      p: Int = CdcModulus): DataFrame =
    lcsPairsOn(Tables.documents(spark, dir), minLen, p, MaxLcsPairs)

  /** [[lcsPairs]] with the cap and pairing mode injectable. */
  private[operators] def lcsPairsOn(docs: DataFrame, minLen: Int,
      p: Int, maxPairs: Long, allPairs: Boolean = false): DataFrame = {
    require(minLen >= 1, "minLen must be >= 1")
    val sd = cdcSegmentRelation(docs, p)
      .select("seg_h", "doc_id").distinct()
    val canon = sd.groupBy("seg_h")
      .agg(min("doc_id").as("c"), count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("seg_h", "c")
    val pairs0 =
      if (allPairs) {
        // clique audit: read twice by the self-join — cache the carrier
        val cand = graft.Caches.register(
          sd.join(canon.select("seg_h"), "seg_h").cache())
        cand.as("a").join(cand.as("b"),
            col("a.seg_h") === col("b.seg_h") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      } else
        sd.join(canon, "seg_h").where(col("doc_id") > col("c"))
          .select(col("c").as("id1"), col("doc_id").as("id2"))
    val pairs = graft.Caches.register(pairs0.distinct().cache())
    // the guard materializes maxPairs+1 as a limit(), so a cap raised
    // past Int range would wrap negative in .toInt — fail loudly instead
    require(maxPairs < Int.MaxValue,
      s"lcsPairs: maxPairs=$maxPairs must stay below Int.MaxValue " +
        s"(${Int.MaxValue}) — the early-terminating guard is an Int limit")
    val nPairs = pairs.limit((maxPairs + 1).toInt).count()
    require(nPairs <= maxPairs,
      s"lcsPairs: more than $maxPairs candidate pairs share duplicated " +
        "CDC segments — dedup boilerplate first (q83/q100) or raise " +
        "MaxLcsPairs with the cluster memory to back the text shuffle")
    pairs
      .join(docs.select(col("doc_id").as("id1"), col("text").as("t1")),
        "id1")
      .join(docs.select(col("doc_id").as("id2"), col("text").as("t2")),
        "id2")
      .select(col("id1"), col("id2"),
        TextExpressions.lcsTokens(col("t1"), col("t2")).as("lcs_tokens"))
      .where(col("lcs_tokens") >= minLen)
      .orderBy("id1", "id2")
  }

  /** q95: DIRECTED shingle-set containment pairs — the asymmetric
    * near-dup case symmetric Jaccard structurally misses: a short
    * document quoted wholesale inside a much longer one has
    * J = |A|/|B| ≈ 0 but containment C(A→B) = |A∩B|/|A| ≈ 1. Public
    * recipe: Jaccard containment from the shingling literature (Broder
    * 1997 §3 defines both resemblance and containment over shingle
    * sets); training-data pipelines use it to catch partial copies —
    * quotations, article-in-digest, template-plus-payload — that the
    * q22 family's resemblance threshold lets through.
    *
    * Output: (src_id, dst_id, containment) with src ≠ dst, one row per
    * DIRECTION whose capped-universe containment rounds to ≥
    * `threshold` — a near-exact copy pair emits both directions, a
    * strict subset emits one.
    *
    * Scale shape: the q22 counting-join skeleton on 60-bit hashed
    * shingle identity (8 B exchange keys, strings never leave the
    * scan) with the same corpus-relative hot-df cap — but NO size-ratio
    * prefilter: containment is exactly the predicate a size-ratio
    * bound cannot prune (the smaller side can always be contained,
    * whatever the ratio), so the candidate mass is the full capped
    * Σdf·(df−1)/2 and the df cap is the ONLY defense against hot
    * shingles — at 100 TB run this at the same relative cap as q22.
    * Both directions fall out of ONE a<b join + groupBy (the pair's
    * intersection is computed once; the two directed scores are a
    * map-side explode of the aggregated row). */
  def containmentPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.8, shingleK: Int = 3,
      maxDf: Int = AutoMaxDf): DataFrame =
    containmentPairsOn(Tables.documents(spark, dir), threshold, shingleK,
      maxDf)

  /** Distinct-shingle-df cap for shipping the (shingle, df) dictionary
    * inside [[org.apache.spark.sql.graft.ContainmentPrefixGrams]] —
    * the fuzzy-join MaxBroadcastGrams discipline (two aligned long
    * arrays, 32 MB at the cap). Above it the containment join keeps
    * the full counting-join arm. */
  val MaxBroadcastShingleDfs = 2000000L

  /** [[containmentPairs]] over an explicit `documents` relation. */
  def containmentPairsOn(docs0: DataFrame, threshold: Double = 0.8,
      shingleK: Int = 3, maxDf: Int = AutoMaxDf,
      maxBroadcastShingleDfs: Long = MaxBroadcastShingleDfs): DataFrame = {
    val cap = resolveMaxDf(maxDf, docs0.count())
    // shingle map work below must not serialize behind one scan split
    val docs = ScanPar.spread(docs0)
    // ONE df aggregation serves the hot cap, the prefix order, and the
    // dictionary-size gate (vocab-sized, cached for its three readers)
    val dfRel = graft.Caches.register(
      shingleHashIndex(docs, shingleK)
        .groupBy("h").agg(count(lit(1)).as("df"))
        .cache())
    val hotArr = dfRel.where(col("df") > cap)
      .agg(collect_list("h").as("hot_toks"))
    // capped hashed carrier, cached for the self-join (the q22 shape);
    // VALUE-sorted so the verify arm's merge kernel reads it directly
    // (array_except preserves no useful order anyway)
    val capped = graft.Caches.register(docs.crossJoin(broadcast(hotArr))
      .select(col("doc_id"),
        array_sort(array_except(
          TextExpressions.shingleHashSet(col("text"), shingleK),
          col("hot_toks"))).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .cache())
    // margin 5e-5: the final predicate tests roundStable(·, 4) ≥ t, so
    // a raw containment as low as t − 0.00005 still qualifies — prune
    // at the margin or the (round-tested) oracle keeps pairs we drop
    val tMargin = threshold - 0.00005
    val kept = dfRel.where(col("df") <= cap)
    val nKept = kept.count()
    val pairs =
      if (nKept <= maxBroadcastShingleDfs) {
        // PREFIX arm (PPJoin for a directed-overlap threshold): a pair
        // with containment ≥ t in either direction owes its smaller-
        // ratio side ≥ ⌈tMargin·n⌉ shared shingles, which cannot all
        // sit in that side's last ⌈tMargin·n⌉ − 1 positions of the
        // global (df, h) rarity order — so one lands in its
        // n − ⌈tMargin·n⌉ + 1 rarest. Join PREFIX × FULL index (both
        // exploded map-side from the cached carrier; hot shingles are
        // absent from the dictionary and skipped by selection), then
        // verify candidates EXACTLY against the carrier's sorted sets.
        // The quadratic term drops from Σ df² to Σ pdf·df — at t=0.8
        // the prefix is ~a fifth of each doc — while the verify joins
        // ride the q73 measured-broadcast guard.
        val dfs = Dict.sortedPairs(kept) // bounded by the cap just measured
        val tPpm = math.max(1L, (tMargin * 1000000L).toLong - 1)
        val pfx = capped.select(col("doc_id").as("pid"),
          explode(TextExpressions.containmentPrefixGrams(
            col("toks"), tPpm, dfs)).as("token"))
        val full = capped.select(col("doc_id").as("fid"),
          explode(col("toks")).as("token"))
        val cand = pfx.join(full,
            pfx("token") === full("token") && col("pid") =!= col("fid"))
          .select(least(col("pid"), col("fid")).as("id1"),
            greatest(col("pid"), col("fid")).as("id2"))
          .distinct()
        val st = capped.agg(count(lit(1)).as("docs"),
          coalesce(sum("n_tok"), lit(0L)).as("toks")).head
        val carrierBytes = st.getLong(1) * 8L + st.getLong(0) * 32L
        def verifySide(df: DataFrame): DataFrame =
          if (carrierBytes <= MaxVerifyBroadcastBytes) broadcast(df) else df
        val ca = verifySide(capped.select(col("doc_id").as("id1"),
          col("toks").as("toks1"), col("n_tok").as("n1")))
        val cb = verifySide(capped.select(col("doc_id").as("id2"),
          col("toks").as("toks2"), col("n_tok").as("n2")))
        cand.join(ca, Seq("id1")).join(cb, Seq("id2"))
          .withColumn("inter", TextExpressions
            .sortedIntersectCount(col("toks1"), col("toks2")))
          .where(col("inter") >= 1L)
          .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"))
      } else {
        // counting-join arm (dictionary too big to ship): the full
        // inverted-index self-join computes inter directly
        val idx = capped.select(col("doc_id"), col("n_tok"),
          explode(col("toks")).as("token"))
        val a = idx.as("a"); val b = idx.as("b")
        a.join(b,
            col("a.token") === col("b.token") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
          .agg(count(lit(1)).as("inter"),
            max(col("a.n_tok")).as("n1"), max(col("b.n_tok")).as("n2"))
      }
    // one row per undirected pair → up to two directed rows
    pairs
      .select(explode(array(
        struct(col("id1").as("src_id"), col("id2").as("dst_id"),
          roundStable(col("inter").cast("double") / col("n1").cast("double"),
            4).as("containment")),
        struct(col("id2").as("src_id"), col("id1").as("dst_id"),
          roundStable(col("inter").cast("double") / col("n2").cast("double"),
            4).as("containment")))).as("e"))
      .select(col("e.src_id"), col("e.dst_id"), col("e.containment"))
      .where(col("containment") >= threshold)
      .orderBy("src_id", "dst_id")
  }

  /** Prefix-index path — true prefix-filtered set-similarity join
    * (PPJoin candidate generation, Xiao et al. WWW'08 §3, distributed as
    * the 3-stage MapReduce shape of Vernica et al. SIGMOD'10 — both
    * public literature):
    *
    *  1. SORTED CARRIER: each doc's capped shingle set ordered by the
    *     global canonical token order (df asc, hash then token tiebreak)
    *     — rarest shingles first. The df aggregation doubles as the
    *     hot-token cap (df > maxDf dropped — Jaccard stays defined over
    *     the capped universe, like stopword removal).
    *  2. PREFIX INDEX + CANDIDATES: only each doc's first
    *     n − ⌈t·n⌉ + 1 sorted shingles are indexed. Any pair with
    *     J ≥ t intersects in ≥ ⌈t·n⌉ elements, so the globally smallest
    *     common shingle provably lands in BOTH prefixes — equi-joining
    *     prefixes loses no qualifying pair. The payoff is where the
    *     quadratic mass lives: a shingle shared by d docs yields d²/2
    *     candidate rows, and the df-asc order pushes precisely the
    *     high-df shingles out of the prefixes. The PPJoin size-ratio
    *     filter (min ≥ t·max, exact) still runs inside the join.
    *  3. VERIFY: candidate pairs (id keys only) join back to the cached
    *     carrier — partitioned by doc_id, so only the narrow pair side
    *     re-shuffles — and `array_intersect` over the two full sets
    *     computes the EXACT Jaccard. No approximation anywhere: the
    *     prefix only prunes, the verdict is the set arithmetic.
    */
  def ngramJaccardPairsPrefix(docs0: DataFrame, threshold: Double,
      shingleK: Int, maxDf: Int): DataFrame = {
    // shingle map work below must not serialize behind one scan split
    val docs = ScanPar.spread(docs0)
    // margin 5e-5: the FINAL predicate tests round(jaccard, 4), which a
    // raw J as low as threshold − 0.00005 still satisfies — pruning
    // (prefix length AND size-ratio) at the raw threshold would drop
    // pairs the (round-tested) oracle keeps.
    val tMargin = threshold - 0.00005
    // HASH-FIRST index: every downstream stage (df aggregation, order
    // join, prefix self-join, verify) needs shingle IDENTITY only, so
    // the string leaves the plan at the scan — all exchanges and sorts
    // in this operator run on 8 B longs (the sf1 scale run measured the
    // string-keyed carrier build at 2× the whole counting join). Same
    // 60-bit identity-hash argument as the carried sets below.
    val idx0 = shingleHashIndex(docs, shingleK)
    // df per shingle hash: ONE aggregation serves both the hot cap
    // (df > maxDf ⇒ dropped from the universe) and the canonical global
    // order. shingleSet is per-doc distinct, so count = df.
    val dfs = idx0.groupBy("h").agg(count(lit(1)).as("df"))
    // the carrier: one row per doc, its capped shingle set SORTED by
    // (df, hash, token) — struct sort_array gives the lexicographic
    // order map-side after the per-doc collect. Cached and partitioned
    // by doc_id (the groupBy), so both verify joins below leave it in
    // place. Exchanges here carry (doc_id, df, token) — never the text.
    //
    // The carried set is the 60-bit md5 HASH of each shingle, not the
    // string: candidate keys and the verify intersection only need
    // identity, and an 8 B long per shingle instead of a ~20 B string
    // is the difference between the verify stage shuffling kilobyte
    // array rows per candidate pair and shuffling ~400 B ones (the
    // sf1 scale run measured the string-array verify at 5× the
    // counting join's whole cost). Same identity-hash argument as the
    // q69 gram keys: both docs of a pair hash identically, so a
    // collision merges the same identities everywhere (60-bit space,
    // ~1e-6 corpus-level collision odds).
    val carrier = graft.Caches.register(idx0
      .join(dfs.where(col("df") <= maxDf), Seq("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h"))))
        .as("sorted"))
      .select(col("doc_id"),
        transform(col("sorted"), s => s.getField("h")).as("toks"),
        size(col("sorted")).cast("long").as("n_tok"))
      .cache())
    // prefix index: map-side slice of the sorted carrier. p = n − o + 1
    // with o = ⌈t·n⌉ the minimum intersection a qualifying pair owes
    // this doc; if none of the first p sorted shingles were shared, the
    // ≥ o shared ones would all sit in the last o − 1 positions.
    val pfx = carrier.select(col("doc_id"), col("n_tok"),
      explode(slice(col("toks"), lit(1),
        greatest(lit(1), (col("n_tok") -
          ceil(lit(tMargin) * col("n_tok")) + 1).cast("int")))).as("token"))
    val a = pfx.as("a"); val b = pfx.as("b")
    val cand = a.join(b,
        col("a.token") === col("b.token") &&
          col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n_tok"), col("b.n_tok")) >=
            lit(tMargin) * greatest(col("a.n_tok"), col("b.n_tok")))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_pfx_shared"))
      .select("id1", "id2")
    // verify from the full sorted sets: exact intersection, exact sizes.
    // The candidate relation is the BIG side here (pairs ≫ docs), so
    // when the measured carrier size fits the broadcast budget the two
    // verify joins go map-side — candidates never shuffle at all. The
    // estimate prices exactly what ships: 8 B per carried hash plus
    // per-row overhead. Above the budget (a corpus whose hash arrays
    // outgrow executor memory) the joins fall back to shuffles that
    // carry the narrow hash arrays.
    val st = carrier.agg(count(lit(1)).as("docs"),
      coalesce(sum("n_tok"), lit(0L)).as("toks")).head
    val carrierBytes = st.getLong(1) * 8L + st.getLong(0) * 32L
    val bcast = carrierBytes <= MaxVerifyBroadcastBytes
    def verifySide(df: DataFrame): DataFrame =
      if (bcast) broadcast(df) else df
    // re-sort by VALUE (the carrier's order is (df, h) — prefix
    // semantics): the native merge kernel counts the intersection in
    // one allocation-free pass over two value-sorted long arrays, per
    // candidate pair. The sort runs once per DOC on the small carrier
    // side, not once per pair.
    val ca = verifySide(carrier.select(col("doc_id").as("id1"),
      sort_array(col("toks")).as("toks1"), col("n_tok").as("n1")))
    val cb = verifySide(carrier.select(col("doc_id").as("id2"),
      sort_array(col("toks")).as("toks2"), col("n_tok").as("n2")))
    cand.join(ca, Seq("id1")).join(cb, Seq("id2"))
      .withColumn("inter",
        TextExpressions.sortedIntersectCount(col("toks1"), col("toks2")))
      .withColumn("jaccard",
        roundStable(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"), 4))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
      .orderBy("id1", "id2")
  }

  /** Ceiling on DISTINCT benchmark shingles [[decontaminateAgainst]] will
    * broadcast. An eval suite is thousands of documents — a few hundred
    * thousand shingles, kilobytes-to-megabytes broadcast. Anything bigger
    * is not an eval suite, and at 100 TB an unguarded broadcast of it is
    * a silent driver OOM; above the cap the join falls back to a shuffled
    * hash join with a loud warning. */
  val MaxBroadcastShingles = 2000000L

  /** Decontamination against an EXTERNAL benchmark/eval relation — the
    * standard pre-training hygiene pass (eval answers leaking into
    * training data). Flags corpus documents sharing at least `minShared`
    * distinct k-gram shingles with ANY benchmark document.
    *
    * `corpus` needs (doc_id, text); `benchmark` needs (text) — any other
    * columns are ignored, so eval-suite tables plug in directly.
    *
    * Scale shape: the benchmark's distinct shingle set BROADCASTS into
    * the corpus shingle index — the corpus never shuffles on content; the
    * only corpus-sized exchange is the per-doc overlap count on doc_id.
    * The broadcast is GUARDED by measurement (not assumption): the
    * distinct-shingle count is computed first (the set is cached, so the
    * count pre-materializes exactly what the join consumes), and above
    * `maxBroadcastShingles` the plan degrades to a shuffled hash join —
    * slower, but incapable of killing the driver. Output:
    * (doc_id, n_shared). */
  def decontaminateAgainst(corpus: DataFrame, benchmark: DataFrame,
      shingleK: Int = 3, minShared: Int = 1,
      maxBroadcastShingles: Long = MaxBroadcastShingles): DataFrame = {
    val benchShingles = graft.Caches.register(
      benchmark
        .select(explode(
          TextExpressions.shingleHashSet(col("text"), shingleK)).as("token"))
        .distinct()
        .cache())
    val nShingles = benchShingles.count()
    val benchSide =
      if (nShingles <= maxBroadcastShingles) broadcast(benchShingles)
      else {
        System.err.println(
          s"[graft] decontaminate: benchmark side has $nShingles distinct " +
            s"shingles (> cap $maxBroadcastShingles) — this is not an " +
            "eval-suite-sized relation; falling back to a shuffled join " +
            "instead of broadcasting (driver-OOM guard)")
        // shuffled HASH join (not merge): the corpus side never sorts
        benchShingles.hint("shuffle_hash")
      }
    corpus
      .select(col("doc_id"),
        explode(TextExpressions.shingleHashSet(col("text"), shingleK))
          .as("token"))
      // the hashed set is distinct per doc, so each (doc_id, token) row
      // is unique and the post-join count IS the distinct-shared count
      .join(benchSide, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("doc_id")
  }

  /** The flip side of [[decontaminateAgainst]] — the report an EVAL
    * OWNER reads: per benchmark document, how many corpus documents
    * share ≥ `minShared` distinct shingles with it (a compromised eval
    * item is one whose answer text already circulates in the training
    * corpus). `benchmark` needs (eval_id, text).
    *
    * Same scale contract as decontamination: the benchmark's
    * (eval_id, token) index broadcasts under the measured-shingle
    * guard, the corpus never shuffles on content, and the only
    * corpus-driven exchange carries (eval_id, doc_id) pair keys bounded
    * by actual overlap. Output: (eval_id, n_contaminated), only for
    * eval docs with ≥ 1 contaminated corpus doc. */
  def contaminationReportAgainst(corpus: DataFrame, benchmark: DataFrame,
      shingleK: Int = 3, minShared: Int = 1,
      maxBroadcastShingles: Long = MaxBroadcastShingles): DataFrame = {
    val benchIdx = graft.Caches.register(
      benchmark
        .select(col("eval_id"),
          explode(TextExpressions.shingleHashSet(col("text"), shingleK))
            .as("token"))
        .cache())
    val nRows = benchIdx.count()
    val benchSide =
      if (nRows <= maxBroadcastShingles) broadcast(benchIdx)
      else {
        System.err.println(
          s"[graft] contaminationReport: benchmark index has $nRows rows " +
            s"(> cap $maxBroadcastShingles) — falling back to a shuffled " +
            "join instead of broadcasting (driver-OOM guard)")
        benchIdx.hint("shuffle_hash")
      }
    corpus
      .select(col("doc_id"),
        explode(TextExpressions.shingleHashSet(col("text"), shingleK))
          .as("token"))
      .join(benchSide, Seq("token"))
      .groupBy(col("eval_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_contaminated"))
      .orderBy("eval_id")
  }

  /** [[contaminationReportAgainst]] with the q58-style self-derived
    * benchmark split (salted-hash sample of the corpus). */
  def contaminationReport(spark: SparkSession, dir: String, pct: Int = 10,
      shingleK: Int = 3, minShared: Int = 1,
      salt: String = "bench"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBench =
      md5Long(concat(lit(s"$salt:"), col("doc_id").cast("string"))) % 100 < pct
    contaminationReportAgainst(
      docs.where(!isBench),
      docs.where(isBench).select(col("doc_id").as("eval_id"), col("text")),
      shingleK, minShared)
  }

  /** [[decontaminateAgainst]] with the benchmark derived as a
    * deterministic salted-hash sample of the corpus itself — the
    * self-contained stand-in used by the q58 gate (no external eval
    * relation ships with the test data). */
  def decontaminate(spark: SparkSession, dir: String, pct: Int = 10,
      shingleK: Int = 3, minShared: Int = 1,
      salt: String = "bench"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBench =
      md5Long(concat(lit(s"$salt:"), col("doc_id").cast("string"))) % 100 < pct
    decontaminateAgainst(docs.where(!isBench), docs.where(isBench),
      shingleK, minShared)
  }

  /** One row per doc with its full minhash signature array — the compact
    * carrier used by the LSH join (16 longs ≈ 128 B/row instead of 16
    * shuffled rows per doc). */
  private def signatureArrays(spark: SparkSession, dir: String,
      shingleK: Int, numHashes: Int): DataFrame =
    signatureArraysOn(Tables.documents(spark, dir), shingleK, numHashes)

  private[graft] def signatureArraysOn(docs: DataFrame, shingleK: Int,
      numHashes: Int): DataFrame =
    docs
      .select(col("doc_id"),
        TextExpressions.minHashSig(col("text"), shingleK, numHashes).as("sig"))

  /** MinHash signatures (word-shingle k=3, `numHashes` permutations) —
    * one row per (doc_id, hash_idx, hash_val) for SQL-oracle parity. */
  def minhashSignatures(spark: SparkSession, dir: String,
      shingleK: Int = 3, numHashes: Int = 16): DataFrame =
    signatureArrays(spark, dir, shingleK, numHashes)
      .select(col("doc_id"), posexplode(col("sig")))
      .select(col("doc_id"), col("pos").cast("long").as("hash_idx"),
        col("col").as("hash_val"))
      .orderBy("doc_id", "hash_idx")

  /** MinHash+LSH near-dup candidates: band the signature (`bands` bands of
    * `numHashes/bands` rows), bucket-join on (band, band-key), then score
    * candidates by the fraction of matching minhashes; keep est_sim ≥
    * threshold. All integers/exact fractions — no fp drift vs the oracle.
    * Candidates and verification both carry whole signature arrays, so
    * the only exploded relation is the (doc, band) bucket table. */
  def minhashLshPairs(spark: SparkSession, dir: String,
      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.5, ordered: Boolean = true): DataFrame =
    minhashLshPairsOn(Tables.documents(spark, dir), shingleK, numHashes,
      bands, threshold, ordered)

  /** [[minhashLshPairs]] over an explicit documents relation (the
    * corpus-build composition runs it on gate-and-exact-dedup
    * survivors of the scrubbed corpus). */
  def minhashLshPairsOn(docs: DataFrame,
      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.5, ordered: Boolean = true): DataFrame =
    // cache: referenced three times below (banding + both verify sides);
    // without it each reference re-scans documents and re-hashes shingles
    minhashPairsFromSigs(
      graft.Caches.register(
        signatureArraysOn(docs, shingleK, numHashes).cache()),
      numHashes, bands, threshold, ordered)

  /** The band/bucket/verify tail of [[minhashLshPairs]] over an
    * already-computed `(doc_id, sig)` relation — the corpus-build
    * composition computes signatures in its shared scan projection
    * (text never survives past the scan) and feeds them here. */
  /** Explode a `(…, sig)` relation into one row per (row, band) with
    * the band's bucket key appended as `(band, band_key)` — THE band
    * definition (md5 of the band's ordered hash values), shared by the
    * one-shot LSH join here and the incremental cluster table's
    * batch-vs-corpus candidate join
    * ([[graft.streaming.ClusterStream]]), so both discover identical
    * candidate sets by construction. Map-side only (a projection +
    * generator); all other columns ride along. */
  private[graft] def withBandKeys(df: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    df.select(col("*"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          md5(concat_ws(",",
            transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
              v => v.cast("string")))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
  }

  /** Matching-minhash fraction of two signature arrays — the LSH
    * verification score, shared with the incremental cluster table. */
  private[graft] def estSimCol(sig1: Column, sig2: Column,
      numHashes: Int): Column =
    size(filter(zip_with(sig1, sig2, (x, y) => x === y),
      b => b)).cast("double") / numHashes

  private[graft] def minhashPairsFromSigs(sigs: DataFrame,
      numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.5, ordered: Boolean = true): DataFrame = {
    // band key = md5 of the ordered hash values inside the band. A
    // NULL signature (null-text doc) is excluded up front: its band
    // keys would all collapse to md5 of the empty string — an
    // all-null-docs bucket whose candidates can never pass est_sim
    // (null zip → -1 size), i.e. pure candidate blowup for zero pairs
    val bandKeys = withBandKeys(
        sigs.where(col("sig").isNotNull)
          .select(col("doc_id"), col("sig")),
        numHashes, bands)
      .select(col("doc_id"), col("band"), col("band_key"))
    val cand = bandKeys.as("x").join(bandKeys.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .distinct()
    // verify: est_sim = matching-minhash fraction, via array zip (no
    // per-hash join fan-out)
    val scored = cand
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
      .withColumn("est_sim", estSimCol(col("sig1"), col("sig2"), numHashes))
      .where(col("est_sim") >= threshold)
      .select(col("id1"), col("id2"), roundStable(col("est_sim"), 4).as("est_sim"))
    // `ordered = false` for consumers that discard ordering (the
    // components build) — skips a global range-partition sort
    if (ordered) scored.orderBy("id1", "id2") else scored
  }

  /** SimHash signatures per document (32-bit). */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), simHash(col("text")).as("simhash"))
      .orderBy("doc_id")

  /** Connected components over a near-dup edge list (id1, id2) — the
    * dedup DECISION step: pairwise edges become groups, each labeled by
    * its minimum member id (the keeper).
    *
    * TWO measured regimes: the symmetrized edge list is materialized
    * once, and graphs at or under [[DriverCcEdgeBudget]] undirected
    * edges are solved by a driver union-find ([[driverComponents]] —
    * milliseconds, zero rounds, labels come back as a broadcastable
    * LocalRelation); larger graphs run iterative min-label propagation
    * WITH SHORTCUTTING: each round every node adopts
    * min(own label, smallest neighbor label, its label's own label) —
    * the pointer-jumping term halves the remaining label-chain length
    * each round, so convergence is O(log diameter) rounds instead of
    * O(diameter) (a 100-node path converges in ~7 rounds, not 100; the
    * path-graph property test pins this). The invariant both steps keep
    * is "comp(v) is the id of some node in v's component", and labels
    * only decrease, so the fixpoint is the component minimum.
    *
    * Per round: ONE materializing action (the eager localCheckpoint) —
    * the convergence signal is a `changed` column computed in the same
    * projection and read back with a filter scan over the materialized
    * blocks, NOT a separate join against the previous labels (the
    * round-4 finding: the extra convergence join tripled per-round job
    * cost). Lineage is truncated every round by the checkpoint (a 100 TB
    * run would checkpoint to reliable storage instead). Termination is
    * bounded by `maxIters` and non-convergence fails loudly.
    * Output: (doc_id, comp). */
  /** Release the storage behind a localCheckpoint'd frame.
    * `Dataset.unpersist` only clears CacheManager entries — the blocks
    * of a local checkpoint belong to the underlying RDD, reachable via
    * the plan's LogicalRDD leaf. Only safe when the frame is never
    * referenced again (a released local checkpoint cannot recompute). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Undirected-edge count at or below which [[connectedComponents]]
    * solves the graph on the driver instead of iterating cluster-wide.
    * The near-dup graphs this operator consumes are SPARSE by
    * construction (banded/blocked/thresholded candidate generation), so
    * even corpus-scale runs often land under it. Memory bound: the
    * collected edge array tops out near 200 MB transient at the budget
    * (Row overhead dominates), against multi-GB driver heaps — and the
    * union-find itself is two longs per node. Over budget, the
    * distributed loop runs unchanged. */
  val DriverCcEdgeBudget: Long = 2L * 1000 * 1000

  def connectedComponents(edges: DataFrame, maxIters: Int = 50,
      edgeBudget: Long = DriverCcEdgeBudget): DataFrame = {
    // materialize the edge list ONCE, symmetrized map-side in the same
    // pass (a union of two selects would execute the upstream pipeline —
    // e.g. the full MinHash-LSH build — twice): `sym` is referenced by
    // every round's join
    val sym = edges.select(explode(array(
        struct(col("id1").as("src"), col("id2").as("dst")),
        struct(col("id2").as("src"), col("id1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    // MEASURED dispatch (the blocks are already materialized, so this
    // count is a block scan, not a recompute): a small graph pays 5–20
    // scheduled rounds — each a shuffle join plus a convergence action —
    // for work a driver union-find finishes in milliseconds. Same
    // philosophy as the q73 prefix-path probe: price the iteration
    // against the collect, choose per graph.
    if (sym.count() <= 2 * edgeBudget) {
      val out = driverComponents(sym)
      releaseCheckpoint(sym)
      return out
    }
    // checkpoint the seed labels too: each round references `labels`
    // twice (neighbor join + pointer-jump join) — materialized blocks
    // make the second reference a block read, not a recompute
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = sym
        .join(labels, sym("src") === labels("id"))
        .groupBy(col("dst").as("id"))
        .agg(min("comp").as("ncomp"))
      val jump = labels.select(col("id").as("jid"), col("comp").as("jcomp"))
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .join(jump, col("comp") === col("jid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp")),
            coalesce(col("jcomp"), col("comp"))).as("next"),
          col("comp").as("prev"))
        .select(col("id"), col("next").as("comp"),
          (col("next") =!= col("prev")).as("changed"))
        .localCheckpoint()
      // fused convergence read: a filter over the blocks just written —
      // no join, no recomputation
      converged = updated.where(col("changed")).isEmpty
      releaseCheckpoint(labels)
      labels = updated
      i += 1
    }
    // wrong-but-silent is the one unacceptable outcome: a component
    // wider than the round budget must fail loudly, not split
    require(converged,
      s"connectedComponents did not converge in $maxIters rounds — " +
        "raise maxIters (component diameter exceeds the budget)")
    releaseCheckpoint(sym)
    // the FINAL labels checkpoint stays persisted — the returned frame
    // reads from it; its one node-sized table is LRU-evictable
    labels.select(col("id").as("doc_id"), col("comp")).orderBy("doc_id")
  }

  /** Driver union-find with path compression + union-by-min (the
    * smaller root always wins, so each final root is its component's
    * minimum id — the exact fixpoint the distributed loop converges
    * to). THE single definition shared by [[driverComponents]] and the
    * incremental cluster table's batch-local/survivor passes
    * ([[graft.streaming.ClusterStream]]): a tweak here moves both
    * sides together, keeping the "same fixpoint" claim true by
    * construction. Returns every endpoint's root (singetons from
    * self-loops included). */
  private[graft] def unionFindRoots(pairs: Iterable[(Long, Long)])
      : scala.collection.mutable.LongMap[Long] = {
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) x = parent(x)
      var y = x0 // compress the chain just walked
      while (parent.getOrElse(y, y) != y) { val n = parent(y); parent(y) = x; y = n }
      x
    }
    val out = new scala.collection.mutable.LongMap[Long]()
    pairs.foreach { case (a, b) =>
      out(a) = a; out(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    out.keysIterator.toArray.foreach(k => out(k) = find(k))
    out
  }

  /** [[unionFindRoots]] over a materialized symmetric edge list.
    * Output is a LocalRelation, which downstream joins broadcast for
    * free. `src <= dst` keeps exactly one direction of each symmetrized
    * pair WITHOUT dropping self-loop nodes, should a caller ever emit
    * (a, a). */
  private def driverComponents(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val roots = unionFindRoots(
      sym.where(col("src") <= col("dst")).select("src", "dst")
        .collect().iterator.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    roots.toSeq.sorted.toDF("doc_id", "comp")
  }

  /** Identical-signature clusters: one row per distinct `bits`-bit
    * simhash with its keeper (min doc_id) and member count — the h=0
    * mass of near-dup detection, reported LINEARLY (one hash-agg) the
    * way exact dedup reports fingerprint groups. On a corpus with big
    * duplicate clusters, enumerating those pairs instead would be
    * quadratic in cluster size for no information gain. */
  def simhashClusters(spark: SparkSession, dir: String,
      bits: Int = 48): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextExpressions.simHashSig(col("text"), bits).as("simhash"))
      .groupBy("simhash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))

  /** SimHash near-dup at CLUSTER granularity, by banded Hamming join:
    * signatures collapse to clusters first ([[simhashClusters]]), then
    * the `bits`-bit signature splits into `bands` equal bit-bands and by
    * pigeonhole any two signatures within Hamming distance `bands - 1`
    * agree on at least one whole band — so candidates come from an
    * equi-join on (band, band-bits) over DISTINCT signatures, verified
    * with an exact popcount of the XOR.
    *
    * Why cluster edges, not doc edges: with D docs collapsing to C
    * signatures, doc-pair output is Σ|cluster|² while cluster-pair
    * output is ≤ C² — on this corpus at sf0.1 that is 32 k rows instead
    * of 2.1 M, and the band join's skew (the real cost: one task per hot
    * bucket computing |bucket|² pairs) shrinks by the same factor. A
    * 100 TB dedup pass consumes exactly this form: keeper + members per
    * cluster, edges between clusters. Requires maxHamming < bands
    * (asserted); h ≥ 1 by construction. Output:
    * (id1, id2, hamming, n1, n2), id1 < id2 = keeper doc ids. */
  def simhashNearDup(spark: SparkSession, dir: String, maxHamming: Int = 3,
      bands: Int = 4, bits: Int = 48): DataFrame = {
    require(maxHamming < bands,
      s"banded Hamming join is only lossless for maxHamming < bands " +
        s"(got $maxHamming >= $bands)")
    require(bits % bands == 0, s"bands must divide bits")
    // cache: both sides of the band self-join derive from it
    val clusters = graft.Caches.register(simhashClusters(spark, dir, bits).cache())
    bandedHammingPairs(clusters.withColumnRenamed("simhash", "sig"),
      "sig", Nil, maxHamming, bands, bits)
  }

  /** The banded-Hamming candidate + verify tail over a CLUSTER
    * relation `(sigCol, keep_id, n_members, scopeCols…)` — shared by
    * q45 (simhash over token sets) and q154 (perceptual dHash over
    * media payloads, scoped by media_type). The `bits`-bit signature
    * splits into `bands` equal bit-bands; by pigeonhole any two
    * signatures within Hamming `bands - 1` agree on a whole band, so
    * candidates come from an equi-join on (scope…, band, band-bits),
    * verified with an exact popcount of the XOR.
    *
    * hamming BEFORE distinct: the popcount filter is a few cycles per
    * pair while distinct is a shuffle — filtering first means the dedup
    * exchange carries only the pairs that survive (at sf0.1 that is the
    * difference between shuffling ~800k band collisions and the handful
    * of true near-dups; at 100 TB it is the plan's scale cost). The
    * filter references both join sides, so Catalyst folds it into the
    * join condition — rejected pairs die inside the join task.
    * (scope…, id1, id2) functionally determines hamming/n1/n2 (keep_id
    * is unique per cluster), so distinct over the output columns IS
    * pair-dedup. Output: (scope…, id1, id2, hamming, n1, n2). */
  def bandedHammingPairs(clusters: DataFrame, sigCol: String,
      scopeCols: Seq[String], maxHamming: Int, bands: Int,
      bits: Int): DataFrame = {
    require(maxHamming < bands,
      s"banded Hamming join is only lossless for maxHamming < bands " +
        s"(got $maxHamming >= $bands)")
    require(bits % bands == 0, s"bands must divide bits")
    val w = bits / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col(sigCol), b * w)
          .bitwiseAND(lit((1L << w) - 1)).as("bval"))
    }
    val banded = clusters
      .select((scopeCols.map(col) ++ Seq(col(sigCol), col("keep_id"),
        col("n_members"), explode(array(bandCols: _*)).as("bv"))): _*)
      .withColumn("band", col("bv.band"))
      .withColumn("bval", col("bv.bval"))
      .drop("bv")
    val joinCond = (scopeCols :+ "band" :+ "bval")
      .map(c => col(s"x.$c") === col(s"y.$c"))
      .reduce(_ && _) && col("x.keep_id") < col("y.keep_id")
    val outCols = scopeCols.map(c => col(s"x.$c").as(c)) ++ Seq(
      col("x.keep_id").as("id1"), col("y.keep_id").as("id2"),
      bit_count(col(s"x.$sigCol").bitwiseXOR(col(s"y.$sigCol")))
        .cast("long").as("hamming"),
      col("x.n_members").as("n1"), col("y.n_members").as("n2"))
    banded.as("x").join(banded.as("y"), joinCond)
      .select(outCols: _*)
      .where(col("hamming") <= maxHamming)
      .distinct()
      .orderBy((scopeCols :+ "id1" :+ "id2").map(col): _*)
  }

  /** Incremental (corpus-vs-batch) exact dedup: the rows of `incoming`
    * whose canonical fingerprint does NOT already appear in `corpus` —
    * the daily-ingest primitive (dedup a new crawl batch against the
    * accumulated 100 TB corpus without re-deduping the corpus).
    *
    * Scale shape — the corpus side is NEVER shuffled:
    *  1. one corpus pass tree-aggregates a Bloom filter over fingerprints
    *     (`DataFrameStatFunctions.bloomFilter` — bit array sized by
    *     `expectedCorpusDocs`/`fpp`, bounded driver memory);
    *  2. the broadcast Bloom prefilters the batch map-side: a Bloom
    *     NEGATIVE row is definitely new (no false negatives) and never
    *     touches a join;
    *  3. the few Bloom-POSITIVE fingerprints (true dups + `fpp` of the
    *     batch) broadcast against the corpus as a LEFT SEMI probe —
    *     corpus rows stream past the map-side hash table, no exchange;
    *  4. the confirmed-dup fingerprints (≤ batch-sized) broadcast back
    *     as the anti-join that produces the answer.
    * The Bloom is an optimization only — the result is exactly the
    * fingerprint anti-join, which is what the oracle asserts. The probe
    * is the one justified UDF in the codebase: a driver-built sketch has
    * no Column-function form, it gates nothing semantic, and it runs on
    * the (small) batch side only.
    *
    * Returns the surviving `incoming` rows with all their columns plus
    * `fp` (unordered — callers sort or sink as they need). */
  def newDocsAgainst(corpus: DataFrame, incoming: DataFrame,
      expectedCorpusDocs: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val corpusFp = corpus.select(fingerprint(col("text")).as("fp"))
    val bloom = corpusFp.stat.bloomFilter("fp", expectedCorpusDocs, fpp)
    newDocsWithBloom(corpus, incoming, bloom)
  }

  /** [[newDocsAgainst]] with a caller-supplied Bloom filter over the
    * corpus fingerprints — the continuous-ingest fast path
    * ([[graft.streaming.DocStream]] maintains the sketch across epochs,
    * so the per-batch corpus Bloom PASS disappears; sketches are
    * mergeable, so a distributed maintainer unions per-partition blooms).
    * CONTRACT: the bloom may over-approximate the corpus (false
    * positives merely widen the exact confirm join) but must never
    * under-approximate it — a fingerprint present in `corpus` but absent
    * from the sketch would skip the confirm join and come back
    * "new". */
  def newDocsWithBloom(corpus: DataFrame, incoming: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val spark = corpus.sparkSession
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain =
      udf((fp: String) => fp != null && bloomBc.value.mightContainString(fp))
    val inc = incoming.withColumn("fp", fingerprint(col("text")))
    val candidates = inc.where(mightContain(col("fp")))
      .select("fp").distinct()
    // semi, not inner: only WHICH candidate fps exist in the corpus
    // matters, and semi short-circuits on first probe hit per row.
    // distinct: a corpus with internal duplicate fps would otherwise
    // return one confirmed row per CORPUS occurrence, inflating the
    // broadcast beyond the documented ≤-candidate-count bound
    val confirmed = corpus.select(fingerprint(col("text")).as("fp"))
      .join(broadcast(candidates), Seq("fp"), "left_semi")
      .distinct()
    inc.join(broadcast(confirmed), Seq("fp"), "left_anti")
  }

  /** [[newDocsAgainst]] with a deterministic corpus/batch split of the
    * documents table (batch = every 5th doc id) — the self-contained
    * stand-in used by the q66 gate. */
  def incrementalNewDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    newDocsAgainst(docs.where(col("doc_id") % 5 =!= 0),
      docs.where(col("doc_id") % 5 === 0))
      .select("doc_id", "lang", "fp")
      .orderBy("doc_id")
  }

  /** Cross-document repeated-span detection — the k-gram approximation of
    * suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): for every document,
    * the maximal token spans covered by k-grams that also occur in some
    * OTHER document. Long shared spans are boilerplate / syndicated text
    * that exact and near-dup passes both miss (they score whole docs).
    *
    * Pipeline: token k-grams with positions → grams seen in ≥2 distinct
    * docs → per-doc gaps-and-islands merge of adjacent duplicated
    * positions into maximal spans. Output: (doc_id, span_start, span_end,
    * n_grams) — token indices, 0-based inclusive.
    *
    * Scale notes:
    *  - "≥2 distinct docs" is `min(doc_id) != max(doc_id)` — a plain
    *    two-accumulator aggregate, NOT countDistinct, so the hot-gram
    *    groups (boilerplate at 100 TB) never pay the distinct-agg
    *    expansion and partial aggregation collapses them map-side.
    *  - the gram index shuffles hashed gram KEYS + (doc_id, pos); the
    *    document body never shuffles (global PlanAuditSpec gate).
    *  - the islands window partitions by doc — bounded by document
    *    length, no global window. */
  def duplicateSpans(spark: SparkSession, dir: String, k: Int = 8)
      : DataFrame =
    duplicateSpansOn(Tables.documents(spark, dir), k)

  /** [[duplicateSpans]] over an explicit (doc_id, text) relation.
    *
    * Grams travel as 60-bit md5 keys, not strings: the index shuffles
    * twice (dup-gram agg + semi-join), and 8 B/key vs ~60 B/string is
    * the difference between shuffling a key table and shuffling the
    * corpus re-encoded. The hash is the engine-replicable [[md5Long]],
    * so the oracle computes the identical keys — a (astronomically
    * rare, ~2⁶⁰ birthday bound) collision merges the same two gram
    * identities on both sides and stays hash-green. The (doc_id, pos,
    * gram_h) carrier is cached — it feeds both the agg and the join. */
  def duplicateSpansOn(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2 (got $k)")
    // native positional-gram kernel: one tight tokenize+hash loop per
    // document (the composed transform/slice/concat_ws/md5 chain built
    // every gram as an intermediate Column string — and, inlined, even
    // re-tokenized the document per gram element)
    val g = graft.Caches.register(docs
      .select(col("doc_id"),
        posexplode(TextExpressions.gramHashes(col("text"), k))
          .as(Seq("pos", "gram_h")))
      .cache())
    val dupGrams = g.groupBy("gram_h")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .where(col("mn") =!= col("mx"))
      .select("gram_h")
    val dupPos = g.join(dupGrams, Seq("gram_h"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    // gaps-and-islands: consecutive duplicated positions share
    // (pos - rank) — positions are unique within a doc by construction
    val islands = dupPos.withColumn("grp",
      col("pos") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")))
    islands.groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
      .orderBy("doc_id", "span_start")
  }

  /** Per-document duplicated-token fraction — [[duplicateSpans]] rolled
    * up into the doc-level quality signal a curation pass filters on
    * (the "fraction of text in duplicated spans" gate of public pipeline
    * recipes such as Gopher/RefinedWeb). Every document is reported
    * (fraction 0.0 when nothing is shared), so the output joins straight
    * onto a quality table.
    *
    * Distinct covered positions, not a sum of span lengths: spans from
    * runs separated by a sub-k gap overlap in TOKEN space (k−1 tail), so
    * summing lengths would double-count. Output:
    * (doc_id, n_tokens, dup_tokens, dup_fraction). */
  def duplicateSpanStats(spark: SparkSession, dir: String, k: Int = 8)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
    val spans = duplicateSpansOn(docs, k)
    // countDistinct, not distinct→count: one doc_id exchange instead of
    // two, and the per-group distinct set is bounded by document length
    val covered = spans
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("tpos"))
      .groupBy("doc_id")
      .agg(countDistinct("tpos").as("dup_tokens"))
    docs
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(roundStable(coalesce(col("dup_tokens"), lit(0L)).cast("double")
            / col("n_tokens").cast("double"), 4)).as("dup_fraction"))
      .orderBy("doc_id")
  }

  // ——— boilerplate-chunk removal (C4-style line dedup) ———

  /** Tokens per pseudo-line. C4 (Raffel et al. 2020, §2.2) removes any
    * LINE occurring ≥3 times in the corpus; this corpus has no newlines,
    * so "lines" are fixed 10-token windows — same machinery, same
    * threshold, alignment-fixed so the unit is deterministic. */
  val ChunkTokens = 10

  /** Corpus occurrence threshold: a chunk seen this many times (or more)
    * anywhere in the corpus is boilerplate and is removed from EVERY
    * document (C4 removes all copies, not all-but-one). */
  val BoilerplateMinDf = 3

  /** Ceiling on boilerplate-dictionary entries shipped to executors via
    * the [[org.apache.spark.sql.graft.SortedLongSetContains]] kernel
    * (8 B each → 32 MB at the cap). Above it the map-side plan degrades
    * to the join path — loudly, never silently. */
  val MaxBoilerplateDict = 4 << 20

  /** Aligned `chunkTokens`-token windows over a token-array COLUMN
    * (which must be a materialized attribute, not a raw `split` — a
    * lambda over `split(text)` would re-evaluate the split per chunk
    * element, the Catalyst HOF re-eval trap). `Column./` is double
    * division, so the chunk count is floor()ed back to int — exact for
    * any realistic token count. */
  private def chunksOf(toks: Column, chunkTokens: Int): Column =
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0),
          (floor((size(toks) + chunkTokens - 1) / chunkTokens)
            .cast("int")) - 1),
        i => array_join(
          slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ")))

  /** Per-doc aligned chunk relation: (doc_id, idx, chunk). */
  private def chunkRelation(docs: DataFrame, chunkTokens: Int): DataFrame =
    ScanPar.spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), chunksOf(col("toks"), chunkTokens).as("chunks"))
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("idx", "chunk")))

  /** The boilerplate dictionary as an audit view: every chunk the corpus
    * repeats ≥ `minDf` times, with its occurrence count — what a
    * curation owner reviews before turning on [[chunkDedup]]. Output
    * (chunk, n), hottest first, deterministic tiebreak, top-1000.
    * The groupBy here keys on chunk TEXT (the audit must show it);
    * [[chunkDedup]]'s own df pass keys on the 60-bit hash. */
  def boilerplateChunks(spark: SparkSession, dir: String,
      chunkTokens: Int = ChunkTokens, minDf: Int = BoilerplateMinDf)
      : DataFrame =
    chunkRelation(Tables.documents(spark, dir), chunkTokens)
      .groupBy("chunk").agg(count(lit(1)).as("n"))
      .where(col("n") >= minDf)
      .orderBy(desc("n"), col("chunk"))
      .limit(1000)

  /** C4-style boilerplate removal: delete every aligned `chunkTokens`-
    * token window whose exact text occurs ≥ `minDf` times in the corpus,
    * then reassemble each document from its surviving chunks. Output:
    * (doc_id, clean_text, n_dropped) for EVERY document, doc_id order.
    *
    * Scale shape (the q58 broadcast-a-dictionary pattern, inverted):
    *  1. chunk df aggregates on the 60-bit md5 hash — the ONLY
    *     corpus-sized shuffle carries (hash, count) = 16 B rows, never
    *     chunk text;
    *  2. the dictionary (hashes with df ≥ minDf — bounded by distinct
    *     boilerplate, NOT corpus size) collects to the driver and ships
    *     sorted inside the codegen'd binary-search kernel;
    *  3. reassembly is MAP-ONLY: each doc re-chunks in the scan
    *     projection and drops dictionary hits locally — document text
    *     never shuffles, and the output needs no doc_id regroup because
    *     chunks never left their row.
    * If the dictionary exceeds [[MaxBoilerplateDict]] entries the plan
    * degrades (loudly) to a broadcast-join + regroup path whose
    * reassembly shuffle carries surviving chunk text — correct at any
    * dictionary size, just not text-shuffle-free. */
  def chunkDedup(spark: SparkSession, dir: String,
      chunkTokens: Int = ChunkTokens, minDf: Int = BoilerplateMinDf)
      : DataFrame =
    chunkDedupOn(Tables.documents(spark, dir), chunkTokens, minDf,
      MaxBoilerplateDict)

  /** [[chunkDedup]] with the dictionary cap injectable so the spec can
    * force the join fallback and assert both paths agree. */
  private[operators] def chunkDedupOn(docs: DataFrame, chunkTokens: Int,
      minDf: Int, maxDict: Int): DataFrame = {
    val carrier = chunkRelation(docs, chunkTokens)
      .select(col("doc_id"), col("idx"), md5Long(col("chunk")).as("h"))
    val dictDf = carrier.groupBy("h").agg(count(lit(1)).as("n"))
      .where(col("n") >= minDf).select("h")
    val dict = dictDf.limit(maxDict + 1).collect()
      .map(_.getLong(0))
    if (dict.length <= maxDict) {
      val sorted = Dict.sortedLongs(dict)
      ScanPar.spread(docs)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          chunksOf(col("toks"), chunkTokens).as("chunks"))
        .select(col("doc_id"), col("chunks"),
          filter(col("chunks"), c => !TextExpressions
            .sortedLongSetContains(md5Long(c), sorted)).as("kept"))
        .select(col("doc_id"),
          array_join(col("kept"), " ").as("clean_text"),
          (size(col("chunks")) - size(col("kept"))).cast("long")
            .as("n_dropped"))
        .orderBy("doc_id")
    } else {
      System.err.println(s"[graft] chunkDedup: dictionary has " +
        s"> $maxDict entries — falling back to the join path " +
        "(reassembly shuffles surviving chunk text)")
      val ch = chunkRelation(docs, chunkTokens)
        .withColumn("h", md5Long(col("chunk")))
      val kept = ch.join(dictDf, Seq("h"), "left_anti")
      val agg = kept.groupBy("doc_id")
        .agg(array_join(array_sort(collect_list(struct(col("idx"),
            col("chunk")))).getField("chunk"), " ").as("clean_text"),
          count(lit(1)).as("n_kept"))
      val tot = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      docs.select(col("doc_id"))
        .join(tot, Seq("doc_id"), "left")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          (coalesce(col("n_chunks"), lit(0L))
            - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
        .orderBy("doc_id")
    }
  }
}
