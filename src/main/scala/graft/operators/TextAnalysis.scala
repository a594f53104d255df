package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Dict, TextExpressions}
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators over `documents` (north-star extension):
  * token statistics, language-ID, quality scoring, fingerprinting, and the
  * exploded token frequency table (T4 array-explode parity).
  *
  * Everything is a map-only pass (columnar scan → codegen'd expressions)
  * except the token frequency rollup, which shuffles once on the token —
  * exactly the word-count shape that scales linearly with input splits.
  */
object TextAnalysis {

  /** T4 parity: explode tokens, global frequency table, top 100.
    * Per-doc counting runs MAP-SIDE (term_freqs kernel): the hash
    * aggregate sees one row per (doc, term) instead of one per
    * occurrence; `sum(tf)` ≡ the occurrence count. */
  def tokenFrequency(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(termFreqs(col("text"))).as("t"))
      .groupBy(col("t.term").as("token"))
      .agg(sum(col("t.tf")).as("cnt"))
      .orderBy(desc("cnt"), col("token"))
      .limit(100)

  /** N-gram novelty: per document, how many of its distinct k-gram
    * shingles occur FIRST in this document (first occurrence = smallest
    * doc_id over the corpus — the q60/q100 canonical-occurrence rule).
    * A document that merely recombines n-grams the corpus has already
    * seen scores near zero even when no single document matches it —
    * the "mosaic duplicate" blind spot of pairwise dedup, and the
    * per-doc form of the duplicate-mass accounting in the public
    * substring-dedup literature (Lee et al.). Feeds gates/curricula
    * like the other quality signals.
    *
    * Scale shape: the q22 skeleton minus its pair join — shingles ride
    * as 60-bit hashed identities ([[org.apache.spark.sql.graft
    * .ShingleHashSet]], map-only kernel; text never shuffles), one agg
    * on the hash key finds each shingle's owner, one hash-key join back
    * and a per-doc agg. The ratio is integer fixed-point (micros, Long
    * floor-division) — engine-exact. Every doc has ≥1 shingle (the
    * kernel's short-text fallback), so no zero division. */
  def ngramNovelty(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    ngramNoveltyOn(Tables.documents(spark, dir), k)

  /** [[ngramNovelty]] over an explicit (doc_id, text) relation. */
  def ngramNoveltyOn(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.graft.TextExpressions
    val idx = graft.Caches.register(
      docs.select(col("doc_id"),
        explode(TextExpressions.shingleHashSet(col("text"), k)).as("h"))
        .cache())
    val owners = idx.groupBy("h").agg(min("doc_id").as("owner"))
    idx.join(owners, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("owner") === col("doc_id"), lit(1L)).otherwise(lit(0L)))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(n_novel * 1000000) div n_shingles").as("novelty_micros"))
      .orderBy("doc_id")
  }

  /** Per-document token accounting: whitespace tokens, BPE-ish sub-tokens,
    * distinct tokens — the budgeting pass of a training-data pipeline. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        subTokenCount(col("text")).cast("long").as("n_subtokens"),
        size(tokenSet(col("text"))).cast("long").as("n_distinct"))
      .orderBy("doc_id")

  /** Language-ID heuristic + agreement with the labeled `lang` column. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        langGuess(col("text")).as("pred_lang"))
      .orderBy("doc_id")

  /** Per-document quality metrics and composite score. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        roundStable(stopwordRatio(col("text")), 4).as("stop_ratio"),
        roundStable(punctRatio(col("text")), 4).as("punct_ratio"),
        roundStable(meanTokenLen(col("text")), 4).as("mean_tok_len"),
        qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Within-document repetition signal (the Gopher-rules style filter):
    * fraction of word k-grams that are duplicates of an earlier k-gram
    * in the same document — high repetition flags boilerplate/spam/
    * degenerate text that per-corpus dedup cannot see. Map-only: the
    * total k-gram count derives from the token count (n − k + 1,
    * floored at the single whole-text shingle short docs collapse to),
    * and the distinct count reuses the native ShingleSet kernel — one
    * tokenization plus one shingle pass per doc, no shuffle except the
    * output sort. */
  def repetition(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        greatest(tokenCount(col("text")) - (k - 1), lit(1))
          .cast("long").as("n_grams"),
        size(org.apache.spark.sql.graft.TextExpressions
          .shingleSet(col("text"), k)).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        roundStable(lit(1.0) -
          col("n_distinct").cast("double") / col("n_grams").cast("double"), 4))
      .orderBy("doc_id")

  /** Canonical fingerprints (exact-dedup keys). */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Ceiling on DISTINCT vocabulary tokens [[unigramRarity]] will
    * broadcast; above it the tf join degrades to a shuffled hash join
    * (same measured-guard contract as `Dedup.decontaminateAgainst`). */
  val MaxBroadcastVocab = 2000000L

  /** Corpus-statistics quality signal: per-doc MEAN INVERSE TOKEN
    * FREQUENCY — the unigram-LM filter shape (docs of globally rare
    * tokens score high = OOD/noise; all-boilerplate docs score low).
    * `rarity(doc) = mean_t floor(total·10⁴ / tf(t)) / 10⁴` — a monotone
    * transform of unigram surprise that stays ORDER-INDEPENDENT: the
    * per-token values are fixed-point longs (exact integer floor-div),
    * so the doc-level sum is associative and engine-reproducible, and
    * the one final division is a single IEEE op on identical operands
    * (the label-centroid determinism pattern). Fixed-point headroom:
    * total·10⁴ must fit a long — fine to ~10¹⁴ corpus tokens; shrink
    * the scale beyond that.
    *
    * Scale shape: ONE tokenization pass (cached (doc_id, token)
    * carrier) feeds the tf aggregation, the total count, and the
    * score join. The vocabulary BROADCASTS under a measured guard
    * (cap [[MaxBroadcastVocab]] distinct tokens — vocabulary grows
    * sublinearly with the corpus, but the cap is measured, not
    * assumed); above the cap the join falls back to a shuffled hash
    * join whose hot-token skew is bounded by AQE skew splitting.
    * Output: (doc_id, n_tokens, rarity); zero-token docs emit no row. */
  def unigramRarity(spark: SparkSession, dir: String,
      maxBroadcastVocab: Long = MaxBroadcastVocab): DataFrame = {
    // per-doc term counts computed MAP-SIDE (term_freqs kernel): the
    // carrier shrinks from one row per token OCCURRENCE to one per
    // (doc, term) — the tf aggregation's exchange input, the score
    // join's probe side, and the per-doc rollup all shrink with it.
    // Per-occurrence sums fold exactly: every occurrence of a term in a
    // doc contributes the same integer fp, so sum over occurrences =
    // tf_doc × fp (exact long arithmetic, same value as before).
    val toks = graft.Caches.register(
      ScanPar.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), explode(termFreqs(col("text"))).as("t"))
        .select(col("doc_id"), col("t.term").as("token"),
          col("t.tf").as("tfd"))
        .cache())
    val tf = graft.Caches.register(
      toks.groupBy("token")
        .agg(sum(col("tfd")).as("tf")).cache())
    val nVocab = tf.count()
    val tfSide =
      if (nVocab <= maxBroadcastVocab) broadcast(tf)
      else {
        System.err.println(
          s"[graft] unigramRarity: vocabulary has $nVocab distinct tokens " +
            s"(> cap $maxBroadcastVocab); falling back to a shuffled join " +
            "instead of broadcasting (driver-OOM guard)")
        tf.hint("shuffle_hash")
      }
    // total occurrences from the vocab-sized tf relation — no second
    // corpus pass
    val total = tf.agg(sum(col("tf")).as("total"))
    toks
      .join(tfSide, Seq("token"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("tfd"),
        expr("(total * 10000) div tf").as("fp"))
      .groupBy("doc_id")
      .agg(sum(col("tfd")).as("n_tokens"),
        expr("sum(tfd * fp)").as("sum_fp"))
      .select(col("doc_id"), col("n_tokens"),
        roundStable(col("sum_fp").cast("double") /
          (col("n_tokens").cast("double") * 10000.0), 6).as("rarity"))
      .orderBy("doc_id")
  }

  /** Corpus QA: per-language length-distribution summary — the sanity
    * dashboard a 100 TB ingest runs before training (count, min/max,
    * mean, exact quartiles of n_chars). `percentile` is the EXACT
    * sort-based aggregate (not approx_percentile): linear-interpolated
    * rank, the same definition as DuckDB's quantile_cont, so the result
    * hash-verifies. One shuffle on the stratum key. */
  def lengthStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        roundStable(avg("n_chars"), 2).as("avg_chars"),
        percentile(col("n_chars"), lit(0.25)).as("p25"),
        percentile(col("n_chars"), lit(0.5)).as("p50"),
        percentile(col("n_chars"), lit(0.75)).as("p75"))
      .orderBy("lang")

  /** TF-IDF keyword extraction: the top-`k` most characteristic tokens
    * per document — the tagging/labeling pass a corpus catalog runs so
    * curation and mixture design can filter by topic without embeddings.
    *
    * Log-free fixed point (q64's trick): `idf = (N * 1e6) div df` is the
    * integer inverse document frequency in millionths — a strictly
    * monotone transform of the textbook `log(N/df)`, so the per-doc
    * ranking it induces is identical while staying engine-exact
    * (`score = tf * idf` is a Long end-to-end; no libm). Ties break on
    * the token string so the top-k set is deterministic.
    *
    * Scale shape: tf aggregates per (doc, token) BEFORE anything joins
    * (map-side combine collapses token positions); df derives from tf
    * (one more hash-agg on the token key — word-count shape); the
    * tf⋈df equi-join shuffles on the token key where AQE handles the
    * stopword skew. The final window partitions by doc_id — each
    * partition is one document's distinct tokens, bounded by document
    * length, so no stratum-sort scale trap (contrast [[graft.operators.
    * Sampling.domainCap]]'s analysis: doc-keyed windows are safe,
    * domain-keyed ones are not). */
  def tfidfKeywords(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // per-doc tf computed MAP-SIDE (term_freqs kernel) — the old
    // explode→groupBy(doc, token) exchange is gone; only the df
    // aggregation (genuinely cross-doc) and the per-doc top-k window
    // shuffle. tf feeds two subtrees but is exchange-free map work, so
    // recompute beats a cache barrier (the r17 q88 lesson).
    val tf = ScanPar.spread(docs)
      .select(col("doc_id"),
        explode(termFreqs(col("text"))).as("t"))
      .select(col("doc_id"), col("t.term").as("token"),
        col("t.tf").as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n")) // 1 row — broadcast scalar
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score"), col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score", expr("tf * ((n * 1000000L) div df)"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("token"), col("score"), col("rk"))
      .orderBy("doc_id", "rk")
  }

  /** q127: PMI collocation mining — the top-`topK` consecutive-token
    * bigrams by pointwise mutual information (Church & Hanks 1990), the
    * phrase-discovery pass a corpus pipeline runs before tokenizer
    * training and n-gram feature design. No reference-repo counterpart
    * (north-star extension).
    *
    * Log-free fixed point (the q64/q88 discipline): PMI =
    * ln(p(ab)/(p(a)p(b))) is a strictly monotone transform of the LIFT
    * `n_ab·T² / (n_a·n_b·B)`, so ranking by integer
    * `lift_micros = (n_ab·T²·10⁶) div (n_a·n_b·B)` reproduces the PMI
    * order engine-exactly with no libm on the decision boundary. The
    * 128-bit intermediates (DECIMAL(38,0) here, HUGEINT in the oracle)
    * are exact: the numerator tops out near 10²⁸ at sf10 corpus sizes,
    * well inside 38 digits, and the quotient is micros-scaled so it
    * fits BIGINT whenever `n_ab ≥ minCount`.
    *
    * Scale shape: two map-only tokenize passes (unigram and bigram
    * explode — re-scanning beats caching corpus-sized token arrays),
    * word-count hash-aggs with map-side combine on each, two 1-row
    * broadcast totals, and the bigram⋈unigram equi-joins shuffle on the
    * token key (vocab-sized right sides — AQE broadcasts them when they
    * fit). The min-count filter runs BEFORE the joins so rare-bigram
    * mass never shuffles. Final TakeOrdered is top-k, not a sort. */
  def pmiCollocations(spark: SparkSession, dir: String,
      minCount: Long = 5L, topK: Int = 100): DataFrame =
    pmiCollocationsOn(Tables.documents(spark, dir), minCount, topK)

  /** [[pmiCollocations]] over an explicit (text) relation. */
  def pmiCollocationsOn(docs: DataFrame,
      minCount: Long = 5L, topK: Int = 100): DataFrame = {
    val toks = docs.select(tokens(col("text")).as("l"))
    val ucnt = toks.select(explode(col("l")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val bcnt = bigrams(toks)
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    pmiRank(ucnt, bcnt, minCount, topK)
  }

  /** Consecutive-token bigrams of a (l: array&lt;string&gt;) relation. */
  private[graft] def bigrams(toks: DataFrame): DataFrame =
    toks.where(size(col("l")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(l) - 1), " +
          "i -> named_struct('a', l[i-1], 'b', l[i]))")).as("ab"))
      .select(col("ab.a").as("a"), col("ab.b").as("b"))

  /** The ranking stage of [[pmiCollocations]], shared with the
    * streaming twin so batch and snapshot are bit-identical: totals
    * derive from the count relations themselves (T = Σn, B = Σn_ab —
    * vocab-sized aggregates, NOT a rescan of the corpus), then the
    * 128-bit fixed-point lift, top-k. */
  def pmiRank(ucnt: DataFrame, bcnt: DataFrame,
      minCount: Long = 5L, topK: Int = 100): DataFrame = {
    require(minCount >= 1L, "minCount must be >= 1")
    require(topK > 0, "topK must be positive")
    val tot = ucnt.agg(sum(col("n")).as("t")) // 1 row — broadcast scalar
    val btot = bcnt.agg(sum(col("n_ab")).as("bt")) // 1 row — broadcast
    bcnt.where(col("n_ab") >= minCount)
      .join(ucnt.select(col("w").as("a"), col("n").as("na")), Seq("a"))
      .join(ucnt.select(col("w").as("b"), col("n").as("nb")), Seq("b"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(btot))
      .withColumn("lift_micros", expr(
        "CAST((CAST(n_ab AS DECIMAL(38,0)) * t * t * 1000000) div " +
          "(CAST(na AS DECIMAL(38,0)) * nb * bt) AS BIGINT)"))
      .select(col("a"), col("b"), col("n_ab"), col("lift_micros"))
      .orderBy(desc("lift_micros"), col("a"), col("b"))
      .limit(topK)
  }

  /** Corpus stand-in blocklist for the gated q92 run — the REAL list is
    * a user-supplied artifact (C4 shipped a public "bad words" list);
    * these are arbitrary vocabulary members (plus a guaranteed miss) so
    * the gate exercises both hit and miss paths on the test corpus. */
  val DefaultBlocklist: Seq[String] = Seq("slow", "merge", "zzz-absent")

  /** q92: C4-style token blocklist accounting (Raffel et al. 2020 §2.2
    * drop documents containing any banned word; no reference-repo
    * counterpart — north-star extension): per doc, total tokens, banned
    * tokens, and the C4 keep flag (`n_banned == 0`). Map-only: the
    * banned set ships inside the native counting expression as sorted
    * md5-60 identities (binary-search probe per token, byte-level
    * tokenizer, no explode/join) — at 100 TB the scan IS the cost and
    * the list is a fixed artifact, exactly like the BPE merge table.
    * Emitting counts rather than dropping keeps the operator composable
    * (threshold policies — any-hit, ratio — are one `where` on top). */
  def blocklistScan(spark: SparkSession, dir: String,
      terms: Seq[String] = DefaultBlocklist): DataFrame = {
    val set = Dict.sortedLongs(terms.map(md5LongScala).toArray)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        TextExpressions.bannedTokenCount(col("text"), set).as("n_banned"))
      .withColumn("keep",
        when(col("n_banned") === 0L, lit(1L)).otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  /** q93: tokenizer fertility per language — subwords emitted per word
    * under a fixed vocabulary, the metric tokenizer/mixture analyses
    * report per language (public: BLOOM and XLM tokenizer-fairness
    * studies; a language whose fertility is 2× pays 2× the sequence
    * budget for the same content, which feeds directly into mixture
    * weights). Composes the q91 fixed-merge encode with the stored
    * `lang` dimension: map-only per-doc counts → one tiny per-lang
    * aggregate; fixed-point micros division keeps it engine-exact. */
  def tokenizerFertility(spark: SparkSession, dir: String,
      merges: Seq[(String, String)] = Bpe.FixedMerges): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        tokenCount(col("text")).cast("long").as("n_words"),
        size(org.apache.spark.sql.graft.TextExpressions
          .bpeEncode(col("text"), merges)).cast("long").as("n_bpe"))
      .groupBy("lang")
      .agg(sum("n_words").as("n_words"), sum("n_bpe").as("n_bpe"))
      .withColumn("fertility_micros",
        expr("(n_bpe * 1000000L) div n_words"))
      .orderBy("lang")
}
