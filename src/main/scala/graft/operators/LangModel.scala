package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Dict, TextExpressions}
import graft.Tables
import graft.functions.TextFunctions._

/** Statistical language-model scoring over `documents` — the CCNet-style
  * "perplexity filter" stage of a training-data pipeline: train a cheap
  * n-gram model on a trusted reference slice, score every corpus document
  * by how surprising its text is under that model, and let curation keep
  * the head/middle of the distribution (public recipe: CCNet, Wenzek et
  * al. 2020, which scores Common Crawl against a Wikipedia-trained
  * KenLM model; no reference-repo counterpart — north-star extension).
  *
  * Log-free fixed-point arithmetic, same trick as the q64 rarity score:
  * instead of summing float log-probabilities (whose libm rounding could
  * diverge between engines), each bigram contributes the INTEGER
  * inverse-probability `((c1 + V) * 1e6) div (c2 + 1)` — the reciprocal
  * of an add-one-smoothed conditional P(w2|w1) in millionths. Long sums
  * of those are exact and order-independent, so Spark's partial
  * aggregation and DuckDB's single-threaded fold agree bit-for-bit; the
  * per-doc mean stays integer too (`div`, micros) — an earlier
  * `round(double, 6)` variant differed from DuckDB in the last digit at
  * a half-boundary, the usual cross-engine float-rounding trap. The
  * score is a monotone proxy for perplexity (it is the arithmetic
  * rather than geometric mean of inverse probabilities), which is all a
  * rank-and-threshold curation gate needs.
  *
  * Scale shape (100 TB): the reference slice is a fixed trusted corpus
  * (Wikipedia-sized, ~10⁹–10¹⁰ tokens), so the model tables (`uni`,
  * `bi`) are corpus-stat-sized, not corpus-sized — far smaller than the
  * scored text but too big to broadcast; both lookups are shuffle
  * equi-joins on token keys, the word-count shape that AQE skew-handles
  * (stopword keys are hot). The scored side aggregates per-doc bigram
  * counts BEFORE joining (map-side combine), so join input is distinct
  * bigrams per doc, not token positions. Fixed-point headroom: `(c1+V) *
  * 1e6` stays inside a signed 64-bit Long while the reference slice has
  * under ~9×10¹² occurrences of a single token — four orders of
  * magnitude above a Wikipedia-scale reference; for a truly giant
  * reference, drop the multiplier to 1e3 and rescale the final divide.
  */
object LangModel {

  /** Adjacent-token bigrams of a token-array column, as structs
    * `(w1, w2)` — `zip_with` over the two off-by-one slices, one pass,
    * no per-element re-tokenization (the q69 lesson: the slices are
    * attributes of a materialized token array, not recomputed chains). */
  private def bigramsOf(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))

  /** A collected bigram model for MAP-SIDE scoring (the streaming /
    * serving twin of the q87 join plan): unigram counts, bigram counts
    * keyed `"w1 w2"` (tokens cannot contain whitespace, so the join is
    * injective), and the vocab size. Bounded by [[trainModel]]'s caps —
    * the CCNet deployment shape, where the trained reference model is a
    * fixed artifact shipped to workers. */
  final case class BigramModel(uni: Map[String, Long],
      bi: Map[String, Long], v: Long)

  /** Train a [[BigramModel]] by collecting the model tables under loud
    * caps. The caps are a CONTRACT, not a truncation: silently dropping
    * tail bigrams would change scores, so an over-cap reference fails
    * with instructions to use the join-based batch scorer (whose model
    * tables never leave the cluster) or shrink the reference slice.
    * Wikipedia-scale references fit comfortably (~10⁷ unigrams / ~10⁸
    * bigrams of a few tens of bytes each is single-digit GB — the same
    * order as the KenLM artifacts CCNet ships to every worker). */
  def trainModel(spark: SparkSession, dir: String, refLang: String = "en",
      maxUnigrams: Int = 10000000, maxBigrams: Int = 50000000)
      : BigramModel =
    trainModelOn(Tables.documents(spark, dir), refLang, maxUnigrams,
      maxBigrams)

  /** [[trainModel]] over an explicit documents relation (the corpus-
    * build composition trains on the SCRUBBED corpus, not the raw
    * table). */
  def trainModelOn(documents: DataFrame, refLang: String = "en",
      maxUnigrams: Int = 10000000, maxBigrams: Int = 50000000)
      : BigramModel = {
    val docs = documents
      .select(col("lang"), tokens(col("text")).as("toks"))
    val (uni, bi) = modelTables(docs.filter(col("lang") === refLang))
    val uniRows = uni.limit(maxUnigrams + 1).collect()
    require(uniRows.length <= maxUnigrams,
      s"reference vocabulary exceeds maxUnigrams=$maxUnigrams: use the " +
        "join-based LangModel.perplexityScore or a smaller reference")
    val biRows = bi.limit(maxBigrams + 1).collect()
    require(biRows.length <= maxBigrams,
      s"reference bigram table exceeds maxBigrams=$maxBigrams: use the " +
        "join-based LangModel.perplexityScore or a smaller reference")
    BigramModel(
      uniRows.map(r => r.getString(0) -> r.getLong(1)).toMap,
      biRows.map(r => s"${r.getString(0)} ${r.getString(1)}" -> r.getLong(2))
        .toMap,
      uniRows.length.toLong)
  }

  /** Map-only score column under a collected model — bit-identical to
    * the q87 join plan (summing per-position inverse probabilities
    * equals summing per-distinct-bigram ip·tf; integer div). NULL for
    * docs with fewer than two tokens. */
  def scoreColumn(model: BigramModel, text: Column): Column =
    TextExpressions.perplexityMicros(text,
      Dict.strings(model.uni), Dict.strings(model.bi), model.v)

  /** q94: language identification BY language model — the CCNet
    * composition this family exists for: train one bigram model per
    * language slice, score every document under ALL of them, predict
    * the language whose model is least perplexed (ties → lang asc).
    * Beats the q19 stopword heuristic wherever languages share an
    * alphabet but not bigram statistics.
    *
    * Scale shape — the HIT/MISS DECOMPOSITION (the round-9 verdict's
    * q94 growth bound, solved exactly instead of heuristically): the
    * naive formulation crosses every doc-bigram with every language
    * and pays the smoothing arithmetic for all |bigrams|·L rows — the
    * one shape in the suite whose sf1 growth exponent exceeded its
    * data growth. But almost all of those rows are MISSES, and a
    * miss's score is a closed form: when language L has never seen
    * w1, ip = (0+v_L)·1e6 div (0+1) = v_L·1e6 exactly. So the join
    * only materializes HIT rows — `corpusBg ⋈ uni` on w1 is an INNER
    * join whose mass is the shared-vocabulary overlap (each token
    * meets only the languages that contain it), with the bigram table
    * left-joined below it — and the per-(doc, lang) score assembles
    * arithmetically:
    *
    *   ppx(d, L) = (Σ_hit ip·tf  +  (T_d − h1) · v_L · 1e6)  div  T_d
    *
    * where T_d is the doc's bigram mass and h1 the mass whose w1 the
    * language has seen. The ×L factor survives only in the final
    * assembly — one thin (docs × L) relation of three longs, against
    * a broadcast language list — not in the token-level join. Per-row
    * integer ops are identical to the naive product (per-position div
    * first, order-free Long sums), so the result is bit-identical;
    * LangModelMixSpec pins it against [[lmLangIdProduct]] and the
    * oracle replays the naive product wholesale. The per-doc argmin is
    * an exact integer `min(struct(ppx, lang))` aggregate, not a
    * window. Docs with fewer than two tokens are absent (q87's
    * contract). */
  def lmLangId(spark: SparkSession, dir: String): DataFrame = {
    val (vdf, totals, hit) = langIdParts(spark, dir)
    totals.crossJoin(broadcast(vdf))
      .join(hit, Seq("doc_id", "lang"), "left")
      .withColumn("ppx",
        expr("(coalesce(hs, 0L) + (t - coalesce(h1, 0L)) * v * 1000000L)" +
          " div t"))
      .groupBy("doc_id")
      .agg(min(struct(col("ppx"), col("lang"))).as("best"))
      .select(col("doc_id"), col("best.lang").as("pred_lang"),
        col("best.ppx").as("ppx_micros"))
      .orderBy("doc_id")
  }

  /** The decomposed relations behind [[lmLangId]]: per-lang vocab
    * sizes `vdf(lang, v)`, per-doc bigram mass `totals(doc_id, t)`,
    * and the hit aggregate `hit(doc_id, lang, hs, h1)` (hs = Σ ip·tf
    * over positions whose w1 the language has seen; h1 = that mass). */
  private def langIdParts(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val uni = docs
      .select(col("lang"), explode(col("toks")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c1"))
    val vdf = uni.groupBy("lang").agg(count(lit(1)).as("v"))
    val bi = docs
      .filter(size(col("toks")) > 1)
      .select(col("lang"), explode(bigramsOf(col("toks"))).as("bg"))
      .groupBy(col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    val corpusBg = docs
      .filter(size(col("toks")) > 1)
      .select(col("doc_id"), explode(bigramsOf(col("toks"))).as("bg"))
      .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("tf"))
    val totals = corpusBg.groupBy("doc_id").agg(sum(col("tf")).as("t"))
    val hit = corpusBg
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .join(bi, Seq("lang", "w1", "w2"), "left")
      .join(broadcast(vdf), Seq("lang"))
      .withColumn("ip",
        expr("((c1 + v) * 1000000L) div (coalesce(c2, 0L) + 1L)"))
      .groupBy("doc_id", "lang")
      .agg(sum(expr("ip * tf")).as("hs"), sum(col("tf")).as("h1"))
    (vdf, totals, hit)
  }

  /** The naive ×L product formulation — every doc-bigram crossed with
    * every language — kept as the spec's independent arithmetic
    * witness: LangModelMixSpec asserts [[lmLangId]]'s decomposition
    * reproduces it exactly. Not used in any query plan (its join mass
    * is |bigrams|·L regardless of vocabulary overlap). */
  private[operators] def lmLangIdProduct(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val uni = docs
      .select(col("lang"), explode(col("toks")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c1"))
    val vdf = uni.groupBy("lang").agg(count(lit(1)).as("v"))
    val bi = docs
      .filter(size(col("toks")) > 1)
      .select(col("lang"), explode(bigramsOf(col("toks"))).as("bg"))
      .groupBy(col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    val langs = docs.select("lang").distinct()
    val corpusBg = docs
      .filter(size(col("toks")) > 1)
      .select(col("doc_id"), explode(bigramsOf(col("toks"))).as("bg"))
      .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("tf"))
    corpusBg
      .crossJoin(broadcast(langs))
      .join(uni.withColumnRenamed("w", "w1"), Seq("lang", "w1"), "left")
      .join(bi, Seq("lang", "w1", "w2"), "left")
      .join(broadcast(vdf), Seq("lang"))
      .withColumn("ip",
        expr("((coalesce(c1, 0L) + v) * 1000000L) div (coalesce(c2, 0L) + 1L)"))
      .groupBy("doc_id", "lang")
      .agg(expr("sum(ip * tf) div sum(tf)").as("ppx"))
      .groupBy("doc_id")
      .agg(min(struct(col("ppx"), col("lang"))).as("best"))
      .select(col("doc_id"), col("best.lang").as("pred_lang"),
        col("best.ppx").as("ppx_micros"))
      .orderBy("doc_id")
  }

  /** The model tables of the (already filtered) reference slice:
    * (`uni(w, c1)`, `bi(w1, w2, c2)`). */
  private def modelTables(train: DataFrame): (DataFrame, DataFrame) = {
    val uni = train
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bi = train
      .filter(size(col("toks")) > 1)
      .select(explode(bigramsOf(col("toks"))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    (uni, bi)
  }

  /** Per-document perplexity proxy under a bigram model trained on the
    * `refLang` slice: `(doc_id, n_bigrams, ppx_micros)` where
    * `ppx_micros` is the mean inverse smoothed bigram probability in
    * millionths (≥ 1e6; higher = more surprising), kept integer so the
    * score is bit-stable across engines. Documents with fewer than two
    * tokens have no bigrams and are absent from the output (nothing to
    * score — same contract as the oracle's inner GROUP BY).
    */
  def perplexityScore(spark: SparkSession, dir: String,
      refLang: String = "en"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    perplexityScoreAgainst(docs, docs.filter(col("lang") === refLang))
  }

  /** The production shape: score `corpus` under a model trained on a
    * SEPARATE `reference` relation (CCNet trains on Wikipedia, scores
    * Common Crawl) — at 100 TB the reference is a fixed trusted corpus,
    * so the model tables are constant while only the scored side grows.
    * Both inputs carry (doc_id, text); q87 is this with the reference
    * being the corpus's own `lang = 'en'` slice. Join-based (no size
    * cap on the reference) — for a model that fits the [[trainModel]]
    * caps, [[scoreColumn]] is the map-only equivalent, bit-identical. */
  def perplexityScoreAgainst(corpus: DataFrame, reference: DataFrame)
      : DataFrame = {
    // tokenize+bigram map passes must not serialize behind one scan split
    val docs = ScanPar.spread(corpus)
      .select(col("doc_id"), tokens(col("text")).as("toks"))

    // Model tables from the trusted slice. `c1` counts every occurrence
    // of the token in the reference (plain unigram frequency, documented
    // choice — not just context positions); V is the distinct vocab.
    val (uni, bi) = modelTables(
      ScanPar.spread(reference).select(tokens(col("text")).as("toks")))
    val vdf = uni.agg(count(lit(1)).as("v")) // 1 row — broadcast scalar

    // Scored side: per-doc distinct bigrams with tf (map-side combine
    // shrinks the join input to distinct bigrams, not token positions).
    val corpusBg = docs
      .filter(size(col("toks")) > 1)
      .select(col("doc_id"), explode(bigramsOf(col("toks"))).as("bg"))
      .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("tf"))

    corpusBg
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"), "left")
      .join(bi, Seq("w1", "w2"), "left")
      .crossJoin(broadcast(vdf))
      .withColumn("ip", // inverse smoothed P(w2|w1), in millionths
        expr("((coalesce(c1, 0L) + v) * 1000000L) div (coalesce(c2, 0L) + 1L)"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        expr("sum(ip * tf) div sum(tf)").as("ppx_micros"))
      .orderBy("doc_id")
  }

  // ---- odds-ratio quality classifier (q103) -------------------------

  /** Weight clamp for [[oddsWeights]]: a token seen only in the
    * positive class with a near-zero negative rate would otherwise get
    * an unbounded ratio, and `Σ occ·w` must stay inside a Long for any
    * real document (≤ 10⁶ tokens × 10¹² < 2⁶³). Part of the score's
    * definition — the oracle replays it. */
  val MaxOddsWeightMicros = 1000000000000L

  /** Distinct-vocabulary cap for broadcasting the weight table in
    * [[oddsQuality]] (the q64 measured-guard contract). */
  val MaxBroadcastOddsVocab = 2000000L

  /** q103: supervised odds-ratio quality classifier — the closed-form
    * stand-in for the fastText-style "looks like the trusted corpus"
    * filter (GPT-3 / LLaMA pipelines train a linear classifier between
    * a trusted slice and the raw crawl; here the trusted slice is the
    * `posLang` documents). Training is ONE aggregation: per-token
    * occurrence counts in each class. A token's weight is its add-one-
    * smoothed class-rate ratio in fixed point —
    *   `rate_c = (cnt_c + 1) · 10⁹ div (N_c + V)` (occurrences per
    *   10⁹-token class, Laplace-smoothed), then
    *   `w = min(rate_pos · 10⁶ div max(rate_neg, 1), clamp)` —
    * and a document scores the integer MEAN weight over its token
    * occurrences (micros; ≥ 10⁶ leans positive). Every step is integer
    * floor arithmetic, so Spark's partial aggregation and the DuckDB
    * oracle agree bit-for-bit; like the perplexity and TF-IDF scores,
    * this is a monotone ratio-space proxy for the log-space naive-Bayes
    * sum (documented deviation — rank-and-threshold gates only need
    * monotonicity).
    *
    * Scale shape: one tokenization feeds a (doc_id, token) tf carrier;
    * the model is ONE token-keyed aggregation over it (corpus-stat-
    * sized); class totals ride a broadcast 1-row scalar; the scoring
    * join broadcasts the weight table under a measured vocab guard
    * (shuffled hash join + AQE skew splitting above it); the per-doc
    * mean re-aggregates on doc_id. Headroom: `(cnt+1)·10⁹` holds to
    * ~9×10⁹ occurrences of one token per class — shrink the rate scale
    * for a corpus beyond that (the q64 contract).
    *
    * Output: (doc_id, n_tokens, score_micros, pred); empty docs emit
    * no row. */
  def oddsQuality(spark: SparkSession, dir: String,
      posLang: String = "en",
      maxBroadcastVocab: Long = MaxBroadcastOddsVocab): DataFrame = {
    // per-doc token counts computed MAP-SIDE (term_freqs kernel): the
    // old explode→groupBy(doc, lang, tok) aggregation exchange is gone
    // — the carrier is the same (doc_id, lang, tok, occ) relation,
    // derived per row inside the scan stage
    val carrier = graft.Caches.register(
      ScanPar.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.TextFunctions.termFreqs(col("text")))
            .as("t"))
        .select(col("doc_id"), col("lang"), col("t.term").as("tok"),
          col("t.tf").as("occ"))
        .cache())
    val model = carrier.groupBy("tok").agg(
      sum(when(col("lang") === posLang, col("occ")).otherwise(0L))
        .as("cp"),
      sum(when(col("lang") =!= posLang, col("occ")).otherwise(0L))
        .as("cn"))
    val tot = model.agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
      count(lit(1)).as("v"))
    val weights = model.crossJoin(broadcast(tot))
      .select(col("tok"),
        oddsWeightExpr(MaxOddsWeightMicros).as("w"))
    val nVocab = weights.count()
    val wSide =
      if (nVocab <= maxBroadcastVocab) broadcast(weights)
      else {
        System.err.println(
          s"[graft] oddsQuality: $nVocab distinct tokens (> cap " +
            s"$maxBroadcastVocab) — weight side falls back to a " +
            "shuffled join")
        weights.hint("shuffle_hash")
      }
    carrier.join(wSide, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_tokens"),
        expr("sum(occ * w)").as("mass"))
      .select(col("doc_id"), col("n_tokens"),
        expr("mass div n_tokens").as("score_micros"))
      .withColumn("pred",
        when(col("score_micros") >= 1000000L, lit(1L)).otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  /** The weight formula as one SQL expression over (cp, cn, np, nn, v)
    * — shared by the batch plan and [[trainOdds]] so they cannot
    * drift. */
  private def oddsWeightExpr(clamp: Long): Column =
    expr(
      s"""least(
            ((cp + 1L) * 1000000000L div (np + v)) * 1000000L
              div greatest((cn + 1L) * 1000000000L div (nn + v), 1L),
            ${clamp}L)""")

  /** A collected odds model for MAP-SIDE scoring (the streaming /
    * serving twin): per-token weights plus the zero-count default for
    * unseen tokens. Bounded by a loud cap, the [[trainModel]]
    * contract. */
  final case class OddsModel(weights: Map[String, Long], default: Long)

  /** Train an [[OddsModel]] on the corpus at `dir` (positive class =
    * `posLang` documents). The collected table is the same weight
    * relation the batch plan joins, so [[oddsScoreColumn]] reproduces
    * [[oddsQuality]] bit-for-bit on any doc whose tokens the model has
    * seen. */
  def trainOdds(spark: SparkSession, dir: String, posLang: String = "en",
      maxVocab: Int = 2000000): OddsModel =
    trainOddsOn(Tables.documents(spark, dir), posLang, maxVocab)

  /** [[trainOdds]] over an explicit documents relation. */
  def trainOddsOn(documents: DataFrame, posLang: String = "en",
      maxVocab: Int = 2000000): OddsModel = {
    val carrier = documents
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
    val model = carrier.groupBy("tok").agg(
      sum(when(col("lang") === posLang, lit(1L)).otherwise(0L)).as("cp"),
      sum(when(col("lang") =!= posLang, lit(1L)).otherwise(0L)).as("cn"))
    val tot = model.agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
      count(lit(1)).as("v"))
    val rows = model.crossJoin(broadcast(tot))
      .select(col("tok"), oddsWeightExpr(MaxOddsWeightMicros).as("w"))
      .limit(maxVocab + 1).collect()
    require(rows.length <= maxVocab,
      s"classifier vocabulary exceeds maxVocab=$maxVocab: use the " +
        "join-based LangModel.oddsQuality or cap the corpus slice")
    val Array(np, nn, v) = tot.collect().head.toSeq
      .map(_.asInstanceOf[Long]).toArray
    val default = math.min(
      (1000000000L / (np + v)) * 1000000L
        / math.max(1000000000L / (nn + v), 1L),
      MaxOddsWeightMicros)
    OddsModel(rows.map(r => r.getString(0) -> r.getLong(1)).toMap, default)
  }

  /** Map-only score column under a collected [[OddsModel]] —
    * bit-identical to the q103 join plan wherever the model's
    * vocabulary covers the doc. NULL for empty docs. */
  def oddsScoreColumn(model: OddsModel, text: Column): Column =
    TextExpressions.oddsScoreMicros(text, Dict.strings(model.weights),
      model.default)
}
