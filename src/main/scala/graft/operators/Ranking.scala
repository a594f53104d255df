package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Relevance ranking for the serving layer — Okapi BM25 (Robertson et
  * al., public literature; the default scorer of Lucene/Elasticsearch).
  * This is the real replacement for the reference's ES relevance
  * ordering (`PublisherMapperImpl.java:112-159` returns hits in ES score
  * order), which the detail-page operators had deliberately pinned to a
  * deterministic sort: [[bm25Rank]] reproduces score-ordered retrieval
  * with engine-replicable arithmetic.
  *
  * Scale shape: per-document stats (dl, per-term tf) are ONE fold over
  * the token array, map-side on the scan; corpus stats (N, avgdl, df_t)
  * are one tiny aggregate broadcast back; scoring is map-only; the top-N
  * is a k-bounded TakeOrdered heap — no global sort, no shuffle of the
  * corpus. Two passes over the corpus total (stats + scoring), with the
  * compact (doc_id, dl, tf*) carrier cached between them.
  */
object Ranking {

  /** Top-`topN` documents by BM25 score for `terms` (exact whitespace-
    * token match, like the serving layer's token-exact variant).
    * Output: (doc_id, score), score rounded to 4 dp, ordered by
    * (score desc, doc_id).
    *
    * Determinism contract with the oracle: dl/tf/df/N are integers held
    * in doubles (exact at any sum order); avgdl divides two exact
    * integers; every float op is a correctly-rounded IEEE +,-,*,/ applied
    * in the same textual order on both sides. The one transcendental is
    * `ln` in the idf — libm-identical in practice, and the score is
    * rounded to 4 dp on both sides before compare/order. */
  def bm25Rank(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "vector"),
      k1: Double = 1.2, b: Double = 0.75, topN: Int = 50): DataFrame =
    bm25RankOn(Tables.documents(spark, dir), terms, k1, b, topN)

  /** [[bm25Rank]] over an explicit (doc_id, text) relation. */
  def bm25RankOn(docs: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, topN: Int = 50): DataFrame =
    bm25ScoresOn(docs, terms, k1, b, requireAllTerms = false)
      .orderBy(desc("score"), col("doc_id"))
      .limit(topN)

  /** The unlimited core of [[bm25RankOn]]: (doc_id, score) for every
    * document containing at least one query term — or, with
    * `requireAllTerms`, EVERY term (the ES match-AND contract of the
    * serving layer). No ordering, no cut: callers that page (the ranked
    * detail endpoint) window this instead of top-N-ing it. */
  def bm25ScoresOn(docs: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75,
      requireAllTerms: Boolean = false): DataFrame = {
    require(terms.nonEmpty, "bm25Rank needs at least one query term")
    // ONE fold computes dl + every per-term tf: split-out Columns would
    // re-tokenize once per term (Catalyst does no CSE inside an
    // expression tree — same trap as TextFunctions.qualityScore)
    val zero = struct(
      (lit(0L).as("dl") +: terms.indices.map(i => lit(0L).as(s"tf$i"))): _*)
    val fold = aggregate(tokens(col("text")), zero,
      (acc, t) => struct(
        ((acc.getField("dl") + lit(1L)).as("dl") +:
          terms.zipWithIndex.map { case (term, i) =>
            (acc.getField(s"tf$i") +
              when(t === lit(term), lit(1L)).otherwise(lit(0L))).as(s"tf$i")
          }): _*))
    val tfCols: Seq[Column] =
      col("f.dl").as("dl") +: terms.indices.map(i => col(s"f.tf$i").as(s"tf$i"))
    val tfRel = graft.Caches.register(
      docs.select(col("doc_id"), fold.as("f"))
        .select((col("doc_id") +: tfCols): _*)
        .cache())
    val statCols: Seq[Column] =
      count(lit(1)).cast("double").as("n_docs") +:
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
          .as("avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, lit(1L)).otherwise(lit(0L)))
            .cast("double").as(s"df$i"))
    val stats = tfRel.agg(statCols.head, statCols.tail: _*)
    val joined = tfRel.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i")
      val idf = log(lit(1.0) + (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * (col("dl").cast("double") / col("avgdl"))))
    }.reduce(_ + _)
    val matched = terms.indices.map(i => col(s"tf$i") > 0)
      .reduce((x, y) => if (requireAllTerms) x && y else x || y)
    joined
      .where(matched)
      .select(col("doc_id"), graft.functions.TextFunctions.roundStable(score, 4).as("score"))
  }

  /** Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion
    * (Cormack et al., SIGIR 2009 — the standard ES/OpenSearch hybrid-
    * search combiner): the BM25 top-`kEach` list and the cosine-ANN
    * top-`kEach` list each contribute `1/(rrfK + rank)` and the fused
    * score orders the final cut. RRF needs only RANKS, never the two
    * engines' incomparable raw scores — which is exactly why serving
    * stacks use it to merge a keyword index with a vector index.
    *
    * Scale shape: both input lists are k-bounded TakeOrdered heaps over
    * map-only scoring scans (the [[bm25RankOn]] / `Similarity.topK`
    * plans, unchanged); everything after operates on ≤ 2·kEach rows —
    * the rank windows and the fusion aggregate are driver-trivial no
    * matter the corpus size. At 100 TB the vector side swaps in the
    * IVF/PQ partition-pruned scan and this fusion layer is untouched.
    *
    * Determinism contract: ranks are row_numbers over each list's
    * already-rounded (score, id) order — the same order the green q68 /
    * q26 oracles pin. Each contribution `1.0/(rrfK + rank)` is one IEEE
    * division on exact integer operands; the fused sum adds the two
    * terms in fixed textual order (lex + vec); rounded to 6 dp.
    *
    * Output: (doc_id, lex_rank, vec_rank, rrf), ranks null when the doc
    * appears in only one list, ordered by (rrf desc, doc_id), top-`topN`.
    */
  def hybridRrf(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "vector"), queryId: Long = 0L,
      kEach: Int = 50, rrfK: Int = 60, topN: Int = 20): DataFrame =
    rrfFuse(
      bm25Rank(spark, dir, terms, topN = kEach),
      Similarity.topK(spark, dir, queryId, k = kEach)
        .withColumnRenamed("vec_id", "doc_id"),
      rrfK, topN)

  /** Ceiling on either [[rrfFuse]] input's PROVABLE row bound. The
    * fusion layer single-partition-sorts its inputs, which is only
    * sane for k-bounded candidate lists; 100k rows sort in
    * milliseconds on one task, and no real `kEach` approaches it. */
  val MaxFuseListRows = 100000L

  /** The fusion core of [[hybridRrf]]: two (doc_id, score) candidate
    * LISTS (already k-bounded — this layer must never see a corpus
    * relation) → fused (doc_id, lex_rank, vec_rank, rrf) top-`topN`.
    *
    * The k-bounded precondition is MECHANICAL, not conventional: each
    * input's analyzed plan must PROVE a row bound ≤ [[MaxFuseListRows]]
    * (`maxRows` — a `limit()`/TakeOrdered anywhere under projections
    * provides it). An unbounded relation fails loudly at plan time
    * (zero execution cost) instead of silently funneling a corpus
    * through a single-task sort — the fuzzyPairs/cdcDedup
    * loud-failure discipline. */
  def rrfFuse(lex: DataFrame, vec: DataFrame,
      rrfK: Int = 60, topN: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def requireBounded(df: DataFrame, side: String): Unit = {
      val mr = df.queryExecution.analyzed.maxRows
      require(mr.exists(_ <= MaxFuseListRows),
        s"rrfFuse: the $side input does not prove a row bound <= " +
          s"$MaxFuseListRows (plan maxRows = ${mr.getOrElse("unbounded")})" +
          " — pass a limit()-bounded candidate list (bm25Rank/topK " +
          "shapes); fusing a corpus relation would single-task sort it")
    }
    requireBounded(lex, "lex")
    requireBounded(vec, "vec")
    // single-partition windows are fine HERE ONLY: both inputs are
    // k-bounded lists, not corpus relations (require-guarded above)
    val lexRanked = lex.select(col("doc_id"),
      row_number().over(Window.orderBy(desc("score"), col("doc_id")))
        .cast("long").as("lex_rank"),
      lit(null).cast("long").as("vec_rank"))
    val vecRanked = vec.select(col("doc_id"),
      lit(null).cast("long").as("lex_rank"),
      row_number().over(Window.orderBy(desc("score"), col("doc_id")))
        .cast("long").as("vec_rank"))
    val contrib = (r: Column) =>
      coalesce(lit(1.0) / (lit(rrfK).cast("double") + r.cast("double")),
        lit(0.0))
    lexRanked.unionByName(vecRanked)
      .groupBy("doc_id")
      .agg(min("lex_rank").as("lex_rank"), min("vec_rank").as("vec_rank"))
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        graft.functions.TextFunctions.roundStable(
          contrib(col("lex_rank")) + contrib(col("vec_rank")), 6).as("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))
      .limit(topN)
  }

  /** A4 in the reference's TRUE serving order. The reference's ES
    * returned detail hits in relevance-score order
    * (`PublisherMapperImpl.java:112-159`); the engine's `detailByItem`
    * had deliberately pinned a deterministic (l_orderkey, l_linenumber)
    * sort as the stand-in. This is the ranked mode: the sku corpus (the
    * part dim — one document per p_partkey, p_name analyzed exactly like
    * the q44 serving matcher: lowercased, split on non-alphanumerics) is
    * BM25-scored against the analyzed query; matching is AND over the
    * query terms (the q44 contract); lines of matched skus order by
    * (score desc, l_orderkey, l_linenumber) — fully deterministic, score
    * rounded to 4 dp — and the page window cuts.
    *
    * Scale shape: corpus stats are one aggregate over the part DIM (the
    * idf source, like an ES index), never lineitem; the scored match
    * set is a dim-sized broadcast into lineitem — J1's join shape with
    * a score column riding. */
  def detailByItemRanked(spark: SparkSession, dir: String,
      itemName: String, pageNo: Int = 1, pageSize: Int = 20): DataFrame = {
    val terms = itemName.toLowerCase.split("[^a-z0-9]+")
      .filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, s"no analyzable tokens in '$itemName'")
    // re-serialize the analyzed token array to whitespace form so the
    // fold's whitespace tokenizer sees exactly the analyzer's tokens
    val partDocs = Tables.part(spark, dir)
      .select(col("p_partkey").as("doc_id"),
        concat_ws(" ", array_remove(
          split(lower(col("p_name")), "[^a-z0-9]+"), "")).as("text"))
    val scored = bm25ScoresOn(partDocs, terms, requireAllTerms = true)
    val sk = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"))
      .join(broadcast(scored), col("p_partkey") === col("doc_id"))
    val li = Tables.lineitem(spark, dir)
    li.join(broadcast(sk), li("l_partkey") === sk("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("p_name").as("sku_name"),
        col("l_quantity").as("sku_num"),
        col("l_extendedprice").as("order_price"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("total_amount"),
        col("p_brand"), col("p_type"), col("score"))
      .orderBy(desc("score"), col("l_orderkey"), col("l_linenumber"))
      .offset((pageNo - 1) * pageSize)
      .limit(pageSize)
  }

  /** q129: positional phrase search — the ES `match_phrase` query of
    * the reference's serving index (exact consecutive-token
    * occurrence), as a native relational plan. Output: one row per
    * matching document — (doc_id, n_matches, first_pos), first_pos the
    * 0-based token index of the earliest occurrence — ordered by
    * doc_id.
    *
    * Scale shape: positional postings are generated ALREADY FILTERED —
    * a (pos, term) transform + in-array filter runs inside the scan
    * projection, so the explode emits only the phrase's own terms
    * (per-doc cost = one tokenize + an array filter; the corpus's
    * other tokens never become rows). Each later phrase term is one
    * equi-join on the composite (doc_id, pos − i) key — the
    * positional-intersection plan a phrase query runs against a
    * persisted postings index. At 100 TB the postings relation is what
    * you'd persist bucketed by term (the q56 file-IVF pattern); these
    * joins are then k bounded index lookups instead of scans. */
  def phraseSearch(spark: SparkSession, dir: String,
      phrase: Seq[String] = Seq("query", "big", "part")): DataFrame =
    phraseSearchOn(Tables.documents(spark, dir), phrase)

  /** [[phraseSearch]] over an explicit (doc_id, text) relation. */
  def phraseSearchOn(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs a non-empty phrase")
    val wanted = phrase.distinct
    // (pos, term) postings of the phrase's terms only: position-tag and
    // filter INSIDE the array, before anything becomes a row
    val indexed = filter(
      transform(tokens(col("text")),
        (t, i) => struct(i.cast("long").as("pos"), t.as("term"))),
      s => s.getField("term").isInCollection(wanted))
    val p = graft.Caches.register(
      docs.select(col("doc_id"), explode(indexed).as("e"))
        .select(col("doc_id"), col("e.pos").as("pos"),
          col("e.term").as("term"))
        .cache())
    phraseMatches(p, phrase)
  }

  /** The anchor-join phrase matcher shared by every read path (scan,
    * persisted index, post-takedown layout): term i must sit at
    * anchor+i ⇔ its (pos − i) equals the anchor — every step a keyed
    * equi-join, no inequality conditions anywhere. `p` is a
    * (doc_id, pos, term) postings relation already restricted to the
    * phrase's terms. */
  private[operators] def phraseMatches(p: DataFrame,
      phrase: Seq[String]): DataFrame = {
    val anchors = p.where(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val matches = phrase.zipWithIndex.tail.foldLeft(anchors) {
      case (acc, (t, i)) =>
        acc.join(
          p.where(col("term") === t)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    matches.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
      .orderBy("doc_id")
  }

  // ---- q131: phrase search against a PERSISTED postings index ------

  /** Default term-bucket count of the postings index. 64 keeps the
    * bucket directory count filesystem-friendly at any vocabulary size
    * while still pruning ~62/64 of the index for a 2-term phrase. */
  val PostingsBuckets: Int = 64

  /** Postings indexes: slot (dir, buckets), version the documents
    * fingerprint. A refresh hands the superseded directory to the
    * deferred reaper: deleted one full refresh later, so a scan that
    * obtained the old path before the refresh keeps its files. */
  private[graft] val postingsMemo = new graft.Memo[(String, Int), Long, String](
    retire = { case ((dir, nBuckets), stale) =>
      graft.IndexGc.retire(s"postings:$dir:$nBuckets", stale) })

  /** Materialize the POSITIONAL POSTINGS index: every (doc_id, pos,
    * term) row of the corpus, written partitioned by a crc32 term
    * bucket. This is the storage layout a phrase/proximity service
    * queries repeatedly — at 100 TB, [[phraseSearchFile]] reads only
    * the phrase's own term-bucket directories FROM DISK via partition
    * pruning (the q56 inverted-file pattern applied to text), instead
    * of re-tokenizing the corpus per query. One shuffle-free pass:
    * tokenize + posexplode + bucket tag are map-only, partitionBy
    * splits the write. */
  def buildPostingsFile(spark: SparkSession, dir: String, outPath: String,
      nBuckets: Int = PostingsBuckets): Unit =
    writePostings(Tables.documents(spark, dir), outPath, nBuckets)

  /** [[buildPostingsFile]] over an explicit (doc_id, text) relation. */
  private[graft] def writePostings(docs: DataFrame, outPath: String,
      nBuckets: Int = PostingsBuckets): Unit =
    postingsPlan(docs, nBuckets)
      .write.mode("overwrite").partitionBy("bkt").parquet(outPath)

  /** The map-only postings projection both the build and the append
    * write: (doc_id, pos, term, bkt). */
  private[operators] def postingsPlan(docs: DataFrame, nBuckets: Int): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("term"),
        pmod(crc32(col("term")), lit(nBuckets.toLong)).as("bkt"))

  /** The materialized postings index for `dir`: built on first request,
    * reused for the JVM lifetime — until the source data changes
    * (fingerprint key, the [[IvfIndex.invertedFileCached]] discipline:
    * a refresh writes a NEW directory, never overwrites one a
    * concurrent search may be scanning). */
  def postingsFileCached(spark: SparkSession, dir: String,
      nBuckets: Int = PostingsBuckets): String = {
    val fp = Tables.fingerprint(dir, "documents")
    postingsMemo.get((dir, nBuckets), fp) {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val p = sys.props("java.io.tmpdir") +
        s"/graft-postings-$tag-b$nBuckets-f${java.lang.Long.toHexString(fp)}"
      buildPostingsFile(spark, dir, p, nBuckets)
      p
    }
  }

  /** Incremental ingest: tokenize NEW documents and append their
    * postings into the existing term-bucket partitions — the CDC path
    * of a phrase-search service (the [[IvfIndex.appendToInvertedFile]]
    * discipline applied to text). Appending files into `bkt=<b>/`
    * directories is reader-safe: a concurrent [[phraseSearchFile]]
    * lists files at query start and simply misses rows committed after
    * that listing — no torn index. Works per micro-batch from
    * `foreachBatch` for streaming ingest. Map-only: tokenize +
    * posexplode + bucket tag, partitionBy splits the write. */
  def appendToPostingsFile(newDocs: DataFrame, indexPath: String,
      nBuckets: Int = PostingsBuckets): Unit =
    postingsPlan(newDocs, nBuckets)
      .write.mode("append").partitionBy("bkt").parquet(indexPath)

  /** The crc32 term bucket, driver-side — java.util.zip.CRC32 over
    * UTF-8 bytes is bit-identical to Spark's `crc32`. */
  private def termBucket(term: String, nBuckets: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes("UTF-8"))
    java.lang.Math.floorMod(c.getValue, nBuckets.toLong)
  }

  /** q131: [[phraseSearch]] served from the persisted postings index —
    * same answer, different read path: the `bkt isin` filter prunes
    * whole bucket directories at the scan (disk-level
    * `PartitionFilters`), then the in-bucket `term isin` filter pushes
    * into parquet. The corpus text is never touched. */
  def phraseSearchIndexed(spark: SparkSession, dir: String,
      phrase: Seq[String] = Seq("query", "big", "part"),
      nBuckets: Int = PostingsBuckets): DataFrame = {
    val path = postingsFileCached(spark, dir, nBuckets)
    phraseSearchFile(spark, path, phrase, nBuckets)
  }

  /** [[phraseSearchIndexed]] against an explicit index path. */
  def phraseSearchFile(spark: SparkSession, indexPath: String,
      phrase: Seq[String], nBuckets: Int = PostingsBuckets): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs a non-empty phrase")
    val wanted = phrase.distinct
    val buckets = wanted.map(termBucket(_, nBuckets)).distinct
    val p = graft.Caches.register(
      spark.read.parquet(indexPath)
        .where(col("bkt").isin(buckets: _*))   // partition pruning
        .where(col("term").isInCollection(wanted)) // parquet pushdown
        .select(col("doc_id"), col("pos"), col("term"))
        .cache())
    phraseMatches(p, phrase)
  }

  /** The crc32 term buckets of a phrase, driver-side (see
    * [[termBucket]]) — shared with the takedown path's bucket-pruned
    * read over a manifest-versioned postings layout. */
  private[operators] def phraseBuckets(phrase: Seq[String],
      nBuckets: Int = PostingsBuckets): Seq[Long] =
    phrase.distinct.map(termBucket(_, nBuckets)).distinct

  /** q130: more-like-this — doc-to-doc retrieval (the ES
    * `more_like_this` query): pick the query document's `m` most
    * characteristic terms, then rank every other document sharing at
    * least one by a BM25-shaped integer score. Output: top-`topN`
    * (doc_id, score_micros, n_shared) by (score desc, doc_id).
    *
    * Log-free fixed point (the q127 discipline applied to retrieval
    * scoring, so both engines rank on exact integers):
    *  - term weight `idf_ppm = (N·10⁶) div df_t` — the log-free rarity
    *    surrogate (strictly decreasing in df, like idf);
    *  - characteristic terms: top-m by `tf_q · idf_ppm`, ties by term;
    *  - BM25 tf saturation with k1 = 6/5, b = 3/4, cleared of its
    *    divisions: tf(k1+1)/(tf + k1(1−b) + k1·b·dl/avgdl) with
    *    avgdl = Σdl/N is exactly the rational
    *    (22·tf·Σdl) / (10·tf·Σdl + 3·Σdl + 9·dl·N), held in micros;
    *  - score_micros = (Σ_t idf_ppm · sat_micros) div 10⁶ — an exact
    *    integer sum, so engine- and order-independent (no float, no
    *    libm anywhere on the ranking boundary). 128-bit intermediates
    *    (DECIMAL(38,0) / HUGEINT) keep the products exact at any SF.
    *
    * Scale shape: one tokenize pass into a (doc_id, term, tf) carrier
    * (cached — read by dl, df, query-term selection, and scoring);
    * corpus totals are a 1-row broadcast; the m query terms are an
    * m-row broadcast probed into the inverted (term → doc) side of the
    * carrier — only docs sharing a characteristic term ever shuffle;
    * the top-N is a bounded heap, not a sort. */
  def moreLikeThis(spark: SparkSession, dir: String,
      queryDocId: Long = 1L, m: Int = 10, topN: Int = 20): DataFrame =
    moreLikeThisOn(Tables.documents(spark, dir), queryDocId, m, topN)

  /** [[moreLikeThis]] over an explicit (doc_id, text) relation. */
  def moreLikeThisOn(docs: DataFrame, queryDocId: Long, m: Int,
      topN: Int): DataFrame = {
    require(m > 0, "moreLikeThis needs a positive m")
    require(topN > 0, "moreLikeThis needs a positive topN")
    // per-doc term frequencies computed MAP-SIDE (term_freqs kernel —
    // counting within a doc is a function of the row): the old
    // explode→groupBy(doc, term) exchange is gone, the doc length rides
    // the same row (no dl aggregation, no dl join), and the cached
    // carrier is one row per doc. Only the df aggregation still
    // shuffles — term df is genuinely cross-doc.
    val byDoc = graft.Caches.register(
      ScanPar.spread(docs)
        .select(col("doc_id"),
          graft.functions.TextFunctions.termFreqs(col("text")).as("tfs"))
        .withColumn("dl", expr("aggregate(tfs, 0L, (a, x) -> a + x.tf)"))
        .cache())
    // totals over docs WITH tokens only — the old dl relation had no
    // row for an empty doc, and n_docs feeds the idf
    val totals = byDoc.where(size(col("tfs")) > 0)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl")) // 1 row — broadcast scalar
    val dft = byDoc.select(explode(col("tfs.term")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    // the query doc's vocabulary is dl-bounded (one doc!), so the
    // unpartitioned top-m window never sees more than one doc's terms
    val qTerms = byDoc.where(col("doc_id") === queryDocId)
      .select(explode(col("tfs")).as("t"))
      .select(col("t.term").as("term"), col("t.tf").as("tf"))
      .join(dft, Seq("term"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_ppm", expr("(n_docs * 1000000L) div df"))
      .withColumn("__rn", row_number().over(
        Window.orderBy((col("tf") * col("idf_ppm")).desc, col("term").asc)))
      .where(col("__rn") <= m)
      .select(col("term"), col("idf_ppm"))
    byDoc.where(col("doc_id") =!= queryDocId)
      .select(col("doc_id"), col("dl"), explode(col("tfs")).as("t"))
      .select(col("doc_id"), col("dl"), col("t.term").as("term"),
        col("t.tf").as("tf"))
      .join(broadcast(qTerms), Seq("term"))
      .crossJoin(broadcast(totals))
      .withColumn("sat_micros", expr(
        "CAST((CAST(22 AS DECIMAL(38,0)) * tf * sum_dl * 1000000) div " +
          "(CAST(10 AS DECIMAL(38,0)) * tf * sum_dl + 3 * sum_dl " +
          "+ 9 * dl * n_docs) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(
        expr("CAST(SUM(CAST(idf_ppm AS DECIMAL(38,0)) * sat_micros) " +
          "div 1000000 AS BIGINT)").as("score_micros"),
        count(lit(1)).as("n_shared"))
      .orderBy(desc("score_micros"), col("doc_id"))
      .limit(topN)
  }
}
