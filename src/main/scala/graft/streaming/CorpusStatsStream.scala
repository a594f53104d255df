package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{FuzzyJoin, TextAnalysis}

/** Streaming twin of the corpus text-statistics family (q127 PMI
  * collocations / q128 fuzzy entity linking): incremental
  * unigram/bigram count accumulation over a document stream +
  * on-demand snapshots, pinned bit-equal to the batch operators on
  * the accumulated corpus.
  *
  * Unlike the graph twin ([[GraphStream]]), NO keyed state is needed:
  * documents arrive whole (one row = one document's full text), so
  * every bigram is intra-row and token counts are purely additive —
  * each epoch writes its count partials as `uni/epoch=<id>` and
  * `big/epoch=<id>` (overwrite-own-partition, so crash replay
  * converges), and a snapshot is one sum over the partials feeding
  * the SHARED ranking/linking stages ([[TextAnalysis.pmiRank]],
  * [[FuzzyJoin.fuzzyLinkOn]] — same 128-bit lift arithmetic, same
  * (dist, name) tie rules), hence bit-identical to the batch
  * operators over all documents streamed so far (spec-pinned,
  * including replayed epochs).
  *
  * One accumulated artifact serves BOTH snapshots: mentions are the
  * bigram counts under the injective `(a, b) → "a b"` concatenation
  * (tokens are whitespace-split, so neither side contains a space).
  * Epoch partials are vocab²-bounded while the document history they
  * summarize is unbounded — the same scale argument as the graph
  * twin's edge relation. Single writer per `outDir`, like every
  * accumulated-corpus sink. */
object CorpusStatsStream {

  /** foreachBatch sink: this epoch's unigram and bigram count
    * partials under `outDir`. Batch rows need a `text` column.
    * Usage: `.writeStream.foreachBatch(CorpusStatsStream.countsSinkEachBatch(dir) _)`. */
  def countsSinkEachBatch(outDir: String)
      (batch: DataFrame, epochId: Long): Unit = {
    import graft.functions.TextFunctions.tokens
    // one tokenize feeds both partials; persist so the micro-batch
    // source is read once, not twice
    val (uni, big) = stores(batch.sparkSession, outDir)
    val toks = batch.select(tokens(col("text")).as("l")).persist()
    try {
      uni.write(epochId, toks.select(explode(col("l")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n")))
      big.write(epochId, TextAnalysis.bigrams(toks)
        .groupBy("a", "b").agg(count(lit(1)).as("n_ab")))
    } finally toks.unpersist(blocking = false)
  }

  private def stores(spark: SparkSession, outDir: String)
      : (EpochStore, EpochStore) =
    (EpochStore(spark, s"$outDir/uni", "unigram count store"),
      EpochStore(spark, s"$outDir/big", "bigram count store"))

  /** The accumulated counts under `outDir`: total unigram and bigram
    * counts (one sum-aggregation over the epoch partials each). */
  def accumulatedCounts(spark: SparkSession, outDir: String)
      : (DataFrame, DataFrame) = {
    val (uni, big) = stores(spark, outDir)
    (uni.read().groupBy("w").agg(sum(col("n")).as("n")),
      big.read().groupBy("a", "b").agg(sum(col("n_ab")).as("n_ab")))
  }

  /** PMI collocations over everything streamed into `outDir` so far —
    * bit-identical to [[TextAnalysis.pmiCollocationsOn]] over the
    * same documents (shared ranking stage; spec-pinned). */
  def collocationSnapshot(spark: SparkSession, outDir: String,
      minCount: Long = 5L, topK: Int = 100): DataFrame = {
    val (ucnt, bcnt) = accumulatedCounts(spark, outDir)
    TextAnalysis.pmiRank(ucnt, bcnt, minCount, topK)
  }

  /** Fuzzy entity linking of every mention streamed into `outDir` so
    * far against `dim(name)` — bit-identical to
    * [[FuzzyJoin.fuzzyLinkOn]] over the same documents (shared
    * machinery; spec-pinned). */
  def entityLinkSnapshot(spark: SparkSession, outDir: String,
      dim: DataFrame, maxDist: Int = 2): DataFrame = {
    val (_, bcnt) = accumulatedCounts(spark, outDir)
    // (a, b) → "a b" is injective (no whitespace inside a token), so
    // the grouped bigram counts ARE the distinct mention counts
    val mentions = bcnt.select(
      concat(col("a"), lit(" "), col("b")).as("mention"),
      col("n_ab").as("n_occ"))
    FuzzyJoin.fuzzyLinkOn(mentions, dim, maxDist)
  }
}
