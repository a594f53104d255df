package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Byte-pair-encoding vocabulary induction (Sennrich et al., ACL 2016,
  * arXiv:1508.07909) — the tokenizer-training stage of a training-data
  * pipeline, architected the way production trainers work at corpus
  * scale:
  *
  *   1. the CORPUS pass is distributed and bounded: one word-count
  *      aggregation (the only shuffle — word-count is the canonical
  *      map-side-combine shape, linear in input splits), then the top
  *      `vocabCap` word forms by (count, word) are collected — the
  *      deterministic, measured bound (default 100k forms ≈ a few MB;
  *      the long tail of hapax noise contributes nothing to merge
  *      statistics at any corpus size);
  *   2. the MERGE LOOP runs on the driver over that bounded
  *      word-frequency table — each round is O(vocab·len), micro-
  *      seconds, so iterating it cluster-wide would schedule hundreds
  *      of jobs to do arithmetic a single core finishes instantly
  *      (same dispatch reasoning as the components union-find);
  *   3. ENCODING with the learned merges is distributed again — a
  *      native expression over the text column
  *      ([[org.apache.spark.sql.graft.BpeEncode]]) with per-partition
  *      word memoization, so the merge table ships once per executor
  *      and repeated word forms encode once per partition.
  *
  * No memo across calls: training reruns per invocation (one cheap
  * aggregation), so a regenerated corpus can never serve a stale
  * vocabulary. Determinism: pair argmax breaks ties by (count desc,
  * left asc, right asc); word collection breaks count ties by word.
  * Symbol alphabet is the Sennrich convention — characters, with the
  * final character carrying the `</w>` end-of-word marker, so merges
  * never cross word boundaries and the marker rides the last symbol. */
object Bpe {

  val DefaultVocabCap = 100000

  /** One merge: rank order, the joined pair, and the pair's weighted
    * count at the time it was learned. */
  final case class Merge(rank: Int, left: String, right: String,
      count: Long)

  /** The distributed corpus pass: (word, cnt), exact. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Driver merge loop over a word-frequency table (EXACT BPE on the
    * capped vocabulary): each round counts adjacent symbol pairs
    * weighted by word count, merges the argmax pair everywhere
    * (left-to-right within a word, so "a a a" + (a,a) → "aa a"), and
    * records it. Stops early when no pair reaches `minPairCount`. */
  def trainOn(words: Seq[(String, Long)], numMerges: Int,
      minPairCount: Long = 2L): Seq[Merge] = {
    var vocab = words.iterator
      .filter(_._1.nonEmpty)
      .map { case (w, c) => (BpeKernel.wordSymbols(w), c) }.toArray
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pc = new scala.collection.mutable.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (pc.isEmpty) done = true
      else {
        val ((l, r), cnt) = pc.minBy { case ((a, b), n) => (-n, a, b) }
        if (cnt < minPairCount) done = true
        else {
          merges += Merge(rank, l, r, cnt)
          vocab = vocab.map { case (s, c) =>
            (BpeKernel.applyMerge(s, l, r), c)
          }
          rank += 1
        }
      }
    }
    merges.result()
  }

  /** Full training pass: distributed count → bounded collect → driver
    * loop. Returns the ordered merge table. */
  def train(spark: SparkSession, dir: String, numMerges: Int = 50,
      vocabCap: Int = DefaultVocabCap): Seq[Merge] = {
    val top = wordCounts(Tables.documents(spark, dir))
      .orderBy(desc("cnt"), col("word")).limit(vocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    trainOn(top, numMerges)
  }

  /** q80: the learned merge table as a relation —
    * (rank, left, right, pair_count). Iterative argmax has no SQL
    * rendering, so this is a rows-only gate; exact semantics are pinned
    * by BpeSpec against a literal hand-trace and the reference
    * invariants. */
  def mergeTable(spark: SparkSession, dir: String,
      numMerges: Int = 50): DataFrame = {
    import spark.implicits._
    train(spark, dir, numMerges)
      .map(m => (m.rank, m.left, m.right, m.count))
      .toDF("rank", "left", "right", "pair_count")
  }

  /** q90: the distributed training input as a gated relation — exact
    * (word, cnt), ordered. This is the only shuffle in BPE training, so
    * oracle-checking it (plain GROUP BY) leaves just the driver argmax
    * loop outside the oracle, and that loop is pinned by BpeSpec's
    * hand-traces. */
  def wordCountRelation(spark: SparkSession, dir: String): DataFrame =
    wordCounts(Tables.documents(spark, dir))
      .orderBy("word")

  /** Fixed merge table for the oracle-checkable encode gate (q91): an
    * arbitrary literal vocabulary (NOT trained — trained merges aren't
    * SQL-derivable) chosen to exercise every encode behavior on the
    * corpus: rank precedence (r+o fires before o+w</w> in "row"),
    * cascaded merges ((r,o) then (ro,w</w>) collapses "row" to one
    * token; (l,o) then (s,lo) for "slow"), the end-of-word marker
    * blocking mid-word pairs ((s,h) cannot bind the final h</w> of
    * "hash"), and multi-step chains (j→jo→joi→join</w>). */
  val FixedMerges: Seq[(String, String)] = Seq(
    "j" -> "o", "jo" -> "i", "joi" -> "n</w>",
    "a" -> "n", "h" -> "a", "s" -> "h",
    "r" -> "o", "o" -> "w</w>", "ro" -> "w</w>",
    "l" -> "o", "s" -> "lo")

  /** q91: per-document subword accounting under a FIXED merge table —
    * the same distributed encode expression q81 uses, but with the
    * merges passed as a literal so a SQL oracle can replay the
    * rank-order merge loop per word (DuckDB recursive CTE) and check
    * the counts exactly. Gating this + q90 gates every distributed
    * stage of BPE; only the driver argmax iteration stays spec-pinned. */
  def subtokenCountsFixed(spark: SparkSession, dir: String,
      merges: Seq[(String, String)] = FixedMerges): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_words"),
        size(org.apache.spark.sql.graft.TextExpressions
          .bpeEncode(col("text"), merges)).cast("long").as("n_bpe"))
      .orderBy("doc_id")

  /** q81: per-document subword accounting under the learned vocabulary
    * — the token budget a trained tokenizer would actually produce
    * (n_bpe ≥ n_words: every word is ≥ 1 subword). Encoding is the
    * native distributed expression; training is the bounded pass
    * above. */
  def subtokenCounts(spark: SparkSession, dir: String,
      numMerges: Int = 50): DataFrame = {
    val merges = train(spark, dir, numMerges).map(m => (m.left, m.right))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_words"),
        size(org.apache.spark.sql.graft.TextExpressions
          .bpeEncode(col("text"), merges)).cast("long").as("n_bpe"))
      .orderBy("doc_id")
  }
}

/** Shared BPE arithmetic — one definition for the driver trainer and
  * the executor-side encode expression, so they cannot drift. */
object BpeKernel {

  /** Sennrich symbol seq: characters, last one carrying `</w>`. */
  def wordSymbols(word: String): Vector[String] = {
    if (word.isEmpty) return Vector.empty
    val n = word.length
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < n - 1) { b += word.charAt(i).toString; i += 1 }
    b += word.charAt(n - 1).toString + "</w>"
    b.result()
  }

  /** One merge applied left-to-right ("a a a" + (a,a) → "aa a"). */
  def applyMerge(syms: Vector[String], l: String, r: String)
      : Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Encode one word by applying learned merges in RANK order (each
    * round merges the lowest-ranked pair present, everywhere in the
    * word) — reproduces the training segmentation exactly for every
    * word the trainer saw, because training applied the same merges in
    * the same global order. `rank(l, r)` is the merge's rank, or
    * `Long.MaxValue` for a pair that is not a merge. */
  def encodeWord(word: String, rank: (String, String) => Long)
      : Vector[String] = {
    var syms = wordSymbols(word)
    var continue = syms.length > 1
    while (continue) {
      var best = Long.MaxValue
      var at = -1
      var i = 0
      while (i < syms.length - 1) {
        val rk = rank(syms(i), syms(i + 1))
        if (rk < best) { best = rk; at = i }
        i += 1
      }
      if (at < 0) continue = false
      else {
        syms = applyMerge(syms, syms(at), syms(at + 1))
        if (syms.length < 2) continue = false
      }
    }
    syms
  }
}
