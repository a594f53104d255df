package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextExpressions

/** BPE training + encoding (q80/q81 — rows-only gates, so this spec IS
  * the correctness authority): the Sennrich merge loop hand-traced on a
  * literal corpus, training-segmentation reproduction, and corpus-level
  * invariants of the distributed encode expression. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("merge loop hand-trace: weighted pair argmax with ordered ties") {
    // Sennrich's worked example shape: {low:5, lower:2, newest:6,
    // widest:3}. Pair counts round 1: (e,s)=9 (newest+widest),
    // (s,t</w>)=9, (l,o)=7, (o,w...)… — (e,s) vs (s,t</w>) tie at 9
    // breaks lexicographically: ("e","s") < ("s","t</w>") → (e,s) first.
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L))
    val m = Bpe.trainOn(words, numMerges = 3)
    assert(m.map(x => (x.left, x.right, x.count)) == Seq(
      ("e", "s", 9L),
      ("es", "t</w>", 9L),
      ("l", "o", 7L)))
    assert(m.map(_.rank) == Seq(0, 1, 2))
  }

  test("left-to-right merge on overlapping runs: 'a a a' + (a,a) -> 'aa a'") {
    assert(BpeKernel.applyMerge(Vector("a", "a", "a"), "a", "a") ==
      Vector("aa", "a"))
    // the end-marker rides the final character
    assert(BpeKernel.wordSymbols("cat") == Vector("c", "a", "t</w>"))
    assert(BpeKernel.wordSymbols("") == Vector.empty)
  }

  test("encode reproduces the training segmentation for every vocab word") {
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L), ("wides", 1L))
    val merges = Bpe.trainOn(words, numMerges = 8)
    val pairs = merges.map(m => (m.left, m.right)).toIndexedSeq
    val rankOf = pairs.zipWithIndex.toMap
    val rank = (l: String, r: String) =>
      rankOf.get((l, r)).fold(Long.MaxValue)(_.toLong)
    // training's own final segmentation: apply the merges in order
    var vocab = words.map { case (w, c) => (BpeKernel.wordSymbols(w), c) }
    merges.foreach { m =>
      vocab = vocab.map { case (s, c) =>
        (BpeKernel.applyMerge(s, m.left, m.right), c) }
    }
    words.map(_._1).zip(vocab.map(_._1)).foreach { case (w, trained) =>
      assert(BpeKernel.encodeWord(w, rank) == trained,
        s"encode($w) diverged from training segmentation")
    }
    // an unseen word still encodes (falls back toward characters)
    val unseen = BpeKernel.encodeWord("lowest", rank)
    assert(unseen.mkString("") == "lowest</w>")
  }

  test("fixed-merge encode hand-trace (the q91 oracle's semantics)") {
    // Under Bpe.FixedMerges: "join" chains j→jo→joi→join</w> (1 token);
    // "row" cascades (r,o) then (ro,w</w>) (1); "slow" [s,l,o,w</w>]:
    // the RANK-7 (o,w</w>) beats the rank-9 (l,o) → [s,l,ow</w>] (3);
    // "hash" merges (h,a) but (s,h) can't bind the final h</w> (3);
    // "order" matches nothing (5). The empty doc exercises the
    // zero-word row (n_words = n_bpe = 0).
    val dir = java.nio.file.Files.createTempDirectory("bpefix").toString
    Seq(("d1", "join row"), ("d2", "slow hash order"), ("d3", ""))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Bpe.subtokenCountsFixed(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("d1", 2L, 2L), ("d2", 3L, 11L), ("d3", 0L, 0L)))
  }

  test("distributed encode: roundtrip, determinism, and count bounds") {
    val sf = "/root/testdata/sf0.001"
    val merges = Bpe.train(spark, sf, numMerges = 30)
      .map(m => (m.left, m.right))
    assert(merges.nonEmpty, "corpus trains at least one merge")
    val enc = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"),
        TextExpressions.bpeEncode(col("text"), merges).as("subs"))
      .collect()
    enc.foreach { r =>
      val text = r.getString(1)
      val words = text.split("\\s+").filter(_.nonEmpty)
      val subs = r.getSeq[String](2)
      // roundtrip: concatenating subwords and splitting on the end
      // markers reproduces the original words exactly
      assert(subs.mkString("").split("</w>", -1).init.toSeq
        == words.toSeq, s"roundtrip failed for doc ${r.getLong(0)}")
      // bounds: at least one subword per word, at most one per char
      assert(subs.length >= words.length)
      assert(subs.length <= words.map(_.length).sum)
    }
    // determinism: a second training pass yields the identical table
    assert(Bpe.train(spark, sf, numMerges = 30)
      .map(m => (m.left, m.right)) == merges)
  }

  test("q81 relation: n_bpe bounded below by n_words, above by chars") {
    val df = Bpe.subtokenCounts(spark, "/root/testdata/sf0.001",
      numMerges = 20).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        "a word encodes to at least one subword")
    }
  }
}
