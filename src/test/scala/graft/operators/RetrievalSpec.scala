package graft.operators

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Positional phrase search (q129) and more-like-this (q130): hand
  * traces with exact fixed-point values, and brute-force parity on
  * random corpora — the brute references are plain driver-side Scala
  * (sliding window / BigInt arithmetic), algorithmically independent
  * of the relational plans they check. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  // ---------------- q129: positional phrase search ------------------

  private def phrase(docs: Seq[(Long, String)],
      p: Seq[String]): Seq[(Long, Long, Long)] = {
    val out = Ranking.phraseSearchOn(docs.toDF("doc_id", "text"), p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    graft.Caches.releaseAll()
    out
  }

  /** Brute reference: per-doc sliding window over the token array. */
  private def brutePhrase(docs: Seq[(Long, String)],
      p: Seq[String]): Seq[(Long, Long, Long)] =
    docs.flatMap { case (id, t) =>
      val l = t.split("\\s+").filter(_.nonEmpty)
      val hits = (0 to l.length - p.length)
        .filter(i => p.indices.forall(j => l(i + j) == p(j)))
      if (hits.isEmpty) None
      else Some((id, hits.size.toLong, hits.head.toLong))
    }.sortBy(_._1)

  test("q129 hand trace: counts, first positions, non-matches absent") {
    val docs = Seq(
      1L -> "a b c a b c",  // matches at 0 and 3
      2L -> "b c a",        // the rotation is NOT the phrase
      3L -> "a b",          // shorter than the phrase
      4L -> "x a b c y")    // interior match at 1
    assert(phrase(docs, Seq("a", "b", "c")) ===
      Seq((1L, 2L, 0L), (4L, 1L, 1L)))
  }

  test("q129 overlapping occurrences and a repeated-term phrase") {
    // "a a a" contains "a a" at 0 and 1 — overlaps both counted
    assert(phrase(Seq(1L -> "a a a"), Seq("a", "a")) === Seq((1L, 2L, 0L)))
    // single-term phrase degenerates to exact term occurrence counting
    assert(phrase(Seq(1L -> "b a b", 2L -> "a"), Seq("b")) ===
      Seq((1L, 2L, 0L)))
  }

  test("q129 empty phrase is refused") {
    intercept[IllegalArgumentException] { phrase(Seq(1L -> "a"), Nil) }
  }

  test("q129 random corpora match the sliding-window brute") {
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpus = Gen.listOfN(25, doc)
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    for (docs <- samples(corpus, 6); p <- Seq(Seq("a", "b"),
        Seq("b", "a", "c"), Seq("a", "a"), Seq("d"))) {
      assert(phrase(docs, p) === brutePhrase(docs, p),
        s"phrase=$p docs=$docs")
    }
  }

  // ---------------- q131: persisted postings index -------------------

  private def phraseFile(docs: Seq[(Long, String)],
      p: Seq[String]): Seq[(Long, Long, Long)] = {
    val idx = java.nio.file.Files
      .createTempDirectory("graft-postings-spec-").toString
    Ranking.writePostings(docs.toDF("doc_id", "text"), idx)
    val out = Ranking.phraseSearchFile(spark, idx, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    graft.Caches.releaseAll()
    out
  }

  test("q131 index read path equals the in-query plan and the brute") {
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpus = Gen.listOfN(25, doc)
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    for (docs <- samples(corpus, 3); p <- Seq(Seq("a", "b"),
        Seq("b", "a", "c"), Seq("a", "a"))) {
      assert(phraseFile(docs, p) === brutePhrase(docs, p),
        s"phrase=$p docs=$docs")
    }
  }

  test("q131 scan is partition-pruned to the phrase's term buckets") {
    val docs = Seq(1L -> "a b c", 2L -> "c a b").toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-postings-spec-").toString
    Ranking.writePostings(docs, idx)
    val df = Ranking.phraseSearchFile(spark, idx, Seq("a", "b"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
      s"no partition pruning in plan:\n$plan")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    graft.Caches.releaseAll()
  }

  test("q131 incremental append: late documents join their buckets") {
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpus = Gen.listOfN(30, doc)
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val docs = samples(corpus, 1).head
    val (first, late) = docs.splitAt(18)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-postings-spec-").toString
    Ranking.writePostings(first.toDF("doc_id", "text"), idx)
    // the CDC path: late arrivals append into existing bkt partitions
    Ranking.appendToPostingsFile(late.toDF("doc_id", "text"), idx)
    val bktDirs = new java.io.File(idx).list().count(_.startsWith("bkt="))
    assert(bktDirs <= Ranking.PostingsBuckets)
    for (p <- Seq(Seq("a", "b"), Seq("b", "a", "c"), Seq("d"))) {
      val got = Ranking.phraseSearchFile(spark, idx, p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      graft.Caches.releaseAll()
      assert(got === brutePhrase(docs, p), s"phrase=$p")
    }
  }

  test("q131 postings GC: a superseded index dies one full refresh " +
      "after its key leaves the memo; current readers are unaffected") {
    graft.IndexGc.reset(); Ranking.postingsMemo.clear()
    // refresh cycles run in milliseconds here — drop the wall-clock
    // fence so the generation fence alone is under test
    // try/finally: a mid-test failure must not leave the wall-clock
    // reaper fence disabled for every later test in the JVM
    val grace0 = graft.IndexGc.graceMs; graft.IndexGc.graceMs = 0L
    try {
      val dir = java.nio.file.Files.createTempDirectory("pgc").toString
      def rewrite(docs: Seq[(Long, String)]): Unit =
        docs.toDF("doc_id", "text").write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
      rewrite(Seq(1L -> "a b c", 2L -> "c a b"))
      val p1 = Ranking.postingsFileCached(spark, dir)
      // memo hit: no eviction, so nothing may be reaped
      assert(Ranking.postingsFileCached(spark, dir) == p1)
      rewrite(Seq(1L -> "a b c", 2L -> "c a b", 3L -> "a b"))
      val p2 = Ranking.postingsFileCached(spark, dir)
      assert(p2 != p1 && new java.io.File(p1).exists(),
        "first refresh must only CONDEMN the old directory — an " +
          "in-flight reader may still hold its path")
      // a reader that obtained p2 BEFORE the next refresh…
      val held = Ranking.phraseSearchFile(spark, p2, Seq("a", "b"))
      rewrite(Seq(1L -> "a b", 2L -> "b a"))
      val p3 = Ranking.postingsFileCached(spark, dir)
      assert(p3 != p2)
      assert(!new java.io.File(p1).exists(),
        "two refreshes past: the p1 directory must be reaped")
      assert(new java.io.File(p2).exists(),
        "p2 is condemned, not reaped — its readers get a full refresh")
      // …still scans successfully after p1's reap, and the current
      // index answers through the fresh path
      assert(held.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      graft.Caches.releaseAll()
      val got = Ranking.phraseSearchFile(spark, p3, Seq("a", "b"))
        .collect().map(_.getLong(0)).toSeq
      graft.Caches.releaseAll()
      assert(got == Seq(1L))
    } finally {
      graft.IndexGc.graceMs = grace0
      Ranking.postingsMemo.clear(); graft.IndexGc.reset()
    }
  }

  // ---------------- q130: more-like-this ----------------------------

  private def mlt(docs: Seq[(Long, String)], qId: Long, m: Int,
      topN: Int): Seq[(Long, Long, Long)] = {
    val out = Ranking
      .moreLikeThisOn(docs.toDF("doc_id", "text"), qId, m, topN)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    graft.Caches.releaseAll()
    out
  }

  /** Brute reference: the spec's integer formulas in driver-side
    * BigInt — idf_ppm = (N·10⁶) div df, top-m query terms by
    * (tf·idf_ppm, term), sat = (22·tf·Σdl·10⁶) div
    * (10·tf·Σdl + 3·Σdl + 9·dl·N), score = Σ(idf·sat) div 10⁶. */
  private def bruteMlt(docs: Seq[(Long, String)], qId: Long, m: Int,
      topN: Int): Seq[(Long, Long, Long)] = {
    val tf = docs.flatMap { case (id, t) =>
      t.split("\\s+").filter(_.nonEmpty).map(w => (id, w))
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val dl = tf.groupBy(_._1._1).map { case (id, g) => id -> g.values.sum }
    val nDocs = dl.size.toLong
    val sumDl = dl.values.sum
    val df = tf.keys.toSeq.groupBy(_._2).map { case (w, ks) =>
      w -> ks.size.toLong }
    val qTerms = tf.collect { case ((id, w), f) if id == qId =>
      val idf = BigInt(nDocs) * 1000000 / df(w)
      (w, idf, BigInt(f) * idf)
    }.toSeq.sortBy { case (w, _, wgt) => (-wgt, w) }.take(m)
    val perTerm = for {
      ((id, w), f) <- tf.toSeq if id != qId
      (qw, idf, _) <- qTerms if qw == w
    } yield {
      val sat = (BigInt(22) * f * sumDl * 1000000) /
        (BigInt(10) * f * sumDl + BigInt(3) * sumDl +
          BigInt(9) * dl(id) * nDocs)
      (id, idf * sat)
    }
    perTerm.groupBy(_._1).map { case (id, xs) =>
      (id, (xs.map(_._2).sum / 1000000).toLong, xs.size.toLong)
    }.toSeq.sortBy { case (id, s, _) => (-s, id) }.take(topN)
  }

  test("q130 hand trace: term selection, exact saturation, ordering") {
    val docs = Seq(1L -> "a a b", 2L -> "a b b c", 3L -> "c c", 4L -> "b")
    // N=4, Σdl=10; df: a→2 b→3 c→2; idf_ppm: a→2000000, b→1333333
    // query terms (m=2) of doc 1: a (w=4e12), b (w≈1.33e12) — c absent,
    // so doc 3 (only c) must not appear at all
    val got = mlt(docs, 1L, 2, 10)
    assert(got.map(_._1) === Seq(2L, 4L))
    assert(got.map(_._3) === Seq(2L, 1L))
    // doc 2's a-term saturation exactly: (22·1·10·10⁶) div
    // (10·1·10 + 3·10 + 9·4·4) = 220000000 div 274 = 802919
    assert(got === bruteMlt(docs, 1L, 2, 10))
    val sat2a = (BigInt(22) * 1 * 10 * 1000000) /
      (BigInt(10) * 1 * 10 + 30 + 9 * 4 * 4)
    assert(sat2a === BigInt(802919))
  }

  test("q130 absent query doc yields an empty result") {
    assert(mlt(Seq(1L -> "a b"), 99L, 3, 5) === Seq())
  }

  test("q130 invalid m / topN are refused") {
    intercept[IllegalArgumentException] { mlt(Seq(1L -> "a"), 1L, 0, 5) }
    intercept[IllegalArgumentException] { mlt(Seq(1L -> "a"), 1L, 3, 0) }
  }

  test("q130 random corpora match the BigInt brute") {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val doc = Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpus = Gen.listOfN(20, doc)
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    for (docs <- samples(corpus, 6)) {
      // pick a query doc that has tokens (doc 0 may be empty)
      val qId = docs.find(_._2.nonEmpty).map(_._1).getOrElse(0L)
      for ((m, k) <- Seq((3, 5), (10, 50))) {
        assert(mlt(docs, qId, m, k) === bruteMlt(docs, qId, m, k),
          s"qId=$qId m=$m k=$k docs=$docs")
      }
    }
  }
}
