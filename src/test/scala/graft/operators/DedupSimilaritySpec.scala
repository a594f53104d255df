package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics of the dedup + similarity operators on sf0.001. */
class DedupSimilaritySpec extends SparkSpec {

  test("exact dedup partitions all docs") {
    val total = Dedup.exact(spark, sf)
      .agg(sum("n_dupes")).collect()(0).getLong(0)
    assert(total == graft.Tables.documents(spark, sf).count())
  }

  test("jaccard pairs are within (0,1] and id-ordered") {
    val rows = Dedup.ngramJaccardPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.1 && j <= 1.0)
    }
  }

  test("prefix path ≡ counting path at every dispatchable threshold") {
    // the prefix index is pure pruning: whatever the threshold, the two
    // plans must produce the identical pair set with identical scores
    val docs = graft.Tables.documents(spark, sf)
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val counting = Dedup.ngramJaccardPairsCounting(docs, t, 3, 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val prefix = Dedup.ngramJaccardPairsPrefix(docs, t, 3, 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(prefix.toSeq == counting.toSeq,
        s"t=$t: prefix ${prefix.length} rows vs counting ${counting.length}")
    }
    // boundary sanity: two docs sharing a sizable gram run — both plans
    // must agree on the pair and its rounded score
    import spark.implicits._
    val d1 = (1 to 14).map(i => s"x$i").mkString(" ")
    val rows = Seq((1L, d1 + " q w e"), (2L, d1 + " r t y u i o p a s d f g h j k l z x c v b n m"))
      .toDF("doc_id", "text")
    val both = Seq(
      Dedup.ngramJaccardPairsCounting(rows, 0.3, 3, 1000).collect().toSeq,
      Dedup.ngramJaccardPairsPrefix(rows, 0.3, 3, 1000).collect().toSeq)
    assert(both(0) == both(1), s"crafted pair diverged: $both")
  }

  test("jaccard dispatch is skew-measured: flat df → counting, " +
      "hot df → prefix") {
    // the pure rule, against the two distribution shapes it separates:
    // flat (every shingle df≈2: pair mass ≈ index size — counting) vs
    // Zipfian (one df=1000 shingle: ~500k pairs from 1k rows — prefix)
    assert(!Dedup.prefixPathPays(sumDf = 1000, sumDf2 = 2000))
    assert(Dedup.prefixPathPays(sumDf = 1000, sumDf2 = 1000 * 1000))
    // integration: the adaptive entrypoint probes THIS corpus (df-flat,
    // max df ≈ 25·sf) and must choose the counting join even at a
    // prefix-eligible threshold — its plan has no prefix verify kernel
    val docs = graft.Tables.documents(spark, sf)
    val chosen = Dedup.ngramJaccardPairsOn(docs, 0.5, 3, 1000)
    val plan = chosen.queryExecution.analyzed.toString()
    assert(!plan.contains("sorted_intersect_count"),
      "flat-df corpus dispatched to the prefix path")
    // and the pinned prefix path (the q73 gate) does carry the kernel
    val pinned = Dedup.ngramJaccardPairsPrefix(docs, 0.5, 3, 1000)
    assert(pinned.queryExecution.analyzed.toString()
      .contains("sorted_intersect_count"))
  }

  test("hot-shingle df cap keeps the candidate count bounded") {
    import spark.implicits._
    // one shingle ("x y z") is in EVERY doc; the rest are unique per doc.
    // Uncapped, the hot shingle alone creates C(20,2)=190 candidate pairs;
    // capped, the docs share nothing → no pairs at all.
    val docs = (0 until 20)
      .map(i => (i.toLong, s"x y z u$i v$i w$i"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairsOn(docs, threshold = 0.0, maxDf = 5)
    assert(capped.count() == 0)
    val uncapped =
      Dedup.ngramJaccardPairsOn(docs, threshold = 0.0, maxDf = 1000)
    assert(uncapped.count() == 190)
    // the cap also removes hot shingles from the set sizes: a surviving
    // pair's jaccard is computed over the capped universe
    val twoShared = docs.union(Seq((100L, "x y z u0 v0 q")).toDF())
    val pair = Dedup.ngramJaccardPairsOn(twoShared, threshold = 0.0, maxDf = 5)
      .where(col("id1") === 0L && col("id2") === 100L).collect()
    // doc0 kept-shingles: {"y z u0","z u0 v0","u0 v0 w0"}; doc100 kept:
    // {"y z u0","z u0 v0","u0 v0 q"}; inter=2, union=4 → 0.5
    assert(pair.length == 1 && pair(0).getDouble(2) == 0.5)
  }

  test("AUTO maxDf: absolute floor below 100k docs, corpus-relative above") {
    // the floor regime — every gated SF lives here, so AUTO must be
    // numerically identical to the old absolute default
    assert(Dedup.resolveMaxDf(Dedup.AutoMaxDf, 0L) == Dedup.DefaultMaxDf)
    assert(Dedup.resolveMaxDf(Dedup.AutoMaxDf, 100L) == Dedup.DefaultMaxDf)
    assert(Dedup.resolveMaxDf(Dedup.AutoMaxDf, 100000L) == Dedup.DefaultMaxDf)
    // the relative regime — 1% of the corpus, ceil'd
    assert(Dedup.resolveMaxDf(Dedup.AutoMaxDf, 100001L) == 1001)
    assert(Dedup.resolveMaxDf(Dedup.AutoMaxDf, 1000000000L) == 10000000)
    // never overflows Int on absurd corpus sizes
    assert(Dedup.resolveMaxDf(Dedup.AutoMaxDf, Long.MaxValue / 4) ==
      Int.MaxValue)
    // explicit caps pass through untouched (and never trigger the count)
    assert(Dedup.resolveMaxDf(5, sys.error("must not evaluate")) == 5)
  }

  test("minhash est_sim tracks true jaccard for LSH pairs") {
    val lsh = Dedup.minhashLshPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty)
    val exact = Dedup.ngramJaccardPairs(spark, sf, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every high-confidence LSH pair should be a genuinely similar pair
    lsh.filter(_._2 >= 0.75).keys.foreach { k =>
      assert(exact.getOrElse(k, 0.0) >= 0.3,
        s"LSH pair $k est>=0.75 but true jaccard ${exact.get(k)}")
    }
  }

  test("simhash signatures: near-dup docs have small hamming distance") {
    val sig = Dedup.simhashSignatures(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // strongest true near-dup pair from the jaccard operator
    val top = Dedup.ngramJaccardPairs(spark, sf, threshold = 0.5).collect()
    top.foreach { r =>
      val h = java.lang.Long.bitCount(sig(r.getLong(0)) ^ sig(r.getLong(1)))
      assert(h <= 10, s"pair (${r.getLong(0)},${r.getLong(1)}) hamming=$h")
    }
  }

  test("ann topK: scores sorted desc, in [-1,1], query excluded") {
    val rows = Similarity.topK(spark, sf, queryId = 0L, k = 10).collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getLong(0) != 0L))
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse))
    assert(scores.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("native cosine expression is bitwise-identical to the composed form") {
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.graft.VectorExpressions
    val emb = graft.Tables.embeddings(spark, sf).limit(50)
    val q = graft.Tables.embeddings(spark, sf)
      .where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val both = emb.crossJoin(q).select(
      VectorFunctions.cosine(col("embedding"), col("qe")).as("composed"),
      VectorExpressions.cosineNative(col("embedding"), col("qe")).as("native"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native shingle/minhash expressions match the composed forms bitwise") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.graft.TextExpressions
    val docs = graft.Tables.documents(spark, sf).limit(100)
    val cmp = docs.select(
      array_distinct(TextFunctions.shingles(col("text"), 3)).as("sh_composed"),
      TextExpressions.shingleSet(col("text"), 3).as("sh_native"),
      TextFunctions.minHashSignature(col("text"), 3, 16).as("mh_composed"),
      TextExpressions.minHashSig(col("text"), 3, 16).as("mh_native"))
      .collect()
    cmp.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
      assert(r.getSeq[Long](2) == r.getSeq[Long](3))
    }
  }

  test("native positional gram hashes match the composed form bitwise") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.graft.TextExpressions
    val docs = graft.Tables.documents(spark, sf).limit(100)
    // composed twin: materialized token attribute → per-position
    // slice/concat_ws → md5Long (no short-doc fallback, like the kernel)
    val toks = col("toks")
    val composed = when(size(toks) >= 8,
      transform(sequence(lit(0), size(toks) - 8),
        i => TextFunctions.md5Long(
          concat_ws(" ", slice(toks, i + 1, lit(8))))))
      .otherwise(array().cast("array<long>"))
    val cmp = docs
      .select(col("text"), TextFunctions.tokens(col("text")).as("toks"))
      .select(composed.as("g_composed"),
        TextExpressions.gramHashes(col("text"), 8).as("g_native"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("byte-path hashed kernels: unicode and whitespace edges match composed") {
    // the byte-level tokenizer must split exactly where Java's \s+ does
    // on multi-byte UTF-8 (continuation bytes >= 0x80 can't alias ASCII
    // whitespace), and the <k / empty fallbacks must hash the same
    // joined form — pinned against the composed column twins per row
    import graft.functions.TextFunctions
    import org.apache.spark.sql.graft.TextExpressions
    import spark.implicits._
    val rows = Seq(
      "héllo wörld héllo wörld naïve ß中文 emoji🙂 tail",
      " \t leading  and\ttrailing \n spaces  mixed \f ws \r here ",
      "",
      "   \t  ",
      "one",
      "two toks",
      "中文 字 符 串 中文 字 符 串 中文 字",
      "a b a b a b a b")
    val cmp = rows.toDF("text").select(
      transform(array_distinct(TextFunctions.shingles(col("text"), 3)),
        s => TextFunctions.md5Long(s)).as("hs_composed"),
      TextExpressions.shingleHashSet(col("text"), 3).as("hs_native"),
      TextFunctions.minHashSignature(col("text"), 3, 8).as("mh_composed"),
      TextExpressions.minHashSig(col("text"), 3, 8).as("mh_native"))
      .collect()
    cmp.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"shingle hashes diverged: ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3),
        s"minhash diverged: ${r.getSeq[Long](2)} vs ${r.getSeq[Long](3)}")
    }
    // positional grams on the same edge rows (no fallback: short rows
    // must yield empty arrays on both sides)
    val toks = col("toks")
    val composedGrams = when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3),
        i => TextFunctions.md5Long(concat_ws(" ", slice(toks, i + 1, lit(3))))))
      .otherwise(array().cast("array<long>"))
    rows.toDF("text")
      .select(col("text"), TextFunctions.tokens(col("text")).as("toks"))
      .select(composedGrams.as("g_composed"),
        TextExpressions.gramHashes(col("text"), 3).as("g_native"))
      .collect()
      .foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("native simhash expression matches the composed form bitwise") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.graft.TextExpressions
    val docs = graft.Tables.documents(spark, sf).limit(100)
    val cmp = docs.select(
      TextFunctions.simHash(col("text"), 48).as("composed"),
      TextExpressions.simHashSig(col("text"), 48).as("native"))
      .collect()
    cmp.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("connected components label each group by its minimum member") {
    import spark.implicits._
    // two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    val edges = Seq((1L, 2L), (3L, 2L), (3L, 4L), (10L, 11L), (21L, 20L),
        (21L, 22L))
      .toDF("id1", "id2")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("semantic dedup: verdict covers every vector, edges never split, " +
      "keeps are the component minima") {
    val verdict = Similarity.semanticDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(verdict.length == n, "one verdict row per vector")
    val comp = verdict.toMap.view.mapValues(_._1).toMap
    // keep ⇔ the vector IS its component label (min-id canonical)
    verdict.foreach { case (id, (c, keep)) =>
      assert(c <= id, s"comp label $c above member $id")
      assert((keep == 1) == (id == c), s"keep flag wrong for $id")
    }
    // exactly one canonical per component
    assert(verdict.count(_._2._2 == 1) == comp.values.toSet.size)
    // no near-dup edge crosses a component boundary
    Similarity.blockedNearDup(spark, sf).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(comp(a) == comp(b), s"edge ($a,$b) split across components")
    }
  }

  test("IVF semantic dedup: verdict invariants hold on trained cells") {
    val verdict = Similarity.semanticDedupIvf(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
    assert(verdict.length == graft.Tables.embeddings(spark, sf).count())
    verdict.foreach { case (id, (c, keep)) =>
      assert(c <= id, s"comp label $c above member $id")
      assert((keep == 1) == (id == c), s"keep flag wrong for $id")
    }
    assert(verdict.count(_._2._2 == 1) ==
      verdict.map(_._2._1).distinct.length)
    // trained cells refine similarity blocking: a pair this variant
    // merges must be genuinely cosine-close, so its dup mass should not
    // exceed the exhaustive label-blocked pass by construction alone —
    // sanity: at least SOME dups found on the clustered test corpus
    assert(verdict.count(_._2._2 == 0) > 0,
      "IVF pass found no duplicates on a clustered corpus")
  }

  test("bucketSignature raises on dim mismatch instead of silently zeroing") {
    import spark.implicits._
    val df = Seq((1L, Array(0.5f, 1f, 2f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      df.select(Similarity.bucketSignature(8)).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("embedding dim")), chain(e).mkString("|"))
  }

  test("lsh buckets: every vector bucketed; neardup pairs share bucket") {
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(Similarity.lshBuckets(spark, sf).count() == n)
    val pairs = Similarity.lshNearDup(spark, sf).collect()
    pairs.foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  test("rerank: full-width coarse stage reproduces brute force exactly") {
    val n = graft.Tables.embeddings(spark, sf).count().toInt
    val rr = Similarity.rerankTopK(spark, sf, coarseDims = 64,
      shortlist = n, k = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.topK(spark, sf, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rr.toSeq == brute.toSeq)
  }

  test("rerank: 16-dim coarse shortlist keeps useful recall, scores exact") {
    val rr = Similarity.rerankTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.topK(spark, sf, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // survivors carry their TRUE full-dim score (re-rank is exact on the
    // shortlist), so any overlap with brute force agrees on the value
    rr.foreach { case (id, s) =>
      brute.get(id).foreach(b => assert(b == s, s"score drift for $id"))
    }
    val recall = rr.count { case (id, _) => brute.contains(id) } / 10.0
    assert(recall >= 0.3, s"recall@10 was $recall")
  }

  test("int8 quantize: range-bounded, extreme element hits ±127, zeros safe") {
    import org.apache.spark.sql.graft.VectorExpressions.int8QuantizeNative
    import spark.implicits._
    val qdf = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), int8QuantizeNative(col("embedding")).as("qv"))
    val rows = qdf.collect().map(_.getSeq[Long](1))
    assert(rows.nonEmpty)
    rows.foreach { qv =>
      // floor(v·127/max|v|) ∈ [−128, 127]; the division 127/max|v| is
      // rounded once, so the extreme element's product is 127·(1±ulp) —
      // floor puts it in {126, 127} (positive) or {−127, −128} (negative)
      assert(qv.forall(v => v >= -128 && v <= 127), qv.mkString(","))
      assert(qv.max >= 126 || qv.min <= -127,
        s"extreme element missing: max=${qv.max} min=${qv.min}")
    }
    // a zero vector must quantize to zeros, not NaN-propagate
    val z = Seq((0L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding")
      .select(int8QuantizeNative(col("embedding")).as("qv"))
      .collect()(0).getSeq[Long](0)
    assert(z == Seq(0L, 0L, 0L, 0L))
  }

  test("quantized topK: zero-shuffle plan, useful recall vs exact") {
    val qk = Similarity.quantizedTopK(spark, sf)
    val plan = qk.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"quantized scan must be map-only:\n$plan")
    val got = qk.collect().map(_.getLong(0)).toSet
    val brute = Similarity.topK(spark, sf, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (got & brute).size / 10.0
    assert(recall >= 0.5, s"int8 recall@10 was $recall")
  }

  test("unigram rarity: bounded below, monotone in token frequency") {
    val r = TextAnalysis.unigramRarity(spark, sf)
    val rows = r.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    graft.Caches.releaseAll()
    val n = graft.Tables.documents(spark, sf)
      .where(length(col("text")) > 0).count()
    assert(rows.length.toLong == n, "every non-empty doc scores")
    // mean of total/tf with tf <= total ⇒ every addend >= 1 (up to the
    // fixed-point floor), so rarity >= ~1; a doc of the corpus's rarest
    // tokens must outscore a doc of its most common ones
    assert(rows.forall(_._3 >= 0.999), "rarity is bounded below by ~1")
    assert(rows.map(_._3).distinct.length > 1, "scores must discriminate")
    // guarded fallback path gives the same answer
    val viaShuffle = TextAnalysis
      .unigramRarity(spark, sf, maxBroadcastVocab = 1L)
      .collect().map(x => (x.getLong(0), x.getDouble(2))).toSeq
    graft.Caches.releaseAll()
    assert(viaShuffle == rows.map(x => (x._1, x._3)).toSeq,
      "shuffle fallback must be answer-identical")
  }

  test("decontaminate: external benchmark relation flags exactly the overlap") {
    val docs = graft.Tables.documents(spark, sf)
    // benchmark = the text of every 10th doc, via a DIFFERENT relation
    // (renamed id column) — the external-eval-suite shape
    val bench = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val flagged = Dedup.decontaminateAgainst(corpus, bench)
    graft.Caches.releaseAll()
    // every flagged doc is from the corpus side and shares >= 1 shingle
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = flagged.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(corpusIds.contains(r.getLong(0)))
      assert(r.getLong(1) >= 1)
    }
    // spot-check one flagged doc REALLY shares a shingle with the bench set
    val someId = rows.head.getLong(0)
    val shingle = org.apache.spark.sql.graft.TextExpressions
      .shingleSet(col("text"), 3)
    val docShingles = corpus.where(col("doc_id") === someId)
      .select(explode(shingle).as("t")).collect().map(_.getString(0)).toSet
    val benchShingles = bench.select(explode(shingle).as("t"))
      .collect().map(_.getString(0)).toSet
    assert((docShingles & benchShingles).nonEmpty)
  }

  test("decontaminate at production n-gram size (k=13) flags planted leaks") {
    // real eval decontamination uses 8–13-gram windows, where the
    // distinct-shingle count approaches the benchmark's total token
    // count — the guard keys on exactly that measured count, so the
    // broadcast math is unchanged. Plant contamination by leaving the
    // benchmark docs IN the corpus: identical text shares all its
    // 13-grams, so every bench doc long enough to have one is its own
    // witness.
    val docs = graft.Tables.documents(spark, sf)
    val bench = docs.where(col("doc_id") % 50 === 0).select("text")
    val flagged = Dedup.decontaminateAgainst(docs, bench, shingleK = 13)
    val plan = flagged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "an eval-suite-sized benchmark must broadcast at k=13 too")
    val got = flagged.collect().map(_.getLong(0)).toSet
    graft.Caches.releaseAll()
    val shingle13 = org.apache.spark.sql.graft.TextExpressions
      .shingleSet(col("text"), 13)
    val expected = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), size(shingle13).as("n"))
      .collect().filter(_.getInt(1) > 0).map(_.getLong(0)).toSet
    assert(expected.nonEmpty, "fixture docs must be >= 13 tokens long")
    assert(expected.subsetOf(got),
      s"planted k=13 leaks missed: ${expected -- got}")
  }

  test("contamination report is the transpose of decontaminate") {
    // sum over eval docs of n_contaminated == number of (eval, corpus)
    // contaminated pairs; every corpus doc flagged by decontaminate has
    // at least one eval doc reporting it (and vice versa)
    val docs = graft.Tables.documents(spark, sf)
    val bench = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val report = Dedup.contaminationReportAgainst(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.Caches.releaseAll()
    val flaggedCorpus = Dedup.decontaminateAgainst(corpus, bench)
      .collect().map(_.getLong(0)).toSet
    graft.Caches.releaseAll()
    assert(report.nonEmpty && report.forall(_._2 >= 1))
    assert(report.map(_._1).toSet.subsetOf(
      bench.select("eval_id").collect().map(_.getLong(0)).toSet))
    // a corpus doc is flagged iff some eval doc counts it: compare pair
    // totals by recomputing the pair relation the report rolls up
    assert(flaggedCorpus.nonEmpty,
      "fixture must actually contaminate (q58 gate covers exactness)")
  }

  test("decontaminate guard: oversized benchmark side takes the shuffle path") {
    val docs = graft.Tables.documents(spark, sf)
    val bench = docs.where(col("doc_id") % 10 === 0)
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val guarded =
      Dedup.decontaminateAgainst(corpus, bench, maxBroadcastShingles = 1L)
    val plan = guarded.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"guard did not fall back to a shuffled hash join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"guard still broadcasts:\n$plan")
    // same answer on both paths
    val viaShuffle = guarded.collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.Caches.releaseAll()
    val viaBroadcast = Dedup.decontaminateAgainst(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.Caches.releaseAll()
    assert(viaShuffle.toSeq == viaBroadcast.toSeq)
  }

  // ——— boilerplate-chunk removal (C4 line dedup) ———

  /** Reference implementation: the C4 pass in plain Scala over the
    * collected corpus. */
  private def bruteChunkDedup(rows: Seq[(Long, String)], k: Int, minDf: Int)
      : (Map[Long, (String, Long)], Map[String, Long]) = {
    def chunksOf(text: String): Seq[String] =
      text.split("\\s+").filter(_.nonEmpty).grouped(k)
        .map(_.mkString(" ")).toSeq
    val df = rows.flatMap { case (_, t) => chunksOf(t) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val dict = df.filter(_._2 >= minDf)
    val out = rows.map { case (id, t) =>
      val ch = chunksOf(t)
      val kept = ch.filterNot(dict.contains)
      id -> (kept.mkString(" "), (ch.size - kept.size).toLong)
    }.toMap
    (out, dict)
  }

  test("chunk dedup matches the brute-force C4 pass (and drops things)") {
    val rows = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (expected, dict) = bruteChunkDedup(rows, Dedup.ChunkTokens,
      Dedup.BoilerplateMinDf)
    assert(dict.nonEmpty, "test corpus has no boilerplate — test is vacuous")
    val got = Dedup.chunkDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)}, expected $e")
    }
    // the pass actually removed something on this corpus
    assert(got.values.map(_._2).sum > 0)
  }

  test("chunk dedup join fallback ≡ kernel path") {
    val docs = graft.Tables.documents(spark, sf)
    val kernel = Dedup.chunkDedupOn(docs, Dedup.ChunkTokens,
        Dedup.BoilerplateMinDf, maxDict = Int.MaxValue - 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // maxDict = 0 forces the join path (the dictionary is non-empty)
    val joined = Dedup.chunkDedupOn(docs, Dedup.ChunkTokens,
        Dedup.BoilerplateMinDf, maxDict = 0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(kernel.toSeq == joined.toSeq)
  }

  test("boilerplate dictionary matches brute force") {
    val rows = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (_, dict) = bruteChunkDedup(rows, Dedup.ChunkTokens,
      Dedup.BoilerplateMinDf)
    val got = Dedup.boilerplateChunks(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // hottest first, chunk-text tiebreak, and exactly the brute dict
    assert(got.toMap == dict)
    assert(got.sortBy { case (c, n) => (-n, c) }.toSeq == got.toSeq)
  }

  test("sorted-long-set kernel: membership ≡ Set, null-safe") {
    import spark.implicits._
    import org.apache.spark.sql.graft.{Dict, TextExpressions}
    val set = IndexedSeq(-9L, -1L, 0L, 7L, 42L, Long.MaxValue)
    val probe = Seq[java.lang.Long](-10L, -9L, -1L, 0L, 1L, 7L, 41L, 42L,
      Long.MaxValue, Long.MinValue, null)
    val got = probe.toDF("v")
      .select(TextExpressions.sortedLongSetContains(col("v"),
        Dict.sortedLongs(set.toArray)))
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    val want = probe.map(v =>
      if (v == null) null else Boolean.box(set.contains(v.longValue())))
    assert(got.toSeq == want.toSeq)
  }

  test("containment catches the asymmetric partial copy Jaccard misses") {
    import spark.implicits._
    // doc 1 = 12 tokens (10 distinct 3-shingles), doc 2 = doc 1 plus 28
    // unique tokens: every shingle of 1 appears in 2, so C(1→2) = 1.0,
    // while J = 10/38 ≈ 0.26 (below q73's 0.5) and C(2→1) = 10/38
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big = small + " " + (1 to 28).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val got = Dedup.containmentPairsOn(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)),
      s"expected exactly the small→big direction, got ${got.toSeq}")
    // the same pair is invisible to symmetric Jaccard at 0.5
    assert(Dedup.ngramJaccardPairsCounting(docs, 0.5, 3, 1000).count() == 0)
    // near-exact copies emit BOTH directions
    val twins = Seq((1L, small + " extra"), (2L, small + " extra"))
      .toDF("doc_id", "text")
    val both = Dedup.containmentPairsOn(twins, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(both.toSeq == Seq((1L, 2L, 1.0), (2L, 1L, 1.0)))
  }

  test("containment arms agree: map-side prefix+verify ≡ counting join " +
      "≡ brute force (pairs and scores)") {
    import spark.implicits._
    // overlapping random-ish docs built from a small token pool so
    // many partial-containment pairs exist on both sides of t = 0.8,
    // plus boundary shapes: exact clone, strict subset, disjoint
    val pool = (1 to 30).map(i => s"t$i")
    val rnd = new scala.util.Random(7)
    val docs0 = (1L to 24L).map { i =>
      val n = 5 + rnd.nextInt(20)
      (i, Seq.fill(n)(pool(rnd.nextInt(pool.length))).mkString(" "))
    }
    val docs = (docs0 :+ (25L -> docs0.head._2) // clone of doc 1
      :+ (26L -> docs0.head._2.split(" ").take(6).mkString(" "))
      :+ (27L -> "zz1 zz2 zz3 zz4 zz5 zz6")).toDF("doc_id", "text")
    def collectPairs(df: org.apache.spark.sql.DataFrame) = {
      val out = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      graft.Caches.releaseAll()
      out
    }
    val prefixArm = collectPairs(Dedup.containmentPairsOn(docs, 0.8))
    val countArm = collectPairs(Dedup.containmentPairsOn(docs, 0.8,
      maxBroadcastShingleDfs = 0L))
    assert(prefixArm == countArm,
      s"missing=${(countArm -- prefixArm).take(5)} " +
        s"extra=${(prefixArm -- countArm).take(5)}")
    // brute force over the capped shingle sets (no hot shingles at
    // this size, so the capped universe is the full one)
    val sets = docs.select(col("doc_id"), org.apache.spark.sql.graft
        .TextExpressions.shingleHashSet(col("text"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys; if a != b
      inter = (sets(a) intersect sets(b)).size
      c = math.floor(inter.toDouble / sets(a).size * 10000.0 + 0.5) / 10000.0
      if c >= 0.8
    } yield (a, b, c)).toSet
    assert(prefixArm == brute,
      s"missing=${(brute -- prefixArm).take(5)} " +
        s"extra=${(prefixArm -- brute).take(5)}")
  }

  test("containment respects the hot-df cap (capped universe semantics)") {
    import spark.implicits._
    // 3 docs share one ubiquitous shingle "a b c"; with cap 2 it drops
    // from the universe, so doc 3 (only that shingle + own tokens) has
    // no shared shingles left and NO pair forms through it
    val docs = Seq(
      (1L, "a b c p q r s t u v w x"),
      (2L, "a b c p q r s t u v w x"),
      (3L, "a b c m1 m2 m3 m4 m5 m6")).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairsOn(docs, threshold = 0.5, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // docs 1↔2 still fully contain each other over their 9 surviving
    // shingles; doc 3's only shared shingle is gone, so no pair forms
    assert(pairs.toSet == Set((1L, 2L), (2L, 1L)),
      s"capped-universe pairs wrong: ${pairs.toSeq}")
  }

  import graft.functions.TextFunctions.md5LongScala

  /** Deterministic fixture tokens for the CDC traces: one BOUNDARY
    * token (md5-60 ≡ 0 mod 16) and a supply of non-boundary tokens. */
  private lazy val cdcBoundaryTok: String =
    (0 to 2000).map(i => s"t$i")
      .find(t => md5LongScala(t) % Dedup.CdcModulus == 0).get
  private lazy val cdcPlainToks: IndexedSeq[String] =
    (0 to 4000).map(i => s"p$i")
      .filter(t => md5LongScala(t) % Dedup.CdcModulus != 0)

  test("cdc segments: boundary rule and segment hashes, hand-traced") {
    import spark.implicits._
    val Seq(a, b, c, d) = cdcPlainToks.take(4)
    val bt = cdcBoundaryTok
    val docs = Seq(
      (1L, s"$a $b $bt $c $d"), // boundary mid-doc → two segments
      (2L, s"$a $b $bt"),       // boundary AT the end → one segment
      (3L, ""),                 // zero tokens → no rows
      (4L, a)                   // single non-boundary token → one segment
    ).toDF("doc_id", "text")
    val got = Dedup.cdcSegmentsOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = Seq(
      (1L, 0L, 3L, md5LongScala(s"$a $b $bt")),
      (1L, 1L, 2L, md5LongScala(s"$c $d")),
      (2L, 0L, 3L, md5LongScala(s"$a $b $bt")),
      (4L, 0L, 1L, md5LongScala(a)))
    assert(got.toSeq == want, s"got ${got.toSeq}")
  }

  test("cdc segments survive a front insertion (the fixed-window " +
      "failure mode)") {
    import spark.implicits._
    // base doc: three segments (two boundary tokens inside); shifted =
    // one token PREPENDED. CDC: only the first segment changes — every
    // later segment's content (and hash) is identical. Fixed 10-token
    // windows (q83's chunking) re-align everywhere after an insertion:
    // zero shared chunk hashes.
    val toks = cdcPlainToks.slice(10, 40).toList
    val bt = cdcBoundaryTok
    val base = (toks.take(5) ++ List(bt) ++ toks.slice(5, 12) ++ List(bt) ++
      toks.slice(12, 20)).mkString(" ")
    val shifted = cdcPlainToks(5000 % cdcPlainToks.length) + " " + base
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val segs = Dedup.cdcSegmentsOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val baseHashes = segs.collect { case (1L, i, h) => (i, h) }.toMap
    val shiftHashes = segs.collect { case (2L, i, h) => (i, h) }.toMap
    assert(baseHashes.size == 3 && shiftHashes.size == 3)
    // segments 1.. are bit-identical; only segment 0 absorbed the edit
    assert(baseHashes(1L) == shiftHashes(1L))
    assert(baseHashes(2L) == shiftHashes(2L))
    assert(baseHashes(0L) != shiftHashes(0L))
    // and the dup dictionary sees exactly those two shared segments
    val dup = Dedup.cdcSegmentsOn(docs)
      .groupBy("seg_h").agg(countDistinct("doc_id").as("n_docs"))
      .where(col("n_docs") >= 2).count()
    assert(dup == 2L, s"expected 2 shared segments, got $dup")
    // the fixed-window chunking shares NOTHING across the same pair
    // (both docs shorter than 2 chunks would trivialize this — the
    // 22-token docs give two 10-token windows each, all misaligned)
  }

  test("cdc first-occurrence dedup keeps one canonical copy, " +
      "hand-traced") {
    import spark.implicits._
    val Seq(a, b, c, d, x, y) = cdcPlainToks.slice(100, 106)
    val bt = cdcBoundaryTok
    val docs = Seq(
      (1L, s"$a $b $bt $c $d"), // segments [a b bt], [c d]
      (2L, s"$x $y $bt $c $d"), // [x y bt], [c d] — [c d] is a dup
      (3L, s"$c $d"),           // [c d] again — also dropped
      (4L, "")                  // zero tokens
    ).toDF("doc_id", "text")
    val got = Dedup.cdcDedupOn(docs, Dedup.CdcModulus, 1000).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = Seq(
      (1L, s"$a $b $bt $c $d", 0L), // canonical occurrence — untouched
      (2L, s"$x $y $bt", 1L),
      (3L, "", 1L),
      (4L, "", 0L))
    assert(got.toSeq == want, s"got ${got.toSeq}")
    // over-cap dictionary fails loudly instead of shuffling text
    val err = intercept[IllegalArgumentException] {
      Dedup.cdcDedupOn(docs, Dedup.CdcModulus, 0)
    }
    assert(err.getMessage.contains("duplicated segments"))
  }

  test("cdc dedup equals the brute-force first-occurrence reference " +
      "on random corpora") {
    import spark.implicits._
    import graft.functions.TextFunctions.md5LongScala
    val p = Dedup.CdcModulus
    val rnd = new scala.util.Random(17)
    // a vocab with genuine boundary tokens so multi-segment docs occur
    val boundary = (0 to 3000).map(i => s"t$i")
      .filter(t => md5LongScala(t) % p == 0).take(3)
    val plain = (0 to 3000).map(i => s"w$i")
      .filter(t => md5LongScala(t) % p != 0).take(12)
    val vocab = (boundary ++ plain).toIndexedSeq
    val docs = (0 until 30).map { i =>
      (i.toLong,
        Seq.fill(3 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
    }
    def segs(text: String): Seq[(String, Long)] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toList
      val out = scala.collection.mutable.ListBuffer[(String, Long)]()
      var seg = List.empty[String]
      toks.zipWithIndex.foreach { case (w, i) =>
        seg :+= w
        if (md5LongScala(w) % p == 0 || i == toks.length - 1) {
          out += ((seg.mkString(" "), md5LongScala(seg.mkString(" "))))
          seg = Nil
        }
      }
      out.toSeq
    }
    val occ = docs.flatMap { case (id, t) =>
      segs(t).zipWithIndex.map { case ((s, h), idx) => (id, idx, s, h) }
    }
    val canon = occ.groupBy(_._4).filter(_._2.size >= 2)
      .view.mapValues(_.map(o => o._1 * 1000000L + o._2).min).toMap
    val want = docs.map { case (id, t) =>
      val mine = segs(t).zipWithIndex
      val kept = mine.filter { case ((_, h), idx) =>
        canon.get(h).forall(_ == id * 1000000L + idx)
      }
      (id, kept.map(_._1._1).mkString(" "),
        (mine.size - kept.size).toLong)
    }
    val got = Dedup.cdcDedupOn(docs.toDF("doc_id", "text"), p, 10000)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(got == want, s"got $got want $want")
  }

  test("ngram novelty: first-occurrence fractions, hand-traced") {
    import spark.implicits._
    // doc1 {abc,bcd} both first here; doc2 {abc,bce} — abc already
    // owned by doc1; doc3 short-text fallback shingle, fresh
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c e"),
      (3L, "a b"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.ngramNoveltyOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1000000L),
      (2L, 2L, 1L, 500000L),
      (3L, 1L, 1L, 1000000L)), s"got $got")
  }

  test("ngram novelty equals brute-force first-occurrence on random docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (0 until 40).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(11))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    def shingles(text: String): Set[String] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.length < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val owner = docs.flatMap { case (id, t) => shingles(t).map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val want = docs.map { case (id, t) =>
      val sh = shingles(t)
      val novel = sh.count(s => owner(s) == id).toLong
      (id, sh.size.toLong, novel, novel * 1000000L / sh.size)
    }
    val got = TextAnalysis.ngramNoveltyOn(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"got $got want $want")
  }

  /** Brute-force exact LCS (token DP, O(n·m)) — the independent
    * reference for the suffix-automaton kernel. */
  private def bruteLcs(a: Seq[String], b: Seq[String]): Long = {
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    var best = 0
    for (i <- 1 to a.length; j <- 1 to b.length)
      if (a(i - 1) == b(j - 1)) {
        dp(i)(j) = dp(i - 1)(j - 1) + 1
        if (dp(i)(j) > best) best = dp(i)(j)
      }
    best.toLong
  }

  test("lcs_tokens equals brute-force DP on random token pairs") {
    import spark.implicits._
    import org.apache.spark.sql.graft.TextExpressions
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def randToks(n: Int): Seq[String] =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val cases = (0 until 60).map { i =>
      val a = randToks(rnd.nextInt(30))
      val b0 = randToks(rnd.nextInt(30))
      // half the cases: splice a slice of a into b (planted long run)
      val b =
        if (i % 2 == 0 && a.nonEmpty) {
          val from = rnd.nextInt(a.length)
          val slice = a.slice(from, from + 1 + rnd.nextInt(a.length - from))
          val at = if (b0.isEmpty) 0 else rnd.nextInt(b0.length)
          b0.take(at) ++ slice ++ b0.drop(at)
        } else b0
      (i.toLong, a.mkString(" "), b.mkString(" "))
    } ++ Seq(
      (100L, "", "a b c"),          // empty left
      (101L, "a b c", ""),          // empty right
      (102L, "a b c d", "a b c d"), // identical
      (103L, "a a a a", "a a a"),   // repeated symbol
      (104L, "a b c", "x y z"))     // fully disjoint (unknown tokens)
    val got = cases.toDF("id", "t1", "t2")
      .select(col("id"),
        TextExpressions.lcsTokens(col("t1"), col("t2")).as("lcs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (id, t1, t2) =>
      val want = bruteLcs(t1.split("\\s+").filter(_.nonEmpty).toSeq,
        t2.split("\\s+").filter(_.nonEmpty).toSeq)
      assert(got(id) == want,
        s"case $id: kernel ${got(id)} != brute $want for '$t1' vs '$t2'")
    }
  }

  test("lcs pairs: the exact run crosses CDC boundaries past segment " +
      "granularity") {
    import spark.implicits._
    val Seq(a, b, c, d, e, f, x, y) = cdcPlainToks.slice(200, 208)
    val bt = cdcBoundaryTok
    // doc1/doc2 share the full run "a b bt c d e f" (7 tokens) ACROSS
    // a CDC boundary; the only shared COMPLETE segment is [c d e f]
    // (4 tokens — their first segments differ at the head). A
    // segment-granular audit reports 4; the exact kernel must find 7.
    val docs = Seq(
      (1L, s"$x $a $b $bt $c $d $e $f"),
      (2L, s"$y $a $b $bt $c $d $e $f")).toDF("doc_id", "text")
    val got = Dedup.lcsPairsOn(docs, minLen = 2, Dedup.CdcModulus, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 7L)), s"got ${got.toSeq}")
  }

  test("lcsPairs equals the brute-force candidate+DP reference on " +
      "random corpora") {
    import spark.implicits._
    val p = Dedup.CdcModulus
    val rnd = new scala.util.Random(29)
    val boundary = (0 to 3000).map(i => s"t$i")
      .filter(t => md5LongScala(t) % p == 0).take(3)
    val plain = (0 to 3000).map(i => s"w$i")
      .filter(t => md5LongScala(t) % p != 0).take(10)
    val vocab = (boundary ++ plain).toIndexedSeq
    val docs = (0 until 25).map { i =>
      (i.toLong,
        Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
    }
    // reference candidate rule: pairs sharing >= 1 duplicated segment
    def segHashes(text: String): Set[Long] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toList
      val out = scala.collection.mutable.ListBuffer[Long]()
      var seg = List.empty[String]
      toks.zipWithIndex.foreach { case (w, i) =>
        seg :+= w
        if (md5LongScala(w) % p == 0 || i == toks.length - 1) {
          out += md5LongScala(seg.mkString(" ")); seg = Nil
        }
      }
      out.toSet
    }
    val byDoc = docs.map { case (id, t) => id -> segHashes(t) }.toMap
    val dupSegs = docs.flatMap(d => byDoc(d._1).toSeq).groupBy(identity)
      .filter(_._2.size >= 2).keySet
    val minLen = 2
    val text = docs.toMap
    def lcsOf(i: Long, j: Long) =
      bruteLcs(text(i).split(" ").toSeq, text(j).split(" ").toSeq)
    // CANONICAL rule (the default): later occurrence vs the shared
    // duplicated segment's min owner
    val canonOf = dupSegs.map(h =>
      h -> docs.collect { case (id, t) if byDoc(id)(h) => id }.min).toMap
    val wantCanon = (for {
      (id, _) <- docs; h <- byDoc(id) & dupSegs
      c = canonOf(h) if id > c
    } yield (c, id)).distinct
      .map { case (i, j) => (i, j, lcsOf(i, j)) }
      .filter(_._3 >= minLen)
      .sortBy(t => (t._1, t._2))
    val got = Dedup.lcsPairsOn(docs.toDF("doc_id", "text"), minLen, p,
        1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == wantCanon, s"got $got\nwant $wantCanon")
    assert(wantCanon.nonEmpty, "degenerate fixture: no candidate pairs")
    // the CLIQUE audit (allPairs = true): every pair sharing a dup seg
    val wantAll = (for {
      (i, _) <- docs; (j, _) <- docs
      if i < j && (byDoc(i) & byDoc(j) & dupSegs).nonEmpty
      l = lcsOf(i, j) if l >= minLen
    } yield (i, j, l)).sortBy(t => (t._1, t._2))
    val gotAll = Dedup.lcsPairsOn(docs.toDF("doc_id", "text"), minLen, p,
        1000000L, allPairs = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(gotAll == wantAll, s"gotAll $gotAll\nwantAll $wantAll")
    // canonical ⊆ clique, and strictly smaller on clone groups > 2
    assert(wantCanon.toSet.subsetOf(wantAll.toSet))
    // over-cap pair set fails loudly instead of shuffling text
    val err = intercept[IllegalArgumentException] {
      Dedup.lcsPairsOn(docs.toDF("doc_id", "text"), minLen, p, 0L)
        .count()
    }
    assert(err.getMessage.contains("candidate pairs"))
  }

  test("ngram novelty: ownership is min doc_id, ratio floor-divides") {
    import spark.implicits._
    val docs = Seq(
      (30L, "a b c"),         // {abc} owned by 10 → 0/1
      (10L, "a b c"),         // {abc} first here → 1/1
      (20L, "a b c p q"))     // {abc,bcp,cpq}: 2 of 3 novel → ⌊2e6/3⌋
      .toDF("doc_id", "text")
    val got = TextAnalysis.ngramNoveltyOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got == Map(10L -> 1000000L, 20L -> 666666L, 30L -> 0L),
      s"got $got")
  }
}
