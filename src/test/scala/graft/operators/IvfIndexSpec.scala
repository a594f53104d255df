package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** IVF index: structure, full-probe exactness, partial-probe recall,
  * and the materialized-index plan shape (map-only assignment). */
class IvfIndexSpec extends SparkSpec {

  private lazy val cents = IvfIndex.train(spark, sf, cells = 8, iters = 2)

  private def clearMemos(): Unit = {
    IvfIndex.trainMemo.clear(); IvfIndex.indexMemo.clear()
  }

  test("train yields one centroid per cell with the right dimensionality") {
    assert(cents.length == 8)
    assert(cents.map(_._1).toSet == (0 until 8).toSet)
    assert(cents.forall(_._2.length == 64))
  }

  test("every vector is assigned to exactly one cell") {
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = IvfIndex.assign(emb.select("vec_id", "embedding"), cents)
    assert(idx.count() == emb.count())
    assert(idx.groupBy("vec_id").count().where(col("count") > 1).count() == 0)
  }

  test("native CellArgmax ≡ composed greatest-struct assignment (bitwise)") {
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val native = emb.select(col("vec_id"),
        IvfIndex.cellExpr(cents, col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val composed = emb.select(col("vec_id"),
        IvfIndex.cellExprComposed(cents, col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(native == composed)
    // degenerate inputs: empty array (all-NaN sims → cell 0) and short
    // array (partial-dim accumulation) agree; NULL input deliberately
    // DIVERGES — kernel yields null (no cell for an unknown vector),
    // composed form pools it into cell 0 via the null-sim struct
    // tiebreak (see CellArgmax scaladoc)
    import spark.implicits._
    val edge = Seq(
      (1L, Some(Array.empty[Float])),
      (2L, None),
      (3L, Some(Array(0.5f, -1.5f, 2f)))).toDF("vec_id", "embedding")
    val en = edge.select(IvfIndex.cellExpr(cents, col("embedding")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
    val ec = edge.select(IvfIndex.cellExprComposed(cents, col("embedding")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
    assert(en(0) == ec(0) && en(2) == ec(2))
    assert(en(1) == null && ec(1) == 0)
  }

  test("assignment is map-only: zero shuffles in the plan") {
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = IvfIndex.assign(emb.select("vec_id", "embedding"), cents)
    val plan = idx.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment plan shuffles:\n$plan")
  }

  test("nprobe = all cells reproduces the brute-force top-k exactly") {
    val ivf = IvfIndex.search(spark, sf, cents, queryId = 0L,
      k = 10, nprobe = 8).collect().map(_.getLong(0)).toSeq
    val brute = Similarity.topK(spark, sf, queryId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == brute)
  }

  test("inverted file: search reads only probed cell partitions from disk") {
    val idx = java.nio.file.Files.createTempDirectory("ivf").toString + "/index"
    IvfIndex.buildInvertedFile(spark, sf, cents, idx)
    // layout: one directory per cell
    val cellDirs = new java.io.File(idx).list().filter(_.startsWith("cell="))
    assert(cellDirs.length == 8, cellDirs.mkString(","))

    val qVec = graft.Tables.embeddings(spark, sf)
      .where(col("vec_id") === 0L).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val search = IvfIndex.searchInvertedFile(spark, idx, cents, qVec,
      excludeId = Some(0L), k = 10, nprobe = 3)
    // the probe filter must prune partitions at the scan
    val plan = search.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning in plan:\n$plan")

    // full probe over the file == the inline full-probe search == brute force
    val full = IvfIndex.searchInvertedFile(spark, idx, cents, qVec,
      excludeId = Some(0L), k = 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.topK(spark, sf, queryId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(full == brute)
    // partial probe agrees with the inline search on the same probes
    val inline = IvfIndex.search(spark, sf, cents, queryId = 0L,
      k = 10, nprobe = 3).collect().map(_.getLong(0)).toSeq
    assert(search.collect().map(_.getLong(0)).toSeq == inline)
  }

  test("train/build memo: one training, one index write per (dir,cells,iters)") {
    clearMemos()
    val c1 = IvfIndex.trainCached(spark, sf, cells = 8, iters = 2)
    val c2 = IvfIndex.trainCached(spark, sf, cells = 8, iters = 2)
    assert(c1 eq c2, "second trainCached must return the memoized object")
    assert(c1 == cents, "memoized training must equal direct training")
    val (p1, _) = IvfIndex.invertedFileCached(spark, sf, cells = 8, iters = 2)
    val mtimes1 = new java.io.File(p1).listFiles().map(_.lastModified).toSeq
    val (p2, _) = IvfIndex.invertedFileCached(spark, sf, cells = 8, iters = 2)
    assert(p1 == p2)
    val mtimes2 = new java.io.File(p2).listFiles().map(_.lastModified).toSeq
    assert(mtimes1 == mtimes2, "second call must not rewrite the index")
    // different hyper-parameters must not alias the same index
    val (p3, c3) = IvfIndex.invertedFileCached(spark, sf, cells = 4, iters = 1)
    assert(p3 != p1 && c3.length == 4)
    clearMemos()
  }

  test("memo invalidates when the embeddings data is rewritten in place") {
    // a warm JVM must not serve a stale index after a CDC refresh or
    // compaction rewrites the source parquet under the same path — the
    // memo key folds in each file's (name, mtime, size)
    val dir = java.nio.file.Files.createTempDirectory("ivfdata").toString
    graft.Tables.embeddings(spark, sf)
      .write.parquet(s"$dir/embeddings.parquet")
    clearMemos()
    val c1 = IvfIndex.trainCached(spark, dir, cells = 4, iters = 1)
    assert(c1 eq IvfIndex.trainCached(spark, dir, cells = 4, iters = 1),
      "unchanged data must keep the memo")
    val (p1, _) = IvfIndex.invertedFileCached(spark, dir, cells = 4, iters = 1)
    val m1 = new java.io.File(p1).listFiles().map(_.lastModified).max
    // in-place refresh: same table path, different rows and file stats
    graft.Tables.embeddings(spark, sf).limit(100)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val c2 = IvfIndex.trainCached(spark, dir, cells = 4, iters = 1)
    assert(!(c1 eq c2), "stale training served after the data changed")
    val (p2, _) = IvfIndex.invertedFileCached(spark, dir, cells = 4, iters = 1)
    assert(p1 != p2,
      "a rebuild must land in a NEW fingerprint-suffixed directory so " +
        "in-flight searches over the old index are never clobbered")
    assert(new java.io.File(p2).exists(), "fresh index must be materialized")
    assert(new java.io.File(p1).listFiles().map(_.lastModified).max == m1,
      "the superseded index directory must be left untouched for readers")
    clearMemos()
  }

  test("ivf GC: a superseded index directory is reaped one full " +
      "refresh after its key leaves the memo") {
    graft.IndexGc.reset(); clearMemos()
    // this test drives three refresh cycles in milliseconds — drop the
    // wall-clock fence so the generation fence alone is under test
    // try/finally: a mid-test failure must not leave the wall-clock
    // reaper fence disabled for every later test in the JVM
    val grace0 = graft.IndexGc.graceMs; graft.IndexGc.graceMs = 0L
    try {
      val dir = java.nio.file.Files.createTempDirectory("ivfgc").toString
      def rewrite(n: Int): Unit = graft.Tables.embeddings(spark, sf)
        .limit(n).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      rewrite(60)
      val (p1, _) = IvfIndex.invertedFileCached(spark, dir, cells = 4, iters = 1)
      rewrite(40)
      val (p2, _) = IvfIndex.invertedFileCached(spark, dir, cells = 4, iters = 1)
      assert(p2 != p1 && new java.io.File(p1).exists(),
        "first refresh condemns only — in-flight searches keep p1")
      rewrite(20)
      val (p3, _) = IvfIndex.invertedFileCached(spark, dir, cells = 4, iters = 1)
      assert(p3 != p2)
      assert(!new java.io.File(p1).exists(), "p1 must be reaped now")
      assert(new java.io.File(p2).exists(), "p2 gets its grace refresh")
      assert(spark.read.parquet(p3).count() == 20L,
        "current index unaffected by the reap")
    } finally {
      graft.IndexGc.graceMs = grace0
      clearMemos(); graft.IndexGc.reset()
    }
  }

  test("incremental append: new vectors join existing cells and are found") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("ivfapp").toString + "/index"
    IvfIndex.buildInvertedFile(spark, sf, cents, idx)
    val before = spark.read.parquet(idx).count()
    // ingest a new vector that is EXACTLY vec_id 0's embedding → its
    // cell is 0's cell and a full-probe search for 0 must now rank the
    // clone first (cosine 1.0)
    val v0 = graft.Tables.embeddings(spark, sf)
      .where(col("vec_id") === 0L).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val newId = 1000000L
    IvfIndex.appendToInvertedFile(
      Seq((newId, v0)).toDF("vec_id", "embedding"), cents, idx)
    assert(spark.read.parquet(idx).count() == before + 1)
    // no new cell directories beyond the trained C
    val cellDirs = new java.io.File(idx).list().filter(_.startsWith("cell="))
    assert(cellDirs.length <= 8)
    val hits = IvfIndex.searchInvertedFile(spark, idx, cents, v0,
      excludeId = Some(0L), k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(hits.head._1 == newId && hits.head._2 == 1.0,
      s"appended clone not found first: ${hits.toSeq}")
  }

  test("partial probe keeps useful recall at a fraction of the scan") {
    val ivf = IvfIndex.search(spark, sf, cents, queryId = 0L,
      k = 10, nprobe = 3).collect().map(_.getLong(0)).toSet
    val brute = Similarity.topK(spark, sf, queryId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (ivf & brute).size / 10.0
    assert(recall >= 0.3, s"recall@10 was $recall")
  }

  test("batch kNN join equals per-query inverted-file searches; scan pruned") {
    val queryIds = Seq(0L, 1L, 2L)
    val batch = IvfIndex.ivfKnnJoin(spark, sf, queryIds, k = 5, nprobe = 3,
      cells = 8, iters = 2)
    // the one scan is partition-pruned to the union of probe cells
    val plan = batch.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning in plan:\n$plan")
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val (idx, cents8) = IvfIndex.invertedFileCached(spark, sf, 8, 2)
    val want = queryIds.flatMap { qid =>
      val qv = graft.Tables.embeddings(spark, sf)
        .where(org.apache.spark.sql.functions.col("vec_id") === qid)
        .select("embedding").head.getSeq[Float](0).toArray
      IvfIndex.searchInvertedFile(spark, idx, cents8, qv,
        excludeId = Some(qid), k = 5, nprobe = 3)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, (i + 1).toLong, r.getLong(0),
          r.getDouble(1)) }
    }
    assert(got == want)
  }

  test("recall-drift gate: 25% appended ingest on a STALE quantizer " +
      "keeps recall@10 above the floor") {
    // the operational question an IVF deployment faces: vectors keep
    // arriving via appendToInvertedFile (assigned to the OLD coarse
    // quantizer, no retraining) — when is retraining due? This gate
    // measures exactly that: centroids trained on 75% of the corpus,
    // the other 25% appended afterwards, recall@10 evaluated against
    // brute force over the GROWN corpus, with a fresh-trained index as
    // the comparison point. Everything is deterministic (fixed data,
    // rounded scores, vec_id tiebreaks), so the floors are exact gates,
    // not flaky statistics.
    val tmp = java.nio.file.Files.createTempDirectory("ivfdrift").toString
    val emb = graft.Tables.embeddings(spark, sf)
    val baseDir = s"$tmp/base"
    emb.where(col("vec_id") % 4 =!= 0)
      .write.parquet(s"$baseDir/embeddings.parquet")
    val stale = IvfIndex.train(spark, baseDir, cells = 8, iters = 2)
    val staleIdx = s"$tmp/stale-index"
    IvfIndex.buildInvertedFile(spark, baseDir, stale, staleIdx)
    IvfIndex.appendToInvertedFile(
      emb.where(col("vec_id") % 4 === 0).select("vec_id", "embedding"),
      stale, staleIdx)
    val fresh = IvfIndex.train(spark, sf, cells = 8, iters = 2)
    val freshIdx = s"$tmp/fresh-index"
    IvfIndex.buildInvertedFile(spark, sf, fresh, freshIdx)

    val queryIds = 0L until 10L
    val qVecs = queryIds.map { qid =>
      qid -> emb.where(col("vec_id") === qid)
        .select("embedding").head.getSeq[Float](0).toArray
    }.toMap
    // ground truth over the grown corpus (the full embeddings table)
    val brute = queryIds.map { qid =>
      qid -> Similarity.topK(spark, sf, qid, 10)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    def meanRecall(index: String, cents: IvfIndex.Centroids)
        : (Double, Set[Long]) = {
      val hits = queryIds.map { qid =>
        IvfIndex.searchInvertedFile(spark, index, cents, qVecs(qid),
          excludeId = Some(qid), k = 10, nprobe = 4)
          .collect().map(_.getLong(0)).toSet
      }
      (queryIds.zip(hits).map { case (q, h) => (h & brute(q)).size / 10.0 }
        .sum / queryIds.size, hits.flatten.toSet)
    }
    val (staleR, staleHits) = meanRecall(staleIdx, stale)
    val (freshR, _) = meanRecall(freshIdx, fresh)
    // the appended 25% must actually be retrievable through the stale
    // index — otherwise the gate isn't measuring drift at all
    assert(staleHits.exists(_ % 4 == 0),
      "no appended vector ever surfaced in stale-index results")
    // measured on this corpus: stale 0.0 drift would mean the append
    // path is broken; deep drift would mean retraining is overdue at
    // 25%. Floors sit just under the measured values (stale ≈ fresh
    // here — 25% appended does NOT warrant retraining on this data).
    assert(staleR >= 0.55, s"stale-quantizer recall@10 = $staleR")
    assert(freshR - staleR <= 0.15,
      s"drift fresh−stale = ${freshR - staleR} (fresh=$freshR, " +
        s"stale=$staleR) — retraining overdue before 25% appended")
  }
}
