package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.md5LongScala

/** Document-corpus right-to-erasure (q161–q165): the takedown must
  * propagate through the curated corpus, the packed shards, the corpus
  * Bloom, and the retrieval indexes — and after the vacuumed variant,
  * no deleted byte may survive anywhere in the lineage. */
class DocForgetSpec extends SparkSpec {
  import spark.implicits._

  private val delIds = Seq(45L, 48L, 262L)
  private lazy val bundle = DocForget.bundleCached(spark, sf)
  private lazy val td = DocForget.takedownCached(spark, sf, delIds)
  private lazy val docs = graft.Tables.documents(spark, sf)

  private def clearMemos(): Unit = {
    DocForget.bundleMemo.clear(); DocForget.takedownMemo.clear()
    DocForget.expansionMemo.clear()
  }

  test("post-takedown corpus probe equals the plain filter with the " +
      "batch excluded") {
    val probes = delIds ++ Seq(7L, 100L)
    val got = DocForget.takedownScan(spark, sf, delIds, Seq(7L, 100L))
      .select("doc_id").as[Long].collect().toSeq
    val want = docs
      .where(col("doc_id").isin(probes: _*) &&
        !col("doc_id").isin(delIds: _*))
      .select("doc_id").orderBy("doc_id").as[Long].collect().toSeq
    assert(got == want && want.nonEmpty)
  }

  test("packed-shard sweep: no surviving packed row references a " +
      "deleted doc, and the layout equals a fresh pack over the " +
      "post-takedown corpus") {
    val packed = DocForget.takedownPack(spark, sf, delIds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(packed.forall(p => !delIds.contains(p._1)),
      "a deleted doc's span survives in a packed shard")
    // the repacked layout must be bitwise a FRESH pack of the filtered
    // corpus: offsets closed up, bins reassigned, survivors intact
    val tmp = java.nio.file.Files.createTempDirectory("dfpack").toString
    docs.where(!col("doc_id").isin(delIds: _*))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val want = Packing.pack(spark, tmp,
        DocForget.PackBudget, DocForget.PackBlocks)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(packed == want)
  }

  test("only the deleted docs' blocks rewrote; every other block is " +
      "SHARED with the parent layout by manifest row") {
    val candBlocks = delIds
      .map(id => java.lang.Math.floorMod(md5LongScala(s"pack:$id"), 8L))
      .toSet
    val parent = Layouts.manifestOf(spark, bundle.pack)
    val child = Layouts.manifestOf(spark, td.pack)
    (parent.keySet -- candBlocks).foreach { b =>
      assert(child(b) == parent(b),
        s"untouched block $b was copied instead of shared")
    }
    candBlocks.foreach { b =>
      assert(!child.get(b).contains(parent(b)),
        s"candidate block $b was not rewritten")
    }
  }

  test("postings sweep: no posting of a deleted doc survives anywhere " +
      "in the patched index, and phrase search equals the filtered scan") {
    val leftover = Layouts.readFiles(spark, td.postings)
      .where(col("doc_id").isin(delIds: _*)).count()
    assert(leftover == 0L, s"$leftover postings of deleted docs survive")
    val got = DocForget.takedownPhrase(spark, sf, delIds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    graft.Caches.releaseAll()
    val want = Ranking.phraseSearchOn(
      docs.where(!col("doc_id").isin(delIds: _*)),
      Seq("query", "big", "part"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    graft.Caches.releaseAll()
    assert(got == want)
  }

  test("ANN sweep: with every cell probed, the post-takedown top-k is " +
      "the brute-force top-k over the surviving vectors") {
    import org.apache.spark.sql.graft.VectorExpressions.cosineNative
    import graft.functions.TextFunctions.roundStable
    val emb = graft.Tables.embeddings(spark, sf)
    val qv = emb.where(col("vec_id") === 0L).select("embedding")
      .head.getSeq[Float](0).toArray
    val got = DocForget.takedownAnn(spark, sf, delIds, queryId = 0L,
        k = 10, nprobe = DocForget.IvfCells)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = emb
      .where(col("vec_id") =!= 0L && !col("vec_id").isin(delIds: _*))
      .select(col("vec_id"),
        roundStable(cosineNative(col("embedding"), typedlit(qv)), 6)
          .as("score"))
      .orderBy(desc("score"), col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want && got.size == 10)
  }

  test("accounting is exact and a re-delete of the same batch is a " +
      "no-op (idempotence)") {
    val r = td.report
    val nDocs = docs.where(col("doc_id").isin(delIds: _*)).count()
    val nVecs = graft.Tables.embeddings(spark, sf)
      .where(col("vec_id").isin(delIds: _*)).count()
    val nToks = docs.where(col("doc_id").isin(delIds: _*))
      .select(coalesce(sum(graft.functions.TextFunctions
        .tokenCount(col("text")).cast("long")), lit(0L)))
      .head.getLong(0)
    assert(r.corpus.rowsDeleted == nDocs && nDocs > 0)
    assert(r.pack.rowsDeleted == nDocs)
    assert(r.ivf.rowsDeleted == nVecs && nVecs > 0)
    assert(r.postings.rowsDeleted == nToks && nToks > 0)
    // deleting the already-deleted batch from the patched versions
    // finds nothing — the invariant a replayed compliance queue needs
    val out = java.nio.file.Files.createTempDirectory("dfidem").toString
    val again = BloomSkip.deleteKeysFrom(spark, td.corpus,
      s"$out/corpus2", delIds, keyCol = "doc_id")
    assert(again.rowsDeleted == 0L)
    val again2 = BloomSkip.deleteKeysFrom(spark, td.ivf,
      s"$out/ivf2", delIds, keyCol = "vec_id")
    assert(again2.rowsDeleted == 0L)
  }

  test("corpus Bloom was rebuilt from the survivors: deleted " +
      "fingerprints gone, surviving fingerprints present") {
    val in = new java.io.FileInputStream(td.bloom)
    val bloom =
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    val fps = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    delIds.foreach { id =>
      assert(!bloom.mightContainString(fps(id)),
        s"deleted doc $id's fingerprint survives in the corpus Bloom")
    }
    Seq(7L, 100L, 200L).foreach { id =>
      assert(bloom.mightContainString(fps(id)),
        s"survivor $id's fingerprint lost from the corpus Bloom")
    }
  }

  test("takedown phrase search actually DROPS a doc that matched " +
      "before (the compliance point of q163) — runs LAST of the " +
      "shared-batch tests: a new batch evicts the memoized takedown") {
    val before = Ranking.phraseSearchOn(docs, Seq("query", "big", "part"))
      .select("doc_id").as[Long].collect().toSeq
    graft.Caches.releaseAll()
    assert(before.nonEmpty, "fixture: phrase must match at sf0.001")
    val target = before.head
    val after = DocForget.takedownPhrase(spark, sf, Seq(target))
      .select("doc_id").as[Long].collect().toSeq
    graft.Caches.releaseAll()
    assert(after == before.filterNot(_ == target))
  }

  test("cluster cascade: the seed's q60 near-dup mates are taken down " +
      "with it, the expansion matches canonicalDocs' components, and " +
      "the cascade is capped") {
    // doc 45's cluster at sf0.001 is {45, 487} (q60's LSH components)
    val expanded = DocForget.expandCluster(spark, sf, Seq(45L))
    val comps = Curation.canonicalDocs(spark, sf)
      .select("doc_id", "comp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Caches.releaseAll()
    val want = comps.filter(_._2 == comps(45L)).keys.toSeq.sorted
    assert(expanded == want && expanded.size > 1,
      s"cascade $expanded != component members $want")
    // the expansion relation reports exactly the same members
    val rel = DocForget.clusterExpansion(spark, sf, Seq(45L))
      .select("doc_id").as[Long].collect().toSeq
    graft.Caches.releaseAll()
    assert(rel == want)
    // and the scan through the patched corpus dropped every member
    val got = DocForget.clusterTakedownScan(spark, sf, Seq(45L),
      Seq(7L, 100L) ++ expanded)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(7L, 100L).filterNot(expanded.contains).sorted)
  }

  test("vacuumed takedown: the deleted docs' bytes are PHYSICALLY gone " +
      "from every parquet file in every artifact lineage") {
    // tiny private corpus so the full bundle+vacuum stays fast and the
    // sweep below reads every file
    val dir = java.nio.file.Files.createTempDirectory("dfvac").toString
    val n = 40
    (0 until n).map(i =>
        (i.toLong, s"tok$i alpha beta gamma delta tok$i epsilon",
          "en", "synth", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (0 until 16).map(i => (i.toLong,
        Array(1.0f + i, 2.0f - i, 0.5f * i + 1.0f, 3.0f + (i % 5)), i % 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ids = Seq(3L, 7L)
    val vac = DocForget.vacuumTakedown(spark, dir, ids)
    // lineage logs retain exactly the post-takedown version
    Seq("corpus", "pack", "postings", "ivf").foreach { a =>
      val vs = Layouts.versions(s"${vac.root}/log-$a")
      assert(vs.map(_._1) == Seq(2L), s"$a lineage retains ${vs.map(_._1)}")
    }
    intercept[IllegalArgumentException] {
      Layouts.readAsOf(spark, s"${vac.root}/log-corpus", 1L)
    }
    // THE sweep: every parquet file left under the root, by absolute
    // path — no deleted doc_id / vec_id row anywhere on disk
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val files = walk(new java.io.File(vac.root))
    assert(files.nonEmpty)
    files.foreach { f =>
      val df = spark.read.parquet(f.getAbsolutePath)
      Seq("doc_id", "vec_id").foreach { c =>
        if (df.columns.contains(c)) {
          val bad = df.where(col(c).isin(ids: _*)).count()
          assert(bad == 0L, s"$bad deleted rows survive in $f ($c)")
        }
      }
    }
    // the corpus Bloom at the root is the REBUILT one
    val in = new java.io.FileInputStream(s"${vac.root}/_bloom.bf")
    val bloom =
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    val fps = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    ids.foreach(id => assert(!bloom.mightContainString(fps(id))))
    assert(bloom.mightContainString(fps(11L)))
    // and the retained corpus version reads clean
    val kept = Layouts.readFiles(spark, vac.corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == (0L until n.toLong).toSet -- ids)
  }
  test("doc-bundle artifacts ride the served lineage: every takedown " +
      "commits its four versions, and a superseded takedown expires by " +
      "retain-set reference counting") {
    DocForget.takedownCached(spark, sf, Seq(200L))
    val b = DocForget.bundleCached(spark, sf)
    val t2 = DocForget.takedownCached(spark, sf, Seq(201L))
    Seq(b.corpus, b.pack, b.postings, b.ivf).foreach { base =>
      val vs = Layouts.versions(BloomSkip.lineageLogOf(base))
      assert(vs.headOption.exists(_._2 == base),
        s"base $base missing from its own lineage")
      assert(vs.size == 2,
        s"lineage of $base retains ${vs.size} versions (want base+head)")
    }
    assert(Layouts.versions(BloomSkip.lineageLogOf(b.corpus))
      .last._2 == t2.corpus)
    assert(Layouts.versions(BloomSkip.lineageLogOf(b.ivf))
      .last._2 == t2.ivf)
  }

  test("a complete bundle root is REUSED after memo loss (another " +
      "JVM's live bundle is never inline-deleted); a torn root is " +
      "retired and rebuilt") {
    val b = DocForget.bundleCached(spark, sf)
    def corpusFiles() =
      Option(new java.io.File(b.corpus).listFiles()).toSeq.flatten
        .filter(_.isDirectory)
        .map(d => (d.getName, d.lastModified())).toSet
    val before = corpusFiles()
    assert(before.nonEmpty)
    // memo loss (a fresh JVM): the deterministic root already exists
    // and is complete — the rebuild must reuse it, byte-untouched
    clearMemos()
    val b2 = DocForget.bundleCached(spark, sf)
    assert(b2.root == b.root && corpusFiles() == before,
      "a valid bundle root was rebuilt instead of reused")
    // a TORN root (crashed build: completion proof missing) is rebuilt
    // through a tmp + atomic publish; the torn root retires deferred
    clearMemos()
    assert(new java.io.File(s"${b.root}/_bloom.bf").delete())
    val b3 = DocForget.bundleCached(spark, sf)
    assert(b3.root == b.root)
    assert(new java.io.File(s"${b3.root}/_bloom.bf").exists(),
      "rebuilt bundle lacks its completion proof")
    // the rebuilt manifests must point INSIDE the published root, not
    // at the tmp build dir
    Layouts.manifestOf(spark, b3.corpus).values.foreach { p =>
      assert(new java.io.File(p).exists() && p.contains("/corpus/"),
        s"manifest entry $p does not resolve under the published root")
    }
    assert(graft.Tables.documents(spark, sf).count() ==
      Layouts.readFiles(spark, b3.corpus).count())
  }
}
