package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The one-command corpus build (q112): stage containment, manifest
  * packing arithmetic, and the epoch structure — the composition-level
  * invariants no single-stage oracle can see. */
class CorpusBuildSpec extends SparkSpec {

  // sf0.01, not the default sf0.001: the Gopher word-count floor (50
  // tokens) rejects every 50-token-ish doc of the tiny corpus, which
  // exercises nothing downstream. The degenerate-corpus path is its
  // own test below.
  private lazy val stages =
    Curation.corpusBuildStages(spark, "/root/testdata/sf0.01")
  private def ids(stage: String): Set[Long] =
    stages(stage).select("doc_id").collect().map(_.getLong(0)).toSet

  test("stages only ever shrink: gated ⊇ exact ⊇ near ⊇ sem ⊇ capped") {
    val gated = ids("gated"); val exact = ids("exact")
    val near = ids("near"); val sem = ids("sem"); val capped = ids("capped")
    assert(gated.nonEmpty, "gates killed the whole sf corpus")
    assert(exact.subsetOf(gated) && near.subsetOf(exact) &&
      sem.subsetOf(near) && capped.subsetOf(sem),
      s"containment broken: ${gated.size} ⊇ ${exact.size} ⊇ " +
        s"${near.size} ⊇ ${sem.size} ⊇ ${capped.size}")
  }

  test("manifest: per-block start_tok is the exact (doc, epoch)-ordered " +
    "prefix sum, and bins advance every budget tokens") {
    val rows = stages("manifest")
      .select("doc_id", "epoch", "block", "n_tokens", "start_tok", "bin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._3).foreach { case (block, rs) =>
      var acc = 0L
      rs.sortBy(r => (r._1, r._2)).foreach {
        case (d, e, _, n, start, bin) =>
          assert(start == acc, s"block $block doc $d/$e: $start != $acc")
          assert(bin == block * Packing.BinStride + start / 2048,
            s"block $block doc $d/$e: bad bin $bin")
          acc += n
      }
    }
  }

  test("every kept doc packs every one of its epochs, contiguously " +
    "from 0") {
    val manifest = stages("manifest")
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val capped = ids("capped")
    assert(manifest.map(_._1).toSet == capped,
      "manifest docs != capped survivors")
    manifest.groupBy(_._1).foreach { case (d, es) =>
      val epochs = es.map(_._2).sorted.toSeq
      assert(epochs == (0L until epochs.length).toSeq,
        s"doc $d epochs not contiguous: $epochs")
    }
  }

  test("the manifest never reuses a (block, start) slot") {
    val slots = stages("manifest").select("block", "start_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(slots.length == slots.toSet.size, "overlapping pack slots")
  }

  test("build report reconciles exactly with the manifest") {
    val manifest = stages("manifest").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(5)))
    val report = Curation.buildReport(spark, "/root/testdata/sf0.01")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val byBlock = manifest.groupBy(_._3)
    assert(report.keySet == byBlock.keySet)
    byBlock.foreach { case (b, rs) =>
      assert(report(b) == ((rs.length.toLong,
        rs.map(_._1).distinct.length.toLong, rs.map(_._4).sum,
        rs.map(_._5).distinct.length.toLong)), s"block $b")
    }
  }

  test("trainGateCutoffs freezes faithfully: absolute re-gating with " +
    "the frozen thresholds reproduces the build's percentile gate") {
    val dir = "/root/testdata/sf0.01"
    val cuts = Curation.trainGateCutoffs(spark, dir)
    assert(cuts.maxPpxMicros.isDefined && cuts.minDsirMicros.isDefined
      && cuts.minOddsMicros.isDefined)
    val refrozen = stages("flagged").where(
      col("quality") >= 0.5 && col("g_shape") && col("g_rep") &&
        (col("ppx").isNull || col("ppx") <= cuts.maxPpxMicros.get) &&
        (col("dsir").isNull || col("dsir") >= cuts.minDsirMicros.get) &&
        (col("odds").isNull || col("odds") >= cuts.minOddsMicros.get))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(refrozen == ids("gated"))
  }

  test("a corpus the gates empty out yields an empty manifest, not a " +
    "crash") {
    // every doc sits far under the Gopher 50-token floor, so the shape
    // rule rejects the whole corpus; the semantic stage must take its
    // zero-survivor path (no zero-cell k-means crash) and the manifest
    // must come back empty
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cbempty").toString
    Seq((0L, "en", "s", "tiny doc one"), (1L, "en", "s", "tiny doc two"))
      .toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((0L, Array(0.1f, 0.2f), 0), (1L, Array(0.2f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val m = Curation.corpusBuild(spark, dir)
    assert(m.count() == 0L)
    graft.Caches.releaseAll()
  }

  test("the percentile model gates rescue a corpus whose score SCALE " +
    "shifts (the sf1 lesson): sf0.001 still builds") {
    // absolute gate-SF thresholds emptied 10× corpora; the relative
    // cutoffs must keep any corpus's best 90% regardless of the ppx /
    // dsir / odds magnitudes
    val m = Curation.corpusBuild(spark, sf)
    assert(m.count() > 0L)
    graft.Caches.releaseAll()
  }

  test("corpusBuild memoizes the manifest as a build artifact — " +
      "repeat and post-clear rebuilds agree row-for-row") {
    def rows() = Curation.corpusBuild(spark, sf).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    val first = rows()
    assert(rows() == first)      // memo hit: the same checkpointed frame
    Curation.manifestMemo.clear()
    assert(rows() == first)      // fresh build: deterministic artifact
    graft.Caches.releaseAll()
  }

  private def manifestRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "epoch", "block", "n_tokens", "start_tok", "bin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sorted.toSeq

  test("publishBuild + loadBuild round-trip the manifest row-for-row") {
    val dir = "/root/testdata/sf0.01"
    val out = java.nio.file.Files.createTempDirectory("cbpub").toString
    Curation.publishBuild(spark, dir, out)
    assert(manifestRows(Curation.loadBuild(spark, dir, out)) ==
      manifestRows(Curation.corpusBuild(spark, dir)))
    // schema round-trips too (block restored as LONG in manifest
    // order; parquet drops the non-null flag, so nullability aside)
    assert(Curation.loadBuild(spark, dir, out).schema
        .map(f => (f.name, f.dataType)) ==
      Curation.corpusBuild(spark, dir).schema
        .map(f => (f.name, f.dataType)))
    graft.Caches.releaseAll()
  }

  test("corpusBuildPersistent is restartable across sessions: a fresh " +
      "JVM-equivalent reads the published table without rebuilding") {
    // copy the corpus so we can prove the no-rebuild path: after the
    // publish, DELETE the embeddings table — a rebuild would need it
    // (the semantic stage), so a second persistent call succeeding
    // proves it came from the published artifact alone
    val src = "/root/testdata/sf0.01"
    val base = java.nio.file.Files.createTempDirectory("cbpers").toString
    val corpus = s"$base/corpus"; val out = s"$base/build"
    new java.io.File(corpus).mkdirs()
    for (t <- Seq("documents", "embeddings"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$corpus/$t.parquet"))
    val first = manifestRows(
      Curation.corpusBuildPersistent(spark, corpus, out))
    assert(first.nonEmpty)
    // "another session": all per-JVM memos gone, embeddings gone
    Curation.manifestMemo.clear()
    Curation.gateModelMemo.clear(); Curation.gateSignalMemo.clear()
    assert(new java.io.File(s"$corpus/embeddings.parquet").delete())
    assert(manifestRows(
      Curation.corpusBuildPersistent(spark, corpus, out)) == first)
    graft.Caches.releaseAll()
  }

  private def blockDirs(out: String): Set[String] =
    Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("block="))
      .map(_.getName).toSet

  test("republish with fewer blocks removes the stale block= " +
      "partitions (no silent mixing on loadBuild)") {
    val dir = "/root/testdata/sf0.01"
    val out = java.nio.file.Files.createTempDirectory("cbshrink").toString
    Curation.publishBuild(spark, dir, out)
    val wide = blockDirs(out)
    assert(wide.size > 2, s"expected >2 blocks from the default build: $wide")
    // republish the SAME corpus packed into 2 blocks over the same
    // outDir: PartitionedUpsert only swaps block=0/1, so without
    // explicit cleanup the other 6 directories would survive and
    // loadBuild would mix the old build's rows in
    Curation.publishBuild(spark, dir, out, packBlocks = 2)
    val narrow = blockDirs(out)
    assert(narrow.subsetOf(wide) && narrow.size <= 2 &&
      !wide.subsetOf(narrow), s"stale partitions survived: $narrow")
    assert(manifestRows(Curation.loadBuild(spark, dir, out,
        packBlocks = 2)) ==
      manifestRows(Curation.corpusBuild(spark, dir, packBlocks = 2)))
    // republish a gates-empty corpus over the same outDir: the sidecar
    // alone is the complete build — every block= dir must go, and
    // loadBuild must see zero rows, not the previous build's
    import spark.implicits._
    val empty = java.nio.file.Files.createTempDirectory("cbshrinke").toString
    Seq((0L, "en", "s", "tiny doc one"), (1L, "en", "s", "tiny doc two"))
      .toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$empty/documents.parquet")
    Seq((0L, Array(0.1f, 0.2f), 0), (1L, Array(0.2f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$empty/embeddings.parquet")
    Curation.publishBuild(spark, empty, out)
    assert(blockDirs(out).isEmpty, s"empty build left ${blockDirs(out)}")
    assert(Curation.loadBuild(spark, empty, out).count() == 0L)
    graft.Caches.releaseAll()
  }

  test("loadBuild fails loudly on a params or corpus mismatch") {
    val dir = "/root/testdata/sf0.01"
    val out = java.nio.file.Files.createTempDirectory("cbstale").toString
    Curation.publishBuild(spark, dir, out)
    // different build knobs → the published identity must not satisfy
    val e1 = intercept[IllegalArgumentException](
      Curation.loadBuild(spark, dir, out, domainCap = 7))
    assert(e1.getMessage.contains("publishBuild"))
    // different corpus (the tiny sf) under the same outDir → stale
    val e2 = intercept[IllegalArgumentException](
      Curation.loadBuild(spark, sf, out))
    assert(e2.getMessage.contains("mismatch"))
    graft.Caches.releaseAll()
  }
}
