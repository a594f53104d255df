package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Incremental near-dup cluster table: the stream-maintained
  * assignment ≡ the one-shot batch MinHash-LSH + components recompute
  * over the same ingested docs — across a checkpoint restart, a
  * same-id replay, a duplicate delivery, and merge-log compaction —
  * and the erasure path re-derives survivors in place, including the
  * bridge-doc COMPONENT SPLIT no edge log can express. */
class ClusterStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def asg(df: org.apache.spark.sql.DataFrame) = {
    val out = df.select("doc_id", "comp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caches.releaseAll()
    out
  }

  test("table assignment is bit-equal to the batch recompute across " +
      "restart, replay, duplicate delivery, and compaction") {
    val outDir = Files.createTempDirectory("clus").toString
    val ckpt = Files.createTempDirectory("clus_ckpt").toString
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val fixture = docs.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    def start() = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(ClusterStream.clusterSinkEachBatch(outDir,
        compactEvery = 2) _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val chunks = fixture.grouped(150).toSeq
    val (firstHalf, secondHalf) = chunks.splitAt(chunks.size / 2)
    val q1 = start()
    firstHalf.foreach { c => mem.addData(c: _*); q1.processAllAvailable() }
    q1.stop()
    val q2 = start() // checkpoint restart mid-stream
    secondHalf.foreach { c => mem.addData(c: _*); q2.processAllAvailable() }
    q2.stop()
    val want = asg(ClusterStream.batchAssignmentOn(docs))
    assert(asg(ClusterStream.assignmentTable(spark, outDir)) == want &&
      want.nonEmpty)
    // the corpus has real multi-doc clusters, or the twin proves nothing
    assert(want.groupBy(_._2).exists(_._2.size > 1),
      "fixture has no non-trivial cluster")
    // same-id replay: overwrite-own-partition converges
    val lastId = chunks.size.toLong - 1L
    ClusterStream.ingestBatch(chunks.last.toDF("doc_id", "text"),
      outDir, lastId)
    assert(asg(ClusterStream.assignmentTable(spark, outDir)) == want,
      "same-id replay moved the assignment")
    // duplicate delivery under a NEW epoch id: signatures are pure
    // functions of text, re-matching reproduces the same merges, and
    // the serving distinct collapses the extra rows
    ClusterStream.ingestBatch(chunks.head.toDF("doc_id", "text"),
      outDir, lastId + 1L)
    assert(asg(ClusterStream.assignmentTable(spark, outDir)) == want,
      "duplicate delivery moved the assignment")
    // the document body never lands in the table
    val cols = spark.read.parquet(s"$outDir/clusters/sigs").columns.toSet
    assert(cols == Set("doc_id", "sig", "base", "epoch"), s"$cols")
    // the compacted sig base stays CLUSTERED by doc_id inside each
    // written file — the row-group stats the pushed expansion-seed /
    // takedown-member scans skip on
    import org.apache.spark.sql.functions.{input_file_name,
      monotonically_increasing_id}
    val byFile = spark.read.parquet(s"$outDir/clusters/sigs/epoch=-1")
      .select(input_file_name().as("f"), col("doc_id"),
        monotonically_increasing_id().as("rid"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(byFile.nonEmpty, "compaction never folded a base partition")
    byFile.foreach { case (f, rows) =>
      val inOrder = rows.sortBy(_._3).map(_._2).toSeq
      assert(inOrder == inOrder.sorted,
        s"compacted sig base $f is not clustered by doc_id")
    }
    // canonical selection composed over the table equals the q60
    // recompute bit-for-bit (the q170 contract)
    val canonGot = graft.operators.Curation.canonicalWithComps(
        docs, ClusterStream.assignmentTable(spark, outDir))
      .collect().map(_.toSeq).toSeq
    graft.Caches.releaseAll()
    val canonWant = graft.operators.Curation.canonicalDocs(spark, sf)
      .collect().map(_.toSeq).toSeq
    graft.Caches.releaseAll()
    assert(canonGot == canonWant && canonWant.nonEmpty)
    // cascade expansion from the table is row-equal to the recompute
    val seed = want.groupBy(_._2).values.find(_.size > 1).get
      .map(_._1).min
    val gotExp = ClusterStream
      .clusterExpansionFromTable(spark, outDir, Seq(seed)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.Caches.releaseAll()
    val wantExp = graft.operators.DocForget
      .clusterExpansion(spark, sf, Seq(seed)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.Caches.releaseAll()
    assert(gotExp == wantExp && gotExp.size > 1)
  }

  test("cluster takedown splits a bridged component in place and the " +
      "table equals the batch recompute over the retained docs") {
    val outDir = Files.createTempDirectory("clus_td").toString
    // a three-doc chain: A ~ B ~ C but A !~ C (B is the bridge), plus
    // an untouched exact-dup pair and a singleton — sliding 40-word
    // windows stepping 12 give adjacent est_sim ≈ 0.54 and
    // distance-two ≈ 0.25 around the 0.5 threshold
    val words = (0 until 64).map(i => s"tok$i")
    def window(start: Int) = words.slice(start, start + 40).mkString(" ")
    val fixture = Seq(
      (10L, window(0)), (11L, window(12)), (12L, window(24)),
      (20L, "an exact duplicate pair kept out of the blast radius x y z"),
      (21L, "an exact duplicate pair kept out of the blast radius x y z"),
      (30L, "a lone singleton document about nothing in particular"))
    val docs = fixture.toDF("doc_id", "text")
    // the chain must actually be a chain, or the split test is vacuous
    val pre = asg(ClusterStream.batchAssignmentOn(docs))
    assert(Set(10L, 11L, 12L).map(d => pre.find(_._1 == d).get._2)
      == Set(10L), "fixture is not one bridged component")
    fixture.grouped(2).zipWithIndex.foreach { case (c, i) =>
      ClusterStream.ingestBatch(c.toDF("doc_id", "text"), outDir, i.toLong)
    }
    assert(asg(ClusterStream.assignmentTable(spark, outDir)) == pre)
    // takedown the BRIDGE: A and C must fall into separate components
    val r = ClusterStream.takedownClusters(spark, outDir, Seq(11L))
    assert(r.rowsDeleted == 1L && r.membersExpanded == 3L, s"$r")
    val got = asg(ClusterStream.assignmentTable(spark, outDir))
    val want = asg(ClusterStream.batchAssignmentOn(
      docs.where(col("doc_id") =!= 11L)))
    assert(got == want, s"got $got want $want")
    assert(got.contains(10L -> 10L) && got.contains(12L -> 12L),
      "the bridge takedown did not split the chain")
    assert(got.find(_._1 == 21L).get._2 == 20L,
      "an unrelated cluster was disturbed")
    // on-disk sweep: no signature row of the erased doc anywhere
    val left = spark.read.parquet(s"$outDir/clusters/sigs")
      .where(col("doc_id") === 11L).count()
    assert(left == 0L, "the erased doc's signature rows survive")
    // merge rows referencing the dissolved component's labels are gone
    val mDir = new java.io.File(s"$outDir/clusters/merges")
    if (mDir.exists() &&
        Option(mDir.listFiles()).exists(_.exists(_.getName.startsWith("epoch=")))) {
      val labels = spark.read.parquet(mDir.getPath)
        .select("a", "b").collect()
        .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      assert(!labels.exists(Set(10L, 11L, 12L)),
        s"stale merge labels: $labels")
    }
    // idempotent: the erased id expands to nothing
    val r2 = ClusterStream.takedownClusters(spark, outDir, Seq(11L))
    assert(r2.rowsDeleted == 0L && r2.membersExpanded == 0L, s"$r2")
    assert(asg(ClusterStream.assignmentTable(spark, outDir)) == want)
  }

  test("a crash between the signature rewrite and the merge-log " +
      "hygiene heals from the pending marker — including the triangle " +
      "where two retained near-dups must stay joined") {
    val outDir = Files.createTempDirectory("clus_crash").toString
    // a triangle: all three pairwise near-dups (identical text), so
    // after deleting doc 2 the retained pair {1, 3} must STAY one
    // component — a heal that only dropped merge rows would split them
    val text = "the same document text repeated across the triangle"
    Seq(Seq((1L, text)), Seq((2L, text)), Seq((3L, text)))
      .zipWithIndex.foreach { case (c, i) =>
        ClusterStream.ingestBatch(c.toDF("doc_id", "text"), outDir,
          i.toLong)
      }
    val boom = new RuntimeException("injected crash")
    val thrown = intercept[RuntimeException] {
      ClusterStream.takedownClusters(spark, outDir, Seq(2L),
        afterSigRewrite = () => throw boom)
    }
    assert(thrown eq boom)
    assert(new java.io.File(s"$outDir/clusters/_forget.pending").exists(),
      "the crash did not leave the pending marker")
    // next writer entry heals: the ingest completes the takedown first
    ClusterStream.ingestBatch(
      Seq((9L, "an unrelated new arrival about other things"))
        .toDF("doc_id", "text"), outDir, 3L)
    assert(!new java.io.File(s"$outDir/clusters/_forget.pending").exists(),
      "the heal did not clear the marker")
    val got = asg(ClusterStream.assignmentTable(spark, outDir))
    assert(got == Set(1L -> 1L, 3L -> 1L, 9L -> 9L), s"$got")
    // a re-issued takedown also heals (the compliance retry path)
    val thrown2 = intercept[RuntimeException] {
      ClusterStream.takedownClusters(spark, outDir, Seq(3L),
        afterSigRewrite = () => throw boom)
    }
    assert(thrown2 eq boom)
    val r = ClusterStream.takedownClusters(spark, outDir, Seq(3L))
    assert(r.rowsDeleted == 0L, s"heal should have finished the work: $r")
    assert(asg(ClusterStream.assignmentTable(spark, outDir))
      == Set(1L -> 1L, 9L -> 9L))
  }

  test("a crash after a takedown emptied the WHOLE store still heals " +
      "the merge log — a re-ingested id must not inherit the dissolved " +
      "component's label") {
    val outDir = Files.createTempDirectory("clus_crash_all").toString
    val text = "the same document text repeated across the triangle"
    Seq(Seq((1L, text)), Seq((2L, text)), Seq((3L, text)))
      .zipWithIndex.foreach { case (c, i) =>
        ClusterStream.ingestBatch(c.toDF("doc_id", "text"), outDir,
          i.toLong)
      }
    val boom = new RuntimeException("injected crash")
    intercept[RuntimeException] {
      ClusterStream.takedownClusters(spark, outDir, Seq(1L, 2L, 3L),
        afterSigRewrite = () => throw boom)
    }
    // every sig epoch is gone but the merge rows (1,2),(1,3),(2,3)
    // and the marker remain — exactly the state the heal must finish
    assert(!new java.io.File(s"$outDir/clusters/sigs/epoch=0").exists())
    assert(new java.io.File(s"$outDir/clusters/_forget.pending").exists())
    // the next ingest heals the log first, then admits doc 2's id with
    // UNRELATED content — without the heal, stale row (1,2) would
    // relabel it with the dissolved component's label 1
    ClusterStream.ingestBatch(
      Seq((2L, "completely unrelated fresh arrival"))
        .toDF("doc_id", "text"), outDir, 3L)
    assert(!new java.io.File(s"$outDir/clusters/_forget.pending").exists())
    assert(asg(ClusterStream.assignmentTable(spark, outDir))
      == Set(2L -> 2L))
  }

  test("takedown of a whole epoch's docs removes the epoch directory " +
      "and ingest continues correctly afterwards") {
    val outDir = Files.createTempDirectory("clus_ep").toString
    val a = Seq((1L, "first epoch text aa bb cc"), (2L, "first epoch other dd ee ff"))
    val b = Seq((3L, "second epoch text gg hh ii"))
    ClusterStream.ingestBatch(a.toDF("doc_id", "text"), outDir, 0L)
    ClusterStream.ingestBatch(b.toDF("doc_id", "text"), outDir, 1L)
    val r = ClusterStream.takedownClusters(spark, outDir, Seq(1L, 2L))
    assert(r.rowsDeleted == 2L, s"$r")
    assert(!new java.io.File(s"$outDir/clusters/sigs/epoch=0").exists(),
      "a fully-erased epoch's directory survives on disk")
    // post-takedown ingest still merges against the retained store
    ClusterStream.ingestBatch(
      Seq((4L, "second epoch text gg hh ii")).toDF("doc_id", "text"),
      outDir, 2L)
    val got = asg(ClusterStream.assignmentTable(spark, outDir))
    assert(got == Set(3L -> 3L, 4L -> 3L), s"$got")
  }

  test("table GC: a superseded store is reaped one full refresh after " +
      "its key leaves the memo") {
    graft.IndexGc.reset(); ClusterStream.tableMemo.clear()
    // three refresh cycles in milliseconds — drop the wall-clock fence
    // so the generation fence alone is under test; try/finally so a
    // mid-test failure cannot leave it disabled for later tests
    val grace0 = graft.IndexGc.graceMs; graft.IndexGc.graceMs = 0L
    try {
      val dir = Files.createTempDirectory("clusgc").toString
      def rewrite(n: Int): Unit = graft.Tables.documents(spark, sf)
        .select("doc_id", "text").orderBy("doc_id").limit(n)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      rewrite(60)
      val p1 = ClusterStream.tableFor(spark, dir)
      assert(ClusterStream.tableFor(spark, dir) == p1, "memo hit rebuilt")
      rewrite(40)
      val p2 = ClusterStream.tableFor(spark, dir)
      assert(p2 != p1 && new java.io.File(p1).exists(),
        "first refresh condemns only — in-flight readers keep p1")
      rewrite(20)
      val p3 = ClusterStream.tableFor(spark, dir)
      assert(p3 != p2)
      assert(!new java.io.File(p1).exists(), "p1 must be reaped now")
      assert(new java.io.File(p2).exists(), "p2 gets its grace refresh")
      val want = asg(ClusterStream.batchAssignmentOn(
        graft.Tables.documents(spark, dir)))
      assert(want.size == 20)
      assert(asg(ClusterStream.assignmentTable(spark, p3)) == want,
        "current store damaged by the reap")
    } finally {
      graft.IndexGc.graceMs = grace0
      ClusterStream.tableMemo.clear(); graft.IndexGc.reset()
    }
  }
}
