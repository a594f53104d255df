package graft.streaming

import graft.{GraftSession, SparkSpec}
import graft.functions.TextFunctions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The continuous-ingestion product story, end to end, as ONE streaming
  * query: quality gate → watermarked dedup ([[DocStream.curate]]) →
  * corpus-level incremental dedup → sequence packing → shard publish
  * through [[PartitionedUpsert]] ([[DocStream.curatedPackedSinkEachBatch]])
  * — with a checkpoint restart in the middle, on the RocksDB state-store
  * provider, asserting the final shard layout equals the one-shot batch
  * pipeline (same gate + global exact dedup + `Packing.pack`).
  *
  * The fixtures exercise every dedup layer at its OWN horizon:
  *  - within-batch exact dup → dropped by the watermark state,
  *  - cross-batch dup inside the watermark → dropped by the state,
  *  - dup arriving AFTER its fingerprint's state was evicted (event time
  *    jumped past the watermark horizon) → the state dedup cannot see
  *    it; only the corpus-level Bloom+confirm pass drops it,
  *  - dup spanning the checkpoint restart → recovered state or corpus,
  *  - junk doc → quality-gated before any state is touched.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def onRocksDB[A](body: => A): A = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      GraftSession.RocksDBProvider)
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming curate→dedup→pack pipeline == one-shot batch, " +
      "across restart, on RocksDB") { onRocksDB {
    val base = Files.createTempDirectory("pipeline").toString
    val out = s"$base/corpus"
    val cp = s"$base/_cp"
    val (budget, blocks) = (16, 2)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def doc(n: Int) = // distinct quality-passing bodies, stopword-rich
      s"the story number $n of the sea and the wind is told again here"
    val junk = "xyzzy" // 1 token, no stopwords → quality 0.2 < 0.5

    // (doc_id, text, ts) — ids arrive in order, the packStream contract
    val b1 = Seq(
      (1L, doc(1), t("2024-01-01 10:00:00")),
      (2L, doc(2), t("2024-01-01 10:01:00")),
      (3L, doc(1) + " ", t("2024-01-01 10:02:00")), // in-batch dup (ws noise)
      (4L, junk, t("2024-01-01 10:03:00")))         // quality-gated
    val b2 = Seq(
      (5L, doc(5), t("2024-01-01 10:06:00")),
      (6L, doc(2), t("2024-01-01 10:07:00")),       // cross-batch dup, in-state
      (7L, doc(7), t("2024-01-01 10:08:00")))
    // restart happens here; then event time jumps 3 h — far past the
    // 10 min watermark, so every earlier fingerprint's state is evicted
    val b3 = Seq(
      (8L, doc(8), t("2024-01-01 13:00:00")),
      (9L, doc(9), t("2024-01-01 13:01:00")))
    val b4 = Seq(
      (10L, doc(1), t("2024-01-01 13:30:00")),      // post-eviction dup →
                                                    // ONLY the corpus sees it
      (11L, doc(11), t("2024-01-01 13:31:00")))

    def start(mem: MemoryStream[(Long, String, java.sql.Timestamp)]) =
      DocStream.curate(mem.toDF().toDF("doc_id", "text", "ts"),
          minQuality = 0.5, watermark = "10 minutes")
        .writeStream
        .foreachBatch(DocStream.curatedPackedSinkEachBatch(
          out, budget = budget, blocks = blocks) _)
        .option("checkpointLocation", cp)
        .outputMode("append").start()

    val mem1 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q1 = start(mem1)
    mem1.addData(b1: _*); q1.processAllAvailable()
    mem1.addData(b2: _*); q1.processAllAvailable()
    val stateOps = q1.recentProgress.flatMap(_.stateOperators)
    assert(stateOps.flatMap(_.customMetrics.keySet.toArray).toSet
        .exists(_.toString.startsWith("rocksdb")),
      "watermarked dedup state is not RocksDB-backed")
    q1.stop()

    // checkpoint restart: a NEW query + source resumes the same state
    val mem2 = MemoryStream[(Long, String, java.sql.Timestamp)]
    mem2.addData(b1: _*); mem2.addData(b2: _*) // replayed source history
    val q2 = start(mem2)
    mem2.addData(b3: _*); q2.processAllAvailable()
    mem2.addData(b4: _*); q2.processAllAvailable()
    q2.stop()

    // the one-shot batch twin over the SAME input set: gate → global
    // exact dedup (lowest doc_id per fingerprint) → Packing.pack
    val all = (b1 ++ b2 ++ b3 ++ b4).toDF("doc_id", "text", "ts")
    val survivors = all
      .where(qualityScore(col("text")) >= 0.5)
      .withColumn("fp", fingerprint(col("text")))
      .withColumn("rn",
        row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .where(col("rn") === 1)
      .select("doc_id", "text")
    val batchDir = s"$base/batch"
    survivors.write.parquet(s"$batchDir/documents.parquet")
    val expected = graft.operators.Packing
      .pack(spark, batchDir, budget = budget, blocks = blocks)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

    val shards = spark.read.parquet(out)
    val got = shards
      .select("doc_id", "block", "n_tokens", "start_tok", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected,
      s"pipeline diverged from batch:\n missing=${expected -- got}\n " +
        s"extra=${got -- expected}")

    // layer-by-layer evidence, for sharper failures than set equality:
    val ids = got.map(_._1)
    assert(!ids.contains(4L), "junk doc passed the quality gate")
    assert(!ids.contains(3L) && !ids.contains(6L),
      "watermark-horizon duplicate admitted")
    assert(!ids.contains(10L),
      "post-eviction duplicate admitted — corpus-level dedup failed")
    assert(ids.contains(8L) && ids.contains(11L),
      "restart lost curated documents")
    // genuinely incremental: the corpus accumulated across >1 epoch and
    // the restart continued packing where the stored corpus ended
    val epochs = Option(new java.io.File(out).list()).get
      .filter(_.startsWith("epoch=")).toSet
    assert(epochs.size > 1, s"expected multiple epoch partitions: $epochs")
  } }

  test("streaming packed-shard takedown: survivors of the deleted " +
      "docs' blocks repack, the store equals a fresh pack over the " +
      "post-takedown corpus, no deleted span survives on disk, " +
      "re-submission is admitted, and the sink continues packing " +
      "across a checkpoint restart") {
    val base = Files.createTempDirectory("packtd").toString
    val out = s"$base/shards"
    val cp = s"$base/_cp"
    val (budget, blocks) = (16, 4)
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    def doc(n: Int) =
      s"the story number $n of the sea and the wind is told again here"
    def start(mem: MemoryStream[(Long, String, java.sql.Timestamp)]) =
      DocStream.curate(mem.toDF().toDF("doc_id", "text", "ts"),
          minQuality = 0.5, watermark = "10 minutes")
        .writeStream
        .foreachBatch(DocStream.curatedPackedSinkEachBatch(
          out, budget = budget, blocks = blocks) _)
        .option("checkpointLocation", cp)
        .outputMode("append").start()
    val b1 = (1 to 4).map(n => (n.toLong, doc(n), t(n)))
    val b2 = (5 to 8).map(n => (n.toLong, doc(n), t(n)))
    val b3 = (9 to 12).map(n => (n.toLong, doc(n), t(n)))
    val mem1 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q1 = start(mem1)
    Seq(b1, b2, b3).foreach { b =>
      mem1.addData(b: _*); q1.processAllAvailable()
    }
    q1.stop()
    // the takedown (stream quiesced — the single-writer contract)
    val del = Seq(2L, 7L)
    val activeBlocks = del
      .map(id => java.lang.Math.floorMod(md5LongScala(s"pack:$id"),
        blocks.toLong)).toSet
    // an epoch holding NO active-block row must keep its files
    val preByEpoch = spark.read.parquet(out)
      .select(col("epoch").cast("long").as("e"), col("block"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val untouchedEpochs = preByEpoch.collect {
      case (e, bs) if bs.intersect(activeBlocks).isEmpty => e
    }.toSet
    def filesOf(e: Long) =
      Option(new java.io.File(s"$out/epoch=$e").listFiles()).toSeq
        .flatten.filter(_.isFile).map(f => (f.getName, f.length())).toSet
    val untouchedBefore = untouchedEpochs.map(e => e -> filesOf(e)).toMap
    val r = DocStream.takedownPacked(spark, out, del, budget, blocks)
    assert(r.rowsDeleted == 2L, s"$r")
    untouchedEpochs.foreach { e =>
      assert(filesOf(e) == untouchedBefore(e),
        s"epoch $e holds no active-block row but was rewritten")
    }
    // bitwise a fresh Packing.pack over the post-takedown corpus
    def shardTuples() = spark.read.parquet(out)
      .select("doc_id", "block", "n_tokens", "start_tok", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    def freshPack(docs: Seq[(Long, String)], tag: String) = {
      val d = s"$base/$tag"
      docs.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
      graft.operators.Packing.pack(spark, d, budget, blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    }
    val retained = (1 to 12).filterNot(n => del.contains(n.toLong))
      .map(n => (n.toLong, doc(n)))
    assert(shardTuples() == freshPack(retained, "batch1"),
      "post-takedown store is not a fresh pack of the retained corpus")
    // on-disk sweep: no surviving row anywhere references a deleted doc
    assert(spark.read.parquet(out)
      .where(col("doc_id").isin(del: _*)).count() == 0L)
    // idempotent
    val r2 = DocStream.takedownPacked(spark, out, del, budget, blocks)
    assert(r2.rowsDeleted == 0L && r2.epochsRewritten == 0L, s"$r2")
    // the sink RESUMES from its checkpoint: new docs pack where the
    // post-takedown corpus ends; erased content re-submitted under a
    // new id is ADMITTED (the rebuilt sketch forgot it), still-present
    // content stays deduped. The first resumed batch jumps event time
    // 3 h so the watermark evicts the old fingerprints from the dedup
    // STATE — the corpus sketch, not the state, must decide both
    // re-submissions (ids stay arrival-ordered: the pack contract).
    def T(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s:00")
    val b4 = Seq((19L, doc(19), T("13:00")))
    val b5 = Seq((20L, doc(2), T("13:30")), (21L, doc(1), T("13:31")))
    val mem2 = MemoryStream[(Long, String, java.sql.Timestamp)]
    mem2.addData(b1: _*); mem2.addData(b2: _*); mem2.addData(b3: _*)
    val q2 = start(mem2)
    mem2.addData(b4: _*); q2.processAllAvailable()
    mem2.addData(b5: _*); q2.processAllAvailable()
    q2.stop()
    val ids = shardTuples().map(_._1)
    assert(ids.contains(20L), "re-submitted erased content was deduped")
    assert(!ids.contains(21L), "still-present content was re-admitted")
    assert(shardTuples() ==
      freshPack(retained ++ Seq(19L -> doc(19), 20L -> doc(2)), "batch2"),
      "post-restart store diverged from the batch pack")
  }

  test("curate(ppxModel): LM gate drops surprising text, equals the " +
      "batch filter") {
    import graft.operators.LangModel
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def doc(n: Int) =
      s"the story number $n of the sea and the wind is told again here"
    // trusted reference slice → train-once broadcast model
    val base = Files.createTempDirectory("ppx").toString
    (1 to 5).map(n => (n.toLong, "en", doc(n)))
      .toDF("doc_id", "lang", "text")
      .write.parquet(s"$base/ref/documents.parquet")
    val model = LangModel.trainModel(spark, s"$base/ref")

    // same words → same quality score; only the bigram ORDER differs,
    // which is exactly the signal the LM gate adds over the quality gate
    val fluent = doc(9)
    val scrambled =
      "sea the of wind and number the 9 story told is again here the"
    val scores = Seq(fluent, scrambled).toDF("text")
      .select(LangModel.scoreColumn(model, col("text")))
      .as[Long].collect()
    assert(scores(0) < scores(1),
      s"scrambled text must score as more surprising: ${scores.toSeq}")
    val thr = (scores(0) + scores(1)) / 2

    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStream.curate(mem.toDF().toDF("doc_id", "text", "ts"),
        minQuality = 0.5, watermark = "10 minutes",
        ppxModel = Some(model), maxPpxMicros = thr)
      .writeStream.format("memory").queryName("ppx_curated")
      .outputMode("append").start()
    mem.addData(
      (1L, fluent, t("2024-01-01 10:00:00")),
      (2L, scrambled, t("2024-01-01 10:01:00")),
      (3L, doc(2), t("2024-01-01 10:02:00")), // exact reference phrasing
      (4L, "xyzzy", t("2024-01-01 10:03:00"))) // quality-gated before LM
    q.processAllAvailable(); q.stop()
    val got = spark.table("ppx_curated").select("doc_id")
      .as[Long].collect().toSet
    assert(got == Set(1L, 3L), s"got $got")

    // pinned equal to the one-shot batch pipeline (gate order and all)
    val all = Seq(
      (1L, fluent, t("2024-01-01 10:00:00")),
      (2L, scrambled, t("2024-01-01 10:01:00")),
      (3L, doc(2), t("2024-01-01 10:02:00")),
      (4L, "xyzzy", t("2024-01-01 10:03:00"))).toDF("doc_id", "text", "ts")
    val batchIds = all
      .where(qualityScore(col("text")) >= 0.5)
      .withColumn("p", LangModel.scoreColumn(model, col("text")))
      .where(col("p").isNull || col("p") <= thr)
      .withColumn("fp", fingerprint(col("text")))
      .withColumn("rn",
        row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .where(col("rn") === 1)
      .select("doc_id").as[Long].collect().toSet
    assert(got == batchIds, s"streaming $got != batch $batchIds")
  }

  test("curateFrozen: the full frozen-gate stream equals the batch " +
    "build's gated+exact stages on the same corpus") {
    // stream the sf0.01 corpus through the streaming twin, with the
    // same corpus as the frozen reference — the streamed survivor set
    // must be the batch build's percentile-gated set after exact
    // dedup (the stream's watermarked fp-dedup at one batch = the
    // batch min-doc_id-per-fp rule, compared on fingerprint SETS so
    // in-batch arrival order cannot matter)
    val dir = "/root/testdata/sf0.01"
    val src = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3),
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
    val mem = MemoryStream[(Long, String, String, String,
      java.sql.Timestamp)]
    val q = DocStream.curateFrozen(
        mem.toDF().toDF("doc_id", "lang", "source", "text", "ts"), dir)
      .writeStream.format("memory").queryName("frozen_curated")
      .outputMode("append").start()
    mem.addData(src.toIndexedSeq)
    q.processAllAvailable(); q.stop()
    val got = spark.table("frozen_curated").select("doc_id", "fp")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val stages = graft.operators.Curation.corpusBuildStages(spark, dir)
    val gated = stages("gated").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val exact = stages("exact").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet.subsetOf(gated),
      "stream passed a doc the batch gates dropped")
    assert(got.map(_._2).toSet ==
      stages("exact").select("fp").collect().map(_.getString(0)).toSet,
      "fingerprint sets diverge")
    assert(got.length == exact.size,
      s"stream kept ${got.length}, batch exact kept ${exact.size}")
    graft.Caches.releaseAll()
  }

  test("curate(blocklist): any-hit drop equals the batch keep flag") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val clean = "the story of the sea and the wind is told again here"
    val dirty = "the story of the sea and the banned wind is told here"
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStream.curate(mem.toDF().toDF("doc_id", "text", "ts"),
        minQuality = 0.5, watermark = "10 minutes",
        blocklist = Some(Seq("banned", "zzz")))
      .writeStream.format("memory").queryName("bl_curated")
      .outputMode("append").start()
    mem.addData(
      (1L, clean, t("2024-01-01 10:00:00")),
      (2L, dirty, t("2024-01-01 10:01:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("bl_curated").select("doc_id")
      .as[Long].collect().toSet
    assert(got == Set(1L), s"got $got")
    // the batch twin's keep flag agrees (any-hit policy)
    val base = Files.createTempDirectory("bl").toString
    Seq((1L, clean), (2L, dirty)).toDF("doc_id", "text")
      .write.parquet(s"$base/documents.parquet")
    val keep = graft.operators.TextAnalysis
      .blocklistScan(spark, base, terms = Seq("banned", "zzz"))
      .where(col("keep") === 1L)
      .select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(keep == got, s"batch keep $keep != streaming $got")
  }

  test("curate(gopherGate): the Gopher ruleset drops short docs, equals " +
      "the batch keep flag") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val body = "the story of the sea and the wind is told again here"
    val long = Seq.fill(5)(body).mkString(" ")  // 60 tokens → passes
    val short = body                            // 12 tokens → r_wordcount 0
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStream.curate(mem.toDF().toDF("doc_id", "text", "ts"),
        minQuality = 0.5, watermark = "10 minutes", gopherGate = true)
      .writeStream.format("memory").queryName("gopher_curated")
      .outputMode("append").start()
    mem.addData(
      (1L, long, t("2024-01-01 10:00:00")),
      (2L, short, t("2024-01-01 10:01:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("gopher_curated").select("doc_id")
      .as[Long].collect().toSet
    assert(got == Set(1L), s"got $got")
    // the batch twin's keep flag agrees
    val keep = graft.operators.Curation
      .gopherRulesOn(Seq((1L, long), (2L, short)).toDF("doc_id", "text"))
      .where(col("keep") === 1L)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(keep == got, s"batch keep $keep != streaming $got")
  }

  test("curate(repetitionGate): repetitive docs drop, equals the batch " +
      "keep flag") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // both docs are 72 tokens and clear the quality floor (guarded
    // below); the bad one is ONE sentence looped 6 times, so its
    // duplicated 5..10-gram mass is ~the whole doc, while every gram
    // of the clean doc contains a unique token (no duplicates at all)
    val sentence = "the story of the sea and the wind is told again here"
    val clean = (1 to 18)
      .flatMap(i => Seq("the", s"word$i", "of", s"view$i")).mkString(" ")
    val loopy = Seq.fill(6)(sentence).mkString(" ")
    assert(Seq(clean, loopy).toDF("text")
      .select(qualityScore(col("text")).as("q"))
      .collect().forall(_.getDouble(0) >= 0.5),
      "fixture docs must clear the quality gate")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStream.curate(mem.toDF().toDF("doc_id", "text", "ts"),
        minQuality = 0.5, watermark = "10 minutes", repetitionGate = true)
      .writeStream.format("memory").queryName("repetition_curated")
      .outputMode("append").start()
    mem.addData(
      (1L, clean, t("2024-01-01 10:00:00")),
      (2L, loopy, t("2024-01-01 10:01:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("repetition_curated").select("doc_id")
      .as[Long].collect().toSet
    assert(got == Set(1L), s"got $got")
    val keep = graft.operators.Curation
      .gopherRepetitionOn(Seq((1L, clean), (2L, loopy)).toDF("doc_id", "text"))
      .where(col("keep") === 1L)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(keep == got, s"batch keep $keep != streaming $got")
  }

  test("curate(oddsModel): low-scoring docs drop under a frozen " +
      "classifier") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val good = "the story of the sea and the wind is told again here"
    val bad = "a tale for a river with a storm it gets written down there"
    assert(Seq(good, bad).toDF("text")
      .select(qualityScore(col("text")).as("q"))
      .collect().forall(_.getDouble(0) >= 0.5),
      "fixture docs must clear the quality gate")
    // hand-frozen model: the bad doc's tokens weigh 0, everything else
    // (unseen → default) 2e6 — bad's mean sinks to 0, good stays 2e6
    val model = graft.operators.LangModel.OddsModel(
      bad.split(" ").map(_ -> 0L).toMap, default = 2000000L)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStream.curate(mem.toDF().toDF("doc_id", "text", "ts"),
        minQuality = 0.5, watermark = "10 minutes",
        oddsModel = Some(model), minOddsMicros = 1000000L)
      .writeStream.format("memory").queryName("odds_curated")
      .outputMode("append").start()
    mem.addData(
      (1L, good, t("2024-01-01 10:00:00")),
      (2L, bad, t("2024-01-01 10:01:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("odds_curated").select("doc_id")
      .as[Long].collect().toSet
    assert(got == Set(1L), s"got $got")
  }

  test("curate(dsirScores): low-weight docs drop under a frozen table") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val good = "the story of the sea and the wind is told again here"
    val bad = "a tale for a river with a storm it gets written down there"
    // both docs clear the quality gate (guarded below), so the DSIR
    // gate is what separates them. Hand-frozen table: every bucket
    // scores 1e6 except the buckets of the bad doc's features, set to
    // 0 — bad's exact integer mean sinks to ~0 while good (near-
    // disjoint features) stays close to 1e6
    assert(Seq(good, bad).toDF("text")
      .select(qualityScore(col("text")).as("q"))
      .collect().forall(_.getDouble(0) >= 0.5),
      "fixture docs must clear the quality gate")
    val B = graft.operators.Sampling.DsirBuckets
    val arr = Array.fill(B)(1000000L)
    val badToks = bad.split(" ").toList
    (badToks ++ badToks.sliding(2).map(_.mkString(" ")))
      .foreach(f => arr(math.floorMod(md5LongScala(f), B.toLong).toInt) = 0L)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStream.curate(mem.toDF().toDF("doc_id", "text", "ts"),
        minQuality = 0.5, watermark = "10 minutes",
        dsirScores = Some(arr), minDsirMicros = 500000L)
      .writeStream.format("memory").queryName("dsir_curated")
      .outputMode("append").start()
    mem.addData(
      (1L, good, t("2024-01-01 10:00:00")),
      (2L, bad, t("2024-01-01 10:01:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("dsir_curated").select("doc_id")
      .as[Long].collect().toSet
    assert(got == Set(1L), s"got $got")
    // the good doc's buckets must be untouched for the trace to mean
    // what it says (bad shares most features with good — only the
    // buckets are zeroed where a bad feature lands; good's own weight
    // under the table is what the gate saw)
    val goodW = Seq(good).toDF("text")
      .select(org.apache.spark.sql.graft.TextExpressions
        .dsirScoreMicros(col("text"),
          org.apache.spark.sql.graft.Dict.longs(arr)))
      .collect()(0).getLong(0)
    assert(goodW >= 500000L, s"good doc scored $goodW")
  }

  test("curate(scrubPii): PII never reaches state; PII-only variants " +
      "dedupe to one") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val body = "the offer is told here again and the number to call is"
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStream.curate(mem.toDF().toDF("doc_id", "text", "ts"),
        minQuality = 0.5, watermark = "10 minutes", scrubPii = true)
      .writeStream.format("memory").queryName("pii_curated")
      .outputMode("append").start()
    mem.addData(
      (1L, s"$body 555-123-4567", t("2024-01-01 10:00:00")),
      // same form letter, different phone — post-scrub twin of doc 1
      (2L, s"$body 555-987-6543", t("2024-01-01 10:01:00")),
      (3L, s"$body a@b.co today", t("2024-01-01 10:02:00")))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("pii_curated")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 2 deduped against doc 1's scrubbed fingerprint
    assert(rows.keySet == Set(1L, 3L), s"got ${rows.keySet}")
    assert(rows(1L) == s"$body |||PHONE|||", "phone not scrubbed")
    assert(rows(3L) == s"$body |||EMAIL||| today", "email not scrubbed")
  }
}
