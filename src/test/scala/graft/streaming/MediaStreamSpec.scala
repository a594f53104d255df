package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Stream-maintained dHash signature table: table-served near-dup ≡
  * the q154 batch report over the same payloads, across a checkpoint
  * restart, a same-id replay, and a duplicate delivery under a new
  * epoch id (the SketchStream twin discipline). */
class MediaStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def report(df: org.apache.spark.sql.DataFrame) = {
    val out = df.collect().map(_.toSeq).toSeq
    graft.Caches.releaseAll()
    out
  }

  test("table-served media near-dup is bit-equal to batch across " +
      "restart, replay, and duplicate delivery") {
    val outDir = Files.createTempDirectory("msig").toString
    val ckpt = Files.createTempDirectory("msig_ckpt").toString
    val fixture = graft.operators.Multimodal.mediaTable(spark, sf)
      .select("doc_id", "media_type", "content")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2)))
      .toSeq
    val mem = MemoryStream[(Long, String, Array[Byte])]
    def start() = mem.toDF().toDF("doc_id", "media_type", "content")
      .writeStream
      .foreachBatch(MediaStream.dhashSinkEachBatch(outDir,
        compactEvery = 2) _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val chunks = fixture.grouped(120).toSeq
    val (firstHalf, secondHalf) = chunks.splitAt(chunks.size / 2)
    val q1 = start()
    firstHalf.foreach { c => mem.addData(c: _*); q1.processAllAvailable() }
    q1.stop()
    val q2 = start() // checkpoint restart mid-stream
    secondHalf.foreach { c => mem.addData(c: _*); q2.processAllAvailable() }
    q2.stop()
    val want = report(graft.operators.Multimodal.mediaNearDup(spark, sf))
    assert(report(MediaStream.mediaNearDupFromTable(spark, outDir))
      == want && want.nonEmpty)
    // same-id replay: overwrite-own-partition converges
    val lastId = chunks.size.toLong - 1L
    MediaStream.dhashSinkEachBatch(outDir)(
      chunks.last.toDF("doc_id", "media_type", "content"), lastId)
    assert(report(MediaStream.mediaNearDupFromTable(spark, outDir))
      == want, "same-id replay moved the report")
    // duplicate delivery under a NEW epoch id: signatures are a pure
    // function of the payload, so the added rows are identical and
    // the serving distinct collapses them
    MediaStream.dhashSinkEachBatch(outDir)(
      chunks.head.toDF("doc_id", "media_type", "content"), lastId + 1L)
    assert(report(MediaStream.mediaNearDupFromTable(spark, outDir))
      == want, "duplicate delivery moved the report")
    // the payload bytes never land in the table
    val cols = spark.read.parquet(s"$outDir/mediasigs").columns.toSet
    assert(!cols.contains("content") && !cols.contains("content_resized"))
  }

  test("signature takedown: the ids' rows leave the table, the table " +
      "equals batch signatures over the retained media, near-dup can " +
      "never answer with them, and the pass is idempotent") {
    import org.apache.spark.sql.functions.col
    val outDir = Files.createTempDirectory("msig_td").toString
    val media = graft.operators.Multimodal.mediaTable(spark, sf)
      .select("doc_id", "media_type", "content")
    val fixture = media.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2)))
      .toSeq
    fixture.grouped(120).zipWithIndex.foreach { case (c, i) =>
      MediaStream.dhashSinkEachBatch(outDir)(
        c.toDF("doc_id", "media_type", "content"), i.toLong)
    }
    val del = fixture.map(_._1).sorted.take(2)
    def filesOf(e: Long) =
      Option(new java.io.File(s"$outDir/mediasigs/epoch=$e").listFiles())
        .toSeq.flatten.filter(_.isFile)
        .map(f => (f.getName, f.length())).toSet
    val epochs = fixture.grouped(120).size.toLong
    val delEpochs = spark.read.parquet(s"$outDir/mediasigs")
      .where(col("doc_id").isin(del: _*))
      .select(col("epoch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    val untouchedEpoch = (0L until epochs)
      .find(e => !delEpochs.contains(e)).get
    val untouchedBefore = filesOf(untouchedEpoch)
    val r = MediaStream.takedownSignatures(spark, outDir, del)
    assert(r.rowsDeleted == 2L && r.epochsRewritten >= 1L, s"$r")
    assert(filesOf(untouchedEpoch) == untouchedBefore,
      "an untouched epoch's files were rewritten")
    // the table equals batch signatures over the RETAINED media
    val got = MediaStream.signatureTable(spark, outDir)
      .collect().map(_.toSeq).toSet
    val want = graft.operators.Multimodal
      .dhashSignaturesOn(media.where(!col("doc_id").isin(del: _*)))
      .collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    // near-dup from the table can never answer with an erased id
    val nd = MediaStream.mediaNearDupFromTable(spark, outDir).collect()
    graft.Caches.releaseAll()
    assert(nd.forall(row => !del.contains(row.getAs[Long]("id1")) &&
      !del.contains(row.getAs[Long]("id2"))),
      "an erased media id still answers /mediaNearDup")
    // idempotent
    val r2 = MediaStream.takedownSignatures(spark, outDir, del)
    assert(r2.rowsDeleted == 0L && r2.epochsRewritten == 0L, s"$r2")
    // an epoch the takedown empties is physically removed
    val only = spark.read.parquet(s"$outDir/mediasigs")
      .where(col("epoch").cast("long") === 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val r3 = MediaStream.takedownSignatures(spark, outDir, only)
    assert(r3.rowsDeleted == only.size.toLong, s"$r3")
    assert(!new java.io.File(s"$outDir/mediasigs/epoch=0").exists(),
      "a fully-erased epoch's directory survives on disk")
  }

  test("a per-epoch swap that crashed between its renames loses no " +
      "signature: the read heals it, and so does a folding sink epoch") {
    val outDir = Files.createTempDirectory("msig_crash").toString
    val chunks = graft.operators.Multimodal.mediaTable(spark, sf)
      .select("doc_id", "media_type", "content")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2)))
      .toSeq.sortBy(_._1).grouped(125).toSeq
    assert(chunks.size == 4, s"fixture holds ${chunks.size} chunks")
    def sink(i: Int, compactEvery: Int) =
      MediaStream.dhashSinkEachBatch(outDir, compactEvery)(
        chunks(i).toDF("doc_id", "media_type", "content"), i.toLong)
    def ids = MediaStream.signatureTable(spark, outDir)
      .select("doc_id").as[Long].collect().toSet
    def idsOf(n: Int) = chunks.take(n).flatten.map(_._1).toSet
    (0 until 3).foreach(sink(_, compactEvery = 0))
    // a takedown's per-epoch swap moved epoch 1 aside, then died
    // before publishing its replacement
    def crash(): Unit = assert(
      new java.io.File(s"$outDir/mediasigs/epoch=1").renameTo(
        new java.io.File(s"$outDir/mediasigs/.epoch=1.old")))
    crash()
    assert(ids == idsOf(3), "the read lost the crashed epoch's rows")
    crash()
    // a folding sink epoch must heal before it folds and publishes
    // over the directory (which would delete the aside for good)
    sink(3, compactEvery = 1)
    assert(ids == idsOf(4), "a folding epoch lost the crashed epoch")
  }

  test("the lossless-band guard rejects maxHamming >= bands for every " +
      "caller") {
    intercept[IllegalArgumentException] {
      graft.operators.Multimodal.mediaNearDup(spark, sf,
        maxHamming = 4, bands = 4)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Multimodal.mediaNearDup(spark, sf,
        maxHamming = 3, bands = 0)
    }
  }
}
