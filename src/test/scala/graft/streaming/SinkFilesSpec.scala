package graft.streaming

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.io.File
import java.nio.file.Files

/** The fixed per-trigger costs of the streaming sinks, counted rather
  * than timed: files a small micro-batch writes (one per epoch, split
  * only by `spark.sql.files.maxPartitionBytes`) and classes a repeated
  * micro-batch compiles (none, once the generated-class cache is warm). */
class SinkFilesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** One raw log of every demux branch (error, start, page with a
    * display and an action) for delivery `d`. */
  private def logs(d: Int): Seq[String] = Seq(
    s"""{"common":{"mid":"m$d","uid":"u$d"},"err":{"error_code":"500","msg":"x"},"ts":$d}""",
    s"""{"common":{"mid":"m$d"},"start":{"entry":"icon","loading_time":10},"ts":$d}""",
    s"""{"common":{"mid":"m$d"},"page":{"page_id":"home"},""" +
      s""""displays":[{"display_type":"promo","item":"$d"}],""" +
      s""""actions":[{"action_id":"cart","item":"$d","ts":$d}],"ts":$d}""")

  /** Maxwell envelopes for delivery `d`: two fact topics, one dim. */
  private def cdc(d: Int): Seq[String] = Seq(
    ("order_info", "insert"), ("order_detail", "update"), ("user_info", "insert"))
    .map { case (t, op) =>
      s"""{"database":"gmall","table":"$t","type":"$op","ts":$d,""" +
        s""""data":"{\\"id\\":$d}"}"""
    }

  private lazy val config = Seq(("order_info", "FACT"), ("order_detail", "FACT"),
    ("user_info", "DIM")).toDF("table_name", "route")

  /** `batches` micro-batches of `deliveries` MemoryStream deliveries each
    * through `sink`, the way a trigger sees a Kafka or MemoryStream
    * backlog: one input partition per delivery. */
  private def drive(rows: Int => Seq[String], batches: Int, deliveries: Int)(
      sink: (DataFrame, Long) => Unit): Unit = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[String]
    val q = src.toDF().toDF("value").writeStream
      .option("checkpointLocation", tmpDir("sink_files_cp"))
      .foreachBatch(sink).start()
    try (0 until batches).foreach { b =>
      (0 until deliveries).foreach(d => src.addData(rows(b * deliveries + d)))
      q.processAllAvailable()
    } finally q.stop()
  }

  /** Parquet files in each leaf directory under `dir`, by path. */
  private def filesPerLeaf(dir: String): Map[String, Int] = {
    def walk(f: File): Seq[(String, Int)] = {
      val kids = Option(f.listFiles()).toSeq.flatten
      val dirs = kids.filter(_.isDirectory)
      if (dirs.isEmpty) Seq(f.getPath.stripPrefix(dir) ->
        kids.count(_.getName.endsWith(".parquet")))
      else dirs.flatMap(walk)
    }
    walk(new File(dir)).toMap
  }

  test("several micro-batches of four deliveries leave one parquet file " +
      "per demux topic epoch, CDC fact topic epoch and dim bucket") {
    val demux = tmpDir("sink_files_demux")
    drive(logs, batches = 3, deliveries = 4)(LogDemux.demuxEachBatch(demux))
    val topics = filesPerLeaf(demux)
    assert(topics.size == 5 * 3, topics)
    assert(topics.values.forall(_ == 1), topics)
    val out = tmpDir("sink_files_cdc")
    drive(cdc, batches = 3, deliveries = 4)(
      CdcRouter.routeEachBatch(s"$out/fact", s"$out/dim", config))
    val facts = filesPerLeaf(s"$out/fact")
    assert(facts.size == 2 * 3, facts)
    assert(facts.values.forall(_ == 1), facts)
    val buckets = filesPerLeaf(s"$out/dim")
    assert(buckets.nonEmpty && buckets.values.forall(_ == 1), buckets)
  }

  test("the same batch writes one file per topic, and several once " +
      "spark.sql.files.maxPartitionBytes is smaller than it") {
    val key = "spark.sql.files.maxPartitionBytes"
    def demux(): Map[String, Int] = {
      val dir = tmpDir("sink_files_split")
      drive(logs, batches = 1, deliveries = 4)(LogDemux.demuxEachBatch(dir))
      filesPerLeaf(dir)
    }
    val whole = demux()
    assert(whole.size == 5 && whole.values.forall(_ == 1), whole)
    spark.conf.set(key, "256")
    val split = try demux() finally spark.conf.unset(key)
    assert(split.size == 5 && split.values.forall(_ > 1), split)
  }

  test("a write that sets its own partitioning and order keeps it: each " +
      "sorted partition is its own file") {
    val dir = tmpDir("sink_files_sorted")
    // a small plan with a known size, which would otherwise be one file
    val sorted = spark.range(0, 4000, 1, 4).toDF("k")
      .repartition(4, col("k")).sortWithinPartitions("k")
    EpochStore(spark, dir).write(0L, sorted)
    val files = new File(s"$dir/epoch=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length == 4, files.toSeq)
    files.foreach { f =>
      val ks = spark.read.parquet(f).collect().map(_.getLong(0)).toSeq
      assert(ks == ks.sorted, s"$f is not sorted by k")
    }
  }

  test("a third micro-batch of the same shape through the demux and " +
      "keyed-upsert sinks compiles no new class") {
    val dir = tmpDir("sink_files_codegen")
    // four input partitions, no size statistics: a stream batch's shape.
    // The sinks' working set is well over Spark's default 100-entry
    // cache (at 100, every trigger from the third on recompiles about 60
    // classes) and well under GraftSession.CodegenCacheEntries.
    def batch(b: Int): DataFrame = spark.sparkContext
      .parallelize((0 until 4).flatMap(d => logs(b * 4 + d)), 4).toDF("value")
    def trigger(b: Int): Unit = {
      val raw = batch(b)
      LogDemux.demuxEachBatch(s"$dir/demux")(raw, b.toLong)
      DauStream.idempotentSinkEachBatch(s"$dir/dau", Seq("mid"), numBuckets = 1)(
        LogDemux.pages(LogDemux.parse(raw)), b.toLong)
      DauStream.idempotentSinkEachBatch(s"$dir/starts", Seq("dt", "mid"))(
        LogDemux.starts(LogDemux.parse(raw)).withColumn("dt", lit("2024-01-01")),
        b.toLong)
      CdcRouter.routeEachBatch(s"$dir/fact", s"$dir/dim", config, numBuckets = 1)(
        spark.sparkContext.parallelize((0 until 4).flatMap(d => cdc(b * 4 + d)), 4)
          .toDF("value"), b.toLong)
    }
    trigger(0)
    trigger(1)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    trigger(2)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0L, s"the third micro-batch compiled $compiled classes")
  }
}
