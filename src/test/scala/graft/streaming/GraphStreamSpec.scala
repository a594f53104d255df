package graft.streaming

import graft.SparkSpec
import graft.operators.GraphRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The streaming twin of the graph family (q104/q121): incremental
  * edge accumulation + re-rank, pinned bit-equal to the batch
  * operators on the accumulated event set — including across a
  * checkpoint restart. */
class GraphStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // deterministic multi-user event fixture: 6 users × 40 events over a
  // 12-item vocabulary, every 7th event k-less (dropped by projection),
  // self-transitions and revisits included — the batch operator's
  // full input surface
  private def fixtureRows: Seq[(Long, Long, Long, String)] =
    for (u <- 0L until 6L; i <- 0L until 40L) yield {
      val eid = u * 1000L + i
      val props =
        if (i % 7L == 3L) """{"x":1}"""
        else s"""{"k":${(u * 3L + i * i) % 12L}}"""
      (u, 1704067200000000L + i * 60000000L + u * 7000L, eid, props)
    }

  private def eventsDf(rows: Seq[(Long, Long, Long, String)]): DataFrame =
    rows.toDF("user_id", "ts_us", "event_id", "props")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("event_id"), col("props"))

  private def batchProjection(rows: Seq[(Long, Long, Long, String)]): DataFrame =
    eventsDf(rows).select(col("user_id"), col("ts"), col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  private def rankRows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("accumulated rank + communities match the batch operators bit-for-bit") {
    val outDir = Files.createTempDirectory("graph_stream").toString
    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = GraphStream.transitionStream(
        GraphStream.projectEvents(
          mem.toDF().toDF("user_id", "ts_us", "event_id", "props")
            .select(col("user_id"),
              timestamp_micros(col("ts_us")).as("ts"),
              col("event_id"), col("props"))))
      .writeStream
      .foreachBatch(GraphStream.edgeSinkEachBatch(outDir) _)
      .outputMode("append").start()
    // three batches, per-user time-ordered arrival (the parity contract)
    fixtureRows.sortBy(_._2).grouped(90).foreach { chunk =>
      mem.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()

    val batchEv = batchProjection(fixtureRows)
    // both dispatch paths: the measured driver loop AND the distributed
    // join loop (edgeBudget = 0) — bit-identical on stream and batch
    for (budget <- Seq(GraphRank.DriverRankEdgeBudget, 0L)) {
      assert(rankRows(GraphStream.rankSnapshot(spark, outDir,
          edgeBudget = budget)) ==
        rankRows(GraphRank.pageRankOn(batchEv, edgeBudget = budget)),
        s"rank mismatch at edgeBudget=$budget")
      assert(rankRows(GraphStream.communitiesSnapshot(spark, outDir,
          edgeBudget = budget)) ==
        rankRows(GraphRank.labelPropagationOn(batchEv,
          edgeBudget = budget)),
        s"communities mismatch at edgeBudget=$budget")
      assert(rankRows(GraphStream.hopsSnapshot(spark, outDir,
          edgeBudget = budget)) ==
        rankRows(GraphRank.bfsHopsOn(batchEv, seed = 0L,
          edgeBudget = budget)),
        s"hops mismatch at edgeBudget=$budget")
      assert(rankRows(GraphStream.personalizedSnapshot(spark, outDir,
          edgeBudget = budget)) ==
        rankRows(GraphRank.personalizedRankOn(batchEv, seed = 0L,
          edgeBudget = budget)),
        s"personalized-rank mismatch at edgeBudget=$budget")
    }
    assert(GraphStream.nextItemsSnapshot(spark, outDir)
        .collect().map(_.toSeq).toSeq ==
      GraphRank.nextItemsOn(batchEv).collect().map(_.toSeq).toSeq,
      "next-items mismatch")
  }

  test("user erasure: rebuildRetained rebuilds edges+nodes from the " +
      "retained events — snapshots equal batch over retained, equal a " +
      "golden stream fed retained only, idempotent, live sink rejected") {
    val outDir = Files.createTempDirectory("graph_rebuild").toString
    val golden = Files.createTempDirectory("graph_golden").toString
    def stream(dir: String, rows: Seq[(Long, Long, Long, String)]) = {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val q = GraphStream.transitionStream(
          GraphStream.projectEvents(
            mem.toDF().toDF("user_id", "ts_us", "event_id", "props")
              .select(col("user_id"),
                timestamp_micros(col("ts_us")).as("ts"),
                col("event_id"), col("props"))))
        .writeStream
        .foreachBatch(GraphStream.edgeSinkEachBatch(dir) _)
        .outputMode("append").start()
      rows.sortBy(_._2).grouped(90).foreach { chunk =>
        mem.addData(chunk: _*); q.processAllAvailable()
      }
      q
    }
    stream(outDir, fixtureRows).stop()
    // the erasure: user 3's browsing leaves the graph
    val retained = fixtureRows.filterNot(_._1 == 3L)
    GraphStream.rebuildRetained(spark, outDir, eventsDf(retained))
    // serving surfaces equal the batch operators over the RETAINED set
    assert(rankRows(GraphStream.rankSnapshot(spark, outDir)) ==
      rankRows(GraphRank.pageRankOn(batchProjection(retained))))
    assert(rankRows(GraphStream.communitiesSnapshot(spark, outDir)) ==
      rankRows(GraphRank.labelPropagationOn(batchProjection(retained))))
    // golden twin: bit-equal to a stream that never saw the user
    stream(golden, retained).stop()
    def graphOf(dir: String) = {
      val (e, n) = GraphStream.accumulatedGraph(spark, dir)
      (e.collect().map(_.toSeq).toSet, n.collect().map(_.toSeq).toSet)
    }
    assert(graphOf(outDir) == graphOf(golden),
      "rebuilt graph diverges from the never-saw-the-user stream")
    // idempotent
    GraphStream.rebuildRetained(spark, outDir, eventsDf(retained))
    assert(graphOf(outDir) == graphOf(golden))
    // a LIVE sink owning the directory rejects the rebuild loudly
    val mem2 = MemoryStream[(Long, Long, Long, String)]
    val q2 = GraphStream.transitionStream(
        GraphStream.projectEvents(
          mem2.toDF().toDF("user_id", "ts_us", "event_id", "props")
            .select(col("user_id"),
              timestamp_micros(col("ts_us")).as("ts"),
              col("event_id"), col("props"))))
      .writeStream
      .foreachBatch(GraphStream.edgeSinkEachBatch(outDir) _)
      .outputMode("append").start()
    mem2.addData(fixtureRows.head); q2.processAllAvailable()
    val ex = intercept[IllegalArgumentException] {
      GraphStream.rebuildRetained(spark, outDir, eventsDf(retained))
    }
    assert(ex.getMessage.contains("owned by active streaming query"))
    q2.stop()
  }

  test("graph accumulation survives a checkpoint restart (state from the state store)") {
    val base = Files.createTempDirectory("graph_cp").toString
    val srcDir = s"$base/src"; val outDir = s"$base/out"
    val cp = s"$base/_cp"
    new java.io.File(srcDir).mkdirs()

    def writeBatch(name: String,
        rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.toDF("user_id", "ts_us", "event_id", "props")
        .write.json(s"$srcDir/$name")
    val schema = "user_id LONG, ts_us LONG, event_id LONG, props STRING"
    def startQuery() =
      GraphStream.transitionStream(
          GraphStream.projectEvents(
            spark.readStream.schema(schema).json(s"$srcDir/*/")
              .select(col("user_id"),
                timestamp_micros(col("ts_us")).as("ts"),
                col("event_id"), col("props"))))
        .writeStream
        .foreachBatch(GraphStream.edgeSinkEachBatch(outDir) _)
        .option("checkpointLocation", cp)
        .outputMode("append").start()

    val ordered = fixtureRows.sortBy(_._2)
    writeBatch("b1", ordered.take(130))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // the cross-batch bridge transitions (each user's last b1 event →
    // first b2 event) exist ONLY if the per-user tails were recovered
    // from the checkpointed state store
    writeBatch("b2", ordered.drop(130)) // arrives while the query is down
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

    val batchEv = batchProjection(fixtureRows)
    assert(rankRows(GraphStream.rankSnapshot(spark, outDir)) ==
      rankRows(GraphRank.pageRankOn(batchEv)))
    assert(rankRows(GraphStream.communitiesSnapshot(spark, outDir)) ==
      rankRows(GraphRank.labelPropagationOn(batchEv)))
  }

  test("compaction folds committed epochs into the base; snapshots " +
      "bit-equal, replay straddling a compaction converges") {
    val outDir = Files.createTempDirectory("graph_compact").toString
    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = GraphStream.transitionStream(
        GraphStream.projectEvents(
          mem.toDF().toDF("user_id", "ts_us", "event_id", "props")
            .select(col("user_id"),
              timestamp_micros(col("ts_us")).as("ts"),
              col("event_id"), col("props"))))
      .writeStream
      .foreachBatch(GraphStream.edgeSinkEachBatch(outDir,
        compactEvery = 2) _)
      .outputMode("append").start()
    // 6 epochs; compactions at 2 and 4 → the partition count stays
    // bounded by base + epochs-since-last-compact, not epoch count
    fixtureRows.sortBy(_._2).grouped(40).foreach { chunk =>
      mem.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    def parts(sub: String) = new java.io.File(s"$outDir/$sub").list()
      .filter(_.startsWith("epoch=")).toSeq.sorted
    for (sub <- Seq("edges", "nodes"))
      assert(parts(sub).contains("epoch=-1") && parts(sub).size <= 3,
        s"$sub partitions not compacted: ${parts(sub)}")
    // the compacted layout answers bit-equal to the batch operators
    val batchEv = batchProjection(fixtureRows)
    assert(rankRows(GraphStream.rankSnapshot(spark, outDir)) ==
      rankRows(GraphRank.pageRankOn(batchEv)))
    assert(rankRows(GraphStream.communitiesSnapshot(spark, outDir)) ==
      rankRows(GraphRank.labelPropagationOn(batchEv)))
    // crash-replay straddling a compaction: epoch 6 triggers a fold;
    // replaying it re-runs write + fold — the in-flight epoch is never
    // folded, so both land identically
    val replay = Seq(graft.streaming.GraphDelta(9L, Some(6L), 8L)).toDS()
    GraphStream.edgeSinkEachBatch(outDir, compactEvery = 2)(replay, 6L)
    val once = rankRows(GraphStream.rankSnapshot(spark, outDir))
    GraphStream.edgeSinkEachBatch(outDir, compactEvery = 2)(replay, 6L)
    val twice = rankRows(GraphStream.rankSnapshot(spark, outDir))
    assert(once == twice, "replay across a compaction changed the rank")
    // an explicit full fold (no in-flight epoch) is snapshot-invariant
    EpochStore(spark, s"$outDir/edges").fold(Long.MaxValue, every = 1)(
      _.groupBy("src", "dst").agg(sum(col("w")).as("w")))
    EpochStore(spark, s"$outDir/nodes").fold(Long.MaxValue, every = 1)(
      _.distinct())
    assert(rankRows(GraphStream.rankSnapshot(spark, outDir)) == twice,
      "full compaction changed the snapshot")
  }

  test("a regressing event drops with metric; epoch replay is idempotent") {
    val outDir = Files.createTempDirectory("graph_late").toString
    val late = spark.sparkContext.longAccumulator("graph_late_drops")
    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = GraphStream.transitionStream(
        GraphStream.projectEvents(
          mem.toDF().toDF("user_id", "ts_us", "event_id", "props")
            .select(col("user_id"),
              timestamp_micros(col("ts_us")).as("ts"),
              col("event_id"), col("props"))),
        lateDrops = Some(late))
      .writeStream
      .foreachBatch(GraphStream.edgeSinkEachBatch(outDir) _)
      .outputMode("append").start()
    def ev(u: Long, tUs: Long, eid: Long, k: Long) =
      (u, 1704067200000000L + tUs, eid, s"""{"k":$k}""")
    mem.addData(ev(1, 0L, 1, 5), ev(1, 60000000L, 2, 6))
    q.processAllAvailable()
    // ts regression AND an equal-(ts,event_id) duplicate: both late
    mem.addData(ev(1, 30000000L, 3, 7), ev(1, 60000000L, 2, 6))
    q.processAllAvailable()
    mem.addData(ev(1, 120000000L, 4, 8)) // genuine — still applies
    q.processAllAvailable(); q.stop()
    assert(late.value == 2L, s"expected 2 late drops, got ${late.value}")
    // applied events only: 5→6→8
    val edges = spark.read.parquet(s"$outDir/edges")
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(edges == Set((5L, 6L, 1L), (6L, 8L, 1L)), edges.toString)

    // replay: re-running an epoch's sink call with the same id must
    // converge (overwrite-own-partition), not double-count
    val replay = Seq(graft.streaming.GraphDelta(9L, Some(6L), 8L)).toDS()
    GraphStream.edgeSinkEachBatch(outDir)(replay, 99L)
    GraphStream.edgeSinkEachBatch(outDir)(replay, 99L)
    val w = spark.read.parquet(s"$outDir/edges")
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .where(col("src") === 6L && col("dst") === 8L)
      .collect()(0).getLong(2)
    assert(w == 2L, s"expected weight 2 (1 stream + 1 replayed epoch), got $w")
  }
}
