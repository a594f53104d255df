package graft.streaming

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Smoke test for the RocksDB state-store seam ([[GraftSession
  * .builderWithRocksDB]]): the provider class ships in this Spark build,
  * so the deployment config is exercised for real — a cross-batch
  * stateful dedup whose state lives in RocksDB, verified both by the
  * result (cross-batch suppression works) and by the query's state
  * operator reporting RocksDB-specific metrics. `providerClass` is a
  * runtime SQLConf read at query start, so the shared test session can
  * opt in per-query without rebuilding the session.
  */
class RocksDBStateSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Run `body` with streaming state on RocksDB; returns the query's
    * reported RocksDB custom-metric presence for assertion reuse. */
  private def onRocksDB[A](body: => A): A = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      GraftSession.RocksDBProvider)
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  private def assertRocksBacked(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val stateOps = q.recentProgress.flatMap(_.stateOperators)
    assert(stateOps.nonEmpty, "no stateful operator reported progress")
    val metricKeys = stateOps.flatMap(_.customMetrics.keySet.toArray).toSet
    assert(metricKeys.exists(_.toString.startsWith("rocksdb")),
      s"state store is not RocksDB-backed; metrics: $metricKeys")
  }

  test("OrderJoinStream's dual-side join state lives in RocksDB") {
    // the REAL big-state path (±24 h stream-stream join buffer), not a
    // toy: header cached in batch 1, two late details complete it in
    // batch 2 — the cross-batch completion must come out of RocksDB
    onRocksDB {
      val cp = Files.createTempDirectory("rocksdb-oj").toString
      val info = MemoryStream[(Long, Long, String, Double, java.sql.Timestamp)]
      val detail =
        MemoryStream[(Long, Long, Long, Double, Long, java.sql.Timestamp)]
      val infoDf = info.toDF()
        .toDF("order_id", "user_id", "order_status", "total_amount", "ts")
      val detailDf = detail.toDF()
        .toDF("detail_id", "detail_order_id", "sku_id", "order_price",
          "sku_num", "ts")
      val joined = OrderJoinStream.toWide(
        OrderJoinStream.join(infoDf, detailDf))
      val q = joined.writeStream.format("memory").queryName("rocks_orderwide")
        .outputMode("append")
        .option("checkpointLocation", cp)
        .start()
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      info.addData((100L, 7L, "OK", 50.0, t("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(spark.table("rocks_orderwide").count() == 0,
        "nothing may be emitted before the detail side arrives")
      detail.addData(
        (2L, 100L, 6L, 5.0, 2L, t("2024-01-01 10:05:00")),
        (3L, 100L, 8L, 2.5, 4L, t("2024-01-01 10:06:00")))
      q.processAllAvailable()
      assertRocksBacked(q)
      q.stop()
      val rows = spark.table("rocks_orderwide").collect()
      assert(rows.length == 2, "1 header : 2 details cross-batch fan-out")
      assert(rows.map(_.getLong(1)).toSet == Set(2L, 3L))
    }
  }

  test("DauStream's per-day dedup state lives in RocksDB") {
    onRocksDB {
      val cp = Files.createTempDirectory("rocksdb-dau").toString
      val mem = MemoryStream[(Long, java.sql.Timestamp)]
      val df = mem.toDF().toDF("user_id", "ts")
      val q = DauStream.firstVisitsEvicting(df).writeStream
        .format("memory").queryName("rocks_dau")
        .outputMode("update")
        .option("checkpointLocation", cp)
        .start()
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData((1L, t("2024-01-01 08:00:00")), (2L, t("2024-01-01 09:00:00")))
      q.processAllAvailable()
      // user 1 again same day (suppressed FROM ROCKSDB STATE), next day kept
      mem.addData((1L, t("2024-01-01 10:00:00")), (1L, t("2024-01-02 07:00:00")))
      q.processAllAvailable()
      assertRocksBacked(q)
      q.stop()
      val rows = spark.table("rocks_dau")
        .select("user_id", "dt").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((1L, "2024-01-01"), (2L, "2024-01-01"),
        (1L, "2024-01-02")),
        "cross-batch per-day dedup must hold on RocksDB state")
    }
  }

  test("stateful dedup runs on the RocksDB state store provider") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      GraftSession.RocksDBProvider)
    try {
      val cp = Files.createTempDirectory("rocksdb-cp").toString
      val mem = MemoryStream[(String, Long)]
      mem.addData(("u1", 1L), ("u1", 2L), ("u2", 3L))
      val q = mem.toDF().toDF("user_id", "ts")
        .dropDuplicates("user_id")
        .writeStream.format("memory").queryName("rocks_dedup")
        .outputMode("update")
        .option("checkpointLocation", cp)
        .start()
      q.processAllAvailable()
      mem.addData(("u1", 4L), ("u3", 5L)) // u1 suppressed ACROSS batches
      q.processAllAvailable()

      val stateOps = q.recentProgress.flatMap(_.stateOperators)
      assert(stateOps.nonEmpty, "no stateful operator reported progress")
      val metricKeys = stateOps.flatMap(_.customMetrics.keySet.toArray).toSet
      assert(metricKeys.exists(_.toString.startsWith("rocksdb")),
        s"state store is not RocksDB-backed; metrics: $metricKeys")
      q.stop()

      val users = spark.table("rocks_dedup")
        .select("user_id").as[String].collect().sorted.toSeq
      assert(users == Seq("u1", "u2", "u3"),
        "cross-batch dedup state must survive in RocksDB")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
