package graft

import java.nio.file.Files
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** `Tables` infers each source table's parquet schema once per file
  * listing and session settings: a repeat read starts no Spark job, a
  * table rewritten in place is re-inferred, every read is still a fresh
  * relation, and a missing table fails as a plain read does. Jobs are
  * counted with a listener, never timed. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` and return (result, number of Spark jobs it started).
    * The listener bus is async — wait until the count stops moving. */
  private def countJobs[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      var last = -1
      while (n.get != last) { last = n.get; Thread.sleep(200) }
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def tmpDir(): String =
    Files.createTempDirectory("tables-spec").toString

  test("a repeat read resolves its schema without a Spark job") {
    val first = Tables.lineitem(spark, sf).schema
    val (second, jobs) = countJobs(Tables.lineitem(spark, sf).schema)
    assert(jobs == 0, s"a repeat read started $jobs jobs")
    assert(second == first)
    assert(second == spark.read.parquet(s"$sf/lineitem.parquet").schema)
  }

  test("a table rewritten in place shows its new column and rows on " +
      "the next read") {
    val dir = tmpDir()
    val path = s"$dir/lineitem.parquet"
    Seq(1L, 2L).toDF("l_orderkey").write.parquet(path)
    assert(Tables.lineitem(spark, dir).columns.toSeq == Seq("l_orderkey"))
    Seq((3L, "x"), (4L, "y"), (5L, "z")).toDF("l_orderkey", "l_extra")
      .write.mode("overwrite").parquet(path)
    val again = Tables.lineitem(spark, dir)
    assert(again.columns.toSeq == Seq("l_orderkey", "l_extra"))
    assert(again.orderBy("l_orderkey").as[(Long, String)].collect().toSeq ==
      Seq((3L, "x"), (4L, "y"), (5L, "z")))
  }

  test("two reads of one table self-join as two plain reads do") {
    def selfJoin(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Long =
      a.join(b, a("l_orderkey") === b("l_orderkey")).count()
    val plain = s"$sf/lineitem.parquet"
    val want = selfJoin(spark.read.parquet(plain), spark.read.parquet(plain))
    val got = selfJoin(Tables.lineitem(spark, sf), Tables.lineitem(spark, sf))
    assert(got == want && want > 0)
  }

  test("a missing table raises the plain read's AnalysisException") {
    val dir = tmpDir()
    val want = intercept[AnalysisException](
      spark.read.parquet(s"$dir/orders.parquet"))
    for (_ <- 1 to 2) {
      val got = intercept[AnalysisException](Tables.orders(spark, dir))
      assert(got.getCondition == want.getCondition)
      assert(got.getMessage == want.getMessage)
    }
  }

  /** A one-file events table whose `ts` is parquet TIMESTAMP(NANOS), as
    * a driver's `events` table may carry it (Spark cannot write one). */
  private def writeNanosEvents(path: String, nanos: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$path/part-0.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally w.close()
  }

  test("events.ts is a micros timestamp under nanosAsLong, on every read") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.get(key) == "true")
    val dir = tmpDir()
    val nanos = Seq(1700000000123456789L, 1700000001999999999L)
    writeNanosEvents(s"$dir/events.parquet", nanos)
    for (_ <- 1 to 2) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(unix_micros(col("ts"))).as[Long].collect().sorted
        .toSeq == nanos.map(_ / 1000))
    }
    // the setting is part of the memo version: flipped, a read infers
    // what a plain read infers, not the memoized Long schema
    spark.conf.set(key, "false")
    try {
      val plain = Try(spark.read.parquet(s"$dir/events.parquet").schema)
      val got = Try(Tables(spark, dir, "events").schema)
      assert(got.map(_.toString) == plain.map(_.toString) ||
        got.failed.map(_.getClass).toOption ==
          plain.failed.map(_.getClass).toOption)
    } finally spark.conf.set(key, "true")
  }
}
