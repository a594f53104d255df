package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.io.File
import java.nio.file.Files

/** [[EpochStore]]: the heal of both crash states of both swap kinds,
  * the fold's in-flight epoch, the single-writer claim on every
  * accumulated sink, and a source guard that keeps the epoch layout
  * inside the store. */
class EpochStoreSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  private def names(dir: String): Set[String] =
    Option(new File(dir).list()).toSeq.flatten.toSet

  test("a read heals a per-epoch swap and a whole-directory swap that " +
      "each crashed between their two renames") {
    val dir = tmpDir("es_heal") + "/store"
    val store = EpochStore(spark, dir)
    store.write(0L, Seq(1L, 2L).toDF("id"))
    store.write(1L, Seq(3L).toDF("id"))
    store.write(2L, Seq(4L).toDF("id"))
    // per-epoch swap: epoch 1 aside, its half-written replacement
    // beside it
    assert(new File(s"$dir/epoch=1").renameTo(new File(s"$dir/.epoch=1.old")))
    Seq(99L).toDF("id").write.parquet(s"$dir/.epoch=1.tmp")
    assert(ids(store.read()) == Set(1L, 2L, 3L, 4L))
    assert(names(dir).forall(n => !n.startsWith(".epoch=")),
      s"per-epoch swap artefacts survived the heal: ${names(dir)}")
    // whole-directory swap: the store aside, a fold's output beside it
    assert(new File(dir).renameTo(new File(s"$dir.old")))
    Seq(99L).toDF("id").write.parquet(s"$dir.compact.tmp/epoch=-1")
    assert(store.epochs() == Seq(0L, 1L, 2L))
    assert(ids(store.read()) == Set(1L, 2L, 3L, 4L))
    assert(!new File(s"$dir.old").exists() &&
      !new File(s"$dir.compact.tmp").exists())
  }

  test("fold runs on the cadence only and keeps the in-flight epoch " +
      "verbatim") {
    val dir = tmpDir("es_fold") + "/store"
    val store = EpochStore(spark, dir)
    (0L to 3L).foreach(e => store.write(e, Seq(e * 10, e * 10 + 1).toDF("id")))
    store.fold(3L, every = 2)(identity) // 3 % 2 != 0
    store.fold(0L, every = 1)(identity) // never at batch 0
    store.fold(3L, every = 0)(identity) // folding off
    assert(store.epochs() == Seq(0L, 1L, 2L, 3L))
    def files(e: Long) = names(s"$dir/epoch=$e").filter(_.endsWith(".parquet"))
    val inFlight = ids(store.read(Seq(3L)))
    store.fold(3L, every = 3)(identity)
    assert(store.epochs() == Seq(-1L, 3L))
    assert(ids(store.read(Seq(3L))) == inFlight && files(3L).nonEmpty)
    assert(ids(store.read()) == Set(0L, 1L, 10L, 11L, 20L, 21L, 30L, 31L))
    // a replay of the in-flight epoch overwrites only its own partition
    store.write(3L, Seq(30L, 31L).toDF("id"))
    assert(ids(store.read()) == Set(0L, 1L, 10L, 11L, 20L, 21L, 30L, 31L))
  }

  test("each accumulated sink refuses a direct write while an active " +
      "query owns its directory") {
    val logJson =
      """{"common":{"mid":"m1","uid":"u1"},"page":{"page_id":"home"},"ts":1}"""
    val cdcJson = """{"database":"gmall","table":"order_info",""" +
      """"type":"insert","ts":1,"data":"{\"id\":1}"}"""
    val config = Seq(("order_info", "FACT")).toDF("table_name", "route")
    val items = Seq(1L, 2L, 2L).toDF("item")
    val sinks: Seq[(String, DataFrame, String => (DataFrame, Long) => Unit)] =
      Seq(
        ("LogDemux.demuxEachBatch", Seq(logJson).toDF("value"),
          dir => LogDemux.demuxEachBatch(dir)),
        ("CdcRouter fact topics", Seq(cdcJson).toDF("value"),
          dir => CdcRouter.routeEachBatch(s"$dir/fact", s"$dir/dim",
            config)),
        ("SketchStream.heavyHitterSinkEachBatch", items,
          dir => SketchStream.heavyHitterSinkEachBatch(dir)),
        ("SketchStream.cmsSinkEachBatch", items,
          dir => SketchStream.cmsSinkEachBatch(dir)),
        ("SketchStream.histSinkEachBatch",
          Seq(("click", 0.5), ("view", 1.5)).toDF("event_type", "value"),
          dir => SketchStream.histSinkEachBatch(dir)),
        ("CorpusStatsStream.countsSinkEachBatch",
          Seq("alpha beta gamma").toDF("text"),
          dir => CorpusStatsStream.countsSinkEachBatch(dir)))
    val accepted = sinks.flatMap { case (name, batch, sinkFor) =>
      val sink = sinkFor(tmpDir("es_owner"))
      val mem = MemoryStream[Int]
      val live: (DataFrame, Long) => Unit = (_, id) => sink(batch, id)
      val q = mem.toDF().writeStream.foreachBatch(live).start()
      val direct =
        try {
          mem.addData(1)
          q.processAllAvailable()
          scala.util.Try(sink(batch, 99L))
        } finally q.stop()
      // with the query stopped, ownership transfers
      sink(batch, 100L)
      direct match {
        case scala.util.Failure(e: IllegalArgumentException)
            if e.getMessage.contains("owned by active streaming query") =>
          None
        case other => Some(s"$name: $other")
      }
    }
    assert(accepted.isEmpty, accepted.mkString("\n", "\n", ""))
  }

  test("no epoch-layout literal, listing or swap outside the store") {
    val root = new File("src/main/scala/graft/streaming")
    val files = Option(root.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
      .filterNot(f => EpochStoreSpec.Owners(f.getName))
    assert(files.size > 10, s"streaming sources not found under $root")
    val bad = files.flatMap { f =>
      EpochStoreSpec.guardViolations(f.getName,
        new String(Files.readAllBytes(f.toPath), "UTF-8"))
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("the source guard flags what it exists to catch") {
    import EpochStoreSpec.guardViolations
    assert(guardViolations("A.scala",
      "  df.write.parquet(s\"$dir/epoch=$id\")\n").size == 1)
    assert(guardViolations("A.scala",
      "  graft.AtomicSwap.publish(tmp, dir)\n").size == 1)
    assert(guardViolations("A.scala",
      "  names.filter(_.startsWith(\"epoch=\"))\n").size == 1)
    assert(guardViolations("A.scala",
      "/** writes `epoch=<id>` via AtomicSwap.publish */\n" +
        "  val x = 1 // epoch=3 and AtomicSwap.publish\n" +
        "  upsert(df, dir, \"epoch\", Nil)\n").isEmpty)
  }
}

object EpochStoreSpec {

  /** The two files allowed to know the epoch layout and its swaps. */
  val Owners: Set[String] = Set("EpochStore.scala", "PartitionedUpsert.scala")

  /** The partition literal (which also catches an
    * `startsWith("epoch=")` listing) and the whole-directory swap. */
  private val Forbidden = "epoch=|AtomicSwap\\s*\\.\\s*publish".r
  private val BlockComment = "(?s)/\\*.*?\\*/".r
  private val LineComment = "(^|\\s)//.*".r

  /** `file:line` findings for one source, comments stripped. */
  def guardViolations(file: String, src: String): Seq[String] = {
    val code = BlockComment
      .replaceAllIn(src, m => "\n" * m.matched.count(_ == '\n'))
      .split("\n", -1).map(l => LineComment.replaceAllIn(l, "$1"))
    code.zipWithIndex.collect {
      case (line, i) if Forbidden.findFirstIn(line).isDefined =>
        s"$file:${i + 1}: epoch layout outside EpochStore"
    }.toSeq
  }
}
