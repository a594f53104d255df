package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Caches, SparkEntry}

/** batch_curation: one client sweeps twelve oracle-checked curation
  * queries in a fixed order. An op is one query fully materialized
  * through the `noop` sink, which consumes every column (a `.count()`
  * would let Catalyst prune projections). The window runs whole sweeps,
  * so every window holds each query equally often. */
final class BatchCuration(tables: String, work: String) extends Workload {
  val Queries: Seq[String] = Kernels.CurationQueries
  val tailPct = 90

  private var spark: SparkSession = _
  private val warmErrors = mutable.Buffer.empty[String]
  private val opsByQuery = mutable.LinkedHashMap.empty[String, Long]
  private val msByQuery = mutable.LinkedHashMap.empty[String, mutable.Buffer[Double]]

  def start(s: SparkSession): Unit = spark = s
  def stop(): Unit = ()

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One cold sweep, which also writes each result for the oracle check. */
  def warmup(): Unit = {
    new File(s"$work/results").mkdirs()
    Queries.foreach { q =>
      try SparkEntry.queries(q)(spark, tables).write.mode("overwrite")
        .parquet(s"$work/results/$q")
      catch { case e: Exception => warmErrors += s"$q: ${e.getMessage}" }
      finally Caches.releaseAll()
    }
    val pw = new PrintWriter(s"$work/oracle_sql.json", "UTF-8")
    try pw.println(Json.render(
      Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    finally pw.close()
  }

  def window(seconds: Double, trace: Option[Trace]): Window = {
    val sc = spark.sparkContext
    val lat = mutable.Buffer.empty[Double]
    val errors = mutable.Buffer.empty[String]
    var ops, failed = 0L
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < end) Queries.foreach { q =>
      ops += 1
      val id = s"op:$q:$ops"
      sc.setJobGroup(id, q, interruptOnCancel = false)
      val w0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      try noop(SparkEntry.queries(q)(spark, tables))
      catch {
        case e: Exception => failed += 1; errors += s"$q: ${e.getMessage}"
      } finally {
        Caches.releaseAll()
        sc.clearJobGroup()
      }
      val ms = (System.nanoTime() - s0) / 1e6
      lat += ms
      if (trace.isEmpty) {
        opsByQuery(q) = opsByQuery.getOrElse(q, 0L) + 1
        msByQuery.getOrElseUpdate(q, mutable.Buffer.empty) += ms
      }
      trace.foreach { tr =>
        tr.add(Span(id, "op", w0, System.currentTimeMillis(), ""))
        tr.afterOp()
      }
    }
    new Window(ops, (System.nanoTime() - t0) / 1e9, lat.toArray, failed,
      errors.toSeq)
  }

  /** Output checks against the DuckDB oracle run in run.py over the
    * results the cold sweep wrote; a query that failed to build there
    * fails every op of it. */
  def check(): Checks = Checks(warmErrors.toSeq, _ =>
      warmErrors.map(_.takeWhile(_ != ':'))
        .map(q => opsByQuery.getOrElse(q, 0L)).sum,
    pending = Seq("oracle"))

  override def resultExtras: Seq[(String, Any)] =
    Seq("ops_by_query" -> opsByQuery,
      "ms_by_query" -> msByQuery.map { case (q, xs) => q -> Stats.median(xs) })

  def layerMetrics(w: Window, tr: Trace): Seq[(String, Double)] =
    Kernels.measure(spark, tables)
}
