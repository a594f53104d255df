package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import graft.operators.Api
import graft.serving.HttpServer

/** serve_reference: a closed loop of [[Clients]] clients against the
  * engine's `HttpServer`, each replaying its seeded request sequence
  * (/dauRealtime, /statsByItem and /detailByItem in turn, parameters drawn
  * from the seeded pool with skew). A client sends its next request only
  * after the previous answer. An op is one request answered. */
final class ServeReference(tables: String, inputs: String) extends Workload {
  val Clients = 4
  val tailPct = 65

  private val (pool, sequences) = {
    val root = new ObjectMapper().readTree(new java.io.File(s"$inputs/requests.json"))
    (root.get("pool").elements().asScala.map(_.asText).toIndexedSeq,
     root.get("clients").elements().asScala.map(
       _.elements().asScala.map(_.asInt).toIndexedSeq).toIndexedSeq)
  }
  private var spark: SparkSession = _
  private var server: HttpServer = _
  private var port = 0
  /** Each distinct body every URL answered with, and how often. */
  private val bodies = mutable.Map.empty[String, mutable.Map[String, Long]]
  private val window1 = mutable.Buffer.empty[Response]

  final case class Response(client: Int, url: String, start: Long, end: Long,
      status: Int, bytes: Long)

  def start(s: SparkSession): Unit = {
    spark = s
    server = new HttpServer(s, tables).start()
    port = server.boundPort
  }
  def stop(): Unit = if (server != null) server.stop()

  /** One blocking GET on a connection of its own (run.py turns the JDK's
    * keep-alive off). */
  private def get(url: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$url").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    (code, body)
  }

  private val warmProblems = mutable.Buffer.empty[String]

  /** Every request of the pool once, spread over the [[Clients]] clients
    * as the window spreads its load: the JIT compiles every route's path,
    * and each request pays its first-call costs, before timing. Each must
    * answer 200. */
  def warmup(): Unit = {
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        pool.indices.filter(_ % Clients == c).map(pool).foreach { url =>
          val status = try get(url)._1 catch {
            case e: Exception => warmProblems.synchronized(warmProblems += s"warm-up $url: $e"); 200
          }
          if (status != 200) warmProblems.synchronized(warmProblems += s"warm-up $url: status $status")
        }
      }, s"perfbench-warm-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def window(seconds: Double, trace: Option[Trace]): Window = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Response]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val seq = sequences(c)
        var i = 0
        while (System.nanoTime() < end && i < seq.size) {
          val url = pool(seq(i))
          i += 1
          val w0 = System.currentTimeMillis()
          val (status, body) =
            try get(url) catch {
              case e: Exception => errors.add(s"$url: $e"); (-1, "")
            }
          if (status > 0 && status != 200) errors.add(s"$url: status $status")
          val w1 = System.currentTimeMillis()
          out.add(Response(c, url, w0, w1, status, body.getBytes("UTF-8").length))
          if (status == 200) bodies.synchronized {
            val m = bodies.getOrElseUpdate(url, mutable.Map.empty)
            m(body) = m.getOrElse(body, 0L) + 1
          }
          trace.foreach(_.add(Span(s"op:c$c:$i:${url.takeWhile(_ != '?')}", "op", w0, w1, "")))
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val rs = out.asScala.toSeq
    if (trace.isEmpty) window1 ++= rs
    lastWindow = rs
    new Window(rs.size, (System.nanoTime() - t0) / 1e9,
      rs.map(r => (r.end - r.start).toDouble).toArray,
      rs.count(_.status != 200), errors.asScala.toSeq)
  }
  private var lastWindow: Seq[Response] = Nil

  /** The in-process twin: the same Api program the route runs, rendered
    * the way the server renders it. */
  private def twin(url: String): String = {
    val (path, query) = url.span(_ != '?')
    val p = query.drop(1).split("&").map(_.split("=", 2)).map {
      case Array(k, v) => k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    val df = path match {
      case "/dauRealtime" => Api.dauRealtime(spark, tables, p("td"))
      case "/statsByItem" => Api.statsByItem(spark, tables, p("itemName"), p("t"))
      case "/detailByItem" => Api.detailByItem(spark, tables, p("itemName"),
        p("pageNo").toInt, p("pageSize").toInt)
    }
    try df.limit(10000).toJSON.collect().mkString("[", ",", "]")
    finally graft.Caches.releaseAll()
  }

  /** Twins run concurrently: the checks are outside the timed window and
    * each is a handful of small jobs. */
  def check(): Checks = {
    val expected = bodies.keys.toSeq.par.map(u => u -> twin(u)).seq.toMap
    val wrong = bodies.toSeq.flatMap { case (url, seen) =>
      seen.collect { case (body, n) if body != expected(url) => (url, n) }
    }
    val badUrls = wrong.map(_._1).toSet
    Checks(warmProblems.toSeq ++
        wrong.map { case (u, n) => s"$u: $n responses differ from the Api twin" },
      _ => window1.count(r => r.status == 200 && badUrls(r.url)).toLong)
  }

  /** serving.*: request time is client-observed; service time is the
    * union of Spark job time attributed to the request (by time — valid
    * while the server's dispatcher is serial); wait is the rest. */
  def layerMetrics(w: Window, tr: Trace): Seq[(String, Double)] = {
    val spans = tr.allSpans
    val jobs = spans.filter(_.layer == "job").groupBy(_.parent)
    val svc = spans.filter(_.layer == "op").map { o =>
      val busy = Stats.covered(jobs.getOrElse(o.id, Nil).map(j => (j.start, j.end)),
        o.start, o.end).toDouble
      (o.end - o.start - busy, busy)
    }
    val lo = if (spans.isEmpty) 0L else spans.map(_.start).min
    val hi = if (spans.isEmpty) 1L else spans.map(_.end).max
    val allJobs = spans.filter(_.layer == "job").map(j => (j.start, j.end))
    Seq(
      "serving.request_ms_p50" -> Stats.median(lastWindow.map(r => (r.end - r.start).toDouble)),
      "serving.service_ms_p50" -> Stats.median(svc.map(_._2)),
      "serving.wait_ms_p50" -> Stats.median(svc.map(_._1)),
      "serving.busy_frac" -> Stats.covered(allJobs, lo, hi).toDouble / math.max(1L, hi - lo),
      "serving.response_bytes_per_op" ->
        lastWindow.map(_.bytes).sum.toDouble / math.max(1, lastWindow.size),
      "serving.shed_503_count" -> lastWindow.count(_.status == 503).toDouble
    ) ++ Kernels.measure(spark, tables)
  }

  override def traceNotes: Seq[String] = Seq(
    "serving jobs are attributed to the in-flight request by time; valid " +
      "only while HttpServer runs every request on one dispatcher thread")
}
