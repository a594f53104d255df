package graft.serving

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer => JdkServer}
import java.net.InetSocketAddress
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin REST wrapper over the served operators — the reference's
  * InsightAnalytics surface (PublisherController's three routes) without
  * Spring: the JDK built-in HTTP server (zero extra dependencies),
  * returning JSON rows. The routes, their parameters, defaults and bounds
  * are the entries of [[Ops]] that have an HTTP path.
  *
  * The Spark driver hosts the server; each request compiles to a
  * DataFrame program that Catalyst plans and the cluster executes —
  * query serving is the engine itself, not a copy of the data. Requests
  * run on a fixed pool of `defaultParallelism` handler threads, so one
  * request's driver-side planning overlaps another's jobs (each Spring
  * request had its own thread too). Each request's Spark jobs carry the
  * job group `<path>#<request seq>`, described by the request URI, and
  * the request releases the cached carriers it registered
  * ([[graft.Caches]]).
  */
class HttpServer(spark: SparkSession, dataDir: String, port: Int = 0,
    sketchDir: Option[String] = None) {

  private val server = JdkServer.create(new InetSocketAddress(port), 0)

  private val pool = {
    val n = new AtomicLong()
    Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-http-$boundPort-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
  }
  server.setExecutor(pool)

  /** Numbers each request's job group. */
  private val requests = new AtomicLong()

  /** At most ONE erasure (copy-on-write layout rewrite) builds at a
    * time on this serving JVM; concurrent /forget requests for a not-
    * yet-memoized batch get 503 instead of queueing I/O storms. */
  private val forgetGate = new java.util.concurrent.Semaphore(1)

  /** Actual bound port (useful with port=0 → ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** JSON string escaping for error bodies: quotes, backslashes, and
    * control chars — a NumberFormatException message contains quotes and
    * would otherwise yield malformed JSON. */
  private def jsonEscape(s: String): String =
    Option(s).getOrElse("").flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case '\r'          => "\\r"
      case '\t'          => "\\t"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  /** A request that would start an expensive build while another is in
    * flight (or too soon after the last) → HTTP 503, retry later. */
  private final class BusyException(msg: String)
    extends RuntimeException(msg)

  /** Load-shed an erasure/takedown build: a memoized repeat answers
    * immediately; otherwise at most one build proceeds, the rest 503.
    * This gate is UX-level only — build mutual exclusion itself is
    * owned by `Layouts.withBuildGate` inside the operators (round-15
    * advice: the memoized check here is inherently check-then-act). */
  private def gatedBuild[A](memoized: => Boolean)(run: => A): A =
    if (memoized) run
    else if (!forgetGate.tryAcquire())
      throw new BusyException(
        "an erasure build is already in flight; retry later")
    else try run finally forgetGate.release()

  private val ctx = new Ops.Ctx(spark, dataDir, sketchDir) {
    override def gated(memoized: => Boolean)(run: => DataFrame): DataFrame =
      gatedBuild(memoized)(run)
  }

  private def handler(op: Ops.Op): HttpHandler =
    (ex: HttpExchange) => {
      val sc = spark.sparkContext
      // pool threads are reused: the group is set per request and
      // cleared in `finally`, so no job inherits the previous request's
      sc.setJobGroup(s"${ex.getHttpContext.getPath}#${requests.incrementAndGet()}",
        ex.getRequestURI.toString, interruptOnCancel = false)
      try respond(ex, 200, HttpServer.asJson(
        op.build(ctx, new Ops.HttpParams(params(ex)))))
      catch {
        // a time-travel read of a vacuum-expired snapshot → 410 Gone:
        // the version existed and was reclaimed by retention — a
        // different contract than a malformed request
        case e: graft.operators.Layouts.VersionExpired =>
          respond(ex, 410, s"""{"error":"${jsonEscape(e.getMessage)}"}""")
        // a missing, malformed or out-of-bound parameter and an
        // operator's require are the caller's fault → 400
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error":"${jsonEscape(e.getMessage)}"}""")
        case e: BusyException =>
          respond(ex, 503, s"""{"error":"${jsonEscape(e.getMessage)}"}""")
        case e: Throwable =>
          respond(ex, 500,
            s"""{"error":"${jsonEscape(e.getClass.getSimpleName)}"}""")
      }
      // release this request's cached carriers whether it succeeded or
      // failed — a long-lived server must not accrete query caches
      // (failing requests register carriers too). Try: a release failure
      // must not re-touch the already-closed exchange.
      finally {
        scala.util.Try(graft.Caches.releaseAll())
        sc.clearJobGroup()
      }
    }

  def start(): HttpServer = {
    for (op <- Ops.table; path <- op.path)
      server.createContext(path, handler(op))
    server.start()
    this
  }

  /** Stops accepting, then lets in-flight handlers finish (interrupting
    * any still running after a minute) and ends the handler pool. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(60, TimeUnit.SECONDS)) pool.shutdownNow()
  }
}

object HttpServer {

  /** Serving responses are driver-side by design (the reference returned
    * ES hits through Spring the same way), but every endpoint is already
    * bounded (24 hour rows / group count / pageSize) — the defensive
    * limit turns "someone adds an unbounded endpoint" into a truncated
    * response instead of a driver OOM. */
  private val MaxRows = 10000

  private[serving] def asJson(df: DataFrame): String =
    df.limit(MaxRows).toJSON.collect().mkString("[", ",", "]")
}
