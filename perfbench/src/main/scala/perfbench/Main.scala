package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Command-line harness for one benchmark run:
  *
  *   perfbench.Main --workload <name> --seconds <s> --trace <0|1>
  *                  --period-ms <ms> --deliveries <n> --warm-ticks <n>
  *                  --inputs <dir> --work <dir> --result <file>
  *
  * `inputs` holds the seeded files gen.py wrote; `work` is scratch space
  * for sinks, checkpoints and query outputs. The result file gets one
  * JSON object (metrics, op counts, check outcomes) that run.py merges
  * with its own oracle checks and prints.
  *
  * Flow: set the workload up once in the fresh JVM (the cold set-up is
  * `setup_s`), warm it, run the timed window, check its outputs, then take
  * the retained heap. With `--trace 1` an untraced window runs first, then
  * a traced one of the same length; end-to-end numbers always come from
  * untraced windows. The run is correct when no output check failed and
  * no window, warm-up included, saw a failed op.
  */
object Main {
  private val Codegen =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  val Cpus: String = Runtime.getRuntime.availableProcessors.toString

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      periodMs: Long, deliveries: Int, warmTicks: Int, inputs: String, work: String,
      result: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seconds").toDouble, get("--trace") == "1",
      get("--period-ms").toLong, get("--deliveries").toInt,
      get("--warm-ticks").toInt, get("--inputs"),
      get("--work"), get("--result"))
  }

  def newSession(work: String): SparkSession = {
    val spark = InProcessLocalFs.conf.foldLeft(GraftSession.builder(Cpus)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** CPU time the JIT compiler threads have used so far, read from
    * /proc/self/task: HotSpot names them "C1 CompilerThread<n>" and
    * "C2 CompilerThread<n>" (cut to 15 characters), and run.py keeps them
    * alive for the whole run. Clock ticks are taken at 100 per second, the
    * Linux USER_HZ. 0 where /proc does not exist. */
  def compilerThreadsCpuNs(): Long = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
    tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          // the fields after the name start at field 3; utime and stime are 14 and 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended
    }.sum
  }

  private val started = System.nanoTime()
  /** Phase timestamps for the run log. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.2f s: $name")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tables = s"${a.inputs}/tables"
    val w: Workload = a.workload match {
      case "stream_ingest"   => new StreamIngest(a.inputs, a.work, a.periodMs,
        a.deliveries, a.warmTicks)
      case "serve_reference" => new ServeReference(tables, a.inputs)
      case "batch_curation"  => new BatchCuration(tables, a.work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = Json.obj()

    // set-up: session, catalog, then the workload's own start (server,
    // stream queries), up to the point where the first op can be issued
    val t0 = System.nanoTime()
    val spark = newSession(a.work)
    val tracer = if (a.trace) Some(new Trace(spark)) else None
    GraftSession.sqlSurface(spark, tables)
    w.start(spark)
    val setupS = (System.nanoTime() - t0 - w.untimedNs) / 1e9
    phase("set-up done")
    w.warmup()
    phase("warm-up done")

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def timed(trace: Option[Trace]): Window = {
      val cpu0 = os.getProcessCpuTime - compilerThreadsCpuNs()
      val jit0 = jit.getTotalCompilationTime
      val gc0 = gcs.map(_.getCollectionTime).sum
      val cg0 = Codegen.getCount
      val win = w.window(a.seconds, trace)
      win.codegenCompiles = Codegen.getCount - cg0
      win.cpuNs = os.getProcessCpuTime - compilerThreadsCpuNs() - cpu0
      win.jitMs = jit.getTotalCompilationTime - jit0
      win.gcMs = gcs.map(_.getCollectionTime).sum - gc0
      win
    }
    val untraced = timed(None)
    val traced = tracer.map { tr =>
      tr.install()
      val win = timed(Some(tr))
      tr.remove()
      tr -> win
    }
    phase("windows done")
    val checks = w.check()
    phase("checks done")

    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
    val win = untraced
    val failed = win.failed + checks.failedOps(win)
    val errors = win.errors ++ traced.toSeq.flatMap(_._2.errors.map("traced " + _))
    out("workload") = a.workload
    out("attempted") = win.ops
    out("failed") = failed.min(win.ops)
    out("correct") = checks.problems.isEmpty && errors.isEmpty
    out("problems") = checks.problems ++ errors.take(10) ++
      (if (errors.size > 10) Seq(s"... ${errors.size - 10} more failed ops") else Nil)
    out("pending_checks") = checks.pending
    out("latency_samples") = win.latenciesMs.length.toLong
    out("window_jit_ms") = win.jitMs
    out("window_gc_ms") = win.gcMs
    out("window_codegen_compiles") = win.codegenCompiles
    w.resultExtras.foreach { case (k, v) => out(k) = v }
    val e2e = Json.obj()
    e2e("setup_s") = setupS
    e2e("ops_per_s") = (win.ops - win.failed) / win.seconds
    e2e("latency_p50_ms") = Stats.pct(win.latenciesMs, 50)
    e2e("latency_tail_ms") = Stats.pct(win.latenciesMs, w.tailPct)
    e2e("cpu_ms_per_op") = win.cpuNs / 1e6 / win.ops.max(1L)
    e2e("retained_heap_mb") = heapMb
    out("end_to_end") = e2e
    out("tail_pct") = w.tailPct.toDouble
    traced.foreach { case (tr, twin) =>
      val layers = Json.obj()
      tr.layerMetrics(twin).foreach { case (k, v) => layers(k) = v }
      w.layerMetrics(twin, tr).foreach { case (k, v) => layers(k) = v }
      val base = Stats.pct(win.latenciesMs, 50)
      layers("bench.trace_overhead_frac") =
        if (base > 0) Stats.pct(twin.latenciesMs, 50) / base - 1.0 else 0.0
      out("per_layer") = layers
      out("trace_notes") = tr.notes ++ w.traceNotes
      tr.writeSpans(new File(s"${a.work}/spans.jsonl"))
    }
    phase("metrics done")
    w.stop()
    spark.stop()
    val pw = new PrintWriter(a.result, "UTF-8")
    try pw.println(Json.render(out)) finally pw.close()
    System.exit(0)
  }
}

/** The outcome of one timed window: ops attempted, of which `failed`
  * failed. Latencies are milliseconds. */
final class Window(val ops: Long, val seconds: Double,
    val latenciesMs: Array[Double], val failed: Long,
    val errors: Seq[String]) {
  var cpuNs: Long = 0L
  /** JIT compilation and GC time the JVM spent during the window. */
  var jitMs: Long = 0L
  var gcMs: Long = 0L
  /** Whole-stage codegen classes compiled (codegen cache misses). */
  var codegenCompiles: Long = 0L
}

/** Output checks made after the windows. `failedOps` maps what failed
  * onto the untraced window's ops; `pending` lists checks run.py makes. */
final case class Checks(problems: Seq[String], failedOps: Window => Long,
    pending: Seq[String] = Nil)

trait Workload {
  /** Percentile reported as `latency_tail_ms` on this workload. */
  def tailPct: Int
  def start(spark: SparkSession): Unit
  def warmup(): Unit
  def window(seconds: Double, trace: Option[Trace]): Window
  def check(): Checks
  def stop(): Unit
  /** Workload-specific per-layer metrics of the traced window. */
  def layerMetrics(w: Window, tr: Trace): Seq[(String, Double)]
  def traceNotes: Seq[String] = Nil
  /** Extra fields for the result file (read by run.py). */
  def resultExtras: Seq[(String, Any)] = Nil
  /** Time spent inside `start` reading the generated inputs into memory,
    * excluded from set-up. */
  var untimedNs: Long = 0L
}

object Stats {
  /** Linear-interpolated percentile; 0 for no samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0 else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach {
        case (s, e) =>
          if (s > curE) {
            if (curE > curS) total += curE - curS
            curS = s; curE = e
          } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Minimal JSON writer (insertion-ordered objects). */
object Json {
  final class Obj extends scala.collection.mutable.LinkedHashMap[String, Any]
  def obj(): Obj = new Obj
  def render(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => render(f.toDouble)
    case n: Long             => n.toString
    case n: Int              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_]        => xs.map(render).mkString("[", ",", "]")
    case other               => quote(other.toString)
  }
  def quote(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }.mkString("\"", "", "\"")
}
