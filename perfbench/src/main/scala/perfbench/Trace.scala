package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch milliseconds. `parent` is the id of the
  * span that caused it ("" when unknown). Layers, outermost first:
  * op → trigger → sink → job → stage. */
final case class Span(id: String, layer: String, start: Long, end: Long,
    parent: String)

/** The traced run's instrument: spans taken around the benchmark's own
  * calls (ops, sink wrappers, triggers) plus Spark's public listeners
  * for jobs, stages and query executions. Everything stays in memory
  * until [[writeSpans]].
  *
  * Job attribution: a job's parent is its job group when the benchmark
  * set one (`op:<id>` for batch ops, `sink:<query>:<batch>` inside sink
  * wrappers), else the streaming trigger named by the job's
  * `streaming.sql.batchId` property, else the op whose interval holds it
  * (see [[attributeByTime]]). */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = new ConcurrentLinkedQueue[Span]()
  val notes = mutable.Buffer.empty[String]

  /** Streaming query id → benchmark name, filled by the workload. */
  val queryNames = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def add(s: Span): Unit = spans.add(s)
  def allSpans: Seq[Span] = spans.asScala.toSeq
  def now(): Long = System.currentTimeMillis()

  // --- counters, written by the listener-bus threads --------------------
  private val lock = new Object
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def bump(k: String, v: Double): Unit = c(k) += v
  private val jobStarts = mutable.Map.empty[Int, (Long, String)]
  private val stageOwner = mutable.Map.empty[Int, String]
  private val seenCached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  /** Files, bytes and rows the file-write commands recorded while
    * installed, summed over output paths under any of `roots`. */
  private val writes = mutable.Buffer.empty[(String, Long, Long, Long)]
  def written(roots: Seq[String]): (Double, Double, Double) = lock.synchronized {
    val ws = writes.filter(w => roots.exists(r => w._1.startsWith(r)))
    (ws.map(_._2).sum.toDouble, ws.map(_._3).sum.toDouble, ws.map(_._4).sum.toDouble)
  }

  /** The largest row count each named observation reported. */
  private val observed = mutable.Map.empty[String, Long].withDefaultValue(0L)
  def observedRows(name: String): Double = lock.synchronized(observed(name).toDouble)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val group = prop("spark.jobGroup.id").getOrElse("")
      val parent =
        if (group.startsWith("op:") || group.startsWith("sink:")) group
        else (prop("sql.streaming.queryId"), prop("streaming.sql.batchId")) match {
          case (Some(q), Some(b)) =>
            s"trigger:${Option(queryNames.get(q)).getOrElse(q)}:$b"
          case _ => ""
        }
      lock.synchronized {
        jobStarts(e.jobId) = (e.time, parent)
        e.stageIds.foreach(s =>
          stageOwner.getOrElseUpdate(s, s"job:${e.jobId}"))
        bump("jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = lock.synchronized(jobStarts.remove(e.jobId))
      st.foreach { case (t0, parent) =>
        add(Span(s"job:${e.jobId}", "job", t0, e.time, parent))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val job = lock.synchronized(stageOwner.getOrElse(si.stageId, ""))
      for (t0 <- si.submissionTime; t1 <- si.completionTime)
        add(Span(s"stage:${si.stageId}.${si.attemptNumber()}", "stage", t0,
          t1, job))
      Option(si.taskMetrics).foreach { m =>
        lock.synchronized {
          bump("stages", 1)
          bump("tasks", si.numTasks)
          bump("cpu_ns", m.executorCpuTime)
          bump("run_ms", m.executorRunTime)
          bump("gc_ms", m.jvmGCTime)
          bump("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
          bump("sh_w", m.shuffleWriteMetrics.bytesWritten)
          bump("sh_r", m.shuffleReadMetrics.totalBytesRead)
          bump("in_b", m.inputMetrics.bytesRead)
          bump("in_r", m.inputMetrics.recordsRead)
        }
      }
    }
  }

  /** Walk a finished query's physical plan: the final adaptive plan, each
    * query stage, and each cached relation's plan exactly once per trace
    * (whichever op materialized it), so counts repeat run to run. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case i: InMemoryTableScanExec =>
        if (seenCached.synchronized(seenCached.add(i.relation.cacheBuilder)))
          walk(i.relation.cachedPlan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  @volatile private var enabled = false

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      if (enabled) {
        var sh, bc, files = 0L
        val out = mutable.Buffer.empty[(String, Long, Long, Long)]
        def metric(w: DataWritingCommandExec, k: String) =
          w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
        walk(qe.executedPlan) {
          case _: ShuffleExchangeExec   => sh += 1
          case _: BroadcastExchangeExec => bc += 1
          case s: FileSourceScanExec    =>
            files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              out += ((i.outputPath.toUri.getPath, metric(w, "numFiles"),
                metric(w, "numOutputBytes"), metric(w, "numOutputRows")))
            case _ =>
          }
          case _ =>
        }
        val plan = qe.tracker.phases.values.map(_.durationMs).sum
        val obs = qe.observedMetrics.collect {
          case (k, r) if k.startsWith(Trace.RowsPrefix) => k -> r.getLong(0)
        }
        lock.synchronized {
          bump("shuffles", sh); bump("broadcasts", bc); bump("files", files)
          bump("plan_ms", plan.toDouble)
          writes ++= out
          obs.foreach { case (k, v) => observed(k) = math.max(observed(k), v) }
        }
      }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Register the query-execution listener. Streaming queries run on a
    * clone of the session taken when they start, so this must precede
    * their start; it records nothing until [[install]]. */
  spark.listenerManager.register(qeListener)

  // --- cache sampling ---------------------------------------------------
  private val pinned = mutable.Buffer.empty[Double]
  @volatile private var persistedPeak = 0
  @volatile private var sampling = false
  private val sampler = new Thread(() => {
    while (sampling) {
      persistedPeak = math.max(persistedPeak, sc.getPersistentRDDs.size)
      Thread.sleep(50)
    }
  }, "perfbench-cache-sampler")
  sampler.setDaemon(true)

  /** Bytes held by persisted RDD blocks right after an op finished. */
  def afterOp(): Unit = {
    val b = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    lock.synchronized(pinned += b.toDouble)
    persistedPeak = math.max(persistedPeak, sc.getPersistentRDDs.size)
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    enabled = true
    sampling = true
    sampler.start()
  }

  /** Detach, after letting the asynchronous listener bus drain. */
  def remove(): Unit = {
    Thread.sleep(1500)
    sampling = false
    enabled = false
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Serving jobs carry no op id: the JDK server runs every request on one
    * dispatcher thread, so the request in service when a job ran is the
    * earliest-ending op that started before the job and ended after it.
    * Valid only while that dispatcher is serial. */
  def attributeByTime(): Unit = {
    val all = spans.asScala.toSeq
    val ops = all.filter(_.layer == "op").sortBy(_.end)
    val fixed = all.map {
      case j if j.layer == "job" && j.parent.isEmpty =>
        ops.find(o => o.start <= j.start && o.end >= j.end)
          .map(o => j.copy(parent = o.id)).getOrElse(j)
      case s => s
    }
    spans.clear(); fixed.foreach(spans.add)
  }

  /** Generic per-layer metrics of the traced window, per op. */
  def layerMetrics(w: Window): Seq[(String, Double)] = {
    attributeByTime()
    val ops = w.ops.max(1L).toDouble
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    def jobsUnder(id: String): Seq[Span] = kids.getOrElse(id, Nil).flatMap {
      s => if (s.layer == "job") Seq(s) else jobsUnder(s.id)
    }
    def self(s: Span): Long = (s.end - s.start) -
      Stats.covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)),
        s.start, s.end)
    val selfByLayer = Seq("op", "trigger", "sink", "job", "stage").map { l =>
      s"self.${l}_ms_per_op" -> all.filter(_.layer == l).map(self).sum / ops
    }
    val driverSelf = all.filter(_.layer == "op").map { o =>
      (o.end - o.start) - Stats.covered(
        jobsUnder(o.id).map(j => (j.start, j.end)), o.start, o.end)
    }.sum / ops
    val unattributed = all.count(s => s.layer == "job" && s.parent.isEmpty)
    if (unattributed > 0)
      notes += s"$unattributed jobs ran outside any op (background work)"
    lock.synchronized {
      val pinnedMean = if (pinned.isEmpty) 0.0 else pinned.sum / pinned.size
      Seq(
        "operators.jobs_per_op" -> c("jobs") / ops,
        "operators.stages_per_op" -> c("stages") / ops,
        "operators.tasks_per_op" -> c("tasks") / ops,
        "operators.executor_cpu_ms_per_op" -> c("cpu_ns") / 1e6 / ops,
        "operators.executor_run_ms_per_op" -> c("run_ms") / ops,
        "operators.jvm_gc_ms_per_op" -> c("gc_ms") / ops,
        "operators.spill_bytes_per_op" -> c("spill") / ops,
        "exchange.shuffles_per_op" -> c("shuffles") / ops,
        "exchange.broadcasts_per_op" -> c("broadcasts") / ops,
        "exchange.shuffle_write_bytes_per_op" -> c("sh_w") / ops,
        "exchange.shuffle_read_bytes_per_op" -> c("sh_r") / ops,
        "tables.input_bytes_per_op" -> c("in_b") / ops,
        "tables.input_rows_per_op" -> c("in_r") / ops,
        "tables.files_read_per_op" -> c("files") / ops,
        "driver.plan_ms_per_op" -> c("plan_ms") / ops,
        "driver.self_ms_per_op" -> driverSelf,
        "caches.pinned_bytes_after_op" -> pinnedMean,
        "caches.persisted_rdds_peak" -> persistedPeak.toDouble
      ) ++ selfByLayer
    }
  }

  def writeSpans(f: File): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      pw.println(Json.render(Map("id" -> s.id, "layer" -> s.layer,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent)))
    } finally pw.close()
  }
}

object Trace {
  val RowsPrefix = "perfbench_rows_"
  /** Name of the observation counting the rows trigger `batch` of stream
    * query `q` produced. */
  def rowsObservation(q: String, batch: Long): String = s"$RowsPrefix${q}_$batch"
}
