package perfbench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.streaming.{CdcRouter, DauStream, LogDemux, OrderJoinStream}

final case class OrderInfo(order_id: Long, user_id: Long, order_status: String,
    total_amount: Double, ts: Timestamp)
final case class OrderDetail(detail_id: Long, detail_order_id: Long,
    sku_id: Long, order_price: Double, sku_num: Long, ts: Timestamp)

/** stream_ingest: the reference's four streaming apps as Structured
  * Streaming queries in one session, fed by an open loop. One generator
  * thread adds one simulated hour of traffic (a tick) to the in-memory
  * sources every `periodMs`, in `deliveries` equal slices spread evenly
  * over the period (as a log shipper delivers an hour's traffic), whether
  * or not the queries kept up. Each query runs a processing-time trigger
  * every `periodMs` and takes every slice that has arrived since its last
  * one.
  *
  *  - log_demux:  raw log JSON → LogDemux.demuxEachBatch
  *  - dau:        pages → DauStream.firstVisitsEvicting(entry pages, mid)
  *                → idempotentSinkEachBatch(dt, mid)
  *  - cdc_router: Maxwell envelopes → CdcRouter.routeEachBatch
  *  - order_join: order_info ⋈ order_detail (OrderJoinStream.join, toWide)
  *                → idempotent sink keyed on detail_id
  *
  * An op is one input record committed by every query that consumes it.
  * Latency is one sample per delivery and input kind (logs, CDC
  * envelopes, order rows): from the delivery's due time to the commit of
  * the last query that consumes that kind. */
final class StreamIngest(inputs: String, work: String, periodMs: Long,
    deliveries: Int, warmTicks: Int) extends Workload {
  val tailPct = 80
  val Queries = Seq("log_demux", "dau", "cdc_router", "order_join")
  /** Input kind → the queries that consume it. */
  private val consumers = Map(
    "logs" -> Seq("log_demux", "dau"), "cdc" -> Seq("cdc_router"),
    "orders" -> Seq("order_join"))
  /** Queries with a state store (the others report no state metrics). */
  val Stateful = Set("dau", "order_join")
  /** Hash buckets of the keyed upsert sinks (dims, order wide). Each
    * touched bucket costs a read-merge-write-swap round per trigger; at
    * the default 16 the four apps cannot keep up with any tick period a
    * short run can measure on four cores. */
  val SinkBuckets = 1

  private var spark: SparkSession = _
  /** The generated traffic, indexed by delivery (tick * deliveries + slice). */
  private var logs: Array[Seq[String]] = _
  private var cdc: Array[Seq[String]] = _
  private var infos: Array[Seq[OrderInfo]] = _
  private var details: Array[Seq[OrderDetail]] = _

  private var run = 0
  private def dir = s"$work/stream/run$run"
  // one source per consuming query: a MemoryStream trims its buffer on
  // each reader's commit, so two queries cannot share one
  private var logSrc: MemoryStream[String] = _
  private var pageSrc: MemoryStream[String] = _
  private var cdcSrc: MemoryStream[String] = _
  private var infoSrc: MemoryStream[OrderInfo] = _
  private var detailSrc: MemoryStream[OrderDetail] = _
  private var queries: Map[String, StreamingQuery] = Map.empty
  private var fed = 0
  private val intervalMs = periodMs.toDouble / deliveries

  /** Per query: every progress seen, with its commit time (epoch ms). */
  private val progress = mutable.Map.empty[String, mutable.Buffer[(StreamingQueryProgress, Long)]]
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val done = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).longValue
      progress.synchronized {
        progress.getOrElseUpdate(p.name, mutable.Buffer.empty) += (p -> done)
      }
    }
  }

  /** Highest delivery a progress event covers on every source of its
    * query (a MemoryStream's offset counts the `addData` calls). */
  private def endOffset(p: StreamingQueryProgress): Long =
    p.sources.map(s => Option(s.endOffset).map(_.trim.toLong).getOrElse(-1L)).min
  private def startOffset(p: StreamingQueryProgress): Long =
    p.sources.map(s => Option(s.startOffset).map(_.trim.toLong).getOrElse(-1L)).min

  /** Commit time of delivery `k` on query `q`, if committed. */
  private def committed(q: String, k: Int): Option[Long] =
    progress.synchronized {
      progress.getOrElse(q, Nil).collect {
        case (p, t) if endOffset(p) >= k => t
      }.minOption
    }

  @volatile private var trace: Option[Trace] = None
  final case class SinkCall(q: String, batch: Long, start: Long, end: Long)
  private val sinkCalls = new java.util.concurrent.ConcurrentLinkedQueue[SinkCall]()

  /** Traced runs wrap each sink: a span, a job group carrying the op id
    * (restored afterwards — the stream's own group cancels its jobs), and
    * an observation counting the rows the trigger produced, reported by
    * whichever of the sink's own actions scans the batch. Nothing in the
    * wrapper runs a job; files and bytes written come from the write
    * commands' metrics (see [[Trace.written]]). */
  private def sink(q: String)(f: (DataFrame, Long) => Unit)
      : (DataFrame, Long) => Unit = (batch, id) => trace match {
    case None => f(batch, id)
    case Some(tr) =>
      val sc = batch.sparkSession.sparkContext
      val keys = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel")
      val saved = keys.map(k => k -> sc.getLocalProperty(k))
      val group = s"sink:$q:$id"
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = tr.now()
      try f(batch.observe(Trace.rowsObservation(q, id), count(lit(1))), id) finally {
        val t1 = tr.now()
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        tr.add(Span(group, "sink", t0, t1, s"trigger:$q:$id"))
        tr.afterOp()
        sinkCalls.add(SinkCall(q, id, t0, t1))
      }
  }

  /** Output roots of each query's sink. */
  private def outputs(q: String): Seq[String] = q match {
    case "log_demux"  => Seq(s"$dir/demux")
    case "dau"        => Seq(s"$dir/dau")
    case "cdc_router" => Seq(s"$dir/fact", s"$dir/dim")
    case "order_join" => Seq(s"$dir/order_wide")
  }

  /** Each tick's rows, split into `deliveries` contiguous slices. */
  private def readTicks(spark: SparkSession): Unit = {
    def byTick[T](df: DataFrame)(f: Row => T): Array[Seq[T]] = {
      val rows = df.collect()
      val n = rows.map(_.getInt(0)).max + 1
      val out = Array.fill(n)(mutable.Buffer.empty[T])
      rows.foreach(r => out(r.getInt(0)) += f(r))
      out.flatMap { t =>
        (0 until deliveries).map(j =>
          t.slice(j * t.size / deliveries, (j + 1) * t.size / deliveries).toSeq)
      }
    }
    val rd = (n: String) => spark.read.parquet(s"$inputs/stream/$n.parquet")
    logs = byTick(rd("logs"))(_.getString(1))
    cdc = byTick(rd("cdc"))(_.getString(1))
    infos = byTick(rd("order_info"))(r => OrderInfo(r.getLong(1), r.getLong(2),
      r.getString(3), r.getDouble(4), r.getTimestamp(5)))
    details = byTick(rd("order_detail"))(r => OrderDetail(r.getLong(1),
      r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5), r.getTimestamp(6)))
  }

  def start(s: SparkSession): Unit = {
    spark = s
    if (logs == null) {
      val t0 = System.nanoTime()
      readTicks(s)
      untimedNs += System.nanoTime() - t0
    }
    run += 1
    fed = 0
    progress.synchronized(progress.clear())
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    logSrc = MemoryStream[String]
    pageSrc = MemoryStream[String]
    cdcSrc = MemoryStream[String]
    infoSrc = MemoryStream[OrderInfo]
    detailSrc = MemoryStream[OrderDetail]
    s.streams.addListener(listener)
    val config = Seq(("order_info", "FACT"), ("order_detail", "FACT"),
      ("user_info", "DIM"), ("base_province", "DIM")).toDF("table_name", "route")
    val logDf = logSrc.toDF().toDF("value")
    val pages = LogDemux.pages(LogDemux.parse(pageSrc.toDF().toDF("value")))
      .withColumn("ts", timestamp_millis(col("ts")))
    def go(name: String, df: DataFrame)(f: (DataFrame, Long) => Unit) =
      name -> df.writeStream.queryName(name)
        .option("checkpointLocation", s"$dir/cp/$name")
        .trigger(Trigger.ProcessingTime(periodMs))
        .foreachBatch(sink(name)(f)).start()
    queries = Seq(
      go("log_demux", logDf)(LogDemux.demuxEachBatch(s"$dir/demux")),
      go("dau", DauStream.firstVisitsEvicting(pages, key = "mid",
          entryFilter = Some(col("last_page_id").isNull)))(
        DauStream.idempotentSinkEachBatch(s"$dir/dau", Seq("dt", "mid"))),
      go("cdc_router", cdcSrc.toDF().toDF("value"))(
        CdcRouter.routeEachBatch(s"$dir/fact", s"$dir/dim", config, SinkBuckets)),
      // a redelivered detail re-joins its header; the keyed sink needs
      // one row per key within a batch
      go("order_join", OrderJoinStream.toWide(
          OrderJoinStream.join(infoSrc.toDF(), detailSrc.toDF())))(
        (b, id) => DauStream.idempotentSinkEachBatch(s"$dir/order_wide",
          Seq("detail_id"), SinkBuckets)(b.dropDuplicates("detail_id"), id))
    ).toMap
  }

  def stop(): Unit = {
    queries.values.foreach(q => scala.util.Try(q.stop()))
    if (spark != null) spark.streams.removeListener(listener)
    queries = Map.empty
  }

  private def feed(): Unit = {
    val k = fed
    logSrc.addData(logs(k))
    pageSrc.addData(logs(k))
    cdcSrc.addData(cdc(k))
    infoSrc.addData(infos(k))
    detailSrc.addData(details(k))
    fed += 1
  }
  private def records(k: Int): Map[String, Long] = Map(
    "logs" -> logs(k).size.toLong, "cdc" -> cdc(k).size.toLong,
    "orders" -> (infos(k).size + details(k).size).toLong)

  private def due(t0: Long, i: Int): Long = t0 + math.round(i * intervalMs)
  /** When the delivery after the last one fed is due. */
  private var nextDue = 0L

  /** Feed `n` deliveries on the open-loop schedule starting at `t0`;
    * returns how late (ms) each was added. */
  private def feedOnSchedule(n: Int, t0: Long): Seq[Double] = {
    nextDue = due(t0, n)
    (0 until n).map { i =>
      val wait = due(t0, i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val late = (System.currentTimeMillis() - due(t0, i)).toDouble
      feed()
      late
    }
  }

  /** `warmTicks` ticks on the open-loop schedule. The timed window
    * continues the same schedule without a pause, so it starts with the
    * backlog an open loop carries, not with idle queries. */
  def warmup(): Unit = feedOnSchedule(warmTicks * deliveries, aligned(System.currentTimeMillis()))

  /** The first delivery slot at or after `now`. Slots sit half an interval
    * off the trigger grid (processing-time triggers fire at multiples of
    * the period since the epoch), so a delivery never races a trigger. */
  private def aligned(now: Long): Long = {
    val grid = (now / periodMs) * periodMs + math.round(intervalMs / 2)
    grid + math.ceil((now - grid).max(0L) / intervalMs).toLong * math.round(intervalMs)
  }

  private val opsByKind = mutable.Map.empty[String, Long]
  private val lateMs = mutable.Buffer.empty[Double]
  private var untraced: Range = 0 until 0
  private var traced: Range = 0 until 0
  /** Median latency of the untraced window's first and second half of
    * deliveries: equal when the queries keep up, rising when a backlog
    * grows. */
  private var halvesMs = (0.0, 0.0)

  def window(seconds: Double, tr: Option[Trace]): Window = {
    val n = math.ceil(seconds * 1000 / intervalMs).toInt
    val first = fed
    require(first + n <= logs.length,
      s"inputs hold ${logs.length} deliveries, need ${first + n}")
    tr.foreach { t =>
      queries.foreach { case (name, q) => t.queryNames.put(q.id.toString, name) }
    }
    trace = tr
    val now = System.currentTimeMillis()
    val t0 = if (nextDue >= now) nextDue else aligned(now)
    val dues = (0 until n).map(due(t0, _))
    val late = feedOnSchedule(n, t0)
    val last = first + n - 1
    val deadline = System.currentTimeMillis() + 60000
    while (Queries.exists(q => committed(q, last).isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    trace = None
    val errors = queries.collect {
      case (name, q) if q.exception.isDefined => s"$name: ${q.exception.get.getMessage}"
    }.toSeq
    var ops, failed = 0L
    var lastCommit = t0
    val lat = mutable.Buffer.empty[Double]
    val byHalf = Seq(mutable.Buffer.empty[Double], mutable.Buffer.empty[Double])
    val kinds = mutable.Map.empty[String, Long]
    (0 until n).foreach { i =>
      val k = first + i
      records(k).foreach { case (kind, cnt) =>
        val commits = consumers(kind).map(committed(_, k))
        if (commits.forall(_.isDefined)) {
          val c = commits.flatten.max
          lat += (c - dues(i)).toDouble
          byHalf(if (2 * i < n) 0 else 1) += (c - dues(i)).toDouble
          lastCommit = math.max(lastCommit, c)
          ops += cnt
          kinds(kind) = kinds.getOrElse(kind, 0L) + cnt
        } else failed += cnt
      }
    }
    if (tr.isEmpty) {
      opsByKind ++= kinds
      untraced = first to last
      halvesMs = (Stats.median(byHalf(0)), Stats.median(byHalf(1)))
    } else {
      traced = first to last
      lateMs ++= late
      tr.foreach { t =>
        (first to last).foreach { k =>
          val ends = Queries.flatMap(committed(_, k))
          t.add(Span(s"delivery:$k", "op", dues(k - first),
            if (ends.isEmpty) dues(k - first) else ends.max, ""))
        }
        progress.synchronized(progress.toSeq).foreach { case (q, ps) =>
          ps.foreach { case (p, done) =>
            if (traced.contains(endOffset(p).toInt))
              t.add(Span(s"trigger:$q:${p.batchId}", "trigger",
                done - p.durationMs.getOrDefault("triggerExecution", 0L).longValue,
                done, s"delivery:${endOffset(p)}"))
          }
        }
      }
    }
    val end = math.max(lastCommit, due(t0, n))
    val uncommitted =
      if (failed == 0) Nil
      else Seq(s"$failed records uncommitted 60 s after their window's last delivery")
    new Window(ops + failed, (end - t0) / 1000.0, lat.toArray, failed,
      errors ++ uncommitted)
  }

  // --- output checks ----------------------------------------------------

  /** Multiset equality of the sink's rows and the twin's, compared on the
    * driver (both sides are small). */
  private def sameRows(name: String, got: DataFrame, want: DataFrame): Option[String] = {
    def bag(df: DataFrame) = df.collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val (g, w) = (bag(got), bag(want))
    if (g == w) None
    else Some(s"$name: sink ${g.values.sum} rows, twin ${w.values.sum} rows, " +
      s"${(w.keySet -- g.keySet).size} missing, ${(g.keySet -- w.keySet).size} extra")
  }

  /** Batch twins over every delivery fed: DAU = distinct (dt, mid) of entry
    * pages; order wide = the ±24 h inner join; CDC facts = row counts per
    * (table, op); dims = last-wins values; demux = rows per branch. */
  def check(): Checks = {
    val session = spark
    import session.implicits._
    val n = fed
    val allLogs = spark.createDataset((0 until n).flatMap(logs(_))).toDF("value")
    val parsed = LogDemux.parse(allLogs).persist()
    val dau = () => {
      val want = LogDemux.pages(parsed).where(col("last_page_id").isNull)
        .select(date_format(timestamp_millis(col("ts")), "yyyy-MM-dd").as("dt"), col("mid"))
        .distinct()
      sameRows("dau", spark.read.parquet(s"$dir/dau").select("dt", "mid"), want)
        .map("logs" -> _).toSeq
    }
    val demux = () => LogDemux.branches(parsed).toSeq.flatMap { case (topic, df) =>
      val want = df.count()
      val path = new File(s"$dir/demux/$topic")
      val got = if (path.exists) spark.read.parquet(path.getPath).count() else 0L
      if (got != want) Some("logs" -> s"demux $topic: $got rows, twin $want") else None
    }
    val orders = () => {
      val info = spark.createDataset((0 until n).flatMap(infos(_))).toDF()
      val detail = spark.createDataset((0 until n).flatMap(details(_))).toDF()
        .dropDuplicates("detail_id").withColumnRenamed("ts", "dts")
      val want = info.join(detail, info("order_id") === detail("detail_order_id") &&
          abs(unix_timestamp(col("dts")) - unix_timestamp(col("ts"))) <= 24 * 3600)
        .select(col("order_id"), col("detail_id"), col("sku_id"),
          (col("order_price") * col("sku_num")).as("split_total_amount"),
          date_format(col("ts"), "yyyy-MM-dd").as("create_date"))
      sameRows("order_wide", spark.read.parquet(s"$dir/order_wide")
        .select("order_id", "detail_id", "sku_id", "split_total_amount", "create_date"),
        want).map("orders" -> _).toSeq
    }
    val cdcChecks = () => checkCdc(n).map("cdc" -> _)
    // independent twins run concurrently: checks are outside the windows
    val problems = Seq(dau, demux, orders, cdcChecks).par.flatMap(_()).seq
    parsed.unpersist()
    Checks(problems.map { case (k, p) => s"$k: $p" },
      _ => problems.map(_._1).distinct.map(opsByKind.getOrElse(_, 0L)).sum)
  }

  private def checkCdc(n: Int): Seq[String] = {
    val json = new ObjectMapper()
    val op = Map("insert" -> "insert", "bootstrap-insert" -> "insert",
      "update" -> "update", "delete" -> "delete")
    val facts = mutable.Map.empty[String, Long]
    val dims = mutable.LinkedHashMap.empty[(String, String), String]
    (0 until n).foreach(k => cdc(k).foreach { s =>
      val e = json.readTree(s)
      val table = e.get("table").asText
      op.get(e.get("type").asText).foreach { o =>
        if (table == "order_info" || table == "order_detail") {
          val t = s"DWD_${table.toUpperCase}_${o.toUpperCase}"
          facts(t) = facts.getOrElse(t, 0L) + 1
        } else if (table == "user_info" || table == "base_province") {
          val data = e.get("data").asText
          dims((table, json.readTree(data).get("id").asText)) = data
        }
      }
    })
    val problems = mutable.Buffer.empty[String]
    facts.foreach { case (t, want) =>
      val got = spark.read.parquet(s"$dir/fact/$t").count()
      if (got != want) problems += s"fact $t: $got rows, twin $want"
    }
    Seq("user_info", "base_province").foreach { t =>
      val got = CdcRouter.readDim(spark, s"$dir/dim", t).select("id", "data")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      val want = dims.collect { case ((tt, id), d) if tt == t => id -> d }.toMap
      if (got != want) problems += s"dim $t: ${got.size} keys stored, " +
        s"${want.size} expected, ${(want.toSet -- got.toSet).size} differ"
    }
    problems.toSeq
  }

  // --- per-layer metrics --------------------------------------------------

  /** streaming.* come from the untraced window's progress events (the
    * listener collects them in every window and adds no work to a
    * trigger); sink.* from the traced window's sink wrappers and write
    * commands. */
  def layerMetrics(w: Window, tr: Trace): Seq[(String, Double)] = {
    val ps = progress.synchronized(progress.toMap.map { case (q, b) => q -> b.toSeq })
    def dur(p: StreamingQueryProgress, k: String) =
      p.durationMs.getOrDefault(k, 0L).doubleValue
    val streaming = Queries.flatMap { q =>
      val in = ps.getOrElse(q, Nil).map(_._1)
        .filter(p => untraced.contains(endOffset(p).toInt))
      val n = math.max(1, in.size).toDouble
      val ops = in.map(_.stateOperators.toSeq)
      (Seq(
        "trigger_ms_p50" -> Stats.median(in.map(dur(_, "triggerExecution"))),
        "add_batch_ms_p50" -> Stats.median(in.map(dur(_, "addBatch"))),
        "query_planning_ms_p50" -> Stats.median(in.map(dur(_, "queryPlanning"))),
        "wal_commit_ms_p50" -> Stats.median(in.map(dur(_, "walCommit"))),
        "commit_offsets_ms_p50" -> Stats.median(in.map(dur(_, "commitOffsets"))),
        "input_rows_per_trigger" -> in.map(_.numInputRows.toDouble).sum / n,
        "ticks_per_trigger" ->
          in.map(p => (endOffset(p) - startOffset(p)).toDouble).sum / n / deliveries
      ) ++ (if (!Stateful(q)) Nil else Seq(
        "state_rows" -> ops.lastOption.map(_.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
        "state_bytes" -> ops.lastOption.map(_.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
        "state_commit_ms_p50" -> Stats.median(ops.map(_.map(_.commitTimeMs).sum.toDouble)),
        "rows_dropped_by_watermark" -> ops.map(_.map(_.numRowsDroppedByWatermark).sum).sum.toDouble
      ))).map { case (k, v) => s"streaming.$q.$k" -> v }
    }
    val calls = sinkCalls.asScala.toSeq
    val sinks = Queries.flatMap { q =>
      val cs = calls.filter(_.q == q)
      val n = math.max(1, cs.size).toDouble
      val (files, bytes, rows) = tr.written(outputs(q))
      val produced = cs.map(c => tr.observedRows(Trace.rowsObservation(q, c.batch))).sum
      Seq(
        "write_ms_p50" -> Stats.median(cs.map(c => (c.end - c.start).toDouble)),
        "bytes_written_per_trigger" -> bytes / n,
        "files_written_per_trigger" -> files / n,
        "write_amplification" -> (if (produced > 0) rows / produced else 0.0)
      ).map { case (k, v) => s"sink.$q.$k" -> v }
    }
    streaming ++ sinks :+ ("bench.generator_late_ms_p99" -> Stats.pct(lateMs, 99))
  }

  override def resultExtras: Seq[(String, Any)] = {
    val ps = progress.synchronized(progress.toMap.map { case (q, b) => q -> b.map(_._1).toSeq })
    val triggerMs = Queries.map { q =>
      q -> Stats.median(ps.getOrElse(q, Nil).filter(p => untraced.contains(endOffset(p).toInt))
        .map(_.durationMs.getOrDefault("triggerExecution", 0L).doubleValue))
    }.toMap
    Seq("latency_halves_ms" -> Seq(halvesMs._1, halvesMs._2),
      "trigger_ms_p50" -> triggerMs)
  }

  override def traceNotes: Seq[String] = Seq(
    "sink.*.write_amplification counts rows: rows the sink's write commands " +
      "wrote over rows the trigger produced (PartitionedUpsert rewrites " +
      "whole slices)",
    "streaming.* are taken from the untraced window's progress events")
}
