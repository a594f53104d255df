package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** One CDC change for the streaming SCD2 twin. */
case class Scd2Change(key: Long, ts: java.sql.Timestamp, seq: Long,
    attr: Option[Long])

/** An OPENED SCD2 version (append-mode emission: `valid_to` of a
  * version is the NEXT version's `valid_from`, derivable at read time
  * with one lead window — an appended row can't be retro-closed). */
case class Scd2Version(key: Long, version: Long, attr: Option[Long],
    valid_from_us: Long)

/** Per-key SCD2 state: the open version's number and value, plus the
  * last APPLIED change's (ts, seq) high-watermark — every processed
  * change advances it (repeats too), so a change regressing below it
  * is detectably late rather than silently folded against newer
  * state.
  *
  * STATE-SCHEMA COMPATIBILITY: the (lastTsUs, lastSeq) fields were
  * added to this case class after its first release, which changes
  * the flatMapGroupsWithState state encoder schema. A deployed
  * `scd2Stream` query CANNOT restart from a checkpoint written
  * before that change — Spark's state-schema validation rejects it
  * (by design: silently misreading old state would corrupt version
  * numbering). Restart such a query with a FRESH checkpoint
  * directory and replay the CDC log from the source (the fold is
  * deterministic, so a replay reproduces the same version history). */
case class Scd2State(version: Long, attr: Option[Long],
    lastTsUs: Long, lastSeq: Long)

/** CDC ingest & routing — Structured Streaming re-expression of the
  * reference's `ods_BaseDBApp` (/root/reference SparkSreaming_realtime
  * .../app/ods_BaseDBApp.scala:57-115): Maxwell-style envelopes are
  * parsed (T1), op types normalized with unknown ops silently dropped
  * (T6, :88-98), then rows route to per-table/per-op fact sinks or to a
  * dimension upsert store according to a config relation (T7, :100-115;
  * the reference read the fact/dim sets from Redis and broadcast them).
  */
object CdcRouter {

  /** Maxwell envelope: {database, table, type, ts, data{...}} —
    * `data` kept as raw JSON string for schema-per-table parsing. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("ts", LongType),
    StructField("data", StringType)))

  def parse(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), envelopeSchema).as("m")).select("m.*")

  /** T6: normalize Maxwell op names; anything unknown → null → dropped
    * (bootstrap-insert counts as insert, :91-96). */
  def normalizeOps(parsed: DataFrame): DataFrame =
    parsed.withColumn("op",
        when(col("type") === "insert", "insert")
          .when(col("type") === "bootstrap-insert", "insert")
          .when(col("type") === "update", "update")
          .when(col("type") === "delete", "delete")
          .otherwise(lit(null).cast(StringType)))
      .where(col("op").isNotNull)
      .drop("type")

  /** Typed payload parse for one routed table: the `data` JSON decoded
    * with that table's schema into a typed Dataset — the reference's
    * `JSON.parseObject(value, classOf[OrderInfo])` step downstream of
    * routing (app/dwd_OrderApp.scala:78-93). */
  def parseTable[T <: Product : org.apache.spark.sql.Encoder](
      normalized: DataFrame, table: String,
      schema: StructType): org.apache.spark.sql.Dataset[T] =
    normalized.where(col("table") === table)
      .select(from_json(col("data"), schema).as("d"))
      .select("d.*")
      .as[T]

  /** T7 + F5: attach routing (FACT topic name / DIM) from a config
    * relation (table_name, route). Facts get their per-table/per-op
    * topic `DWD_<TABLE>_<OP>`; unknown tables are dropped. */
  def route(normalized: DataFrame, config: DataFrame): DataFrame =
    normalized
      .join(broadcast(config), normalized("table") === config("table_name"))
      .drop("table_name")
      .withColumn("topic",
        when(col("route") === "FACT",
          concat(lit("DWD_"), upper(col("table")), lit("_"), upper(col("op"))))
          .otherwise(lit(null).cast(StringType)))

  /** foreachBatch fan-out: facts land as one epoch of the
    * `factDir/<topic>` [[EpochStore]], OVERWRITTEN (K1) — a replayed
    * epoch rewrites its own directory instead of appending duplicates,
    * the same idempotence contract as `LogDemux.demuxEachBatch`. Dims
    * upsert into `dimDir/<table>/bucket=<crc32(id) % numBuckets>` keyed
    * by data.id — last write wins (K3: the reference's
    * `SET DIM:$TABLE:$id`, :109-115). The upsert is PARTITION-SCOPED
    * ([[PartitionedUpsert]]): only the hash buckets whose keys appear in
    * the batch are rewritten, so a small CDC epoch touches a few
    * buckets, not the whole dim table.
    *
    * Dim replay caveat: the upsert is idempotent per key (a replayed
    * epoch re-applies the same last-wins SETs), which matches the
    * reference's Redis SET semantics exactly. */
  def routeEachBatch(factDir: String, dimDir: String, config: DataFrame,
      numBuckets: Int = 16)(batch: DataFrame, epochId: Long): Unit = {
    val routed = route(normalizeOps(parse(batch)), config).persist()
    try {
      // one job computes the cached batch and names every sink it feeds
      val sinks = routed.select("route", "topic", "table").distinct()
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      val topics = sinks.collect { case ("FACT", t, _) => t }.distinct
      val tables = sinks.collect { case ("DIM", _, t) => t }.distinct
      topics.foreach { t =>
        EpochStore(batch.sparkSession, s"$factDir/$t", "cdc fact sink")
          .write(epochId, routed.where(col("topic") === t)
            .drop("topic", "route"))
      }
      val dims = routed.where(col("route") === "DIM")
        .withColumn("id", get_json_object(col("data"), "$.id"))
      tables.foreach { t =>
        // within-batch last-wins BEFORE the upsert (PartitionedUpsert's
        // contract is one row per key per batch): an epoch carrying
        // insert+update for the same id must land as ONE row, like
        // consecutive Redis SETs — keep the row with the highest CDC ts,
        // ties broken by arrival order (monotonically_increasing_id
        // preserves within-partition order, which is Maxwell's per-key
        // publish order)
        val seqW = Window.partitionBy("id")
          .orderBy(col("ts").desc, col("__seq").desc)
        val incoming = dims.where(col("table") === t)
          .select("id", "data", "ts")
          .withColumn("__seq", monotonically_increasing_id())
          .withColumn("__rn", row_number().over(seqW))
          .where(col("__rn") === 1).drop("__rn", "__seq")
          .withColumn("bucket", pmod(crc32(col("id")), lit(numBuckets)))
        PartitionedUpsert.upsert(incoming, s"$dimDir/$t", "bucket", Seq("id"))
      }
    } finally routed.unpersist()
  }

  /** STREAMING SCD Type-2 twin of `Warehouse.scd2History`: keyed state
    * holds each dimension key's open version; every batch folds its
    * changes in (ts, seq) order and emits one [[Scd2Version]] per
    * TRANSITION (null-safe value comparison — the batch operator's
    * rule). Repeats emit nothing; state carries the open value across
    * batches, so a repeat arriving epochs later is still suppressed.
    *
    * Input contract: per-key changes must arrive in (ts, seq) order
    * ACROSS batches (within a batch any order is fine — the fold
    * sorts). That is exactly a CDC log's delivery contract (Maxwell
    * publishes a row's changes to one Kafka partition in commit order,
    * the reference's §1.4 consumption model) — NOT an extra assumption.
    * The contract is ENFORCED, not just documented: the state carries
    * the last-applied (ts, seq) high-watermark, and a change arriving
    * at or below it is DROPPED and counted on `lateDrops` (a
    * violation would otherwise fold old values against newer state
    * and corrupt version numbering with no signal — drop-with-metric,
    * the monitoring-not-corruption choice; a duplicate replay of the
    * newest change lands here too, harmlessly).
    *
    * Emission is append-mode: a version row is immutable once emitted;
    * `valid_to`/`is_current` derive at read time with one lead window
    * over (key, version) — the same relation the batch operator emits
    * eagerly.
    *
    * `lateDrops` is an AT-LEAST-ONCE metric: accumulators updated
    * inside a transformation are re-applied on task retry or
    * speculative re-execution, so the counter can overstate (never
    * understate) the true drop count. It is a monitoring signal
    * ("nonzero ⇒ the delivery contract was violated, investigate"),
    * not an exactly-once ledger — the EMITTED ROWS are exact either
    * way, because the state-store commit is transactional per epoch. */
  def scd2Stream(changes: Dataset[Scd2Change],
      lateDrops: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[Scd2Version] = {
    import changes.sparkSession.implicits._
    def micros(t: java.sql.Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + (t.getNanos / 1000L)
    changes.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[Scd2Change], state: GroupState[Scd2State]) => {
          val sorted = it.toSeq.sortBy(c => (micros(c.ts), c.seq))
          var cur = state.getOption
          val out = Seq.newBuilder[Scd2Version]
          sorted.foreach { c =>
            val tsUs = micros(c.ts)
            val late = cur.exists(s => tsUs < s.lastTsUs ||
              (tsUs == s.lastTsUs && c.seq <= s.lastSeq))
            if (late) lateDrops.foreach(_.add(1L))
            else if (!cur.exists(_.attr == c.attr)) {
              val v = cur.map(_.version + 1L).getOrElse(1L)
              cur = Some(Scd2State(v, c.attr, tsUs, c.seq))
              out += Scd2Version(key, v, c.attr, tsUs)
            } else
              // repeat: no emission, but the watermark still advances
              cur = cur.map(_.copy(lastTsUs = tsUs, lastSeq = c.seq))
          }
          cur.foreach(state.update)
          out.result().iterator
        })
  }

  /** Read a dim table back (bucket layout column dropped). Call INSIDE
    * foreachBatch for stream enrichment: a fresh read per epoch re-lists
    * the swapped partition dirs, so updates applied by [[routeEachBatch]]
    * between epochs are visible — a DataFrame captured once at stream
    * start would pin the initial file listing. */
  def readDim(spark: org.apache.spark.sql.SparkSession, dimDir: String,
      table: String): DataFrame =
    spark.read.parquet(s"$dimDir/$table").drop("bucket")
}
