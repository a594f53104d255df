package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming DAU pipeline — Structured Streaming re-expression of the
  * reference's `dwd_DauApp` (/root/reference SparkSreaming_realtime
  * .../app/dwd_DauApp.scala:40-204):
  *
  *  - session-entry filter (T8, :74-76)           → `filter`
  *  - per-day distinct on mid via Redis SADD (J5, :86-111)
  *       → `withWatermark(..).dropDuplicatesWithinWatermark(key, dt)`
  *  - dim enrichment via Redis GET (J1/J2, :115-180)
  *       → stream-static broadcast joins
  *  - daily ES index, doc id = mid (K2, :186-204)
  *       → keyed idempotent upsert into dt-partitioned parquet
  *  - `revertState` ES read-back (S4, :209-233) → obsolete: the dedup
  *    state lives in the checkpoint and survives restart.
  *
  * State sizing at scale: one compact row per active user per day; the
  * 25 h watermark (> the 24 h reference TTL) evicts a finished day's
  * state.
  */
object DauStream {

  /** First event per (day, key): the streaming per-day distinct. Input
    * must carry an event-time column `ts` (TimestampType).
    * `dropDuplicatesWithinWatermark` dedups rows whose event times fall
    * within the watermark delay of the first arrival and EVICTS expired
    * keys (a plain `dropDuplicates(key, dt)` would keep one row per
    * (user, day) forever). With a 25 h delay and a day-keyed composite
    * key this matches the reference's per-day distinct (same-day rows
    * are always < 24 h apart); an extremely late same-day duplicate
    * (> 25 h) would re-emit — absorbed by the keyed idempotent sink. */
  def firstVisitsEvicting(events: DataFrame, key: String = "user_id",
      entryFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val filtered = entryFilter.map(events.where).getOrElse(events)
    filtered
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("hr", date_format(col("ts"), "HH"))
      .withWatermark("ts", "25 hours")
      .dropDuplicatesWithinWatermark(key, "dt")
  }

  /** Stream-static dim enrichment (J1/J2): left-join the (small) dim
    * table, broadcast so the stream never shuffles. */
  def enrich(firstVisits: DataFrame, dims: DataFrame,
      joinKey: String): DataFrame =
    firstVisits.join(broadcast(dims), Seq(joinKey), "left")

  /** K2 idempotent sink: last-wins upsert keyed on `keys` — the Spark-
    * native form of the reference's "ES doc id = mid" dedup-on-write
    * (util/MyEsUtils.scala:45-48). A replayed epoch overwrites the same
    * keys instead of duplicating them.
    *
    * PARTITION-SCOPED (see [[PartitionedUpsert]]): only the partitions
    * present in the batch are rewritten — `dt` directories when `dt` is
    * one of the merge KEYS (one day's slice per epoch), else `numBuckets`
    * crc32 hash buckets of the key columns. Untouched partitions are not
    * even read. The branch is decided by `keys`, not by what columns the
    * batch happens to carry: dt-scoped merging is only last-wins-correct
    * when dt is part of the logical key (otherwise the same key under two
    * dates would silently yield two rows). */
  def idempotentSinkEachBatch(outDir: String, keys: Seq[String],
      numBuckets: Int = 16)(batch: DataFrame, epochId: Long): Unit =
    if (keys.contains("dt"))
      PartitionedUpsert.upsert(batch, outDir, "dt", keys.filterNot(_ == "dt"))
    else
      PartitionedUpsert.upsert(
        batch.withColumn("bucket",
          pmod(crc32(concat_ws("\u0001",
            keys.map(k => col(k).cast("string")): _*)), lit(numBuckets))),
        outDir, "bucket", keys)
}
