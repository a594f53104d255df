package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Log ingest & demux — Structured Streaming re-expression of the
  * reference's `ods_BaseLogApp` (/root/reference SparkSreaming_realtime
  * .../app/ods_BaseLogApp.scala:79-181): one raw JSON log stream fans out
  * into five typed outputs (error / start / page / display / action),
  * with short common keys renamed to long names (:92-101) and the
  * displays/actions arrays exploded into per-exposure/per-action rows
  * (:122-159).
  *
  * All transforms are pure DataFrame→DataFrame and work identically on a
  * batch frame or a stream: declare once, bind to `readStream` (Kafka in
  * prod, MemoryStream/file in tests). The five outputs share ONE parsed
  * pass — in `demuxEachBatch` the micro-batch is persisted and each sink
  * filter runs over the cached batch, the Spark-native form of the
  * reference's cache-then-branch (dwd_DauApp.scala:70). Rows that are
  * neither err, page, nor start are silently dropped — replicated, not
  * improved (SURVEY §7.4 risk 5).
  */
object LogDemux {

  /** Raw gmall-style log schema: nested common/page/start/err objects +
    * displays/actions arrays (app/ods_BaseLogApp.scala:86-175). */
  val rawSchema: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("mid", StringType), StructField("uid", StringType),
      StructField("ar", StringType), StructField("ch", StringType),
      StructField("is_new", StringType), StructField("md", StringType),
      StructField("os", StringType), StructField("vc", StringType),
      StructField("ba", StringType)))),
    StructField("page", StructType(Seq(
      StructField("page_id", StringType),
      StructField("last_page_id", StringType),
      StructField("item", StringType),
      StructField("item_type", StringType),
      StructField("source_type", StringType),
      StructField("during_time", LongType)))),
    StructField("start", StructType(Seq(
      StructField("entry", StringType),
      StructField("open_ad_id", StringType),
      StructField("loading_time", LongType),
      StructField("open_ad_ms", LongType),
      StructField("open_ad_skip_ms", LongType)))),
    StructField("err", StructType(Seq(
      StructField("error_code", StringType),
      StructField("msg", StringType)))),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("display_type", StringType),
      StructField("item", StringType),
      StructField("item_type", StringType),
      StructField("order", StringType),
      StructField("pos_id", StringType))))),
    StructField("actions", ArrayType(StructType(Seq(
      StructField("action_id", StringType),
      StructField("item", StringType),
      StructField("item_type", StringType),
      StructField("ts", LongType))))),
    StructField("ts", LongType)))

  /** T1/T2: parse the raw JSON `value` column. */
  def parse(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), rawSchema).as("log"))
      .select("log.*")

  /** Common device fields with short→long renames (T3,
    * ods_BaseLogApp.scala:92-101). */
  private def commonCols: Seq[Column] = Seq(
    col("common.mid").as("mid"),
    col("common.uid").as("user_id"),
    col("common.ar").as("province_id"),
    col("common.ch").as("channel"),
    col("common.is_new").as("is_new"),
    col("common.md").as("model"),
    col("common.os").as("operate_system"),
    col("common.vc").as("version_code"),
    col("common.ba").as("brand"))

  private def pageCols: Seq[Column] = Seq(
    col("page.page_id").as("page_id"),
    col("page.last_page_id").as("last_page_id"),
    col("page.item").as("page_item"),
    col("page.item_type").as("page_item_type"),
    col("page.source_type").as("sourceType"),
    col("page.during_time").as("during_time"))

  /** Error branch: whole record passes through unreshaped (:86-89). */
  def errors(parsed: DataFrame): DataFrame =
    parsed.where(col("err").isNotNull)
      .select(commonCols ++ Seq(col("err.error_code"), col("err.msg"),
        col("ts")): _*)

  /** Page branch (only rows that carry a page object, :105-119). */
  def pages(parsed: DataFrame): DataFrame =
    parsed.where(col("err").isNull && col("page").isNotNull)
      .select(commonCols ++ pageCols :+ col("ts"): _*)

  /** Display branch: explode the displays array, inherit page fields
    * (T4, :122-140). */
  def displays(parsed: DataFrame): DataFrame =
    parsed.where(col("err").isNull && col("page").isNotNull &&
        col("displays").isNotNull)
      .select(commonCols ++ pageCols ++ Seq(
        explode(col("displays")).as("d"), col("ts")): _*)
      .withColumn("display_type", col("d.display_type"))
      .withColumn("display_item", col("d.item"))
      .withColumn("display_item_type", col("d.item_type"))
      .withColumn("display_order", col("d.order"))
      .withColumn("display_pos_id", col("d.pos_id"))
      .drop("d")

  /** Action branch: explode the actions array (T4, :143-159). */
  def actions(parsed: DataFrame): DataFrame =
    parsed.where(col("err").isNull && col("page").isNotNull &&
        col("actions").isNotNull)
      .select(commonCols ++ pageCols ++ Seq(
        explode(col("actions")).as("a"), col("ts")): _*)
      .withColumn("action_id", col("a.action_id"))
      .withColumn("action_item", col("a.item"))
      .withColumn("action_item_type", col("a.item_type"))
      .withColumn("action_ts", col("a.ts"))
      .drop("a")

  /** Start branch (:162-174). */
  def starts(parsed: DataFrame): DataFrame =
    parsed.where(col("err").isNull && col("start").isNotNull)
      .select(commonCols ++ Seq(
        col("start.entry").as("entry"),
        col("start.open_ad_id").as("open_ad_id"),
        col("start.loading_time").as("loading_time_ms"),
        col("start.open_ad_ms").as("open_ad_ms"),
        col("start.open_ad_skip_ms").as("open_ad_skip_ms"),
        col("ts")): _*)

  /** Typed views (SURVEY §7.1: the bean case classes as Dataset element
    * types). Column order in the underlying selects matches the bean
    * field order, so `.as[T]` binds by name with full coverage. */
  def pagesTyped(parsed: DataFrame): Dataset[graft.model.PageLog] = {
    val enc = Encoders.product[graft.model.PageLog]
    pages(parsed).as(enc)
  }
  def startsTyped(parsed: DataFrame): Dataset[graft.model.StartLog] = {
    val enc = Encoders.product[graft.model.StartLog]
    starts(parsed).as(enc)
  }
  def displaysTyped(parsed: DataFrame): Dataset[graft.model.PageDisplayLog] = {
    val enc = Encoders.product[graft.model.PageDisplayLog]
    displays(parsed).as(enc)
  }
  def actionsTyped(parsed: DataFrame): Dataset[graft.model.PageActionLog] = {
    val enc = Encoders.product[graft.model.PageActionLog]
    actions(parsed).as(enc)
  }

  /** All five branches keyed by sink/topic name (F5 naming). */
  def branches(parsed: DataFrame): Map[String, DataFrame] = Map(
    "DWD_ERROR_LOG"        -> errors(parsed),
    "DWD_START_LOG"        -> starts(parsed),
    "DWD_PAGE_LOG"         -> pages(parsed),
    "DWD_PAGE_DISPLAY_LOG" -> displays(parsed),
    "DWD_PAGE_ACTION_LOG"  -> actions(parsed))

  /** One-pass fan-out for `foreachBatch`: persist the parsed batch, write
    * every branch as one epoch of its topic's [[EpochStore]] under
    * `outDir/<topic>` (K1-equivalent sink; in prod the writer targets
    * Kafka with a per-row topic column). Epoch-keyed OVERWRITE makes the
    * sink idempotent under foreachBatch replay — a retried epoch
    * rewrites its own directory instead of appending duplicates; the
    * epoch commit after this function returns is the "flush then commit
    * offsets" of the reference (:177-180). `compactEvery` folds each
    * topic in-band ([[EpochStore.fold]], identity — demuxed rows are
    * exactly-once per epoch); [[graft.operators.Compact.compactEpochs]]
    * stays the stop-the-world form for OFFLINE rewrites of a stopped
    * topic only. */
  def demuxEachBatch(outDir: String, compactEvery: Int = 0)
      (batch: DataFrame, epochId: Long): Unit = {
    val parsed = parse(batch).persist()
    try {
      // computed up front, so every branch write sizes its files from
      // the cached batch ([[EpochStore.sized]]), not the unsized stream
      parsed.count()
      branches(parsed).foreach { case (topic, df) =>
        val store = EpochStore(batch.sparkSession, s"$outDir/$topic",
          "log demux sink")
        store.write(epochId, df)
        store.fold(epochId, compactEvery)(identity)
      }
    } finally parsed.unpersist()
  }
}
