package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's public query API — the three REST endpoints of the
  * reference's serving layer (/root/reference InsightAnalytics
  * .../controller/PublisherController.java:21-51, SURVEY §2.7), composed
  * from the §2.6 aggregation operators as DataFrame programs.
  *
  * Endpoint → composition:
  *  - `/dauRealtime?td`           → A1 + A2(td) + A2(yd) side by side
  *  - `/statsByItem?itemName,t`   → A3 + F10 field map + F8/F9 recode
  *  - `/detailByItem?itemName,…`  → A4 paging + A5 highlight + total
  */
object Api {

  /** `/dauRealtime`: hourly DAU for day `td` with yesterday alongside
    * (F11), from the first-visit-per-day relation (J5/A2). One output
    * row per hour 00–23 present in either day. */
  def dauRealtime(spark: SparkSession, dir: String, td: String): DataFrame = {
    val ydStr = date_format(date_sub(to_date(lit(td)), 1), "yyyy-MM-dd")
    // restrict to the two days BEFORE the first-visit selection: on a
    // dt-partitioned table this is partition pruning — first-visit is
    // per (dt, user), so dropping other days cannot change it
    val e = Dau.withDay(graft.Tables.events(spark, dir))
      .where(col("dt") === td || col("dt") === ydStr)
    // first-visit selection as a min(ts) aggregate, not a window —
    // map-side partial combine, no per-partition sort; hr is a function
    // of ts so the event_id tiebreak cannot change the counted hour
    // (see Dau.dauByHour)
    val counts = e.groupBy("dt", "user_id")
      .agg(min(col("ts")).as("ts0"))
      .groupBy(col("dt"), date_format(col("ts0"), "HH").as("hr"))
      .agg(count(lit(1)).as("cnt"))
    // conditional aggregation instead of a td/yd self-join: one pass over
    // the (already tiny) counts relation, no duplicated subtree
    counts.groupBy("hr")
      .agg(
        coalesce(sum(when(col("dt") === td, col("cnt"))), lit(0L)).as("dau_td"),
        coalesce(sum(when(col("dt") === ydStr, col("cnt"))), lit(0L)).as("dau_yd"))
      .orderBy("hr")
  }

  /** F10: the `t` query param → grouping column (age/gender in the
    * reference; segment/nation on this schema). Unknown → None, the
    * controller's 〈null〉 branch. */
  def typeToField(t: String): Option[String] = t match {
    case "segment" => Some("c_mktsegment")
    case "nation"  => Some("nation_name")
    case _         => None
  }

  /** `/statsByItem`: A3 over the enriched wide table, grouped by the F10
    * field, as (name, value) pairs — the reference's NameValue list. */
  def statsByItem(spark: SparkSession, dir: String, itemName: String,
      t: String): DataFrame = {
    val field = typeToField(t).getOrElse(
      throw new IllegalArgumentException(s"unknown stats type: $t"))
    val wide = OrderWide.orderWideEnriched(spark, dir)
    val p = graft.Tables.part(spark, dir)
      .where(Serving.matchAll(col("p_name"), itemName))
      .select(col("p_partkey"))
    wide.join(broadcast(p), wide("sku_id") === p("p_partkey"))
      .groupBy(col(field).as("name"))
      .agg(graft.functions.TextFunctions.moneySum(
        col("split_total_amount")).as("value"))
      .orderBy("name")
  }

  /** `/detailByItem`: A4 page plus the total match count (the reference
    * returns {total, detail}); A5 highlight applied to sku_name. */
  def detailByItem(spark: SparkSession, dir: String, itemName: String,
      pageNo: Int = 1, pageSize: Int = 20): DataFrame = {
    // one matched-lines relation feeds both the page and the total
    val lines = Serving.matchedLines(spark, dir, itemName)
    val page = Serving.detailPage(lines, pageNo, pageSize)
    val total = Serving.lineCount(lines)
    page
      .withColumn("sku_name",
        regexp_replace(col("sku_name"), Serving.highlightPattern(itemName),
          "<em>$1</em>"))
      .crossJoin(broadcast(total))
  }
}
