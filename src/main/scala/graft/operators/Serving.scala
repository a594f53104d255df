package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.moneySum

/** Serving-layer queries — the analytical surface the reference delegated to
  * Elasticsearch (/root/reference InsightAnalytics .../mapper/impl/
  * PublisherMapperImpl.java:65-239 and service/impl/publisherServiceImpl
  * .java:21-91), answered natively by Spark SQL over the wide tables.
  *
  * A3 statsByItem  → match-AND filter + groupBy + SUM
  * A4 detailByItem → filtered, deterministically-ordered page scan
  * A5 highlight    → regexp token wrapping (presentation)
  * A6/F8/F9        → post-agg recode and re-bucketing
  *
  * Scale notes: the match-AND predicate is a conjunction of `contains`
  * filters — pushed below the join, evaluated in whole-stage codegen
  * against the (small) part dim which is then BROADCAST into lineitem, so
  * the 100 TB fact table is filtered by a broadcast semi-join rather than
  * shuffled. Paging sorts only the filtered slice (orderBy+offset+limit →
  * TakeOrderedAndProject when the page is shallow).
  */
object Serving {

  /** Whitespace tokens of the query string. An empty/blank query is a
    * caller error and fails loudly ("".split yields [""], and
    * contains("") is always true — the predicate would silently become
    * match-everything and a serving endpoint would scan the world). */
  private def queryTokens(itemName: String): Array[String] = {
    val toks = itemName.trim.split("\\s+").filter(_.nonEmpty)
    require(toks.nonEmpty, s"no query tokens in '$itemName'")
    toks
  }

  /** ES `match(field, text, operator=AND)` ≈ every whitespace token of the
    * query appears in the field (SURVEY §2.6 A3). Substring containment —
    * the SURVEY-documented approximation ("ring" also hits "boring"). */
  def matchAll(field: Column, itemName: String): Column =
    queryTokens(itemName).map(tok => field.contains(tok))
      .reduce(_ && _)

  /** Lucene-faithful variant: token-EXACT match — every query token must
    * equal a whitespace token of the field, which is what a standard-
    * analyzer ES `match` actually does ("ring" does NOT hit "boring"). */
  def matchAllTokens(field: Column, itemName: String): Column =
    queryTokens(itemName)
      .map(tok => array_contains(split(field, " "), tok))
      .reduce(_ && _)

  /** Lucene STANDARD-ANALYZER-faithful match (PublisherMapperImpl
    * .java:71-74): ES lowercases and strips punctuation on both sides
    * before matching, so "SMALL, Ring." matches "small polished ring".
    * Both the query string and the field are lowercased and tokenized on
    * non-alphanumerics; every query token must appear among the field's
    * tokens. [[matchAllTokens]] (single-space split, case-sensitive) is
    * the stricter non-analyzed variant. */
  def matchAllTokensAnalyzed(field: Column, itemName: String): Column = {
    val fieldToks = array_remove(split(lower(field), "[^a-z0-9]+"), "")
    val queryToks = itemName.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    require(queryToks.nonEmpty, s"no analyzable tokens in '$itemName'")
    queryToks.map(tok => array_contains(fieldToks, tok)).reduce(_ && _)
  }

  /** Shared A3 body: the three match variants differ ONLY in the p_name
    * predicate — broadcast the filtered part dim into lineitem, group by
    * a caller-chosen field, SUM the split amount. One body, so the
    * amount formula / rounding can never drift between variants. */
  private def statsWithMatcher(spark: SparkSession, dir: String,
      matcher: Column => Column, groupField: String): DataFrame = {
    val p = Tables.part(spark, dir).where(matcher(col("p_name")))
    val li = Tables.lineitem(spark, dir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col(groupField).as("name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("value"))
      .orderBy("name")
  }

  /** A3 under analyzed-match semantics. */
  def statsByItemAnalyzed(spark: SparkSession, dir: String,
      itemName: String, groupField: String): DataFrame =
    statsWithMatcher(spark, dir, matchAllTokensAnalyzed(_, itemName), groupField)

  /** A3 under token-exact match semantics. */
  def statsByItemTokenMatch(spark: SparkSession, dir: String,
      itemName: String, groupField: String): DataFrame =
    statsWithMatcher(spark, dir, matchAllTokens(_, itemName), groupField)

  /** Lines joined to their part, filtered by match-AND on p_name — the
    * shared scan for A3/A4/A5. */
  private[operators] def matchedLines(spark: SparkSession, dir: String,
      itemName: String): DataFrame = {
    val p = Tables.part(spark, dir).where(matchAll(col("p_name"), itemName))
    val li = Tables.lineitem(spark, dir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
  }

  /** A3: stats by item — filter by item tokens, group by a caller-chosen
    * dimension (F10 `t`→field mapping), SUM the split amount. */
  def statsByItem(spark: SparkSession, dir: String, itemName: String,
      groupField: String): DataFrame =
    statsWithMatcher(spark, dir, matchAll(_, itemName), groupField)

  /** A4: paged detail scan — 8-column projection, total + page.
    * ES "relevance" order is unspecified, so we pin a deterministic sort
    * (SURVEY §7.4 risk 3): (l_orderkey, l_linenumber) is a total key. */
  def detailByItem(spark: SparkSession, dir: String, itemName: String,
      pageNo: Int, pageSize: Int): DataFrame =
    detailPage(matchedLines(spark, dir, itemName), pageNo, pageSize)

  /** A4's page of `lines` ([[matchedLines]]). */
  private[operators] def detailPage(lines: DataFrame, pageNo: Int,
      pageSize: Int): DataFrame =
    lines
      .select(
        col("l_orderkey"), col("l_linenumber"), col("p_name").as("sku_name"),
        col("l_quantity").as("sku_num"),
        col("l_extendedprice").as("order_price"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("total_amount"),
        col("p_brand"), col("p_type"))
      .orderBy("l_orderkey", "l_linenumber")
      .offset((pageNo - 1) * pageSize)
      .limit(pageSize)

  /** A4's `total`: count of all lines matching the item filter. */
  def matchedLineCount(spark: SparkSession, dir: String,
      itemName: String): DataFrame =
    lineCount(matchedLines(spark, dir, itemName))

  /** The `total` of `lines` ([[matchedLines]]). */
  private[operators] def lineCount(lines: DataFrame): DataFrame =
    lines.agg(count(lit(1)).as("total"))

  /** Regex alternation of the quoted query tokens — shared by the A5
    * highlight query and the /detailByItem endpoint so their highlight
    * semantics can never drift. */
  def highlightPattern(itemName: String): String =
    "(" + queryTokens(itemName).map(java.util.regex.Pattern.quote)
      .mkString("|") + ")"

  /** A5: highlight — wrap each query token occurrence in <em> tags. */
  def highlight(spark: SparkSession, dir: String, itemName: String): DataFrame =
    Tables.part(spark, dir)
      .where(matchAll(col("p_name"), itemName))
      .select(
        col("p_partkey"),
        regexp_replace(col("p_name"), highlightPattern(itemName), "<em>$1</em>")
          .as("sku_name_hl"))
      .orderBy("p_partkey")

  /** F4: whole-year age relative to a PINNED date (SURVEY §7.4 risk 3:
    * the reference used wall-clock `LocalDate.now()`, which is
    * untestable — the pinned parameter is the deterministic policy).
    * Integer year arithmetic (year delta minus one if the anniversary
    * hasn't passed) — exact in any engine, no fractional-month
    * ambiguity. Demonstrated on order dates as the "birthday". */
  def ageDistribution(spark: SparkSession, dir: String,
      pinnedToday: String): DataFrame = {
    val p = to_date(lit(pinnedToday))
    val d = col("o_orderdate")
    val age = (year(p) - year(d) -
      when(month(p) < month(d) ||
        (month(p) === month(d) && dayofmonth(p) < dayofmonth(d)), 1)
        .otherwise(0)).cast("long")
    Tables.orders(spark, dir)
      .select(age.as("age"))
      .groupBy("age")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("age")
  }

  /** F8 analog: categorical recode at the serving layer
    * (reference: gender F→女 / M→男). */
  def statusRecode(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("status_name",
        when(col("o_orderstatus") === "F", "filled")
          .when(col("o_orderstatus") === "O", "open")
          .otherwise("partial"))
      .groupBy("status_name")
      .agg(
        count(lit(1)).as("cnt"),
        moneySum(col("o_totalprice")).as("total"))
      .orderBy("status_name")

  /** F9/A6 analog: re-bucket a numeric dimension after aggregation
    * (reference: age ≤20 / 21–29 / ≥30 over the A3 output; note the
    * boundary semantics `<=` / `<=` / otherwise, publisherServiceImpl
    * .java:57-78 — replicated on acctbal). */
  def acctbalBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .withColumn("bucket",
        when(col("c_acctbal") <= 1000.0, "low")
          .when(col("c_acctbal") <= 5000.0, "mid")
          .otherwise("high"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("cnt"),
        moneySum(col("c_acctbal")).as("total_bal"))
      .orderBy("bucket")
}
