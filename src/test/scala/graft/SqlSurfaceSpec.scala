package graft

import org.apache.spark.sql.DataFrame

/** The SQL surface (GraftSession.sqlSurface + the table-valued
  * functions in GraftExtensions): a user composes the engine from
  * plain SQL — the reference's ES-DSL composition re-expressed — and
  * every TVF answers exactly like its Scala registry function. */
class SqlSurfaceSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] = {
    val out = df.collect().map(_.toSeq.map {
      case a: Array[_] => a.toSeq
      case x => x
    }.toSeq).toSeq
    graft.Caches.releaseAll()
    out
  }

  private lazy val surface: Unit = GraftSession.sqlSurface(spark, sf)

  test("every source table is a queryable view") {
    surface
    for (t <- Tables.names) {
      val viaSql = spark.sql(s"SELECT count(*) AS n FROM $t")
        .collect()(0).getLong(0)
      val direct =
        if (t == "events") Tables.events(spark, sf).count()
        else Tables(spark, sf, t).count()
      assert(viaSql == direct && viaSql > 0L, s"table $t")
    }
    // the normalized events view carries real timestamps, not raw nanos
    assert(spark.sql("SELECT ts FROM events").schema("ts")
      .dataType.typeName.startsWith("timestamp"))
  }

  test("TVFs answer exactly like the Scala registry functions") {
    surface
    val pins: Seq[(String, DataFrame)] = Seq(
      "SELECT * FROM phrase_search('query big part')" ->
        operators.Ranking.phraseSearch(spark, sf),
      "SELECT * FROM phrase_search_indexed('query big part')" ->
        operators.Ranking.phraseSearchIndexed(spark, sf),
      "SELECT * FROM more_like_this(1, 10, 20)" ->
        operators.Ranking.moreLikeThis(spark, sf),
      "SELECT * FROM bm25_search('spark vector', 50)" ->
        operators.Ranking.bm25Rank(spark, sf),
      "SELECT * FROM basket_lift(5, 100)" ->
        operators.Sessionize.basketLift(spark, sf),
      "SELECT * FROM basket_rules(5, 100)" ->
        operators.Sessionize.basketRules(spark, sf),
      "SELECT * FROM ann_topk(0, 10)" ->
        operators.Similarity.topK(spark, sf),
      "SELECT * FROM page_rank(10)" ->
        operators.GraphRank.pageRank(spark, sf),
      "SELECT * FROM funnel('view', 'click', 'purchase')" ->
        operators.Sessionize.funnel(spark, sf),
      "SELECT * FROM bfs_hops(0, 6)" ->
        operators.GraphRank.bfsHops(spark, sf),
      "SELECT * FROM next_items(3)" ->
        operators.GraphRank.nextItems(spark, sf),
      "SELECT * FROM personalized_rank(0, 10)" ->
        operators.GraphRank.personalizedRank(spark, sf),
      "SELECT * FROM hll_users()" ->
        operators.Sketches.hllUsers(spark, sf),
      "SELECT * FROM hll_daily()" ->
        operators.Sketches.hllUsersDaily(spark, sf),
      "SELECT * FROM hll_range('2024-01-08', '2024-01-21')" ->
        operators.Sketches.hllUsersRange(spark, sf),
      "SELECT * FROM heavy_hitters(10500, 128)" ->
        operators.Sketches.heavyHitters(spark, sf),
      "SELECT * FROM zorder_layout(10)" ->
        operators.Warehouse.zorderLayout(spark, sf),
      "SELECT * FROM concurrent_orders(128)" ->
        operators.IntervalJoin.concurrentOrders(spark, sf),
      "SELECT * FROM hist_quantiles()" ->
        operators.Sketches.histQuantiles(spark, sf),
      "SELECT * FROM quality_report()" ->
        operators.Checks.qualityReport(spark, sf),
      "SELECT * FROM hll_overlap()" ->
        operators.Sketches.hllOverlap(spark, sf),
      "SELECT * FROM kmv_users()" ->
        operators.Sketches.kmvUsers(spark, sf),
      "SELECT * FROM kmv_overlap()" ->
        operators.Sketches.kmvOverlap(spark, sf),
      "SELECT * FROM cms_counts()" ->
        operators.Sketches.cmsCounts(spark, sf),
      "SELECT * FROM price_quantiles()" ->
        operators.Sketches.priceQuantiles(spark, sf),
      "SELECT * FROM zorder_scan(0, 40, 10, 19)" ->
        operators.Warehouse.zorderScan(spark, sf, 0L, 40L, 10L, 19L),
      "SELECT * FROM bloom_lookup(7, 42, 133)" ->
        operators.BloomSkip.pointLookup(spark, sf, Seq(7L, 42L, 133L)),
      "SELECT * FROM forget_key(7, 42)" ->
        operators.BloomSkip.forgetKey(spark, sf, 7L, Seq(42L)),
      "SELECT * FROM forget_batch(7, 13, 29, 0, 42, 133)" ->
        operators.BloomSkip.forgetKeys(spark, sf, Seq(7L, 13L, 29L),
          Seq(42L, 133L)),
      "SELECT * FROM media_neardup()" ->
        operators.Multimodal.mediaNearDup(spark, sf),
      "SELECT * FROM zorder_forget(7, 0, 40, 10, 19)" ->
        operators.Warehouse.zorderForgetScan(spark, sf, 7L, 0L, 40L,
          10L, 19L),
      "SELECT * FROM kmv_range_overlap('2024-01-08', '2024-01-21')" ->
        operators.Sketches.kmvOverlapRange(spark, sf),
      "SELECT * FROM composed_lookup('1995-01-01', '1996-06-30', 7, 42)" ->
        operators.BloomSkip.lookupKeysInRange(spark, sf, Seq(7L, 42L),
          "1995-01-01", "1996-06-30"),
      "SELECT * FROM zorder_forget_batch(7, 13, -1, 0, 40, 10, 19)" ->
        operators.Warehouse.zorderForgetScanBatch(spark, sf,
          Seq(7L, 13L), 0L, 40L, 10L, 19L),
      "SELECT * FROM composed_forget('1995-01-01', '1996-06-30', " +
        "7, 42, 0, 13, 133)" ->
        operators.BloomSkip.forgetKeysInRange(spark, sf, Seq(7L, 42L),
          Seq(13L, 133L), "1995-01-01", "1996-06-30"),
      "SELECT * FROM vacuumed_forget(7, 13, 29, 0, 42, 133)" ->
        operators.BloomSkip.vacuumedForget(spark, sf, Seq(7L, 13L, 29L),
          Seq(42L, 133L)),
      "SELECT * FROM doc_takedown(45, 48, -1, 7, 100)" ->
        operators.DocForget.takedownScan(spark, sf, Seq(45L, 48L),
          Seq(7L, 100L)),
      "SELECT * FROM takedown_pack(45, 48)" ->
        operators.DocForget.takedownPack(spark, sf, Seq(45L, 48L)),
      "SELECT * FROM takedown_phrase('query big part', 45, 48)" ->
        operators.DocForget.takedownPhrase(spark, sf, Seq(45L, 48L)),
      "SELECT * FROM takedown_ann(0, 45, 48)" ->
        operators.DocForget.takedownAnn(spark, sf, Seq(45L, 48L)),
      "SELECT * FROM takedown_report(45, 48)" ->
        operators.DocForget.takedownReport(spark, sf, Seq(45L, 48L)),
      "SELECT * FROM cluster_takedown(45, -1, 7, 100, 487)" ->
        operators.DocForget.clusterTakedownScan(spark, sf, Seq(45L),
          Seq(7L, 100L, 487L)),
      "SELECT * FROM cluster_expansion(45)" ->
        operators.DocForget.clusterExpansion(spark, sf, Seq(45L)),
      "SELECT * FROM cluster_assign()" ->
        streaming.ClusterStream.assignmentFor(spark, sf),
      "SELECT * FROM cluster_forget(45)" ->
        streaming.ClusterStream.forgottenAssignmentFor(spark, sf,
          Seq(45L)))
    for ((sql, scala) <- pins) {
      val got = rows(spark.sql(sql))
      val want = rows(scala)
      assert(got == want && got.nonEmpty, s"$sql: got $got want $want")
    }
    // trailing arguments take the Scala defaults
    assert(rows(spark.sql("SELECT * FROM more_like_this(1)")) ==
      rows(operators.Ranking.moreLikeThis(spark, sf)))
    assert(rows(spark.sql("SELECT * FROM basket_lift()")) ==
      rows(operators.Sessionize.basketLift(spark, sf)))
  }

  test("TVF results compose with views in one SQL statement") {
    surface
    val got = spark.sql(
      """SELECT m.doc_id, length(d.text) AS len
        |FROM more_like_this(1, 10, 20) m
        |JOIN documents d USING (doc_id)
        |ORDER BY m.doc_id""".stripMargin).collect()
    val want = operators.Ranking.moreLikeThis(spark, sf)
      .select("doc_id")
      .join(Tables.documents(spark, sf), "doc_id")
      .selectExpr("doc_id", "length(text) AS len")
      .orderBy("doc_id").collect()
    graft.Caches.releaseAll()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq &&
      got.nonEmpty)
  }

  test("a TVF without a registered corpus fails loudly; non-literal " +
      "arguments are rejected") {
    surface
    val saved = spark.conf.get(GraftSession.SqlDirKey)
    spark.conf.unset(GraftSession.SqlDirKey)
    try {
      val e = intercept[Exception](
        spark.sql("SELECT * FROM phrase_search('a')").collect())
      assert(e.getMessage.contains("sqlSurface"),
        s"wrong message: ${e.getMessage}")
    } finally spark.conf.set(GraftSession.SqlDirKey, saved)
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM more_like_this(rand())").collect())
    assert(e2.getMessage.contains("literal"),
      s"wrong message: ${e2.getMessage}")
  }

  test("the SQL surface enforces the HTTP surface's bounds, with the " +
      "message HTTP returns as a 400") {
    surface
    val terms17 = (1 to 17).map(i => s"t$i")
    val steps9 = Seq.fill(9)("view")
    val cases = Seq(
      "more_like_this(1, 10, 5000)" -> "/moreLikeThis?docId=1&m=10&topN=5000",
      s"bm25_search('${terms17.mkString(" ")}')" ->
        s"/searchRanked?q=${terms17.mkString("+")}",
      s"funnel(${steps9.map(s => s"'$s'").mkString(", ")})" ->
        s"/funnel?steps=${steps9.mkString(",")}",
      "phrase_search('  ')" -> "/phraseSearch?q=+")
    val srv = new serving.HttpServer(spark, sf).start()
    try for ((call, route) <- cases) {
      val conn = new java.net.URL(s"http://127.0.0.1:${srv.boundPort}$route")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val body = scala.io.Source.fromInputStream(
        if (code < 400) conn.getInputStream else conn.getErrorStream, "UTF-8")
        .mkString
      conn.disconnect()
      val httpMsg = "\\{\"error\":\"(.*)\"\\}".r.findFirstMatchIn(body)
        .map(_.group(1)).getOrElse(fail(s"$route: $code $body"))
      assert(code == 400, s"$route: $code $body")
      val e = intercept[Exception](spark.sql(s"SELECT * FROM $call").collect())
      val sqlMsg = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).collectFirst {
          case iae: IllegalArgumentException => iae.getMessage
        }
      assert(sqlMsg.contains(httpMsg), s"$call: $sqlMsg, HTTP: $httpMsg")
    } finally { srv.stop(); graft.Caches.releaseAll() }
  }
}
