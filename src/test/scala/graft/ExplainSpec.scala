package graft

/** Pins [[Explain.keyedExchanges]], the count `PlanAuditSpec` gates, to
  * q95's real shape in each cache state an earlier query can leave
  * behind. The prefix arm has three keyed exchanges: the df aggregate
  * inside the cached `dfRel` carrier, the candidate distinct and the
  * output sort. Counting `Exchange hashpartitioning` in the printed plan
  * instead reads 18 from a clean cache and after `collect()`: each of
  * the four references to the materialized `capped` carrier reprints
  * its build plan under both adaptive sections, and each of those
  * reprints `dfRel`'s df aggregate under both again (2 + 4 × 2 × 2). It
  * reads 6 once AQE-off carrier plans are cached (2 + 4 × 1).
  */
class ExplainSpec extends SparkSpec {
  private val q95 = SparkEntry.queries("q95_containment_pairs")

  private def q95Count(): Int =
    Explain.keyedExchanges(q95(spark, sf).queryExecution.executedPlan).size

  test("q95 keyed exchanges: 3 when planned from a clean cache") {
    spark.catalog.clearCache()
    assert(q95Count() == 3)
  }

  test("q95 keyed exchanges: 3 when planned again after collect()") {
    spark.catalog.clearCache()
    q95(spark, sf).collect()
    assert(q95Count() == 3)
  }

  test("q95 keyed exchanges: 3 after an AQE-off planning cached its carriers") {
    spark.catalog.clearCache()
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try q95(spark, sf).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(q95Count() == 3)
  }
}
