package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Cardinality / frequency sketches — the approximate-aggregation layer a
  * 100 TB engine needs where exact answers force a full shuffle of the
  * key universe. No reference-repo counterpart (north-star extension):
  * the reference's only distinct is the Redis DAU set (SURVEY §2.5 J5),
  * which holds every member; these operators bound state/shuffle at a
  * constant independent of cardinality.
  *
  * Two families:
  *
  *  - HyperLogLog distinct-count (Flajolet et al. 2007), expressed
  *    RELATIONALLY: the register table `(scope, j, max(rho))` IS the
  *    sketch, built by an ordinary hash-aggregate — map-side partial max
  *    caps every task's shuffle contribution at m=256 rows per scope,
  *    versus an exact distinct that shuffles every unique key. Because
  *    `max` is idempotent/commutative/associative, register tables are
  *    REUSABLE: persist them at a fine grain (per day) and answer any
  *    coarser distinct (per month, global, cross-scope unions) by
  *    re-aggregating 256-row groups — no rescan of the fact table
  *    (q138). The estimate is pure integer arithmetic on the registers
  *    (exact-rational alpha, 128-bit intermediates), so DuckDB ranks on
  *    identical integers — no libm on the oracle boundary.
  *
  *  - Deterministic heavy hitters: a Misra–Gries (1982) candidate pass
  *    (bounded memory, map-only, mapPartitions — genuine per-partition
  *    imperative logic) followed by an EXACT counting pass restricted to
  *    the candidates. MG guarantees every key with frequency > n/(k+1)
  *    survives some partition's summary, so with k ≥ 1e6/phiPpm the
  *    candidate set is a superset of the true heavy hitters and the
  *    verified output is EXACT — independent of partitioning and merge
  *    order (which is what makes it oracle-checkable; a raw sketch's
  *    counter values are not).
  *
  * HLL bit layout on the shared 60-bit md5 hash (`TextFunctions.md5Long`
  * convention, replicable in any engine): register index j = h mod 256,
  * rho = 1 + trailing zeros of (h div 256) — trailing (not leading)
  * zeros give the same geometric law and have a branch-free cross-engine
  * form `bit_count(((r) & -(r)) - 1) + 1`. The estimate is the RAW
  * harmonic-mean estimator only (alpha_m = 7213·m / (10000·m + 10790),
  * the published 0.7213/(1+1.079/m) as an exact rational); the
  * small-range linear-counting correction needs ln() and is deliberately
  * left to the consumer — q137 therefore also reports the exact count
  * and the signed error so accuracy is measured, not asserted.
  */
object Sketches {

  /** Register count m = 2^p. 256 registers ≈ 6.5% standard error —
    * 1 KB per scope, the classic production operating point. */
  val P: Int = 8
  val M: Int = 1 << P

  /** 2^62 — the fixed-point one: register rho contributes 2^(62−rho). */
  private val One62 = "CAST(4611686018427387904 AS DECIMAL(38,0))"

  /** Linear-counting table: lc[v] = round(m·ln(m/v)) for v zero
    * registers, v in 1..m (index 0 is an unused placeholder — the LC
    * path requires v > 0). ln() runs ONCE on the driver to derive these
    * plan-time constants (the md5-derived-minhash-constants discipline);
    * both engines evaluate the same integer literals, so no libm sits on
    * the query boundary. */
  val LcTable: IndexedSeq[Long] =
    0L +: (1 to M).map(v => Math.round(M * Math.log(M.toDouble / v)))

  /** The table as a DuckDB list literal (1-indexed, same as Spark's
    * element_at) — interpolated into the oracle SQL by SparkEntry. */
  def lcTableSql: String = LcTable.mkString("[", ", ", "]")

  /** Map-only projection: value → (j, rho). `value` must be a string
    * column (callers cast); hash = md5-60 of "hll:"+value. Shared with
    * the streaming twin ([[graft.streaming.SketchStream]]) so stream
    * and batch hash identically. */
  private[graft] def jRho(df: DataFrame, scopeCols: Seq[String],
      value: Column): DataFrame =
    df.select(scopeCols.map(col) :+ value.as("v"): _*)
      .withColumn("h",
        conv(substring(md5(concat(lit("hll:"), col("v"))), 1, 15), 16, 10)
          .cast("long"))
      .withColumn("j", expr(s"h % $M"))
      .withColumn("rho", expr(
        s"CAST(CASE WHEN (h div $M) = 0 THEN ${60 - P + 1} " +
          s"ELSE bit_count(((h div $M) & -(h div $M)) - 1) + 1 END AS INT)"))
      .select(scopeCols.map(col) :+ col("j") :+ col("rho"): _*)

  /** The sketch as a relation: one row per (scope, register) observed.
    * ONE hash-aggregate; partial max bounds shuffle at m rows per scope
    * per task regardless of input cardinality. */
  def hllRegisters(df: DataFrame, scopeCols: Seq[String],
      value: Column): DataFrame =
    jRho(df, scopeCols, value)
      .groupBy((scopeCols :+ "j").map(col): _*)
      .agg(max(col("rho")).as("rho"))

  /** Merge registers to a coarser scope (drop grouping columns) — the
    * sketch-algebra step: max re-aggregation, no fact-table rescan. */
  def hllMerge(regs: DataFrame, scopeCols: Seq[String]): DataFrame =
    regs.groupBy((scopeCols :+ "j").map(col): _*)
      .agg(max(col("rho")).as("rho"))

  /** HLL estimate per scope from a register relation. All-integer: raw
    * S = Σ 2^(62−rho) over observed registers + 2^62 per absent one;
    * raw est = (7213·m³·2^62) div ((10000·m+10790)·S) in DECIMAL(38,0);
    * below the published 2.5m small-range threshold with v > 0 zero
    * registers, the linear-counting value lc[v] (a plan-time integer
    * table — see [[LcTable]]) replaces it, as in Flajolet et al. §4. */
  def hllEstimate(regs: DataFrame, scopeCols: Seq[String]): DataFrame =
    regs.groupBy(scopeCols.map(col): _*)
      .agg(
        sum(expr(
          "CAST(shiftleft(CAST(1 AS BIGINT), 62 - rho) AS DECIMAL(38,0))"))
          .as("sobs"),
        count(lit(1)).as("nreg"))
      .withColumn("ssum",
        expr(s"sobs + CAST($M - nreg AS DECIMAL(38,0)) * $One62"))
      .withColumn("est_raw", expr(
        s"CAST((CAST(7213 AS DECIMAL(38,0)) * $M * $M * $M * $One62) " +
          s"div (${10000L * M + 10790} * ssum) AS BIGINT)"))
      .withColumn("est_distinct", expr(
        s"CASE WHEN $M - nreg > 0 AND 2 * est_raw < ${5L * M} " +
          s"THEN element_at(array(${LcTable.mkString(", ")}), " +
          s"CAST($M - nreg + 1 AS INT)) ELSE est_raw END"))
      .select(scopeCols.map(col) :+ col("est_distinct"): _*)

  /** q137: HLL distinct users per event type PLUS the cross-type union
    * ('ALL' — derived by MERGING the per-type registers, not rescanning
    * events; union cardinality is not computable from per-type exact
    * counts without a rescan, but sketches compose), audited against
    * the exact distinct with a ppm error column. At 100 TB the two
    * exact columns are dropped and only the register aggregate runs. */
  def hllUsers(spark: SparkSession, dir: String): DataFrame =
    hllUsersOn(Tables.events(spark, dir))

  /** [[hllUsers]] over an explicit (event_type, user_id) relation. */
  def hllUsersOn(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"),
      col("user_id").cast("string").as("uid"))
    val regs = hllRegisters(ev, Seq("event_type"), col("uid"))
    // 5 types × ≤256 rows — cache the carrier, both branches reuse it
    graft.Caches.register(regs.cache())
    val all = hllMerge(regs.withColumn("event_type", lit("ALL")),
      Seq("event_type"))
    val est = hllEstimate(regs, Seq("event_type"))
      .union(hllEstimate(all, Seq("event_type")))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("uid")).as("exact_distinct"))
      .union(ev.agg(countDistinct(col("uid")).as("exact_distinct"))
        .withColumn("event_type", lit("ALL"))
        .select(col("event_type"), col("exact_distinct")))
    est.join(exact, Seq("event_type"))
      .withColumn("err_ppm", expr(
        "CAST(CAST(abs(est_distinct - exact_distinct) AS DECIMAL(38,0)) " +
          "* 1000000 div exact_distinct AS BIGINT)"))
      .orderBy("event_type")
  }

  /** q138: the persisted-sketch rollup pattern — ONE day-grain register
    * build, then per-(type, day) estimates AND per-type 30-day rollups
    * ('ALL' day sentinel) from the same register relation. This is how
    * a warehouse serves distinct-count dashboards at 100 TB: store
    * 256-row register groups per partition, answer any time-range
    * distinct by max-merging register rows — never rescanning facts. */
  def hllUsersDaily(spark: SparkSession, dir: String): DataFrame =
    hllUsersDailyOn(Tables.events(spark, dir))

  /** [[hllUsersDaily]] over an explicit (event_type, ts, user_id)
    * relation. */
  def hllUsersDailyOn(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd").as("dt"),
      col("user_id").cast("string").as("uid"))
    val regs = hllRegisters(ev, Seq("event_type", "dt"), col("uid"))
    // types × days × ≤256 rows — the persisted sketch table
    graft.Caches.register(regs.cache())
    val rollup = hllMerge(regs.withColumn("dt", lit("ALL")),
      Seq("event_type", "dt"))
    hllEstimate(regs, Seq("event_type", "dt"))
      .union(hllEstimate(rollup, Seq("event_type", "dt")))
      .orderBy("event_type", "dt")
  }

  /** q152: the RANGE query a persisted sketch warehouse exists for —
    * "distinct users in [from, to]" answered by max-merging the
    * day-grain register table's rows for the range, never rescanning
    * events. q138 proves the rollup algebra; this is the parametric
    * serving shape on top of it (any of the 2^days possible ranges from
    * ONE stored relation — the reason sketches are stored at fine grain
    * and merged at read). Exact audit + err_ppm ship as in q137; at
    * 100 TB the audit drops and only register rows are touched. */
  /** q152's pinned default range (the middle two weeks of the test
    * corpus) — shared with the `hll_range()` TVF so the SQL surface
    * cannot silently diverge from the oracle-gated defaults. */
  val DefaultRangeFrom: String = "2024-01-08"
  val DefaultRangeTo: String = "2024-01-21"

  def hllUsersRange(spark: SparkSession, dir: String,
      from: String = DefaultRangeFrom,
      to: String = DefaultRangeTo): DataFrame =
    hllUsersRangeOn(Tables.events(spark, dir), from, to)

  /** [[hllUsersRange]] over an explicit (event_type, ts, user_id)
    * relation. ISO dates compare lexically, so the range filter is a
    * plain string BETWEEN on the register table's dt column. */
  def hllUsersRangeOn(events: DataFrame, from: String,
      to: String): DataFrame = {
    require(from <= to, s"from '$from' must be <= to '$to' (ISO dates)")
    val ev = events.select(col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd").as("dt"),
      col("user_id").cast("string").as("uid"))
    // the day-grain sketch table (what a warehouse persists)
    val regs = graft.Caches.register(
      hllRegisters(ev, Seq("event_type", "dt"), col("uid")).cache())
    val inRange = regs.where(col("dt").between(from, to))
    val perType = hllMerge(inRange, Seq("event_type"))
    val all = hllMerge(inRange.withColumn("event_type", lit("ALL")),
      Seq("event_type"))
    val est = hllEstimate(perType, Seq("event_type"))
      .union(hllEstimate(all, Seq("event_type")))
    val evR = ev.where(col("dt").between(from, to))
    val exact = evR.groupBy("event_type")
      .agg(countDistinct(col("uid")).as("exact_distinct"))
      .union(evR.agg(countDistinct(col("uid")).as("exact_distinct"))
        .withColumn("event_type", lit("ALL"))
        .select(col("event_type"), col("exact_distinct")))
    est.join(exact, Seq("event_type"))
      .withColumn("err_ppm", expr(
        "CAST(CAST(abs(est_distinct - exact_distinct) AS DECIMAL(38,0)) " +
          "* 1000000 div exact_distinct AS BIGINT)"))
      .orderBy("event_type")
  }

  /** q144: audience overlap — HLL set algebra. Registers only UNION
    * (max-merge), so the pairwise intersection comes from
    * inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), clamped
    * at 0 (sketch noise can push the difference negative). Every pair's
    * union registers are derived from the SAME per-type register
    * relation (explode the 2-member pair into an equi-join — no
    * fact-table rescan, no OR-condition nested loop); the exact audit
    * intersects the distinct (type, user) relation. I-E error grows
    * with the union size, which is why the exact column ships. */
  def hllOverlap(spark: SparkSession, dir: String): DataFrame =
    hllOverlapOn(Tables.events(spark, dir))

  /** Unordered event-type pairs (`type_a` < `type_b`) of `regs`: the
    * vocab-sized type list is collected once by a global aggregate (no
    * keyed exchange) and exploded against itself. */
  private def typePairs(regs: DataFrame): DataFrame =
    regs.agg(collect_set(col("event_type")).as("ts"))
      .select(explode(col("ts")).as("type_a"), col("ts"))
      .select(col("type_a"), explode(col("ts")).as("type_b"))
      .where(col("type_a") < col("type_b"))

  /** [[hllOverlap]] over an explicit (event_type, user_id) relation. */
  def hllOverlapOn(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"),
      col("user_id").cast("string").as("uid"))
    val regs = graft.Caches.register(
      hllRegisters(ev, Seq("event_type"), col("uid")).cache())
    val membership = typePairs(regs).select(col("type_a"), col("type_b"),
      explode(array(col("type_a"), col("type_b"))).as("event_type"))
    val unionRegs = membership.join(regs, Seq("event_type"))
      .groupBy("type_a", "type_b", "j").agg(max(col("rho")).as("rho"))
    val estU = hllEstimate(unionRegs, Seq("type_a", "type_b"))
      .withColumnRenamed("est_distinct", "union_est")
    // cached: read under two aliases, built once
    val est1 = graft.Caches.register(
      hllEstimate(regs, Seq("event_type")).cache())
    val estA = est1.select(col("event_type").as("type_a"),
      col("est_distinct").as("est_a"))
    val estB = est1.select(col("event_type").as("type_b"),
      col("est_distinct").as("est_b"))
    // cached: both self-join sides otherwise recompute the event parse
    // + distinct (no exchange reuse across the aliased branches)
    val m = graft.Caches.register(ev.distinct().cache())
    val exact = m.select(col("event_type").as("type_a"),
        col("uid"))
      .join(m.select(col("event_type").as("type_b"), col("uid")), Seq("uid"))
      .where(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("overlap_exact"))
    estU.join(estA, Seq("type_a")).join(estB, Seq("type_b"))
      .withColumn("overlap_est",
        greatest(col("est_a") + col("est_b") - col("union_est"), lit(0L)))
      .join(exact, Seq("type_a", "type_b"), "left")
      .withColumn("overlap_exact",
        coalesce(col("overlap_exact"), lit(0L)))
      .select(col("type_a"), col("type_b"), col("union_est"),
        col("overlap_est"), col("overlap_exact"))
      .orderBy("type_a", "type_b")
  }

  // ——— mergeable histogram quantiles ———

  /** Histogram bucket count and width (micros): 1024 × 0.5 covers the
    * fixed range [0, 512) — out-of-range values clamp into the end
    * buckets. A FIXED grid (not data-derived bounds) is what makes the
    * register relation mergeable: counts SUM across any partition of
    * the data (cf. HLL's max-merge), so day-grain histogram tables
    * roll up to any coarser scope without rescans. */
  val HistBuckets: Int = 1024
  val HistWidthMicros: Long = 500000L

  /** Histogram registers: one row per (scope, bucket) observed, count
    * summed — ONE hash-aggregate, ≤ `buckets` rows per scope on the
    * shuffle. `value` is a double column; fixed-point micros floor is
    * IEEE-identical cross-engine. */
  def histRegisters(df: DataFrame, scopeCols: Seq[String], value: Column,
      widthMicros: Long = HistWidthMicros,
      buckets: Int = HistBuckets): DataFrame =
    df.select(scopeCols.map(col) :+ value.as("v"): _*)
      .withColumn("b", expr(
        s"least(greatest(CAST(floor(v * 1000000) AS BIGINT) " +
          s"div $widthMicros, 0), ${buckets - 1})"))
      .groupBy((scopeCols :+ "b").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** The shared cumulative-walk quantile: for each percentile q, the
    * smallest `key` whose cumulative count reaches rank
    * ceil(n·q/100) — all-integer, used at BOTH resolutions (bucket
    * grid → estimate; exact value grid → audit), so estimate and
    * truth differ only by the grid. */
  def cumQuantiles(counts: DataFrame, scopeCols: Seq[String],
      keyCol: String, qs: Seq[Int], outPrefix: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(scopeCols.map(col): _*)
      .orderBy(col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(scopeCols.map(col): _*)))
    val aggs = qs.map(q =>
      min(when(expr(s"cum >= (n * $q + 99) div 100"), col(keyCol)))
        .as(s"$outPrefix$q"))
    cum.groupBy(scopeCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** q142: histogram-sketch quantiles of the event `value` stream per
    * type + the 'ALL' rollup (SUM-merged registers, no rescan), each
    * audited against the exact order statistic at the same rank. The
    * exact side is NOT a global sort: values collapse to an exact
    * value-grid count relation first (distinct fixed-point values are
    * bounded — cent-quantized here), then the SAME cumulative walk
    * runs at full resolution, so estimate and truth share one code
    * path and the plan stays aggregation-shaped at any scale. */
  def histQuantiles(spark: SparkSession, dir: String): DataFrame =
    histQuantilesOn(Tables.events(spark, dir))

  /** Quantile ESTIMATES from a histogram register relation
    * (event_type, b, cnt) — per-type plus the SUM-merged 'ALL' rollup.
    * Shared with the streaming twin
    * ([[graft.streaming.SketchStream.quantileSnapshot]]) so stream and
    * batch walk identical registers. */
  def histEstimates(regs: DataFrame,
      qs: Seq[Int] = Seq(50, 95, 99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      "percentiles in [1, 100]")
    val regsAll = regs.withColumn("event_type", lit("ALL"))
      .groupBy("event_type", "b").agg(sum(col("cnt")).as("cnt"))
    cumQuantiles(regs.union(regsAll), Seq("event_type"), "b", qs, "pb")
  }

  /** [[histQuantiles]] over an explicit (event_type, value) relation. */
  def histQuantilesOn(events: DataFrame,
      qs: Seq[Int] = Seq(50, 95, 99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      "percentiles in [1, 100]")
    val ev = events.select(col("event_type"), col("value"))
    val regs = graft.Caches.register(
      histRegisters(ev, Seq("event_type"), col("value")).cache())
    val est = histEstimates(regs, qs)
    // exact audit at full value resolution — same walk, finer grid
    val vals = graft.Caches.register(
      ev.withColumn("vfp", expr("CAST(floor(value * 1000000) AS BIGINT)"))
        .groupBy("event_type", "vfp").agg(count(lit(1)).as("cnt"))
        .cache())
    val valsAll = vals.withColumn("event_type", lit("ALL"))
      .groupBy("event_type", "vfp").agg(sum(col("cnt")).as("cnt"))
    val exact = cumQuantiles(vals.union(valsAll), Seq("event_type"),
      "vfp", qs, "pe")
    val estCols = qs.flatMap(q => Seq(
      (col(s"pb$q") * lit(HistWidthMicros)).as(s"p${q}_est_micros"),
      col(s"pe$q").as(s"p${q}_exact_micros")))
    est.join(exact, Seq("event_type"))
      .select(col("event_type") +: estCols: _*)
      .orderBy("event_type")
  }

  /** Buckets for the AUTO-RANGED histogram ([[priceQuantilesOn]]). */
  val AutoBuckets: Int = 1024

  /** q150: histogram quantiles with a DATA-DERIVED integer grid — the
    * q142 family generalized past its fixed [0, 512) range to any
    * numeric column. One bounded 1-row aggregate derives (lo, width)
    * from the column's own min/max (the measured-dispatch discipline:
    * a 2-value driver constant, not a collect of data); the register
    * build, the 'ALL' rollup, and the shared [[cumQuantiles]] walk are
    * then exactly q142's — registers stay SUM-mergeable for any data
    * sharing the grid, which the build prints into the output via the
    * grid columns. Estimates are bucket lower bounds (est ≤ exact <
    * est + width, spec-asserted); the exact audit walks the same code
    * path at cent resolution. */
  def priceQuantiles(spark: SparkSession, dir: String): DataFrame =
    priceQuantilesOn(Tables(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice")))

  /** [[priceQuantiles]] over an explicit (o_orderpriority,
    * o_totalprice) relation. */
  def priceQuantilesOn(orders: DataFrame,
      qs: Seq[Int] = Seq(50, 95, 99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      "percentiles in [1, 100]")
    // three passes share the fixed-point carrier (grid bounds,
    // registers, exact audit) — persist the 2-column projection once
    val cents = graft.Caches.register(
      orders.select(col("o_orderpriority"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bounds = cents.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
      .collect().head // 1 row — a bounded grid constant, like a count
    require(!bounds.isNullAt(0),
      "priceQuantilesOn: empty input relation — no grid can be derived")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L,
      ((hi - lo + 1L) + AutoBuckets - 1) / AutoBuckets)
    val regs = cents
      .withColumn("b", expr(s"(c - $lo) div $width"))
      .groupBy("o_orderpriority", "b").agg(count(lit(1)).as("cnt"))
    val regsAll = regs.withColumn("o_orderpriority", lit("ALL"))
      .groupBy("o_orderpriority", "b").agg(sum(col("cnt")).as("cnt"))
    val est = cumQuantiles(regs.union(regsAll), Seq("o_orderpriority"),
      "b", qs, "pb")
    val vals = cents.groupBy("o_orderpriority", "c")
      .agg(count(lit(1)).as("cnt"))
    val valsAll = vals.withColumn("o_orderpriority", lit("ALL"))
      .groupBy("o_orderpriority", "c").agg(sum(col("cnt")).as("cnt"))
    val exact = cumQuantiles(vals.union(valsAll), Seq("o_orderpriority"),
      "c", qs, "pe")
    val outCols = qs.flatMap(q => Seq(
      (lit(lo) + col(s"pb$q") * lit(width)).as(s"p${q}_est_cents"),
      col(s"pe$q").as(s"p${q}_exact_cents")))
    est.join(exact, Seq("o_orderpriority"))
      .select(col("o_orderpriority") +:
        (lit(lo).as("grid_lo_cents") +: lit(width).as("grid_width_cents") +:
          outCols): _*)
      .orderBy("o_orderpriority")
  }

  /** Default heavy-hitter threshold: 1.05% of occurrences (phi in ppm). */
  val DefaultPhiPpm: Long = 10500L

  /** Default Misra–Gries summary size; k ≥ 1e6/phi keeps the guarantee. */
  val DefaultMgK: Int = 128

  /** q139: frequent items over the event stream's `props.k` catalog —
    * every item carrying > phi of all occurrences, with its EXACT
    * count. Two passes: (1) map-only Misra–Gries per partition (k
    * counters of bounded memory; the union of partition summaries is a
    * guaranteed superset of the true heavy hitters for k ≥ 1/phi), (2)
    * exact counts of the ≤ k·partitions candidates via a broadcast
    * semi-filter + hash-agg — only candidate occurrences are counted,
    * so the aggregate's key domain is candidate-bounded, never
    * catalog-bounded. Output is exact ⇒ independent of partitioning and
    * MG merge order, which is what makes a sketch oracle-checkable. */
  def heavyHitters(spark: SparkSession, dir: String,
      phiPpm: Long = DefaultPhiPpm, k: Int = DefaultMgK): DataFrame = {
    val items = Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
    heavyHittersOn(items, "item", phiPpm, k)
  }

  /** [[heavyHitters]] over an explicit single-column relation. */
  def heavyHittersOn(df: DataFrame, itemCol: String,
      phiPpm: Long, k: Int): DataFrame = {
    require(phiPpm >= 1 && phiPpm <= 1000000L, "phiPpm in [1, 1e6]")
    // CEILING division: the superset guarantee needs k+1 >= 1/phi
    // exactly; truncating 1e6/phiPpm would admit a k one below the real
    // bound whenever phiPpm does not divide 1e6 (phiPpm=10500 needs
    // k+1 >= 95.24, i.e. 96) — and a too-small k silently DROPS items
    // just above the threshold, violating the EXACT-output contract
    val kMin = (1000000L + phiPpm - 1) / phiPpm - 1
    require(k >= kMin,
      s"k=$k too small for phi=$phiPpm ppm: the Misra-Gries superset " +
        s"guarantee needs k >= $kMin")
    val spark = df.sparkSession
    import spark.implicits._
    // BOTH passes traverse the item column (candidates, then exact
    // counts), so materialize the 8-byte projection once — the carrier
    // is one column, not the fact table, and spills past memory. This
    // also pays the upstream extraction (a JSON path here) once.
    val items = graft.Caches.register(
      df.select(col(itemCol).cast("long").as(itemCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cand = items.as[Long].mapPartitions(it => misraGries(it, k))
      .toDF(itemCol).distinct()
    val tot = items.agg(count(lit(1)).as("n")) // 1 row — broadcast scalar
    items.join(broadcast(cand), itemCol) // map-only candidate filter
      .groupBy(itemCol).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .where(col("cnt") * lit(1000000L) > col("n") * lit(phiPpm))
      .select(col(itemCol), col("cnt"))
      .orderBy(desc("cnt"), col(itemCol))
  }

  /** Misra–Gries summary of one partition: at most k counters; every
    * value with partition frequency > n_p/(k+1) survives. Decrement-all
    * is amortized O(1) per element (each decrement round consumes k+1
    * units of accumulated count mass). Returns surviving KEYS only —
    * counts are sketch-order-dependent and deliberately discarded. */
  private[operators] def misraGries(it: Iterator[Long],
      k: Int): Iterator[Long] = {
    val m = scala.collection.mutable.HashMap.empty[Long, Long]
    while (it.hasNext) {
      val x = it.next()
      m.get(x) match {
        case Some(c) => m.update(x, c + 1L)
        case None if m.size < k => m.update(x, 1L)
        case None =>
          // decrement every counter; evict the ones that hit zero
          m.mapValuesInPlace((_, v) => v - 1L)
          m.filterInPlace((_, v) => v > 0L)
      }
    }
    m.keysIterator.toArray.iterator
  }

  // ——— Count–Min sketch (point-frequency estimates) ———
  //
  // The fourth sketch family, completing the approximate-aggregation
  // layer: HLL answers "how many distinct", KMV answers set algebra,
  // Misra–Gries + exact verify answers "which items are heavy", the
  // histogram answers quantiles — Count–Min (Cormode & Muthukrishnan
  // 2005) answers "how often does THIS item occur" for ANY item,
  // heavy or not, from d·w counters regardless of traffic. Same
  // relational discipline: the sketch IS a relation (d, w, cnt) built
  // by ONE hash-aggregate with map-side partial sums (≤ d·w rows per
  // scope on the shuffle), SUM-mergeable like the histogram registers
  // (additive → the streaming sink is the accumulated-partials
  // pattern), and the estimate — min over the d probed counters — is
  // all-integer with a ONE-SIDED error (est ≥ exact always, over-count
  // ≤ e·n/w with prob 1−e^−d), which the audit column makes assertable
  // rather than asserted.

  /** Counter rows (pairwise-independent hash families). */
  val CmsDepth: Int = 4

  /** Counters per row: err ≤ e·n/2048 ≈ 0.13% of total occurrences. */
  val CmsWidth: Int = 2048

  /** Row-d hash of an item — md5-60("cms<d>:"+item) mod width; the
    * driver-side twin is [[cmsProbePositions]]. */
  private def cmsHash(d: Int, item: Column, width: Int): Column =
    conv(substring(md5(concat(lit(s"cms$d:"), item.cast("string"))),
      1, 15), 16, 10).cast("long") % width

  /** Driver-side twin of [[cmsHash]] for probe keys. */
  def cmsProbePositions(item: Long,
      width: Int = CmsWidth): Seq[(Int, Long)] =
    (0 until CmsDepth).map(d =>
      (d, graft.functions.TextFunctions.md5LongScala(s"cms$d:$item") % width))

  /** The CMS as a relation: one row per observed (d, w) counter. ONE
    * hash-aggregate — the explode is map-only and partial sums cap the
    * shuffle at d·w rows per task. */
  def cmsRegisters(df: DataFrame, itemCol: String,
      width: Int = CmsWidth): DataFrame =
    df.select(explode(array((0 until CmsDepth).map(d =>
        struct(lit(d).as("d"),
          cmsHash(d, col(itemCol), width).as("w"))): _*)).as("dw"))
      .select(col("dw.d").as("d"), col("dw.w").as("w"))
      .groupBy("d", "w").agg(count(lit(1)).as("cnt"))

  /** Point-frequency estimates for an item relation over a register
    * relation: min over the d probed counters, 0 for never-seen items
    * (an absent register IS a zero counter). Shared with the streaming
    * snapshot ([[graft.streaming.SketchStream.cmsTableEstimates]]). */
  def cmsEstimates(regs: DataFrame, items: DataFrame, itemCol: String,
      width: Int = CmsWidth): DataFrame = {
    val probe = items.select(col(itemCol),
        explode(array((0 until CmsDepth).map(d =>
          struct(lit(d).as("d"),
            cmsHash(d, col(itemCol), width).as("w"))): _*)).as("dw"))
      .select(col(itemCol), col("dw.d").as("d"), col("dw.w").as("w"))
    probe.join(regs, Seq("d", "w"), "left")
      .groupBy(itemCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  /** q149: Count–Min frequencies of the whole `props.k` catalog,
    * audited against the exact counts — the err column is the
    * one-sided collision overshoot (est − exact ≥ 0 BY CONSTRUCTION;
    * the spec asserts it, the oracle hashes it). At 100 TB the exact
    * branch drops and arbitrary items are answered from d·w counters;
    * the catalog probe here doubles as accuracy measurement. */
  def cmsCounts(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
    cmsCountsOn(items, "item")
  }

  /** [[cmsCounts]] over an explicit single-column relation. */
  def cmsCountsOn(df: DataFrame, itemCol: String,
      width: Int = CmsWidth): DataFrame = {
    // both the register build and the exact audit traverse the items —
    // one persisted 8-byte carrier pays the upstream extraction once
    // (the q139 discipline)
    val items = graft.Caches.register(
      df.select(col(itemCol).cast("long").as(itemCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val regs = cmsRegisters(items, itemCol, width)
    val exact = items.groupBy(itemCol)
      .agg(count(lit(1)).as("exact_cnt"))
    cmsEstimates(regs, exact.select(col(itemCol)), itemCol, width)
      .join(exact, Seq(itemCol))
      .withColumn("err", col("est_cnt") - col("exact_cnt"))
      .orderBy(itemCol)
  }

  // ——— KMV (k-minimum-values / theta) distinct sketch ———
  //
  // The third sketch family, chosen for what HLL registers CANNOT do:
  // set INTERSECTION. HLL only unions (max-merge), so q144's overlap
  // goes through inclusion–exclusion and its error grows with the
  // UNION size; a KMV sketch is a uniform hash-sample of the distinct
  // universe (Bar-Yossef et al. 2002; Beyer et al. 2007 "On synopses
  // for distinct-value estimation"), so intersections are estimated
  // DIRECTLY from sample membership (the theta-sketch algebra) and the
  // error scales with the intersection, not the union. Same relational
  // discipline as HLL: the sketch IS a relation — the k smallest
  // distinct hash values per scope — built bounded-memory (a
  // mapPartitions min-k pass, the Misra–Gries shape) and merged by
  // "union then re-top-k", which is idempotent/commutative/associative
  // on SETS, so persisted sketch tables fold exactly like HLL registers.

  /** Default KMV size: 64 minima ≈ 1/√(k−2) ≈ 12.7% standard error —
    * deliberately small so the ESTIMATOR path (not the nreg<k exact
    * path) is exercised at every test scale (sf0.01 has 150 distinct
    * users per type). Production would run 1024–4096. */
  val DefaultKmvK: Int = 64

  /** Hash range R = 2^60 (md5-60, [[graft.functions.TextFunctions]]
    * convention): the KMV estimator is (k−1)·R div h_(k). */
  val KmvRange: Long = 1L << 60

  /** The shared 60-bit hash, domain-separated from HLL's ("kmv:" vs
    * "hll:") so the two sketch families never correlate. */
  private[graft] def kmvHash(value: Column): Column =
    conv(substring(md5(concat(lit("kmv:"), value)), 1, 15), 16, 10)
      .cast("long")

  /** Keep the k smallest DISTINCT `h` per scope group of `regs` — the
    * merge step of the KMV algebra (union of sketches → re-top-k) and
    * the global step of the two-level build. Input is sketch-sized
    * (≤ k·partitions rows per scope from [[kmvRegisters]]' local pass,
    * or ≤ k·members from a merge), so the window sort is tiny. */
  def kmvTopK(regs: DataFrame, scopeCols: Seq[String],
      k: Int = DefaultKmvK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(scopeCols.map(col): _*).orderBy(col("h"))
    regs.select(scopeCols.map(col) :+ col("h"): _*).distinct()
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k).drop("rn")
  }

  /** The KMV sketch as a relation: the k smallest distinct 60-bit
    * hashes per scope. Two-level build (the MG two-pass shape): a
    * bounded-memory per-partition min-k pass caps every task's
    * contribution at k rows per scope — the shuffle carries
    * k·partitions rows per scope, never the distinct universe (an
    * exact distinct shuffles every unique key; this is the whole
    * 100 TB argument) — then [[kmvTopK]] finishes globally. Output is
    * the EXACT k smallest distinct hashes: deterministic under any
    * partitioning, which is what makes a KMV relation oracle-checkable
    * (contrast a merged HLL register value, which is also exact, vs an
    * MG counter, which is not). */
  def kmvRegisters(df: DataFrame, scopeCol: String, value: Column,
      k: Int = DefaultKmvK): DataFrame = {
    require(k >= 2 && k <= 65536, "kmv k in [2, 65536]")
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = df
      .select(col(scopeCol).cast("string").as("scope"),
        kmvHash(value).as("h"))
      .as[(String, Long)]
    val local = hashed.mapPartitions(it => minKDistinct(it, k))
      .toDF("scope", "h")
    kmvTopK(local, Seq("scope"), k)
      .select(col("scope").as(scopeCol), col("h"))
  }

  /** Per-partition bounded min-k distinct pass: one TreeSet of ≤ k
    * hashes per scope seen in the partition (genuine imperative
    * bounded-memory summary — the mapPartitions escape hatch used
    * exactly as in [[misraGries]]). The k smallest distinct values of
    * the whole data are a subset of the union of per-partition k
    * smallest distinct values, so the global [[kmvTopK]] re-top-k is
    * exact. */
  private[graft] def minKDistinct(it: Iterator[(String, Long)],
      k: Int): Iterator[(String, Long)] = {
    val m = scala.collection.mutable.HashMap
      .empty[String, java.util.TreeSet[java.lang.Long]]
    while (it.hasNext) {
      val (s, h) = it.next()
      val ts = m.getOrElseUpdate(s, new java.util.TreeSet[java.lang.Long]())
      if (ts.size < k) ts.add(h)
      else if (h < ts.last()) { if (ts.add(h)) ts.pollLast() }
    }
    m.iterator.flatMap { case (s, ts) =>
      val arr = new Array[(String, Long)](ts.size)
      val jt = ts.iterator(); var i = 0
      while (jt.hasNext) { arr(i) = (s, jt.next().longValue()); i += 1 }
      arr.iterator
    }
  }

  /** KMV estimate per scope from a register relation. All-integer:
    * with a full sketch (nreg = k), est = (k−1)·2^60 div h_(k) (the
    * unbiased KMV estimator — h_(k) is the k-th smallest = max of the
    * kept minima); with nreg < k the sketch saw the WHOLE distinct
    * universe and nreg IS the exact answer (the small-range regime HLL
    * needs a correction table for falls out of KMV for free). */
  def kmvEstimate(regs: DataFrame, scopeCols: Seq[String],
      k: Int = DefaultKmvK): DataFrame =
    regs.groupBy(scopeCols.map(col): _*)
      .agg(count(lit(1)).as("nreg"), max(col("h")).as("hk"))
      .withColumn("est_distinct", expr(
        s"CASE WHEN nreg < $k THEN nreg " +
          s"ELSE CAST(CAST(${k - 1} AS DECIMAL(38,0)) * $KmvRange " +
          s"div greatest(hk, 1) AS BIGINT) END"))
      .select(scopeCols.map(col) :+ col("est_distinct"): _*)

  /** q146: KMV distinct users per event type + the cross-type union
    * derived by MERGING the per-type sketches (union → re-top-k, no
    * fact rescan), audited against the exact distinct (err_ppm) — the
    * q137 surface re-answered by the second sketch family, so the two
    * estimators cross-check each other in one warehouse. */
  def kmvUsers(spark: SparkSession, dir: String): DataFrame =
    kmvUsersOn(Tables.events(spark, dir))

  /** [[kmvUsers]] over an explicit (event_type, user_id) relation. */
  def kmvUsersOn(events: DataFrame, k: Int = DefaultKmvK): DataFrame = {
    val ev = events.select(col("event_type"),
      col("user_id").cast("string").as("uid"))
    val regs = graft.Caches.register(
      kmvRegisters(ev, "event_type", col("uid"), k).cache())
    val all = kmvTopK(regs.withColumn("event_type", lit("ALL")),
      Seq("event_type"), k)
    val est = kmvEstimate(regs, Seq("event_type"), k)
      .union(kmvEstimate(all, Seq("event_type"), k))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("uid")).as("exact_distinct"))
      .union(ev.agg(countDistinct(col("uid")).as("exact_distinct"))
        .withColumn("event_type", lit("ALL"))
        .select(col("event_type"), col("exact_distinct")))
    est.join(exact, Seq("event_type"))
      .withColumn("err_ppm", expr(
        "CAST(CAST(abs(est_distinct - exact_distinct) AS DECIMAL(38,0)) " +
          "* 1000000 div exact_distinct AS BIGINT)"))
      .orderBy("event_type")
  }

  /** q147: audience overlap via the THETA-SKETCH algebra — the direct
    * answer to q144's inclusion–exclusion weakness. For each type pair,
    * the union sketch K_u = top-k of (S_a ∪ S_b) is a uniform sample of
    * the union's distinct universe; every member's presence in S_a and
    * S_b is checkable BY CONSTRUCTION (a sample hash below a sketch's
    * threshold is in that sketch iff it was in that scope), so
    * |A∩B| ≈ matches·est(A∪B)/|K_u| and Jaccard = matches/|K_u| come
    * straight from membership counting — error ∝ the intersection,
    * not the union. All pair sketches derive from the SAME cached
    * per-type register relation (explode → equi-join, no fact rescan);
    * exact audit columns ship as always. */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame =
    kmvOverlapOn(Tables.events(spark, dir))

  /** The theta set-algebra stage alone: pairwise overlap/Jaccard
    * ESTIMATES from a per-scope KMV register relation — what a sketch
    * WAREHOUSE evaluates over persisted minima without any source
    * rescan ([[graft.streaming.SketchStream.kmvTableOverlap]] serves
    * exactly this over the streamed sink). */
  def kmvOverlapFromRegs(regs: DataFrame, k: Int = DefaultKmvK): DataFrame = {
    val membership = typePairs(regs).select(col("type_a"), col("type_b"),
      explode(array(col("type_a"), col("type_b"))).as("event_type"))
    val ku = kmvTopK(
      membership.join(regs, Seq("event_type"))
        .select(col("type_a"), col("type_b"), col("h")),
      Seq("type_a", "type_b"), k)
    val inA = regs.select(col("event_type").as("type_a"), col("h"),
      lit(1).as("in_a"))
    val inB = regs.select(col("event_type").as("type_b"), col("h"),
      lit(1).as("in_b"))
    ku
      .join(inA, Seq("type_a", "h"), "left")
      .join(inB, Seq("type_b", "h"), "left")
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("kun"),
        sum(expr("CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END"))
          .as("matches"),
        max(col("h")).as("hk"))
      .withColumn("union_est", expr(
        s"CASE WHEN kun < $k THEN kun " +
          s"ELSE CAST(CAST(${k - 1} AS DECIMAL(38,0)) * $KmvRange " +
          s"div greatest(hk, 1) AS BIGINT) END"))
      .withColumn("jaccard_ppm", expr(
        "CAST(CAST(matches AS DECIMAL(38,0)) * 1000000 div kun AS BIGINT)"))
      .withColumn("overlap_est", expr(
        "CAST(CAST(matches AS DECIMAL(38,0)) * union_est div kun AS BIGINT)"))
  }

  /** The exact-audit tail shared by [[kmvOverlapOn]] (whole corpus)
    * and [[kmvOverlapRangeOn]] (date range): join the theta estimates
    * with the exact pairwise intersection and Jaccard over the same
    * `(event_type, uid)` membership relation. At 100 TB the audit
    * drops and only `stats` ships. */
  private def overlapWithAudit(stats: DataFrame, ev: DataFrame): DataFrame = {
    // the distinct membership relation feeds THREE readers (both
    // self-join sides and the per-type exact counts) and nothing
    // reuses its exchange across the differently-aliased branches —
    // uncached, the event parse + distinct ran per branch (read off
    // the q147 plan: 3 of its 5 event scans were this relation)
    val m = graft.Caches.register(ev.distinct().cache())
    val exo = m.select(col("event_type").as("type_a"), col("uid"))
      .join(m.select(col("event_type").as("type_b"), col("uid")), Seq("uid"))
      .where(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("overlap_exact"))
    // count over the distinct membership ≡ countDistinct over the raw
    // events — one cache read instead of a second two-phase agg scan
    val exd = graft.Caches.register(m.groupBy("event_type")
      .agg(count(lit(1)).as("ed")).cache()) // read as ea and eb
    val exdA = exd.select(col("event_type").as("type_a"), col("ed").as("ea"))
    val exdB = exd.select(col("event_type").as("type_b"), col("ed").as("eb"))
    stats
      .join(exo, Seq("type_a", "type_b"), "left")
      .withColumn("overlap_exact", coalesce(col("overlap_exact"), lit(0L)))
      .join(exdA, Seq("type_a")).join(exdB, Seq("type_b"))
      .withColumn("jaccard_exact_ppm", expr(
        "CAST(CAST(overlap_exact AS DECIMAL(38,0)) * 1000000 " +
          "div (ea + eb - overlap_exact) AS BIGINT)"))
      .select(col("type_a"), col("type_b"), col("union_est"),
        col("overlap_est"), col("overlap_exact"),
        col("jaccard_ppm"), col("jaccard_exact_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** [[kmvOverlap]] over an explicit (event_type, user_id) relation. */
  def kmvOverlapOn(events: DataFrame, k: Int = DefaultKmvK): DataFrame = {
    val ev = events.select(col("event_type"),
      col("user_id").cast("string").as("uid"))
    val regs = graft.Caches.register(
      kmvRegisters(ev, "event_type", col("uid"), k).cache())
    overlapWithAudit(kmvOverlapFromRegs(regs, k), ev)
  }

  // ——— day-grain KMV: range intersections (q156) ——————————————————

  /** Composite-scope separator for the day-grain register build —
    * never appears in an event type or an ISO date. */
  private val ScopeSep = "\u0001"

  /** Day-grain KMV register relation: the k smallest distinct hashes
    * per (event_type, dt) — the storage grain that makes any date
    * range answerable by union → re-top-k at read time (the q138/q152
    * rollup discipline for the sketch family that can INTERSECT).
    * Built through [[kmvRegisters]]' bounded-memory two-level pass on
    * a composite scope. */
  def kmvRegistersDaily(ev: DataFrame, k: Int = DefaultKmvK): DataFrame =
    kmvRegisters(
      ev.withColumn("scope_td",
        concat_ws(ScopeSep, col("event_type"), col("dt"))),
      "scope_td", col("uid"), k)
      .select(substring_index(col("scope_td"), ScopeSep, 1).as("event_type"),
        substring_index(col("scope_td"), ScopeSep, -1).as("dt"), col("h"))

  /** q156: audience overlap for an ARBITRARY date range — the query
    * only the KMV family can serve from storage ("distinct users in
    * [from, to] present in BOTH event types"): q152's HLL range
    * rollups answer range UNIONS (max is associative) but registers
    * cannot intersect; here the day-grain KMV table's rows for the
    * range re-top-k into per-type range sketches (min-k over sets is
    * associative — merge-of-days ≡ build-over-range, which is exactly
    * what the oracle pins) and the q147 theta membership counting
    * yields the intersection directly. Exact audit ships as always;
    * at 100 TB only the stored day rows are touched. */
  def kmvOverlapRange(spark: SparkSession, dir: String,
      from: String = DefaultRangeFrom, to: String = DefaultRangeTo,
      k: Int = DefaultKmvK): DataFrame =
    kmvOverlapRangeOn(Tables.events(spark, dir), from, to, k)

  /** [[kmvOverlapRange]] over an explicit (event_type, ts, user_id)
    * relation. */
  def kmvOverlapRangeOn(events: DataFrame, from: String, to: String,
      k: Int = DefaultKmvK): DataFrame = {
    require(from <= to, s"from '$from' must be <= to '$to' (ISO dates)")
    val ev = events.select(col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd").as("dt"),
      col("user_id").cast("string").as("uid"))
    // the day-grain sketch table (what a warehouse persists)
    val daily = graft.Caches.register(kmvRegistersDaily(ev, k).cache())
    // cached: the theta algebra reads it five times
    val rangeRegs = graft.Caches.register(kmvTopK(
      daily.where(col("dt").between(from, to))
        .select(col("event_type"), col("h")),
      Seq("event_type"), k).cache())
    overlapWithAudit(kmvOverlapFromRegs(rangeRegs, k),
      ev.where(col("dt").between(from, to))
        .select(col("event_type"), col("uid")))
  }
}
