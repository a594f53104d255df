package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Bucketed-warehouse layout: the shuffle-elimination path for the big
  * fact⋈fact join at scale.
  *
  * orders ⋈ lineitem shuffles both sides on orderkey every query. At
  * 100 TB that shuffle IS the query cost, so the warehouse stores both
  * facts bucketed (and sorted) by the join key: Spark then plans a
  * sort-merge join with NO Exchange on either side — each bucket pair
  * joins locally. The same layout serves every downstream orderkey
  * join/aggregation for free; `BucketingSpec` asserts the plan has no
  * shuffle before the join.
  */
object Warehouse {

  /** Write orders + lineitem bucketed by orderkey into the session
    * catalog (idempotent: overwrites). `buckets` would be sized at
    * cluster scale (e.g. ~2× executors); tests use a small count. */
  def bucketize(spark: SparkSession, dir: String, buckets: Int = 8): Unit = {
    // drop table AND any orphaned location (a killed prior session leaves
    // the directory behind while the in-memory catalog forgets the table)
    Seq("orders_bkt", "lineitem_bkt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
      if (loc.exists()) deleteRecursively(loc)
    }
    Tables.orders(spark, dir).write
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_bkt")
    Tables.lineitem(spark, dir).write
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_bkt")
  }

  /** The order-wide join over the bucketed layout — same result as
    * `OrderWide.orderWide`, shuffle-free plan. */
  def orderWideBucketed(spark: SparkSession): DataFrame = {
    val o = spark.table("orders_bkt")
    val li = spark.table("lineitem_bkt")
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select(
        col("o_orderkey").as("order_id"),
        col("l_linenumber").as("detail_id"),
        col("o_custkey").as("user_id"),
        col("l_extendedprice").as("order_price"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("split_total_amount"))
  }

  /** SCD Type-2 dimension history from the CDC-normalized change feed —
    * the warehouse-side extension of the reference's dim path: its Redis
    * upsert (K3, `ods_BaseDBApp.scala:100-115`) keeps only the LATEST
    * dimension row; a Type-2 build keeps every version with its validity
    * interval, the standard Kimball treatment.
    *
    * Change detection is null-safe value comparison per key in event
    * order (ties broken by the change sequence id): a change row that
    * repeats the current attribute value opens NO new version — only
    * transitions do. `valid_to` of a version is the `valid_from` of the
    * next (half-open intervals); the open version has null `valid_to`
    * and `is_current = 1`. Timestamps surface as epoch MICROS (BIGINT)
    * — engine-independent, no format round-trip.
    *
    * Scale shape: ONE shuffle on the dimension key; the change-filter
    * preserves partitioning and sort order, so the second window (the
    * lead) plans with no new Exchange. Nothing is driver-side; a key's
    * history never leaves its partition. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    // the q08/T6 CDC contract: signup/purchase are inserts, click/view
    // are updates (all carry the attribute), 'error' rows are dropped
    val changes = Tables.events(spark, dir)
      .where(col("event_type").isin("signup", "purchase", "click", "view"))
      .select(col("user_id").as("key"), col("ts"),
        col("event_id").as("seq"),
        from_json(col("props"), Demux.propsSchema).getField("k").as("attr"))
    scd2HistoryOn(changes)
  }

  /** [[scd2History]] over an explicit change relation
    * (key, ts, seq, attr) — `seq` totally orders same-timestamp changes
    * of one key (a CDC log's offset). */
  def scd2HistoryOn(changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("key").orderBy(col("ts"), col("seq"))
    val transitions = changes
      .withColumn("prev_attr", lag(col("attr"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      // null-safe: a null→value or value→null flip IS a transition; a
      // repeated value (null included) is not
      .where(col("rn") === 1 || !(col("attr") <=> col("prev_attr")))
    transitions
      .select(col("key"),
        row_number().over(w).cast("long").as("version"),
        col("attr"),
        unix_micros(col("ts").cast("timestamp")).as("valid_from_us"),
        lead(unix_micros(col("ts").cast("timestamp")), 1).over(w).as("valid_to_us"))
      .withColumn("is_current",
        when(col("valid_to_us").isNull, lit(1)).otherwise(lit(0)))
      .orderBy("key", "version")
  }

  // ——— Z-order data layout (multi-dimensional clustering) ———

  /** Bits per dimension in the interleaved key. 21 bits cover values
    * up to 2,097,151 — the event `user_id` domain through sf100 and the
    * whole `props.k` catalog; a wider domain needs a wider key (bits
    * above `ZBits` would alias distant values into one quadrant). */
  val ZBits: Int = 21

  /** Default quadrant shift: file = zkey >> 10, i.e. a 32×32-aligned
    * rectangle of (x, y) space per file. */
  val ZShift: Int = 10

  /** The bit-interleave as a SQL arithmetic string — SHARED with the
    * DuckDB oracle (SparkEntry interpolates the same string), so both
    * engines evaluate literally identical shift/mask sums. `x` takes
    * the odd bit positions (major), `y` the even. */
  def zorderTermsSql(x: String, y: String, bits: Int = ZBits): String =
    (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i + 1})",
      s"((($y >> $i) & 1) << ${2 * i})")).mkString(" + ")

  /** zkey with a LIVE domain assertion: a value outside [0, 2^ZBits)
    * (or null) would silently alias into a wrong quadrant — bits above
    * `ZBits` are simply dropped by the interleave — and reader-side
    * quadrant pruning would then skip files that DO contain matching
    * rows. The assert is woven into the zkey itself (IF(assert IS
    * NULL, ...)) so column pruning can never optimize the check away;
    * it is map-only and costs two comparisons per row. The oracle
    * interpolates only [[zorderTermsSql]] — for in-domain data the
    * guarded expression is value-identical. */
  private def zkeyGuardedSql(x: String, y: String): String = {
    val lim = 1L << ZBits
    s"IF(assert_true($x >= 0 AND $x < $lim AND $y >= 0 AND $y < $lim, " +
      s"'z-order domain violated: $x/$y must be in [0, $lim) " +
      s"(wider domains need a wider ZBits key)') IS NULL, " +
      s"${zorderTermsSql(x, y)}, NULL)"
  }

  /** q140: the Z-order layout report over the (user_id, item) event
    * space — the multi-dimensional clustering pass (Delta/Iceberg
    * `OPTIMIZE ZORDER BY`) a 100 TB warehouse runs so that range
    * predicates on EITHER dimension prune files. File assignment is
    * `zkey >> shift`: a fixed z-curve quadrant (a 2^(shift/2)-square
    * rectangle of key space) — MAP-ONLY, no global sort, embarrassingly
    * parallel, and deterministic under any partitioning (contrast
    * row_number-based file splits, which need a total order). The
    * report is each file's row count and per-dimension min/max — the
    * parquet-footer stats a scan planner would prune on; bounded
    * bounding boxes on both dimensions are the whole point (a
    * row-arrival layout bounds neither). */
  def zorderLayout(spark: SparkSession, dir: String,
      shift: Int = ZShift): DataFrame =
    zorderLayoutOn(
      graft.Tables.events(spark, dir)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .where(col("item").isNotNull),
      "user_id", "item", shift)

  /** [[zorderLayout]] over an explicit two-dimension relation. */
  def zorderLayoutOn(df: DataFrame, x: String, y: String,
      shift: Int): DataFrame = {
    require(shift >= 2 && shift <= 2 * ZBits && shift % 2 == 0,
      "shift must be even, in [2, 2*ZBits] (square quadrants)")
    df.withColumn("zkey", expr(zkeyGuardedSql(x, y)))
      .withColumn("file_id", expr(s"zkey div ${1L << shift}"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("cnt"),
        min(col(x)).as("u_min"), max(col(x)).as("u_max"),
        min(col(y)).as("i_min"), max(col(y)).as("i_max"))
      .orderBy("file_id")
  }

  /** The write path: cluster `df` into z-quadrant files on disk
    * (`file_id=<q>` partitions). At cluster scale the same expression
    * feeds `repartitionByRange(zkey)` + a sorted write; the partitioned
    * form keeps the quadrant boundary VISIBLE to the reader — a
    * predicate on either dimension becomes a `file_id IN (...)`
    * partition filter (see the spec's pruning assertion). */
  def zorderWrite(df: DataFrame, x: String, y: String, outDir: String,
      shift: Int = ZShift): Unit = {
    df.withColumn("zkey", expr(zkeyGuardedSql(x, y)))
      .withColumn("file_id", expr(s"zkey div ${1L << shift}"))
      .drop("zkey")
      .repartition(col("file_id"))
      .write.mode("overwrite").partitionBy("file_id").parquet(outDir)
    // the version's manifest (the [[Layouts]] indirection): erasure
    // writes successor versions that SHARE untouched quadrant files
    Layouts.writeOwnManifest(df.sparkSession, outDir)
    Layouts.writeSchemaSidecar(
      df.sparkSession.read.parquet(outDir), outDir)
  }

  /** Z-layouts: slot (dir, shift), version the events fingerprint; a
    * refresh retires the superseded layout and its served lineage. */
  private[graft] val zlayoutMemo = new graft.Memo[(String, Int), Long, String](
    retire = { case ((dir, shift), stale) =>
      graft.IndexGc.retire(s"zlayout:$dir:$shift", stale.flatMap(p =>
        Seq(p, Layouts.manifestPath(p), Layouts.schemaPath(p)) ++
          BloomSkip.lineagePathsOf(p))) })

  /** The materialized z-order layout of the (user_id, item) event
    * space for `dir`: built on first request, reused for the JVM
    * lifetime until the source data changes (fingerprint key — the
    * [[Ranking.postingsFileCached]] discipline: a refresh writes a NEW
    * directory and retires the old one to the deferred reaper, never
    * overwriting files a concurrent scan may hold). */
  def zlayoutCached(spark: SparkSession, dir: String,
      shift: Int = ZShift): String = {
    val fp = Tables.fingerprint(dir, "events")
    zlayoutMemo.get((dir, shift), fp) {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val p = sys.props("java.io.tmpdir") +
        s"/graft-zlayout-$tag-s$shift-f${java.lang.Long.toHexString(fp)}"
      zorderWrite(
        graft.Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .where(col("item").isNotNull),
        "user_id", "item", p, shift)
      Layouts.commitVersionIfAbsent(BloomSkip.lineageLogOf(p), p)
      p
    }
  }

  /** Quadrant-enumeration cap for [[zorderScan]]: past this, the
    * rectangle covers so much of the space that partition pruning
    * cannot help, and enumerating the grid driver-side would be the
    * new cost — fall back to a plain filtered scan. */
  val MaxPrunedQuadrants: Long = 4096L

  /** q145: the SERVED z-order range scan — rows with `user_id ∈
    * [uLo, uHi]` and `item ∈ [iLo, iHi]`, read from the materialized
    * z-layout through `file_id IN (quadrants)` PARTITION pruning (the
    * reader-side payoff [[zorderWrite]] exists for: the scan touches
    * only the ≤ (range/32)² quadrant directories either predicate
    * maps to, not the corpus). The exact predicate re-applies after
    * pruning, so a pruning bug can only fail loudly (missing rows vs
    * the oracle), never emit wrong rows. Rectangles wider than
    * [[MaxPrunedQuadrants]] quadrants scan with the plain predicate —
    * pruning can't help a scan that touches most files anyway. */
  def zorderScan(spark: SparkSession, dir: String,
      uLo: Long, uHi: Long, iLo: Long, iHi: Long,
      shift: Int = ZShift): DataFrame =
    zorderScanIn(spark, zlayoutCached(spark, dir, shift),
      uLo, uHi, iLo, iHi, shift)

  /** [[zorderScan]] against an explicit layout VERSION — also the
    * probe stage over a post-erasure version ([[zorderForgetScan]]).
    * Reads THROUGH the manifest: quadrant pruning resolves only the
    * candidate directories (path-level — a pruned quadrant is never
    * listed), and a version shares untouched quadrant files with its
    * parent. */
  def zorderScanIn(spark: SparkSession, versionPath: String,
      uLo: Long, uHi: Long, iLo: Long, iHi: Long,
      shift: Int = ZShift): DataFrame = {
    val lim = 1L << ZBits
    require(0 <= uLo && uLo <= uHi && uHi < lim &&
      0 <= iLo && iLo <= iHi && iHi < lim,
      s"bounds must satisfy 0 <= lo <= hi < $lim in both dimensions")
    val mf = Layouts.manifestOf(spark, versionPath)
    val cell = 1L << (shift / 2)
    val nQuads = (uHi / cell - uLo / cell + 1) * (iHi / cell - iLo / cell + 1)
    val base =
      if (nQuads <= MaxPrunedQuadrants) {
        val cands = zorderQuadrants(uLo, uHi, iLo, iHi, shift)
          .toSet.intersect(mf.keySet)
        if (cands.isEmpty) Layouts.emptyLike(spark, versionPath)
        else Layouts.readFiles(spark, versionPath, Some(cands))
      } else Layouts.readFiles(spark, versionPath, None)
    base
      .where(col("user_id").between(uLo, uHi) &&
        col("item").between(iLo, iHi))
      .select(col("event_id"), col("user_id"), col("item"))
      .orderBy("event_id")
  }

  /** The quadrants a range predicate `x ∈ [xLo, xHi], y ∈ [yLo, yHi]`
    * can touch — the reader-side pruning computation (driver-side over
    * the quadrant grid, ≤ (range/cell)² cells). Pass `Long.MaxValue`
    * bounds for an unconstrained dimension capped at `max+1`. */
  def zorderQuadrants(xLo: Long, xHi: Long, yLo: Long, yHi: Long,
      shift: Int = ZShift): Seq[Long] = {
    require(shift % 2 == 0, "shift must be even (square quadrants)")
    val cell = 1L << (shift / 2) // quadrant side in each dimension
    (for {
      qx <- xLo / cell to xHi / cell
      qy <- yLo / cell to yHi / cell
    } yield interleaveScala(qx * cell, qy * cell) >> shift).distinct.sorted
  }

  /** Driver-side twin of [[zorderTermsSql]] for plan-time constants. */
  def interleaveScala(x: Long, y: Long): Long =
    (0 until ZBits).foldLeft(0L)((acc, i) =>
      acc + (((x >> i) & 1L) << (2 * i + 1)) + (((y >> i) & 1L) << (2 * i)))

  /** Inverse of [[interleaveScala]]: the (x, y) a z-key encodes. */
  def deinterleaveScala(z: Long): (Long, Long) =
    (0 until ZBits).foldLeft((0L, 0L)) { case ((x, y), i) =>
      (x | (((z >> (2 * i + 1)) & 1L) << i),
        y | (((z >> (2 * i)) & 1L) << i))
    }

  // ——— right-to-erasure through the z-order layout (q155) —————————

  /** The quadrant files of an EXISTING layout that can hold rows of
    * `user` — candidate discovery from quadrant GEOMETRY, the z-order
    * twin of the bloom index probe: each file is an aligned
    * cell×cell rectangle of (user, item) space (origin =
    * deinterleave(file_id << shift)), so a single user's rows live in
    * the ≤ existing-files-with-x-interval-containing-u stripe. O(live
    * files) driver-side — NOT the (1 × items/cell) grid enumeration,
    * which overflows [[MaxPrunedQuadrants]] for an unconstrained item
    * dimension. */
  def zorderUserCandidates(fids: Set[Long], user: Long,
      shift: Int = ZShift): Set[Long] = {
    val cell = 1L << (shift / 2)
    fids.filter { fid =>
      val x0 = deinterleaveScala(fid << shift)._1
      x0 <= user && user < x0 + cell
    }
  }

  /** Delete every row of the `users` BATCH from a z-order layout
    * version in ONE distributed rewrite — the same copy-on-write
    * [[Layouts.DeleteReport]] contract as the bloom path's q151/q153
    * (a user's rows must not survive a forget just because they live
    * in the ANALYTICS layout), with candidates from quadrant geometry
    * instead of bloom probing: the union of the K users' x-stripes.
    * K users cost one job, not K; untouched quadrants are manifest-
    * shared; no index patch is needed — the manifest IS the quadrant
    * index, and surviving rows keep their quadrants. */
  /** The x-coordinate extraction as a SQL arithmetic string — the
    * inverse of [[zorderTermsSql]]'s odd-bit interleave, over a zkey
    * expression (the quadrant base `shiftleft(file_id, shift)` in the
    * relational stripe probe). */
  private[operators] def deinterleaveXSql(z: String,
      bits: Int = ZBits): String =
    (0 until bits).map(i => s"((($z >> ${2 * i + 1}) & 1) << $i)")
      .mkString(" + ")

  def zorderDeleteUsers(spark: SparkSession, versionPath: String,
      outPath: String, users: Seq[Long],
      shift: Int = ZShift): Layouts.DeleteReport = {
    require(users.nonEmpty && users.size <= BloomSkip.MaxForgetKeys,
      s"forget users must be 1..${BloomSkip.MaxForgetKeys}")
    val us = users.distinct
    // measured dispatch (the Layouts.manifestEntriesFor discipline):
    // the stripe test needs every live file id, so past the driver
    // threshold it runs as a RELATIONAL filter over the manifest —
    // x0 extracted by the interleave's SQL inverse, collect bounded
    // by the users' stripe candidates, never the file count
    val total = Layouts.manifestFileCount(spark, versionPath)
    val cands =
      if (total <= Layouts.MaxDriverManifestFiles)
        us.flatMap(u => zorderUserCandidates(
          Layouts.manifestOf(spark, versionPath).keySet, u, shift)).toSet
      else {
        import spark.implicits._
        val cell = 1L << (shift / 2)
        val pred = us.map(u => s"(x0 <= $u AND $u < x0 + $cell)")
          .mkString(" OR ")
        spark.read.parquet(Layouts.manifestPath(versionPath))
          .select(col("file_id").cast("long").as("file_id"))
          .withColumn("x0",
            expr(deinterleaveXSql(s"shiftleft(file_id, $shift)")))
          .where(expr(pred))
          .select("file_id").as[Long].collect().toSet
      }
    // NULL-safe: isin is NULL for NULL users; coalesce keeps them
    val isDel = coalesce(col("user_id").isin(us: _*), lit(false))
    val (_, deleted) = Layouts.rewriteWithout(spark, versionPath,
      outPath, cands, isDel)
    Layouts.DeleteReport(total, cands.size.toLong,
      total - cands.size, deleted)
  }

  /** Single-user erasure — [[zorderDeleteUsers]] with a batch of one. */
  def zorderDeleteUser(spark: SparkSession, versionPath: String,
      outPath: String, user: Long,
      shift: Int = ZShift): Layouts.DeleteReport =
    zorderDeleteUsers(spark, versionPath, outPath, Seq(user), shift)

  /** Post-erasure versions: slot the dir (one cached version per dir),
    * version (users, shift, fingerprint); builds and evictions are
    * serialized under the build gate. */
  private[graft] val zforgetMemo =
    new graft.Memo[String, (Seq[Long], Int, Long), (String, Layouts.DeleteReport)](
      gate = Layouts.withBuildGate)

  private val zforgetGen = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The post-erasure z-layout version for (dir, users): copy-on-write
    * from the cached layout, ONE cached version per dir (the
    * [[BloomSkip.forgottenLayoutCached]] discipline: a forgotten
    * layout is a transition artifact; builds land in fresh
    * generation-suffixed paths so evicted versions die only through
    * the reaper's grace, never under a reader). */
  def zforgottenLayoutCached(spark: SparkSession, dir: String,
      users: Seq[Long],
      shift: Int = ZShift): (String, Layouts.DeleteReport) = {
    val us = users.distinct.sorted
    val fp = Tables.fingerprint(dir, "events")
    zforgetMemo.get(dir, (us, shift, fp)) {
      val src = zlayoutCached(spark, dir, shift)
      val tag =
        if (us.size == 1) us.head.toString
        else "b" + java.lang.Long.toHexString(
          graft.functions.TextFunctions.md5LongScala(us.mkString(",")))
      val p = s"$src.forget$tag-p${ProcessHandle.current().pid()}" +
        s"-g${zforgetGen.incrementAndGet()}"
      val report = zorderDeleteUsers(spark, src, p, us, shift)
      Layouts.commitVersion(BloomSkip.lineageLogOf(src), p)
      // retention only under the build gate (see
      // BloomSkip.forgottenLayoutCached) — memo hits never vacuum
      Layouts.vacuumRetain(spark, BloomSkip.lineageLogOf(src),
        retainPaths = Set(src, p), inlineDelete = false)
      (p, report)
    }
  }

  /** Whether the post-erasure version for (dir, users) is already
    * built and memoized — a repeat request answers without the build
    * gate. */
  def isZforgetMemoized(spark: SparkSession, dir: String,
      users: Seq[Long], shift: Int = ZShift): Boolean =
    zforgetMemo.isBuilt(dir, (users.distinct.sorted, shift,
      Tables.fingerprint(dir, "events")))

  /** q155: the post-erasure z-order scan — delete `user`'s rows
    * through quadrant-candidate rewrites, then run the q145 rectangle
    * scan THROUGH the forgotten version. The oracle is the plain
    * rectangle filter with the user excluded: the deleted rows'
    * absence and every other row's presence ride the hash. */
  def zorderForgetScan(spark: SparkSession, dir: String, user: Long,
      uLo: Long, uHi: Long, iLo: Long, iHi: Long,
      shift: Int = ZShift): DataFrame =
    zorderForgetScanBatch(spark, dir, Seq(user), uLo, uHi, iLo, iHi, shift)

  /** q158: the BATCHED z-order erasure scan — a whole compliance
    * window's users deleted in one stripe-union rewrite, then the
    * rectangle scan through the forgotten version. */
  def zorderForgetScanBatch(spark: SparkSession, dir: String,
      users: Seq[Long], uLo: Long, uHi: Long, iLo: Long, iHi: Long,
      shift: Int = ZShift): DataFrame = {
    val (path, _) = zforgottenLayoutCached(spark, dir, users, shift)
    zorderScanIn(spark, path, uLo, uHi, iLo, iHi, shift)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
