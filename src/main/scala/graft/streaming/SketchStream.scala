package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Sketches

/** Streaming twin of the HLL distinct-count family (q137/q138): live
  * per-key register maintenance with O(m) = 256 ints of state per key —
  * the sketch answer to the reference's Redis DAU set (SURVEY §2.5 J5),
  * which holds EVERY member seen. An exact streaming distinct
  * ([[DauStream]]) carries state proportional to the cardinality it
  * counts; this twin's state is a CONSTANT per key, so "distinct users
  * ever, by type" stays serveable no matter how long the stream lives.
  *
  * Register updates are max-folds of the same (j, rho) projection the
  * batch operator uses ([[Sketches.jRho]] — shared, so stream and batch
  * hash identically). Because max is commutative/idempotent, arrival
  * order, micro-batch boundaries, AND replayed epochs cannot change the
  * final registers: the snapshot is pinned bit-equal to
  * [[Sketches.hllRegisters]] over all events streamed so far, and the
  * estimate rides the shared [[Sketches.hllEstimate]] stage.
  *
  * `NoTimeout` is deliberate and safe HERE (contrast
  * `Sessionize.funnelStream`'s horizon eviction): state per key is a
  * fixed 1 KB and the key domain is the event-type vocabulary, so total
  * state is bounded by design, not by traffic. Keying by a high-
  * cardinality column would need the usual event-time eviction. */
object SketchStream {

  /** One group's live sketch: register array indexed by j (0 where the
    * register is unobserved — rho is always ≥ 1). */
  case class HllRegs(event_type: String, regs: Array[Int])

  /** Update-mode register maintenance over an (event_type, user_id)
    * stream: emits each updated group's full register array per
    * micro-batch (1 row × 256 ints — emission is sketch-sized, never
    * event-sized). */
  def hllUserStream(events: DataFrame): Dataset[HllRegs] = {
    val spark = events.sparkSession
    import spark.implicits._
    val jr = Sketches
      .jRho(
        events.select(col("event_type"),
          col("user_id").cast("string").as("uid")),
        Seq("event_type"), col("uid"))
      .select(col("event_type"), col("j").cast("int").as("j"), col("rho"))
      .as[(String, Int, Int)]
    jr.groupByKey(_._1)
      .flatMapGroupsWithState[HllRegs, HllRegs](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Int, Int)],
            state: GroupState[HllRegs]) =>
          val regs = state.getOption.map(_.regs.clone())
            .getOrElse(new Array[Int](Sketches.M))
          var changed = state.getOption.isEmpty
          rows.foreach { case (_, j, rho) =>
            if (rho > regs(j)) { regs(j) = rho; changed = true }
          }
          if (changed) {
            val snap = HllRegs(key, regs)
            state.update(snap)
            Iterator.single(snap)
          } else Iterator.empty
      }
  }

  /** The latest emissions as a register RELATION (event_type, j, rho) —
    * the bridge back into the shared batch stages. `latest` must hold
    * one row per event_type (the last emission per key). */
  def snapshotRegisters(latest: DataFrame): DataFrame =
    latest
      .select(col("event_type"), posexplode(col("regs")).as(Seq("j", "rho")))
      .where(col("rho") > 0)
      .select(col("event_type"), col("j").cast("long").as("j"), col("rho"))

  /** Distinct-user estimates over everything streamed so far — the
    * SHARED estimate stage, so bit-equal to
    * [[Sketches.hllEstimate]]([[Sketches.hllRegisters]](batch)). */
  def estimateSnapshot(latest: DataFrame): DataFrame =
    Sketches.hllEstimate(snapshotRegisters(latest), Seq("event_type"))
      .orderBy("event_type")

  // ——— persisted HLL register sink (MAX-mergeable → epoch partials) ———

  /** foreachBatch sink for the HLL sketch — the persisted register
    * WAREHOUSE the q138 batch query demonstrates, closed end-to-end:
    * each epoch writes its own (event_type, j, rho) register partial
    * under `outDir/hllregs/epoch=<id>` (≤ m rows per type — partials
    * are sketch-sized, never event-sized), and serving max-merges the
    * table without ever rescanning events.
    *
    * Replay safety is STRONGER than the histogram sink's: overwrite-
    * own-partition makes a same-id replay converge, and because the
    * fold is MAX (idempotent, not merely associative), even a
    * re-delivered batch landing under a NEW epoch id cannot move the
    * merged registers — the sink is duplicate-immune at the algebra
    * level, not just the partition-layout level (spec-pinned).
    * `compactEvery` folds with max ([[EpochStore.fold]]). */
  def hllSinkEachBatch(outDir: String, compactEvery: Int = 0)
      (batch: DataFrame, epochId: Long): Unit =
    sink(outDir, "hllregs", hll(batch, daily = false), epochId,
      compactEvery)(maxRho(Seq("event_type")))

  /** Distinct-user estimates over everything streamed into `outDir` so
    * far: max-merge the persisted epoch partials back to one register
    * relation, then the SHARED [[Sketches.hllEstimate]] stage —
    * bit-equal to the batch estimate over the same events (spec-pinned
    * across a checkpoint restart, a compaction, AND a duplicate
    * delivery). This is what `/distinctUsers?source=sketch` serves:
    * the answer comes from ≤ types × 256 register rows, never from
    * the event log. */
  def hllTableEstimates(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame = {
    val regs = maxRho(Seq("event_type"))(
      store(spark, outDir, "hllregs").read())
    Sketches.hllEstimate(regs, Seq("event_type")).orderBy("event_type")
  }

  private def store(spark: org.apache.spark.sql.SparkSession,
      outDir: String, sub: String): EpochStore =
    EpochStore(spark, s"$outDir/$sub", "sketch store")

  /** The write path of every sketch sink: overwrite the epoch's
    * partial, fold committed epochs on the cadence. */
  private def sink(outDir: String, sub: String, partial: DataFrame,
      epochId: Long, compactEvery: Int)(fold: DataFrame => DataFrame)
      : Unit = {
    val st = store(partial.sparkSession, outDir, sub)
    st.write(epochId, partial)
    st.fold(epochId, compactEvery)(fold)
  }

  private def maxRho(scope: Seq[String])(regs: DataFrame): DataFrame =
    regs.groupBy((scope :+ "j").map(col): _*).agg(max(col("rho")).as("rho"))

  /** (event_type[, dt], uid) — the user projection every user-keyed
    * family (sink and erasure rebuild alike) hashes. */
  private def users(ev: DataFrame, daily: Boolean): DataFrame =
    ev.select(Seq(col("event_type")) ++
      (if (daily) Seq(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
       else Nil) :+ col("user_id").cast("string").as("uid"): _*)

  private def hll(ev: DataFrame, daily: Boolean): DataFrame =
    Sketches.hllRegisters(users(ev, daily),
      if (daily) Seq("event_type", "dt") else Seq("event_type"), col("uid"))

  private def kmv(ev: DataFrame, daily: Boolean, k: Int): DataFrame =
    if (daily) Sketches.kmvRegistersDaily(users(ev, daily = true), k)
    else Sketches.kmvRegisters(users(ev, daily = false), "event_type",
      col("uid"), k)

  /** foreachBatch sink for the DAY-GRAIN HLL warehouse (q138/q152's
    * storage grain): per-epoch (event_type, dt, j, rho) partials,
    * max-fold compaction on (event_type, dt, j) — same algebra-level
    * duplicate immunity as [[hllSinkEachBatch]], at the grain that
    * makes ANY date range answerable at read time. */
  def hllDailySinkEachBatch(outDir: String, compactEvery: Int = 0)
      (batch: DataFrame, epochId: Long): Unit =
    sink(outDir, "hllregsdaily", hll(batch, daily = true), epochId,
      compactEvery)(maxRho(Seq("event_type", "dt")))

  /** Distinct-user estimates for an ARBITRARY date range over the
    * persisted day-grain register table: filter stored rows to
    * [from, to], max-merge per type (+ the cross-type 'ALL'), shared
    * estimate stage — bit-equal to [[Sketches.hllUsersRangeOn]]'s
    * estimate column over the same events (spec-pinned). This is the
    * sketch warehouse's read shape: any of the 2^days ranges from one
    * stored relation, zero event rescans. */
  def hllRangeEstimates(spark: org.apache.spark.sql.SparkSession,
      outDir: String, from: String, to: String): DataFrame = {
    require(from <= to, s"from '$from' must be <= to '$to' (ISO dates)")
    val regs = maxRho(Seq("event_type", "dt"))(
      store(spark, outDir, "hllregsdaily").read()
        .where(col("dt").between(from, to)))
    val perType = Sketches.hllMerge(regs, Seq("event_type"))
    val all = Sketches.hllMerge(
      regs.withColumn("event_type", lit("ALL")), Seq("event_type"))
    Sketches.hllEstimate(perType, Seq("event_type"))
      .union(Sketches.hllEstimate(all, Seq("event_type")))
      .orderBy("event_type")
  }

  // ——— persisted KMV sketch sink (min-k mergeable → epoch partials) ———

  /** foreachBatch sink for the KMV (theta) sketch — the second sketch
    * family's persisted warehouse: each epoch writes its own k smallest
    * distinct hashes per type under `outDir/kmvregs/epoch=<id>` (≤ k
    * rows per type — sketch-sized partials). Min-k over SETS is
    * idempotent/commutative/associative exactly like HLL's max, so the
    * sink inherits the stronger replay guarantee: a re-delivered batch
    * under a NEW epoch id cannot move the merged sketch (its hashes
    * are already members — duplicate-immune at the algebra level).
    * `compactEvery` folds by union → re-top-k. */
  def kmvSinkEachBatch(outDir: String, k: Int = Sketches.DefaultKmvK,
      compactEvery: Int = 0)(batch: DataFrame, epochId: Long): Unit =
    sink(outDir, "kmvregs", kmv(batch, daily = false, k), epochId,
      compactEvery)(Sketches.kmvTopK(_, Seq("event_type"), k))

  /** Distinct-user estimates over everything streamed into `outDir` so
    * far: re-top-k the persisted epoch partials back to one sketch
    * relation, then the SHARED [[Sketches.kmvEstimate]] stage —
    * bit-equal to the batch estimate over the same events (spec-pinned
    * across restart, compaction, and duplicate delivery). Serves
    * `/distinctUsers?source=kmv-sketch`: the answer comes from
    * ≤ types × k sketch rows, never from the event log. */
  def kmvTableEstimates(spark: org.apache.spark.sql.SparkSession,
      outDir: String, k: Int = Sketches.DefaultKmvK): DataFrame = {
    val regs = Sketches.kmvTopK(
      store(spark, outDir, "kmvregs").read(), Seq("event_type"), k)
    Sketches.kmvEstimate(regs, Seq("event_type"), k).orderBy("event_type")
  }

  /** Pairwise audience overlap/Jaccard estimates over the PERSISTED
    * KMV sketch table — the set-algebra payoff of the sketch warehouse:
    * the q147 estimate columns computed from ≤ types × k stored minima,
    * never rescanning events (spec-pinned equal to the batch estimates
    * over the same stream). Serves `/audienceOverlap?source=sketch`. */
  def kmvTableOverlap(spark: org.apache.spark.sql.SparkSession,
      outDir: String, k: Int = Sketches.DefaultKmvK): DataFrame = {
    val regs = Sketches.kmvTopK(
      store(spark, outDir, "kmvregs").read(), Seq("event_type"), k)
    Sketches.kmvOverlapFromRegs(regs, k)
      .select(col("type_a"), col("type_b"), col("union_est"),
        col("overlap_est"), col("jaccard_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** foreachBatch sink for the DAY-GRAIN KMV warehouse (q156's storage
    * grain): per-epoch (event_type, dt, h) min-k partials under
    * `outDir/kmvregsdaily/epoch=<id>`, re-top-k fold compaction on
    * (event_type, dt) — min-k over SETS is idempotent, so the sink is
    * duplicate-immune at the algebra level like [[kmvSinkEachBatch]],
    * at the grain that makes any date-range INTERSECTION answerable at
    * read time (what the HLL day sink can never serve). */
  def kmvDailySinkEachBatch(outDir: String,
      k: Int = Sketches.DefaultKmvK, compactEvery: Int = 0)
      (batch: DataFrame, epochId: Long): Unit =
    sink(outDir, "kmvregsdaily", kmv(batch, daily = true, k), epochId,
      compactEvery)(Sketches.kmvTopK(_, Seq("event_type", "dt"), k))

  /** Audience overlap/Jaccard estimates for an ARBITRARY date range
    * over the persisted day-grain KMV table: filter stored day rows to
    * [from, to], re-top-k into per-type range sketches (min-k over
    * sets is associative — merge-of-days ≡ build-over-range), then the
    * shared theta membership counting — the q156 estimate columns from
    * ≤ types × days × k stored minima, never the event log
    * (spec-pinned equal to the batch estimates over the same stream).
    * Serves `/audienceOverlap?from=&to=&source=sketch`. */
  def kmvTableRangeOverlap(spark: org.apache.spark.sql.SparkSession,
      outDir: String, from: String, to: String,
      k: Int = Sketches.DefaultKmvK): DataFrame = {
    require(from <= to, s"from '$from' must be <= to '$to' (ISO dates)")
    val rangeRegs = Sketches.kmvTopK(
      store(spark, outDir, "kmvregsdaily").read()
        .where(col("dt").between(from, to))
        .select(col("event_type"), col("h")),
      Seq("event_type"), k)
    Sketches.kmvOverlapFromRegs(rangeRegs, k)
      .select(col("type_a"), col("type_b"), col("union_est"),
        col("overlap_est"), col("jaccard_ppm"))
      .orderBy("type_a", "type_b")
  }

  // ——— erasure completion for the sketch warehouse ————————————————

  /** The USER-KEYED register families and their rebuild projections —
    * the sub-tables that embed user identity (hashed user ids inside
    * HLL registers / KMV minima). The item/value-keyed families
    * (hhcounts, cmsregs, hist) carry no user identity and need no
    * erasure pass. */
  private def userSketchBuilders(k: Int)
      : Seq[(String, DataFrame => DataFrame)] = Seq(
    "hllregs" -> (hll(_, daily = false)),
    "hllregsdaily" -> (hll(_, daily = true)),
    "kmvregs" -> (kmv(_, daily = false, k)),
    "kmvregsdaily" -> (kmv(_, daily = true, k)))

  /** Complete an upstream user erasure INSIDE the sketch warehouse:
    * registers cannot unmerge (max/min-k folds are lossy one-way —
    * no algebra can subtract one user from an HLL register), so the
    * compliance answer is the standard one: REBUILD the user-keyed
    * register tables from the retained upstream (`events` = the
    * post-erasure event relation) and atomically swap each accumulated
    * table's epochs for one fresh base. Rebuilds every user-keyed
    * sub-table present under `outDir`; the item/value-keyed families
    * hold no user identity and are left alone (see
    * [[userSketchBuilders]]). Idempotent (a rebuild from the same
    * upstream lands bit-equal); crash-safe per table
    * ([[EpochStore.rebuild]]); the estimate surfaces are spec-pinned
    * equal to batch sketches over the retained events. Cost: one
    * distributed register build per table over the retained upstream —
    * the price of erasure from a lossy aggregate, paid per compliance
    * window, not per query.
    *
    * The swap would discard an in-flight epoch of a LIVE sink, so a
    * table owned by an active streaming query fails the store's claim
    * loudly. Stop the sink's query before rebuilding. */
  def rebuildUserSketches(spark: org.apache.spark.sql.SparkSession,
      outDir: String, events: DataFrame,
      k: Int = Sketches.DefaultKmvK): Seq[String] =
    userSketchBuilders(k).collect {
      case (sub, build) if new java.io.File(outDir, sub).exists() =>
        store(spark, outDir, sub).rebuild(build(events))
        sub
    }

  // ——— heavy-hitter twin (exact counts → epoch partials) ———

  /** foreachBatch sink for the heavy-hitter family (q139): each epoch
    * writes its exact per-item counts under `outDir/hhcounts/epoch=<id>`
    * — ADDITIVE partials like the histogram sink, so the replay-safe
    * form is overwrite-own-partition + sum-fold compaction.
    *
    * Why exact counts and not merged Misra–Gries summaries: MG counter
    * VALUES depend on arrival order (only the superset guarantee is
    * order-free), so a summary-merging stream could not be pinned equal
    * to the batch answer — and q139's item domain is the `props.k`
    * catalog, so the partial relation is vocabulary-bounded (≤ |catalog|
    * rows per epoch) regardless of traffic. The batch operator's MG
    * pass exists to CANDIDATE-BOUND a catalog-sized aggregate at 100 TB;
    * here the sink IS that bound, maintained incrementally. A
    * high-cardinality item domain would swap this sink for per-epoch MG
    * summaries + a final verification pass against the accumulated
    * corpus — the same two-pass shape q139 runs in batch. */
  def heavyHitterSinkEachBatch(outDir: String, itemCol: String = "item",
      compactEvery: Int = 0)(batch: DataFrame, epochId: Long): Unit =
    sink(outDir, "hhcounts",
      batch.select(col(itemCol).cast("long").as("item"))
        .where(col("item").isNotNull)
        .groupBy("item").agg(count(lit(1)).as("cnt")),
      epochId, compactEvery)(sumCnt(Seq("item")))

  private def sumCnt(keys: Seq[String])(partials: DataFrame): DataFrame =
    partials.groupBy(keys.map(col): _*).agg(sum(col("cnt")).as("cnt"))

  /** Heavy hitters over everything streamed into `outDir` so far:
    * sum-merge the epoch partials, then apply q139's EXACT threshold
    * rule (`cnt · 10⁶ > n · phiPpm`) and ordering — so the snapshot is
    * row-equal to [[Sketches.heavyHitters]] over the same events
    * (spec-pinned, across restart / compaction / replay). */
  def heavyHitterSnapshot(spark: org.apache.spark.sql.SparkSession,
      outDir: String,
      phiPpm: Long = Sketches.DefaultPhiPpm): DataFrame = {
    require(phiPpm >= 1 && phiPpm <= 1000000L, "phiPpm in [1, 1e6]")
    val counts = sumCnt(Seq("item"))(
      store(spark, outDir, "hhcounts").read())
    val tot = counts.agg(sum(col("cnt")).as("n")) // 1 row — broadcast
    counts.crossJoin(broadcast(tot))
      .where(col("cnt") * lit(1000000L) > col("n") * lit(phiPpm))
      .select(col("item"), col("cnt"))
      .orderBy(desc("cnt"), col("item"))
  }

  // ——— Count–Min sink (SUM-mergeable → epoch partials) ———

  /** foreachBatch sink for the Count–Min sketch (q149): additive
    * (d, w, cnt) counter partials, one per epoch under
    * `outDir/cmsregs/epoch=<id>` (≤ depth·width rows — sketch-sized),
    * replay-safe via overwrite-own-partition + sum-fold compaction —
    * the histogram sink's contract, for point frequencies. */
  def cmsSinkEachBatch(outDir: String, itemCol: String = "item",
      compactEvery: Int = 0)(batch: DataFrame, epochId: Long): Unit =
    sink(outDir, "cmsregs",
      Sketches.cmsRegisters(
        batch.select(col(itemCol).cast("long").as("item"))
          .where(col("item").isNotNull), "item"),
      epochId, compactEvery)(sumCnt(Seq("d", "w")))

  /** Point-frequency estimates for `items` over everything streamed
    * into `outDir` so far: sum-merge the epoch partials, then the
    * SHARED [[Sketches.cmsEstimates]] stage — bit-equal to the batch
    * estimate over the same events (spec-pinned across restart,
    * compaction, and a same-id replay). Serves `/itemFrequency`: any
    * item, answered from depth·width counters, never the event log. */
  def cmsTableEstimates(spark: org.apache.spark.sql.SparkSession,
      outDir: String, items: Seq[Long]): DataFrame = {
    require(items.nonEmpty && items.size <= 4096, "items must be 1..4096")
    import spark.implicits._
    val regs = sumCnt(Seq("d", "w"))(
      store(spark, outDir, "cmsregs").read())
    Sketches.cmsEstimates(regs, items.distinct.toDF("item"), "item")
      .orderBy("item")
  }

  // ——— histogram-quantile twin (SUM-mergeable → epoch partials) ———

  /** foreachBatch sink for the histogram sketch: unlike HLL's
    * idempotent max, histogram counts are ADDITIVE, so the replay-safe
    * form is the accumulated-sink pattern — each epoch writes its own
    * (event_type, b, cnt) partial under `outDir/hist/epoch=<id>`
    * (overwrite-own-partition ⇒ a replayed batch converges), partials
    * are register-sized (≤1024 rows/type), never event-sized.
    * `compactEvery` folds with sum. */
  def histSinkEachBatch(outDir: String, compactEvery: Int = 0)
      (batch: DataFrame, epochId: Long): Unit =
    sink(outDir, "hist",
      Sketches.histRegisters(batch.select(col("event_type"), col("value")),
        Seq("event_type"), col("value")),
      epochId, compactEvery)(sumCnt(Seq("event_type", "b")))

  /** Quantile estimates over everything streamed into `outDir` so far:
    * sum-merge the epoch partials back to one register relation, then
    * the SHARED [[Sketches.histEstimates]] walk — bit-equal to the
    * batch estimate columns over the same events (spec-pinned,
    * including across replay and compaction). */
  def quantileSnapshot(spark: org.apache.spark.sql.SparkSession,
      outDir: String, qs: Seq[Int] = Seq(50, 95, 99)): DataFrame = {
    val regs = sumCnt(Seq("event_type", "b"))(
      store(spark, outDir, "hist").read())
    Sketches.histEstimates(regs, qs)
      .select(col("event_type") +: qs.map(q =>
        (col(s"pb$q") * lit(Sketches.HistWidthMicros))
          .as(s"p${q}_est_micros")): _*)
      .orderBy("event_type")
  }
}
