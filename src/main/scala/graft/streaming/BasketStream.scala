package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One item engagement of the basket family: the
  * [[graft.operators.Sessionize.basketLiftOn]] projection (k-less
  * events are dropped before this — they are not catalog items). */
case class BasketEvent(user_id: Long, k: Long)

/** Per-user basket state: the distinct items seen so far, kept ONLY up
  * to `maxBasket + 1` elements. The (cap+1)-th item is emitted like
  * any other — it is the proof the snapshot's own cap filter needs to
  * DROP the user (batch parity) — and everything after it is swallowed:
  * a dropped user's further items can never change any answer, so the
  * state is cap-bounded no matter how hot the user. */
case class BasketTally(items: Seq[Long], over: Boolean)

/** Streaming twin of the market-basket family (q132): incremental
  * per-user basket accumulation over an event stream + on-demand
  * re-rank, pinned bit-equal to the batch operator on the accumulated
  * event set.
  *
  * The [[GraphStream]] discipline, applied to baskets:
  *
  *  1. [[basketDeltaStream]] — per-user NEW-item extraction as keyed
  *     streaming state (`flatMapGroupsWithState`): each (user, item)
  *     pair is emitted exactly ONCE across all batches (the state
  *     dedups), so the accumulated relation grows with distinct
  *     engagement pairs, never with raw event volume. State per user
  *     is `maxBasket + 1` longs at most — RocksDB-able, checkpoint-
  *     recovered, and immune to power users by construction.
  *  2. [[basketSinkEachBatch]] — foreachBatch delta accumulation:
  *     each epoch overwrites its OWN `pairs/epoch=<id>` partition, so
  *     epoch replay after a crash converges (the state store is
  *     versioned per epoch).
  *  3. [[liftSnapshot]] — the re-rank: read the accumulated pairs and
  *     run the SHARED batch core
  *     ([[graft.operators.Sessionize.basketLiftOn]] — same cap rule,
  *     same 128-bit fixed-point lift, same tie-break), so the
  *     snapshot is bit-identical to the batch q132 over all events
  *     streamed so far (spec-pinned, including across a restart).
  *
  * Single writer per `outDir`, like every accumulated sink here. No
  * reference counterpart (the reference keeps no cross-batch state);
  * this twin exists for the engine's own discipline — every analytics
  * family has one. */
object BasketStream {

  /** The (user, item) projection of a raw `events` relation. */
  def projectEvents(events: DataFrame): Dataset[BasketEvent] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("k").isNotNull)
      .as[BasketEvent]
  }

  /** Per-user new-item extraction (see class doc): emits each (user,
    * item) pair once across all batches, up to `maxBasket + 1` items
    * per user (the over-cap proof row), then swallows. */
  def basketDeltaStream(events: Dataset[BasketEvent],
      maxBasket: Int = graft.operators.Sessionize.MaxBasket)
      : Dataset[BasketEvent] = {
    import events.sparkSession.implicits._
    require(maxBasket >= 2, "basketDeltaStream needs maxBasket >= 2")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[BasketEvent],
            state: GroupState[BasketTally]) => {
          var tally = state.getOption.getOrElse(BasketTally(Nil, false))
          val seen = scala.collection.mutable.LinkedHashSet(
            tally.items: _*)
          val out = Seq.newBuilder[BasketEvent]
          it.foreach { e =>
            if (!tally.over && !seen.contains(e.k)) {
              seen += e.k
              out += BasketEvent(uid, e.k)
              // cap+1 items emitted = the user is provably over cap in
              // the accumulated relation; nothing after can matter
              if (seen.size > maxBasket)
                tally = BasketTally(Nil, over = true)
            }
          }
          if (!tally.over) tally = BasketTally(seen.toSeq, false)
          state.update(tally)
          out.result().iterator
        })
  }

  /** foreachBatch sink: append this epoch's new (user, item) pairs
    * under `outDir`, overwriting its own epoch partition (replay-safe).
    * Usage: `.writeStream.foreachBatch(BasketStream.basketSinkEachBatch(dir) _)`.
    * `compactEvery` folds by identity: the delta stream emits each
    * (user, item) pair exactly once across batches. */
  def basketSinkEachBatch(outDir: String, compactEvery: Int = 0)
      (batch: Dataset[BasketEvent], epochId: Long): Unit = {
    val store = pairs(batch.sparkSession, outDir)
    store.write(epochId, batch.toDF())
    store.fold(epochId, compactEvery)(identity)
  }

  private def pairs(spark: SparkSession, outDir: String): EpochStore =
    EpochStore(spark, s"$outDir/pairs", "basket pair store")

  /** Market-basket lift over everything streamed into `outDir` so far
    * — bit-identical to [[graft.operators.Sessionize.basketLiftOn]]
    * over the same events (shared core: same cap rule — over-cap users
    * carry cap+1 accumulated items and are dropped by the core's own
    * filter — same fixed point, same ties; spec-pinned). */
  def liftSnapshot(spark: SparkSession, outDir: String,
      minCount: Long = 5L, topK: Int = 100,
      maxBasket: Int = graft.operators.Sessionize.MaxBasket): DataFrame = {
    graft.operators.Sessionize.basketLiftOn(
      pairs(spark, outDir).read().select(col("user_id"), col("k")),
      minCount, topK, maxBasket)
  }

  /** Complete an upstream USER ERASURE inside the accumulated basket
    * store — the [[SketchStream.rebuildUserSketches]] rebuild-from-
    * retained pattern applied to the behavioral family: the stored
    * (user, item) pairs ARE user-keyed personal data, and the keyed
    * state's emit-once dedup cannot "unsee" a user, so the compliance
    * answer is to REBUILD the pair table from the retained upstream
    * (`events` = the post-erasure raw event relation) and atomically
    * swap it in as one fresh `epoch=-1` base.
    *
    * The rebuild replays the stream's own extraction rule batch-wise:
    * first occurrence per (user, item) in (ts, event_id) order, at most
    * `maxBasket + 1` items per user (the over-cap proof row the
    * snapshot's cap filter needs) — so under the stream's per-user
    * event-time-monotone arrival contract the rebuilt store equals a
    * stream fed only the retained events (golden-twin spec), and
    * [[liftSnapshot]] equals the batch lift over them.
    *
    * Single-writer guard: a live sink's in-flight epoch would be
    * silently discarded by the swap → loud rejection while an active
    * query owns the pair directory; stop the query first. The query's
    * CHECKPOINTED keyed state still remembers the erased user's items —
    * resume the stream from a FRESH checkpoint (the state rebuilds from
    * new arrivals; with the old checkpoint the erased user's re-arrived
    * items would be swallowed as already-seen). Idempotent; crash-safe
    * (AtomicSwap keeps a committed copy at every instant). */
  def rebuildRetained(spark: SparkSession, outDir: String,
      events: DataFrame,
      maxBasket: Int = graft.operators.Sessionize.MaxBasket): Unit = {
    import org.apache.spark.sql.expressions.Window
    require(maxBasket >= 2, "rebuildRetained needs maxBasket >= 2")
    val firsts = events
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("ts"), col("event_id"))
      .where(col("k").isNotNull)
      .groupBy("user_id", "k")
      .agg(min(struct(col("ts"), col("event_id"))).as("first"))
    pairs(spark, outDir).rebuild(firsts
      .withColumn("rk", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("first.ts"), col("first.event_id"))))
      .where(col("rk") <= maxBasket + 1)
      .select(col("user_id"), col("k")))
  }
}
