package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One k-bearing event of the item-transition graph: the
  * [[graft.operators.GraphRank.pageRankOn]] projection
  * (k-less events are not graph nodes and are dropped before this). */
case class GraphEvent(user_id: Long, ts: java.sql.Timestamp,
    event_id: Long, k: Long)

/** Per-user transition-extraction state: the (ts, event_id) pair of the
  * last APPLIED event — the scd2Stream high-watermark discipline — and
  * its k, the pending source of the next cross-batch transition. */
case class GraphTail(ts_us: Long, event_id: Long, k: Long)

/** One graph delta: a transition `src→dst` when the user had a prior
  * event, or a node-only row (`src = None`) for a user's first event.
  * Every applied event emits exactly one row, so `distinct(dst)` over
  * all deltas is exactly the batch node set (each event's k appears as
  * the dst of its own delta). */
case class GraphDelta(user_id: Long, src: Option[Long], dst: Long)

/** Streaming twin of the graph-analytics family (q104 PageRank / q121
  * label propagation): incremental edge accumulation over an event
  * stream + on-demand re-rank, pinned bit-equal to the batch operators
  * on the accumulated event set.
  *
  * Three pieces, each the engine's established discipline:
  *
  *  1. [[transitionStream]] — per-user transition extraction as keyed
  *     streaming state (`flatMapGroupsWithState`, scd2Stream's shape):
  *     the state is ONLY each user's last event (ts, event_id, k), so
  *     a cross-batch transition costs O(1) state per user, lives in
  *     the state store (RocksDB-able, checkpoint-recovered), and the
  *     stream never re-reads the event history. An event regressing
  *     at or below its user's (ts, event_id) high-watermark drops
  *     with a metric (at-least-once, like every drop accumulator
  *     here) — the parity contract is per-user event-time-monotone
  *     arrival across batches, disorder WITHIN a batch is sorted out.
  *  2. [[edgeSinkEachBatch]] — foreachBatch edge-delta accumulation
  *     (the q66/cdc accumulated-corpus pattern): each epoch appends
  *     its transition counts as `edges/epoch=<id>` and its node set
  *     as `nodes/epoch=<id>`, overwriting its OWN partitions so epoch
  *     replay after a crash converges (the state store is versioned
  *     per epoch, so a replayed batch sees the same state and
  *     recomputes the same partitions). Deltas are (src, dst)-
  *     aggregated, so an epoch's write is item-vocabulary-bounded,
  *     not event-bounded — at 100 TB the accumulated relation stays
  *     |V|²-bounded while the event history it summarizes is
  *     unbounded.
  *  3. [[rankSnapshot]] / [[communitiesSnapshot]] — the re-rank: read
  *     the accumulated graph (one sum-aggregation over the epoch
  *     partitions) and run the SHARED batch loops
  *     ([[graft.operators.GraphRank.pageRankOnGraph]] /
  *     [[graft.operators.GraphRank.labelPropagationOnGraph]] — same
  *     integer arithmetic, same tie rules, same measured driver
  *     dispatch), so the snapshot is bit-identical to the batch
  *     operator over all events streamed so far (spec-pinned,
  *     including across a checkpoint restart).
  *
  * Single writer per `outDir`, like every accumulated-corpus sink:
  * epoch partition ids come from the query's checkpoint, so two
  * concurrent queries sharing a directory would overwrite each
  * other's epochs. Reference analog: the reference keeps no graph
  * state at all (its DStream jobs are per-batch stateless); this twin
  * exists for the engine's own cross-batch discipline — every other
  * analytics family (anomalies, SCD2, funnel, dedup, curation) has
  * one. */
object GraphStream {

  private def micros(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + (t.getNanos / 1000L)

  /** The k-projection of a raw `events` relation (streaming or batch)
    * as a typed [[GraphEvent]] stream — `props.k` parsed once,
    * k-less events dropped (the [[graft.operators.GraphRank]] rule:
    * they are not graph nodes). */
  def projectEvents(events: DataFrame): Dataset[GraphEvent] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("k").isNotNull)
      .as[GraphEvent]
  }

  /** Per-user incremental transition extraction (see class doc).
    * Emits one [[GraphDelta]] per applied event; `lateDrops` counts
    * events at or below their user's (ts, event_id) high-watermark
    * (at-least-once metric; emitted rows are exact). */
  def transitionStream(events: Dataset[GraphEvent],
      lateDrops: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[GraphDelta] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[GraphEvent],
            state: GroupState[GraphTail]) => {
          var tail = state.getOption
          val out = Seq.newBuilder[GraphDelta]
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val tsUs = micros(e.ts)
            val late = tail.exists(t =>
              tsUs < t.ts_us ||
                (tsUs == t.ts_us && e.event_id <= t.event_id))
            if (late) lateDrops.foreach(_.add(1L))
            else {
              out += GraphDelta(uid, tail.map(_.k), e.k)
              tail = Some(GraphTail(tsUs, e.event_id, e.k))
            }
          }
          tail.foreach(state.update)
          out.result().iterator
        })
  }

  /** foreachBatch sink: append this epoch's edge-weight deltas and
    * node set under `outDir` (see class doc for the replay argument).
    * Usage: `.writeStream.foreachBatch(GraphStream.edgeSinkEachBatch(dir) _)`.
    * `compactEvery` folds edge weights by sum (additive partials) and
    * nodes by distinct. */
  def edgeSinkEachBatch(outDir: String, compactEvery: Int = 0)
      (batch: Dataset[GraphDelta], epochId: Long): Unit = {
    val (edges, nodes) = stores(batch.sparkSession, outDir)
    // one narrow dependency feeds both writes; persist so the batch's
    // state-store read-and-sort runs once, not twice
    val b = batch.toDF().persist()
    try {
      edges.write(epochId, b.where(col("src").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("w")))
      nodes.write(epochId, b.select(col("dst").as("node")).distinct())
    } finally b.unpersist(blocking = false)
    edges.fold(epochId, compactEvery)(sumWeights)
    nodes.fold(epochId, compactEvery)(_.distinct())
  }

  private def stores(spark: SparkSession, outDir: String)
      : (EpochStore, EpochStore) =
    (EpochStore(spark, s"$outDir/edges", "graph edge store"),
      EpochStore(spark, s"$outDir/nodes", "graph node store"))

  private def sumWeights(edges: DataFrame): DataFrame =
    edges.groupBy("src", "dst").agg(sum(col("w")).as("w"))

  /** The accumulated graph under `outDir`: total edge weights (one
    * sum over the epoch partials) and the distinct node set. */
  def accumulatedGraph(spark: SparkSession, outDir: String)
      : (DataFrame, DataFrame) = {
    val (edges, nodes) = stores(spark, outDir)
    (sumWeights(edges.read()), nodes.read().select("node").distinct())
  }

  /** PageRank over everything streamed into `outDir` so far —
    * bit-identical to [[graft.operators.GraphRank.pageRankOn]] over
    * the same events (shared loop; spec-pinned). */
  def rankSnapshot(spark: SparkSession, outDir: String,
      iters: Int = 10,
      edgeBudget: Long =
        graft.operators.GraphRank.DriverRankEdgeBudget): DataFrame = {
    val (edges, nodes) = accumulatedGraph(spark, outDir)
    graft.operators.GraphRank.pageRankOnGraph(edges, nodes, iters,
      edgeBudget)
  }

  /** Label-propagation communities over everything streamed into
    * `outDir` so far — bit-identical to
    * [[graft.operators.GraphRank.labelPropagationOn]] over the same
    * events (shared loop + tie rules; spec-pinned). */
  def communitiesSnapshot(spark: SparkSession, outDir: String,
      iters: Int = 5,
      edgeBudget: Long =
        graft.operators.GraphRank.DriverRankEdgeBudget): DataFrame = {
    val (edges, _) = accumulatedGraph(spark, outDir)
    graft.operators.GraphRank.labelPropagationOnGraph(edges, iters,
      edgeBudget)
  }

  /** Personalized PageRank over everything streamed into `outDir` so
    * far — bit-identical to
    * [[graft.operators.GraphRank.personalizedRankOn]] over the same
    * events (shared loop; spec-pinned). */
  def personalizedSnapshot(spark: SparkSession, outDir: String,
      seed: Long = 0L, iters: Int = 10,
      edgeBudget: Long =
        graft.operators.GraphRank.DriverRankEdgeBudget): DataFrame = {
    val (edges, nodes) = accumulatedGraph(spark, outDir)
    graft.operators.GraphRank.personalizedRankOnGraph(edges, nodes, seed,
      iters, edgeBudget)
  }

  /** BFS hop distances over everything streamed into `outDir` so far
    * — bit-identical to [[graft.operators.GraphRank.bfsHopsOn]] over
    * the same events (shared loop; spec-pinned). */
  def hopsSnapshot(spark: SparkSession, outDir: String, seed: Long = 0L,
      maxDepth: Int = 6,
      edgeBudget: Long =
        graft.operators.GraphRank.DriverRankEdgeBudget): DataFrame = {
    val (edges, _) = accumulatedGraph(spark, outDir)
    graft.operators.GraphRank.bfsHopsOnGraph(edges, seed, maxDepth,
      edgeBudget)
  }

  /** Next-item table over everything streamed into `outDir` so far —
    * bit-identical to [[graft.operators.GraphRank.nextItemsOn]] over
    * the same events (shared core; spec-pinned). */
  def nextItemsSnapshot(spark: SparkSession, outDir: String,
      topK: Int = 3): DataFrame = {
    val (edges, _) = accumulatedGraph(spark, outDir)
    graft.operators.GraphRank.nextItemsOnGraph(edges, topK)
  }

  /** Complete an upstream USER ERASURE inside the accumulated graph
    * store — the [[SketchStream.rebuildUserSketches]] rebuild-from-
    * retained pattern for the edge family: stored transition counts
    * are aggregates DERIVED FROM user events (an erased user's
    * browsing contributed edge weight that cannot be subtracted
    * per-user — the per-(src,dst) sums carry no user id), so the
    * compliance answer is to REBUILD edges and nodes from the retained
    * upstream and atomically swap each table in as one fresh
    * `epoch=-1` base.
    *
    * The rebuild uses the batch derivation (per-user `lead` over
    * (ts, event_id) — exactly [[graft.operators.GraphRank.pageRankOn]]'s
    * transition rule), which equals the stream's incremental extraction
    * under its per-user event-time-monotone arrival contract — so every
    * `*Snapshot` over the rebuilt store is bit-equal to the batch
    * operator over the retained events (spec-pinned).
    *
    * Single-writer guard as in [[BasketStream.rebuildRetained]]; the
    * stream's checkpointed per-user tails still hold the erased user's
    * last item — resume from a FRESH checkpoint. A crash between the
    * two table swaps leaves edges rebuilt and nodes old; the pass is
    * idempotent, so re-running converges. */
  def rebuildRetained(spark: SparkSession, outDir: String,
      events: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    val (edgeStore, nodeStore) = stores(spark, outDir)
    edgeStore.claim(); nodeStore.claim()
    val ev = events
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("k").isNotNull)
      // referenced by both writes — one state-free scan, cached blocks
      .persist()
    try {
      val nxt = lead(col("k"), 1).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")))
      edgeStore.rebuild(ev.select(col("k").as("src"), nxt.as("dst"))
        .where(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("w")))
      nodeStore.rebuild(ev.select(col("k").as("node")).distinct())
    } finally ev.unpersist(blocking = false)
  }
}
