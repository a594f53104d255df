package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.BloomSkip

/** Streaming twin of the per-file Bloom skipping index (q148): the
  * index maintained incrementally by the ingest stream itself, so point
  * lookups stay prunable while data keeps arriving — no rebuild, no
  * rescan of settled files.
  *
  * This is the payoff of keeping the index a RELATION: Bloom set-bits
  * union. Each micro-batch writes its rows as NEW files (epoch-scoped
  * `file_id`s — settled files are immutable, the log-structured
  * discipline every streaming warehouse converges on) and appends one
  * sketch-sized index partial `(file_id, bitpos)` under
  * `bloomidx/epoch=<id>`. The merged index is just the union of
  * partials — [[EpochStore.fold]] folds committed epochs with a
  * plain `distinct` (set union is idempotent, so the fold is
  * replay-immune at the algebra level, like the KMV/HLL sinks and
  * unlike additive counters). Lookups run the SAME probe join
  * as batch q148 ([[BloomSkip.candidateFilesOn]]) over the accumulated
  * index; the `file_id IN (candidates)` predicate pushes into the
  * layout scan (row-group skipping on the sorted-by-write column — the
  * stream layout trades the batch path's directory partitions for
  * append-only immutability).
  *
  * Replay contract (the standard row-sink guarantee): layout rows are
  * exactly-once via overwrite-own-partition — a replayed epoch rewrites
  * its own `epoch=<id>` layout dir and its own index partial, and
  * because its `file_id`s are epoch-scoped, it cannot touch settled
  * files. */
object BloomStream {

  /** Files per micro-batch epoch: `file_id = epoch·filesPerEpoch +
    * (fileKey mod filesPerEpoch)` — globally unique, deterministic,
    * epoch-scoped. */
  val FilesPerEpoch: Long = 8L

  /** foreachBatch sink over an orders-shaped stream (`o_orderkey`,
    * `o_custkey`, `o_totalprice`): epoch-scoped layout files plus the
    * epoch's Bloom index partial. `compactEvery` folds BOTH stores
    * (identity for the row data, distinct for the index). */
  def sinkEachBatch(outDir: String, filesPerEpoch: Long = FilesPerEpoch,
      compactEvery: Int = 0)(batch: DataFrame, epochId: Long): Unit = {
    val (idxStore, layoutStore) = stores(batch.sparkSession, outDir)
    val layout = batch
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("file_id",
        lit(epochId * filesPerEpoch) + col("o_orderkey") % filesPerEpoch)
      // one cached pass feeds both writes; the index must NOT re-read
      // the layout directory (see the ordering contract below)
      .cache()
    // ORDER MATTERS for live lookups: the INDEX partial commits BEFORE
    // the layout files it describes. Index bits for not-yet-visible
    // files are harmless (candidates for absent files match nothing);
    // the reverse order would let a concurrent snapshotLookup see
    // layout rows whose file is not yet indexed and silently prune
    // them — a wrong answer, not a late one.
    idxStore.write(epochId,
      BloomSkip.bloomIndexOn(layout, "o_custkey").repartition(1))
    layoutStore.write(epochId,
      layout.repartition(col("file_id")).sortWithinPartitions("file_id"))
    layout.unpersist()
    // same ordering under compaction: rebuild the index base first.
    // The layout fold re-clusters rows by file_id inside the base,
    // keeping the row-group statistics the pruned scan skips on
    idxStore.fold(epochId, compactEvery)(
      _.select(col("file_id"), col("bitpos")).distinct())
    layoutStore.fold(epochId, compactEvery, sortWithin = Seq("file_id"))(
      identity)
  }

  private def stores(spark: SparkSession, outDir: String)
      : (EpochStore, EpochStore) =
    (EpochStore(spark, s"$outDir/bloomidx", "bloom index store"),
      EpochStore(spark, s"$outDir/bloomlayout", "bloom layout store"))

  /** Point lookup over everything streamed into `outDir` so far: the
    * SAME probe join as batch q148 over the accumulated index, then the
    * pruned layout read with the exact predicate re-applied — so the
    * answer is row-equal to [[BloomSkip.pointLookup]]'s plain-filter
    * contract over the streamed rows (spec-pinned across restart,
    * compaction, and a same-id replay). */
  def snapshotLookup(spark: SparkSession, outDir: String,
      keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty && keys.size <= BloomSkip.MaxProbeKeys,
      s"probe keys must be 1..${BloomSkip.MaxProbeKeys}")
    val (idxStore, layoutStore) = stores(spark, outDir)
    // ORDER MATTERS under live ingest: snapshot the LAYOUT's file
    // listing first, then read the index — the sink commits each
    // epoch's index partial before its layout files, so every file
    // visible in this listing is already indexed and the candidate set
    // covers it (the reverse order could prune rows of an epoch that
    // landed between the two reads)
    val layout = layoutStore.read()
    val idx = idxStore.read().select(col("file_id"), col("bitpos"))
    val cands = BloomSkip.candidateFilesOn(idx, keys)
    val pruned =
      if (cands.isEmpty) layout.where(lit(false))
      else layout.where(col("file_id").isin(cands: _*))
    pruned
      .where(col("o_custkey").isin(keys: _*))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** The accumulated index's candidate set for `keys` — exposed for the
    * spec's pruning assertions. */
  def snapshotCandidates(spark: SparkSession, outDir: String,
      keys: Seq[Long]): Seq[Long] = {
    BloomSkip.candidateFilesOn(
      stores(spark, outDir)._1.read()
        .select(col("file_id"), col("bitpos")), keys)
  }
}
