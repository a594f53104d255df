package graft.streaming

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{RepartitionOperation, Sort}
import org.apache.spark.sql.functions._
import graft.AtomicSwap

/** One ACCUMULATED streaming sink directory — the batch-id-keyed sink
  * protocol of Structured Streaming's exactly-once file output, kept in
  * one place. This class is the only code that knows the on-disk
  * layout:
  *
  *  - `epoch=<id>` — one micro-batch's output, overwritten wholesale by
  *    a replay of the same batch id (idempotent per batch);
  *  - `epoch=-1` — the BASE: committed epochs folded into one
  *    partition ([[fold]]) or a relation rebuilt from retained
  *    upstream ([[rebuild]]). Real batch ids are >= 0, so a replay can
  *    never collide with it;
  *  - the swap artefacts: `<dir>.compact.tmp` / `<dir>.tmp` /
  *    `<dir>.old` for whole-directory swaps ([[AtomicSwap]]) and the
  *    hidden `.epoch=<id>.tmp` / `.epoch=<id>.old` of per-epoch swaps
  *    ([[PartitionedUpsert]]);
  *  - `epoch=<id>.<name>` sidecar files ([[note]]), removed with their
  *    epoch.
  *
  * Every mutation CLAIMS the directory ([[SingleWriter]]: a second live
  * writer fails loudly) and HEALS it — both crash states of both swap
  * kinds, every time, so no caller can pick the wrong subset. Reads
  * heal but never claim: a serving read racing a live sink must not
  * take the directory over. A reader healing while the writer is
  * inside a swap can fail that writer's publish (loud, nothing lost) —
  * the documented AtomicSwap window.
  *
  * On a real cluster a table format (Delta/Iceberg) commit log plays
  * this role; the protocol, not `java.io.File`, is the design point. */
final class EpochStore(spark: SparkSession, dir: String, what: String) {
  import EpochStore._

  /** Take single-writer ownership of the directory and heal it. Every
    * mutation below starts here; call it directly to claim before a
    * multi-step pass touches anything else. */
  def claim(): Unit = {
    SingleWriter.assertOwner(spark, dir, what)
    heal()
  }

  private def heal(): Unit = {
    AtomicSwap.recover(dir)
    PartitionedUpsert.recoverAll(dir)
  }

  private def path(epochId: Long): String = s"$dir/epoch=$epochId"

  private def listing: Seq[Long] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName)
      .collect { case EpochDir(id) => id.toLong }
      .sorted

  /** The committed epoch ids (the base included as -1), ascending,
    * without `except` — a replayed batch must not read its own earlier
    * output as history. */
  def epochs(except: Option[Long] = None): Seq[Long] = {
    heal()
    listing.filterNot(except.contains)
  }

  /** The whole accumulated relation (`epoch` is a partition column). */
  def read(): DataFrame = {
    heal()
    spark.read.parquet(dir)
  }

  /** [[read]], or `empty` while the store holds no epoch. */
  def readOr(empty: => DataFrame): DataFrame =
    if (epochs().isEmpty) empty else spark.read.parquet(dir)

  /** The rows of the given epochs, WITHOUT the `epoch` column — the
    * form a sink feeds back into its own logic or re-writes. */
  def read(epochIds: Seq[Long]): DataFrame =
    spark.read.parquet(epochIds.map(path): _*)

  /** The given epochs with the `epoch` partition column. */
  private def partitions(epochIds: Seq[Long]): DataFrame =
    spark.read.option("basePath", dir).parquet(epochIds.map(path): _*)

  /** Overwrite `epoch=<epochId>` with `df` — a replay of the same batch
    * id lands bit-equal — as [[EpochStore.sized]] files. */
  def write(epochId: Long, df: DataFrame): Unit = {
    claim()
    sized(df).write.mode("overwrite").parquet(path(epochId))
  }

  /** Remove one epoch and its sidecars. */
  def drop(epochId: Long): Unit = {
    claim()
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName == s"epoch=$epochId" ||
        f.getName.startsWith(s"epoch=$epochId."))
      .foreach(AtomicSwap.deleteRecursively)
  }

  /** Write a `epoch=<epochId>.<name>` sidecar text file beside the
    * partition (a quarantine reason, say). */
  def note(epochId: Long, name: String, text: String): Unit = {
    claim()
    java.nio.file.Files.write(new File(s"${path(epochId)}.$name").toPath,
      text.getBytes("UTF-8"))
  }

  /** Every `every` batches (`every > 0`; never at batch 0), fold all
    * committed epochs EXCEPT `epochId` into the base via `f` — sum
    * partials for additive relations, `identity` for exactly-once row
    * sets — and swap the rebuilt directory in atomically. `epochId` is
    * the in-flight batch, the only one a crash can replay (batch N
    * starts only after N-1 committed): its partition is carried over
    * verbatim, so a replay overwrites it exactly as in the unfolded
    * layout and snapshots converge bit-equal. Without folding, a sink
    * grows one directory per micro-batch (~17k/day at a 5 s trigger)
    * and every read re-lists all of them.
    *
    * `sortWithin` clusters the base's rows by these columns inside the
    * written file, for readers that skip row groups on column
    * statistics (an unsorted fold would smear every row group's
    * min/max across the whole domain). Regular files beside the
    * partitions (rolling sketches) ride into the new layout verbatim.
    * Run from the sink's own foreachBatch: the single writer means no
    * epoch can land between the listing and the swap. */
  def fold(epochId: Long, every: Int, sortWithin: Seq[String] = Nil)
      (f: DataFrame => DataFrame): Unit = {
    if (every <= 0 || epochId <= 0L || epochId % every != 0L) return
    claim()
    val foldable = listing.filterNot(_ == epochId)
    // fewer than two: the fold would only rewrite the base it has
    if (foldable.size < 2) return
    val tmp = s"$dir.compact.tmp"
    val placed = f(read(foldable)).repartition(1)
    val clustered =
      if (sortWithin.isEmpty) placed
      else placed.sortWithinPartitions(sortWithin.map(col): _*)
    clustered.write.mode("overwrite").parquet(s"$tmp/epoch=$Base")
    if (listing.contains(epochId))
      read(Seq(epochId)).write.mode("overwrite")
        .parquet(s"$tmp/epoch=$epochId")
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.isFile)
      .foreach { file =>
        java.nio.file.Files.copy(file.toPath,
          new File(tmp, file.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    AtomicSwap.publish(tmp, dir)
  }

  /** Replace every epoch with `df` as one fresh base, atomically — the
    * erasure answer for folds that cannot subtract a user (rebuild from
    * the retained upstream). Idempotent. */
  def rebuild(df: DataFrame): Unit = {
    claim()
    val tmp = s"$dir.tmp"
    df.write.mode("overwrite").parquet(s"$tmp/epoch=$Base")
    AtomicSwap.publish(tmp, dir)
  }

  /** Delete rows in place, rewriting only the epochs that need it:
    *
    *  1. `touch` names the epochs to rewrite — keep it a bare pushable
    *     predicate (`isin`), so discovery prunes row groups instead of
    *     scanning every epoch;
    *  2. ONE read over just those epochs counts rows and `delete`
    *     matches per epoch (null counts as keep), before any swap
    *     moves files under the lazy plan;
    *  3. `beforeSwap` runs (a crash marker, say), then the survivors,
    *     passed through `reshape` (which must keep the `epoch` column),
    *     swap back per epoch ([[PartitionedUpsert]]); an epoch whose
    *     every row matched `delete` is removed with its sidecars — the
    *     upsert derives partitions from surviving rows and would never
    *     touch it.
    *
    * Idempotent: a second pass finds nothing to touch. */
  def rewrite(touch: Column, delete: Column,
      reshape: DataFrame => DataFrame = identity,
      beforeSwap: () => Unit = () => ()): Rewrite = {
    claim()
    val all = listing
    if (all.isEmpty) return Rewrite(0L, 0L, 0L)
    val epochCol = col("epoch").cast("long")
    val touched = partitions(all).where(touch).select(epochCol)
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (touched.isEmpty) return Rewrite(all.size.toLong, 0L, 0L)
    val isDel = coalesce(delete, lit(false))
    val rows = partitions(touched)
    val perEpoch = rows.groupBy(epochCol)
      .agg(count(lit(1)), sum(when(isDel, 1L).otherwise(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val emptied = perEpoch.collect { case (e, n, d) if n == d => e }.toSeq
    beforeSwap()
    if (touched.size > emptied.size)
      PartitionedUpsert.upsert(
        reshape(rows.where(!isDel)).where(!col("epoch").isin(emptied: _*)),
        dir, "epoch", Seq.empty)
    emptied.foreach(drop)
    Rewrite(all.size.toLong, touched.size.toLong, perEpoch.map(_._3).sum)
  }
}

object EpochStore {

  def apply(spark: SparkSession, dir: String,
      what: String = "accumulated sink"): EpochStore =
    new EpochStore(spark, dir, what)

  /** Epoch id of the base partition. */
  private val Base = -1L

  private val EpochDir = "epoch=(-?\\d+)".r

  /** `df` coalesced to one output file per `spark.sql.files.maxPartitionBytes`
    * of the bytes the optimizer's statistics give it (a persisted and
    * computed batch's materialized size, the parquet files a merge
    * reads), so a small epoch is one file and one write task, not one per
    * input partition. Left as it is when that asks for as many files as
    * the cores (a large epoch, or a plan without a size: an uncomputed
    * stream batch reads as `spark.sql.defaultSizeInBytes`), and when the
    * caller set its own partitioning or in-partition order: merging
    * sorted partitions would unsort the file. */
  private[streaming] def sized(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case _: Sort | _: RepartitionOperation => df
      case _ =>
        val target = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val files = ((bytes + target - 1) / target).max(1)
        if (files >= df.sparkSession.sparkContext.defaultParallelism) df
        else df.coalesce(files.toInt)
    }

  /** What a [[EpochStore.rewrite]] did: epochs in the store, epochs
    * rewritten or removed, rows deleted. */
  case class Rewrite(epochs: Long, touched: Long, deleted: Long)
}
