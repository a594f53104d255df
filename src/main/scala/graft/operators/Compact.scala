package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** OFFLINE small-file compaction for a stopped epoch-keyed sink.
  *
  * Micro-batch sinks produce one directory (and ≥1 file) per epoch; at a
  * 5 s trigger that is ~17k directories/day/topic — death by file
  * listing long before the data is big. [[compactEpochs]] rewrites a
  * topic directory into `targetPartitions` flat files and atomically
  * swaps it in, dropping the `epoch` partition column (it was a
  * sink-idempotence artifact, not data). A LIVE sink folds in-band
  * instead, from its own foreachBatch, through
  * [[graft.streaming.EpochStore]] — the one owner of the accumulated
  * sinks' epoch layout, fold cadence, crash healing and rewrites.
  */
object Compact {

  /** STOP-THE-WORLD: the caller must guarantee no writer appends while
    * this runs — an epoch landing between the read and the swap would
    * otherwise vanish from the swapped-in layout. The guard makes that
    * misuse FAIL LOUDLY instead of silently dropping data: the epoch
    * set is snapshotted before the read and re-checked right before
    * the swap; a change aborts the compaction and leaves the directory
    * untouched (the racer's epoch included). The remaining
    * check-to-rename window is microseconds — a misuse detector, not a
    * coordination protocol; a LIVE sink folds from its own
    * foreachBatch via [[graft.streaming.EpochStore.fold]], where
    * single-writerness is structural. `beforeSwap` is a test seam for
    * injecting the race. */
  def compactEpochs(spark: SparkSession, dir: String,
      targetPartitions: Int = 1,
      beforeSwap: () => Unit = () => ()): Unit = {
    graft.AtomicSwap.recover(dir)
    def epochSet(): Set[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
        .map(_.getName).toSet
    val before = epochSet()
    val df = spark.read.parquet(dir)
    val cleaned =
      if (df.columns.contains("epoch")) df.drop("epoch") else df
    val tmp = s"$dir.compact.tmp"
    cleaned.repartition(targetPartitions).write
      .mode("overwrite").parquet(tmp)
    beforeSwap()
    val after = epochSet()
    if (after != before) {
      graft.AtomicSwap.deleteRecursively(new java.io.File(tmp))
      throw new IllegalStateException(
        s"compactEpochs: a writer raced the compaction of $dir " +
          s"(epochs changed: ${(after -- before) ++ (before -- after)}); " +
          "aborted, directory untouched — stop the stream first, or " +
          "fold from the sink's own foreachBatch via EpochStore.fold")
    }
    graft.AtomicSwap.publish(tmp, dir)
  }
}
