package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Registry for operator-internal cached carriers (the shingle index,
  * minhash signature arrays, simhash clusters — see Dedup). The caches
  * are load-bearing WITHIN one query execution (each carrier feeds 2–3
  * plan subtrees), but the operators return lazy DataFrames, so they
  * cannot unpersist before the caller materializes the result. In a
  * long-lived session (HttpServer, a 56-query Verify/Bench run) the
  * leaked blocks would otherwise pin memory until LRU eviction.
  *
  * Contract: a host releases what it registered. Operators `register`
  * their cached frames on the host's thread (an HTTP request's handler
  * thread, the Verify/Bench loop); the host calls [[releaseAll]] on that
  * thread once it has materialized the results it needs, which releases
  * that thread's registrations only — concurrent requests keep theirs.
  * Two hosts that cache plan-equal frames share one CacheManager entry,
  * so a release unpersists a frame only when no live registration of
  * any thread holds a plan-equal one. Releasing is always safe — at
  * worst a subsequent reference recomputes.
  */
object Caches {
  /** What this thread registered since its last [[releaseAll]]. */
  private val mine = ThreadLocal.withInitial(() => mutable.ArrayBuffer.empty[DataFrame])
  /** Every thread's live registrations; the lock for the refcount rule. */
  private val live = mutable.ArrayBuffer.empty[DataFrame]

  /** Track a cached frame for later release; returns it for chaining. */
  def register(df: DataFrame): DataFrame = {
    live.synchronized {
      live += df
      // another thread's release may have dropped the shared entry
      // between this frame's cache() and its registration
      if (df.storageLevel == StorageLevel.NONE) df.persist()
    }
    mine.get += df
    df
  }

  /** Unpersist (non-blocking) every frame this thread registered that no
    * other live registration holds plan-equal, and forget them all. */
  def releaseAll(): Unit = {
    val own = mine.get
    if (own.nonEmpty) live.synchronized {
      own.foreach(df => live.remove(live.indexWhere(_ eq df)))
      own.filterNot(df => live.exists(
          _.queryExecution.normalized.sameResult(df.queryExecution.normalized)))
        .foreach(_.unpersist(blocking = false))
    }
    own.clear()
  }

  /** Release the storage behind a `localCheckpoint`'d frame. UNLIKE
    * [[releaseAll]]'s cached frames, a checkpointed frame has its
    * lineage CUT — once its blocks are dropped it cannot recompute, so
    * this is only safe when no caller will action the frame again (the
    * GraphRank/Dedup loop contract, and the memo-eviction contract:
    * an evicted memo entry's frame must not be held across eviction). */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))
}
