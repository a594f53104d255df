package graft

import scala.collection.concurrent.TrieMap

/** Deferred reaper for superseded on-disk index directories
  * ([[graft.operators.Ranking]] postings, [[graft.operators.IvfIndex]]
  * inverted files, [[graft.operators.BloomSkip]] layout versions).
  *
  * The fingerprint-keyed memos write each index generation into its OWN
  * directory (reader safety: a refresh never overwrites files a
  * concurrent scan may be listing) and evict superseded memo KEYS — but
  * until round 13 the superseded directories themselves stayed on disk
  * for the JVM's tmp lifetime, an unbounded leak for a refresh-heavy
  * serving process.
  *
  * The reaper closes the leak without racing readers via TWO fences:
  * (a) a one-refresh grace generation — when a refresh evicts keys, only
  * directories condemned by a PREVIOUS refresh become reapable (a full
  * refresh cycle has passed since any caller could have obtained their
  * paths); and (b) a wall-clock grace floor [[graceMs]] — a condemned
  * generation is additionally held until it is at least that old, so a
  * refresh STORM (two refreshes landing within one slow query's
  * lifetime) cannot reap a path an in-flight scan resolved moments
  * before (round-14 advice: the generation fence narrows but does not
  * bound the window; the clock floor bounds it to `graceMs`, far beyond
  * any single query's duration). The final generations (nothing
  * refreshes after them) are at most a few directories per scope —
  * bounded, reclaimed by tmp cleanup, by design.
  */
object IndexGc {

  /** Minimum age (ms) a condemned generation must reach before it may
    * be reaped — the wall-clock fence against refresh storms. Tests
    * that drive refresh cycles faster than real time set this to 0. */
  @volatile var graceMs: Long = 600000L

  /** scope → generations condemned by past refreshes, newest first,
    * each carrying the earliest instant it may be reaped. */
  private val condemned = TrieMap.empty[String, List[(Long, List[String])]]

  /** A refresh of `scope` evicted `stale` index directories: reap the
    * previously condemned generations THAT HAVE AGED PAST [[graceMs]]
    * and condemn `stale` for a later refresh. A memo HIT (no eviction)
    * must pass `stale` empty and is a no-op — otherwise a hit arriving
    * right after a refresh would reap the fresh-condemned generation a
    * reader may still hold. */
  def retire(scope: String, stale: Seq[String]): Unit =
    if (stale.nonEmpty) synchronized {
      val now = System.currentTimeMillis()
      val (ripe, young) =
        condemned.getOrElse(scope, Nil).partition(_._1 <= now)
      ripe.flatMap(_._2)
        .foreach(p => AtomicSwap.deleteRecursively(new java.io.File(p)))
      condemned(scope) = (now + graceMs, stale.toList) :: young
    }

  /** Test hook: forget condemned state WITHOUT deleting (the paired
    * index memos are cleared separately; their directories belong to
    * whoever still holds the paths). */
  def reset(): Unit = synchronized { condemned.clear() }
}
