package graft

import scala.collection.concurrent.TrieMap
import scala.util.Try

/** The per-JVM build-once memo behind every trained or materialized
  * serving artifact (IVF/PQ training, postings, bloom/z-order layouts
  * and their forget versions, takedown bundles, gate models, the
  * cluster table, layout manifests) — one mechanism instead of a
  * hand-rolled map per module.
  *
  * An entry is keyed by a SLOT — what is built, e.g. `(dir, cells,
  * iters)` — and a VERSION — what it was built from, e.g. the source
  * files' fingerprint.
  *
  *  - '''Build once.''' Concurrent cold callers of one key block on a
  *    single build (a bare `TrieMap.getOrElseUpdate` can run two
  *    builders into the same deterministic tmp path). A builder that
  *    throws fails every caller waiting on it and leaves the key
  *    retryable — the copy-on-write writers delete-then-rebuild their
  *    target, so a retry over a torn directory is safe.
  *  - '''Eviction.''' A finished build evicts its slot's other
  *    versions: each evicted built value goes to `release` (in-memory
  *    resources such as checkpointed blocks), then the batch goes to
  *    `retire` (on-disk directories, normally [[IndexGc.retire]]). A
  *    hit never evicts.
  *  - '''Gate.''' `gate` wraps each build together with the eviction
  *    it triggers — the copy-on-write transition memos serialize both
  *    (and the retention their builders run) under
  *    [[operators.Layouts.withBuildGate]].
  *  - '''Clearing.''' [[clear]] drops every entry and runs `release`,
  *    never `retire`: clearing deletes no directory. Every memo
  *    registers itself, so [[Memo.clearAll]] reaches all of them.
  *
  * Entries live for the JVM (Verify, Bench and HttpServer are each one
  * session); [[Caches.releaseAll]] does not touch them — a memoized
  * index is durable state, not a per-query carrier. */
final class Memo[S, W, V](
    release: V => Unit = (_: V) => (),
    retire: (S, Seq[V]) => Unit = (_: S, _: Seq[V]) => (),
    gate: Memo.Gate = Memo.Ungated) {

  /** One key's build: the first caller runs it, concurrent callers
    * wait and share its value or its failure. */
  private final class Cell(build: => V) {
    @volatile private var result: Option[Try[V]] = None
    def value: V = result.getOrElse(synchronized {
      if (result.isEmpty) result = Some(Try(build))
      result.get
    }).get
    def peek: Option[V] = result.flatMap(_.toOption)
  }

  private val cells = TrieMap.empty[(S, W), Cell]
  Memo.registry.add(this)

  /** The value for (slot, version), built on first request. */
  def get(slot: S, version: W)(build: => V): V = {
    val key = (slot, version)
    val cell = cells.getOrElse(key, {
      val fresh = new Cell(gate { val v = build; evict(slot, version); v })
      cells.putIfAbsent(key, fresh).getOrElse(fresh)
    })
    // a failed build leaves the key to the next caller's fresh build
    try cell.value
    catch { case t: Throwable => cells.remove(key, cell); throw t }
  }

  /** The built value for (slot, version), without building. */
  def peek(slot: S, version: W): Option[V] =
    cells.get((slot, version)).flatMap(_.peek)

  /** Whether (slot, version) is built — a repeat request can be
    * answered without paying (or gating on) the build. */
  def isBuilt(slot: S, version: W): Boolean = peek(slot, version).isDefined

  /** Every built value of `slot`, whatever its version. */
  def built(slot: S): Seq[V] =
    cells.toSeq.collect { case ((s, _), c) if s == slot => c.peek }.flatten

  /** Drop `slot`'s entries (its source changed in place). */
  def invalidate(slot: S): Unit = drop(_._1 == slot)

  /** Drop every entry (tests, cold benching); deletes no directory. */
  def clear(): Unit = drop(_ => true)

  private def drop(which: ((S, W)) => Boolean): Unit =
    cells.keys.filter(which).flatMap(cells.remove).flatMap(_.peek)
      .foreach(release)

  private def evict(slot: S, version: W): Unit = {
    val stale = cells.keys.filter(k => k._1 == slot && k._2 != version)
      .flatMap(cells.remove).flatMap(_.peek).toSeq
    stale.foreach(release)
    if (stale.nonEmpty) retire(slot, stale)
  }
}

object Memo {

  /** Wraps a build and the eviction it triggers. */
  trait Gate { def apply[A](body: => A): A }

  object Ungated extends Gate { def apply[A](body: => A): A = body }

  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[Memo[_, _, _]]()

  /** Clear every memo this JVM constructed (cold benching). */
  def clearAll(): Unit = registry.forEach(_.clear())
}
