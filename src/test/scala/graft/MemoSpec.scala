package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The one memo facility: build-once under contention, retryable
  * failures, slot eviction through the release/retire hooks, clearing
  * that deletes nothing, the registry — and a source guard that keeps
  * hand-rolled concurrent-map memos out of `src/main`. */
class MemoSpec extends AnyFunSuite {

  test("N threads on a cold key run exactly one build") {
    val memo = new Memo[String, Long, String]
    val builds = new AtomicInteger(0)
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val got = (1 to n).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          memo.get("slot", 1L) {
            builds.incrementAndGet(); Thread.sleep(100); "built"
          }
        }
      }))
      start.countDown()
      assert(got.map(_.get(30, TimeUnit.SECONDS)).toSet == Set("built"))
      assert(builds.get == 1, s"${builds.get} builds for one cold key")
    } finally pool.shutdownNow()
  }

  test("a throwing builder fails its waiters and leaves the key " +
      "retryable") {
    val memo = new Memo[String, Long, String]
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val fail = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val got = (1 to 4).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          memo.get("slot", 1L) {
            builds.incrementAndGet(); fail.await()
            throw new IllegalStateException("torn build")
          }
        }
      }))
      start.countDown()
      Thread.sleep(500) // every caller is waiting on the one build
      fail.countDown()
      got.foreach { f =>
        val e = intercept[java.util.concurrent.ExecutionException](
          f.get(30, TimeUnit.SECONDS))
        assert(e.getCause.isInstanceOf[IllegalStateException])
      }
      assert(builds.get == 1, s"${builds.get} builds for one cold key")
    } finally pool.shutdownNow()
    assert(!memo.isBuilt("slot", 1L))
    assert(memo.get("slot", 1L)("retried") == "retried")
    assert(memo.isBuilt("slot", 1L))
  }

  test("a new version evicts the old one through the hooks, inside the " +
      "gate; a hit evicts nothing") {
    val released = Seq.newBuilder[(String, Boolean)]
    val retired = Seq.newBuilder[(String, Seq[String], Boolean)]
    var inGate = false
    val gate = new Memo.Gate {
      def apply[A](body: => A): A = {
        inGate = true
        try body finally inGate = false
      }
    }
    val memo = new Memo[String, Long, String](
      release = v => released += v -> inGate,
      retire = (s, vs) => retired += ((s, vs, inGate)),
      gate = gate)
    assert(memo.get("a", 1L)("a1") == "a1")
    assert(memo.get("b", 1L)("b1") == "b1")
    assert(memo.get("a", 1L)("rebuilt") == "a1")
    assert(released.result().isEmpty && retired.result().isEmpty)
    assert(memo.get("a", 2L)("a2") == "a2")
    assert(released.result() == Seq("a1" -> true))
    assert(retired.result() == Seq(("a", Seq("a1"), true)))
    assert(memo.peek("a", 1L).isEmpty, "superseded version still served")
    assert(memo.built("a") == Seq("a2") && memo.built("b") == Seq("b1"),
      "eviction reached another slot")
  }

  test("clear runs the release hook but deletes no directory") {
    val dir = java.nio.file.Files.createTempDirectory("memoclear").toFile
    val released = Seq.newBuilder[String]
    val memo = new Memo[String, Long, String](
      release = released += _,
      retire = (_, vs) =>
        vs.foreach(p => AtomicSwap.deleteRecursively(new java.io.File(p))))
    memo.get("slot", 1L)(dir.getPath)
    memo.clear()
    assert(released.result() == Seq(dir.getPath))
    assert(dir.exists(), "clear deleted a memoized directory")
    assert(memo.peek("slot", 1L).isEmpty)
    AtomicSwap.deleteRecursively(dir)
  }

  test("clearAll empties every registered memo") {
    val m1 = new Memo[String, Long, String]
    val m2 = new Memo[(String, Int), Unit, Int]
    m1.get("x", 1L)("v")
    m2.get(("y", 2), ())(3)
    Memo.clearAll()
    assert(m1.peek("x", 1L).isEmpty && m2.peek(("y", 2), ()).isEmpty)
  }

  test("src/main keeps no concurrent-map memo outside the facility") {
    val root = new java.io.File("src/main/scala")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val files = walk(root).filterNot(_.getPath.endsWith("graft/Memo.scala"))
    assert(files.size > 50, s"source tree not found under $root")
    val bad = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      MemoSpec.guardViolations(f.getName, src)
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("the source guard flags what it exists to catch") {
    import MemoSpec.guardViolations
    assert(guardViolations("A.scala",
      "  private val memo = scala.collection.concurrent.TrieMap\n" +
        "    .empty[String, Int]\n").size == 1)
    assert(guardViolations("A.scala",
      "  private val m =\n    new java.util.concurrent.ConcurrentHashMap" +
        "[String, String]()\n").size == 1)
    assert(guardViolations("IndexGc.scala",
      "  private val condemned = TrieMap.empty[String, Int]\n" +
        "  def f = condemned.getOrElseUpdate(\"k\", 1)\n").size == 1,
      "getOrElseUpdate on an allowlisted map")
    assert(guardViolations("IndexGc.scala",
      "import scala.collection.concurrent.TrieMap\n" +
        "  /** a TrieMap in a comment */\n" +
        "  private val condemned = TrieMap.empty[String, Int] // TrieMap\n" +
        "  val m = scala.collection.mutable.HashMap.empty[String, Int]\n" +
        "  def f = m.getOrElseUpdate(\"k\", 1)\n").isEmpty)
  }
}

object MemoSpec {

  /** The concurrent maps `src/main` may declare outside [[Memo]]:
    * (file, val name). Neither is a build memo — the reaper's condemned
    * generations and the single-writer owner registry. */
  val Allowed: Set[(String, String)] =
    Set("IndexGc.scala" -> "condemned", "SingleWriter.scala" -> "dirOwners")

  private val MapType =
    ("\\b(TrieMap|ConcurrentHashMap|ConcurrentSkipListMap|ConcurrentMap|" +
      "concurrent\\.Map)\\b").r
  private val Binding = "\\b(?:val|var)\\s+(\\w+)".r
  private val BlockComment = "(?s)/\\*.*?\\*/".r
  private val LineComment = "(^|\\s)//.*".r

  /** `file:line` findings for one source: a concurrent map bound to
    * anything but an allowlisted name, and a `getOrElseUpdate` /
    * `computeIfAbsent` on any concurrent map — the cold-key race the
    * facility exists to close. */
  def guardViolations(file: String, src: String): Seq[String] = {
    val code = BlockComment
      .replaceAllIn(src, m => "\n" * m.matched.count(_ == '\n'))
      .split("\n", -1).map(l => LineComment.replaceAllIn(l, "$1"))
    val maps = code.indices.collect {
      case i if !code(i).trim.startsWith("import ") &&
          MapType.findFirstIn(code(i)).isDefined =>
        val onPrev =
          if (i > 0 && code(i - 1).trim.endsWith("=")) code(i - 1) else ""
        i -> Binding.findFirstMatchIn(code(i))
          .orElse(Binding.findFirstMatchIn(onPrev)).map(_.group(1))
    }
    val undeclared = maps.collect {
      case (i, name) if !name.exists(n => Allowed(file -> n)) =>
        s"$file:${i + 1}: concurrent map outside graft.Memo"
    }
    val names = maps.flatMap(_._2).toSet
    val racy = for {
      (line, i) <- code.zipWithIndex.toSeq
      n <- names.toSeq
      if s"\\b$n\\s*\\.\\s*(getOrElseUpdate|computeIfAbsent)\\b".r
        .findFirstIn(line).isDefined
    } yield s"$file:${i + 1}: $n.getOrElseUpdate on a concurrent map"
    undeclared ++ racy
  }
}
