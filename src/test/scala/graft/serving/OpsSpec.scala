package graft.serving

import org.scalatest.funsuite.AnyFunSuite

/** A source guard that keeps the operator table the only way to serve an
  * operator: routes and table functions are registered in exactly two
  * places, the loops over [[Ops.table]] in `HttpServer.start` and
  * `GraftExtensions.apply`. */
class OpsSpec extends AnyFunSuite {

  test("src/main registers routes and table functions only in the two " +
      "table loops") {
    val root = new java.io.File("src/main/scala")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val files = walk(root)
    assert(files.size > 50, s"source tree not found under $root")
    val found = files.map { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      f.getName -> OpsSpec.registrations(src)
    }
    val bad = found.flatMap { case (name, regs) =>
      OpsSpec.guardViolations(name, regs) }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    assert(found.map(_._2.size).sum == 2, "a table loop is missing")
  }

  test("the source guard flags what it exists to catch") {
    import OpsSpec.{guardViolations, registrations}
    val loop =
      "  def start(): HttpServer = {\n" +
        "    for (op <- Ops.table; path <- op.path)\n" +
        "      server.createContext(path, handler(op))\n"
    assert(guardViolations("HttpServer.scala", registrations(loop)).isEmpty)
    // a hand-written route next to the loop
    assert(guardViolations("HttpServer.scala", registrations(loop +
      "    server.createContext(\"/extra\", handler(_ => ???))\n")).size == 1)
    // a table function registered outside GraftExtensions' loop
    assert(guardViolations("Other.scala", registrations(
      "    ext.injectTableFunction((new FunctionIdentifier(\"x\"),\n")).size == 1)
    assert(guardViolations("GraftExtensions.scala", registrations(
      "    ext.injectTableFunction((new FunctionIdentifier(\"x\"),\n")).size == 1)
    // the loop's registration in the wrong file
    assert(guardViolations("GraftExtensions.scala", registrations(loop))
      .size == 1)
    // comments do not count
    assert(registrations("  // server.createContext(\"/x\", h)\n" +
      "  /** ext.injectTableFunction(x) */\n").isEmpty)
  }
}

object OpsSpec {

  /** The one file each registration call may appear in. */
  private val Home = Map("createContext(" -> "HttpServer.scala",
    "injectTableFunction(" -> "GraftExtensions.scala")

  private val BlockComment = "(?s)/\\*.*?\\*/".r
  private val LineComment = "(^|\\s)//.*".r

  /** Each registration call in a source, comments stripped: (0-based
    * line, call, whether the two lines above open a loop over the
    * operator table). */
  def registrations(src: String): Seq[(Int, String, Boolean)] = {
    val code = BlockComment
      .replaceAllIn(src, m => "\n" * m.matched.count(_ == '\n'))
      .split("\n", -1).map(l => LineComment.replaceAllIn(l, "$1"))
    for {
      (line, i) <- code.toSeq.zipWithIndex
      call <- Home.keys.toSeq if line.contains(call)
    } yield (i, call, code.slice(i - 2, i).exists(_.contains("<- Ops.table")))
  }

  /** `file:line` findings: a registration outside its home file, outside
    * a table loop, or a second one in its home file. */
  def guardViolations(file: String,
      regs: Seq[(Int, String, Boolean)]): Seq[String] =
    regs.groupBy(_._2).toSeq.flatMap { case (call, rs) =>
      rs.zipWithIndex.collect {
        case ((i, _, inLoop), n) if Home(call) != file || !inLoop || n > 0 =>
          s"$file:${i + 1}: $call outside the operator-table loop"
      }
    }
}
