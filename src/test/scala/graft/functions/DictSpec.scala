package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Dict, SortedLongSetContains, TextExpressions}
import org.apache.spark.sql.types.LongType

class DictSpec extends SparkSpec {
  import DictSpec.tableFields

  private def randomLongs(n: Int, seed: Long): Array[Long] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextLong())
  }

  test("content-equal dicts built apart are equal and hash equal") {
    val xs = randomLongs(1000, 1L)
    val a = Dict.sortedLongs(xs)
    val b = Dict.sortedLongs(xs.reverse)
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.toString == s"dict(n=1000, sha=${a.sha.take(12)})")
    val s1 = Dict.strings(Seq("a" -> 1L, "b" -> 2L))
    val s2 = Dict.strings(Map("b" -> 2L, "a" -> 1L))
    assert(s1 == s2 && s1.hashCode == s2.hashCode)
    assert(s1.get("b", -1L) == 2L && s1.get("c", -1L) == -1L)
  }

  test("a one-element change makes two dicts unequal") {
    val xs = randomLongs(1000, 2L)
    val ys = xs.clone()
    ys(500) += 1L
    assert(Dict.sortedLongs(xs) != Dict.sortedLongs(ys))
    assert(Dict.longs(Array(1L, 2L)) != Dict.longs(Array(2L, 1L)))
    assert(Dict.doubles(Array(1.0, 2.0)) != Dict.doubles(Array(1.0, 2.5)))
    assert(Dict.sortedPairs(Array((1L, 10L), (2L, 20L))) !=
      Dict.sortedPairs(Array((1L, 10L), (2L, 21L))))
    assert(Dict.strings(Seq("a" -> 1L)) != Dict.strings(Seq("a" -> 2L)))
    assert(Dict.longs(Array(1L)) != Dict.doubles(Array(1.0)))
  }

  test("sortedLongs sorts and de-duplicates unsorted input") {
    val d = Dict.sortedLongs(Array(5L, -3L, 9L, 5L, Long.MinValue, 0L))
    assert(d.longs.toSeq == Seq(Long.MinValue, -3L, 0L, 5L, 9L))
    assert(d.size == 5)
  }

  test("sortedPairs sorts a collected (key, value) frame by key") {
    import spark.implicits._
    val d = Dict.sortedPairs(Seq((9L, 90L), (-1L, 10L), (4L, 40L))
      .toDF("k", "v"))
    assert(d.longs.toSeq == Seq(-1L, 4L, 9L))
    assert(d.values.toSeq == Seq(10L, 40L, 90L))
    assert(d == Dict.sortedPairs(Array((4L, 40L), (9L, 90L), (-1L, 10L))))
  }

  test("sortedPairs keeps duplicate keys in input order, as a stable " +
      "sort of the pairs does") {
    val d = Dict.sortedPairs(Array((3L, 1L), (Long.MaxValue, 4L), (1L, 2L),
      (3L, 0L), (Long.MinValue, 8L), (1L, 5L), (3L, 9L)))
    assert(d.longs.toSeq == Seq(Long.MinValue, 1L, 1L, 3L, 3L, 3L, Long.MaxValue))
    assert(d.values.toSeq == Seq(8L, 2L, 5L, 1L, 0L, 9L, 4L))
  }

  test("expressions over content-equal dicts are semantically equal") {
    val v = AttributeReference("v", LongType)()
    val xs = randomLongs(100, 3L)
    val e1 = SortedLongSetContains(v, Dict.sortedLongs(xs))
    val e2 = SortedLongSetContains(v, Dict.sortedLongs(xs.reverse))
    assert(e1.semanticEquals(e2))
    assert(!e1.semanticEquals(
      SortedLongSetContains(v, Dict.sortedLongs(xs.tail))))
  }

  test("a carrier cached under one dict serves a plan built with the other") {
    import spark.implicits._
    val base = (1L to 50L).toDF("v")
    def probe(xs: Array[Long]) = base.select(col("v"),
      TextExpressions.sortedLongSetContains(col("v"), Dict.sortedLongs(xs))
        .as("hit"))
    def servedFromCache(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }.nonEmpty
    val cached = probe(Array(3L, 7L, 11L)).cache()
    try {
      assert(cached.where(col("hit")).count() == 3L)
      val same = probe(Array(11L, 3L, 7L, 3L))
      assert(servedFromCache(same))
      assert(same.where(col("hit")).count() == 3L)
      assert(!servedFromCache(probe(Array(3L, 7L, 12L))))
    } finally cached.unpersist(blocking = true)
  }

  test("SortedLongSetContains over 2M longs Java-serializes under 17 MB") {
    val dict = Dict.sortedLongs(Array.tabulate(2000000)(_ * 7919L))
    val e = SortedLongSetContains(BoundReference(0, LongType, false), dict)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(e)
    out.close()
    assert(bytes.size < 17000000, s"serialized to ${bytes.size} bytes")
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[SortedLongSetContains]
    assert(back == e)
    assert(back.eval(InternalRow(7919L * 123456L)) == true)
    assert(back.eval(InternalRow(7919L * 123456L + 1L)) == false)
  }

  test("no functions/ expression carries a collection-typed table field") {
    val dir = new java.io.File("src/main/scala/graft/functions")
    val files = Option(dir.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
    assert(files.size >= 5, s"source tree not found under $dir")
    val bad = files.flatMap { f =>
      tableFields(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("the table-field guard flags what it exists to catch") {
    assert(tableFields("case class A(child: Expression,\n" +
      "    set: IndexedSeq[Long]) extends UnaryExpression") ==
      Seq("A: set: IndexedSeq[Long]"))
    assert(tableFields("case class B(child: Expression, " +
      "w: Map[String, Long], default: Long)").size == 1)
    assert(tableFields("case class C(child: Expression, " +
      "merges: scala.collection.Seq[(String, String)], k: Int)").size == 1)
    assert(tableFields("case class D(left: Expression, right: Expression,\n" +
      "    m: Array[Double])").size == 1)
    assert(tableFields("case class Ok(children: Seq[Expression], d: Dict, " +
      "k: Int)\n  // case class in a comment, Seq[Long]").isEmpty)
  }
}

object DictSpec {
  private val Collection =
    """^(?:[\w.]*\.)?(?:Seq|IndexedSeq|Map|Array|List|Vector|Set)\b""".r

  /** `Name: param` for every constructor param of a `case class` in
    * `src` whose type is a collection — a driver table held outside
    * [[Dict]] — except `Seq[Expression]` children. */
  def tableFields(src: String): Seq[String] =
    """case class (\w+)\(""".r.findAllMatchIn(src).toSeq.flatMap { m =>
      val params = Seq.newBuilder[String]
      val cur = new StringBuilder
      var depth = 1
      var i = m.end
      while (depth > 0 && i < src.length) {
        val c = src(i)
        if (c == '(' || c == '[') depth += 1
        if (c == ')' || c == ']') depth -= 1
        if (depth == 1 && c == ',') { params += cur.toString; cur.clear() }
        else if (depth > 0) cur += c
        i += 1
      }
      params += cur.toString
      params.result().map(_.trim).filter { p =>
        val tpe = p.split(":", 2).lift(1).map(_.trim).getOrElse("")
        Collection.findFirstIn(tpe).isDefined && tpe != "Seq[Expression]"
      }.map(p => s"${m.group(1)}: $p")
    }
}
