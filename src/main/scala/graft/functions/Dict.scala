package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame

/** A driver-collected table that a native expression carries to the
  * executors inside the serialized plan: one primitive payload (sorted
  * or dense longs, doubles, `(key, value)` long pairs sorted by key, or
  * a string → long table).
  *
  * Identity is (kind, size, SHA-256 content digest), the digest computed
  * once on the driver: content-equal tables built apart compare equal,
  * so plan canonicalization and CacheManager lookups match as they would
  * over the contents without touching them, and plans print
  * `dict(n=…, sha=…)`. Not a Spark broadcast: a broadcast belongs to one
  * SparkContext, and memoized plans holding the expression outlive it. */
final class Dict private (val kind: String,
    val longs: Array[Long] = Array.emptyLongArray,
    val values: Array[Long] = Array.emptyLongArray,
    val doubles: Array[Double] = Array.emptyDoubleArray,
    val strings: Array[String] = Array.empty[String]) extends Serializable {

  val size: Int = longs.length max doubles.length max strings.length

  val sha: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(1 << 16)
    def flush(): Unit = { md.update(buf.array, 0, buf.position()); buf.clear() }
    def put(v: Long): Unit = { if (buf.remaining < 8) flush(); buf.putLong(v) }
    md.update(kind.getBytes(UTF_8))
    for (a <- Seq(longs, values, doubles.map(java.lang.Double.doubleToLongBits))) {
      put(a.length); a.foreach(put)
    }
    put(strings.length)
    strings.foreach { s =>
      val b = s.getBytes(UTF_8); put(b.length); flush(); md.update(b)
    }
    flush()
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The string → long table, built once per deserialized instance. */
  @transient private lazy val table = {
    val m = new java.util.HashMap[String, java.lang.Long](strings.length * 2)
    strings.indices.foreach(i => m.put(strings(i), values(i)))
    m
  }

  /** Value of `key` in a string table, `default` when absent. */
  def get(key: String, default: Long): Long = {
    val v = table.get(key)
    if (v == null) default else v.longValue()
  }

  override def equals(o: Any): Boolean = o match {
    case d: Dict => kind == d.kind && size == d.size && sha == d.sha
    case _       => false
  }
  override def hashCode: Int = sha.hashCode
  override def toString: String = s"dict(n=$size, sha=${sha.take(12)})"
}

object Dict {
  /** Sorted, de-duplicated copy of `xs`: a binary-search set. */
  def sortedLongs(xs: Array[Long]): Dict = {
    val a = xs.clone()
    java.util.Arrays.sort(a)
    var n = 0
    for (v <- a) if (n == 0 || v != a(n - 1)) { a(n) = v; n += 1 }
    new Dict("longs", longs = java.util.Arrays.copyOf(a, n))
  }

  /** Dense longs in the given order: a table indexed by position. */
  def longs(xs: Array[Long]): Dict = new Dict("longs", longs = xs.clone())

  /** Dense doubles in the given order: a flattened matrix or table. */
  def doubles(xs: Array[Double]): Dict =
    new Dict("doubles", doubles = xs.clone())

  /** `(key, value)` pairs sorted by key: `longs` holds the keys for a
    * binary search, `values` the aligned values. */
  def sortedPairs(kv: Array[(Long, Long)]): Dict = {
    val s = kv.sortBy(_._1)
    new Dict("pairs", longs = s.map(_._1), values = s.map(_._2))
  }

  /** Collects a `(key long, value long)` frame — its first two columns
    * — into [[sortedPairs]]. The caller bounds the frame's size. */
  def sortedPairs(frame: DataFrame): Dict =
    sortedPairs(frame.collect().map(r => (r.getLong(0), r.getLong(1))))

  /** A string → long table; a repeated key keeps its last value. */
  def strings(kv: Iterable[(String, Long)]): Dict = {
    val s = kv.toMap.toArray.sortBy(_._1)
    new Dict("strings", values = s.map(_._2), strings = s.map(_._1))
  }
}
