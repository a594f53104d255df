// Lives under org.apache.spark.sql so it can use private[sql] APIs —
// same pattern as VectorExpressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared text-shingling kernel for the native expressions.
  *
  * Semantics are EXACTLY the composed-column form in
  * `graft.functions.TextFunctions` (whitespace tokens, k-word shingles,
  * whole-text fallback for short docs, first-occurrence distinct,
  * first-60-bits-of-md5 hashing) — asserted bitwise by the spec — so the
  * same DuckDB oracle verifies both implementations.
  */
private[graft] object TextKernel {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def distinctShingles(text: String, k: Int): Array[String] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val shingles: Iterator[String] =
      if (toks.length < k) Iterator(toks.mkString(" "))
      else toks.sliding(k).map(_.mkString(" "))
    val seen = new java.util.LinkedHashSet[String]()
    shingles.foreach(seen.add)
    seen.toArray(new Array[String](seen.size))
  }

  /** First 60 bits of md5(s): the twin of TextFunctions.md5Long. */
  def md5Long60(s: String): Long = {
    val d = digest.get(); d.reset()
    val b = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v >>> 4
  }

  // ---- byte-level path (the hashed-shingle kernels) -------------------
  //
  // The hashed kernels never need the shingle STRING — only its md5.
  // md5(shingle.getBytes(UTF_8)) == md5 of the member tokens' UTF-8
  // byte regions fed through MessageDigest.update with a 0x20 between,
  // so the kernels below tokenize the row's UTF-8 bytes ONCE (offsets +
  // lengths, no String or byte copies) and digest regions directly:
  // zero intermediate Strings, zero concatenation buffers, same hashes.
  //
  // Byte-exactness of the tokenizer: Java's `\s` is ASCII-only
  // ([ \t\n\x0B\f\r]), every member is a single UTF-8 byte < 0x80, and
  // UTF-8 continuation/lead bytes are all >= 0x80 — so scanning raw
  // bytes for that set splits exactly where `toString.split("\\s+")`
  // does, for any Unicode content.

  /** Token byte-ranges of one row: parallel (starts, lens), n valid. */
  final class Tokens(val starts: Array[Int], val lens: Array[Int],
      val n: Int)

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  def tokenize(bytes: Array[Byte]): Tokens = {
    var cap = 8
    var starts = new Array[Int](cap)
    var lens = new Array[Int](cap)
    var n = 0
    var i = 0
    val len = bytes.length
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        val s = i
        while (i < len && !isWs(bytes(i))) i += 1
        if (n == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          lens = java.util.Arrays.copyOf(lens, cap)
        }
        starts(n) = s; lens(n) = i - s; n += 1
      }
    }
    new Tokens(starts, lens, n)
  }

  /** md5-60 of the `k` tokens starting at token `t`, space-joined —
    * byte-exact twin of `md5Long60(toks.slice(t, t+k).mkString(" "))`.
    * `k` may be 0 (the empty-text fallback shingle: md5 of ""). */
  def hashGram(bytes: Array[Byte], tk: Tokens, t: Int, k: Int): Long = {
    val d = digest.get(); d.reset()
    var j = 0
    while (j < k) {
      if (j > 0) d.update(0x20.toByte)
      d.update(bytes, tk.starts(t + j), tk.lens(t + j))
      j += 1
    }
    val b = d.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v >>> 4
  }
}

/** The k rarest elements of a per-row gram multiset under the GLOBAL
  * (df, gram) order — the ED-Join prefix, selected MAP-SIDE against
  * `dfs`, a [[Dict.sortedPairs]] of (gram, df) collected under the cap
  * that justified broadcasting the df relation. Replaces the
  * explode→join(df)→row_number-window→filter chain of the fuzzy-join
  * prefix build: the window shuffled and SORTED the full gram
  * relation per (side, name) group, while this is one pass over the
  * row's own gram array inside the scan/cache stage. Output multiset ≡
  * the window's (`__rn ≤ k` over orderBy(df, g)): the k smallest
  * (df, g) pairs of the row's multiset — ties are value-identical, so
  * row_number's arbitrary order among them cannot change the multiset.
  * A gram absent from the dictionary is skipped, matching the window
  * path's inner join (unreachable when df is computed over the same
  * relation, by construction). Emitted sorted by (df, g) —
  * deterministic row content for the cached carrier. */
case class RarestKGrams(child: Expression, k: Int, dfs: Dict)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, "k must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rarest_k_grams"
  override def nullSafeEval(input: Any): Any = new GenericArrayData(
    RarestSelect.rarest(input.asInstanceOf[ArrayData], k, dfs))
  override protected def withNewChildInternal(c: Expression): RarestKGrams =
    copy(child = c)
}

/** Shared (df, g)-order selection for the prefix kernels. */
private[graft] object RarestSelect {
  /** The `take` smallest (df, g) pairs of the row's multiset, looked up
    * in the aligned sorted dictionary; elements absent from the
    * dictionary are skipped (≡ the window path's inner df join). */
  def rarest(gs: ArrayData, take: Int, dfs: Dict): Array[Any] = {
    val gArr = dfs.longs
    val dArr = dfs.values
    val n = gs.numElements()
    val g = new Array[Long](n)
    val d = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val v = gs.getLong(i)
      val p = java.util.Arrays.binarySearch(gArr, v)
      if (p >= 0) { g(m) = v; d(m) = dArr(p); m += 1 }
      i += 1
    }
    // index sort by (df, g); per-row sets are small (name grams, one
    // doc's shingles), so a boxed index sort is cheaper than cleverness
    val idx = new Array[Integer](m)
    i = 0; while (i < m) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c = java.lang.Long.compare(d(a), d(b))
        if (c != 0) c else java.lang.Long.compare(g(a), g(b))
      }
    })
    val t = math.min(take, m)
    val out = new Array[Any](t)
    var j = 0
    while (j < t) { out(j) = g(idx(j)); j += 1 }
    out
  }
}

/** The CONTAINMENT prefix of a per-row shingle set: its
  * `n − floor(tMarginPpm·n / 10⁶) + 1` rarest elements under the global
  * (df, shingle) order, where `n` is the row's own set size — the
  * per-row-length ED-Join/PPJoin prefix rule for a directed-overlap
  * threshold. Any pair with containment ≥ t in either direction shares
  * ≥ ⌈t·n⌉ elements with one side's set, which cannot all hide in that
  * side's last ⌈t·n⌉ − 1 positions — so it shares one with this prefix
  * (floor instead of ceil only LENGTHENS the prefix: strictly a
  * superset, never a miss). `dfs` as in [[RarestKGrams]]. */
case class ContainmentPrefixGrams(child: Expression, tMarginPpm: Long,
    dfs: Dict) extends UnaryExpression with CodegenFallback {
  require(tMarginPpm >= 1 && tMarginPpm <= 1000000L,
    "tMarginPpm must be in [1, 1e6]")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "containment_prefix_grams"
  override def nullSafeEval(input: Any): Any = {
    val gs = input.asInstanceOf[ArrayData]
    val n = gs.numElements().toLong
    val owed = tMarginPpm * n / 1000000L // floor ≤ ⌈tMargin·n⌉
    val p = (n - owed + 1L).toInt
    new GenericArrayData(RarestSelect.rarest(gs, p, dfs))
  }
  override protected def withNewChildInternal(c: Expression)
      : ContainmentPrefixGrams = copy(child = c)
}

/** Per-document term frequencies: array<struct<term string, tf bigint>>
  * in first-occurrence order — the map-side carrier of the tf/df query
  * family (q17/q64/q88/q103/q130). `explode(term_freqs(text))` yields
  * exactly the rows of `explode(tokens(text)).groupBy(doc, term).count()`
  * WITHOUT the aggregation exchange: per-doc counting is a function of
  * the row alone, so it runs inside the scan/map stage and any first
  * shuffle carries one row per (doc, term) instead of one per token
  * occurrence. Token semantics are TextFunctions.tokens verbatim
  * (whitespace split, empties dropped) — asserted by spec. */
case class TermFreqs(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "term_freqs"
  override def nullSafeEval(input: Any): Any = {
    // byte-level tokenize (TextKernel's ASCII-whitespace scan is
    // byte-exact with split("\\s+") — see the kernel's proof note);
    // UTF8String token views over the row's bytes count in one map, no
    // String decode/encode, no byte copies
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val tk = TextKernel.tokenize(bytes)
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < tk.n) {
      val t = UTF8String.fromBytes(bytes, tk.starts(i), tk.lens(i))
      val c = m.get(t)
      if (c == null) m.put(t, Array(1L)) else c(0) += 1L
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        e.getKey, e.getValue()(0))
      j += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): TermFreqs =
    copy(child = c)
}

/** Native k-word distinct shingle set: array<string>. Replaces the
  * interpreted transform/slice/array_distinct chain on hot paths
  * (inverted-index build for Jaccard near-dup). */
case class ShingleSet(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"
  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val sh = TextKernel.distinctShingles(text, k)
    new GenericArrayData(sh.map(UTF8String.fromString(_)))
  }
  override protected def withNewChildInternal(c: Expression): ShingleSet =
    copy(child = c)
}

/** Native k-word distinct shingle set as 60-bit md5 HASHES:
  * array<long>. Same shingle semantics as [[ShingleSet]] (whitespace
  * tokens, whole-text fallback under k tokens, first-occurrence
  * distinct) and the same per-shingle hash as [[MinHashSig]]'s base —
  * one tokenize+hash+dedup loop per doc. The similarity-join family
  * consumes this instead of [[ShingleSet]] wherever only shingle
  * IDENTITY matters (inverted indexes, df aggregation, overlap
  * counting): every downstream exchange then carries 8 B longs instead
  * of ~20 B strings, and set arithmetic runs on primitives. Counts are
  * invariant under the injective hash (60-bit space — a collision
  * merges the same identities on every side), so the string-shingle
  * DuckDB oracles verify the hashed plans unchanged. */
case class ShingleHashSet(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_set"
  override def nullSafeEval(input: Any): Any = {
    // byte-level path: tokenize the UTF-8 bytes once, digest each
    // shingle's token REGIONS (no shingle Strings), dedup on the hash
    // itself in first-occurrence order. Dedup-by-hash equals the old
    // dedup-by-string except when two distinct shingles of ONE doc
    // collide in 60-bit space (2^-60) — and since every consumer treats
    // the values as shingle identities (and the sorted-merge verify
    // kernel requires duplicate-free sets), collapsing a collision here
    // is the more consistent behavior, not a divergence.
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val tk = TextKernel.tokenize(bytes)
    if (tk.n < k)
      new GenericArrayData(Array(TextKernel.hashGram(bytes, tk, 0, tk.n)))
    else {
      val nSh = tk.n - k + 1
      val seen = new java.util.HashSet[java.lang.Long](nSh * 2)
      val out = new Array[Long](nSh)
      var m = 0
      var i = 0
      while (i < nSh) {
        val h = TextKernel.hashGram(bytes, tk, i, k)
        if (seen.add(h)) { out(m) = h; m += 1 }
        i += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, m))
    }
  }
  override protected def withNewChildInternal(c: Expression): ShingleHashSet =
    copy(child = c)
}

/** Native MinHash signature: one md5 per distinct shingle, `numHashes`
  * affine permutations, all in a tight loop — replaces the interpreted
  * aggregate/zip_with fold (~6× on the signature build at bench scale). */
case class MinHashSig(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  import graft.functions.TextFunctions.{MinHashP, minHashA, minHashB}
  private lazy val as: Array[Long] = minHashA(numHashes).toArray
  private lazy val bs: Array[Long] = minHashB(numHashes).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullSafeEval(input: Any): Any = {
    // byte-level path, and NO dedup: `min` is idempotent, so feeding a
    // repeated shingle's base through the permutations a second time
    // cannot change any signature slot — the old distinct-then-hash
    // pass bought nothing here. Each shingle is hashed straight off the
    // token byte regions (zero intermediate Strings).
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val tk = TextKernel.tokenize(bytes)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val nSh = if (tk.n < k) 1 else tk.n - k + 1
    val kk = if (tk.n < k) tk.n else k
    var s = 0
    while (s < nSh) {
      val base = TextKernel.hashGram(bytes, tk, s, kk) % MinHashP
      var j = 0
      while (j < numHashes) {
        val h = (as(j) * base + bs(j)) % MinHashP
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      s += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** Native POSITIONAL k-gram hashes: array<long> where element i is the
  * 60-bit md5 of the k tokens starting at token i (no distinct, no
  * whole-text fallback — a doc shorter than k tokens yields an empty
  * array). The duplicate-span index (`Dedup.duplicateSpansOn`) consumes
  * this with posexplode: one tight loop replaces the composed
  * transform/slice/concat_ws/md5 chain whose intermediate gram STRINGS
  * existed only to be hashed. Hash twin of TextFunctions.md5Long, so the
  * DuckDB oracle reproduces every element. */
case class GramHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 2, s"gram size must be >= 2 (got $k)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"
  override def nullSafeEval(input: Any): Any = {
    // byte-level path: each positional gram digests its token byte
    // regions directly — the old StringBuilder + toString per gram
    // existed only to be hashed.
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val tk = TextKernel.tokenize(bytes)
    val n = tk.n - k + 1
    if (n <= 0) new GenericArrayData(Array.emptyLongArray)
    else {
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        out(i) = TextKernel.hashGram(bytes, tk, i, k)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
  override protected def withNewChildInternal(c: Expression): GramHashes =
    copy(child = c)
}

/** Native DSIR feature buckets: every unigram AND adjacent-bigram
  * occurrence of the text, as its 60-bit md5 reduced mod `buckets` —
  * ONE tokenize pass, token byte regions hashed directly. Replaces the
  * composed concat/zip_with/slice/transform chain whose tokens()
  * subtree Catalyst re-evaluates per reference (no CSE inside one
  * expression tree) and whose bigram Strings existed only to be
  * hashed. NO dedup — DSIR counts feature OCCURRENCES. Hash twin of
  * `pmod(md5Long(feat), buckets)` (unigram feat = the token, bigram
  * feat = "w1 w2"), so the DuckDB oracle reproduces every element.
  * Zero tokens → empty array; one token → just its unigram. */
case class DsirFeatureBuckets(child: Expression, buckets: Int)
    extends UnaryExpression with CodegenFallback {
  require(buckets > 0, s"bucket count must be positive (got $buckets)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dsir_feature_buckets"
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val tk = TextKernel.tokenize(bytes)
    val n = tk.n
    if (n == 0) new GenericArrayData(Array.emptyLongArray)
    else {
      val m = if (n >= 2) 2 * n - 1 else n
      val out = new Array[Long](m)
      var i = 0
      while (i < n) { // hashGram is non-negative (60-bit), % == pmod
        out(i) = TextKernel.hashGram(bytes, tk, i, 1) % buckets
        i += 1
      }
      var j = 0
      while (j < n - 1) {
        out(n + j) = TextKernel.hashGram(bytes, tk, j, 2) % buckets
        j += 1
      }
      new GenericArrayData(out)
    }
  }
  override protected def withNewChildInternal(c: Expression): DsirFeatureBuckets =
    copy(child = c)
}

/** Native SimHash signature: one md5 per distinct token, popcount
  * tallies in a tight loop — replaces the interpreted aggregate over
  * sequence(bits) whose per-bit filter() re-walks the token hashes
  * (O(bits·tokens) boxed lambda evals per row; the difference between
  * 0.3 s and 15 s on the sf0.1 near-dup build). Bit i = 1 iff the
  * majority of distinct-token hashes have bit i set (ties → 0) —
  * bitwise-identical to TextFunctions.simHash and the DuckDB oracle. */
case class SimHashSig(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {
  require(bits > 0 && bits <= 60, s"simhash bits must be in (0,60]: $bits")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"
  override def nullSafeEval(input: Any): Any = {
    // byte-level path: hash each token region, dedup DISTINCT tokens by
    // their 60-bit identity (equal to string dedup except when two
    // distinct tokens of one doc collide in 60-bit space, 2^-60 — and
    // the hash IS the vote, so collapsing a collision merges votes that
    // were already identical), tally majority bits.
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val tk = TextKernel.tokenize(bytes)
    val seen = new java.util.HashSet[java.lang.Long](tk.n * 2)
    val counts = new Array[Int](bits)
    var n = 0
    var t = 0
    while (t < tk.n) {
      val h = TextKernel.hashGram(bytes, tk, t, 1)
      if (seen.add(h)) {
        var i = 0
        while (i < bits) {
          if (((h >>> i) & 1L) != 0L) counts(i) += 1
          i += 1
        }
        n += 1
      }
      t += 1
    }
    var sig = 0L
    var i = 0
    while (i < bits) {
      if (2 * counts(i) > n) sig |= 1L << i
      i += 1
    }
    sig
  }
  override protected def withNewChildInternal(c: Expression): SimHashSig =
    copy(child = c)
}

/** Intersection size of two ASCENDING-sorted `array<long>`s by linear
  * merge — the verify kernel of the PPJoin prefix path.
  *
  * `array_intersect` builds a hash set per invocation (allocation +
  * hashing per element); for the verify stage that runs once per
  * CANDIDATE PAIR (millions of rows at corpus scale) the constant
  * matters more than the asymptotics. Both inputs are distinct-element
  * sets sorted by value (the caller sorts the small carrier side once),
  * so a two-pointer merge counts the intersection in ≤ |a|+|b| long
  * comparisons with zero allocation, inside whole-stage codegen.
  *
  * CONTRACT: both arrays ascending-sorted, duplicate-free (as produced
  * by `sort_array` over a set). Unsorted input silently undercounts —
  * callers own the ordering, same as any merge join. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var n = 0L
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { n += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $n = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $n++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Native BPE encode: whitespace-tokenize, segment each word with the
  * learned merges applied in rank order (the exact
  * [[graft.operators.BpeKernel]] arithmetic the trainer used), emit the
  * concatenated subword array (final symbols keep their `</w>`
  * markers). `merges` maps `"left right"` to the merge's rank; it ships
  * inside the serialized expression once per executor, not per row, and
  * `encoded` memoizes per-instance: natural text repeats word forms
  * heavily, so each distinct form pays the merge loop once per
  * partition (the cache is bounded by the partition's distinct forms;
  * transient, rebuilt after deserialization). */
case class BpeEncode(child: Expression, merges: Dict)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"
  @transient private lazy val encoded =
    new java.util.HashMap[String, Array[UTF8String]]()
  override def nullSafeEval(input: Any): Any = {
    import graft.operators.BpeKernel
    val toks = input.asInstanceOf[UTF8String].toString
      .split("\\s+").filter(_.nonEmpty)
    val out = Array.newBuilder[UTF8String]
    toks.foreach { w =>
      var subs = encoded.get(w)
      if (subs == null) {
        subs = BpeKernel.encodeWord(w,
          (l, r) => merges.get(l + " " + r, Long.MaxValue))
          .map(UTF8String.fromString(_)).toArray
        encoded.put(w, subs)
      }
      out ++= subs
    }
    new GenericArrayData(out.result().asInstanceOf[Array[Any]])
  }
  override protected def withNewChildInternal(c: Expression): BpeEncode =
    copy(child = c)
}

/** Count of tokens whose md5-60 identity is in a STATIC sorted ban
  * set — the scan kernel of the blocklist filter (q92). Reuses the
  * byte-level tokenizer ([[TextKernel.tokenize]]) and per-token region
  * hashing, probes `set` (a [[Dict.sortedLongs]]) by binary search:
  * map-only, no explode, no broadcast join. Hash-identity probing is
  * exact up to md5-60 collisions (2^-60), same contract as every hashed
  * kernel here. */
case class BannedTokenCount(child: Expression, set: Dict)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "banned_token_count"
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val tk = TextKernel.tokenize(bytes)
    var n = 0L
    var i = 0
    while (i < tk.n) {
      if (java.util.Arrays.binarySearch(set.longs,
          TextKernel.hashGram(bytes, tk, i, 1)) >= 0) n += 1
      i += 1
    }
    n
  }
  override protected def withNewChildInternal(c: Expression)
      : BannedTokenCount = copy(child = c)
}

/** Native content-defined chunking (CDC) segments: split the token
  * stream at content-derived boundaries — after every token whose
  * 60-bit md5 is ≡ 0 mod `p` — and emit one struct per segment:
  * `(n_tokens, seg_h)` where `seg_h` is the md5-60 of the segment's
  * tokens joined by single spaces (the md5Long twin, so a SQL oracle
  * replays every element). Public recipe: Rabin-style CDC from LBFS
  * (Muthitacharoen et al., SOSP'01), the storage-dedup primitive —
  * segment boundaries depend only on LOCAL content, so insertions
  * shift chunk CONTENTS by at most one chunk instead of re-aligning
  * every fixed-size window (the q83 chunks' failure mode under edits).
  * Expected segment length = p tokens; the final segment always emits
  * (no trailing boundary required); zero tokens → empty array.
  * One byte-level pass: tokenize once, one hash per token for the
  * boundary rule, one hash per segment for its identity. */
case class CdcSegments(child: Expression, p: Int)
    extends UnaryExpression with CodegenFallback {
  require(p >= 2, s"CDC modulus must be >= 2 (got $p)")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("seg_h", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cdc_segments"
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val tk = TextKernel.tokenize(bytes)
    val n = tk.n
    if (n == 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new scala.collection.mutable.ArrayBuffer[Any](n / p + 2)
      var start = 0
      var i = 0
      while (i < n) {
        if (TextKernel.hashGram(bytes, tk, i, 1) % p == 0 || i == n - 1) {
          val len = i - start + 1
          out += org.apache.spark.sql.catalyst.InternalRow(
            len.toLong, TextKernel.hashGram(bytes, tk, start, len))
          start = i + 1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }
  }
  override protected def withNewChildInternal(c: Expression): CdcSegments =
    copy(child = c)
}

/** Map-side CDC first-occurrence dedup: rebuild a document's text from
  * the CDC segments ([[CdcSegments]] boundaries, same one-pass walk)
  * that are either globally UNIQUE or are their hash's canonical
  * (globally first) occurrence. The dup dictionary ships inside the
  * expression as a [[Dict.sortedPairs]] — ascending segment hashes and,
  * aligned, the packed canonical occurrence `doc_id·10⁶ + seg_idx` —
  * so the keep decision is a binary search plus one compare, and the
  * reassembly is map-only: document text NEVER shuffles (the q83
  * dictionary-kernel discipline). Kept segments join by single spaces
  * (whitespace-normalizing, like the chunk-dedup reassembly). Returns
  * `struct(clean_text, n_dropped)`; zero tokens → ("", 0).
  * Packing contract: seg_idx < 10⁶ (a million CDC segments ≈ 16M
  * tokens in ONE document — far past any real document), enforced. */
case class CdcFirstOccurrenceText(left: Expression, right: Expression,
    p: Int, canon: Dict) extends BinaryExpression with CodegenFallback {
  require(p >= 2, s"CDC modulus must be >= 2 (got $p)")
  override def dataType: DataType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_dropped", LongType, nullable = false)))
  override def prettyName: String = "cdc_first_occurrence_text"
  override def nullSafeEval(text: Any, docId: Any): Any = {
    val bytes = text.asInstanceOf[UTF8String].getBytes
    val id = docId.asInstanceOf[Long]
    val tk = TextKernel.tokenize(bytes)
    val n = tk.n
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    var dropped = 0L
    var segIdx = 0L
    var start = 0
    var i = 0
    while (i < n) {
      if (TextKernel.hashGram(bytes, tk, i, 1) % p == 0 || i == n - 1) {
        val len = i - start + 1
        val h = TextKernel.hashGram(bytes, tk, start, len)
        val pos = java.util.Arrays.binarySearch(canon.longs, h)
        require(segIdx < 1000000L,
          s"document $id exceeds 10^6 CDC segments")
        val keep = pos < 0 || canon.values(pos) == id * 1000000L + segIdx
        if (keep) {
          var t = start
          while (t < start + len) {
            if (out.size() > 0) out.write(' ')
            out.write(bytes, tk.starts(t), tk.lens(t))
            t += 1
          }
        } else dropped += 1L
        segIdx += 1L
        start = i + 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromBytes(out.toByteArray), dropped)
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CdcFirstOccurrenceText = copy(left = l, right = r)
}

/** Map-side DSIR importance score — the STREAMING/serving twin of the
  * join-based batch scorer (`graft.operators.Sampling.dsirWeights`,
  * q97). The trained per-bucket score table (score6 micros, a dense
  * [[Dict.longs]] indexed by bucket — fixed size, the hashing trick's
  * whole point) ships in the expression. Same one-pass byte-level
  * feature walk as [[DsirFeatureBuckets]]; the exact integer mean of
  * bucket scores is IDENTICAL to the batch join+agg (sums of the same
  * Long multiset). Returns NULL for docs with zero features (the batch
  * scorer omits those rows). */
case class DsirScoreMicros(child: Expression, scores: Dict)
    extends UnaryExpression with CodegenFallback {
  require(scores.size > 0, "empty DSIR score table")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dsir_score_micros"
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val tk = TextKernel.tokenize(bytes)
    val n = tk.n
    if (n == 0) null
    else {
      val arr = scores.longs
      val b = arr.length
      var sum = 0L
      var cnt = 0L
      var i = 0
      while (i < n) {
        sum += arr((TextKernel.hashGram(bytes, tk, i, 1) % b).toInt)
        cnt += 1
        i += 1
      }
      var j = 0
      while (j < n - 1) {
        sum += arr((TextKernel.hashGram(bytes, tk, j, 2) % b).toInt)
        cnt += 1
        j += 1
      }
      sum / cnt // both non-negative: / == div
    }
  }
  override protected def withNewChildInternal(c: Expression)
      : DsirScoreMicros = copy(child = c)
}

/** Map-side bigram-LM perplexity proxy — the STREAMING/serving twin of
  * the join-based batch scorer (`graft.operators.LangModel
  * .perplexityScore`, q87). The model (unigram and `"w1 w2"` bigram
  * count [[Dict.strings]], vocab size) ships in the expression —
  * the CCNet production shape, where the trained model is distributed
  * to workers and scoring is embarrassingly parallel. Integer
  * arithmetic is IDENTICAL to the batch scorer: summing the per-
  * position inverse probabilities equals summing per-distinct-bigram
  * `ip * tf`, so both paths agree bit-for-bit (spec-pinned). Returns
  * NULL for docs with fewer than two tokens (nothing to score — the
  * batch scorer omits those rows). */
case class PerplexityMicros(child: Expression, uni: Dict, bi: Dict,
    v: Long) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "perplexity_micros"
  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString
      .split("\\s+").filter(_.nonEmpty)
    if (toks.length < 2) null
    else {
      var sum = 0L
      var i = 0
      while (i < toks.length - 1) {
        val c1 = uni.get(toks(i), 0L)
        val c2 = bi.get(toks(i) + " " + toks(i + 1), 0L)
        sum += ((c1 + v) * 1000000L) / (c2 + 1L)
        i += 1
      }
      sum / (toks.length - 1L)
    }
  }
  override protected def withNewChildInternal(c: Expression)
      : PerplexityMicros = copy(child = c)
}

/** Membership of a Long key in a STATIC sorted set — binary search over
  * `set`, a [[Dict.sortedLongs]], with full whole-stage codegen. The
  * map-side half of broadcast-a-dictionary plans (boilerplate-chunk
  * removal): the alternatives are an `array_contains` over a literal
  * array (O(|set|) per probe) or a UDF over a broadcast HashSet (no
  * codegen, boxing per row). */
case class SortedLongSetContains(child: Expression, set: Dict)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "sorted_long_set_contains"
  override def nullSafeEval(input: Any): Any =
    java.util.Arrays.binarySearch(set.longs, input.asInstanceOf[Long]) >= 0
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("sortedSet", set.longs, "long[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = java.util.Arrays.binarySearch($ref, $v) >= 0;")
  }
  override protected def withNewChildInternal(c: Expression)
      : SortedLongSetContains = copy(child = c)
}

/** Native Gopher REPETITION signals (Rae et al. 2021, Table A1;
  * RedPajama-style char accounting): all nine per-document n-gram
  * repetition statistics in ONE pass over the row's UTF-8 bytes —
  * struct(total_chars, top2, top3, top4, dup5 .. dup10) where
  *   total_chars = Σ codepoints over all tokens (whitespace excluded),
  *   topN  = max over distinct N-grams of count·charlen(gram),
  *   dupN  = Σ over distinct N-grams with count ≥ 2 of count·charlen,
  *   charlen(gram) = Σ member-token codepoints (separators excluded).
  * The fraction (÷ total_chars, fixed-point micros) is computed in the
  * plan so every emitted number is integer arithmetic.
  *
  * Unlike the shingle-family kernels the gram hashes here never leave
  * the expression (only grouped counts do), so identity uses a cheap
  * 64-bit polynomial hash over the token byte regions instead of md5 —
  * a within-doc collision (~n²/2⁶⁴) merely merges two gram groups,
  * the same benign failure mode as the md5-60 family. Codepoints are
  * counted directly on UTF-8 bytes (non-continuation bytes), matching
  * `length()` in both Spark and DuckDB for any Unicode content.
  * Documents with fewer than N tokens have no N-grams (no whole-text
  * fallback — these are within-doc duplication measures, not identity
  * sketches); zero tokens → all-zero struct. */
case class GopherRepetitionStats(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import GopherRepetitionStats.{MaxN, MinN, TopNs}
  override def dataType: DataType = StructType(
    StructField("total_chars", LongType, nullable = false) +:
      (MinN to MaxN).map { n =>
        val f = if (TopNs.contains(n)) s"top$n" else s"dup$n"
        StructField(f, LongType, nullable = false)
      })
  override def prettyName: String = "gopher_repetition_stats"
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val tk = TextKernel.tokenize(bytes)
    val n = tk.n
    // prefix sums of per-token codepoint counts: charlen of the gram
    // spanning tokens [i, i+k) is cp(i+k) - cp(i)
    val cp = new Array[Long](n + 1)
    var t = 0
    while (t < n) {
      var c = 0L
      val s = tk.starts(t); val e = s + tk.lens(t)
      var b = s
      while (b < e) { if ((bytes(b) & 0xc0) != 0x80) c += 1; b += 1 }
      cp(t + 1) = cp(t) + c
      t += 1
    }
    val out = new Array[Any](1 + MaxN - MinN + 1)
    out(0) = cp(n)
    var k = MinN
    while (k <= MaxN) {
      val grams = n - k + 1
      var stat = 0L
      if (grams > 0) {
        // gram identity → occurrence count (charlen rides along; it is
        // a function of the identity, stored once)
        val m = new java.util.HashMap[java.lang.Long, Array[Long]](
          grams * 2)
        var i = 0
        while (i < grams) {
          var h = 1125899906842597L
          var j = 0
          while (j < k) {
            if (j > 0) h = h * 31 + 0x20
            val s = tk.starts(i + j); val e = s + tk.lens(i + j)
            var b = s
            while (b < e) { h = h * 31 + (bytes(b) & 0xff); b += 1 }
            j += 1
          }
          val prev = m.get(h)
          if (prev == null) m.put(h, Array(1L, cp(i + k) - cp(i)))
          else prev(0) += 1L
          i += 1
        }
        val it = m.values().iterator()
        if (TopNs.contains(k)) {
          while (it.hasNext) {
            val v = it.next(); val mass = v(0) * v(1)
            if (mass > stat) stat = mass
          }
        } else {
          while (it.hasNext) {
            val v = it.next()
            if (v(0) >= 2L) stat += v(0) * v(1)
          }
        }
      }
      out(1 + k - MinN) = stat
      k += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(out: _*)
  }
  override protected def withNewChildInternal(c: Expression)
      : GopherRepetitionStats = copy(child = c)
}

object GopherRepetitionStats {
  val MinN = 2
  val MaxN = 10
  /** Most-frequent-gram accounting for n = 2..4; duplicate-gram
    * accounting for n = 5..10 — the Gopher Table A1 split. */
  val TopNs: Set[Int] = Set(2, 3, 4)
}

/** Map-side scorer for the odds-ratio quality classifier (q103's
  * serving/streaming twin, the PerplexityMicros deployment shape): the
  * trained per-token weight table ships inside the expression; a doc's
  * score is the integer mean weight over its token OCCURRENCES
  * (`floor(Σ occ·w / n)`, micros), so summation order cannot change the
  * result and the join-based batch plan is reproduced bit-for-bit on
  * any corpus whose tokens the model has seen. Unseen tokens take
  * `default` (the trained zero-count weight). NULL for empty docs. */
case class OddsScoreMicros(child: Expression, weights: Dict, default: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "odds_score_micros"
  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString
      .split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) null
    else {
      var sum = 0L
      var i = 0
      while (i < toks.length) {
        sum += weights.get(toks(i), default)
        i += 1
      }
      sum / toks.length
    }
  }
  override protected def withNewChildInternal(c: Expression)
      : OddsScoreMicros = copy(child = c)
}

/** Exact longest-common-TOKEN-substring kernel: a suffix automaton
  * (Blumer et al. 1985; the e-maxx/cp-algorithms construction — public
  * literature) built over the LEFT document's token sequence, walked
  * once by the RIGHT document's tokens. O(n) states / O(n + m) time
  * per pair with transitions on interned token ids — the bounded-
  * memory exact pass the k-gram (q69) and CDC-segment (q98–q100)
  * approximations cannot give: it finds the true longest duplicated
  * token run even when it crosses every CDC boundary.
  *
  * Token convention: whitespace split, empties dropped — the
  * TextFunctions.tokens / TextKernel rule, so the DuckDB oracle's
  * regexp_split_to_array tokenization matches bitwise. Tokens of the
  * right document unseen in the left intern to −1, which has no
  * transition anywhere, so unknown-token collisions cannot fake a
  * match. */
private[graft] object LcsKernel {
  def lcsTokens(a: Array[String], b: Array[String]): Long = {
    if (a.isEmpty || b.isEmpty) return 0L
    // intern left tokens to dense ids; right maps through (unknown → −1)
    val ids = new java.util.HashMap[String, Integer](a.length * 2)
    val ai = new Array[Int](a.length)
    var t = 0
    while (t < a.length) {
      var id = ids.get(a(t))
      if (id == null) { id = ids.size(); ids.put(a(t), id) }
      ai(t) = id; t += 1
    }
    // suffix automaton over ai
    val maxStates = 2 * a.length + 5
    val len = new Array[Int](maxStates)
    val link = new Array[Int](maxStates)
    val next = new Array[java.util.HashMap[Integer, Integer]](maxStates)
    next(0) = new java.util.HashMap[Integer, Integer]()
    link(0) = -1
    var last = 0; var size = 1
    var i = 0
    while (i < ai.length) {
      val c: Integer = ai(i)
      val cur = size; size += 1
      next(cur) = new java.util.HashMap[Integer, Integer]()
      len(cur) = len(last) + 1
      var p = last
      while (p != -1 && !next(p).containsKey(c)) {
        next(p).put(c, cur); p = link(p)
      }
      if (p == -1) link(cur) = 0
      else {
        val q = next(p).get(c).intValue()
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = size; size += 1
          len(clone) = len(p) + 1
          link(clone) = link(q)
          next(clone) =
            new java.util.HashMap[Integer, Integer](next(q))
          while (p != -1 && {
            val v = next(p).get(c); v != null && v.intValue() == q
          }) { next(p).put(c, clone); p = link(p) }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
      i += 1
    }
    // walk the right document: classic longest-match scan
    var v = 0; var l = 0; var best = 0
    var j = 0
    while (j < b.length) {
      val idObj = ids.get(b(j))
      val c: Integer = if (idObj == null) Integer.valueOf(-1) else idObj
      while (v != 0 && !next(v).containsKey(c)) {
        v = link(v); l = len(v)
      }
      if (next(v).containsKey(c)) {
        v = next(v).get(c).intValue(); l += 1
      } // else: v == 0 with no transition — l is already 0
      else l = 0
      if (l > best) best = l
      j += 1
    }
    best.toLong
  }
}

/** `lcs_tokens(left_text, right_text)` → exact longest common token
  * run (Long; 0 when either side is empty). Runs once per CANDIDATE
  * PAIR, not per corpus row — eval cost dominates, so CodegenFallback
  * (the BpeEncode rule) rather than a giant generated body. */
case class LcsTokens(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "lcs_tokens"
  override def nullSafeEval(a: Any, b: Any): Any =
    LcsKernel.lcsTokens(
      a.asInstanceOf[UTF8String].toString.split("\\s+").filter(_.nonEmpty),
      b.asInstanceOf[UTF8String].toString.split("\\s+").filter(_.nonEmpty))
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LcsTokens =
    copy(left = newLeft, right = newRight)
}

object TextExpressions {
  def lcsTokens(a: Column, b: Column): Column =
    ExpressionUtils.column(LcsTokens(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def gopherRepetitionStats(text: Column): Column =
    ExpressionUtils.column(
      GopherRepetitionStats(ExpressionUtils.expression(text)))
  def oddsScoreMicros(text: Column, weights: Dict, default: Long): Column =
    ExpressionUtils.column(
      OddsScoreMicros(ExpressionUtils.expression(text), weights, default))
  def sortedLongSetContains(key: Column, set: Dict): Column =
    ExpressionUtils.column(
      SortedLongSetContains(ExpressionUtils.expression(key), set))
  /** `merges` in rank order. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    ExpressionUtils.column(BpeEncode(ExpressionUtils.expression(text),
      Dict.strings(merges.zipWithIndex.map { case ((l, r), i) =>
        s"$l $r" -> i.toLong })))
  def shingleSet(text: Column, k: Int): Column =
    ExpressionUtils.column(ShingleSet(ExpressionUtils.expression(text), k))
  def termFreqs(text: Column): Column =
    ExpressionUtils.column(TermFreqs(ExpressionUtils.expression(text)))
  def rarestKGrams(gs: Column, k: Int, dfs: Dict): Column =
    ExpressionUtils.column(RarestKGrams(ExpressionUtils.expression(gs), k, dfs))
  def containmentPrefixGrams(gs: Column, tMarginPpm: Long,
      dfs: Dict): Column =
    ExpressionUtils.column(ContainmentPrefixGrams(
      ExpressionUtils.expression(gs), tMarginPpm, dfs))
  def shingleHashSet(text: Column, k: Int): Column =
    ExpressionUtils.column(
      ShingleHashSet(ExpressionUtils.expression(text), k))
  def gramHashes(text: Column, k: Int): Column =
    ExpressionUtils.column(GramHashes(ExpressionUtils.expression(text), k))
  def dsirFeatureBuckets(text: Column, buckets: Int): Column =
    ExpressionUtils.column(
      DsirFeatureBuckets(ExpressionUtils.expression(text), buckets))
  def dsirScoreMicros(text: Column, scores: Dict): Column =
    ExpressionUtils.column(
      DsirScoreMicros(ExpressionUtils.expression(text), scores))
  def cdcSegments(text: Column, p: Int): Column =
    ExpressionUtils.column(CdcSegments(ExpressionUtils.expression(text), p))
  def cdcFirstOccurrenceText(text: Column, docId: Column, p: Int,
      canon: Dict): Column =
    ExpressionUtils.column(CdcFirstOccurrenceText(
      ExpressionUtils.expression(text), ExpressionUtils.expression(docId),
      p, canon))
  def minHashSig(text: Column, k: Int, numHashes: Int): Column =
    ExpressionUtils.column(
      MinHashSig(ExpressionUtils.expression(text), k, numHashes))
  def simHashSig(text: Column, bits: Int): Column =
    ExpressionUtils.column(SimHashSig(ExpressionUtils.expression(text), bits))
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def perplexityMicros(text: Column, uni: Dict, bi: Dict, v: Long): Column =
    ExpressionUtils.column(
      PerplexityMicros(ExpressionUtils.expression(text), uni, bi, v))
  def bannedTokenCount(text: Column, set: Dict): Column =
    ExpressionUtils.column(
      BannedTokenCount(ExpressionUtils.expression(text), set))
}
