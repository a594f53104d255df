// Lives under org.apache.spark.sql so it can use the private[sql]
// Expression APIs (AbstractDataType, classic.ExpressionUtils) — the
// standard pattern for extension libraries that add native expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over `array<float>`
  * or `array<double>` (each side independently — IVF compares float
  * embeddings against exact-double centroids).
  *
  * The composed form (`aggregate(zip_with(..))` in [[VectorFunctions]])
  * is correct but interpreted: every element goes through a lambda-bound
  * HigherOrderFunction that blocks whole-stage codegen. This expression
  * emits a tight primitive loop into generated Java instead — no per-
  * element boxing, stays inside the codegen stage — which is the path a
  * 100 TB ANN scan actually needs. Preference order per the build notes:
  * compose built-ins (done) → custom Expression (this) → custom operator.
  *
  * Accumulation is ascending-index double adds, EXACTLY the same fold
  * order as the composed form and the DuckDB oracle's list_reduce —
  * results are bitwise identical, so both implementations verify against
  * the same oracle. (float→double widening is exact, so a float array
  * and its double widening produce identical results.)
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType),
      ArrayType(LongType)),
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType),
      ArrayType(LongType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  // element accessor kind per side: long (int8-quantized carriers, see
  // Int8Quantize — products ≤ 127²·dim are exactly representable in the
  // double accumulator, so the integer path is bitwise-reproducible too)
  // / double (exact centroids) / float (stored embeddings)
  private def elem(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case t               => t
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    def get(arr: ArrayData, i: Int, t: DataType): Double = t match {
      case DoubleType => arr.getDouble(i)
      case LongType   => arr.getLong(i).toDouble
      case _          => arr.getFloat(i).toDouble
    }
    val (xt, yt) = (elem(left), elem(right))
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = get(x, i, xt)
      val yi = get(y, i, yt)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      def get(arr: String, idx: String, t: DataType): String = t match {
        case DoubleType => s"$arr.getDouble($idx)"
        case LongType   => s"(double) $arr.getLong($idx)"
        case _          => s"(double) $arr.getFloat($idx)"
      }
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = ${get(a, i, elem(left))};
         |  double $yi = ${get(b, i, elem(right))};
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Per-vector symmetric int8 quantization: `qᵢ = floor(vᵢ · 127/max|v|)`
  * as `array<long>` (the storage layer would cast to bytes — 4× smaller
  * than float32; the long carrier keeps oracle/BIGINT parity).
  *
  * A native expression rather than `transform(...)` because the scale
  * `127/max|v|` must be computed ONCE per vector: Catalyst performs no
  * CSE inside an expression tree and CollapseProject inlines
  * single-referenced aliases into lambdas, so the composed form re-folds
  * the max-abs reduction PER ELEMENT — O(dim²) per row. Two tight loops
  * here (max-abs, then quantize), inside whole-stage codegen.
  *
  * Determinism: each output is one widen + one multiply + one floor on
  * identical operands (the division happens once per vector, exactly as
  * the oracle's `127.0 / list_reduce(...)` subexpression), so results
  * are bitwise identical in DuckDB. A zero vector quantizes to zeros
  * (the scale would be ∞ — guarded, not NaN-propagated). */
case class Int8Quantize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "int8_quantize"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(x.getFloat(i).toDouble)
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    val out = new Array[Long](n)
    if (maxAbs > 0.0) {
      val scale = 127.0 / maxAbs
      i = 0
      while (i < n) {
        out(i) = math.floor(x.getFloat(i).toDouble * scale).toLong
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val maxAbs = ctx.freshName("maxAbs"); val v = ctx.freshName("v")
      val scale = ctx.freshName("scale"); val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double $maxAbs = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = java.lang.Math.abs((double) $a.getFloat($i));
         |  if ($v > $maxAbs) $maxAbs = $v;
         |}
         |long[] $out = new long[$n];
         |if ($maxAbs > 0.0) {
         |  double $scale = 127.0 / $maxAbs;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = (long) java.lang.Math.floor(
         |      (double) $a.getFloat($i) * $scale);
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Int8Quantize = copy(child = newChild)
}

/** Argmax-cosine cell assignment against a STATIC centroid matrix —
  * the scalable form of IVF assignment.
  *
  * The composed form (`greatest` over one `struct(cosineNative(emb,
  * typedlit(c)), -cell)` branch per cell) is oracle-proven but its
  * Catalyst tree is O(cells · dim) literal nodes: at 16 cells that is
  * ~1k nodes (fine); at the 157 cells a corpus-relative cell count
  * picks at sf1, analysis + codegen of the ~40k-node tree pinned the
  * single-threaded driver for >10 minutes (measured, round 8). This
  * kernel is ONE expression node — the flattened row-major matrix is
  * one [[Dict]] — so plan work is cell-count-independent and the
  * per-row loop is the same arithmetic.
  *
  * Bitwise parity contract (what keeps the q38/q56/q82 oracles green):
  * per cell, accumulate dot/nx/ny in ascending element order exactly
  * like [[CosineSimilarity]], then `dot / (sqrt(nx) * sqrt(ny))`;
  * cells are scanned ascending and replaced only on a STRICTLY greater
  * similarity under `java.lang.Double.compare` ordering (NaN greatest,
  * -0.0 < 0.0) — identical to `greatest`'s struct ordering on
  * (sim, -cell) with its smallest-cell tiebreak. Spec-asserted equal
  * to the composed form on the real corpus.
  *
  * ONE deliberate divergence: a NULL input array yields NULL (the
  * unknown vector has no cell). The composed form yields cell 0 there
  * — `struct(null_sim, -cell)` is a non-null struct, so `greatest`
  * falls through to the tiebreak — which would silently pool every
  * null-embedding row into cell 0 at scale. No gated table contains
  * null embeddings, so the oracles see no difference; the spec pins
  * both behaviors. */
case class CellArgmax(child: Expression, matrix: Dict, cells: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(cells > 0 && matrix.size % cells == 0,
    s"matrix length ${matrix.size} not divisible into $cells cells")

  override def inputTypes: Seq[AbstractDataType] = Seq(TypeCollection(
    ArrayType(FloatType), ArrayType(DoubleType), ArrayType(LongType)))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "cell_argmax"

  private def dim: Int = matrix.size / cells

  private def elem: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case t               => t
  }

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val t = elem
    def get(i: Int): Double = t match {
      case DoubleType => x.getDouble(i)
      case LongType   => x.getLong(i).toDouble
      case _          => x.getFloat(i).toDouble
    }
    val n = math.min(x.numElements(), dim)
    val m = matrix.doubles
    var best = 0; var bestSim = Double.NaN; var first = true
    var c = 0
    while (c < cells) {
      val off = c * dim
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xi = get(i); val yi = m(off + i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      val sim = dot / (math.sqrt(nx) * math.sqrt(ny))
      if (first || java.lang.Double.compare(sim, bestSim) > 0) {
        best = c; bestSim = sim; first = false
      }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("centroidMatrix", matrix.doubles, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n"); val c = ctx.freshName("c")
      val i = ctx.freshName("i"); val off = ctx.freshName("off")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi"); val sim = ctx.freshName("sim")
      val best = ctx.freshName("best"); val bestSim = ctx.freshName("bestSim")
      val first = ctx.freshName("first")
      val getX = elem match {
        case DoubleType => s"$x.getDouble($i)"
        case LongType   => s"(double) $x.getLong($i)"
        case _          => s"(double) $x.getFloat($i)"
      }
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $dim);
         |int $best = 0; double $bestSim = Double.NaN; boolean $first = true;
         |for (int $c = 0; $c < $cells; $c++) {
         |  int $off = $c * $dim;
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $getX;
         |    double $yi = $ref[$off + $i];
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  double $sim = $dot / (java.lang.Math.sqrt($nx)
         |    * java.lang.Math.sqrt($ny));
         |  if ($first || java.lang.Double.compare($sim, $bestSim) > 0) {
         |    $best = $c; $bestSim = $sim; $first = false;
         |  }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): CellArgmax =
    copy(child = c)
}

/** Random-hyperplane LSH signature (Charikar, STOC 2002 §3) in ONE
  * codegen'd node: bit j of the result = sign of the dot product of
  * the embedding with plane j's weight row. `matrix` is plane-major
  * flattened (entry (j, i) at `j·dim + i`, small-integer weights held
  * exactly in doubles), shipped once inside the expression — the
  * CellArgmax discipline applied to its last composed sibling: the
  * previous formulation planned 8 inlined `zip_with`/`aggregate` folds
  * per signature (hundreds of lambda nodes per plan).
  *
  * Bitwise-identical to that composed form (HyperplaneSigSpec pins it):
  * float→double widening is exact, each product rounds once, and the
  * fold adds in ascending index order — the same IEEE op sequence as
  * `aggregate(zip_with(...))` and DuckDB's `list_reduce`. `d >= 0`
  * sets the bit (+0.0 counts, NaN does not), matching the composed
  * `when`. A NULL embedding yields a NULL signature (drops out of
  * joins); a width mismatch raises — same loud guard as the composed
  * form's `raise_error` branch, an embedding table with ragged widths
  * is corrupt input, not data. */
case class HyperplaneSig(child: Expression, matrix: Dict, planes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(planes > 0 && planes <= 64 && matrix.size % planes == 0,
    s"matrix length ${matrix.size} not divisible into $planes planes")

  override def inputTypes: Seq[AbstractDataType] = Seq(TypeCollection(
    ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  private def dim: Int = matrix.size / planes

  private def elem: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case t               => t
  }

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    if (x.numElements() != dim)
      throw new IllegalArgumentException(
        s"hyperplane_sig: embedding dim != $dim, got ${x.numElements()}")
    val t = elem
    def get(i: Int): Double = t match {
      case DoubleType => x.getDouble(i)
      case _          => x.getFloat(i).toDouble
    }
    val m = matrix.doubles
    var sig = 0L
    var j = 0
    while (j < planes) {
      val off = j * dim
      var d = 0.0
      var i = 0
      while (i < dim) { d += get(i) * m(off + i); i += 1 }
      if (d >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("planeMatrix", matrix.doubles, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val off = ctx.freshName("off"); val d = ctx.freshName("d")
      val sig = ctx.freshName("sig")
      val getX = elem match {
        case DoubleType => s"$x.getDouble($i)"
        case _          => s"(double) $x.getFloat($i)"
      }
      s"""
         |if ($x.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "hyperplane_sig: embedding dim != $dim, got "
         |      + $x.numElements());
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < $planes; $j++) {
         |  int $off = $j * $dim;
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $d += $getX * $ref[$off + $i];
         |  }
         |  if ($d >= 0) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneSig =
    copy(child = c)
}

/** Product-quantization code assignment (the PQ encode step, Jégou et
  * al. 2011): the embedding splits into `m` contiguous subspaces of
  * `dim/m` components; each subspace gets the id of its nearest (L2)
  * sub-centroid — ties to the lowest id. `matrix` is flattened
  * subspace-major then cell-major: entry (s, c, i) at
  * `((s·k + c)·subDim) + i`. One pass, map-only; the codebook
  * (m·k·subDim doubles, a few KB) ships in the expression. NULL array
  * → NULL codes. */
case class PqAssign(child: Expression, matrix: Dict, m: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(m > 0 && k > 0 && matrix.size % (m * k) == 0,
    s"matrix length ${matrix.size} not divisible into $m x $k cells")

  override def inputTypes: Seq[AbstractDataType] = Seq(TypeCollection(
    ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_assign"

  private def subDim: Int = matrix.size / (m * k)

  private def elem: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case t               => t
  }

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val t = elem
    def get(i: Int): Double = t match {
      case DoubleType => x.getDouble(i)
      case _          => x.getFloat(i).toDouble
    }
    val d = subDim
    val mat = matrix.doubles
    // loud-failure contract (the other kernels' discipline): a short or
    // ragged vector must not encode to a plausible code via silent
    // zero-padding — the oracle's list_zip would NULL out there, and a
    // divergence the gate can see beats a wrong code it cannot
    if (x.numElements() != m * d)
      throw new IllegalArgumentException(
        s"pq_assign: embedding dim != ${m * d}, got ${x.numElements()}")
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0; var bestDist = Double.MaxValue
      var c = 0
      while (c < k) {
        val off = (s * k + c) * d
        var dist = 0.0
        var i = 0
        while (i < d) {
          val pos = s * d + i
          val diff = get(pos) - mat(off + i)
          dist += diff * diff
          i += 1
        }
        if (java.lang.Double.compare(dist, bestDist) < 0) {
          best = c; bestDist = dist
        }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(c: Expression): PqAssign =
    copy(child = c)
}

/** ADC (asymmetric distance computation) scoring against a per-query
  * distance table: `table[(s·k) + code_s]` summed over the `m`
  * subspaces in ascending order — the sum order is part of the
  * contract, since the oracle folds the same doubles the same way.
  * The table (m·k doubles) is computed once per query on the driver
  * and ships in the expression. */
case class PqAdcScore(child: Expression, table: Dict, k: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(k > 0 && table.size % k == 0,
    s"table length ${table.size} not divisible by k=$k")
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"
  override def nullSafeEval(input: Any): Any = {
    val t = table.doubles
    val codes = input.asInstanceOf[ArrayData]
    var sum = 0.0
    var s = 0
    val n = codes.numElements()
    while (s < n) {
      sum += t(s * k + codes.getInt(s))
      s += 1
    }
    sum
  }
  override protected def withNewChildInternal(c: Expression): PqAdcScore =
    copy(child = c)
}

object VectorExpressions {
  /** Column API for the native cosine expression. */
  def cosineNative(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column API for the native int8 quantizer. */
  def int8QuantizeNative(a: Column): Column =
    ExpressionUtils.column(Int8Quantize(ExpressionUtils.expression(a)))

  /** Column API for the native argmax-cell assignment. `matrix` is
    * row-major (cell-major) flattened centroids. */
  def cellArgmaxNative(emb: Column, matrix: Dict, cells: Int): Column =
    ExpressionUtils.column(
      CellArgmax(ExpressionUtils.expression(emb), matrix, cells))

  /** Column API for the native hyperplane-LSH signature. `matrix` is
    * plane-major flattened weight rows. */
  def hyperplaneSigNative(emb: Column, matrix: Dict, planes: Int): Column =
    ExpressionUtils.column(
      HyperplaneSig(ExpressionUtils.expression(emb), matrix, planes))

  /** Column API for the PQ code assignment. `matrix` is flattened
    * (subspace, cell)-major sub-centroids. */
  def pqAssignNative(emb: Column, matrix: Dict, m: Int, k: Int): Column =
    ExpressionUtils.column(
      PqAssign(ExpressionUtils.expression(emb), matrix, m, k))

  /** Column API for ADC scoring against a per-query distance table. */
  def pqAdcScoreNative(codes: Column, table: Dict, k: Int): Column =
    ExpressionUtils.column(
      PqAdcScore(ExpressionUtils.expression(codes), table, k))
}
