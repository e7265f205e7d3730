package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native codegen kernels for the quantized-vector hot paths.
  *
  * The higher-order-function formulations (`transform` / `zip_with` /
  * `aggregate`) are CodegenFallback at the lambda level: every row
  * pays interpreted lambda dispatch plus an intermediate array
  * allocation PER CENTROID. Profiling the HOF forms put a single
  * Lloyd-round task at ~0.5 s for 2 000 × dim-64 rows —
  * ~250 µs/row of pure interpreter overhead — and the same kernels
  * sit inside every ANN encode/search scan. These expressions compile
  * to tight primitive loops inside whole-stage codegen: no
  * allocation, no boxing, no lambda dispatch.
  *
  * Exactness: all arithmetic is `long` add/multiply in the same
  * order as the HOF twins (associative integer math, wraps
  * identically), so every consumer's rows are bit-identical — the
  * oracle-parity prerequisite. Null semantics mirror the HOF twins
  * per expression (documented at each; differential-tested in
  * NativeFunctionsSpec).
  */
object VecKernels {

  /** Argmin centroid slot for `v` against `cents` with the
    * min(struct(d2, cid)) tie-break: ascending slot order, strict
    * improvement, a NULL d2 (null centroid row or length mismatch —
    * `zip_with` pads the short side with nulls, nulling the fold)
    * sorts FIRST exactly like Catalyst's struct ordering. Returns -1
    * for "no slot" (empty cents), which the expression surfaces as
    * NULL — `array_min` over an empty array.
    */
  def nearestCode(v: ArrayData, cents: ArrayData): Int = {
    val k = cents.numElements()
    val n = v.numElements()
    var best = -1
    var bestD2 = 0L
    var bestNull = false
    var c = 0
    while (c < k) {
      if (cents.isNullAt(c)) {
        if (best < 0 || !bestNull) { best = c; bestNull = true }
      } else {
        val cv = cents.getArray(c)
        if (cv.numElements() != n) {
          if (best < 0 || !bestNull) { best = c; bestNull = true }
        } else if (!bestNull) {
          var d2 = 0L
          var i = 0
          while (i < n) {
            val d = v.getLong(i) - cv.getLong(i)
            d2 += d * d
            i += 1
          }
          if (best < 0 || d2 < bestD2) { best = c; bestD2 = d2 }
        }
      }
      c += 1
    }
    best
  }

  /** floor(x·1000) per element onto the long grid — the
    * [[Vec.quantize]] arithmetic: float upcast to double, `floor`,
    * non-ANSI double→long cast (saturating `Double.toLong`). Null
    * elements stay null.
    */
  def quantizeVec(v: ArrayData, fromFloat: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = if (fromFloat) v.getFloat(i).toDouble else v.getDouble(i)
        out(i) = java.lang.Long.valueOf(math.floor(x * 1000d).toLong)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Elementwise `a - b` with `zip_with` pad semantics: result length
    * = max(len a, len b); positions past the shorter side (or with a
    * null element on either side) are null.
    */
  def vecSub(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < na && i < nb && !a.isNullAt(i) && !b.isNullAt(i))
        out(i) = java.lang.Long.valueOf(a.getLong(i) - b.getLong(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Shared type check of the binary kernels over two `array<bigint>`
  * quantized vectors.
  */
abstract class LongArrayPair extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullable: Boolean = true
}

/** Σ term(a_i, b_i) over two `array<bigint>` quantized vectors, as a
  * primitive `long` loop inside whole-stage codegen: no allocation, no
  * boxing, no lambda dispatch. Length mismatch → NULL, matching the
  * higher-order twin (`zip_with` pads the shorter side with nulls,
  * which nulls the whole fold) — a ragged vector must not yield a
  * plausible-looking partial score. Integer addition is associative,
  * so the result is bit-identical to the HOF formulation and to any
  * oracle engine.
  */
abstract class PairedLongSum extends LongArrayPair {

  override def dataType: DataType = LongType

  /** The per-element term, interpreted. */
  protected def term(x: Long, y: Long): Long

  /** The per-element term as a Java expression over two `long` locals. */
  protected def termCode(x: String, y: String): String

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) { s += term(x.getLong(i), y.getLong(i)); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final long $xi = $x.getLong($i);
         |    final long $yi = $y.getLong($i);
         |    $s += ${termCode(xi, yi)};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
}

/** Exact dot product Σ a_i·b_i of two quantized vectors — the hot
  * inner kernel of [[Vec.dotQ]]-based operators (embedding near-dup,
  * cosine top-k, ANN rescoring).
  */
case class LongDotProduct(left: Expression, right: Expression)
    extends PairedLongSum {

  override def prettyName: String = "graft_dotq"

  override protected def term(x: Long, y: Long): Long = x * y
  override protected def termCode(x: String, y: String): String = s"$x * $y"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Σ (a_i − b_i)² of two quantized vectors — the squared-L2 inner
  * kernel of every cell assignment and exact re-rank.
  */
case class VecSqDist(left: Expression, right: Expression)
    extends PairedLongSum {

  override def prettyName: String = "graft_sqd2"

  override protected def term(x: Long, y: Long): Long = (x - y) * (x - y)
  override protected def termCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSqDist =
    copy(left = newLeft, right = newRight)
}

object VecSqDist {
  def fromExprs(exprs: Seq[Expression]): VecSqDist = {
    require(exprs.length == 2, s"graft_sqd2 takes 2 arguments, got ${exprs.length}")
    VecSqDist(exprs(0), exprs(1))
  }
}

/** Argmin centroid SLOT (0-based) of a quantized vector against an
  * `array<array<long>>` centroid table — the
  * `array_min(transform(sequence(...), c → struct(d2, c)))("cid")`
  * pattern as one native kernel. Tie-break identical to the HOF twin:
  * (d2, slot) ascending with NULL d2 (null/ragged centroid) sorting
  * first. Empty table → NULL. A NULL vector input → NULL (the twins'
  * callers all filter `size(v) > 0` upstream; the HOF twin would
  * yield slot 0 there — differential-tested on the non-null domain).
  */
case class NearestCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_code"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<array<bigint>>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = VecKernels.nearestCode(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r < 0) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cents) => {
      val r = ctx.freshName("r")
      s"""
         |final int $r = graft.functions.VecKernels.nearestCode($v, $cents);
         |if ($r < 0) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCode =
    copy(left = newLeft, right = newRight)
}

object NearestCode {
  def fromExprs(exprs: Seq[Expression]): NearestCode = {
    require(exprs.length == 2,
      s"graft_nearest_code takes 2 arguments, got ${exprs.length}")
    NearestCode(exprs(0), exprs(1))
  }
}

/** `transform(v, x → floor(x·1000)::long)` as one native kernel — the
  * grid quantization in front of every similarity operator. Accepts
  * `array<float>` (the stored embeddings) and `array<double>`.
  */
case class QuantizeVec(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_quantize"

  private lazy val fromFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${other.simpleString}")
  }

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(a: Any): Any =
    VecKernels.quantizeVec(a.asInstanceOf[ArrayData], fromFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ff = if (fromFloat) "true" else "false"
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VecKernels.quantizeVec($v, $ff);")
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

object QuantizeVec {
  def fromExprs(exprs: Seq[Expression]): QuantizeVec = {
    require(exprs.length == 1,
      s"graft_quantize takes 1 argument, got ${exprs.length}")
    QuantizeVec(exprs(0))
  }
}

/** `zip_with(a, b, (x, y) → x − y)` as one native kernel — the
  * residual computation of the IVFPQ encode path. Pad semantics match
  * the HOF twin: result length is max(len), padded/null positions
  * yield null elements.
  */
case class VecSubtract(left: Expression, right: Expression)
    extends LongArrayPair {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_vec_sub"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.vecSub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecKernels.vecSub($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSubtract =
    copy(left = newLeft, right = newRight)
}

object VecSubtract {
  def fromExprs(exprs: Seq[Expression]): VecSubtract = {
    require(exprs.length == 2,
      s"graft_vec_sub takes 2 arguments, got ${exprs.length}")
    VecSubtract(exprs(0), exprs(1))
  }
}
