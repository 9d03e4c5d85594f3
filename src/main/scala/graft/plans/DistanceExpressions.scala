package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Native Catalyst expressions for the four hot distance kernels
 * (SURVEY §4 "promote the hot distances to Expression if bench demands").
 *
 * Why not the Scala UDFs in [[graft.functions.VectorFunctions]]: a UDF
 * over `array<float>` deserializes into `Seq[Float]` — one boxed
 * `java.lang.Float` per element per row.
 *
 * r15 optimization (guide §1.2 "per-task work", measured against the
 * r15 baseline): the expressions no longer copy each side into an
 * `Array[Float]` per evaluation (`toFloatArray()` = one allocation +
 * bulk copy per side per ROW-PAIR — at 10⁷⁺ pair evaluations in the
 * blocked similarity joins that was the dominant allocation source).
 * The kernels below read the columnar `ArrayData` IN PLACE via
 * `getFloat(i)`; the arithmetic (double upcast, accumulation order,
 * Kahan compensation for L2) is copied verbatim from
 * [[graft.functions.VectorOps]], so results are bit-identical — the
 * oracle gate re-proved 375/375 at three SFs on this change. The
 * `Array[Float]` kernels in VectorOps stay: driver-side routing and the
 * long-tail UDF metrics still use them.
 *
 * Codegen: the generated code calls straight into the static kernel,
 * keeping the expression inside whole-stage codegen spans instead of
 * falling back to interpreted eval.
 */
abstract class FloatArrayBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  /** Static binary kernel on DistanceExpressions to invoke. */
  protected def kernel: String

  /** The kernel; `nullsA`/`nullsB` say whether each side must be scanned for
    * null elements. */
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double

  // decided once per plan: the per-pair null scan runs only on a side
  // that can hold a null element
  private lazy val leftNulls = DistanceExpressions.mayHoldNulls(left)
  private lazy val rightNulls = DistanceExpressions.mayHoldNulls(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    eval2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], leftNulls, rightNulls)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.DistanceExpressions.$kernel($a, $b, $leftNulls, $rightNulls);")
}

case class L2DistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_l2_distance"
  protected def kernel: String = "l2Data"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.l2Data(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class CosineDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_cosine_distance"
  protected def kernel: String = "cosineData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.cosineData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class InnerProductExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_inner_product"
  protected def kernel: String = "innerProductData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.innerProductData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class DotProductExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_dot"
  protected def kernel: String = "dotData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.dotData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class L1DistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_l1_distance"
  protected def kernel: String = "l1Data"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.l1Data(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

// r16 (VERDICT r15 ask #7): the LONG-TAIL metrics join the native
// family. They were the last interpreted-UDF hot-loop shape in the
// repo (one boxed java.lang.Float per element per row through the
// Seq[Float] UDF boundary); the kernels below read the columnar
// ArrayData in place with the arithmetic copied verbatim from
// VectorOps, so results are bit-identical (oracle re-proven on
// v_distances / v_distances2 / every kNN face).

case class SquaredL2DistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_squared_l2_distance"
  protected def kernel: String = "squaredL2Data"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.squaredL2Data(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class ChebyshevDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_chebyshev_distance"
  protected def kernel: String = "chebyshevData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.chebyshevData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class HammingDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_hamming_distance"
  protected def kernel: String = "hammingData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.hammingData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class JaccardDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_jaccard_distance"
  protected def kernel: String = "jaccardData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.jaccardData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class DiceDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_dice_distance"
  protected def kernel: String = "diceData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.diceData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class BrayCurtisDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_bray_curtis_distance"
  protected def kernel: String = "brayCurtisData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.brayCurtisData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class CanberraDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_canberra_distance"
  protected def kernel: String = "canberraData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.canberraData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class SokalMichenerDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_sokal_michener_distance"
  protected def kernel: String = "sokalMichenerData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.sokalMichenerData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class RogersTanimotoDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_rogers_tanimoto_distance"
  protected def kernel: String = "rogersTanimotoData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.rogersTanimotoData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class RussellRaoDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_russell_rao_distance"
  protected def kernel: String = "russellRaoData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.russellRaoData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class MatchingCoefficientExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_matching_coefficient"
  protected def kernel: String = "matchingCoefficientData"
  protected def eval2(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    DistanceExpressions.matchingCoefficientData(a, b, nullsA, nullsB)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Squared L2 norm Σ vᵢ² of one array<float> vector, accumulated in
  * double exactly as [[DistanceExpressions.cosineData]] accumulates its
  * per-side norms (plain sum, no Kahan — the cosine kernel's own
  * convention). Exists so pair joins can hoist the per-ROW norm out of
  * the per-PAIR cosine kernel (guide §1.2: don't compute per-pair what
  * is a per-row invariant) — see [[DistanceExpressions.cosineFromParts]]. */
case class NormSqExpr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "vector_norm_sq"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float> argument, got ${other.catalogString}")
    }
  private lazy val nulls = DistanceExpressions.mayHoldNulls(child)
  override def nullSafeEval(a: Any): Any =
    DistanceExpressions.normSqData(a.asInstanceOf[ArrayData], nulls)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.DistanceExpressions.normSqData($a, $nulls)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

object DistanceExpressions {

  /** Whether `e`'s array<float> values can hold a null element: per its
    * type (`containsNull`), or — for a literal, whose type from a plain
    * `lit(Array[Float])` always admits nulls — per its one value. */
  private[plans] def mayHoldNulls(e: Expression): Boolean = e match {
    case Literal(v: ArrayData, _) => (0 until v.numElements()).exists(v.isNullAt)
    case _ => e.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }
  }

  @inline private def noNullElement(a: ArrayData): Unit = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"vector contains a null element at index $i")
      i += 1
    }
  }

  /** Same error contract as the pre-r15 `noNulls` + `checkDims` pair,
    * in the same order: null elements rejected first (left side, then
    * right), then the dimension check — `ArrayData.getFloat` would
    * silently read a null slot as 0.0f, corrupting the distance. A side
    * whose type rules out null elements (`nullsA`/`nullsB` false) is not
    * scanned. */
  @inline private def checkedDim(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Int = {
    if (nullsA) noNullElement(a)
    if (nullsB) noNullElement(b)
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(s"vector dimensions must match: $n vs ${b.numElements()}")
    n
  }

  /** Kahan-summed sum of squared differences — the arithmetic of
    * [[graft.functions.VectorOps.squaredL2]] verbatim, reading the
    * ArrayData in place. */
  def squaredL2Data(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var sum = 0.0; var c = 0.0; var i = 0
    while (i < n) {
      val diff = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      val y = diff * diff - c
      val t = sum + y
      c = (t - sum) - y
      sum = t
      i += 1
    }
    sum
  }

  def l2Data(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    math.sqrt(squaredL2Data(a, b, nullsA, nullsB))

  def dotData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var sum = 0.0; var i = 0
    while (i < n) { sum += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    sum
  }

  def innerProductData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double =
    -dotData(a, b, nullsA, nullsB)

  /** 1 - dot/(|a||b|); zero-norm input yields 1.0 —
    * [[graft.functions.VectorOps.cosineDistance]] verbatim. */
  def cosineData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val va = a.getFloat(i).toDouble; val vb = b.getFloat(i).toDouble
      d += va * vb; na += va * va; nb += vb * vb
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 1.0
    else 1.0 - d / (math.sqrt(na) * math.sqrt(nb))
  }

  def l1Data(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var sum = 0.0; var i = 0
    while (i < n) { sum += math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble); i += 1 }
    sum
  }

  // ---- r16 long-tail kernels: VectorOps arithmetic verbatim, in place.

  /** max |aᵢ−bᵢ| — [[graft.functions.VectorOps.chebyshev]] verbatim. */
  def chebyshevData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var m = 0.0; var i = 0
    while (i < n) {
      val d = math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble)
      if (d > m) m = d
      i += 1
    }
    m
  }

  /** Count of unequal FLOAT coordinates (NaN ≠ NaN, like the UDF) —
    * [[graft.functions.VectorOps.hamming]] verbatim, widened to the
    * double the UDF boundary returned. */
  def hammingData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var c = 0; var i = 0
    while (i < n) { if (a.getFloat(i) != b.getFloat(i)) c += 1; i += 1 }
    c.toDouble
  }

  private final val NonZeroEps = 1e-10

  /** Set-style Jaccard over the |x|>1e-10 support; empty union → 0.0 —
    * [[graft.functions.VectorOps.jaccard]] verbatim. */
  def jaccardData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var inter = 0; var union = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an && bn) inter += 1
      if (an || bn) union += 1
      i += 1
    }
    if (union == 0) 0.0 else 1.0 - inter.toDouble / union
  }

  /** [[graft.functions.VectorOps.dice]] verbatim. */
  def diceData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var inter = 0; var ca = 0; var cb = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an && bn) inter += 1
      if (an) ca += 1
      if (bn) cb += 1
      i += 1
    }
    if (ca == 0 && cb == 0) 0.0
    else if (ca == 0 || cb == 0) 1.0
    else 1.0 - 2.0 * inter / (ca + cb)
  }

  /** Σ|a−b| / Σ|a+b|; zero denominator errors —
    * [[graft.functions.VectorOps.brayCurtis]] verbatim. */
  def brayCurtisData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var num = 0.0; var den = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      num += math.abs(x - y); den += math.abs(x + y)
      i += 1
    }
    if (den == 0.0)
      throw new IllegalArgumentException("bray-curtis distance undefined for zero denominator")
    num / den
  }

  /** Σ(|a−b|/(|a|+|b|)) skipping both-zero coords; all-zero errors —
    * [[graft.functions.VectorOps.canberra]] verbatim. */
  def canberraData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var sum = 0.0; var anyNonZero = false; var i = 0
    while (i < n) {
      val x = math.abs(a.getFloat(i).toDouble); val y = math.abs(b.getFloat(i).toDouble)
      if (x + y > 0.0) {
        anyNonZero = true
        sum += math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble) / (x + y)
      }
      i += 1
    }
    if (!anyNonZero)
      throw new IllegalArgumentException("canberra distance undefined for all-zero vectors")
    sum
  }

  /** (n10+n01)/dim — [[graft.functions.VectorOps.sokalMichener]]. */
  def sokalMichenerData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var r = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an != bn) r += 1
      i += 1
    }
    if (n == 0) 0.0 else r.toDouble / n
  }

  /** 2R/(S+2R), R = mismatches, S = matches —
    * [[graft.functions.VectorOps.rogersTanimoto]]. */
  def rogersTanimotoData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var r = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an != bn) r += 1
      i += 1
    }
    val denom = (n - r) + 2.0 * r
    if (denom == 0.0) 0.0 else 2.0 * r / denom
  }

  /** 1 − n11/dim — [[graft.functions.VectorOps.russellRao]]. */
  def russellRaoData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var n11 = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an && bn) n11 += 1
      i += 1
    }
    if (n == 0) 0.0 else 1.0 - n11.toDouble / n
  }

  /** (n11+n00)/dim — [[graft.functions.VectorOps.matchingCoefficient]]. */
  def matchingCoefficientData(a: ArrayData, b: ArrayData, nullsA: Boolean, nullsB: Boolean): Double = {
    val n = checkedDim(a, b, nullsA, nullsB)
    var same = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an == bn) same += 1
      i += 1
    }
    if (n == 0) 0.0 else same.toDouble / n
  }

  /** Σ vᵢ² in double, plain accumulation — exactly the `na`/`nb`
    * accumulator of [[cosineData]], hoisted to a per-row invariant.
    * Same null-element contract as the binary kernels. */
  def normSqData(a: ArrayData, nulls: Boolean): Double = {
    if (nulls) noNullElement(a)
    var i = 0
    val n = a.numElements()
    var sum = 0.0
    while (i < n) {
      val v = a.getFloat(i).toDouble
      sum += v * v
      i += 1
    }
    sum
  }

  private def toCol(e: Expression): Column =
    org.apache.spark.sql.classic.GraftShim.column(e)
  private def ex(c: Column): Expression =
    org.apache.spark.sql.classic.GraftShim.expression(c)

  def l2(a: Column, b: Column): Column = toCol(L2DistanceExpr(ex(a), ex(b)))
  def cosine(a: Column, b: Column): Column = toCol(CosineDistanceExpr(ex(a), ex(b)))
  def innerProduct(a: Column, b: Column): Column = toCol(InnerProductExpr(ex(a), ex(b)))
  def dot(a: Column, b: Column): Column = toCol(DotProductExpr(ex(a), ex(b)))
  def l1(a: Column, b: Column): Column = toCol(L1DistanceExpr(ex(a), ex(b)))
  def normSq(a: Column): Column = toCol(NormSqExpr(ex(a)))
  def squaredL2(a: Column, b: Column): Column = toCol(SquaredL2DistanceExpr(ex(a), ex(b)))
  def chebyshev(a: Column, b: Column): Column = toCol(ChebyshevDistanceExpr(ex(a), ex(b)))
  def hamming(a: Column, b: Column): Column = toCol(HammingDistanceExpr(ex(a), ex(b)))
  def jaccard(a: Column, b: Column): Column = toCol(JaccardDistanceExpr(ex(a), ex(b)))
  def dice(a: Column, b: Column): Column = toCol(DiceDistanceExpr(ex(a), ex(b)))
  def brayCurtis(a: Column, b: Column): Column = toCol(BrayCurtisDistanceExpr(ex(a), ex(b)))
  def canberra(a: Column, b: Column): Column = toCol(CanberraDistanceExpr(ex(a), ex(b)))
  def sokalMichener(a: Column, b: Column): Column = toCol(SokalMichenerDistanceExpr(ex(a), ex(b)))
  def rogersTanimoto(a: Column, b: Column): Column = toCol(RogersTanimotoDistanceExpr(ex(a), ex(b)))
  def russellRao(a: Column, b: Column): Column = toCol(RussellRaoDistanceExpr(ex(a), ex(b)))
  def matchingCoefficient(a: Column, b: Column): Column = toCol(MatchingCoefficientExpr(ex(a), ex(b)))

  /** Cosine distance assembled from a precomputed dot product and the
    * two sides' precomputed squared norms — the SAME double operations
    * in the SAME order as [[cosineData]]'s combine step
    * (`1.0 - d / (sqrt(na) * sqrt(nb))`, zero-norm → 1.0), so a pair
    * join that hoists `normSq` per row and evaluates only the dot per
    * pair returns bit-identical distances at roughly a third of the
    * per-pair flops (guide §1.2). */
  def cosineFromParts(d: Column, naSq: Column, nbSq: Column): Column = {
    import org.apache.spark.sql.functions.{lit, sqrt, when}
    when(naSq === lit(0.0) || nbSq === lit(0.0), lit(1.0))
      .otherwise(lit(1.0) - d / (sqrt(naSq) * sqrt(nbSq)))
  }
}
