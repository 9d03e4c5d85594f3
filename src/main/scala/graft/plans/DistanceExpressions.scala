package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, Literal, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/**
 * One distance metric: the SQL name it is registered under, the names the
 * search operators (`Knn.distCol`, `Hnsw.distFn`, `Ivf.knnJoin`) accept
 * for it, and its two kernels — the static `ArrayData` kernel on
 * [[DistanceExpressions]] (named for generated code, held for interpreted
 * eval) and the [[graft.functions.VectorOps]] `Array[Float]` kernel that
 * the HNSW walk and IVF routing call. Both kernels have the same
 * arithmetic (double upcast, accumulation order, Kahan compensation for
 * L2), so the two paths give bit-identical results.
 */
sealed abstract class Metric(
    val sqlName: String,
    val aliases: Seq[String],
    val kernel: String,
    val dataKernel: (ArrayData, ArrayData, Boolean, Boolean) => Double,
    val arrayKernel: (Array[Float], Array[Float]) => Double) extends Serializable

object Metric {
  import graft.plans.{DistanceExpressions => DE}
  import graft.functions.{VectorOps => VO}

  case object L2 extends Metric("vector_l2_distance", Seq("l2", "euclidean"),
    "l2Data", DE.l2Data, VO.l2)
  case object SquaredL2 extends Metric("vector_squared_l2_distance", Seq("sq_l2", "squared_l2"),
    "squaredL2Data", DE.squaredL2Data, VO.squaredL2)
  case object Cosine extends Metric("vector_cosine_distance", Seq("cosine"),
    "cosineData", DE.cosineData, VO.cosineDistance)
  case object InnerProduct extends Metric("vector_inner_product", Seq("ip", "inner_product"),
    "innerProductData", DE.innerProductData, VO.innerProductDistance)
  case object Dot extends Metric("vector_dot", Nil,
    "dotData", DE.dotData, VO.dot)
  case object L1 extends Metric("vector_l1_distance", Seq("l1", "manhattan", "cityblock"),
    "l1Data", DE.l1Data, VO.l1)
  case object Chebyshev extends Metric("vector_chebyshev_distance", Seq("chebyshev"),
    "chebyshevData", DE.chebyshevData, VO.chebyshev)
  case object Hamming extends Metric("vector_hamming_distance", Seq("hamming"),
    "hammingData", DE.hammingData, VO.hamming(_, _).toDouble)
  case object Jaccard extends Metric("vector_jaccard_distance", Seq("jaccard"),
    "jaccardData", DE.jaccardData, VO.jaccard)
  case object Dice extends Metric("vector_dice_distance", Seq("dice"),
    "diceData", DE.diceData, VO.dice)
  case object BrayCurtis extends Metric("vector_bray_curtis_distance", Seq("braycurtis"),
    "brayCurtisData", DE.brayCurtisData, VO.brayCurtis)
  case object Canberra extends Metric("vector_canberra_distance", Seq("canberra"),
    "canberraData", DE.canberraData, VO.canberra)
  case object SokalMichener extends Metric("vector_sokal_michener_distance", Nil,
    "sokalMichenerData", DE.sokalMichenerData, VO.sokalMichener)
  case object RogersTanimoto extends Metric("vector_rogers_tanimoto_distance", Nil,
    "rogersTanimotoData", DE.rogersTanimotoData, VO.rogersTanimoto)
  case object RussellRao extends Metric("vector_russell_rao_distance", Nil,
    "russellRaoData", DE.russellRaoData, VO.russellRao)
  case object MatchingCoefficient extends Metric("vector_matching_coefficient", Nil,
    "matchingCoefficientData", DE.matchingCoefficientData, VO.matchingCoefficient)

  val all: Seq[Metric] = Seq(L2, SquaredL2, Cosine, InnerProduct, Dot, L1, Chebyshev, Hamming,
    Jaccard, Dice, BrayCurtis, Canberra, SokalMichener, RogersTanimoto, RussellRao,
    MatchingCoefficient)

  private val byAlias: Map[String, Metric] = all.flatMap(m => m.aliases.map(_ -> m)).toMap

  def get(name: String): Option[Metric] = byAlias.get(name)

  def apply(name: String): Metric =
    get(name).getOrElse(throw new IllegalArgumentException(s"unknown metric: $name"))
}

/**
 * The native Catalyst node for every [[Metric]]; `GraftFunctions.registerAll`
 * registers each metric's SQL name as a builder of it, so SQL and the
 * Column API build the same node at analysis time. It reads the columnar
 * `ArrayData` in place (a UDF over `array<float>` would deserialize one
 * boxed `java.lang.Float` per element per row), and generated code calls
 * the metric's static kernel directly, keeping the node inside
 * whole-stage codegen.
 *
 * STRICT like the reference's C functions: a NULL vector gives NULL. The
 * metric is part of the node's equality, so common-subexpression
 * elimination never merges two metrics over the same pair; it is left out
 * of the printed form, which reads `vector_l2_distance(a, b)`.
 */
case class DistanceExpr(metric: Metric, left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = metric.sqlName
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[ArrayType] = Seq(DistanceExpr.Vec, DistanceExpr.Vec)
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  // decided once per plan: the per-pair null scan runs only on a side
  // that can hold a null element
  private lazy val leftNulls = DistanceExpressions.mayHoldNulls(left)
  private lazy val rightNulls = DistanceExpressions.mayHoldNulls(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    metric.dataKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], leftNulls, rightNulls)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.DistanceExpressions.${metric.kernel}($a, $b, $leftNulls, $rightNulls);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DistanceExpr {
  /** Any float array is accepted as is (a null element fails in the
    * kernel); another numeric array is cast when its type rules out null
    * elements. */
  private val Vec = ArrayType(FloatType, containsNull = false)
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

/** The static `ArrayData` kernels the [[Metric]] table names, each the
  * arithmetic of its [[graft.functions.VectorOps]] twin reading the array
  * in place via `getFloat(i)`, and the Column helpers that build
  * [[DistanceExpr]]. */
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

  @inline private[graft] def noNullElement(a: ArrayData): Unit = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"vector contains a null element at index $i")
      i += 1
    }
  }

  /** The error contract, in order: null elements rejected first (left
    * side, then right), then the dimension check — `ArrayData.getFloat` would
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

  private[graft] def dist(m: Metric)(a: Column, b: Column): Column =
    toCol(DistanceExpr(m, ex(a), ex(b)))

  def l2(a: Column, b: Column): Column = dist(Metric.L2)(a, b)
  def cosine(a: Column, b: Column): Column = dist(Metric.Cosine)(a, b)
  def innerProduct(a: Column, b: Column): Column = dist(Metric.InnerProduct)(a, b)
  def dot(a: Column, b: Column): Column = dist(Metric.Dot)(a, b)
  def l1(a: Column, b: Column): Column = dist(Metric.L1)(a, b)
  def normSq(a: Column): Column = toCol(NormSqExpr(ex(a)))
  def squaredL2(a: Column, b: Column): Column = dist(Metric.SquaredL2)(a, b)
  def chebyshev(a: Column, b: Column): Column = dist(Metric.Chebyshev)(a, b)
  def hamming(a: Column, b: Column): Column = dist(Metric.Hamming)(a, b)
  def jaccard(a: Column, b: Column): Column = dist(Metric.Jaccard)(a, b)
  def dice(a: Column, b: Column): Column = dist(Metric.Dice)(a, b)
  def brayCurtis(a: Column, b: Column): Column = dist(Metric.BrayCurtis)(a, b)
  def canberra(a: Column, b: Column): Column = dist(Metric.Canberra)(a, b)
  def sokalMichener(a: Column, b: Column): Column = dist(Metric.SokalMichener)(a, b)
  def rogersTanimoto(a: Column, b: Column): Column = dist(Metric.RogersTanimoto)(a, b)
  def russellRao(a: Column, b: Column): Column = dist(Metric.RussellRao)(a, b)
  def matchingCoefficient(a: Column, b: Column): Column = dist(Metric.MatchingCoefficient)(a, b)

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

/** `child IN (values)` over ints — an index's probed lists or rebuilt
  * shards. [[org.apache.spark.sql.catalyst.expressions.In]] writes its
  * values into the generated code, so each new set compiles new code;
  * this reads them from the plan's reference objects, so every set
  * shares one compiled form. Prints as `In` does, and like it serves as a
  * partition filter: on a layout partitioned by `child`'s column, only
  * the listed partitions' files are read. */
case class InInts(child: Expression, values: Seq[Int]) extends UnaryExpression with Predicate {
  private lazy val sorted = values.distinct.sorted.toArray
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"IN over ints requires an int argument, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any =
    java.util.Arrays.binarySearch(sorted, v.asInstanceOf[Int]) >= 0
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("ints", sorted, "int[]")
    defineCodeGen(ctx, ev, v => s"java.util.Arrays.binarySearch($set, $v) >= 0")
  }
  override def toString: String = s"$child IN ${values.mkString("(", ",", ")")}"
  override def sql: String = s"(${child.sql} IN ${values.mkString("(", ", ", ")")})"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
