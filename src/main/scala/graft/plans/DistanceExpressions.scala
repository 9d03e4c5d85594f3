package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Cast, Expression, GenericInternalRow, ImplicitCastInputTypes, JoinedRow, Literal, Predicate, UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, NumericType, StructType}

/**
 * One distance metric: the SQL name it is registered under, the names the
 * search operators (`Knn.distCol`, `Hnsw.distFn`, `Ivf.knnJoin`) accept
 * for it, and its one kernel, a [[graft.functions.VectorOps]] method over
 * `Array[Float]`: `kernel` is the method's name, which generated code
 * calls as a static method, and `arrayKernel` the method itself, which
 * interpreted eval, the HNSW walk and IVF routing call.
 */
sealed abstract class Metric(
    val sqlName: String,
    val aliases: Seq[String],
    val kernel: String,
    val arrayKernel: (Array[Float], Array[Float]) => Double) extends Serializable

object Metric {
  import graft.functions.{VectorOps => VO}

  case object L2 extends Metric("vector_l2_distance", Seq("l2", "euclidean"), "l2", VO.l2)
  case object SquaredL2 extends Metric("vector_squared_l2_distance", Seq("sq_l2", "squared_l2"),
    "squaredL2", VO.squaredL2)
  case object Cosine extends Metric("vector_cosine_distance", Seq("cosine"),
    "cosineDistance", VO.cosineDistance)
  case object InnerProduct extends Metric("vector_inner_product", Seq("ip", "inner_product"),
    "innerProductDistance", VO.innerProductDistance)
  case object Dot extends Metric("vector_dot", Nil, "dot", VO.dot)
  case object L1 extends Metric("vector_l1_distance", Seq("l1", "manhattan", "cityblock"),
    "l1", VO.l1)
  case object Chebyshev extends Metric("vector_chebyshev_distance", Seq("chebyshev"),
    "chebyshev", VO.chebyshev)
  case object Hamming extends Metric("vector_hamming_distance", Seq("hamming"),
    "hamming", VO.hamming)
  case object Jaccard extends Metric("vector_jaccard_distance", Seq("jaccard"),
    "jaccard", VO.jaccard)
  case object Dice extends Metric("vector_dice_distance", Seq("dice"), "dice", VO.dice)
  case object BrayCurtis extends Metric("vector_bray_curtis_distance", Seq("braycurtis"),
    "brayCurtis", VO.brayCurtis)
  case object Canberra extends Metric("vector_canberra_distance", Seq("canberra"),
    "canberra", VO.canberra)
  case object SokalMichener extends Metric("vector_sokal_michener_distance", Nil,
    "sokalMichener", VO.sokalMichener)
  case object RogersTanimoto extends Metric("vector_rogers_tanimoto_distance", Nil,
    "rogersTanimoto", VO.rogersTanimoto)
  case object RussellRao extends Metric("vector_russell_rao_distance", Nil,
    "russellRao", VO.russellRao)
  case object MatchingCoefficient extends Metric("vector_matching_coefficient", Nil,
    "matchingCoefficient", VO.matchingCoefficient)

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
 * Column API build the same node at analysis time. Each side is read once
 * into a `float[]` ([[DistanceExpressions.floats]]; a UDF over
 * `array<float>` would deserialize one boxed `java.lang.Float` per element
 * per row), and the metric's [[graft.functions.VectorOps]] kernel runs on
 * the two arrays; generated code calls that kernel as a static method,
 * keeping the node inside whole-stage codegen.
 *
 * The error contract, in order: a null element is rejected first (left
 * side, then right) — `ArrayData.getFloat` would silently read a null slot
 * as 0.0f — then the kernel checks the dimensions. STRICT like the
 * reference's C functions: a NULL vector gives NULL. The metric is part of
 * the node's equality, so common-subexpression elimination never merges
 * two metrics over the same pair; it is left out of the printed form,
 * which reads `vector_l2_distance(a, b)`.
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
    metric.arrayKernel(DistanceExpressions.floats(a.asInstanceOf[ArrayData], leftNulls),
      DistanceExpressions.floats(b.asInstanceOf[ArrayData], rightNulls))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.VectorOps.${metric.kernel}(
         |  graft.plans.DistanceExpressions.floats($a, $leftNulls),
         |  graft.plans.DistanceExpressions.floats($b, $rightNulls));""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DistanceExpr {
  /** Any float array is accepted as is (a null element fails in
    * [[DistanceExpressions.floats]]); another numeric array is cast when
    * its type rules out null elements. */
  private val Vec = ArrayType(FloatType, containsNull = false)
}

/** Squared L2 norm Σ vᵢ² of one array<float> vector
  * ([[graft.functions.VectorOps.normSq]], the cosine kernel's per-side
  * accumulation). Exists so pair joins can hoist the per-ROW norm out of
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
    graft.functions.VectorOps.normSq(DistanceExpressions.floats(a.asInstanceOf[ArrayData], nulls))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorOps.normSq(graft.plans.DistanceExpressions.floats($a, $nulls))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** The read of an `ArrayData` vector into the `float[]` the
  * [[graft.functions.VectorOps]] kernels take, the one reader of a vector
  * column for task-side code, and the Column helpers that build
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

  /** `a`'s elements as a `float[]`. When `nulls` (the type admits null
    * elements) a null element raises first: `getFloat` would read its
    * slot as 0.0f. */
  def floats(a: ArrayData, nulls: Boolean): Array[Float] = {
    if (nulls) {
      var i = 0
      val n = a.numElements()
      while (i < n) {
        if (a.isNullAt(i))
          throw new IllegalArgumentException(s"vector contains a null element at index $i")
        i += 1
      }
    }
    a.toFloatArray()
  }

  /** The one reader of a vector column for task-side code: the vector at
    * ordinal `ord` of a row whose column there has type `t`. array<float>
    * is read as is; another numeric array goes through Spark's cast to
    * array<float> (SQL's distance functions cast it so), keeping
    * `containsNull`; a non-numeric column fails here, when the call is
    * built (`what` names it). A null element fails in [[floats]]. A null
    * vector reads as `null`, and each caller applies its own rule. */
  private[graft] def reader(t: DataType, ord: Int, what: String): InternalRow => Array[Float] = t match {
    case ArrayType(e: NumericType, nulls) =>
      val cast = Cast(BoundReference(ord, t, nullable = false), ArrayType(FloatType, nulls))
      val read: InternalRow => ArrayData =
        if (e == FloatType) _.getArray(ord) else cast.eval(_).asInstanceOf[ArrayData]
      r => if (r.isNullAt(ord)) null else floats(read(r), nulls)
    case _ => throw new IllegalArgumentException(
      s"the $what vector column must be a numeric array, got ${t.catalogString}")
  }

  /** `df` with the columns of the DDL `cols` set in each row, in its task,
    * to `f`'s values for the row's `vecCol` vector (as [[reader]] reads it,
    * null for a null vector): a column `df` already has is replaced in
    * place, the others are appended in order. The result is planned from
    * `df`'s executed rows, so `df` cannot be a streaming frame (this
    * fails on one), Catalyst prunes none of `df`'s columns and pushes no
    * filter below it, and with adaptive execution a shuffle `df` needs
    * runs when this is called, not at the action. */
  private[graft] def withVectorColumns(df: DataFrame, vecCol: String, what: String,
      cols: String)(f: Array[Float] => Array[Any]): DataFrame = {
    val (in, add) = (df.schema, StructType.fromDDL(cols))
    val read = reader(in(vecCol).dataType, in.fieldIndex(vecCol), what)
    // each output field, and its ordinal in the input row joined to f's
    val out = in.fields.zipWithIndex.map { case (c, i) =>
      val j = add.names.indexOf(c.name)
      if (j < 0) (c, i) else (add(j), in.length + j)
    } ++ add.fields.zipWithIndex.collect { case (c, j) if !in.names.contains(c.name) => (c, in.length + j) }
    val rows = df.queryExecution.toRdd.mapPartitions { it =>
      val project = UnsafeProjection.create(out.map { case (c, i) => BoundReference(i, c.dataType, c.nullable) })
      val joined = new JoinedRow
      it.map(r => project(joined(r, new GenericInternalRow(f(read(r))))): InternalRow)
    }
    GraftShim.dataFrame(df.sparkSession, rows, StructType(out.map(_._1)))
  }

  private def toCol(e: Expression): Column = GraftShim.column(e)
  private def ex(c: Column): Expression = GraftShim.expression(c)

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
    * in the SAME order as [[graft.functions.VectorOps.cosineDistance]]'s
    * combine step (`1.0 - d / (sqrt(na) * sqrt(nb))`, zero-norm → 1.0), so a pair
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
