package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/**
 * Column-level API + SQL registration for the vector kernels in
 * [[VectorOps]] that have no native node. Mirrors the SQL function
 * surface installed by `NeuronDB/neurondb--1.0.sql` so that a reference
 * user can translate queries 1:1; the 16 two-vector distances
 * (`vector_l2_distance` et al.) are registered by
 * `GraftFunctions.registerAll` as the native [[graft.plans.DistanceExpr]]
 * instead (see [[graft.plans.Metric]]).
 *
 * NULL semantics: the reference declares these functions STRICT (NULL in
 * → NULL out, `neurondb--1.0.sql`), so every UDF here propagates NULL
 * instead of crashing, as the native distance node does. (NULL *elements*
 * inside a vector are an error: silently reading them as 0.0 would
 * corrupt results.)
 */
object VectorFunctions {

  // STRICT-style combinators: any NULL argument yields NULL output.
  private def d1(f: Array[Float] => Double): UserDefinedFunction =
    udf((a: Seq[Float]) => if (a == null) None else Some(f(a.toArray)))
  private def d2(f: (Array[Float], Array[Float]) => Double): UserDefinedFunction =
    udf((a: Seq[Float], b: Seq[Float]) =>
      if (a == null || b == null) None else Some(f(a.toArray, b.toArray)))
  private def dS(f: (Array[Float], Double) => Double): UserDefinedFunction =
    udf((a: Seq[Float], s: Double) => if (a == null) None else Some(f(a.toArray, s)))
  private def a1(f: Array[Float] => Array[Float]): UserDefinedFunction =
    udf((a: Seq[Float]) => if (a == null) null else f(a.toArray))
  private def a2(f: (Array[Float], Array[Float]) => Array[Float]): UserDefinedFunction =
    udf((a: Seq[Float], b: Seq[Float]) =>
      if (a == null || b == null) null else f(a.toArray, b.toArray))
  private def aS(f: (Array[Float], Double) => Array[Float]): UserDefinedFunction =
    udf((a: Seq[Float], s: Double) => if (a == null) null else f(a.toArray, s))

  // -- distances without a native node ----------------------------------
  val cosineSimUdf: UserDefinedFunction = d2(VectorOps.cosineSimilarity)
  val minkowskiUdf: UserDefinedFunction = udf((a: Seq[Float], b: Seq[Float], p: Double) =>
    if (a == null || b == null) None else Some(VectorOps.minkowski(a.toArray, b.toArray, p)))
  val mahalanobisUdf: UserDefinedFunction = udf((a: Seq[Float], b: Seq[Float], c: Seq[Float]) =>
    if (a == null || b == null || c == null) None
    else Some(VectorOps.mahalanobis(a.toArray, b.toArray, c.toArray)))

  // -- norms / transforms ------------------------------------------------
  val normUdf: UserDefinedFunction = d1(VectorOps.norm)
  val normalizeUdf: UserDefinedFunction = a1(VectorOps.normalize)
  val addUdf: UserDefinedFunction = a2(VectorOps.add)
  val subUdf: UserDefinedFunction = a2(VectorOps.sub)
  val hadamardUdf: UserDefinedFunction = a2(VectorOps.hadamard)
  val divideUdf: UserDefinedFunction = a2(VectorOps.divide)
  val elemMinUdf: UserDefinedFunction = a2(VectorOps.elemMin)
  val elemMaxUdf: UserDefinedFunction = a2(VectorOps.elemMax)
  val mulScalarUdf: UserDefinedFunction = aS(VectorOps.mulScalar)
  val negUdf: UserDefinedFunction = a1(VectorOps.neg)
  val absUdf: UserDefinedFunction = a1(VectorOps.abs)
  val squareUdf: UserDefinedFunction = a1(VectorOps.square)
  val sqrtUdf: UserDefinedFunction = a1(VectorOps.sqrt)
  val powUdf: UserDefinedFunction = aS(VectorOps.pow)
  val scaleUdf: UserDefinedFunction = aS(VectorOps.scale)
  val translateUdf: UserDefinedFunction = aS(VectorOps.translate)
  val clipUdf: UserDefinedFunction = udf((a: Seq[Float], lo: Double, hi: Double) =>
    if (a == null) null else VectorOps.clip(a.toArray, lo, hi))
  val crossProductUdf: UserDefinedFunction = a2(VectorOps.crossProduct)
  val standardizeUdf: UserDefinedFunction = a1(VectorOps.standardize)
  val minmaxNormalizeUdf: UserDefinedFunction = a1(VectorOps.minmaxNormalize)
  val filterThresholdUdf: UserDefinedFunction = aS(VectorOps.filterThreshold)
  val whereUdf: UserDefinedFunction = udf((c: Seq[Float], a: Seq[Float], b: Seq[Float]) =>
    if (c == null || a == null || b == null) null
    else VectorOps.where(c.toArray, a.toArray, b.toArray))
  val preprocessUdf: UserDefinedFunction = udf((a: Seq[Float], m: String) =>
    if (a == null || m == null) null else VectorOps.preprocess(a.toArray, m))

  // -- comparisons / hash (NeuronDB/neurondb--1.0.sql:2217-2294) ---------
  // PG-style lexicographic array comparison; hash is djb2 over the float
  // bit patterns (content-based, dimension-sensitive).

  private def cmp(a: Seq[Float], b: Seq[Float]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = java.lang.Float.compare(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    a.length.compareTo(b.length)
  }

  private def cmpUdf(f: Int => Boolean): UserDefinedFunction =
    udf((a: Seq[Float], b: Seq[Float]) => if (a == null || b == null) None else Some(f(cmp(a, b))))

  def vectorHash(a: Seq[Float]): Int = {
    var h = 5381
    a.foreach { f =>
      val bits = java.lang.Float.floatToIntBits(f)
      var s = 0
      while (s < 32) { h = ((h << 5) + h) ^ ((bits >>> s) & 0xFF); s += 8 }
    }
    h
  }

  val eqUdf: UserDefinedFunction = cmpUdf(_ == 0)
  val neUdf: UserDefinedFunction = cmpUdf(_ != 0)
  val ltUdf: UserDefinedFunction = cmpUdf(_ < 0)
  val leUdf: UserDefinedFunction = cmpUdf(_ <= 0)
  val gtUdf: UserDefinedFunction = cmpUdf(_ > 0)
  val geUdf: UserDefinedFunction = cmpUdf(_ >= 0)
  val hashUdf: UserDefinedFunction =
    udf((a: Seq[Float]) => if (a == null) None else Some(vectorHash(a)))

  // -- element access / per-vector stats --------------------------------
  val getUdf: UserDefinedFunction = udf((a: Seq[Float], i: Int) =>
    if (a == null) None else Some(VectorOps.get(a.toArray, i)))
  val setUdf: UserDefinedFunction = udf((a: Seq[Float], i: Int, v: Double) =>
    if (a == null) null else VectorOps.set(a.toArray, i, v))
  val sliceUdf: UserDefinedFunction = udf((a: Seq[Float], from: Int, to: Int) =>
    if (a == null) null else VectorOps.slice(a.toArray, from, to))
  val appendUdf: UserDefinedFunction = aS(VectorOps.append)
  val prependUdf: UserDefinedFunction = udf((v: Double, a: Seq[Float]) =>
    if (a == null) null else VectorOps.prepend(v, a.toArray))
  val concatUdf: UserDefinedFunction = a2(VectorOps.concat)
  val elementSumUdf: UserDefinedFunction = d1(VectorOps.elementSum)
  val meanUdf: UserDefinedFunction = d1(VectorOps.mean)
  val varianceUdf: UserDefinedFunction = d1(VectorOps.variance)
  val stddevUdf: UserDefinedFunction = d1(VectorOps.stddev)
  val minElemUdf: UserDefinedFunction = d1(VectorOps.minElem)
  val maxElemUdf: UserDefinedFunction = d1(VectorOps.maxElem)
  val percentileUdf: UserDefinedFunction = dS(VectorOps.percentile)
  val medianUdf: UserDefinedFunction = d1(VectorOps.median)
  val quantileUdf: UserDefinedFunction = dS(VectorOps.quantile)
  /** Kept non-STRICT deliberately: the reference's `vector_dims` treats a
    * missing vector as 0-dimensional in its own catalog views. */
  val dimsUdf: UserDefinedFunction = udf((a: Seq[Float]) => if (a == null) 0 else a.length)
  val castDimensionUdf: UserDefinedFunction = udf((a: Seq[Float], d: Int) =>
    if (a == null) null else VectorOps.castDimension(a.toArray, d))

  private val byName: Map[String, UserDefinedFunction] = Map(
    "vector_cosine_similarity" -> cosineSimUdf,
    "vector_similarity" -> cosineSimUdf,
    "vector_minkowski_distance" -> minkowskiUdf,
    "vector_mahalanobis_distance" -> mahalanobisUdf,
    "vector_norm" -> normUdf,
    "vector_normalize" -> normalizeUdf,
    "vector_add" -> addUdf,
    "vector_sub" -> subUdf,
    "vector_mul" -> mulScalarUdf,
    "vector_hadamard" -> hadamardUdf,
    "vector_divide" -> divideUdf,
    "vector_minimum" -> elemMinUdf,
    "vector_maximum" -> elemMaxUdf,
    "vector_neg" -> negUdf,
    "vector_abs" -> absUdf,
    "vector_square" -> squareUdf,
    "vector_sqrt" -> sqrtUdf,
    "vector_pow" -> powUdf,
    "vector_scale" -> scaleUdf,
    "vector_translate" -> translateUdf,
    "vector_clip" -> clipUdf,
    "vector_cross_product" -> crossProductUdf,
    "vector_standardize" -> standardizeUdf,
    "vector_minmax_normalize" -> minmaxNormalizeUdf,
    "vector_filter" -> filterThresholdUdf,
    "vector_where" -> whereUdf,
    "vector_get" -> getUdf,
    "vector_set" -> setUdf,
    "vector_slice" -> sliceUdf,
    "vector_append" -> appendUdf,
    "vector_prepend" -> prependUdf,
    "vector_concat" -> concatUdf,
    "vector_element_sum" -> elementSumUdf,
    "vector_mean" -> meanUdf,
    "vector_variance" -> varianceUdf,
    "vector_stddev" -> stddevUdf,
    "vector_min" -> minElemUdf,
    "vector_max" -> maxElemUdf,
    "vector_percentile" -> percentileUdf,
    "vector_median" -> medianUdf,
    "vector_quantile" -> quantileUdf,
    "vector_dims" -> dimsUdf,
    "vector_cast_dimension" -> castDimensionUdf,
    "preprocess" -> preprocessUdf,
    "vector_eq" -> eqUdf,
    "vector_ne" -> neUdf,
    "vector_lt" -> ltUdf,
    "vector_le" -> leUdf,
    "vector_gt" -> gtUdf,
    "vector_ge" -> geUdf,
    "vector_hash" -> hashUdf,
  )

  /** Register every function for `spark.sql` use under its reference name. */
  def register(spark: SparkSession): Unit =
    byName.foreach { case (name, f) => spark.udf.register(name, f) }
}
