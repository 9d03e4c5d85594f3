package graft.functions

/**
 * Pure-Scala vector kernels: distance metrics, norms and element-wise
 * operations over dense `Array[Float]` vectors.
 *
 * This is the one definition of each distance metric's arithmetic. The
 * SQL distance node ([[graft.plans.DistanceExpr]]) reads its two sides
 * into `float[]` and calls these kernels (generated code calls them as
 * static methods), as do the HNSW walk, the IVF block scan and
 * nearest-centroid routing, whose one definition
 * ([[graft.operators.Ivf.nearestCentroid]], [[graft.operators.Ivf.probeOrder]])
 * runs [[l2]].
 *
 * Numeric contract (reference parity): every kernel upcasts `float`
 * elements to `double` before accumulating, as the reference C does
 * (`NeuronDB/src/core/distance.c:62,102-103`). L2 / squared-L2 use Kahan
 * compensated summation (`NeuronDB/src/core/distance.c:51-68`). Unlike the
 * reference we return the full `Double` instead of truncating to float4
 * (`PG_RETURN_FLOAT4`) — the extra precision is required for oracle
 * hash-parity at 6-decimal rounding and is otherwise a strict refinement.
 *
 * Dimension mismatches raise, matching `check_dimensions`
 * (`NeuronDB/src/core/distance.c:27-36`).
 */
object VectorOps {

  @inline private def checkDims(a: Array[Float], b: Array[Float]): Unit =
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"vector dimensions must match: ${a.length} vs ${b.length}")

  /** Kahan-summed sum of squared differences (NeuronDB/src/core/distance.c:39-71). */
  def squaredL2(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var sum = 0.0; var c = 0.0; var i = 0
    while (i < a.length) {
      val diff = a(i).toDouble - b(i).toDouble
      val y = diff * diff - c
      val t = sum + y
      c = (t - sum) - y
      sum = t
      i += 1
    }
    sum
  }

  def l2(a: Array[Float], b: Array[Float]): Double = math.sqrt(squaredL2(a, b))

  /** Negated dot product, the `<#>` operator (NeuronDB/src/core/distance.c:95-106). */
  def innerProductDistance(a: Array[Float], b: Array[Float]): Double = -dot(a, b)

  def dot(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var sum = 0.0; var i = 0
    while (i < a.length) { sum += a(i).toDouble * b(i).toDouble; i += 1 }
    sum
  }

  /** 1 - dot/(|a||b|); zero-norm input yields 1.0 (NeuronDB/src/core/distance.c:131-158). */
  def cosineDistance(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val va = a(i).toDouble; val vb = b(i).toDouble
      d += va * vb; na += va * va; nb += vb * vb
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 1.0
    else 1.0 - d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Zero-norm input errors here, unlike cosineDistance (NeuronDB/src/core/operators.c:177-231). */
  def cosineSimilarity(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val va = a(i).toDouble; val vb = b(i).toDouble
      d += va * vb; na += va * va; nb += vb * vb
      i += 1
    }
    if (na == 0.0 || nb == 0.0)
      throw new IllegalArgumentException("cannot compute cosine similarity with zero vector")
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  def l1(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var sum = 0.0; var i = 0
    while (i < a.length) { sum += math.abs(a(i).toDouble - b(i).toDouble); i += 1 }
    sum
  }

  /** Count of unequal coordinates (NaN ≠ NaN), as a double like every
    * other metric (NeuronDB/src/core/distance.c:218-252). */
  def hamming(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var n = 0; var i = 0
    while (i < a.length) { if (a(i) != b(i)) n += 1; i += 1 }
    n.toDouble
  }

  def chebyshev(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var m = 0.0; var i = 0
    while (i < a.length) {
      val d = math.abs(a(i).toDouble - b(i).toDouble)
      if (d > m) m = d
      i += 1
    }
    m
  }

  /** p<=0 / NaN / Inf error; p=1/2/large shortcuts (NeuronDB/src/core/distance.c:290-369). */
  def minkowski(a: Array[Float], b: Array[Float], p: Double): Double = {
    checkDims(a, b)
    if (p <= 0 || p.isNaN || p.isInfinite)
      throw new IllegalArgumentException("p must be positive and finite")
    if (p == 1.0) l1(a, b)
    else if (p == 2.0) l2(a, b)
    else if (p > 1e10) chebyshev(a, b)
    else {
      var sum = 0.0; var i = 0
      while (i < a.length) {
        sum += math.pow(math.abs(a(i).toDouble - b(i).toDouble), p)
        i += 1
      }
      math.pow(sum, 1.0 / p)
    }
  }

  private final val NonZeroEps = 1e-10

  /** Set-style Jaccard over |x|>1e-10 support; empty union -> 0.0
    * (NeuronDB/src/vector/vector_distance.c:453-496). */
  def jaccard(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var inter = 0; var union = 0; var i = 0
    while (i < a.length) {
      val an = math.abs(a(i).toDouble) > NonZeroEps
      val bn = math.abs(b(i).toDouble) > NonZeroEps
      if (an && bn) inter += 1
      if (an || bn) union += 1
      i += 1
    }
    if (union == 0) 0.0 else 1.0 - inter.toDouble / union
  }

  /** (NeuronDB/src/vector/vector_distance.c:497-543) */
  def dice(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var inter = 0; var ca = 0; var cb = 0; var i = 0
    while (i < a.length) {
      val an = math.abs(a(i).toDouble) > NonZeroEps
      val bn = math.abs(b(i).toDouble) > NonZeroEps
      if (an && bn) inter += 1
      if (an) ca += 1
      if (bn) cb += 1
      i += 1
    }
    if (ca == 0 && cb == 0) 0.0
    else if (ca == 0 || cb == 0) 1.0
    else 1.0 - 2.0 * inter / (ca + cb)
  }

  /** Diagonal-inverse-covariance Mahalanobis; null cov falls back to L2;
    * non-positive / non-finite inv-var errors (NeuronDB/src/vector/vector_distance.c:545-595). */
  def mahalanobis(a: Array[Float], b: Array[Float], covInv: Array[Float]): Double = {
    checkDims(a, b)
    if (covInv == null) return l2(a, b)
    if (covInv.length != a.length)
      throw new IllegalArgumentException(
        s"covariance matrix dimension must match vector dimension: ${covInv.length} vs ${a.length}")
    var sum = 0.0; var i = 0
    while (i < a.length) {
      val diff = a(i).toDouble - b(i).toDouble
      val iv = covInv(i).toDouble
      if (iv <= 0.0 || iv.isNaN || iv.isInfinite)
        throw new IllegalArgumentException("covariance inverse must be positive and finite")
      sum += diff * diff * iv
      i += 1
    }
    math.sqrt(sum)
  }

  /** sum|a-b| / sum|a+b|; zero denominator errors
    * (exercised by NeuronDB/sql/03_distance_metrics.sql:138-151). */
  def brayCurtis(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var num = 0.0; var den = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      num += math.abs(x - y); den += math.abs(x + y)
      i += 1
    }
    if (den == 0.0)
      throw new IllegalArgumentException("bray-curtis distance undefined for zero denominator")
    num / den
  }

  /** sum(|a-b|/(|a|+|b|)) skipping both-zero coords; all-zero input errors
    * (exercised by NeuronDB/sql/03_distance_metrics.sql:157-169). */
  def canberra(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a, b)
    var sum = 0.0; var anyNonZero = false; var i = 0
    while (i < a.length) {
      val x = math.abs(a(i).toDouble); val y = math.abs(b(i).toDouble)
      if (x + y > 0.0) { anyNonZero = true; sum += math.abs(a(i).toDouble - b(i).toDouble) / (x + y) }
      i += 1
    }
    if (!anyNonZero)
      throw new IllegalArgumentException("canberra distance undefined for all-zero vectors")
    sum
  }

  @inline private def binaryCounts(a: Array[Float], b: Array[Float]): (Int, Int, Int, Int) = {
    checkDims(a, b)
    var n11 = 0; var n00 = 0; var n10 = 0; var n01 = 0; var i = 0
    while (i < a.length) {
      val an = math.abs(a(i).toDouble) > NonZeroEps
      val bn = math.abs(b(i).toDouble) > NonZeroEps
      if (an && bn) n11 += 1
      else if (an && !bn) n10 += 1
      else if (!an && bn) n01 += 1
      else n00 += 1
      i += 1
    }
    (n11, n00, n10, n01)
  }

  /** Simple matching distance: mismatches / dim (NeuronDB/sql/03_distance_metrics.sql:180). */
  def sokalMichener(a: Array[Float], b: Array[Float]): Double = {
    val (_, _, n10, n01) = binaryCounts(a, b)
    if (a.length == 0) 0.0 else (n10 + n01).toDouble / a.length
  }

  /** 2R/(S+2R) with R = mismatches, S = matches (NeuronDB/sql/03_distance_metrics.sql:183). */
  def rogersTanimoto(a: Array[Float], b: Array[Float]): Double = {
    val (n11, n00, n10, n01) = binaryCounts(a, b)
    val r = n10 + n01
    val denom = n11 + n00 + 2.0 * r
    if (denom == 0.0) 0.0 else 2.0 * r / denom
  }

  /** 1 - n11/dim (NeuronDB/sql/03_distance_metrics.sql:189-191). */
  def russellRao(a: Array[Float], b: Array[Float]): Double = {
    val (n11, _, _, _) = binaryCounts(a, b)
    if (a.length == 0) 0.0 else 1.0 - n11.toDouble / a.length
  }

  /** Matching coefficient similarity: matches / dim (NeuronDB/sql/03_distance_metrics.sql:192). */
  def matchingCoefficient(a: Array[Float], b: Array[Float]): Double = {
    val (n11, n00, _, _) = binaryCounts(a, b)
    if (a.length == 0) 0.0 else (n11 + n00).toDouble / a.length
  }

  // ---------------------------------------------------------------------
  // Norms / normalization (NeuronDB/neurondb--1.0.sql:342-347)
  // ---------------------------------------------------------------------

  /** Σ vᵢ² in double, plain accumulation: the per-side sum of
    * [[cosineDistance]]. */
  def normSq(a: Array[Float]): Double = {
    var sum = 0.0; var i = 0
    while (i < a.length) { val v = a(i).toDouble; sum += v * v; i += 1 }
    sum
  }

  def norm(a: Array[Float]): Double = math.sqrt(normSq(a))

  /** Zero vector normalizes to itself. */
  def normalize(a: Array[Float]): Array[Float] = {
    val n = norm(a)
    if (n == 0.0) a.clone()
    else {
      val out = new Array[Float](a.length)
      var i = 0
      while (i < a.length) { out(i) = (a(i).toDouble / n).toFloat; i += 1 }
      out
    }
  }

  // ---------------------------------------------------------------------
  // Element-wise arithmetic (NeuronDB/src/core/vector_ops.c, operators.c)
  // ---------------------------------------------------------------------

  @inline private def zipMap(a: Array[Float], b: Array[Float])(f: (Double, Double) => Double): Array[Float] = {
    checkDims(a, b)
    val out = new Array[Float](a.length)
    var i = 0
    while (i < a.length) { out(i) = f(a(i).toDouble, b(i).toDouble).toFloat; i += 1 }
    out
  }

  @inline private def map1(a: Array[Float])(f: Double => Double): Array[Float] = {
    val out = new Array[Float](a.length)
    var i = 0
    while (i < a.length) { out(i) = f(a(i).toDouble).toFloat; i += 1 }
    out
  }

  def add(a: Array[Float], b: Array[Float]): Array[Float] = zipMap(a, b)(_ + _)
  def sub(a: Array[Float], b: Array[Float]): Array[Float] = zipMap(a, b)(_ - _)
  def hadamard(a: Array[Float], b: Array[Float]): Array[Float] = zipMap(a, b)(_ * _)
  def divide(a: Array[Float], b: Array[Float]): Array[Float] = zipMap(a, b) { (x, y) =>
    if (y == 0.0) throw new ArithmeticException("division by zero in vector_divide")
    x / y
  }
  def elemMin(a: Array[Float], b: Array[Float]): Array[Float] = zipMap(a, b)(math.min)
  def elemMax(a: Array[Float], b: Array[Float]): Array[Float] = zipMap(a, b)(math.max)

  def mulScalar(a: Array[Float], s: Double): Array[Float] = map1(a)(_ * s)
  def neg(a: Array[Float]): Array[Float] = map1(a)(-_)
  def abs(a: Array[Float]): Array[Float] = map1(a)(math.abs)
  def square(a: Array[Float]): Array[Float] = map1(a)(v => v * v)
  def sqrt(a: Array[Float]): Array[Float] = map1(a) { v =>
    if (v < 0) throw new IllegalArgumentException("vector_sqrt of negative element")
    math.sqrt(v)
  }
  def pow(a: Array[Float], p: Double): Array[Float] = map1(a)(math.pow(_, p))
  def scale(a: Array[Float], s: Double): Array[Float] = mulScalar(a, s)
  def translate(a: Array[Float], t: Double): Array[Float] = map1(a)(_ + t)
  def clip(a: Array[Float], lo: Double, hi: Double): Array[Float] =
    map1(a)(v => math.max(lo, math.min(hi, v)))

  /** 3-d cross product only (NeuronDB/src/vector/vector_advanced.c:30). */
  def crossProduct(a: Array[Float], b: Array[Float]): Array[Float] = {
    checkDims(a, b)
    if (a.length != 3)
      throw new IllegalArgumentException("cross product requires 3-dimensional vectors")
    Array(
      (a(1).toDouble * b(2) - a(2).toDouble * b(1)).toFloat,
      (a(2).toDouble * b(0) - a(0).toDouble * b(2)).toFloat,
      (a(0).toDouble * b(1) - a(1).toDouble * b(0)).toFloat)
  }

  // ---------------------------------------------------------------------
  // Element access (NeuronDB/src/core/vector_ops.c:31-183)
  // ---------------------------------------------------------------------

  /** 1-based index, matching the reference SQL surface. */
  def get(a: Array[Float], idx: Int): Float = {
    if (idx < 1 || idx > a.length)
      throw new IndexOutOfBoundsException(s"vector index $idx out of range [1,${a.length}]")
    a(idx - 1)
  }

  def set(a: Array[Float], idx: Int, v: Double): Array[Float] = {
    if (idx < 1 || idx > a.length)
      throw new IndexOutOfBoundsException(s"vector index $idx out of range [1,${a.length}]")
    val out = a.clone(); out(idx - 1) = v.toFloat; out
  }

  /** 1-based inclusive slice. */
  def slice(a: Array[Float], from: Int, to: Int): Array[Float] = {
    val lo = math.max(1, from); val hi = math.min(a.length, to)
    if (lo > hi) Array.emptyFloatArray else a.slice(lo - 1, hi)
  }

  def append(a: Array[Float], v: Double): Array[Float] = a :+ v.toFloat
  def prepend(v: Double, a: Array[Float]): Array[Float] = v.toFloat +: a
  def concat(a: Array[Float], b: Array[Float]): Array[Float] = a ++ b

  /** `vector_cast_dimension` (NeuronDB/neurondb--1.0.sql:1959): truncate
    * or zero-pad to the target dimensionality. */
  def castDimension(a: Array[Float], dim: Int): Array[Float] = {
    if (dim <= 0) throw new IllegalArgumentException("target dimension must be positive")
    if (a.length == dim) a.clone()
    else if (a.length > dim) a.take(dim)
    else a ++ new Array[Float](dim - a.length)
  }

  // ---------------------------------------------------------------------
  // Per-vector statistics (NeuronDB/src/core/vector_ops.c:382-578,
  // src/vector/vector_advanced.c:78-257)
  // ---------------------------------------------------------------------

  def elementSum(a: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble; i += 1 }
    s
  }

  def mean(a: Array[Float]): Double =
    if (a.isEmpty) throw new IllegalArgumentException("vector_mean of empty vector")
    else elementSum(a) / a.length

  /** Population variance. */
  def variance(a: Array[Float]): Double = {
    val m = mean(a)
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - m; s += d * d; i += 1 }
    s / a.length
  }

  def stddev(a: Array[Float]): Double = math.sqrt(variance(a))

  def minElem(a: Array[Float]): Float = {
    if (a.isEmpty) throw new IllegalArgumentException("vector_min of empty vector")
    var m = a(0); var i = 1
    while (i < a.length) { if (a(i) < m) m = a(i); i += 1 }
    m
  }

  def maxElem(a: Array[Float]): Float = {
    if (a.isEmpty) throw new IllegalArgumentException("vector_max of empty vector")
    var m = a(0); var i = 1
    while (i < a.length) { if (a(i) > m) m = a(i); i += 1 }
    m
  }

  /** Linear-interpolated percentile, q in [0,1]. */
  def quantile(a: Array[Float], q: Double): Double = {
    if (a.isEmpty) throw new IllegalArgumentException("quantile of empty vector")
    if (q < 0.0 || q > 1.0) throw new IllegalArgumentException("quantile must be in [0,1]")
    val sorted = a.clone().sorted
    val pos = q * (sorted.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    val frac = pos - lo
    sorted(lo).toDouble * (1 - frac) + sorted(hi).toDouble * frac
  }

  /** Percentile with p in [0,100]. */
  def percentile(a: Array[Float], p: Double): Double = quantile(a, p / 100.0)
  def median(a: Array[Float]): Double = quantile(a, 0.5)

  /** (v - mean) / stddev; zero stddev -> zeros. */
  def standardize(a: Array[Float]): Array[Float] = {
    val m = mean(a); val sd = stddev(a)
    if (sd == 0.0) new Array[Float](a.length)
    else map1(a)(v => (v - m) / sd)
  }

  /** (v - min) / (max - min); constant vector -> zeros. */
  def minmaxNormalize(a: Array[Float]): Array[Float] = {
    val lo = minElem(a).toDouble; val hi = maxElem(a).toDouble
    if (hi == lo) new Array[Float](a.length)
    else map1(a)(v => (v - lo) / (hi - lo))
  }

  /** Keep elements satisfying |v| >= threshold, zero the rest
    * (NeuronDB/src/vector/vector_advanced.c:370-443). */
  def filterThreshold(a: Array[Float], threshold: Double): Array[Float] =
    map1(a)(v => if (math.abs(v) >= threshold) v else 0.0)

  /** Elementwise select: cond(i) nonzero ? a(i) : b(i)
    * (NeuronDB/src/vector/vector_advanced.c:445). */
  def where(cond: Array[Float], a: Array[Float], b: Array[Float]): Array[Float] = {
    checkDims(cond, a); checkDims(a, b)
    val out = new Array[Float](a.length)
    var i = 0
    while (i < a.length) { out(i) = if (cond(i) != 0f) a(i) else b(i); i += 1 }
    out
  }

  /** Unified preprocess dispatch (NeuronDB/neurondb--1.0.sql:6091-6117). */
  def preprocess(a: Array[Float], method: String): Array[Float] = method match {
    case "normalize"   => normalize(a)
    case "standardize" => standardize(a)
    case "minmax"      => minmaxNormalize(a)
    case "clip"        => clip(a, -1.0, 1.0)
    case other => throw new IllegalArgumentException(s"unknown preprocess method: $other")
  }
}
