package graft.operators

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.plans.DistanceExpressions

/**
 * Product quantization + OPQ (SURVEY §2.8; reference
 * `src/ml/ml_product_quantization.c`, `src/ml/ml_opq.c`).
 *
 * Train: split dims into `m` subspaces, k-means each subspace on a
 * driver-side sample (the reference pulls all vectors into backend memory
 * via SPI — SURVEY §3.3; we cap the sample instead). Encode: per-subspace
 * argmin codeword — distributed, the codebook in the task closure. Search:
 * asymmetric distance (ADC) — per-subspace lookup table of
 * query-to-codeword distances, summed over code bytes; the table is tiny
 * (m × k doubles) and rides in the task closure, so scoring is a scan
 * with no shuffle.
 */
object Pq {

  case class PqCodebook(m: Int, subDim: Int, codebooks: Array[Array[Array[Float]]]) {

    def encode(v: Array[Float]): Array[Byte] = {
      require(v.length == m * subDim, s"vector dim ${v.length} != ${m * subDim}")
      Array.tabulate(m) { s =>
        val cb = codebooks(s)
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cb.length) {
          val d = subDistance(v, s, cb(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best.toByte
      }
    }

    /** Squared-L2 lookup table for a query: table(s)(c) = ||q_s - cb_s,c||². */
    def adcTable(query: Array[Float]): Array[Array[Double]] =
      Array.tabulate(m)(s => codebooks(s).map(subDistance(query, s, _)))

    /** `pq_asymmetric_distance`: sqrt of summed per-subspace table lookups. */
    def adcDistance(table: Array[Array[Double]], codes: Array[Byte]): Double = adc(table, codes)

    /** ||v_s - cw||², subspace `s` of `v` against codeword `cw`, in doubles. */
    private def subDistance(v: Array[Float], s: Int, cw: Array[Float]): Double = {
      var d = 0.0; var j = 0
      while (j < subDim) {
        val diff = v(s * subDim + j).toDouble - cw(j).toDouble
        d += diff * diff
        j += 1
      }
      d
    }
  }

  /** [[PqCodebook.adcDistance]] from the table alone, so a scoring task
    * needs no codebook. */
  private def adc(table: Array[Array[Double]], codes: Array[Byte]): Double = {
    var d = 0.0; var s = 0
    while (s < table.length) { d += table(s)(codes(s) & 0xFF); s += 1 }
    math.sqrt(d)
  }

  /** `train_pq_codebook(table, col, m, k)`: per-subspace Lloyd's k-means
    * with deterministic seeding (first-k init after seed-shuffled sample). */
  def train(df: DataFrame, vecCol: String, m: Int = 8, k: Int = 256,
            sampleSize: Int = 10000, iters: Int = 15, seed: Long = 42L): PqCodebook = {
    // codes are single bytes: k > 256 would make encode() wrap codeword
    // indices mod 256 and ADC would silently look up the wrong codeword
    require(k >= 1 && k <= 256, s"PQ codebook size k must be in [1,256], got $k")
    val sample = df.select(vecCol).limit(sampleSize).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "cannot train PQ on empty input")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val rnd = new scala.util.Random(seed)
    val shuffled = rnd.shuffle(sample.toSeq).toArray
    val codebooks = Array.tabulate(m) { s =>
      val subVecs = shuffled.map(v => v.slice(s * subDim, (s + 1) * subDim))
      kmeans(subVecs, math.min(k, subVecs.length), iters)
    }
    PqCodebook(m, subDim, codebooks)
  }

  private def kmeans(data: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    var centers = data.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](data.head.length))
      val counts = new Array[Long](k)
      data.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          val d = VectorOps.squaredL2(v, centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < v.length) { sums(best)(j) += v(j); j += 1 }
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) centers(c)
        else sums(c).map(s => (s / counts(c)).toFloat)
      }
    }
    centers
  }

  /** Build a codebook from explicitly chosen full-dimension centroid
    * vectors (codeword c of subspace s = slice s of `vectors(c)`).
    * Deterministic by construction — the oracle-checkable counterpart of
    * [[train]], and the shape `rerank_index_create` takes when the caller
    * supplies precomputed centroids. */
  def codebookFrom(vectors: Array[Array[Float]], m: Int): PqCodebook = {
    require(vectors.nonEmpty, "codebookFrom requires at least one centroid")
    require(vectors.length <= 256,
      s"at most 256 codewords fit a byte code, got ${vectors.length}")
    val dim = vectors.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val codebooks = Array.tabulate(m) { s =>
      vectors.map(v => v.slice(s * subDim, (s + 1) * subDim))
    }
    PqCodebook(m, subDim, codebooks)
  }

  /** Encode a table; codes column is BinaryType, m bytes per row. A null
    * vector gets null codes (the Knn path tolerates null embeddings; a
    * crash here would make PQ the only operator a dirty corpus kills).
    * As with [[Ivf.routeWith]], `df` must not be a streaming frame, and
    * columns it does not need should be dropped before the call
    * ([[graft.plans.DistanceExpressions.withVectorColumns]]). */
  def encodeTable(df: DataFrame, vecCol: String, codebook: PqCodebook): DataFrame =
    DistanceExpressions.withVectorColumns(df, vecCol, "encoded", "pq_codes binary")(v =>
      Array(if (v == null) null else codebook.encode(v)))

  /** ADC top-k over an encoded table: the query's lookup table rides in
    * the scoring UDF's closure; scan, heap.
    * ADC distances collide whenever two rows share all code bytes, so
    * `tieBreak` columns matter for deterministic cuts. */
  def search(encoded: DataFrame, codebook: PqCodebook, query: Array[Float],
             k: Int = 10, tieBreak: Seq[String] = Nil): DataFrame = {
    val table = codebook.adcTable(query)
    val score = udf((codes: Array[Byte]) =>
      if (codes == null) None else Some(adc(table, codes)))
    encoded.withColumn("adc_distance", score(col("pq_codes")))
      .orderBy((col("adc_distance").asc_nulls_last +: tieBreak.map(col)).toSeq: _*)
      .limit(k)
  }

  /**
   * OPQ rotation (`train_opq_rotation(table, col, m)`,
   * `neurondb--1.0.sql:1877-1887`): learn an orthonormal rotation via PCA
   * (principal axes = the variance-decorrelating rotation) and apply it
   * before PQ so subspaces carry balanced variance.
   */
  def trainOpqRotation(df: DataFrame, vecCol: String): Array[Array[Float]] = {
    import org.apache.spark.ml.feature.PCA
    val dim = df.select(vecCol).head().getSeq[Float](0).length
    val pca = new PCA().setK(dim).setInputCol("__f").setOutputCol("__p")
      .fit(df.withColumn("__f", array_to_vector(col(vecCol))))
    // pc is dim x k column-major; rows = original dims, cols = components
    val pc = pca.pc
    Array.tabulate(dim)(r => Array.tabulate(dim)(c => pc(r, c).toFloat))
  }

  /** `apply_opq_rotation`: v' = Rᵀ v (projection onto principal axes). */
  def applyOpqRotation(v: Array[Float], rotation: Array[Array[Float]]): Array[Float] = {
    val dim = rotation.length
    require(v.length == dim, "rotation/vector dimension mismatch")
    val out = new Array[Float](dim)
    var c = 0
    while (c < dim) {
      var s = 0.0; var r = 0
      while (r < dim) { s += v(r).toDouble * rotation(r)(c).toDouble; r += 1 }
      out(c) = s.toFloat
      c += 1
    }
    out
  }
}
