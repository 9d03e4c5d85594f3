package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.Knn

/**
 * ML operators that have no MLlib estimator (SURVEY §2.10 long tail):
 * kNN classify/regress, z-score outliers, drift detection, retrieval
 * quality metrics, Davies-Bouldin, DBSCAN, ARIMA.
 */
object Extras {

  // ------------------------------------------------------------------
  // kNN classifier / regressor (reference `ml_knn.c`, SQL :972-1008):
  // brute-force neighbor scan re-expressed as vec-join + window top-k.
  // ------------------------------------------------------------------

  /** Majority vote over the k nearest train rows; deterministic
    * tie-break (higher count, then lower label). */
  def knnClassify(train: DataFrame, test: DataFrame, vecCol: String, labelCol: String,
                  k: Int = 5, idCol: String = "id"): DataFrame = {
    val t = train.select(col(vecCol).as("train_vec"), col(labelCol).as("train_label"))
    val q = test.select(col(idCol), col(vecCol))
    val joined = q.crossJoin(broadcast(t))
      .withColumn("distance", Knn.distCol("l2")(col(vecCol), col("train_vec")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("distance"), col("train_label"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col(idCol), col("train_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vote_rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("votes").desc, col("train_label"))))
      .filter(col("vote_rank") === 1)
      .select(col(idCol), col("train_label").as("predicted_label"))
  }

  /** [[knnClassify]] for train sides too big to broadcast: exact k-NN via
    * the IVF radius-bound join ([[graft.operators.Ivf.knnJoin]]) — queries
    * meet the train rows only in the posting-list blocks they probe,
    * nothing broadcast — then the identical majority vote. Same results
    * as the broadcast path. */
  def knnClassifyBlocked(train: DataFrame, test: DataFrame, vecCol: String, labelCol: String,
                         k: Int = 5, idCol: String = "id", nlists: Int = 16,
                         initProbes: Int = 4): DataFrame = {
    // few k-means sweeps: cluster quality only shapes block BALANCE; the
    // radius-bound join below is exact for any assignment
    val model = graft.operators.Ivf.build(
      train.select(col(vecCol), col(labelCol)), vecCol, nlists, maxIter = 5)
    knnClassifyWithIndex(model, test, vecCol, labelCol, k, idCol)
  }

  /** [[knnClassifyBlocked]] against a PREBUILT index — the serve path.
    * Index construction is offline in the reference (CREATE INDEX);
    * classification reuses it, so the per-query cost is the two
    * radius-bound join passes, not a k-means fit. The model's assigned
    * table must carry `labelCol`. */
  def knnClassifyWithIndex(model: graft.operators.Ivf.IvfModel, test: DataFrame,
                           vecCol: String, labelCol: String,
                           k: Int = 5, idCol: String = "id"): DataFrame = {
    graft.operators.Ivf.knnJoin(model, test.select(col(idCol), col(vecCol)),
        vecCol, idCol, k, tieBreak = Seq(labelCol))
      .groupBy(col(idCol), col(s"t_$labelCol").as("train_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vote_rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("votes").desc, col("train_label"))))
      .filter(col("vote_rank") === 1)
      .select(col(idCol), col("train_label").as("predicted_label"))
  }

  /** Mean of the k nearest train labels. */
  def knnRegress(train: DataFrame, test: DataFrame, vecCol: String, labelCol: String,
                 k: Int = 5, idCol: String = "id"): DataFrame = {
    val t = train.select(col(vecCol).as("train_vec"), col(labelCol).as("train_label"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("distance"))
    test.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(t))
      .withColumn("distance", Knn.distCol("l2")(col(vecCol), col("train_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col(idCol))
      .agg(avg("train_label").as("predicted_value"))
  }

  // ------------------------------------------------------------------
  // Outliers / drift (ml_outlier_detection.c:99,390; ml_drift_detection.c)
  // ------------------------------------------------------------------

  /** `detect_outliers_zscore(table, col, threshold=3)`: |x−μ|/σ > τ.
    * Sample stddev, matching both engines' default. */
  def zscoreOutliers(df: DataFrame, valueCol: String, threshold: Double = 3.0): DataFrame = {
    val stats = df.agg(avg(col(valueCol)).as("mu"), stddev(col(valueCol)).as("sigma")).head()
    // sample stddev is undefined below 2 rows (null) — no row can be an
    // outlier of a 0/1-row distribution, so return the empty frame rather
    // than NPE on the unbox
    if (stats.isNullAt(0) || stats.isNullAt(1))
      return df.withColumn("zscore", lit(null).cast("double")).filter(lit(false))
    val mu = stats.getDouble(0); val sigma = stats.getDouble(1)
    df.withColumn("zscore", (col(valueCol) - lit(mu)) / lit(sigma))
      .filter(abs(col("zscore")) > threshold)
  }

  /** `detect_centroid_drift(t1,c1,t2,c2)`: L2 between the two datasets'
    * mean vectors (one aggregation each — scales as a reduce). */
  def centroidDrift(a: DataFrame, b: DataFrame, vecColA: String, vecColB: String): Double = {
    def centroid(df: DataFrame, c: String): Array[Float] = {
      val r = df.agg(graft.functions.VectorAggregates.vector_avg(col(c))).head()
      r.getSeq[Float](0).toArray
    }
    VectorOps.l2(centroid(a, vecColA), centroid(b, vecColB))
  }

  /** `compute_distribution_divergence` (KL / JS) over equi-width
    * histograms of a numeric column. */
  def distributionDivergence(a: DataFrame, b: DataFrame, col1: String, col2: String,
                             bins: Int = 20, method: String = "js"): Double = {
    // cast before aggregating: min/max preserve the input type, and
    // Row.getDouble on an Integer/Long/Decimal cell throws
    val sa = a.agg(min(col(col1).cast("double")), max(col(col1).cast("double"))).head()
    val sb = b.agg(min(col(col2).cast("double")), max(col(col2).cast("double"))).head()
    require(!sa.isNullAt(0) && !sb.isNullAt(0),
      "distribution_divergence needs non-empty inputs on both sides")
    val allMin = math.min(sa.getDouble(0), sb.getDouble(0))
    val allMax = math.max(sa.getDouble(1), sb.getDouble(1))
    val width = (allMax - allMin) / bins max 1e-12
    def hist(df: DataFrame, c: String): Array[Double] = {
      val counts = df.select(least(lit(bins - 1),
          floor((col(c) - allMin) / width)).cast("int").as("bin"))
        .groupBy("bin").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = counts.values.sum.toDouble max 1.0
      Array.tabulate(bins)(i => (counts.getOrElse(i, 0L) + 1e-10) / total)
    }
    val p = hist(a, col1); val q = hist(b, col2)
    def kl(x: Array[Double], y: Array[Double]): Double =
      x.zip(y).map { case (pi, qi) => pi * math.log(pi / qi) }.sum
    method match {
      case "kl" => kl(p, q)
      case "js" =>
        val m = p.zip(q).map { case (pi, qi) => (pi + qi) / 2 }
        0.5 * kl(p, m) + 0.5 * kl(q, m)
      case other => throw new IllegalArgumentException(s"unknown divergence: $other")
    }
  }

  // ------------------------------------------------------------------
  // Retrieval quality metrics (ml_recall_metrics.c:1-50; SQL :1635-1656)
  // ------------------------------------------------------------------

  def recallAtK(retrieved: Seq[Long], relevant: Seq[Long], k: Int): Double =
    if (relevant.isEmpty) 0.0
    else (retrieved.take(k).toSet & relevant.toSet).size.toDouble / relevant.size

  /** The reference clamps k to n_retrieved before dividing
    * (ml_recall_metrics.c:161-162,181) — a short result list is NOT
    * penalized; precision is over the items actually returned. */
  def precisionAtK(retrieved: Seq[Long], relevant: Seq[Long], k: Int): Double = {
    val d = math.min(k, retrieved.size)
    if (d == 0) 0.0
    else (retrieved.take(d).toSet & relevant.toSet).size.toDouble / d
  }

  def f1AtK(retrieved: Seq[Long], relevant: Seq[Long], k: Int): Double = {
    val pr = precisionAtK(retrieved, relevant, k)
    val rc = recallAtK(retrieved, relevant, k)
    if (pr + rc == 0) 0.0 else 2 * pr * rc / (pr + rc)
  }

  def meanReciprocalRank(rankedLists: Seq[Seq[Long]], relevant: Seq[Set[Long]]): Double = {
    require(rankedLists.size == relevant.size)
    val rr = rankedLists.zip(relevant).map { case (ranked, rel) =>
      ranked.zipWithIndex.collectFirst { case (id, i) if rel(id) => 1.0 / (i + 1) }.getOrElse(0.0)
    }
    if (rr.isEmpty) 0.0 else rr.sum / rr.size
  }

  def ndcgAtK(retrieved: Seq[Long], relevance: Map[Long, Double], k: Int): Double = {
    def dcg(ids: Seq[Long]): Double =
      ids.take(k).zipWithIndex.map { case (id, i) =>
        relevance.getOrElse(id, 0.0) / (math.log(i + 2) / math.log(2))
      }.sum
    val ideal = dcg(relevance.toSeq.sortBy(-_._2).map(_._1))
    if (ideal == 0) 0.0 else dcg(retrieved) / ideal
  }

  /** `davies_bouldin_index` (`ml_davies_bouldin.c`): avg over clusters of
    * max pairwise (s_i + s_j) / d(c_i, c_j). Driver-side over per-cluster
    * aggregates (k centroids, not rows). */
  def daviesBouldin(df: DataFrame, vecCol: String, clusterCol: String): Double = {
    val spark = df.sparkSession
    val agg = df.groupBy(col(clusterCol))
      .agg(graft.functions.VectorAggregates.vector_avg(col(vecCol)).as("centroid"))
      .collect()
      .map(r => r.get(0) -> r.getSeq[Float](1).toArray).toMap
    require(!agg.contains(null),
      "davies_bouldin: null cluster id — filter or impute before scoring")
    require(agg.size >= 2,
      s"davies_bouldin needs at least 2 clusters, got ${agg.size}")
    // one pass for every cluster's scatter: broadcast the (k-sized)
    // centroid table instead of re-scanning the input per cluster
    val bC = spark.sparkContext.broadcast(agg.map { case (k, v) => k.toString -> v })
    val dUdf = udf((cid: String, v: Seq[Float]) => VectorOps.l2(bC.value(cid), v.toArray))
    val scatters = df
      .withColumn("d", dUdf(col(clusterCol).cast("string"), col(vecCol)))
      .groupBy(col(clusterCol)).agg(avg("d").as("s"))
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val ids = agg.keys.toSeq
    val ratios = ids.map { i =>
      ids.filter(_ != i).map { j =>
        (scatters(i) + scatters(j)) / VectorOps.l2(agg(i), agg(j))
      }.max
    }
    ratios.sum / ids.size
  }

  // ------------------------------------------------------------------
  // ARIMA (ml_timeseries.c:105-786): difference d times, OLS AR(p) fit on
  // lag features (window over time), MA terms zero-initialized, recursive
  // forecast on the driver.
  // ------------------------------------------------------------------

  case class ArimaModel(p: Int, d: Int, coeffs: Array[Double], intercept: Double,
                        lastValues: Array[Double], lastOriginal: Array[Double])

  def arimaFit(series: Array[Double], p: Int = 2, d: Int = 1): ArimaModel = {
    require(series.length > p + d + 1, "series too short for ARIMA fit")
    var s = series
    for (_ <- 1 to d) s = s.sliding(2).map(w => w(1) - w(0)).toArray
    // OLS on lag matrix
    val n = s.length - p
    val x = Array.tabulate(n, p)((i, j) => s(i + p - 1 - j))
    val y = Array.tabulate(n)(i => s(i + p))
    val (coef, intercept) = olsFit(x, y)
    ArimaModel(p, d, coef, intercept, s.takeRight(p), series.takeRight(d))
  }

  def arimaForecast(m: ArimaModel, steps: Int): Array[Double] = {
    val hist = scala.collection.mutable.ArrayBuffer(m.lastValues.toSeq: _*)
    val diffs = Array.newBuilder[Double]
    for (_ <- 1 to steps) {
      val next = m.intercept +
        (0 until m.p).map(j => m.coeffs(j) * hist(hist.size - 1 - j)).sum
      diffs += next
      hist += next
    }
    // integrate d times back to the original scale: the last value of the
    // level-k differenced series is the k-th backward difference of the
    // stored original tail (length d), so each integration level seeds its
    // cumulative sum without the model having to store per-level tails
    var out = diffs.result()
    if (m.d > 0) {
      val tails = Iterator.iterate(m.lastOriginal)(
        t => t.sliding(2).map(w => w(1) - w(0)).toArray).take(m.d).toArray
      for (k <- m.d - 1 to 0 by -1) {
        var base = tails(k).last
        out = out.map { dv => base += dv; base }
      }
    }
    out
  }

  /** Tiny dense OLS via normal equations with Gaussian elimination. */
  private def olsFit(x: Array[Array[Double]], y: Array[Double]): (Array[Double], Double) = {
    val n = x.length; val k = x.head.length
    // augment with intercept column
    val a = Array.ofDim[Double](k + 1, k + 1)
    val b = new Array[Double](k + 1)
    for (i <- 0 until n) {
      val row = x(i) :+ 1.0
      for (r <- 0 to k) {
        b(r) += row(r) * y(i)
        for (c <- 0 to k) a(r)(c) += row(r) * row(c)
      }
    }
    // solve a * w = b
    val w = solve(a, b)
    (w.take(k), w(k))
  }

  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (i <- 0 until n) {
      var piv = i
      for (r <- i + 1 until n) if (math.abs(a(r)(i)) > math.abs(a(piv)(i))) piv = r
      val tmp = a(i); a(i) = a(piv); a(piv) = tmp
      val tb = b(i); b(i) = b(piv); b(piv) = tb
      val d = if (a(i)(i) == 0.0) 1e-12 else a(i)(i)
      for (r <- i + 1 until n) {
        val f = a(r)(i) / d
        for (c <- i until n) a(r)(c) -= f * a(i)(c)
        b(r) -= f * b(i)
      }
    }
    val x = new Array[Double](n)
    for (i <- n - 1 to 0 by -1) {
      var s = b(i)
      for (c <- i + 1 until n) s -= a(i)(c) * x(c)
      x(i) = s / (if (a(i)(i) == 0.0) 1e-12 else a(i)(i))
    }
    x
  }
}
