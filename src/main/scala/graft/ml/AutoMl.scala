package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * MLOps layer over [[UnifiedApi]] (SURVEY §2.10 tail): AutoML, grid /
 * random hyperparameter search, k-fold cross-validation, feature
 * importance, similarity histogram, PCA whitening, topic discovery.
 * Mirrors `neurondb.auto_train` (`neurondb--1.0.sql:6495`,
 * `ml_automl.c`), `neurondb_grid_search`/`neurondb_random_search`
 * (`ml_hyperparameter_tuning.c`), `cross_validate`
 * (`ml_mlops_advanced.c`), `whiten_embeddings` (`ml_pca_whitening.c:36-90`),
 * `discover_topics_simple` (`ml_topic_discovery.c`), `similarity_histogram`
 * (`ml_histogram.c:73`).
 */
object AutoMl {

  /** Deterministic 80/20 split on a hash of the whole row, the test-suite
    * convention (`tests/sql/basic/015_kmeans_basic.sql:71-80`). */
  def trainTestSplit(df: DataFrame, trainFraction: Double = 0.8,
                     seed: Long = 42L): (DataFrame, DataFrame) = {
    val withBucket = df.withColumn("__b",
      pmod(hash(struct(df.columns.map(col).toSeq: _*), lit(seed.toInt)), lit(100)))
    val cut = (trainFraction * 100).toInt
    (withBucket.filter(col("__b") < cut).drop("__b"),
      withBucket.filter(col("__b") >= cut).drop("__b"))
  }

  case class AutoTrainResult(best: UnifiedApi.TrainedModel, bestMetric: Double,
                             leaderboard: Seq[(String, Double)])

  /** `auto_train`: try several algorithms, keep the best by held-out
    * metric (accuracy for classification, r² for regression). */
  def autoTrain(df: DataFrame, featuresCol: String, labelCol: String,
                task: String = "classification",
                algorithms: Seq[String] = Seq.empty): AutoTrainResult = {
    val algos =
      if (algorithms.nonEmpty) algorithms
      else if (task == "classification") Seq("logistic_regression", "decision_tree", "random_forest", "naive_bayes")
      else Seq("linear_regression", "ridge", "decision_tree_regressor", "random_forest_regressor")
    val metricName = if (task == "classification") "accuracy" else "r_squared"
    val (train, test) = trainTestSplit(df)
    val results = algos.map { algo =>
      val tm = UnifiedApi.train(algo, train, featuresCol, Some(labelCol))
      val m = UnifiedApi.evaluate(tm.modelId, test)(metricName)
      (tm, algo, m)
    }
    val best = results.maxBy { case (_, algo, m) => (m, algo) }
    AutoTrainResult(best._1, best._3, results.map(r => (r._2, r._3)).sortBy(-_._2))
  }

  /** `neurondb_grid_search`: exhaustive sweep over a param grid. */
  def gridSearch(df: DataFrame, algorithm: String, featuresCol: String, labelCol: String,
                 grid: Map[String, Seq[String]], metricName: String,
                 higherIsBetter: Boolean = true): (Map[String, String], Double) = {
    val combos = grid.foldLeft(Seq(Map.empty[String, String])) { case (acc, (k, vs)) =>
      for (m <- acc; v <- vs) yield m + (k -> v)
    }
    val (train, test) = trainTestSplit(df)
    val scored = combos.map { params =>
      val tm = UnifiedApi.train(algorithm, train, featuresCol, Some(labelCol), params)
      params -> UnifiedApi.evaluate(tm.modelId, test)(metricName)
    }
    if (higherIsBetter) scored.maxBy(_._2) else scored.minBy(_._2)
  }

  /** `neurondb_random_search`: seeded random subset of the grid. */
  def randomSearch(df: DataFrame, algorithm: String, featuresCol: String, labelCol: String,
                   grid: Map[String, Seq[String]], metricName: String, numTrials: Int,
                   seed: Long = 42L, higherIsBetter: Boolean = true): (Map[String, String], Double) = {
    val rnd = new scala.util.Random(seed)
    val (train, test) = trainTestSplit(df)
    val scored = (1 to numTrials).map { _ =>
      val params = grid.map { case (k, vs) => k -> vs(rnd.nextInt(vs.size)) }
      val tm = UnifiedApi.train(algorithm, train, featuresCol, Some(labelCol), params)
      params -> UnifiedApi.evaluate(tm.modelId, test)(metricName)
    }
    if (higherIsBetter) scored.maxBy(_._2) else scored.minBy(_._2)
  }

  /** Core of `neurondb_bayesian_optimize` (`ml_hyperparameter_tuning.c:598`,
    * acquisition "ei"): the reference ships a deterministic demo sampler; we
    * implement a real GP-free TPE (Bergstra et al. 2011) over the same
    * categorical grid space. After `nStartup` seeded-random trials, each
    * step splits history at the `gamma` quantile into good/bad sets, scores
    * every grid value by the Laplace-smoothed density ratio l(v)/g(v), and
    * evaluates the unseen candidate maximizing the product — classic
    * expected-improvement-proportional selection for categorical TPE.
    * Deterministic under `seed`. Returns (bestParams, bestScore, trials). */
  def tpeOptimize(grid: Map[String, Seq[String]], numTrials: Int, seed: Long = 42L,
                  nStartup: Int = 5, gamma: Double = 0.25, nCandidates: Int = 32)
                 (eval: Map[String, String] => Double)
      : (Map[String, String], Double, Seq[(Map[String, String], Double)]) = {
    require(numTrials >= 1, "numTrials must be positive")
    val rnd = new scala.util.Random(seed)
    val keys = grid.keys.toSeq.sorted
    def randomCombo(): Map[String, String] =
      keys.map(k => k -> grid(k)(rnd.nextInt(grid(k).size))).toMap
    val total = grid.values.map(_.size.toLong).product
    val history = scala.collection.mutable.ArrayBuffer.empty[(Map[String, String], Double)]
    val seen = scala.collection.mutable.Set.empty[Map[String, String]]

    def nextUnseenRandom(): Option[Map[String, String]] = {
      if (seen.size >= total) return None
      var c = randomCombo()
      while (seen(c)) c = randomCombo()
      Some(c)
    }

    def tpeCandidate(): Option[Map[String, String]] = {
      val sortedHist = history.sortBy(-_._2)
      val nGood = math.max(1, math.ceil(gamma * history.size).toInt)
      val (good, bad) = sortedHist.splitAt(nGood)
      // per-param density ratio with Laplace smoothing
      val ratio: Map[String, Map[String, Double]] = keys.map { k =>
        val vals = grid(k)
        k -> vals.map { v =>
          val l = (good.count(_._1(k) == v) + 1.0) / (good.size + vals.size)
          val g = (bad.count(_._1(k) == v) + 1.0) / (bad.size + vals.size)
          v -> l / g
        }.toMap
      }.toMap
      // sample candidates ∝ ratio per param, keep the best unseen by
      // the product score
      def sampleBy(k: String): String = {
        val r = ratio(k)
        val vals = grid(k)
        val totalW = vals.map(r).sum
        var u = rnd.nextDouble() * totalW
        vals.find { v => u -= r(v); u <= 0 }.getOrElse(vals.last)
      }
      val cands = (1 to nCandidates)
        .map(_ => keys.map(k => k -> sampleBy(k)).toMap)
        .filterNot(seen)
      if (cands.isEmpty) nextUnseenRandom()
      else Some(cands.maxBy(c => keys.map(k => math.log(ratio(k)(c(k)))).sum))
    }

    var t = 0
    var exhausted = false
    while (t < numTrials && !exhausted) {
      val pick = if (history.size < nStartup) nextUnseenRandom() else tpeCandidate()
      pick match {
        case Some(params) =>
          seen += params
          history += params -> eval(params)
          t += 1
        case None => exhausted = true
      }
    }
    val best = history.maxBy(_._2)
    (best._1, best._2, history.toSeq)
  }

  /** `neurondb_bayesian_optimize`: TPE over trained-model metrics, same
    * train/eval contract as [[gridSearch]]/[[randomSearch]]. */
  def bayesianSearch(df: DataFrame, algorithm: String, featuresCol: String, labelCol: String,
                     grid: Map[String, Seq[String]], metricName: String, numTrials: Int,
                     seed: Long = 42L, higherIsBetter: Boolean = true): (Map[String, String], Double) = {
    val (train, test) = trainTestSplit(df)
    val sign = if (higherIsBetter) 1.0 else -1.0
    val (params, score, _) = tpeOptimize(grid, numTrials, seed) { p =>
      val tm = UnifiedApi.train(algorithm, train, featuresCol, Some(labelCol), p)
      sign * UnifiedApi.evaluate(tm.modelId, test)(metricName)
    }
    (params, sign * score)
  }

  /** `cross_validate`: k-fold metric mean/stddev. */
  def crossValidate(df: DataFrame, algorithm: String, featuresCol: String, labelCol: String,
                    folds: Int = 5, metricName: String = "accuracy",
                    seed: Long = 42L): (Double, Double) = {
    val bucketed = df.withColumn("__fold",
      pmod(hash(struct(df.columns.map(col).toSeq: _*), lit(seed.toInt)), lit(folds)))
    val metrics = (0 until folds).map { f =>
      val train = bucketed.filter(col("__fold") =!= f).drop("__fold")
      val test = bucketed.filter(col("__fold") === f).drop("__fold")
      val tm = UnifiedApi.train(algorithm, train, featuresCol, Some(labelCol))
      UnifiedApi.evaluate(tm.modelId, test)(metricName)
    }
    val mean = metrics.sum / folds
    val variance = metrics.map(m => (m - mean) * (m - mean)).sum / folds
    (mean, math.sqrt(variance))
  }

  /** `feature_importance` from tree-ensemble models. */
  def featureImportance(modelId: Long): Array[Double] = {
    UnifiedApi.model(modelId).model match {
      case m: org.apache.spark.ml.classification.RandomForestClassificationModel => m.featureImportances.toArray
      case m: org.apache.spark.ml.regression.RandomForestRegressionModel => m.featureImportances.toArray
      case m: org.apache.spark.ml.classification.GBTClassificationModel => m.featureImportances.toArray
      case m: org.apache.spark.ml.regression.GBTRegressionModel => m.featureImportances.toArray
      case m: org.apache.spark.ml.classification.DecisionTreeClassificationModel => m.featureImportances.toArray
      case m: org.apache.spark.ml.regression.DecisionTreeRegressionModel => m.featureImportances.toArray
      case other => throw new IllegalArgumentException(
        s"feature importance unavailable for ${other.getClass.getSimpleName}")
    }
  }

  /** `create_ensemble` (`ml_mlops_advanced.c`): majority vote over several
    * trained classifiers' predictions; ties break toward the lower label. */
  def ensemblePredict(modelIds: Seq[Long], df: DataFrame, idCol: String): DataFrame = {
    require(modelIds.nonEmpty, "ensemble needs at least one model")
    val votes = modelIds.zipWithIndex.map { case (mid, i) =>
      UnifiedApi.predict(mid, df).select(col(idCol), col("prediction").as(s"p_$i"))
    }.reduce(_.join(_, idCol))
    val predCols = modelIds.indices.map(i => col(s"p_$i"))
    val voteArr = array(predCols: _*)
    val majority = udf((ps: Seq[Double]) =>
      ps.groupBy(identity).toSeq.sortBy { case (l, vs) => (-vs.size, l) }.head._1)
    votes.withColumn("prediction", majority(voteArr))
      .select(col(idCol), col("prediction"))
  }

  /** `create_ab_test`: deterministic hash-split traffic routing between
    * two deployed models. */
  def abTestAssign(df: DataFrame, idCol: String, modelA: Long, modelB: Long,
                   fractionA: Double = 0.5, seed: Long = 42L): DataFrame =
    df.withColumn("assigned_model",
      when(pmod(hash(col(idCol), lit(seed.toInt)), lit(100)) < (fractionA * 100).toInt,
        lit(modelA)).otherwise(lit(modelB)))

  /** `similarity_histogram`: bucketed distribution of pairwise cosine
    * similarity to a query (equi-width bins over [-1, 1]). */
  def similarityHistogram(df: DataFrame, vecCol: String, query: Array[Float],
                          bins: Int = 20): DataFrame = {
    val sim = lit(1.0) - graft.operators.Knn.distCol("cosine")(col(vecCol), lit(query))
    // clamp BOTH ends: float error can push sim a hair outside [-1, 1],
    // and an unclamped bottom would emit a spurious bin −1 row
    df.select(greatest(lit(0), least(lit(bins - 1),
        floor((sim + 1.0) / 2.0 * bins))).cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
  }

  /** `whiten_embeddings` (`ml_pca_whitening.c:36-90`): project onto
    * principal axes and scale each by 1/√λ so components have unit
    * variance. */
  def whitenEmbeddings(df: DataFrame, vecCol: String, k: Int,
                       epsilon: Double = 1e-8): DataFrame = {
    import org.apache.spark.ml.feature.{PCA, StandardScaler}
    val featured = df.withColumn("__f", org.apache.spark.ml.functions.array_to_vector(col(vecCol)))
    val pca = new PCA().setK(k).setInputCol("__f").setOutputCol("__p").fit(featured)
    // eigenvalues of the covariance = explainedVariance * total variance;
    // MLlib exposes the proportion, so recover scale from projected variance
    val projected = pca.transform(featured)
    val fromMl = udf((v: org.apache.spark.ml.linalg.Vector, scales: Seq[Double]) =>
      v.toArray.zip(scales).map { case (x, s) => (x * s).toFloat })
    val variances = projected.select(org.apache.spark.ml.stat.Summarizer
      .variance(col("__p")).as("v")).head().getAs[org.apache.spark.ml.linalg.Vector](0)
    val scales = variances.toArray.map(v => 1.0 / math.sqrt(v + epsilon)).toSeq
    projected.withColumn("whitened", fromMl(col("__p"), typedLit(scales)))
      .drop("__f", "__p")
  }

  /** `discover_topics_simple(table, col, k, iters)`: k-means over
    * embeddings, then the per-cluster top terms of the associated texts. */
  def discoverTopics(df: DataFrame, textCol: String, vecCol: String,
                     k: Int = 5, topTerms: Int = 5, seed: Long = 42L): DataFrame = {
    val tm = UnifiedApi.train("kmeans", df, vecCol, None,
      Map("k" -> k.toString, "seed" -> seed.toString))
    val assigned = UnifiedApi.predict(tm.modelId, df)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("prediction").orderBy(col("tf").desc, col("term"))
    assigned
      .select(col("prediction"), explode(graft.functions.TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy("prediction", "term").agg(count(lit(1)).as("tf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topTerms)
      .groupBy(col("prediction").as("topic"))
      .agg(collect_list(col("term")).as("top_terms"))
  }
}
