package graft.ml

import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.ml.classification._
import org.apache.spark.ml.clustering.{BisectingKMeans, GaussianMixture, KMeans}
import org.apache.spark.ml.evaluation.{ClusteringEvaluator, MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.ml.regression._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Unified ML API (SURVEY §2.10): `train(algorithm, df, featuresCol,
 * labelCol, params)` → model id in a catalog; `predict(modelId, df)`;
 * `evaluate(modelId, df)` → metric map.
 *
 * Mirrors the reference dispatcher `neurondb.train`
 * (`NeuronDB/neurondb--1.0.sql:4795-4908`; C `neurondb_train`
 * `src/ml/ml_unified_api.c:52`, algorithm mapping `:569-617`) and the
 * catalog `neurondb.ml_models` (`neurondb--1.0.sql:3421-3455`). Where the
 * reference hand-rolls single-node C (its "xgboost"/"catboost"/"lightgbm"
 * are in-house gradient boosters, `ml_xgboost.c`), we dispatch to the
 * MLlib estimator with the same semantics — distributed training is the
 * point of the re-architecture (SURVEY §3.3 Spark shape).
 *
 * All estimators take an explicit `seed` param (default 42) — the
 * reference's `rand()` seeding is a documented reproducibility bug
 * (SURVEY §7.4).
 */
object UnifiedApi {

  case class TrainedModel(modelId: Long, algorithm: String, params: Map[String, String],
                          model: Transformer, metrics: Map[String, Double],
                          featuresCol: String, labelCol: Option[String])

  /** In-memory model registry; persisted via [[ModelCatalog]]. */
  private val registry = scala.collection.concurrent.TrieMap.empty[Long, TrainedModel]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)

  def model(id: Long): TrainedModel =
    registry.getOrElse(id, throw new NoSuchElementException(s"no model with id $id"))

  /** Fixed-coefficient linear scorer: prediction = b + Σ wₖ·xₖ with
    * LEFT-TO-RIGHT summation, so the exact IEEE result is reproducible by
    * any external auditor (the DuckDB oracle replays the same fold). */
  private class FixedLinear(val w: Array[Double], val b: Double)
      extends Transformer {
    override val uid: String = org.apache.spark.ml.util.Identifiable.randomUID("fixedLinear")
    override def transform(df: org.apache.spark.sql.Dataset[_]): DataFrame = {
      val wts = w
      val bias = b
      val pred = udf((v: org.apache.spark.ml.linalg.Vector) => {
        var s = bias
        var k = 0
        while (k < wts.length) { s += wts(k) * v(k); k += 1 }
        s
      })
      df.withColumn("prediction", pred(col("features")))
    }
    override def transformSchema(schema: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType =
      schema.add("prediction", org.apache.spark.sql.types.DoubleType)
    override def copy(extra: org.apache.spark.ml.param.ParamMap): FixedLinear = this
  }

  /** Deploy a model with KNOWN coefficients into the registry — the
    * model-import face of the reference's versioning/deploy surface
    * (`neurondb.ml_models` rows carry serialized params;
    * `neurondb--1.0.sql:961-1012`). Unlike [[train]], nothing is fitted:
    * the scorer is the pure closed form, which makes every downstream
    * pipeline over it (SHAP, LIME, ensembles) independently verifiable. */
  def registerLinear(weights: Array[Double], intercept: Double,
                     featuresCol: String): TrainedModel = {
    val id = nextId.getAndIncrement()
    val tm = TrainedModel(id, "fixed_linear",
      Map("intercept" -> intercept.toString),
      new FixedLinear(weights, intercept), Map.empty, featuresCol, None)
    registry(id) = tm
    tm
  }

  /** `neurondb.list_algorithms()` (`neurondb--1.0.sql:5040-5071`). */
  def listAlgorithms: Seq[String] = Seq(
    "linear_regression", "ridge", "lasso", "elastic_net", "logistic_regression",
    "svm", "decision_tree", "decision_tree_regressor", "random_forest",
    "random_forest_regressor", "naive_bayes", "knn_classify", "knn_regress",
    "xgboost", "catboost", "lightgbm", "gbt_regressor", "neural_network",
    "kmeans", "minibatch_kmeans", "gmm", "hierarchical", "dbscan", "pca",
    "collaborative_filter", "arima", "zscore_outliers", "isolation_forest")

  private def toFeatures(df: DataFrame, featuresCol: String): DataFrame =
    df.withColumn("features", org.apache.spark.ml.functions.array_to_vector(col(featuresCol)))

  private def p(params: Map[String, String], key: String, dflt: Double): Double =
    params.get(key).map(_.toDouble).getOrElse(dflt)
  private def pi(params: Map[String, String], key: String, dflt: Int): Int =
    params.get(key).map(_.toInt).getOrElse(dflt)

  /**
   * Train `algorithm` on `df`. `featuresCol` is an `array<float>` column;
   * `labelCol` is required for supervised algorithms. Params are
   * string-typed like the reference's JSONB params.
   */
  def train(algorithm: String, df: DataFrame, featuresCol: String,
            labelCol: Option[String] = None,
            params: Map[String, String] = Map.empty): TrainedModel = {
    val seed = pi(params, "seed", 42)
    // lazy: DataFrame analysis is eager, and ALS frames (user,item,rating)
    // legitimately carry no features column to convert
    lazy val featured = toFeatures(df, featuresCol)
    lazy val labeled = labelCol.map(l => featured.withColumn("label", col(l).cast("double")))

    def needLabel: DataFrame = labeled.getOrElse(
      throw new IllegalArgumentException(s"$algorithm requires a label column"))

    val m: Transformer = algorithm match {
      case "linear_regression" =>
        new LinearRegression().setSolver("normal")
          .setRegParam(p(params, "regularization", 0.0)).fit(needLabel)
      case "ridge" =>
        new LinearRegression().setSolver("normal").setElasticNetParam(0.0)
          .setRegParam(p(params, "alpha", 1.0)).fit(needLabel)
      case "lasso" =>
        new LinearRegression().setElasticNetParam(1.0)
          .setRegParam(p(params, "alpha", 0.1)).fit(needLabel)
      case "elastic_net" =>
        new LinearRegression().setElasticNetParam(p(params, "l1_ratio", 0.5))
          .setRegParam(p(params, "alpha", 0.1)).fit(needLabel)
      case "logistic_regression" =>
        new LogisticRegression().setMaxIter(pi(params, "max_iterations", 100))
          .setRegParam(p(params, "regularization", 0.0)).fit(needLabel)
      case "svm" =>
        new LinearSVC().setMaxIter(pi(params, "iterations", 100))
          .setRegParam(p(params, "c", 1.0)).fit(needLabel)
      case "decision_tree" =>
        new DecisionTreeClassifier().setMaxDepth(pi(params, "max_depth", 5))
          .setSeed(seed).fit(needLabel)
      case "decision_tree_regressor" =>
        new DecisionTreeRegressor().setMaxDepth(pi(params, "max_depth", 5))
          .setSeed(seed).fit(needLabel)
      case "random_forest" =>
        new RandomForestClassifier().setNumTrees(pi(params, "n_trees", 20))
          .setMaxDepth(pi(params, "max_depth", 5)).setSeed(seed).fit(needLabel)
      case "random_forest_regressor" =>
        new RandomForestRegressor().setNumTrees(pi(params, "n_trees", 20))
          .setMaxDepth(pi(params, "max_depth", 5)).setSeed(seed).fit(needLabel)
      case "naive_bayes" =>
        // reference is Gaussian NB (ml_naive_bayes.c); MLlib gaussian modelType
        new NaiveBayes().setModelType("gaussian").fit(needLabel)
      case "xgboost" | "catboost" | "lightgbm" =>
        new GBTClassifier().setMaxIter(pi(params, "n_rounds", 20))
          .setMaxDepth(pi(params, "max_depth", 5)).setStepSize(p(params, "eta", 0.1))
          .setSeed(seed).fit(needLabel)
      case "gbt_regressor" =>
        new GBTRegressor().setMaxIter(pi(params, "n_rounds", 20))
          .setMaxDepth(pi(params, "max_depth", 5)).setSeed(seed).fit(needLabel)
      case "neural_network" =>
        val dim = featured.select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0).size
        // MLP wants labels in [0, numClasses): size by max+1, not by the
        // distinct count (labels {0, 2} would otherwise build a 2-class
        // head and fail on label 2.0 mid-fit)
        val classes = needLabel.agg(max("label")).head().getDouble(0).toInt + 1
        val hidden = params.getOrElse("hidden_layers", "16").split(",").map(_.trim.toInt)
        new MultilayerPerceptronClassifier()
          .setLayers(Array(dim) ++ hidden ++ Array(classes))
          .setMaxIter(pi(params, "epochs", 100)).setSeed(seed).fit(needLabel)
      case "kmeans" | "minibatch_kmeans" =>
        new KMeans().setK(pi(params, "k", 5))
          .setMaxIter(pi(params, "max_iterations", 20)).setSeed(seed).fit(featured)
      case "gmm" =>
        new GaussianMixture().setK(pi(params, "k", 3)).setSeed(seed).fit(featured)
      case "hierarchical" =>
        new BisectingKMeans().setK(pi(params, "k", 3)).setSeed(seed).fit(featured)
      case "pca" =>
        new PCA().setK(pi(params, "n_components", 2))
          .setInputCol("features").setOutputCol("pca_features").fit(featured)
      case "collaborative_filter" =>
        // expects (user, item, rating) columns instead of features
        new ALS().setUserCol(params.getOrElse("user_col", "user"))
          .setItemCol(params.getOrElse("item_col", "item"))
          .setRatingCol(params.getOrElse("rating_col", "rating"))
          .setRank(pi(params, "factors", 10)).setMaxIter(pi(params, "iterations", 10))
          .setSeed(seed).fit(df)
      case "knn_classify" | "knn_regress" =>
        throw new IllegalArgumentException(
          s"$algorithm is transductive — call ml.Extras.knnClassify/knnRegress directly")
      case "dbscan" =>
        throw new IllegalArgumentException(
          "dbscan is transductive — call ml.Dbscan.fit directly")
      case "arima" =>
        throw new IllegalArgumentException(
          "arima fits an ordered series — call ml.Extras.arimaFit/arimaForecast")
      case "zscore_outliers" =>
        throw new IllegalArgumentException(
          "zscore_outliers is a scan, not a model — call ml.Extras.zscoreOutliers")
      case "isolation_forest" =>
        throw new IllegalArgumentException(
          "isolation_forest — call ml.IsolationForest.fit/score directly")
      case other =>
        throw new IllegalArgumentException(
          s"unknown algorithm: $other (see listAlgorithms)")
    }

    val id = nextId.getAndIncrement()
    val tm = TrainedModel(id, algorithm, params, m, Map.empty, featuresCol, labelCol)
    registry(id) = tm
    tm
  }

  /** `neurondb.predict(model_id, features)` (`neurondb--1.0.sql:4921-4971`).
    * ALS scores (user, item) frames directly — it never had a vector
    * features column to convert. */
  def predict(modelId: Long, df: DataFrame): DataFrame = {
    val tm = model(modelId)
    if (tm.algorithm == "collaborative_filter") tm.model.transform(df)
    else tm.model.transform(toFeatures(df, tm.featuresCol))
  }

  /** `neurondb.evaluate` → metric map (`neurondb--1.0.sql:5030-5038`;
    * metric schema per `tests/sql/basic/015_kmeans_basic.sql:41-69`). */
  def evaluate(modelId: Long, df: DataFrame): Map[String, Double] = {
    val tm = model(modelId)
    val withLabel = tm.labelCol match {
      case Some(l) => df.withColumn("label", col(l).cast("double"))
      case None    => df
    }
    val scored = predict(modelId, withLabel)
    tm.algorithm match {
      case "linear_regression" | "ridge" | "lasso" | "elastic_net" |
           "decision_tree_regressor" | "random_forest_regressor" | "gbt_regressor" =>
        def reg(metric: String): Double =
          new RegressionEvaluator().setMetricName(metric).evaluate(scored)
        Map("mse" -> reg("mse"), "rmse" -> reg("rmse"), "mae" -> reg("mae"), "r_squared" -> reg("r2"))
      case "logistic_regression" | "svm" | "decision_tree" | "random_forest" |
           "naive_bayes" | "xgboost" | "catboost" | "lightgbm" | "neural_network" =>
        def cls(metric: String): Double =
          new MulticlassClassificationEvaluator().setMetricName(metric).evaluate(scored)
        Map("accuracy" -> cls("accuracy"), "precision" -> cls("weightedPrecision"),
          "recall" -> cls("weightedRecall"), "f1_score" -> cls("f1"))
      case "kmeans" | "minibatch_kmeans" | "gmm" | "hierarchical" =>
        val silhouette = new ClusteringEvaluator().evaluate(scored)
        val inertia = tm.model match {
          case km: org.apache.spark.ml.clustering.KMeansModel =>
            km.summary.trainingCost
          case _ => Double.NaN
        }
        Map("silhouette_score" -> silhouette, "inertia" -> inertia)
      case other =>
        throw new IllegalArgumentException(s"evaluate not supported for $other")
    }
  }

  /** Metrics map → the reference's JSONB metric payload. NaN/Infinity
    * serialize as null — interpolating them raw would emit invalid JSON
    * (gmm/hierarchical inertia is NaN by contract). */
  def metricsJson(metrics: Map[String, Double]): String =
    metrics.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        val jv = if (v.isNaN || v.isInfinite) "null" else v.toString
        s""""$k":$jv"""
      }.mkString("{", ",", "}")
}
