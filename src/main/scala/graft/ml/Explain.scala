package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Explainable-AI surface (SURVEY §2.10 XAI extras): sampling SHAP values
 * and LIME local-linear explanations for any model in the
 * [[UnifiedApi]] registry.
 *
 * Reference: `NeuronDB/src/ml/ml_explainable_ai.c`
 * (`calculate_shap_values` :102-220, `explain_with_lime` :222-356), SQL
 * surface `sql/26_ml_new_algorithms.sql:137-180`. The reference loops
 * `n_samples` model calls per feature on one backend; we materialize the
 * whole perturbation design as a DataFrame and score it with ONE
 * `model.transform` pass — the model is task-broadcast by Spark ML, the
 * perturbations shard across executors, and the contributions come back
 * through a single map-side-combined aggregation. Same estimator, no
 * per-sample round trips.
 *
 * Determinism: the reference seeds with `rand()` (its documented
 * reproducibility bug, SURVEY §7.4); we derive every coin flip / noise
 * value from splitmix64 of (seed, sample, feature), so results are exact
 * across runs, partitionings, and retries.
 */
object Explain {

  /** splitmix64 ([[graft.functions.DetRandom.mix64]]); uniform in [0,1). */
  private[graft] def u01(x: Long): Double =
    (graft.functions.DetRandom.mix64(x) >>> 11) * (1.0 / (1L << 53))

  /**
   * Sampling SHAP (`calculate_shap_values`, ml_explainable_ai.c:144-186):
   * for feature i, over `nSamples` random subsets S of the other features
   * (coin-flip inclusion; excluded features are zeroed — the reference's
   * "missing" baseline), estimate E[f(S ∪ {i}) − f(S)].
   *
   * Plan: one generated DataFrame of dim × nSamples × 2 perturbed rows
   * (`sign` = +1 carries feature i, −1 zeroes it; the shared mask over
   * the other features comes from the (seed, i, j) stream so the pair
   * differs ONLY in feature i), one `transform`, one groupBy(feature).
   *
   * Returns (feature_index, shap_value), dim rows.
   */
  def shapValues(modelId: Long, instance: Array[Float],
                 nSamples: Int = 100, seed: Long = 42L): DataFrame = {
    require(nSamples >= 1, "n_samples must be positive")
    val tm = UnifiedApi.model(modelId)
    val spark = org.apache.spark.sql.SparkSession.active
    val dim = instance.length
    val bx = spark.sparkContext.broadcast(instance)

    val perturb = udf { (i: Int, j: Int, sign: Int) =>
      val x = bx.value
      val out = new Array[Float](x.length)
      var k = 0
      while (k < x.length) {
        out(k) =
          if (k == i) { if (sign > 0) x(k) else 0.0f }
          else if (u01(seed ^ (i.toLong << 40) ^ (j.toLong << 20) ^ k.toLong) < 0.5) x(k)
          else 0.0f
        k += 1
      }
      out.toSeq
    }

    val design = spark.range(dim.toLong * nSamples)
      .select((col("id") / nSamples).cast("int").as("feature_index"),
        (col("id") % nSamples).cast("int").as("sample_id"))
      .crossJoin(spark.range(2).select((col("id") * 2 - 1).cast("int").as("sign")))
      .withColumn(tm.featuresCol,
        perturb(col("feature_index"), col("sample_id"), col("sign")))

    UnifiedApi.predict(modelId, design)
      .groupBy("feature_index")
      .agg((sum(col("sign") * col("prediction")) / nSamples).as("shap_value"))
      .orderBy("feature_index")
  }

  /**
   * LIME (`explain_with_lime`, ml_explainable_ai.c:271-330): perturb the
   * instance with uniform noise in ±0.1 per coordinate, weight samples by
   * the Gaussian kernel exp(−d² / (2·0.5²)), score with the model, and
   * fit the reference's per-coordinate weighted least squares
   *
   *   coef_k = Σ_j w_j · x_jk · f(x_j)  /  Σ_j w_j · x_jk²
   *
   * (no intercept, coordinates independent — mirroring :296-313 exactly,
   * including coef = 0 when the denominator underflows 1e-10).
   *
   * Returns (feature_index, importance), dim rows.
   */
  def limeExplain(modelId: Long, instance: Array[Float],
                  nSamples: Int = 1000, seed: Long = 42L): DataFrame = {
    require(nSamples >= 1, "n_samples must be positive")
    val tm = UnifiedApi.model(modelId)
    val spark = org.apache.spark.sql.SparkSession.active
    val bx = spark.sparkContext.broadcast(instance)

    val perturb = udf { (j: Int) =>
      val x = bx.value
      val out = new Array[Float](x.length)
      var k = 0
      while (k < x.length) {
        out(k) = x(k) + (((u01(seed ^ (j.toLong << 24) ^ k.toLong) - 0.5) * 0.2).toFloat)
        k += 1
      }
      out.toSeq
    }
    val kernelW = udf { (v: Seq[Float]) =>
      val x = bx.value
      var d2 = 0.0
      var k = 0
      while (k < x.length) { val n = v(k) - x(k); d2 += n * n; k += 1 }
      math.exp(-d2 / (2.0 * 0.5 * 0.5))
    }

    val design = spark.range(nSamples.toLong)
      .select(col("id").cast("int").as("sample_id"))
      .withColumn(tm.featuresCol, perturb(col("sample_id")))
      .withColumn("w", kernelW(col(tm.featuresCol)))
      // predict's array→Vector conversion overwrites featuresCol when it
      // is literally named "features"; keep the raw array for the explode
      .withColumn("__x", col(tm.featuresCol))

    UnifiedApi.predict(modelId, design)
      .select(col("w"), col("prediction"),
        posexplode(col("__x")).as(Seq("feature_index", "x")))
      .groupBy("feature_index")
      .agg(sum(col("w") * col("x") * col("prediction")).as("num"),
        sum(col("w") * col("x") * col("x")).as("den"))
      .select(col("feature_index"),
        when(col("den") > 1e-10, col("num") / col("den")).otherwise(0.0).as("importance"))
      .orderBy("feature_index")
  }
}
