package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plan-evidence tool (not part of the driver contract): prints the
  * `explain("formatted")` plan of named INTERNAL operator stages — the
  * stages that query-level explains hide behind eager-checkpoint scans
  * (the AeFixpoint contract materializes results inside the operator,
  * so `plans/<query>_after.txt` shows only a `Scan ExistingRDD`).
  * Usage: `runMain graft.PlanDump <scenario> [sfDir]`; the committed
  * files under `plans/r16/` are reproduced by the scenarios below, except
  * `v_distances2_before.txt`, whose boxed distance UDFs no longer exist.
  * Scenarios suffixed `_r15` rebuild the PRE-r16 stage shape inline
  * (copied verbatim from the r15 tree) so before/after pairs come from
  * the same tool on the same box. */
object PlanDump {

  /** One label-propagation round as r15 shaped it: per-(node,label)
    * counts, then a ranking WINDOW (row_number over c DESC, label) to
    * pick the majority label. Verbatim from GraphAnalytics.scala@16e86ec. */
  private def labelPropRoundR15(spark: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(spark, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    val und = operators.GraphAnalytics.undirected(edges)
    val adj = und.select(col("a").as("node"), col("b").as("nb"))
      .union(und.select(col("b").as("node"), col("a").as("nb")))
      .persist()
    val nodes = adj.select(col("node").as("id")).distinct().localCheckpoint(true)
    var lab = nodes.withColumn("label", col("id"))
    for (_ <- 1 to 3) {
      val counts = adj.join(lab.select(col("id").as("nb"), col("label")), "nb")
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node")).orderBy(col("c").desc, col("label"))
      val pick = counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node").as("id"), col("label"))
      lab = nodes.join(pick, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    }
    lab.select(col("id"), col("label").as("community"))
  }

  private def scenarios: Map[String, (SparkSession, String) => DataFrame] = Map(
    // community_labelprop's composed 3-round plan, lazily chained, as the
    // operator builds it today (materialize=false skips only the final
    // eager checkpoint that hides the shape)
    "community_labelprop_rounds" -> { (s, dir) =>
      val edges = operators.Knn.buildKnnGraph(
        Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
      operators.GraphAnalytics.labelPropagation(edges, 3, materialize = false)
    },
    "community_labelprop_rounds_r15" -> (labelPropRoundR15(_, _)),
    // v_distances2 as the registry builds it today (native long-tail
    // expressions, r16) — the query-level plan, no checkpoint to hide it
    "v_distances2" -> { (s, dir) => SparkEntry.queries("v_distances2")(s, dir) }
  )

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.localMeasurement(cpus)
    scenarios(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
