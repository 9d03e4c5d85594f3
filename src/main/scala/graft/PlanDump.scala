package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plan-evidence tool (not part of the driver contract): prints the
  * `explain("formatted")` plan of named INTERNAL operator stages — the
  * stages that query-level explains hide behind eager-checkpoint scans
  * (the AeFixpoint contract materializes results inside the operator,
  * so `plans/<query>_after.txt` shows only a `Scan ExistingRDD`).
  * Usage: `runMain graft.PlanDump <scenario> [sfDir]`. The scenarios
  * reproduce the `_after` files under `plans/r16/`; the `_before` files
  * record stage shapes whose code no longer exists and stay as they
  * were committed. */
object PlanDump {

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
