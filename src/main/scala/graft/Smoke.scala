package graft

import org.apache.spark.sql.functions.lit

/** Local smoke driver: runs the flagship `entry` query plus a couple of
  * error-contract probes. Mirrors what the round driver smoke-checks. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.localMeasurement("4")

    val e = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + e.count())
    e.show(5, truncate = false)

    // dim-mismatch must raise (NeuronDB/src/core/distance.c:27-36)
    try {
      spark.range(1).select(plans.DistanceExpressions.l2(
        lit(Array(1f, 2f)), lit(Array(1f, 2f, 3f)))).collect()
      println("PROBE_DIM=NO_ERROR")
    } catch {
      case ex: Throwable =>
        val root = Option(ex.getCause).getOrElse(ex)
        println("PROBE_DIM=RAISED " + root.getMessage.take(100))
    }

    val uncovered = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    println("QUERIES=" + SparkEntry.queries.size + " NO_ORACLE=" + uncovered.toSeq.sorted.mkString(","))
    spark.stop()
  }
}
