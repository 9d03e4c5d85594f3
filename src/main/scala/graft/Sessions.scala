package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe shared by every main (Verify, Bench,
  * ScaleBench, QueryProbe, CellProbe, PlanDump, Smoke, RecallAtScale,
  * MaintenanceDrift): a config drift between them would make the
  * variance probe measure a differently-planned query than the
  * benchmark it explains, or the correctness gate check a plan the
  * benchmark never runs. Adaptive execution is on in all of them, the
  * correctness gate included, as Spark's default. `events.parquet`
  * carries TIMESTAMP(NANOS), read as long nanoseconds. */
object Sessions {
  def localMeasurement(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
