package graft
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`). Ends with one
  * `[verify] N failed: <names>` line and exits 1 when N > 0: a query
  * that threw, or an optional subset name that is not a registered query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val only = rest.toSet // optional query-name subset for ad-hoc runs
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.localMeasurement(cpus)
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    val failed = ArrayBuffer.from(only.filterNot(queries.contains))
    failed.foreach(n => System.err.println(s"[verify] $n failed: not a registered query"))
    queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
    if (failed.nonEmpty) sys.exit(1)
  }
}
