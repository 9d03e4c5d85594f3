package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.{DoubleAccumulator, LongAccumulator}

/**
 * Monitoring surface (SURVEY §2.11 row 117): the `pg_stat_neurondb()`
 * stats table and the Prometheus exposition endpoint, re-expressed on
 * Spark accumulators.
 *
 * Reference: `NeuronDB/src/metrics/pg_stat_neurondb.c` (shared-memory
 * counters + `pg_stat_neurondb()` / `pg_neurondb_stat_reset()`,
 * SQL `neurondb--1.0.sql:4421-4434`) and
 * `src/metrics/prometheus.c:386-460` (HELP/TYPE exposition format).
 *
 * Spark shape: each named counter is a registered `LongAccumulator`, so
 * increments from EXECUTOR-side code (inside scans and searches) merge
 * into the driver automatically at task completion — the same role the
 * reference's shared-memory segment plays across backends. Reads are
 * driver-local and free; nothing here adds a job or a shuffle.
 */
object Metrics {

  private val counters = scala.collection.concurrent.TrieMap.empty[String, LongAccumulator]
  private val timers = scala.collection.concurrent.TrieMap.empty[String, DoubleAccumulator]

  /** Counter names mirroring pg_stat_neurondb()'s columns. The engine's
    * executor-side counters — `VectorsIndexed` (rows an HNSW build or
    * rebuild task indexes) and `CacheHits`/`CacheMisses` (HNSW graph-cache
    * lookups) — count work each time it runs: a frame evaluated twice,
    * or a task retried, counts twice. */
  val QueriesTotal = "queries_total"
  val VectorsIndexed = "vectors_indexed"
  val CacheHits = "cache_hits"
  val CacheMisses = "cache_misses"
  val QuerySeconds = "query_seconds_total"

  def counter(spark: SparkSession, name: String): LongAccumulator =
    counters.getOrElseUpdate(name, spark.sparkContext.longAccumulator(s"graft.$name"))

  def timer(spark: SparkSession, name: String): DoubleAccumulator =
    timers.getOrElseUpdate(name, spark.sparkContext.doubleAccumulator(s"graft.$name"))

  def inc(spark: SparkSession, name: String, n: Long = 1L): Unit =
    counter(spark, name).add(n)

  /** Time a driver-side block. Under the default name the elapsed time
    * lands in `QuerySeconds` (whose mean `stats()` reports over
    * `QueriesTotal`); a CUSTOM name gets its own `<name>_seconds` timer —
    * folding e.g. an index build into QuerySeconds would corrupt
    * avg_query_time_ms, which divides by query count only. */
  def timed[T](spark: SparkSession, name: String = QueriesTotal)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      inc(spark, name)
      val timerName = if (name == QueriesTotal) QuerySeconds else s"${name}_seconds"
      timer(spark, timerName).add((System.nanoTime() - t0) / 1e9)
    }
  }

  /** `pg_stat_neurondb()` (pg_stat_neurondb.c:100-180): one row of the
    * core gauges, plus any extra registered counters as (metric, value)
    * rows via [[allStats]]. */
  def stats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val q = counters.get(QueriesTotal).map(_.value.longValue).getOrElse(0L)
    val secs = timers.get(QuerySeconds).map(_.value.doubleValue).getOrElse(0.0)
    Seq((
      counters.get(VectorsIndexed).map(_.value.longValue).getOrElse(0L),
      q,
      counters.get(CacheHits).map(_.value.longValue).getOrElse(0L),
      counters.get(CacheMisses).map(_.value.longValue).getOrElse(0L),
      if (q > 0) (secs * 1000.0 / q).toFloat else 0.0f
    )).toDF("vectors_indexed", "queries_total", "cache_hits", "cache_misses",
      "avg_query_time_ms")
  }

  /** Every registered counter/timer as (metric, value) rows. */
  def allStats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (counters.toSeq.map { case (n, a) => (n, a.value.doubleValue) } ++
      timers.toSeq.map { case (n, a) => (n, a.value.doubleValue) })
      .sortBy(_._1).toDF("metric", "value")
  }

  /** Prometheus exposition format (prometheus.c:386-460): HELP/TYPE
    * preamble per metric, `graft_` namespace. */
  def prometheusText: String = {
    val sb = new StringBuilder
    def emit(name: String, kind: String, help: String, value: Double): Unit = {
      sb.append(s"# HELP graft_$name $help\n")
      sb.append(s"# TYPE graft_$name $kind\n")
      val v = if (value == value.toLong.toDouble) value.toLong.toString else value.toString
      sb.append(s"graft_$name $v\n")
    }
    counters.toSeq.sortBy(_._1).foreach { case (n, a) =>
      emit(n, "counter", s"Total $n", a.value.doubleValue)
    }
    // counter, not summary: a bare base-name sample is not a valid
    // summary series (those need quantile/_sum/_count children) and
    // OpenMetrics-strict scrapers reject it; these are plain cumulative
    // totals
    timers.toSeq.sortBy(_._1).foreach { case (n, a) =>
      emit(n, "counter", s"Aggregate $n", a.value.doubleValue)
    }
    sb.result()
  }

  /** `pg_neurondb_stat_reset()` (pg_stat_neurondb.c:184-195). */
  def reset(): Unit = {
    counters.values.foreach(_.reset())
    timers.values.foreach(_.reset())
  }
}
