package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/**
 * k-NN / similarity-join operators (SURVEY §2.5).
 *
 * Exact top-k re-expresses the reference's `ORDER BY embedding <-> q LIMIT
 * k` index scan (`NeuronDB/src/index/hnsw_am.c:905-1055`): Spark plans
 * `orderBy(dist).limit(k)` as `TakeOrderedAndProject` — each partition
 * keeps a local k-heap and the driver merges partition winners, which is
 * exactly the reference's `distributed_knn_search` + `merge_distributed_
 * results` scatter-gather (`NeuronDB/neurondb--1.0.sql:3843-3869`) done by
 * the engine itself. No shuffle of the full table, no full sort: the
 * per-partition heap is the ONLY state, so this holds at 100 TB — cost is
 * one scan + k rows per partition to the driver.
 */
object Knn {

  /** The native distance node ([[graft.plans.DistanceExpr]]) of the
    * metric named `metric`, one of the aliases in [[graft.plans.Metric]]
    * (`l2`, `cosine`, `ip`, `l1`, `hamming`, …). */
  def distCol(metric: String)(a: Column, b: Column): Column =
    graft.plans.DistanceExpressions.dist(graft.plans.Metric(metric))(a, b)

  /** Exact brute-force top-k: one scan, per-partition heap, driver merge.
    * `tieBreak` columns pin the order among equal distances — essential
    * when distances are quantized and exact ties are common. */
  def search(df: DataFrame, vecCol: String, query: Array[Float], k: Int = 10,
             metric: String = "l2", distName: String = "distance",
             tieBreak: Seq[String] = Nil): DataFrame = {
    graft.Metrics.inc(df.sparkSession, graft.Metrics.QueriesTotal)
    // asc_nulls_last: a null-vector row yields a null distance (the
    // distance expressions are STRICT), and Spark's default ascending
    // order is NULLS FIRST — without this, one null embedding in the
    // corpus becomes every query's "nearest" neighbor
    df.withColumn(distName, distCol(metric)(col(vecCol), lit(query)))
      .orderBy((col(distName).asc_nulls_last +: tieBreak.map(col)).toSeq: _*)
      .limit(k)
  }

  /** Per-facet top-k, the reference's `faceted_vector_search`
    * (`NeuronDB/neurondb--1.0.sql:791`): window rank within facet. */
  def searchFaceted(df: DataFrame, vecCol: String, facetCol: String,
                    query: Array[Float], kPerFacet: Int, metric: String = "l2",
                    tieBreak: Seq[String] = Nil): DataFrame = {
    val d = distCol(metric)(col(vecCol), lit(query))
    val w = Window.partitionBy(col(facetCol))
      .orderBy((col("distance").asc_nulls_last +: tieBreak.map(col)).toSeq: _*)
    df.withColumn("distance", d)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kPerFacet)
  }

  /**
   * Vector similarity join, the reference's `vec_join`
   * (`NeuronDB/neurondb--1.0.sql:4450-4460`, C impl
   * `NeuronDB/src/core/operators.c:535-742`): pairs within a distance
   * threshold, optionally top-k per left row.
   *
   * Scale shape: the right side is broadcast when it fits (dimension
   * tables, centroid sets); for large×large use [[Ivf.join]] which blocks
   * the cross product by coarse cluster so only same-cluster pairs are
   * materialized.
   */
  def vecJoin(left: DataFrame, right: DataFrame, leftCol: String, rightCol: String,
              metric: String = "l2", threshold: Double = Double.MaxValue,
              kPerLeft: Int = Int.MaxValue, broadcastRight: Boolean = true,
              tieBreak: Seq[String] = Nil): DataFrame = {
    val l0 = left.select(left.columns.map(c => col(c).as(s"l_$c")).toSeq: _*)
    // per-ROW id for the k-cut window: partitioning by the left VALUES
    // would collapse duplicate left rows into one k-budget (and break on
    // non-orderable column types like maps). RowIds.withStableId, not
    // monotonically_increasing_id: the window shuffles on this id, so it
    // must replay identically if a map task recomputes (SPARK-23207).
    val l = if (kPerLeft != Int.MaxValue)
      RowIds.withStableId(l0, "__lid") else l0
    val r0 = right.select(right.columns.map(c => col(c).as(s"r_$c")).toSeq: _*)
    val r = if (broadcastRight) broadcast(r0) else r0
    var joined = l.crossJoin(r)
      .withColumn("distance", distCol(metric)(col(s"l_$leftCol"), col(s"r_$rightCol")))
      .filter(col("distance") <= threshold)
    if (kPerLeft != Int.MaxValue) {
      // tieBreak names right-side columns (pre-prefix) that pin the order
      // among equal distances — required for deterministic k cuts
      val ord = (col("distance") +: tieBreak.map(c => col(s"r_$c"))).toSeq
      val w = Window.partitionBy(col("__lid")).orderBy(ord: _*)
      joined = joined.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= kPerLeft).drop("rank")
    }
    joined.drop("__lid")
  }

  /** Materialize the k-NN graph of a table, the reference's
    * `build_knn_graph` (`NeuronDB/src/ml/analytics.c:1286`): top-k
    * neighbors per node via self-join + window. */
  def buildKnnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    metric: String = "l2", broadcastRight: Boolean = true): DataFrame = {
    val l = df.select(col(idCol).as("src"), col(vecCol).as("src_vec"))
    val r0 = df.select(col(idCol).as("dst"), col(vecCol).as("dst_vec"))
    val r = if (broadcastRight) broadcast(r0) else r0
    val w = Window.partitionBy(col("src")).orderBy(col("distance").asc_nulls_last, col("dst"))
    l.crossJoin(r)
      .filter(col("src") =!= col("dst"))
      .withColumn("distance", distCol(metric)(col("src_vec"), col("dst_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("dst"), col("distance"), col("rank"))
  }

  /**
   * Graph-constrained k-NN, the reference's `graph_knn`
   * (`NeuronDB/src/core/operators.c:743-949`): nodes reachable from
   * `startIds` within `maxHops` BFS hops over `edges(src,dst)`, ranked by
   * distance to the query. Iterative joins — `maxHops` is small by
   * construction; each hop is one shuffle join on dst.
   */
  def graphKnn(nodes: DataFrame, edges: DataFrame, idCol: String, vecCol: String,
               startIds: Seq[Long], query: Array[Float], k: Int, maxHops: Int,
               metric: String = "l2"): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    var frontier = startIds.toDF(idCol)
    var visited = frontier
    for (_ <- 1 to maxHops) {
      frontier = frontier.join(edges, frontier(idCol) === edges("src"))
        .select(col("dst").as(idCol)).distinct()
        .join(visited, Seq(idCol), "left_anti")
      visited = visited.union(frontier).distinct()
    }
    search(nodes.join(visited, Seq(idCol)), vecCol, query, k, metric)
  }

  /** Nearest-centroid routing, the reference's `vec_route`
    * (`NeuronDB/src/core/operators.c:1155-1228`): L2 argmin over a small
    * centroid array, driver-side ([[Ivf.nearestCentroid]]). */
  def vecRoute(query: Array[Float], centroids: Array[Array[Float]]): Int = {
    require(centroids.nonEmpty, "vec_route requires at least one centroid")
    Ivf.nearestCentroid(query, centroids)._1
  }

  /** Distance-ranked window within partitions — the semantics
    * `vec_window_rank` stubs out in the reference
    * (`NeuronDB/src/core/operators.c:1112-1150`), done properly. */
  def windowRank(df: DataFrame, partCol: String, vecCol: String,
                 query: Array[Float], metric: String = "l2"): DataFrame = {
    val w = Window.partitionBy(col(partCol)).orderBy(col("distance").asc_nulls_last)
    df.withColumn("distance", distCol(metric)(col(vecCol), lit(query)))
      .withColumn("rank", row_number().over(w))
  }
}
