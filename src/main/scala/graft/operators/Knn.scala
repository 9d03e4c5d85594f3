package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType


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

  /** One exact neighbour of a query: its id, its distance (`None` for a
    * null vector; −0.0 reads as 0.0) and the corpus row's non-vector
    * columns. */
  private[graft] case class Neighbor(id: Long, distance: Option[Double], row: Row)

  /**
   * Exact top-k of a whole query set in ONE scan: the recall truth of
   * [[Ivf.recallCurve]], [[Hnsw.recallCurve]], their tuners and the
   * recall reports. Each task reads a row's vector once
   * ([[graft.plans.DistanceExpressions.reader]]), runs the metric's
   * kernel against every query, and keeps a bounded heap of k rows per
   * query; the driver merges the at most k rows each task emits per
   * query. One Spark job, with no UDF, broadcast, shuffle or window —
   * the queries ride in the task closure.
   *
   * The order is [[search]]'s with `tieBreak = Seq(idCol)`: distance,
   * then id, and a null vector after every distance (`asc_nulls_last`).
   * A row with a null id is skipped, and `excludeSelf` skips the rows
   * whose id is the query's. Returns each query id's neighbours, nearest
   * first.
   */
  private[graft] def exactTopK(corpus: DataFrame, idCol: String, vecCol: String,
                               queries: Array[(Long, Array[Float])], k: Int,
                               metric: String = "l2",
                               excludeSelf: Boolean = false): Map[Long, Seq[Neighbor]] = {
    require(k >= 1, s"k must be positive: $k")
    val kernel = graft.plans.Metric(metric).arrayKernel
    val input = corpus.select(col(idCol).cast("long"), col(vecCol),
      struct(corpus.columns.filter(_ != vecCol).map(col).toSeq: _*))
    val read = graft.plans.DistanceExpressions.reader(input.schema(1).dataType, 1, "corpus")
    val restType = input.schema(2).dataType.asInstanceOf[StructType]
    val (qids, qvecs) = queries.unzip
    val top = input.queryExecution.toRdd.mapPartitions { rows =>
      // per query: a heap of the k nearest distances and one of the k
      // lowest-id null vectors, each heap node a slot of kept rows
      val heaps = Array.fill(qids.length, 2)(new Hnsw.Heap(nearestFirst = false))
      val kept = Array.fill(qids.length, 2, k)(null: InternalRow)
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          val id = r.getLong(0)
          val v = read(r)
          var rest: InternalRow = null
          var i = 0
          while (i < qids.length) {
            if (!(excludeSelf && qids(i) == id)) {
              val n = if (v == null) 1 else 0
              val h = heaps(i)(n)
              // + 0.0 turns −0.0 into 0.0, which the heap's
              // Double.compare would otherwise order first
              val d = if (v == null) 0.0 else kernel(qvecs(i), v) + 0.0
              val c = if (h.size < k) -1 else java.lang.Double.compare(d, h.headDist)
              if (c < 0 || (c == 0 && id < h.headId)) {
                if (rest == null) rest = r.getStruct(2, restType.length).copy()
                val slot = if (h.size < k) h.size else { val s = h.headNode; h.pop(); s }
                kept(i)(n)(slot) = rest
                h.push(d, slot, id)
              }
            }
            i += 1
          }
        }
      }
      qids.indices.iterator.flatMap { i =>
        val Seq(near, far) = Seq(0, 1).map { n =>
          val h = heaps(i)(n)
          Seq.fill(h.size) {
            val e = (qids(i), Option.when(n == 0)(h.headDist), h.headId, kept(i)(n)(h.headNode))
            h.pop(); e
          }.reverse
        }
        near ++ far.take(k - near.size)
      }
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(restType)
    val found = top.collect().groupBy(_._1)
    qids.map { qid =>
      qid -> found.getOrElse(qid, Array.empty).toSeq
        .map { case (_, d, id, rest) => Neighbor(id, d, toRow(rest).asInstanceOf[Row]) }
        .sortBy(n => (n.distance.isEmpty, n.distance.getOrElse(0.0), n.id))(
          Ordering.Tuple3(Ordering.Boolean, Ordering.Double.TotalOrdering, Ordering.Long))
        .take(k)
    }.toMap
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
