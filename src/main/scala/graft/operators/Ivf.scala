package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.plans.{DistanceExpressions, InInts}

/**
 * IVF (inverted-file) ANN index, the Spark-native answer to the
 * reference's `ivf` access method (`NeuronDB/src/index/ivf_am.c`:
 * k-means build `:371-376`, nprobe probe `ivfrescan:1440-1505`,
 * defaults nlists=100 / nprobe=10 `:54-55`).
 *
 * Build: MLlib KMeans (k-means|| seeding, explicit seed so results are
 * reproducible — the reference's `rand()` seeding is a documented
 * non-goal, SURVEY §7.4) assigns every row a `cluster_id`. The assigned
 * table is repartitioned by cluster so each posting list is co-located —
 * on a real cluster this would be written bucketed-by-cluster so probes
 * prune at the file level.
 *
 * Search: route the query to the `nprobe` nearest centroids driver-side
 * (tiny argmin over nlists rows), filter the assigned table to those
 * clusters — Catalyst pushes the `cluster_id IN (...)` filter
 * ([[inLists]]) to the scan — then exact top-k over the surviving
 * ~nprobe/nlists fraction of rows.
 * `nprobe = nlists` probes everything, so it must equal brute force
 * exactly (BASELINE.md's recall convention).
 *
 * A single global pointer-chasing HNSW graph is the wrong shape for a
 * distributed scan engine (SURVEY §7.4); IVF covers the batch ANN
 * contract with file-level pruning, and [[Hnsw]] provides the
 * reference's graph index as shard-local graphs for low-latency serving.
 */
object Ivf {

  case class IvfModel(
      centroids: Array[Array[Float]],
      assigned: DataFrame, // original columns + cluster_id
      vecCol: String) {

    /** Nearest-centroid ids for a query, closest first ([[probeOrder]]). */
    def route(query: Array[Float], nprobe: Int): Seq[Int] =
      probeOrder(centroidDistances(query, centroids)).take(math.max(1, nprobe)).toSeq

    /** ANN top-k: probe nprobe posting lists, exact rescore inside them.
      * Routing and the posting lists themselves are L2-k-means; a
      * non-L2 `metric` rescore is legitimate but its recall rides the
      * same nprobe dial as [[Ivf.join]] (measured by `ivf_join_recall`)
      * — only `nprobe = nlists` is metric-independently exact. */
    def search(query: Array[Float], k: Int = 10, nprobe: Int = 10,
               metric: String = "l2"): DataFrame =
      Knn.search(assigned.filter(inLists(route(query, nprobe))), vecCol, query, k, metric)
  }

  /** Each centroid's L2 distance from `q`, by centroid id: what every
    * nearest-centroid route ranks. */
  private[graft] def centroidDistances(q: Array[Float], centroids: Array[Array[Float]]): Array[Double] =
    centroids.map(VectorOps.l2(q, _))

  /** The nearest centroid to `q` and its L2 distance: a strict `<` scan
    * from `Double.MaxValue`, so ties go to the lower id, and a query
    * whose every distance is NaN or infinite goes to centroid 0 at
    * `Double.MaxValue`. The argmin of [[routeWithDist]] and
    * [[Knn.vecRoute]]. */
  private[graft] def nearestCentroid(q: Array[Float], centroids: Array[Array[Float]]): (Int, Double) = {
    var best = 0; var bestD = Double.MaxValue; var i = 0
    while (i < centroids.length) {
      val d = VectorOps.l2(q, centroids(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    (best, bestD)
  }

  /** Centroid ids nearest first by their [[centroidDistances]]: a stable
    * sort in the total double order, so ties go to the lower id. The
    * probe order of [[IvfModel.route]], [[join]] and [[knnJoin]]. */
  private[graft] def probeOrder(dists: Array[Double]): Array[Int] =
    dists.indices.sortBy(dists(_))(Ordering.Double.TotalOrdering).toArray

  /** The rows of the listed posting lists: `cluster_id IN (lists)` as an
    * [[graft.plans.InInts]], so each probe set reuses the compiled code of
    * the last; on the partitioned layouts it prunes to the lists' files. */
  private[operators] def inLists(lists: Seq[Int]): org.apache.spark.sql.Column =
    GraftShim.column(InInts(GraftShim.expression(col("cluster_id")), lists))

  /** Persist the index partitioned by (ingest epoch, cluster id):
    * probes prune at the FILE level — `spark.read.parquet(...)
    * .filter(cluster_id IN ...)` reads only the probed clusters'
    * directories under every epoch. This is the on-disk shape the
    * 100 TB deployment uses (SCALING.md); centroids ride along as a
    * tiny side table.
    *
    * The outer `ingest` partition column is the REPLAY-IDEMPOTENCE key
    * of continuous ingestion (VERDICT r14 ask #1): the offline build
    * owns `ingest=base`, and each streaming micro-batch owns
    * `ingest=batch-<batchId>` written with DYNAMIC partition overwrite
    * ([[graft.streaming.StreamIndexIngest.ingestBatch]]) — a
    * crash-replayed micro-batch re-derives the same rows, routes them
    * identically (stateless kernel, fixed centroids), and REPLACES
    * exactly its own partitions instead of appending next to its first
    * attempt, so the loaded index can never hold a vector twice. One
    * scan relation regardless of batch count; a full (static-mode)
    * [[writePartitioned]] folds accumulated epochs back into
    * `ingest=base` — the compaction step, on the same cadence as
    * centroid re-tunes. */
  def writePartitioned(model: IvfModel, path: String): Unit = {
    model.assigned.withColumn("ingest", lit("base")).write.mode("overwrite")
      .partitionBy("ingest", "cluster_id").parquet(s"$path/assigned")
    writeCentroids(model.assigned.sparkSession, model.centroids, s"$path/centroids")
  }

  def loadPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                      vecCol: String): IvfModel =
    IvfModel(readCentroids(spark, s"$path/centroids"),
      spark.read.parquet(s"$path/assigned").drop("ingest"), vecCol)

  /** The tiny centroid side table's ONE on-disk schema — shared with
    * [[IvfPq]] so the two layouts cannot drift. */
  private[operators] def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                                        centroids: Array[Array[Float]],
                                        path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private[operators] def readCentroids(spark: org.apache.spark.sql.SparkSession,
                                       path: String): Array[Array[Float]] =
    spark.read.parquet(path)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray)

  /** Index diagnostics (`index_statistics`/`index_health`/
    * `index_tune_ivf`/`index_recommend_type`,
    * `neurondb--1.0.sql:2611-2688`; `src/index/index_tuning.c`,
    * `index_validator.c`): posting-list size distribution, imbalance, and
    * an nprobe recommendation targeting the reference tuner's recall band
    * (`src/planner/planner.c:220-233`). */
  def statistics(model: IvfModel): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    val sizes = model.assigned.groupBy("cluster_id").count()
      .agg(min("count"), max("count"), avg("count"), stddev("count"), count(lit(1))).head()
    require(!sizes.isNullAt(0), "index has no assigned rows")
    val nlists = model.centroids.length.toDouble
    Map(
      "nlists" -> nlists,
      "populated_lists" -> sizes.getLong(4).toDouble,
      "min_list_size" -> sizes.getLong(0).toDouble,
      "max_list_size" -> sizes.getLong(1).toDouble,
      "avg_list_size" -> sizes.getDouble(2),
      // stddev is NULL for a single populated list
      "stddev_list_size" -> (if (sizes.isNullAt(3)) 0.0 else sizes.getDouble(3)),
      "imbalance" -> sizes.getLong(1).toDouble / math.max(1.0, sizes.getDouble(2)))
  }

  /**
   * Recall@k-vs-nprobe curve for a batch of queries from ONE exact scan
   * (the evidence artifact the reference reports for its SIFT bench,
   * `dataset/gen_dataset.py:522`, tuner band `planner.c:220-233`).
   *
   * Identity that makes it single-pass: a member x of query q's TRUE
   * top-k is returned by the IVF probe at width p iff the probe rank of
   * x's posting list for q is ≤ p — any candidate closer than x is also
   * true-closer, so x can never be displaced from the candidate top-k.
   * Hence recall@k(p) = |{(q, x) : x ∈ true-top-k(q), probeRank(x) ≤ p}|
   * over the number of truth pairs, and the WHOLE curve falls out of the
   * true top-k: [[Knn.exactTopK]] finds it in one Spark job, each truth
   * member carrying its stored `cluster_id`, and the driver reads every
   * member's probe rank off the query's centroid order. The denominator
   * is the ACTUAL truth-pair count (a query with fewer than k eligible
   * rows contributes its real neighbor count, so the exhaustive probe
   * reads 1.0 even on tiny/excludeSelf corpora).
   *
   * Returns one (nprobe, recall_at_k) row per distinct width, ascending,
   * and no rows when there is no truth pair. No per-query driver loop,
   * no per-nprobe re-probe.
   */
  def recallCurve(model: IvfModel, queries: Array[(Long, Array[Float])],
                  idCol: String, k: Int = 10,
                  nprobes: Seq[Int] = Seq(1, 2, 4, 8, 12, 16),
                  excludeSelf: Boolean = true): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    val idType = model.assigned.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"idCol '$idCol' must be numeric, got $idType — a non-castable id " +
        "would null out and silently empty the curve")
    val spark = model.assigned.sparkSession
    import spark.implicits._
    val nlists = model.centroids.length
    val truth = Knn.exactTopK(model.assigned, idCol, model.vecCol, queries, k,
      excludeSelf = excludeSelf)
    val vectors = queries.toMap
    val probeRanks = truth.toSeq.flatMap { case (qid, members) =>
      val rank = new Array[Int](nlists)
      model.route(vectors(qid), nlists).zipWithIndex.foreach { case (c, i) => rank(c) = i + 1 }
      members.map(m => rank(m.row.getAs[Int]("cluster_id")))
    }
    val curve =
      if (probeRanks.isEmpty) Seq.empty[(Int, Double)]
      else nprobes.distinct.sorted.map(p =>
        (p, probeRanks.count(_ <= p).toDouble / probeRanks.size))
    curve.toDF("nprobe", s"recall_at_$k")
  }

  /** Recommend nprobe for a target recall: smallest probe width on the
    * [[recallCurve]] clearing the target (one distributed pass for all
    * widths — replaces the per-nprobe re-probe loop). */
  def recommendNprobe(model: IvfModel, sampleQueries: Seq[Array[Float]],
                      k: Int = 10, targetRecall: Double = 0.9,
                      idCol: String = ""): Int = {
    val nlists = model.centroids.length
    val widths = Iterator.iterate(1)(_ * 2).takeWhile(_ < nlists).toSeq :+ nlists
    val qs = sampleQueries.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toArray
    // default to the first NUMERIC column — columns.head alone is wrong
    // the moment a text/vector column leads the schema (recallCurve
    // rejects non-numeric ids rather than nulling them out)
    val id =
      if (idCol.nonEmpty) idCol
      else model.assigned.schema.fields
        .find(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
          && f.name != "cluster_id")
        .map(_.name)
        .getOrElse(throw new IllegalArgumentException(
          "no numeric id column found; pass idCol explicitly"))
    val curve = recallCurve(model, qs, id, k, widths, excludeSelf = false)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    curve.collectFirst { case (p, r) if r >= targetRecall => p }.getOrElse(nlists)
  }

  /** The ONE routing kernel: assign each row its nearest centroid
    * ([[nearestCentroid]], so ties break to the LOWER cluster id), in the
    * task over the rows' binary form. Shared by [[insert]], the streaming
    * ingest paths ([[graft.streaming.StreamIndexIngest]]), IVFADC
    * maintenance ([[IvfPq.insert]]), and the `route_health` dial —
    * batch and stream routing cannot diverge because there is exactly
    * one definition. Returns `df` + `cluster_id`. The result is planned
    * from `df`'s rows as [[graft.plans.DistanceExpressions.withVectorColumns]]
    * reads them: `df` must not be a streaming frame (route each
    * micro-batch inside `foreachBatch`), and columns it does not need
    * should be dropped before the call. */
  def routeWith(centroids: Array[Array[Float]], df: DataFrame,
                vecCol: String): DataFrame =
    routeWithDist(centroids, df, vecCol).drop("route_dist")

  /** [[routeWith]] exposing the argmin's OWN distance as `route_dist` —
    * the assignment already computes it, so emitting it is free. This is
    * what the per-batch `route_health` emission in
    * [[graft.streaming.StreamIndexIngest]] and the oracled
    * `route_health` dial aggregate (mean routing distance is the drift
    * signal imbalance alone can miss when clusters stay balanced but
    * everything lands FAR from its centroid). A null vector fails the
    * query; existing `cluster_id`/`route_dist` columns are replaced. The
    * same restrictions on `df` as [[routeWith]]'s hold. */
  def routeWithDist(centroids: Array[Array[Float]], df: DataFrame,
                    vecCol: String): DataFrame =
    DistanceExpressions.withVectorColumns(df, vecCol, "routed", "cluster_id int, route_dist double") { v =>
      if (v == null) throw new IllegalArgumentException("null routed vector")
      val (c, d) = nearestCentroid(v, centroids)
      Array(c, d)
    }

  /** Incremental maintenance (the `ivfinsert` analog): new rows route to
    * their nearest EXISTING centroid via [[routeWith]] and append to that
    * posting list — no refit, no touch of existing rows. On the
    * partitioned layout this is an append of new files into the routed
    * clusters' directories. Centroids drift from the true means as data
    * accumulates; `statistics().imbalance` is the rebuild trigger. */
  def insert(model: IvfModel, df: DataFrame): IvfModel =
    model.copy(assigned = model.assigned
      .unionByName(routeWith(model.centroids, df, model.vecCol))
      .repartition(col("cluster_id")))

  /** Incremental deletion (the DELETE-on-an-indexed-table analog,
    * [[insert]]'s inverse): drop the rows from their posting lists —
    * no refit, no tombstones (Spark rewrites the routed partitions on
    * the next [[writePartitioned]]). Centroids keep their positions,
    * same drift contract as [[insert]]. The literal `isin` suits
    * DML-sized batches; [[deleteBulk]] is the production path for
    * large erasures. */
  def delete(model: IvfModel, idCol: String, ids: Seq[Long]): IvfModel = {
    require(ids.nonEmpty, "empty deletion batch")
    model.copy(assigned =
      model.assigned.filter(!col(idCol).isin(ids: _*)))
  }

  /** Bulk-purge deletion — the GDPR-erasure / corpus-retraction shape
    * of [[delete]]: anti-join the posting lists against an id FRAME,
    * so a million-row erasure set never rides the plan as a literal.
    * Same contract as [[delete]] (no refit, no tombstones, centroids
    * keep their positions; rebuild trigger = `statistics().imbalance`).
    * `ids` must carry a column named `idCol`; Catalyst ships the whole
    * erasure set to every task when it is small and shuffles both sides
    * on the id otherwise — either way ONE anti-join over the posting lists,
    * never a per-id filter chain. */
  def deleteBulk(model: IvfModel, idCol: String, ids: DataFrame): IvfModel =
    model.copy(assigned = model.assigned
      .join(ids.select(col(idCol)), Seq(idCol), "left_anti"))

  /** Batch index build. nlists/nprobe defaults match ivf_am.c:54-55. */
  def build(df: DataFrame, vecCol: String, nlists: Int = 100, seed: Long = 42L,
            maxIter: Int = 20): IvfModel = {
    val featured = df.withColumn("__features", array_to_vector(col(vecCol)))
    val kmeans = new KMeans()
      .setK(nlists).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__features").setPredictionCol("cluster_id")
    val model = kmeans.fit(featured)
    val assigned = model.transform(featured)
      .drop("__features")
      .repartition(col("cluster_id"))
    val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat))
    IvfModel(centroids, assigned, vecCol)
  }

  /**
   * Cluster-blocked similarity join for large×large inputs: every pair of
   * an index row and an `other` row within `threshold` under `metric`,
   * found inside the index's posting lists rather than over the
   * O(|L|·|R|) cross product. Each `other` row probes its `nprobe`
   * nearest lists ([[probeOrder]]); nprobe=1 is the cheapest and misses
   * pairs whose members fall in different lists, larger values buy recall
   * linearly in cost, and **nprobe = nlists is exhaustive and equals the
   * cross join** — the oracle-verified configuration. A pair is emitted at
   * most once (the index row sits in exactly one posting list).
   *
   * It runs as one Spark job over [[IvfBlockJoin]]'s list blocks, the scan
   * [[knnJoin]] uses, with no UDF; each row is routed in its task. Output:
   * `cluster_id`, the `l_`-prefixed index columns, the `r_`-prefixed
   * `other` columns and `distance`. `pairFilter`, a predicate over those
   * columns, filters the pairs. A vector column of another numeric type
   * than float is cast to float, as SQL's distance functions cast it. A
   * null index vector never pairs; a null `other` vector, a null element
   * and a dimension mismatch fail the query; an unknown metric and a
   * non-numeric vector column fail the call.
   */
  def join(model: IvfModel, other: DataFrame, otherVecCol: String,
           metric: String = "l2", threshold: Double, nprobe: Int = 1,
           pairFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val pairs = IvfBlockJoin.join(model, other, otherVecCol, graft.plans.Metric(metric),
      threshold, nprobe)
    pairFilter.map(pairs.filter).getOrElse(pairs)
  }

  /** Per-list covering radius, max over members of d(member, centroid):
    * the bound that makes [[knnJoin]] exact. Read from the posting lists
    * as [[knnJoin]] reads them, so the radius has one definition (nlists
    * values to the driver); a list with no rows reads 0. */
  def radii(model: IvfModel): Array[Double] = IvfBlockJoin.radii(model)

  /**
   * EXACT distributed k-NN join — every query row gets its true k nearest
   * train rows, without shipping the train table to every task. The scale
   * shape for `knn_classify`/`knn_regress`/`vec_join(k)` on large train sides.
   *
   * The index's rows move by list to `defaultParallelism` partitions (list
   * c on partition c mod P, a fixed count) as Spark binary rows, and each
   * pass co-groups the lists with the queries that probe them, cutting a
   * list into blocks of at most 1024 rows and unpacking a block's vectors
   * once into primitive arrays: one scan per (block, query) runs the L2
   * kernel over the block into a bounded primitive heap and keeps the
   * block's k nearest rows plus any row tied with the k-th. No row is
   * built per (query, train row), and a block is never copied per query.
   *
   *  1. Pass 1 scans the `initProbes` nearest lists of each query; the
   *     k-th distance over their candidates is D_k, an upper bound on the
   *     true k-th distance.
   *  2. Pass 2 scans only the lists pass 1 did not scan whose lower bound
   *     d(q,c) − radius(c) ≤ D_k + 1e-9 holds — by the triangle
   *     inequality they hold every true top-k member pass 1 missed — and
   *     its candidates merge with pass 1's. A query with fewer than k
   *     pass-1 candidates scans every list.
   *
   * Routing runs in the scan tasks against the centroids they carry, and
   * the radii reach the query partitions through a shuffle: nothing is
   * collected or shipped by hand. The passes and the merge are the
   * shuffle stages of one Spark job, and the result is a frame over its
   * rows; as a query plan, re-planned after each of its stages, the same
   * steps cost more than the scans themselves on small inputs. Pruning
   * power tracks the data's cluster structure: tight clusters prune hard,
   * unclusterable high-dim data degrades to a scan of most lists (but
   * never loses exactness).
   *
   * Output: query columns + `t_`-prefixed train columns + `distance` +
   * `rank` (1..k, ordered by distance then `tieBreak` train columns).
   * Query ids must be unique. A vector column of another numeric type
   * than float is cast to float. A null query vector fails the query, as
   * does a dimension mismatch.
   */
  def knnJoin(model: IvfModel, queries: DataFrame, qVecCol: String, qIdCol: String,
              k: Int, metric: String = "l2", initProbes: Int = 4,
              tieBreak: Seq[String] = Nil): DataFrame = {
    require(graft.plans.Metric.get(metric).contains(graft.plans.Metric.L2),
      s"knnJoin bounds need a metric space; got $metric (map cosine to normalized-L2 first)")
    IvfBlockJoin.knnJoin(model, queries, qVecCol, qIdCol, k, initProbes, tieBreak)
  }
}
