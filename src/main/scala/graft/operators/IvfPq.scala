package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * IVF-PQ (IVFADC, Jégou et al., "Product Quantization for Nearest
 * Neighbor Search", TPAMI 2011) — the composition of the [[Ivf]]
 * coarse index and the [[Pq]] codec that the reference exposes as
 * separate primitives (`ivf` access method + `train_pq_codebook`/
 * `pq_asymmetric_distance`), and the memory shape 100 TB serving
 * actually requires: the scanned posting lists hold m-byte codes
 * (64-384× smaller than raw float vectors), the query pays one
 * 256×m lookup-table build, and raw vectors are touched only for the
 * final exact rerank of a candidate pool.
 *
 * Search = route to nprobe lists → ADC scan of the probed lists'
 * CODES (file-pruned by cluster_id, lookup-table adds per row) →
 * exact rerank of the top `rerankPool` candidates against raw
 * vectors. With nprobe = nlists and rerankPool ≥ corpus the result
 * provably equals brute force (BASELINE.md's recall convention);
 * between those extremes nprobe and rerankPool are the recall/cost
 * dials.
 */
object IvfPq {

  case class IvfPqModel(ivf: Ivf.IvfModel, codebook: Pq.PqCodebook,
                        encoded: DataFrame, idCol: String)

  /** Train coarse quantizer + PQ codebook, encode every row. */
  def build(df: DataFrame, idCol: String, vecCol: String,
            nlists: Int = 16, m: Int = 8, seed: Long = 42L): IvfPqModel = {
    val ivf = Ivf.build(df, vecCol, nlists, seed)
    val cb = Pq.train(ivf.assigned, vecCol, m)
    IvfPqModel(ivf, cb, Pq.encodeTable(ivf.assigned, vecCol, cb), idCol)
  }

  /** IVFADC top-k: ADC candidates from the probed lists, exact rerank
    * of the pool, deterministic id tiebreaks at both stages.
    *
    * The ADC stage scans ONLY (id, pq_codes) of the probed lists — the
    * raw vector column never enters the candidate scan, which is the
    * whole point of the codes-only memory shape. The exact rerank joins
    * the broadcast candidate pool (≤ rerankPool rows) back against the
    * probed partitions, touching raw vectors for the pool alone.
    *
    * `metric` applies to the exact RERANK only: routing and ADC tables
    * are L2 (the quantizers are L2-k-means), so a non-L2 metric's
    * recall rides the nprobe/rerankPool dials like [[Ivf.IvfModel.search]]
    * — exact only at nprobe = nlists with a corpus-sized pool. */
  def search(model: IvfPqModel, query: Array[Float], k: Int = 10,
             nprobe: Int = 8, rerankPool: Int = 64,
             metric: String = "l2"): DataFrame = {
    val probes = model.ivf.route(query, nprobe)
    val probed = model.encoded.filter(Ivf.inLists(probes))
    val pool = Pq.search(
        probed.select(col(model.idCol), col("pq_codes")),
        model.codebook, query,
        k = math.max(k, rerankPool), tieBreak = Seq(model.idCol))
      .select(model.idCol)
    probed.drop("pq_codes")
      .join(broadcast(pool), model.idCol)
      .withColumn("distance",
        Knn.distCol(metric)(col(model.ivf.vecCol), lit(query)))
      .orderBy(col("distance"), col(model.idCol))
      .limit(k)
      .drop("cluster_id")
  }

  /** Incremental maintenance ([[Ivf.insert]]'s IVFADC form): new rows
    * route to their nearest EXISTING coarse centroid and encode with
    * the EXISTING PQ codebook — no refit of either quantizer. Both
    * drift from optimal as data accumulates; the rebuild trigger is
    * the same `Ivf.statistics().imbalance` dial, plus rising ADC
    * reconstruction error on inserted batches. */
  def insert(model: IvfPqModel, df: DataFrame): IvfPqModel = {
    // route ONLY the new rows through the ONE shared routing kernel —
    // insert semantics cannot diverge from the batch path
    val routedNew = Ivf.routeWith(model.ivf.centroids, df, model.ivf.vecCol)
    val encodedNew = Pq.encodeTable(routedNew, model.ivf.vecCol, model.codebook)
    model.copy(
      ivf = model.ivf.copy(
        assigned = model.ivf.assigned.unionByName(routedNew)),
      encoded = model.encoded.unionByName(encodedNew))
  }

  /** Incremental deletion ([[Ivf.delete]]'s IVFADC form): drop the
    * rows from both the raw posting lists and the code table. Literal
    * `isin` suits DML-sized batches; [[deleteBulk]] for bulk purges. */
  def delete(model: IvfPqModel, ids: Seq[Long]): IvfPqModel = {
    require(ids.nonEmpty, "empty deletion batch")
    model.copy(
      ivf = Ivf.delete(model.ivf, model.idCol, ids),
      encoded = model.encoded.filter(!col(model.idCol).isin(ids: _*)))
  }

  /** Bulk-purge deletion ([[Ivf.deleteBulk]]'s IVFADC form): ONE
    * anti-join against the erasure-id frame on EACH of the two tables
    * the index keeps (raw posting lists AND the code table — a code
    * row surviving its raw row would resurrect the vector through the
    * ADC candidate scan). Same no-refit/no-tombstone contract. */
  def deleteBulk(model: IvfPqModel, ids: DataFrame): IvfPqModel =
    model.copy(
      ivf = Ivf.deleteBulk(model.ivf, model.idCol, ids),
      encoded = model.encoded
        .join(ids.select(col(model.idCol)), Seq(model.idCol), "left_anti"))

  /** Persist the IVFADC index: codes partitioned by (ingest epoch,
    * cluster id) — same layout and replay-idempotence contract as
    * [[Ivf.writePartitioned]] (the streaming encode path owns
    * `ingest=batch-<id>` partitions via dynamic overwrite); probes
    * prune at the FILE level, centroids and the PQ codebook ride along
    * as tiny side tables — the serving layout where the scanned bytes
    * per probe are m-byte codes, not float vectors. */
  def writePartitioned(model: IvfPqModel, path: String): Unit = {
    model.encoded.withColumn("ingest", lit("base")).write.mode("overwrite")
      .partitionBy("ingest", "cluster_id").parquet(s"$path/encoded")
    val spark = model.encoded.sparkSession
    import spark.implicits._
    Ivf.writeCentroids(spark, model.ivf.centroids, s"$path/centroids")
    model.codebook.codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (center, c) => (s, c, center.toSeq) }
    }.toSeq.toDF("subspace", "code", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  def loadPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                      vecCol: String, idCol: String): IvfPqModel = {
    val centroids = Ivf.readCentroids(spark, s"$path/centroids")
    val cbRows = spark.read.parquet(s"$path/codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = cbRows.map(_._1).max + 1
    val codebooks = Array.tabulate(m) { s =>
      cbRows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
    val encoded = spark.read.parquet(s"$path/encoded").drop("ingest")
    IvfPqModel(
      Ivf.IvfModel(centroids, encoded.drop("pq_codes"), vecCol),
      Pq.PqCodebook(m, codebooks.head.head.length, codebooks),
      encoded, idCol)
  }
}
