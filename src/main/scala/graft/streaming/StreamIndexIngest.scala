package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Ivf

/**
 * Streaming index ingest — the production shape of CONTINUOUS vector
 * ingestion (VERDICT r13 ask #1, composing the two r13 halves): each
 * arriving micro-batch is routed to its nearest EXISTING centroid via
 * [[Ivf.routeWith]]'s argmin (the ONE shared routing kernel, so
 * stream-ingest routing cannot diverge from batch-insert routing) and
 * lands in the cluster-partitioned on-disk index that
 * [[Ivf.writePartitioned]] laid out — the serving side's probes keep
 * pruning at the FILE level with no rewrite of existing data.
 *
 * Routing is PER-ROW STATELESS given the fixed centroids, so ingest
 * is batch-boundary-invariant: two micro-batches land exactly the
 * rows one batch would, and the maintained index answers a probe
 * EXACTLY like an index built on the full corpus under the exhaustive
 * dial (the `stream_index_ingest` oracle pins the whole composition
 * end-to-end: route → append → load → search == brute force).
 *
 * REPLAY IDEMPOTENCE (VERDICT r14 ask #1): each micro-batch owns the
 * `ingest=batch-<batchId>` value of the index's outer partition
 * column (layout: `assigned/ingest=<epoch>/cluster_id=<c>`, see
 * [[Ivf.writePartitioned]]) keyed by the checkpointed epoch id
 * `foreachBatch` hands us, and writes it with DYNAMIC partition
 * overwrite. A micro-batch replayed after a crash between write and
 * checkpoint commit (the at-least-once window every parquet
 * `foreachBatch` sink has — see [[JobQueue.run]]) re-derives the SAME
 * rows from the replayable source, routes them identically (stateless
 * kernel, fixed centroids), and REPLACES exactly its own partitions —
 * a no-op, where the r14 `mode("append")` shape double-appended and a
 * duplicated vector corrupts kNN output, not just storage. `batchId`s
 * must be unique per index path — one writer stream per index, which
 * is what a checkpoint location already enforces.
 *
 * Scale shape: the nlists centroids in the routing closure, a stateless
 * map, and a write of ~|batch| rows shuffled into at most
 * nlists partition directories; no cross-batch state (the on-disk
 * index IS the state), no touch of existing posting files — dynamic
 * overwrite deletes only partitions the batch itself carries, and no
 * two batches share an `ingest` value. The index stays ONE scan
 * relation regardless of batch count; epoch directories accumulate
 * one per micro-batch, folded back into `ingest=base` by a full
 * [[Ivf.writePartitioned]] rewrite (the compaction step) on the same
 * cadence as centroid re-tunes.
 *
 * Centroids drift from the true means as data accumulates — the
 * rebuild trigger is `Ivf.statistics().imbalance` (calibrated in
 * MAINT_DRIFT.json), and [[ingestBatch]] emits the per-batch
 * `route_health` dial (imbalance + mean routing distance, the SAME
 * expressions the oracled `route_health` query aggregates) to
 * `indexPath/route_health/batch-<batchId>` so a pipeline sees the
 * excursion AS IT ACCRUES instead of at the next offline audit —
 * MAINT_DRIFT's shifted leg moves imbalance 1.88→33.4, and mean
 * routing distance catches the complementary failure where clusters
 * stay balanced but everything lands far from its centroid.
 */
object StreamIndexIngest {

  /** Route one micro-batch with the FIXED centroids, write it as the
    * batch's own `ingest=batch-<batchId>` epoch of the partitioned
    * index via dynamic partition overwrite (see replay-idempotence
    * note above), and emit the batch's route-health row. Works on
    * static frames too — batch parity for the oracle gate.
    *
    * The pre-write `repartition(cluster_id)` is FILE HYGIENE, not
    * correctness: `partitionBy` alone writes one file per (task ×
    * routed cluster), so a 200-task micro-batch against nlists=1000
    * would land up to 200k tiny files PER BATCH and the serving
    * scan's file listing would grow without bound; co-locating each
    * cluster first caps the batch at ≤ nlists files — one |batch|-row
    * shuffle, the right trade at any real batch size.
    *
    * `batchId` has no default ON PURPOSE: the epoch it names is the
    * overwrite key, so two DIFFERENT batches sharing an id silently
    * replace each other's clusters (partial data loss), while a
    * REPLAYED batch reusing its id is exactly the no-op the contract
    * wants. Callers must thread the checkpointed id (or number their
    * batches) — `run` does. */
  def ingestBatch(centroids: Array[Array[Float]], vecCol: String,
                  batch: DataFrame, indexPath: String,
                  batchId: Long): Unit =
    ingest(centroids, vecCol, batch, indexPath, batchId, "assigned")(identity)

  /** The one ingest path: route the batch, write its rows as `encode`
    * makes them into the `table` of the partitioned index as the batch's
    * own epoch, and emit its route-health row. */
  private def ingest(centroids: Array[Array[Float]], vecCol: String, batch: DataFrame,
                     indexPath: String, batchId: Long, table: String)(
                     encode: DataFrame => DataFrame): Unit = {
    if (batch.isEmpty) return // an epoch with no rows writes nothing
    val routed = Ivf.routeWithDist(centroids, batch, vecCol).persist()
    try {
      encode(routed.drop("route_dist"))
        .withColumn("ingest", lit(s"batch-$batchId"))
        .repartition(col("cluster_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest", "cluster_id")
        .parquet(s"$indexPath/$table")
      writeRouteHealth(routed, indexPath, batchId)
    } finally routed.unpersist()
  }

  /** One route-health row per micro-batch, overwrite-keyed like the
    * data itself (a replayed batch re-emits identical metrics over the
    * same directory): rows routed, populated lists, max/avg posting
    * imbalance of THIS batch, and the batch's mean routing distance —
    * `avg(route_dist)` from the shared kernel, round-6 like the
    * oracled `route_health` dial. One tiny aggregate over the cached
    * routed frame; the argmin distance is already computed, so the
    * dial costs one groupBy per batch. */
  private def writeRouteHealth(routed: DataFrame, indexPath: String,
                               batchId: Long): Unit =
    routed.groupBy("cluster_id")
      .agg(count(lit(1)).as("n"), sum(col("route_dist")).as("sd"))
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("populated_lists"),
        (max(col("n")) / avg(col("n"))).cast("float").as("imbalance"),
        round(sum(col("sd")) / sum(col("n")), 6).as("mean_dist"))
      .select(lit(batchId).as("batch_id"), col("n_rows"),
        col("populated_lists"), col("imbalance"), col("mean_dist"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/route_health/batch-$batchId")

  /** The emitted dial, one row per ingested micro-batch (batch_id,
    * n_rows, populated_lists, imbalance, mean_dist) — what a pipeline
    * alerts on (MAINT_DRIFT.json calibrates the thresholds: shifted
    * data moved imbalance 1.88→33.4 while same-distribution growth
    * held 0.91–0.93). */
  def readRouteHealth(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$indexPath/route_health")

  /** Run continuous ingest: `foreachBatch` routes each arriving
    * micro-batch and writes it under its checkpointed batch id at
    * `indexPath` (replay-idempotent — see object doc). The index stays
    * serveable throughout — a reader loading `indexPath` between
    * batches sees a consistent prefix-of-the-stream index. */
  def run(centroids: Array[Array[Float]], stream: DataFrame, vecCol: String,
          indexPath: String, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(stream, checkpoint, trigger)(ingestBatch(centroids, vecCol, _, indexPath, _))

  /** Starts `stream` with `ingest` as its `foreachBatch` sink, given each
    * micro-batch and its checkpointed id. */
  private def start(stream: DataFrame, checkpoint: String, trigger: Trigger)(
      ingest: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => ingest(batch, batchId) }
      .start()

  /** [[ingestBatch]]'s IVFADC form: route with the FIXED centroids AND
    * encode with the FIXED PQ codebook (the [[graft.operators.IvfPq
    * .insert]] no-refit contract, streaming), writing m-byte code rows
    * as the batch's own `ingest=batch-<batchId>` epoch of the
    * [[graft.operators.IvfPq.writePartitioned]] code table, so the
    * serving side's codes-only ADC scan keeps pruning at the file
    * level. Same replay idempotence and route-health emission as
    * [[ingestBatch]]. Stale-codebook drift under distribution shift is
    * measured in MAINT_DRIFT.json (ADC 0.54 on the shifted leg — the
    * rebuild trigger matters MORE here). */
  def ingestBatchPq(centroids: Array[Array[Float]],
                    codebook: graft.operators.Pq.PqCodebook, vecCol: String,
                    batch: DataFrame, indexPath: String,
                    batchId: Long): Unit =
    ingest(centroids, vecCol, batch, indexPath, batchId, "encoded")(
      graft.operators.Pq.encodeTable(_, vecCol, codebook))

  /** Continuous IVFADC ingest ([[run]]'s code-table form). HNSW is
    * deliberately NOT given a streaming face: its insert is a
    * rebuild-touched-shards operation (graph repair), the wrong cost
    * shape per micro-batch — batch `Hnsw.insert` on minute-scale
    * intervals composes trivially with `foreachBatch` when a user
    * wants it. */
  def runPq(centroids: Array[Array[Float]],
            codebook: graft.operators.Pq.PqCodebook, stream: DataFrame,
            vecCol: String, indexPath: String, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(stream, checkpoint, trigger)(ingestBatchPq(centroids, codebook, vecCol, _, indexPath, _))
}
