package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the scale properties the engine relies on
  * (scan pruning/pushdown, broadcast joins, heap-based top-k) must be
  * visible in the optimized plans, not assumed. */
class PlanShapeSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val df = Tables.read(spark, dir, "lineitem")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(l_quantity"),
      s"filter not pushed: $scan")
    assert(scan.contains("ReadSchema") && !scan.contains("l_extendedprice"),
      s"columns not pruned: $scan")
  }

  test("dimension joins broadcast (q2_join)") {
    val plan = planOf(SparkEntry.queries("q2_join")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in: $plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join in: $plan")
  }

  test("decontamination broadcasts the benchmark grams — corpus side never shuffles to join") {
    val plan = planOf(SparkEntry.queries("decontaminate")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in: $plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join in: $plan")
  }

  test("kNN top-k avoids global sort at any input size") {
    val plan = planOf(SparkEntry.queries("v_l2_knn")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("native distance expressions stay in the plan (no ScalaUDF for hot metrics)") {
    val q = Tables.queryVector(spark, dir, 0L)
    val df = operators.Knn.search(Tables.read(spark, dir, "embeddings"), "embedding", q, 5)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("vector_l2_distance"), plan)
    assert(!plan.toLowerCase.contains("scalaudf"), s"hot path fell back to UDF: $plan")
  }

  test("v_distances2 long-tail metrics run as native expressions — no ScalaUDF, one codegen scan") {
    val df = SparkEntry.queries("v_distances2")(spark, dir)
    val physical = planOf(df)
    assert(!physical.contains("UDF("), s"boxed UDF in the metric scan: $physical")
    for (m <- Seq("vector_jaccard_distance", "vector_dice_distance",
      "vector_canberra_distance", "vector_bray_curtis_distance",
      "vector_sokal_michener_distance", "vector_rogers_tanimoto_distance",
      "vector_russell_rao_distance", "vector_matching_coefficient"))
      assert(physical.contains(m), s"$m missing from: $physical")
    assert(physical.contains("*("), s"no whole-stage codegen span: $physical")
  }

  test("label propagation rounds pick the majority by aggregate — no per-round ranking window") {
    import spark.implicits._
    val edges = (0 until 40).map(i => (i.toLong, ((i + 1) % 40).toLong))
      .toDF("src", "dst")
    val plan = planOf(operators.GraphAnalytics
      .labelPropagation(edges, 2, materialize = false))
    assert(!plan.contains("Window"), s"ranking window in the round: $plan")
    // the min(struct(-c, label)) pick must combine map-side
    assert(plan.contains("partial_min"), s"no map-side partial pick: $plan")
  }

  test("aggregation plans two-phase partial/final (map-side combine)") {
    val plan = planOf(SparkEntry.queries("q1_agg")(spark, dir))
    assert(plan.contains("HashAggregate"), plan)
    // partial + final pair: the aggregate operator appears at least twice
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial aggregation: $plan")
  }

  test("vector aggregates also plan partial/final (ObjectHashAggregate)") {
    val df = Tables.read(spark, dir, "embeddings")
      .groupBy(col("label"))
      .agg(functions.VectorAggregates.vector_avg(col("embedding")))
    val plan = planOf(df)
    assert("ObjectHashAggregate|SortAggregate|HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("bandit per-arm aggregation is two-phase (map-side combine before the shuffle)") {
    import spark.implicits._
    val pulls = (0 until 64).map(i => (i % 4, (i % 3).toDouble)).toDF("arm_id", "reward")
      .repartition(4)
    // the distributed piece of multiArmedBandit is the per-arm aggregate
    val agg = pulls.groupBy("arm_id")
      .agg(count(lit(1)).as("pulls"), sum("reward").as("reward_sum"))
    val plan = planOf(agg)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg: $plan")
  }

  test("graphsage levels are shuffle joins — no cartesian product, no global window") {
    import spark.implicits._
    val edges = (0 until 50).flatMap(i => Seq((i, (i + 1) % 50), (i, (i + 2) % 50)))
      .toDF("node_id", "neighbor_id")
    val feats = (0 until 50).map(i => (i, Seq(i.toFloat, 1f))).toDF("node_id", "features")
    val seeds = (0 until 5).map(Tuple1(_)).toDF("node_id")
    val plan = planOf(ml.Gnn.graphsageAggregate(edges, feats, seeds, nSamples = 3, depth = 2))
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    // sampling windows partition by (seed, parent) — never a global window
    assert(!plan.contains("Exchange SinglePartition"), s"single-partition stage in: $plan")
  }

  test("SGC propagation joins stay sparse (no CartesianProduct) and aggregate two-phase") {
    import spark.implicits._
    val edges = (0 until 30).map(i => (i, (i + 1) % 30)).toDF("node_id", "neighbor_id")
    val feats = (0 until 30).map(i => (i, Seq(i.toFloat))).toDF("node_id", "features")
    val plan = planOf(ml.Gnn.sgcPropagate(edges, feats, hops = 1))
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    assert("ObjectHashAggregate|SortAggregate|HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("range join plans as an equi-join on (bucket, key) — no nested loop over pairs") {
    val raw = Tables.read(spark, dir, "events")
    val ev = raw
      .select(col("event_id"), col("user_id"), Tables.tsUs(raw.schema).cast("double").as("ts_us"))
    val plan = planOf(operators.TemporalJoins.rangeJoin(ev, ev, "user_id", "ts_us", "ts_us", 3.6e9))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair space materialized: $plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"no equi-join in: $plan")
  }

  test("asof join is one union + per-key window — no join operator, no global window") {
    val raw = Tables.read(spark, dir, "events")
    val ev = raw
      .select(col("event_id"), col("user_id"), Tables.tsUs(raw.schema).as("ts_us"))
    val views = ev.withColumnRenamed("event_id", "vid").withColumn("v", lit(1.0))
    val plan = planOf(operators.TemporalJoins.asofBackward(
      ev, views.select("user_id", "ts_us", "v"), Seq("user_id"), "ts_us", "ts_us", Seq("v")))
    assert(!plan.contains("Join"), s"asof should not join: $plan")
    assert(!plan.contains("Exchange SinglePartition"), s"global window in: $plan")
    assert(plan.contains("Window"), plan)
  }

  test("on-disk IVF probe prunes at the FILE level: scan reads exactly nprobe partitions") {
    val emb = Tables.read(spark, dir, "embeddings")
    val model = operators.Ivf.build(emb, "embedding", nlists = 8, seed = 42L)
    val root = java.nio.file.Files.createTempDirectory("plan_ivf_").toString
    operators.Ivf.writePartitioned(model, root)
    val loaded = operators.Ivf.loadPartitioned(spark, root, "embedding")
    val df = loaded.search(Tables.queryVector(spark, dir, 0L), k = 5, nprobe = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster_id"),
      s"no partition filter on cluster_id: $plan")
    // the partition filter lists exactly the nprobe probed clusters —
    // for a partition column Spark prunes non-matching dirs from the scan
    val probed = "PartitionFilters: \\[cluster_id#\\d+ IN \\(([-\\d,]+)\\)"
      .r.findFirstMatchIn(plan).map(_.group(1).split(",").length)
    assert(probed.contains(3), s"expected 3 probed partitions, got $probed in: $plan")
  }

  test("on-disk IVFADC candidate scan is codes-only (raw vectors never enter the ADC stage)") {
    val emb = Tables.read(spark, dir, "embeddings")
    val model = operators.IvfPq.build(emb, "vec_id", "embedding", nlists = 4, m = 8)
    val root = java.nio.file.Files.createTempDirectory("plan_ivfpq_").toString
    operators.IvfPq.writePartitioned(model, root)
    val loaded = operators.IvfPq.loadPartitioned(spark, root, "embedding", "vec_id")
    val df = operators.IvfPq.search(loaded, Tables.queryVector(spark, dir, 0L),
      k = 5, nprobe = 2, rerankPool = 32)
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.split("\n").filter(_.contains("FileScan parquet")).toSeq
    val adcScan = scans.find(s =>
      s.contains("pq_codes") && s.contains("ReadSchema"))
    assert(adcScan.isDefined, s"no codes scan found in: ${scans.mkString("\n")}")
    assert(!adcScan.get.contains("embedding"),
      s"ADC stage reads raw vectors: ${adcScan.get}")
    // both stages prune to the probed partitions
    assert(scans.count(_.contains("PartitionFilters: [cluster_id")) >= 2,
      s"a stage is not partition-pruned: ${scans.mkString("\n")}")
    // the rerank pool joins back by broadcast, not a shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("LSH band-slice buckets (array keys) still plan as a hash join, not nested-loop") {
    // minhashLshPairs joins candidates on (band, slice array<long>); array
    // equality must remain a shuffle/hash-joinable key — a fallback to
    // BroadcastNestedLoopJoin would be O(n²) over bucket rows.
    import spark.implicits._
    val buckets = Seq((1L, 0, Seq(1L, 2L)), (2L, 0, Seq(1L, 2L)), (3L, 1, Seq(9L, 9L)))
      .toDF("id", "band", "bucket")
    val joined = buckets.as("l").join(buckets.as("r"),
      col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
    val plan = planOf(joined)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(joined.count() == 1)
  }

  /** Every node of an executed adaptive plan, into its query stages. */
  private def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
    case s: QueryStageExec => s +: nodesOf(s.plan)
    case other => other +: other.children.flatMap(nodesOf)
  }

  /** The RDD a frame over binary rows reads, and that RDD's lineage. */
  private def lineageOf(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.rdd.RDD[_]] = {
    def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
      r +: r.dependencies.flatMap(d => lineage(d.rdd))
    lineage(df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.get).distinct
  }

  /** No exchange in `df`'s executed plan, so adaptive execution has none
    * to re-read or merge. */
  private def noPlanExchange(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(nodesOf(plan).forall(n => !n.isInstanceOf[AQEShuffleReadExec] &&
      !n.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]), s"exchange in: $plan")
  }

  test("HNSW batch search merges per-shard top-k in its job on by-number partitions") {
    val emb = Tables.read(spark, dir, "embeddings").filter(col("vec_id") < 200)
    val qs = Array((0L, Tables.queryVector(spark, dir, 0L)))
    // executed: the shard walk runs on min(#shards, parallelism) tasks,
    // its exchange in the RDD lineage, where adaptive execution never
    // merges it; the per-query merge runs on parallelism partitions, not one
    val p = spark.sparkContext.defaultParallelism
    for (shards <- Seq(2, 16)) {
      // the index's rows materialised, as a maintained index is
      val idx = operators.Hnsw.build(emb, "vec_id", "embedding", numShards = shards)
        .localCheckpoint()
      val out = operators.Hnsw.searchBatch(idx, qs, k = 5)
      assert(out.collect().length == 5)
      val plan = planOf(out)
      assert(!plan.contains("Exchange SinglePartition"), s"single-partition stage in: $plan")
      assert(!plan.contains("CartesianProduct"), plan)
      noPlanExchange(out)
      val exchanges = lineageOf(out).collect { case s: org.apache.spark.rdd.ShuffledRDD[_, _, _] => s }
      val walk = exchanges.filter(_.partitioner.exists(
        _.isInstanceOf[operators.IvfBlockJoin.ListPartitioner]))
      assert(walk.size == 1 && exchanges.size == 2, s"want the walk and merge exchanges: $exchanges")
      assert(exchanges.forall(_.getNumPartitions == p),
        s"exchanges have ${exchanges.map(_.getNumPartitions)} partitions, want $p")
      val busy = walk.head.mapPartitions(it => Iterator(it.hasNext)).collect().count(identity)
      assert(busy == math.min(shards, p),
        s"$shards shards walked on $busy tasks, want ${math.min(shards, p)}")
    }
  }

  test("IVF kNN join scans run on `parallelism` tasks — blocks and query groups move by number") {
    val p = spark.sparkContext.defaultParallelism
    val emb = Tables.read(spark, dir, "embeddings").filter(col("vec_id") < 400)
    val model = operators.Ivf.build(emb, "embedding", 8, 7L, 5)
    val qs = emb.filter(col("vec_id") < 64)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = operators.Ivf.knnJoin(model, qs, "qvec", "qid", 5)
    out.collect()
    // the scans' exchanges sit in the lineage of the one RDD the frame
    // reads, none in its plan, so adaptive execution never re-reads them
    noPlanExchange(out)
    // the index's blocks and each pass's (list, query) pairs, by list
    val byList = lineageOf(out).collect {
      case s: org.apache.spark.rdd.ShuffledRDD[_, _, _]
        if s.partitioner.exists(_.isInstanceOf[operators.IvfBlockJoin.ListPartitioner]) => s
    }
    assert(byList.size == 3, s"want the blocks and two passes' pairs by list, got ${byList.size}")
    byList.foreach(s =>
      assert(s.getNumPartitions == p, s"scan exchange has ${s.getNumPartitions} partitions"))
    val busy = byList.map(_.mapPartitions(it => Iterator(it.hasNext)).collect().count(identity))
    // 8 lists on partitions c mod P: the blocks and pass 1 fill every task
    assert(busy.count(_ == p) >= 2, s"scan exchanges busy on $busy tasks, want $p")
  }

  test("IVF join scan runs on `parallelism` tasks — blocks and other rows move by list") {
    val p = spark.sparkContext.defaultParallelism
    val emb = Tables.read(spark, dir, "embeddings").filter(col("vec_id") < 400)
    // the index's rows materialised, as a maintained index is
    val built = operators.Ivf.build(emb, "embedding", 8, 7L, 5)
    val model = built.copy(assigned = built.assigned.localCheckpoint())
    val qs = emb.filter(col("vec_id") < 64).select(col("vec_id").as("qid"), col("embedding"))
    val out = operators.Ivf.join(model, qs, "embedding", "cosine", 0.2, nprobe = 2)
    assert(out.collect().nonEmpty)
    // the scan's exchanges sit in the lineage of the one RDD the frame
    // reads, none in its plan, so adaptive execution never re-reads them
    noPlanExchange(out)
    assert(!planOf(out).contains("UDF"), s"a UDF in the executed plan: ${planOf(out)}")
    // the index's blocks and the (list, row) pairs, by list
    val byList = lineageOf(out).collect {
      case s: org.apache.spark.rdd.ShuffledRDD[_, _, _]
        if s.partitioner.exists(_.isInstanceOf[operators.IvfBlockJoin.ListPartitioner]) => s
    }
    assert(byList.size == 2, s"want the blocks and the probing rows by list, got ${byList.size}")
    byList.foreach(s =>
      assert(s.getNumPartitions == p, s"scan exchange has ${s.getNumPartitions} partitions"))
    // 8 lists on partitions c mod P: both exchanges fill every task
    val busy = byList.map(_.mapPartitions(it => Iterator(it.hasNext)).collect().count(identity))
    assert(busy.forall(_ == p), s"scan exchanges busy on $busy tasks, want $p")
  }

  test("q1_agg_typed keeps double sums in whole-stage codegen — no decimal anywhere") {
    val df = SparkEntry.queries("q1_agg_typed")(spark, dir)
    df.collect() // finalize the AQE plan so codegen stages are visible
    val plan = planOf(df)
    assert(!plan.toLowerCase.contains("decimal"),
      s"decimal cast leaked into the production-typed plan: $plan")
    assert(plan.contains("*("), s"no whole-stage codegen span in: $plan")
    assert(plan.contains("partial_sum"), s"no map-side combine in: $plan")
  }

  test("dedup_pipeline (minhash -> components -> keepers) never plans a cartesian stage") {
    val plan = planOf(SparkEntry.queries("dedup_pipeline")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("incremental_dedup never plans batch x corpus (hash joins only)") {
    // materialize=false keeps the lazy plan (the query-registry entry
    // checkpoints, which would hide the join shape behind a LogicalRDD)
    val docs = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val plan = planOf(operators.Dedup.incrementalDedup(
      docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
      "doc_id", "text", materialize = false))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dsir_select: the feature model broadcasts; the corpus side never shuffles pairs") {
    val plan = planOf(SparkEntry.queries("dsir_select")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"the 256-row model must broadcast-join the token scan: $plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject: $plan")
  }

  test("span_dedup corpus stages are hash joins/aggregates — no nested loop anywhere") {
    val plan = planOf(SparkEntry.queries("span_dedup_hashed")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("semdedup: only the tiny centroid set rides a nested-loop; corpus-side joins hash") {
    val plan = planOf(SparkEntry.queries("semdedup")(spark, dir))
    // the k-centroid assignment crossJoin is the ONE permitted
    // nested-loop (k rows broadcast); pair generation and closure must
    // plan as hash joins on the cluster/id keys
    assert(!plan.contains("CartesianProduct"), plan)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nlj <= 1, s"expected at most the centroid crossJoin as NLJ, found $nlj in: $plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"no hash join for the pair stage in: $plan")
  }

  test("HLL sketch aggregates two-phase; reservoir top-k is TakeOrderedAndProject") {
    val toks = Tables.read(spark, dir, "documents")
      .select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("t"))
      .withColumn("u", operators.Sketches.djb2Udf(col("t")))
    val hllPlan = operators.Sketches.hllDistinct(toks, "lang", "u", 8)
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(hllPlan).size >= 2,
      s"no partial aggregation for the HLL registers: $hllPlan")
    val wrPlan = operators.Sampling.weightedReservoir(
      Tables.read(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", 100).queryExecution.executedPlan.toString
    assert(wrPlan.contains("TakeOrderedAndProject"),
      s"reservoir must plan per-partition heaps, not a global sort: $wrPlan")
  }

  test("KMV sketch aggregates two-phase (the bounded state merges map-side)") {
    val toks = Tables.read(spark, dir, "documents")
      .select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("t"))
      .withColumn("u", operators.Sketches.djb2Udf(col("t")))
    val plan = operators.Sketches.kmvDistinct(toks, "lang", "u", 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation for the KMV state: $plan")
  }

  test("banded Hamming join is UDF-free and never plans a cartesian stage") {
    import spark.implicits._
    val sigs = (1L to 50L).map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("id", "sig")
    val df = operators.Dedup.hammingBandPairs(sigs, "id", "sig", 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf"), s"UDF in the pair hot path: $plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian stage in: $plan")
  }

  test("lm_score: the corpus stream crosses at most 3 hash exchanges") {
    // the r10 reshape's contract: one count shuffle builds the bigram
    // table, c1 is derived VOCABULARY-side from it, and the stream makes
    // exactly one scoring join + one per-doc aggregate. The naive plan
    // (stream counted twice, joined twice) shows 5+ corpus-scale
    // exchanges. Count the exchanges whose input cardinality is
    // corpus-shaped: those partitioned by doc_id or by the raw gram
    // stream. Model-side (vocab-sized) exchanges are fine.
    val docs = Tables.read(spark, dir, "documents").limit(200)
      .select(col("doc_id"), col("text"))
    val plan = operators.LmFilter.scoreCorpus(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // 1 count + 1 score-join (stream side) + 1 per-doc agg on the
    // corpus; + up to 2 small model-side exchanges (c12 regroup, c1)
    assert(exchanges <= 5, s"lm_score plan has $exchanges hash exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("epoch_shuffle ranks without a single-partition exchange (no global sort)") {
    val plan = planOf(SparkEntry.queries("epoch_shuffle")(spark, dir))
    assert(!plan.contains("Exchange SinglePartition"),
      s"global (single-task) stage in the rank path: $plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-bucket offsets not broadcast: $plan")
  }

  test("temperature_mixture: quota table broadcasts; draw window is partitioned") {
    val plan = planOf(SparkEntry.queries("temperature_mixture")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"quota join not broadcast: $plan")
    // the per-domain row_number must ride a hash partition, not a global one
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-task window in the draw: $plan")
  }

  test("robots_filter: the per-host robots table broadcasts into the URL join") {
    val plan = planOf(SparkEntry.queries("robots_filter")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"robots join not broadcast: $plan")
    assert(!plan.contains("SortMergeJoin"),
      s"URL corpus must not shuffle for the tiny robots side: $plan")
  }

  test("adaptive length gate broadcasts the cutoffs — one scan, no sort") {
    val docs = Tables.read(spark, dir, "documents").select(col("lang"), col("n_chars"))
    val plan = operators.Sketches.lengthFilterAdaptive(docs, "lang", "n_chars",
      bins = 64, pLo = 0.05, pHi = 0.95).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"cutoffs not broadcast: $plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      s"sort/window leaked into the gate: $plan")
  }

  test("r11-continuation codec/probe queries plan as pure scans — no join, no window") {
    // stateless per-row maps: any Exchange beyond the codec's own
    // aggregation would break the 100 TB "many blobs, one row each" shape
    for (q <- Seq("image_exif", "subtitle_cues", "pdf_extract", "image_webp",
      "image_png_native", "webm_probe", "ogg_ingest", "tfrecord_ingest",
      "audio_resample_linear", "image_orient", "audio_gain", "image_crop_pad",
      "caption_audio_align")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("Join") && !plan.contains("Window") &&
        !plan.contains("CartesianProduct"),
        s"$q is not scan-shaped: $plan")
    }
  }

  test("third-continuation codec/probe/text queries plan as pure scans") {
    // same "many blobs, one row each" contract as the r11 codec set
    for (q <- Seq("decompress_auto", "image_jpeg_native", "ogg_codec_probe",
      "audio_segments", "sentence_split", "video_frames_mjpeg",
      "boilerplate_extract", "html_links")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("Join") && !plan.contains("Window") &&
        !plan.contains("CartesianProduct"),
        s"$q is not scan-shaped: $plan")
    }
  }

  test("boilerplate and html_links stay UDF-free (codegen'd expression chains)") {
    for (q <- Seq("boilerplate_extract", "html_links")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("scalaudf"),
        s"$q fell back to a UDF: $plan")
    }
  }

  test("crawl_frontier and domain_reweight shuffle exactly once (host window / domain agg)") {
    val fPlan = planOf(SparkEntry.queries("crawl_frontier")(spark, dir))
    assert("Exchange".r.findAllIn(fPlan).length == 1,
      s"crawl_frontier must plan exactly the host-window shuffle: $fPlan")
    // domain_reweight's corpus aggregation: partial/final pair = one shuffle
    val docs = Tables.read(spark, dir, "documents")
      .select(concat(lit("dom-"), col("doc_id") % 6).as("domain"),
        (length(col("text")) % 97).cast("double").as("loss"))
    val aggPlan = docs.groupBy(col("domain"))
      .agg(count(lit(1)), avg(col("loss")))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(aggPlan).length == 1 &&
      aggPlan.contains("HashAggregate"),
      s"domain stats must be one two-phase aggregation: $aggPlan")
  }

  test("markdown_strip and the native-parser trio stay UDF-free (whole-stage codegen)") {
    for (q <- Seq("markdown_strip", "csv_ingest", "xml_extract", "jsonl_ingest")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("scalaudf"),
        s"$q fell back to a UDF: $plan")
    }
  }

  test("zip/warc shard extraction keeps ONE exchange (the per-doc aggregation)") {
    for (q <- Seq("zip_ingest", "warc_ingest")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 2, // partial/final agg pair plans one shuffle
        s"$q plans $exchanges exchanges — media bytes may be shuffling: $plan")
      assert(!plan.contains("Join"), s"$q grew a join: $plan")
    }
  }

  test("preference_pairs is one two-phase aggregate — no window sort, no join") {
    val plan = planOf(SparkEntry.queries("preference_pairs")(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"pair construction must shuffle once on the prompt key: $plan")
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
    // struct-ordered max/min plan as SortAggregate — the partial/final
    // pair (map-side combine) is what matters
    assert(plan.contains("partial_max") && plan.contains("partial_min"),
      s"argmax/argmin must combine map-side: $plan")
  }

  test("semantic_decontam broadcasts the eval side; corpus sims collapse map-side") {
    val plan = planOf(SparkEntry.queries("semantic_decontam")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"eval side must broadcast: $plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus must not shuffle to meet the eval set: $plan")
    // the only data shuffle is the final per-id max (map-side partial
    // first); the eval side moves by BroadcastExchange only
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1 &&
      plan.contains("partial_max"), plan)
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"cosine fell back to a UDF: $plan")
  }

  test("registrable_domain joins the rule list by hash, broadcast only") {
    val plan = planOf(SparkEntry.queries("registrable_domain")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"rule lookups must be broadcast equi-joins: $plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"PSL matching must never nested-loop: $plan")
  }

  test("bleu_score is pure array algebra: no UDF, no join, no shuffle") {
    val plan = planOf(SparkEntry.queries("bleu_score")(spark, dir))
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"BLEU fell back to a UDF: $plan")
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"per-row metric must stay a stateless scan: $plan")
  }

  test("edit_neardup pairs meet through an equi-join on the length block") {
    val plan = planOf(SparkEntry.queries("edit_neardup")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must never go all-pairs: $plan")
    assert(plan.contains("Join"), s"expected a blocked equi-join: $plan")
  }

  test("zero-UDF scans stay zero-UDF: code_stats/span_corrupt/pan_luhn/needle_insert") {
    for (q <- Seq("code_stats", "span_corrupt", "pan_luhn", "needle_insert")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.toLowerCase.contains("scalaudf"),
        s"$q fell back to a UDF: $plan")
      assert(!plan.contains("Exchange"),
        s"$q must stay a stateless scan: $plan")
    }
  }

  test("ngram_novelty joins grams on the equi-key, never all-pairs") {
    val plan = planOf(SparkEntry.queries("ngram_novelty")(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"candidate x corpus product: $plan")
    assert(plan.contains("Join"), s"expected a gram equi-join: $plan")
  }

  test("kendall_tau self-joins on the prompt key only") {
    val plan = planOf(SparkEntry.queries("kendall_tau")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair enumeration must ride the group equi-join: $plan")
  }

  test("prompt/user-key windows never global-sort: best_of_n/sessionize/scd2") {
    for (q <- Seq("best_of_n", "sessionize", "scd2_history")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("rangepartitioning"),
        s"$q plans a global sort exchange: $plan")
      assert(plan.contains("Window"), s"$q lost its window: $plan")
    }
  }

  test("pass_at_k aggregates two-phase (map-side combine)") {
    val plan = planOf(SparkEntry.queries("pass_at_k")(spark, dir))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation: $plan")
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"the k-term product must stay codegen: $plan")
  }

  test("experiment readouts fuse to scan-aggregates: ab_ttest single pass") {
    val plan = planOf(SparkEntry.queries("ab_ttest")(spark, dir))
    assert(!plan.contains("Join"), s"t-test must not join arms: $plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation: $plan")
  }

  test("propensity matching rides the blocked equi-join, never brute force") {
    val plan = planOf(SparkEntry.queries("propensity_match")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"treated x control product: $plan")
    assert(plan.contains("Join"), s"expected the block equi-join: $plan")
  }

  test("markov transitions window on the user key, no global sort") {
    val plan = planOf(SparkEntry.queries("markov_transitions")(spark, dir))
    assert(!plan.contains("rangepartitioning"),
      s"global sort exchange: $plan")
    assert(plan.contains("Window"), plan)
  }

  test("off-policy estimates fuse into one scan-aggregate") {
    val plan = planOf(SparkEntry.queries("ips_estimate")(spark, dir))
    assert(!plan.contains("Join") && !plan.toLowerCase.contains("scalaudf"),
      s"IPS must stay a single fused pass: $plan")
  }

  test("knn-shapley broadcasts the probe set; the train side joins without a shuffle") {
    val plan = planOf(SparkEntry.queries("knn_shapley")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"probe set must broadcast: $plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"train side must not shuffle to meet the probes: $plan")
  }

  test("label-noise audit joins candidates on the posting list, never all-pairs") {
    val plan = planOf(SparkEntry.queries("label_noise_knn")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"audit must stay an equi-join on cluster_id: $plan")
  }

  test("RAKE stays zero-UDF codegen algebra end to end") {
    val plan = SparkEntry.queries("rake_keywords")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"RAKE must stay expression algebra: $plan")
  }

  test("numeric audits are UDF-free scans: winsorize + benford") {
    for (q <- Seq("winsorize_stats", "benford_audit")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("scalaudf"), s"$q fell to UDF: $plan")
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
    }
  }

  test("betweenness rides equi-joins only — frontier never meets the graph all-pairs") {
    val plan = planOf(SparkEntry.queries("betweenness_knn")(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"betweenness must stay SpMV-shaped: $plan")
  }

  test("cook's distance broadcasts the one-row moment aggregate over a stateless scan") {
    val plan = planOf(SparkEntry.queries("cooks_distance")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"moments must broadcast: $plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.toLowerCase.contains("scalaudf"), plan)
  }

  test("tombstone serving: anti-join BROADCASTS the id set, probe still file-prunes") {
    val emb = Tables.read(spark, dir, "embeddings")
    val model = operators.Ivf.build(emb, "embedding", nlists = 8, seed = 42L)
    val root = java.nio.file.Files.createTempDirectory("plan_rt_").toString
    operators.Ivf.writePartitioned(model, s"$root/ivf")
    streaming.StreamRetraction.retractBatch(
      emb.filter(col("vec_id") < 30).select(col("vec_id")),
      s"$root/ivf", batchId = 0L)
    val served = streaming.StreamRetraction.servingIvf(spark, s"$root/ivf",
      "embedding", "vec_id")
    val df = served.search(Tables.queryVector(spark, dir, 0L), k = 5, nprobe = 3)
    val plan = planOf(df)
    // the tombstone side is statistics-small, so Catalyst must choose a
    // broadcast LeftAnti — a shuffled anti-join here would re-shuffle
    // the whole index per probe
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone anti-join must broadcast: $plan")
    // the anti-join must not defeat cluster-level partition pruning
    assert(plan.contains("PartitionFilters: [cluster_id"),
      s"serving view lost file-level pruning: $plan")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
