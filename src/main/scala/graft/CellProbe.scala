package graft

import org.apache.spark.sql.functions._

/** ScaleBench single-CELL variance probe (the ScaleBench analog of
  * [[QueryProbe]]): rebuild ONE scale rung's inputs with the exact
  * ScaleBench expansion, then time one cell N times in a single JVM,
  * printing per-run wall seconds + GC time. This is the adjudication
  * tool for 100× watch cells — it separates "the cell's plan got
  * slower" (every run high, low GC) from "the suite's heap was noisy"
  * (first run high, GC-dominated) without paying a full 61-row suite
  * per data point. Usage:
  * `runMain graft.CellProbe <cell> [sfDir] [scale] [runs]` —
  * cells: knn_join_exact, ivf_blocked_join, index_ingest, stream_retract,
  * hnsw_serve_tombstoned,
  * image_neardup, label_noise_audit, knn_scan_topk. */
object CellProbe {
  import ScaleBench.expandEmb

  def main(args: Array[String]): Unit = {
    val cell = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val scale = if (args.length > 2) args(2).toInt else 100
    val runs = if (args.length > 3) args(3).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Sessions.localMeasurement(cpus)
    import scala.jdk.CollectionConverters._
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    val emb0 = Tables.read(spark, sfDir, "embeddings")
    val emb = expandEmb(emb0, scale).cache()
    println(s"expanded rows=${emb.count()}")
    lazy val model = {
      val m = operators.Ivf.build(emb, "embedding", nlists = 100)
      m.assigned.cache().count()
      m
    }
    lazy val knnQueries = {
      val q = emb.filter(col("vec_id") < 500)
        .select(col("vec_id").as("qid"), col("embedding")).cache()
      q.count() // ScaleBench caches+counts the query side untimed too
      q
    }
    lazy val hnswIdx = {
      val ix = operators.Hnsw.build(emb, "vec_id", "embedding",
        numShards = 32).cache()
      ix.count()
      ix
    }
    lazy val scanQueries: Array[Array[Float]] =
      emb0.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Float](1).toArray)
    lazy val labeled = emb.withColumn("label",
      pmod(col("vec_id"), lit(10)).cast("int"))
    lazy val auditModel = {
      val m = operators.Ivf.build(labeled, "embedding", nlists = 100)
      m.assigned.cache().count()
      m
    }

    // Force every cell's FIXTURES (model/cache builds — untimed in the
    // ScaleBench cells too) before the loop: without this the lazy
    // model materializes inside run 0's timed region and every
    // model-dependent cell reads "first run high" even on a clean
    // heap, which is precisely the signal this probe adjudicates.
    cell match {
      case "knn_join_exact" => model; knnQueries
      case "ivf_blocked_join" | "index_ingest" | "stream_retract" => model
      case "hnsw_serve_tombstoned" => hnswIdx
      case "label_noise_audit" => auditModel
      case "knn_scan_topk" => scanQueries
      case _ => ()
    }

    var i = 0
    while (i < runs) {
      val g0 = gcMs
      val t0 = System.nanoTime()
      val n: Long = cell match {
        case "knn_join_exact" =>
          operators.Ivf.knnJoin(model, knnQueries, "embedding", "qid",
            k = 10, metric = "l2").count()
        case "ivf_blocked_join" =>
          operators.Ivf.join(model, emb, "embedding",
            metric = "cosine", threshold = 0.02, nprobe = 1).count()
        case "index_ingest" =>
          val dir = java.nio.file.Files
            .createTempDirectory("graft_cellprobe_").toString
          operators.Ivf.writePartitioned(model, dir)
          val batch = emb0
            .select((col("vec_id") + 50000000L).as("vec_id"), col("embedding"))
          val t = System.nanoTime()
          streaming.StreamIndexIngest.ingestBatch(
            model.centroids, "embedding", batch, dir, batchId = 0L)
          val sec = (System.nanoTime() - t) / 1e9
          println(f"  ingest_only sec=$sec%.3f")
          org.apache.commons.io.FileUtils.deleteDirectory(
            new java.io.File(dir))
          batch.count()
        case "stream_retract" =>
          // the retraction-path cost claims: epoch write flat in index
          // size; serving anti-join overhead vs the raw serve
          val dir = java.nio.file.Files
            .createTempDirectory("graft_cp_retract_").toString
          operators.Ivf.writePartitioned(model, dir)
          val t1 = System.nanoTime()
          streaming.StreamRetraction.retractBatch(
            emb.filter(col("vec_id") < 200).select(col("vec_id")),
            dir, batchId = 0L)
          println(f"  retract_sec=${(System.nanoTime() - t1) / 1e9}%.3f")
          val q = emb.filter(col("vec_id") === 500L)
            .select(col("embedding")).head().getSeq[Float](0).toArray
          val t2 = System.nanoTime()
          val nT = streaming.StreamRetraction
            .servingIvf(spark, dir, "embedding", "vec_id")
            .search(q, k = 10, nprobe = 10).count()
          println(f"  serve_tomb_sec=${(System.nanoTime() - t2) / 1e9}%.3f")
          val t3 = System.nanoTime()
          val nR = operators.Ivf.loadPartitioned(spark, dir, "embedding")
            .search(q, k = 10, nprobe = 10).count()
          println(f"  serve_raw_sec=${(System.nanoTime() - t3) / 1e9}%.3f")
          org.apache.commons.io.FileUtils.deleteDirectory(
            new java.io.File(dir))
          nT + nR
        case "hnsw_serve_tombstoned" =>
          // serve cost at the compaction threshold: 20% of ids dead
          // (the minDeadFraction=0.2 worst case — the most tombstones
          // a shard carries before compact rebuilds it), 16 queries at
          // production ef, vs the same serve with no tombstones
          val idx = hnswIdx
          val qs = emb.filter(col("vec_id") < 16)
            .select(col("vec_id"), col("embedding")).collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          val dead = emb.select(col("vec_id")).limit((
            emb.count() / 5).toInt)
          val t0c = System.nanoTime()
          val tombs = operators.Hnsw.tombstoneSet(dead)
          println(f"  tombset_collect_sec=${(System.nanoTime() - t0c) / 1e9}%.3f")
          val t1 = System.nanoTime()
          val nT = operators.Hnsw.searchBatch(idx, qs, k = 10,
            efSearch = 64, tombstones = tombs).count()
          println(f"  serve_tomb20_sec=${(System.nanoTime() - t1) / 1e9}%.3f")
          val t2 = System.nanoTime()
          val nC = operators.Hnsw.searchBatch(idx, qs, k = 10,
            efSearch = 64).count()
          println(f"  serve_clean_sec=${(System.nanoTime() - t2) / 1e9}%.3f")
          nT + nC
        case "image_neardup" =>
          val pngUdf = udf((v: Seq[Float]) =>
            operators.Multimodal.encodePng8x8(v.map(x =>
              math.max(0L, math.min(255L,
                math.floor((x.toDouble + 1.0) * 127.5 + 0.5).toLong)).toInt)
              .toArray))
          val media = emb.select(col("vec_id"),
            pngUdf(col("embedding")).as("payload"))
          val sigs = operators.Multimodal.decodeImages(media, includePixels = false)
            .select(col("vec_id"), col("img_ahash"))
          operators.Dedup.hammingBandPairs(sigs, "vec_id", "img_ahash", 8)
            .count()
        case "label_noise_audit" =>
          // auditModel is built OUTSIDE the suite cell's timing too
          operators.DataValuation.labelNoiseKnn(
            auditModel, labeled.filter(col("vec_id") < 500), "vec_id",
            "embedding", "label", k = 10).count()
        case "knn_scan_topk" =>
          // v_l2_knn's exact plan family at scale (r16, VERDICT r15 ask
          // #3): brute-force TakeOrderedAndProject scan, one L2 kernel
          // per (query × corpus row) — kernel-dominated by design. 16
          // sequential serves per run so the per-run kernel-evaluation
          // count (16 × rows) dwarfs job overhead.
          var total = 0L
          for (q <- scanQueries)
            total += operators.Knn.search(emb, "embedding", q, k = 10,
              metric = "l2").count()
          total
        case other => sys.error(s"unknown cell $other")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"run=$i%2d sec=$sec%.3f gc_ms=${gcMs - g0}%d rows=$n%d")
      i += 1
    }
    if (cell == "hnsw_serve_tombstoned") {
      // the sweep that ends the serve tax: compact at the threshold. The
      // compacted index is a union of the cold shards' rows, whose lineage
      // holds no shuffle, and the rebuilt shards; the index is
      // checkpointed so its own build shuffle is out of the lineage
      val idx = hnswIdx.localCheckpoint()
      val dead = emb.select(col("vec_id")).limit((emb.count() / 5).toInt)
      val t0 = System.nanoTime()
      val (compacted, _) = operators.Hnsw.compact(idx, dead, numShards = 32)
      println(f"  compact_eager_sec=${(System.nanoTime() - t0) / 1e9}%.3f")
      val Seq(cold, rebuilt) = compacted.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.dependencies.map(_.rdd)
      }.get
      def shuffles(r: org.apache.spark.rdd.RDD[_]): Int = r.dependencies.map(d =>
        (if (d.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]]) 1 else 0) +
          shuffles(d.rdd)).sum
      println(s"  compact_cold_shuffles=${shuffles(cold)}")
      for ((name, r) <- Seq("cold" -> cold, "rebuilt" -> rebuilt)) {
        val t = System.nanoTime()
        val shards = r.asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]]
          .map(_.getInt(0)).countByValue()
        println(f"  compact_${name}_sec=${(System.nanoTime() - t) / 1e9}%.3f " +
          f"shards=${shards.size}%d rows=${shards.values.sum}%d")
      }
    }
    spark.stop()
  }
}
