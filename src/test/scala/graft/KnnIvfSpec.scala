package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ivf, Knn}

class KnnIvfSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val emb = Tables.read(spark, "/root/testdata/sf0.001", "embeddings").cache()
  private lazy val q = Tables.queryVector(spark, "/root/testdata/sf0.001", 7L)

  test("brute-force top-k is ordered and k-sized") {
    val hits = Knn.search(emb, "embedding", q, k = 5).collect()
    assert(hits.length == 5)
    val dists = hits.map(_.getAs[Double]("distance"))
    assert(dists.sameElements(dists.sorted))
    assert(hits.head.getAs[Long]("vec_id") == 7L && dists.head == 0.0)
  }

  test("IVF nprobe=nlists equals brute force exactly (BASELINE.md recall convention)") {
    val model = Ivf.build(emb, "embedding", nlists = 8, seed = 42L)
    val exact = Knn.search(emb, "embedding", q, k = 10).select("vec_id").as[Long].collect().toSet
    val ivf = model.search(q, k = 10, nprobe = 8).select("vec_id").as[Long].collect().toSet
    assert(ivf == exact)
  }

  test("IVF reduced nprobe hits reference tuner recall band >=0.90 (planner.c:220-233)") {
    val model = Ivf.build(emb, "embedding", nlists = 8, seed = 42L)
    val queries = Seq(1L, 33L, 99L, 200L, 404L).map(Tables.queryVector(spark, "/root/testdata/sf0.001", _))
    val recalls = queries.map { qv =>
      val exact = Knn.search(emb, "embedding", qv, k = 10).select("vec_id").as[Long].collect().toSet
      val approx = model.search(qv, k = 10, nprobe = 4).select("vec_id").as[Long].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.90, s"mean recall@10 $mean below tuner band, per-query $recalls")
  }

  test("vecJoin threshold + top-k per left") {
    val small = emb.filter($"vec_id" < 30).select($"vec_id", $"embedding")
    val joined = Knn.vecJoin(small, small, "embedding", "embedding", "l2", kPerLeft = 2)
    val counts = joined.groupBy($"l_vec_id").count().select("count").as[Long].collect()
    assert(counts.forall(_ == 2)) // self (d=0) + nearest other
  }

  test("a null embedding never ranks in the top-k (NULLS LAST ordering)") {
    val withNull = emb.select($"vec_id", $"embedding")
      .unionByName(Seq((-1L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding"))
    val hits = Knn.search(withNull, "embedding", q, k = 5).collect()
    assert(!hits.map(_.getLong(0)).contains(-1L))
    assert(hits.forall(!_.isNullAt(hits.head.fieldIndex("distance"))))
    // faceted + graph variants share the ordering contract
    val ranked = Knn.windowRank(withNull.withColumn("p", lit(1)), "p", "embedding", q)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(ranked.last == -1L)
  }

  test("vecJoin gives duplicate left rows k matches EACH") {
    val dupLeft = Seq((1L, Seq(0f, 0f)), (1L, Seq(0f, 0f))).toDF("id", "v")
    val right = (1 to 10).map(i => (i.toLong, Seq(i.toFloat, 0f))).toDF("id", "v")
    val joined = Knn.vecJoin(dupLeft, right, "v", "v", "l2", kPerLeft = 3, tieBreak = Seq("id"))
    assert(joined.count() == 6) // 3 per duplicate row, not 3 total
  }

  test("graphKnn BFS respects maxHops (operators.c:743-949)") {
    val nodes = emb.filter($"vec_id" < 6).withColumnRenamed("vec_id", "id")
    // path graph 0-1-2-3-4-5
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (3L, 4L), (4L, 3L), (4L, 5L), (5L, 4L)).toDF("src", "dst")
    val within2 = Knn.graphKnn(nodes, edges, "id", "embedding", Seq(0L), q, k = 10, maxHops = 2)
      .select("id").as[Long].collect().toSet
    assert(within2 == Set(0L, 1L, 2L))
  }

  test("vecRoute argmin (operators.c:1155-1228)") {
    val cents = Array(Array(0f, 0f), Array(10f, 10f), Array(5f, 0f))
    assert(Knn.vecRoute(Array(4f, 1f), cents) == 2)
    assert(Knn.vecRoute(Array(9f, 9f), cents) == 1)
  }

  test("Ivf.join blocks by cluster and finds near pairs") {
    val model = Ivf.build(emb, "embedding", nlists = 4, seed = 42L)
    val joined = Ivf.join(model, emb.select($"vec_id".as("other_id"), $"embedding"),
      "embedding", "l2", threshold = 0.01)
    // every vector joins with itself at distance 0 within its own cluster
    assert(joined.filter($"l_vec_id" === $"r_other_id").count() == emb.count())
  }

  test("recallCurve one-pass matches per-query brute-force recall; recommendNprobe clears target") {
    val model = Ivf.build(emb, "embedding", nlists = 8, seed = 42L)
    val qids = Seq(1L, 33L, 99L, 200L, 404L, 17L, 256L, 300L)
    val queries = qids.map(id => (id, Tables.queryVector(spark, "/root/testdata/sf0.001", id))).toArray
    val curve = Ivf.recallCurve(model, queries, "vec_id", k = 10,
        nprobes = Seq(1, 2, 4, 8), excludeSelf = false)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // monotone in nprobe, exhaustive probe == exact
    assert(Seq(1, 2, 4).forall(p => curve(p) <= curve(p * 2) + 1e-12))
    assert(math.abs(curve(8) - 1.0) < 1e-12, s"nprobe=nlists must be exact, got $curve")
    // cross-check one point against the definition: per-query exact-vs-probe
    val perQuery = queries.map { case (_, qv) =>
      val exact = Knn.search(emb, "embedding", qv, k = 10).select("vec_id").as[Long].collect().toSet
      val approx = model.search(qv, k = 10, nprobe = 2).select("vec_id").as[Long].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    assert(math.abs(curve(2) - perQuery.sum / perQuery.size) < 1e-9,
      s"one-pass curve ${curve(2)} != brute-force mean ${perQuery.sum / perQuery.size}")
    val rec = Ivf.recommendNprobe(model, queries.map(_._2).toSeq, k = 10, targetRecall = 0.9)
    assert(curve.getOrElse(rec, 1.0) >= 0.9, s"recall at recommended nprobe=$rec below target")
  }

  test("IVF search compiles its probe filter once: a new probe set reuses the code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val built = Ivf.build(emb, "embedding", nlists = 8, seed = 42L)
    val model = built.copy(assigned = built.assigned.cache())
    model.assigned.count()
    val qs = Seq(7L, 99L, 200L).map(id =>
      emb.filter($"vec_id" === id).select($"embedding").as[Seq[Float]].head().toArray)
    assert(qs.map(model.route(_, 3).toSet).distinct.size == 3, "want three probe sets")
    model.search(qs.head, k = 5, nprobe = 3).collect()
    qs.tail.foreach { v =>
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val got = model.search(v, k = 5, nprobe = 3).collect()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
        "a new probe set compiled new code")
      val probes = model.route(v, 3)
      assert(got.toSeq == Knn.search(model.assigned.filter($"cluster_id".isin(probes: _*)),
        "embedding", v, k = 5).collect().toSeq)
    }
    model.assigned.unpersist()
  }

  test("top-k plan is TakeOrderedAndProject (no global sort)") {
    val plan = Knn.search(emb, "embedding", q, k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"unexpected plan: $plan")
  }

  test("Ivf.insert routes new rows to their nearest centroid; exhaustive search still exact") {
    val old = emb.filter($"vec_id" < 400)
    val fresh = emb.filter($"vec_id" >= 400 && $"vec_id" < 450)
    val model = Ivf.insert(Ivf.build(old, "embedding", nlists = 8, seed = 42L), fresh)
    assert(model.assigned.count() == 450)
    // every new row sits in its argmin-centroid list
    val bad = model.assigned.filter($"vec_id" >= 400).collect().count { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding")).toArray
      val best = model.centroids.zipWithIndex
        .minBy { case (c, i) => (graft.functions.VectorOps.l2(v, c), i) }._2
      r.getAs[Int]("cluster_id") != best
    }
    assert(bad == 0)
    // nprobe = nlists stays exhaustive over old + new
    val qv = Tables.queryVector(spark, "/root/testdata/sf0.001", 420L)
    val exact = Knn.search(emb.filter($"vec_id" < 450), "embedding", qv, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val ivf = model.search(qv, k = 5, nprobe = 8).select("vec_id").as[Long].collect().toSet
    assert(ivf == exact)
  }

  test("Ivf.delete drops posting entries; distance-0 decoys stop shadowing top-k") {
    val old = emb.filter($"vec_id" < 200)
    // decoy twins of the first 5 vectors at shifted ids: distance 0 to
    // their originals, so they WOULD enter any top-k near those points
    val decoys = emb.filter($"vec_id" < 5)
      .withColumn("vec_id", $"vec_id" + 900000L)
    val planted = Ivf.build(old.unionByName(decoys), "embedding",
      nlists = 8, seed = 42L)
    val cleaned = Ivf.delete(planted, "vec_id", (0L until 5L).map(_ + 900000L))
    assert(cleaned.assigned.count() == 200)
    val qv = Tables.queryVector(spark, "/root/testdata/sf0.001", 0L)
    val exact = Knn.search(old, "embedding", qv, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val got = cleaned.search(qv, k = 5, nprobe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(got == exact)
    assert(got.forall(_ < 900000L), s"decoy leaked: $got")
    intercept[IllegalArgumentException](Ivf.delete(planted, "vec_id", Nil))
  }

  test("Ivf.deleteBulk anti-joins an erasure frame; plan has ONE anti-join") {
    val old = emb.filter($"vec_id" < 200)
    val decoys = emb.filter($"vec_id" < 50)
      .withColumn("vec_id", $"vec_id" + 900000L)
    val planted = Ivf.build(old.unionByName(decoys), "embedding",
      nlists = 8, seed = 42L)
    // the erasure set is a derived FRAME (a retraction manifest), not
    // a literal list — the production path the scaladoc recommends
    val erasure = emb.filter($"vec_id" < 50)
      .select(($"vec_id" + 900000L).as("vec_id"))
    val cleaned = Ivf.deleteBulk(planted, "vec_id", erasure)
    assert(cleaned.assigned.count() == 200)
    val qv = Tables.queryVector(spark, "/root/testdata/sf0.001", 0L)
    val exact = Knn.search(old, "embedding", qv, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val got = cleaned.search(qv, k = 5, nprobe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(got == exact)
    assert(got.forall(_ < 900000L), s"decoy leaked: $got")
    // the purge is an anti-join (Catalyst may replicate it through a
    // Union branch — that is pushdown, still join-shaped), never a
    // per-id literal IN chain
    val plan = cleaned.assigned.queryExecution.optimizedPlan.toString
    assert("(?i)leftanti".r.findAllIn(plan).nonEmpty, plan)
    assert(!plan.contains("900000,"), plan)
    // an empty erasure frame is a no-op, not an error (bulk contract:
    // a retraction manifest may legitimately be empty)
    assert(Ivf.deleteBulk(planted, "vec_id", erasure.limit(0))
      .assigned.count() == 250)
  }
}
