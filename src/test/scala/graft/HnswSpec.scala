package graft

import org.apache.spark.sql.functions._
import graft.operators.{Hnsw, Knn}

class HnswSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val emb = Tables.read(spark, "/root/testdata/sf0.001", "embeddings").cache()
  private lazy val index = Hnsw.build(emb, "vec_id", "embedding", numShards = 4).cache()

  test("search returns k ascending-distance rows, self first for a corpus query") {
    val q = Tables.queryVector(spark, "/root/testdata/sf0.001", 7L)
    val hits = Hnsw.search(index, q, k = 5, efSearch = 64).collect()
    assert(hits.length == 5)
    val dists = hits.map(_.getAs[Double]("distance"))
    assert(dists.sameElements(dists.sorted))
    assert(hits.head.getAs[Long]("id") == 7L && dists.head == 0.0)
  }

  test("recall@10 at ef_search=64 clears the reference tuner band (>=0.90)") {
    val qids = Seq(1L, 33L, 99L, 200L, 404L)
    val recalls = qids.map { qid =>
      val q = Tables.queryVector(spark, "/root/testdata/sf0.001", qid)
      val exact = Knn.search(emb, "embedding", q, k = 10).select("vec_id").as[Long].collect().toSet
      val ann = Hnsw.search(index, q, k = 10, efSearch = 64).select("id").as[Long].collect().toSet
      (exact & ann).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.90, s"mean recall@10 $mean below tuner band, per-query $recalls")
  }

  test("build and search are deterministic (hash-derived levels, id tiebreaks)") {
    val q = Tables.queryVector(spark, "/root/testdata/sf0.001", 42L)
    val a = Hnsw.search(index, q, k = 10).select("id").as[Long].collect().toSeq
    val again = Hnsw.build(emb, "vec_id", "embedding", numShards = 4)
    val b = Hnsw.search(again, q, k = 10).select("id").as[Long].collect().toSeq
    assert(a == b)
  }

  test("batch search ranks per query and never duplicates an id within a query") {
    val qs = Array(1L, 99L).map(i => (i, Tables.queryVector(spark, "/root/testdata/sf0.001", i)))
    val out = Hnsw.searchBatch(index, qs, k = 8, efSearch = 64)
      .select($"qid", $"id", $"rank").collect()
    assert(out.length == 16)
    qs.foreach { case (qid, _) =>
      val mine = out.filter(_.getLong(0) == qid)
      assert(mine.map(_.getLong(1)).distinct.length == 8)
      assert(mine.map(_.getInt(2)).sorted.sameElements(1 to 8))
    }
  }

  test("parquet write/load round-trip serves identical results") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.write(index, dir)
    val loaded = Hnsw.load(spark, dir)
    val q = Tables.queryVector(spark, "/root/testdata/sf0.001", 7L)
    val a = Hnsw.search(index, q, k = 10).select("id").as[Long].collect().toSeq
    val b = Hnsw.search(loaded, q, k = 10).select("id").as[Long].collect().toSeq
    assert(a == b)
  }

  test("executor graph cache: repeat disk batches skip rebuilds, results bit-identical") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_cache").toString
    Hnsw.write(index, dir)
    val qs = Seq(0L, 7L, 33L).map(i =>
      (i, Tables.queryVector(spark, "/root/testdata/sf0.001", i))).toArray

    def run() = {
      val t0 = System.nanoTime()
      val rows = Hnsw.searchBatchFromDisk(spark, dir, qs, k = 10)
        .select("qid", "id", "distance").as[(Long, Long, Double)].collect().sorted.toSeq
      (rows, (System.nanoTime() - t0) / 1e6)
    }
    val before = Hnsw.graphBuilds.get()
    val (r1, t1) = run()
    val afterFirst = Hnsw.graphBuilds.get()
    assert(afterFirst - before > 0, "first disk batch should build shard graphs")
    val (r2, t2) = run()
    assert(Hnsw.graphBuilds.get() == afterFirst,
      "second disk batch must hit the executor graph cache (zero rebuilds)")
    assert(r1 == r2, "cached serving must be bit-identical")
    info(f"first batch ${t1}%.0f ms (builds graphs), second ${t2}%.0f ms (cache hit)")
    // an index rewrite changes the fingerprint -> graphs rebuilt, never stale
    Hnsw.write(index, dir)
    run()
    assert(Hnsw.graphBuilds.get() > afterFirst, "rewritten index must re-deserialize")
  }

  test("graph cache LRU: a hot index survives an unrelated index's overflow") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("hnsw_lru").toString
    Hnsw.write(index, dir)
    val qs = Array((7L, Tables.queryVector(spark, "/root/testdata/sf0.001", 7L)))
    val oldCap = Hnsw.graphCacheCapacity
    Hnsw.graphCacheCapacity = 6 // index has 4 shards; 2 slots of slack
    Hnsw.graphCache.clear()
    try {
      Hnsw.searchBatchFromDisk(spark, dir, qs, k = 5).count()
      val hotBuilds = Hnsw.graphBuilds.get()
      val hotKeys = Hnsw.graphCache.keySet.asScala.toSeq
      assert(hotKeys.nonEmpty && hotKeys.size <= 6)
      // an unrelated index floods the cache while the hot one keeps serving
      val dummy = new Hnsw.ShardGraph(
        Array(Hnsw.Node(0, 1L, Seq(0f), Seq(Seq.empty[Long]))), (_, _) => 0.0)
      for (i <- 0 until 20) {
        Hnsw.graphCache.put((s"other@$i", 0, "l2"), dummy)
        hotKeys.foreach(Hnsw.graphCache.get) // hot index stays recent
      }
      assert(Hnsw.graphCache.size() <= 6, "LRU must bound the cache")
      Hnsw.searchBatchFromDisk(spark, dir, qs, k = 5).count()
      assert(Hnsw.graphBuilds.get() == hotBuilds,
        "hot index must not rebuild after an unrelated index's overflow")
      assert(hotKeys.forall(Hnsw.graphCache.containsKey),
        "every hot shard graph must survive the flood")
    } finally {
      Hnsw.graphCacheCapacity = oldCap
      Hnsw.graphCache.clear()
    }
  }

  test("recommendEf lands in the [8,256] ladder and clears the target") {
    val qs = Array(5L, 50L).map(i => (i, Tables.queryVector(spark, "/root/testdata/sf0.001", i)))
    val ef = Hnsw.recommendEf(index, emb, "vec_id", "embedding", qs, k = 10, targetRecall = 0.9)
    assert(ef >= 8 && ef <= 256)
    val got = Hnsw.searchBatch(index, qs, k = 10, efSearch = ef)
      .select($"qid", $"id").as[(Long, Long)].collect().groupBy(_._1)
    val recalls = qs.map { case (qid, q) =>
      val exact = Knn.search(emb, "embedding", q, k = 10).select("vec_id").as[Long].collect().toSet
      (exact & got(qid).map(_._2).toSet).size.toDouble / 10
    }
    assert(recalls.sum / recalls.length >= 0.9)
  }

  test("incremental insert is bit-identical to a full rebuild over the union") {
    val old = emb.filter($"vec_id" < 400)
    val fresh = emb.filter($"vec_id" >= 400 && $"vec_id" < 450)
    val base = Hnsw.build(old, "vec_id", "embedding", numShards = 4)
    val incremental = Hnsw.insert(base, fresh, "vec_id", "embedding", numShards = 4)
    val full = Hnsw.build(emb.filter($"vec_id" < 450), "vec_id", "embedding", numShards = 4)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"shard", $"id", $"nbrs".cast("string")).as[(Int, Long, String)]
        .collect().toSet
    assert(key(incremental) == key(full))
  }

  test("incremental insert leaves untouched shards' rows as-is") {
    val old = emb.filter($"vec_id" < 400)
    val base = Hnsw.build(old, "vec_id", "embedding", numShards = 8).cache()
    val one = emb.filter($"vec_id" === 450L) // lands in exactly one shard
    val touchedShard = one
      .select(pmod(hash($"vec_id".cast("long")), lit(8)).cast("int")).head().getInt(0)
    val after = Hnsw.insert(base, one, "vec_id", "embedding", numShards = 8)
    val before = base.filter($"shard" =!= touchedShard)
      .select($"id", $"nbrs".cast("string")).as[(Long, String)].collect().toSet
    val kept = after.filter($"shard" =!= touchedShard)
      .select($"id", $"nbrs".cast("string")).as[(Long, String)].collect().toSet
    assert(kept == before)
  }

  test("maintenance keeps an index within 2·numShards partitions, however many calls") {
    var idx = Hnsw.build(emb.filter($"vec_id" < 400), "vec_id", "embedding", numShards = 4)
    for (i <- 0 until 4) {
      idx = Hnsw.insert(idx, emb.filter($"vec_id" === 400L + i), "vec_id", "embedding",
        numShards = 4)
      idx = Hnsw.deleteBulk(idx, Seq(10L + i).toDF("vec_id"), numShards = 4)
    }
    assert(idx.rdd.getNumPartitions <= 8, s"${idx.rdd.getNumPartitions} partitions")
    assert(idx.count() == 400)
  }

  test("delete rebuilds only touched shards and equals a from-scratch build") {
    val base = Hnsw.build(emb.filter($"vec_id" < 450), "vec_id", "embedding", numShards = 4)
    val dropped = Seq(410L, 420L, 430L)
    val after = Hnsw.delete(base, dropped, numShards = 4)
    val full = Hnsw.build(emb.filter($"vec_id" < 450 && !$"vec_id".isin(dropped: _*)),
      "vec_id", "embedding", numShards = 4)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"shard", $"id", $"nbrs".cast("string")).as[(Int, Long, String)]
        .collect().toSet
    assert(key(after) == key(full))
    assert(!after.select("id").as[Long].collect().toSet.exists(dropped.contains))
  }

  test("deleteBulk (erasure frame) equals the literal delete and a fresh build") {
    val base = Hnsw.build(emb.filter($"vec_id" < 450), "vec_id", "embedding",
      numShards = 4)
    val dropped = Seq(410L, 420L, 430L)
    val manifest = dropped.toDF("vec_id")
    val viaBulk = Hnsw.deleteBulk(base, manifest, numShards = 4)
    val viaLiteral = Hnsw.delete(base, dropped, numShards = 4)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"shard", $"id", $"nbrs".cast("string")).as[(Int, Long, String)]
        .collect().toSet
    assert(key(viaBulk) == key(viaLiteral))
    // an empty manifest is a no-op (a retraction list may be empty)
    assert(key(Hnsw.deleteBulk(base, manifest.limit(0), numShards = 4))
      == key(base))
    // layout mismatch still rejected loudly on the bulk path
    intercept[IllegalArgumentException](
      Hnsw.deleteBulk(base, manifest, numShards = 8))
  }

  test("insert UPSERTS a re-sent id; shard-layout mismatch is rejected loudly") {
    val base = Hnsw.build(emb.filter($"vec_id" < 100), "vec_id", "embedding", numShards = 4)
    // re-send id 7 with a DIFFERENT vector: one node, the new vector wins
    val newVec = Seq((7L, Seq.fill(64)(0.5f))).toDF("vec_id", "embedding")
    val after = Hnsw.insert(base, newVec, "vec_id", "embedding", numShards = 4)
    val rows7 = after.filter($"id" === 7L).select($"vec").as[Seq[Float]].collect()
    assert(rows7.length == 1 && rows7.head == Seq.fill(64)(0.5f))
    // equals a fresh build whose id-7 row carries the new vector
    val replaced = emb.filter($"vec_id" < 100 && $"vec_id" =!= 7L)
      .select($"vec_id", $"embedding").unionByName(newVec)
    val full = Hnsw.build(replaced, "vec_id", "embedding", numShards = 4)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"shard", $"id", $"nbrs".cast("string")).as[(Int, Long, String)]
        .collect().toSet
    assert(key(after) == key(full))
    // wrong numShards would mix two incompatible layouts — must throw
    intercept[IllegalArgumentException](
      Hnsw.insert(base, newVec, "vec_id", "embedding", numShards = 8))
    intercept[IllegalArgumentException](Hnsw.delete(base, Seq(7L), numShards = 8))
  }

  test("recallCurve reaches 1.0 on a corpus smaller than k (truth-sized denominator)") {
    val tiny = emb.filter($"vec_id" < 5)
    val idx = Hnsw.build(tiny, "vec_id", "embedding", numShards = 2)
    val qs = Array((0L, Tables.queryVector(spark, "/root/testdata/sf0.001", 0L)))
    val curve = Hnsw.recallCurve(idx, tiny, "vec_id", "embedding", qs, k = 10,
        efs = Seq(16)).collect()
    assert(curve.head.getDouble(1) == 1.0) // exhaustive => perfect, not 0.5
  }

  test("idShard mirrors the build's pmod(hash(id), n) exactly") {
    val fromSql = emb.limit(0).sparkSession.range(0, 100)
      .select($"id", pmod(hash($"id"), lit(4)).as("s"))
      .as[(Long, Int)].collect()
    fromSql.foreach { case (id, s) => assert(Hnsw.idShard(id, 4) == s, s"id $id") }
  }

  test("cosine metric index returns the cosine-nearest neighbor") {
    val cosIdx = Hnsw.build(emb, "vec_id", "embedding", numShards = 2, metric = "cosine")
    val q = Tables.queryVector(spark, "/root/testdata/sf0.001", 11L)
    val exact = Knn.search(emb, "embedding", q, k = 1, metric = "cosine")
      .select("vec_id").as[Long].head()
    val ann = Hnsw.search(cosIdx, q, k = 1, efSearch = 64, metric = "cosine")
      .select("id").as[Long].head()
    assert(ann == exact)
  }

  test("deleteBulk skips shards whose manifest ids are stray (r14 advice)") {
    // an erasure manifest of ids NOT in the index must be a structural
    // no-op: no shard rebuilds, rows verbatim (previously every hashed
    // shard of every stray id rebuilt for nothing)
    val stray = Seq(8000001L, 8000002L, 8000003L).toDF("vec_id")
    val out = Hnsw.deleteBulk(index, stray, numShards = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"shard", $"id", $"nbrs".cast("string"))
      .as[(Int, Long, String)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(rows(out) == rows(index))
  }

  test("lazy tombstones: never served, exhaustive == rebuilt == brute force") {
    val decoys = emb.filter($"vec_id" < 30)
      .withColumn("vec_id", $"vec_id" + 5000000L)
    val planted = Hnsw.build(emb.unionByName(decoys), "vec_id", "embedding",
      numShards = 4).cache()
    val tombs = Hnsw.tombstoneSet(
      decoys.select($"vec_id"))
    val qs = Array(0L, 7L, 33L).map(i =>
      (i, Tables.queryVector(spark, "/root/testdata/sf0.001", i)))
    // production ef: tombstoned ids never appear even though their
    // distance-0 twins would otherwise crowd out the true top-k
    val prod = Hnsw.searchBatch(planted, qs, k = 10, efSearch = 64,
        tombstones = tombs)
      .select($"id").as[Long].collect()
    assert(prod.forall(_ < 5000000L))
    // exhaustive dial: tombstoned == the rebuilt (deleteBulk) index,
    // row for row — the decoy-twin oracle contract
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"rank", $"id").as[(Long, Int, Long)]
      .collect().sortBy(t => (t._1, t._2)).toSeq
    val lazyRes = topk(Hnsw.searchBatch(planted, qs, k = 10,
      efSearch = 100000, tombstones = tombs))
    val rebuilt = Hnsw.deleteBulk(planted,
      decoys.select($"vec_id"), numShards = 4)
    assert(lazyRes == topk(Hnsw.searchBatch(rebuilt, qs, k = 10,
      efSearch = 100000)))
    planted.unpersist()
  }

  test("compact(minDeadFraction=0) is bit-identical to deleteBulk") {
    val decoys = emb.filter($"vec_id" % 3 === 0 && $"vec_id" < 60)
      .withColumn("vec_id", $"vec_id" + 5000000L)
    val planted = Hnsw.build(emb.unionByName(decoys), "vec_id", "embedding",
      numShards = 4).cache()
    val erasure = decoys.select($"vec_id")
    val (compacted, surviving) = Hnsw.compact(planted, erasure,
      numShards = 4, minDeadFraction = 0.0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"shard", $"id", $"nbrs".cast("string"))
      .as[(Int, Long, String)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(rows(compacted) == rows(Hnsw.deleteBulk(planted, erasure,
      numShards = 4)))
    assert(surviving.count() == 0) // all tombstones consumed
    planted.unpersist()
  }

  test("partial compact: cold shards keep rows verbatim, tombstones stay active") {
    // plant decoys whose ids all hash to ONE shard, plus one decoy
    // elsewhere: a threshold between the two dead fractions compacts
    // only the hot shard, and the surviving tombstones + compacted
    // index still serve exactly the rebuilt answer
    val decoys = emb.filter($"vec_id" < 40)
      .withColumn("vec_id", $"vec_id" + 5000000L)
    val planted = Hnsw.build(emb.unionByName(decoys), "vec_id", "embedding",
      numShards = 4).cache()
    val erasure = decoys.select($"vec_id")
    val nShardOf = (0 until 4).map(s =>
      s -> (0 until 40).count(i => Hnsw.idShard(i + 5000000L, 4) == s)).toMap
    val shardSizes = planted.groupBy($"shard").count()
      .as[(Int, Long)].collect().toMap
    val fracs = nShardOf.map { case (s, d) =>
      s -> d.toDouble / shardSizes(s) }
    val mid = (fracs.values.min + fracs.values.max) / 2
    val (compacted, surviving) = Hnsw.compact(planted, erasure,
      numShards = 4, minDeadFraction = mid)
    val hot = fracs.collect { case (s, f) if f >= mid => s }.toSet
    assert(hot.nonEmpty && hot.size < 4, fracs)
    // cold shards verbatim
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"shard", $"id", $"nbrs".cast("string"))
      .as[(Int, Long, String)].collect().sortBy(t => (t._1, t._2)).toSeq
    val coldCompacted = compacted.filter(!$"shard".isin(hot.toSeq: _*))
    val coldOriginal = planted.filter(!$"shard".isin(hot.toSeq: _*))
    assert(rows(coldCompacted) == rows(coldOriginal))
    // surviving tombstones are exactly the cold shards' dead ids
    val surv = surviving.as[Long].collect().toSet
    val expect = (0 until 40).map(_ + 5000000L)
      .filterNot(id => hot(Hnsw.idShard(id, 4))).toSet
    assert(surv == expect)
    // compacted + surviving tombstones == fully rebuilt, exhaustively
    val qs = Array(0L, 7L).map(i =>
      (i, Tables.queryVector(spark, "/root/testdata/sf0.001", i)))
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"rank", $"id").as[(Long, Int, Long)]
      .collect().sortBy(t => (t._1, t._2)).toSeq
    val served = topk(Hnsw.searchBatch(compacted, qs, k = 10,
      efSearch = 100000, tombstones = surv))
    val rebuilt = topk(Hnsw.searchBatch(
      Hnsw.deleteBulk(planted, erasure, numShards = 4), qs, k = 10,
      efSearch = 100000))
    assert(served == rebuilt)
    planted.unpersist()
  }

  test("tombstones at production ef keep recall: beam holds live results only") {
    // tombstone a third of the corpus; recall over the survivors at
    // ef=64 must stay in the tuner band (the dead nodes still route,
    // and the result heap is live-only, so the beam isn't starved)
    val tombs = Hnsw.tombstoneSet(emb.filter($"vec_id" % 3 === 0)
      .select($"vec_id"))
    val survivors = emb.filter($"vec_id" % 3 =!= 0)
    val qs = (0L until 20L).map(i =>
      (i, Tables.queryVector(spark, "/root/testdata/sf0.001", i))).toArray
    val got = Hnsw.searchBatch(index, qs, k = 10, efSearch = 64,
        tombstones = tombs)
      .select($"qid", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.values.forall(_.forall(id => id % 3 != 0)))
    val hits = qs.map { case (qid, q) =>
      val truth = Knn.search(survivors, "embedding", q, k = 10,
          tieBreak = Seq("vec_id"))
        .select("vec_id").as[Long].collect().toSet
      (truth & got.getOrElse(qid, Set.empty)).size
    }.sum
    assert(hits.toDouble / (qs.length * 10) >= 0.9)
  }

  /** The corpus vector of `id`. */
  private def vectorOf(id: Long): Array[Float] =
    emb.filter($"vec_id" === id).select($"embedding").as[Seq[Float]].head().toArray

  /** Every row of `df` with its vector and neighbor lists, in (shard, id) order. */
  private def fullRows(df: org.apache.spark.sql.DataFrame) = df
    .select($"shard", $"id", $"vec".cast("string"), $"nbrs".cast("string"))
    .as[(Int, Long, String, String)].collect().sortBy(t => (t._1, t._2, t._3)).toSeq

  test("insert keeps a batch's duplicate ids as build does; a later re-send replaces them") {
    val old = emb.filter($"vec_id" < 100).select($"vec_id", $"embedding")
    val base = Hnsw.build(old, "vec_id", "embedding", numShards = 4)
    val batch = Seq((500L, Seq.fill(64)(0.25f)), (501L, Seq.fill(64)(0.5f)),
      (500L, Seq.fill(64)(0.75f))).toDF("vec_id", "embedding")
    val after = Hnsw.insert(base, batch, "vec_id", "embedding", numShards = 4)
    assert(fullRows(after) ==
      fullRows(Hnsw.build(old.unionByName(batch), "vec_id", "embedding", numShards = 4)))
    assert(after.filter($"id" === 500L).count() == 2)
    val resent = Seq((500L, Seq.fill(64)(0.125f))).toDF("vec_id", "embedding")
    val again = Hnsw.insert(after, resent, "vec_id", "embedding", numShards = 4)
    assert(again.filter($"id" === 500L).select($"vec").as[Seq[Float]].collect().toSeq ==
      Seq(Seq.fill(64)(0.125f)))
    assert(again.count() == 102)
  }

  test("search returns a batch's duplicate id once, at its nearer vector") {
    val old = emb.filter($"vec_id" < 100).select($"vec_id", $"embedding")
    val batch = Seq((500L, Seq.fill(64)(0.25f)), (501L, Seq.fill(64)(0.5f)),
      (500L, Seq.fill(64)(0.75f))).toDF("vec_id", "embedding")
    val index = Hnsw.build(old.unionByName(batch), "vec_id", "embedding", numShards = 4)
    val q = Array.fill(64)(0.7f)
    val hits = Hnsw.searchBatch(index, Array((1L, q)), k = 103, efSearch = 200)
      .select($"id", $"distance", $"rank").as[(Long, Double, Int)].collect().sortBy(_._3)
    val ids = hits.map(_._1)
    assert(ids.distinct.length == ids.length, ids.toSeq)
    assert(hits.length == 102)
    assert(hits.map(_._3).toSeq == (1 to 102))
    val near = graft.functions.VectorOps.l2(q, Array.fill(64)(0.75f))
    assert(hits.find(_._1 == 500L).map(_._2).contains(near))
  }

  test("deleteBulk ignores null and stray manifest ids; an all-stale manifest returns the index") {
    val base = Hnsw.build(emb.filter($"vec_id" < 200), "vec_id", "embedding", numShards = 4)
      .localCheckpoint()
    val manifest = Seq[java.lang.Long](5L, null, 9000001L, null, 5L).toDF("vec_id")
    val out = Hnsw.deleteBulk(base, manifest, numShards = 4)
    assert(fullRows(out) == fullRows(Hnsw.build(emb.filter($"vec_id" < 200 && $"vec_id" =!= 5L),
      "vec_id", "embedding", numShards = 4)))
    val shard5 = Hnsw.idShard(5L, 4)
    assert(fullRows(out.filter($"shard" =!= shard5)) == fullRows(base.filter($"shard" =!= shard5)))
    val stale = Seq[java.lang.Long](null, 9000001L, 5000000L).toDF("vec_id")
    assert(Hnsw.deleteBulk(base, stale, numShards = 4) eq base)
    assert(Hnsw.deleteBulk(base, manifest.limit(0), numShards = 4) eq base)
  }

  test("tombstoneSet skips a null manifest id instead of failing the collect") {
    assert(Hnsw.tombstoneSet(Seq[java.lang.Long](1L, null).toDF("vec_id")) == Set(1L))
  }

  test("maintenance stays within 2·numShards partitions when parallelism exceeds numShards") {
    assume(spark.sparkContext.defaultParallelism > 2)
    var idx = Hnsw.build(emb.filter($"vec_id" < 300), "vec_id", "embedding", numShards = 2)
    for (i <- 0 until 4) {
      idx = Hnsw.insert(idx, emb.filter($"vec_id" === 300L + i || $"vec_id" === 310L + i),
        "vec_id", "embedding", numShards = 2)
      idx = Hnsw.deleteBulk(idx, Seq(10L + i, 20L + i).toDF("vec_id"), numShards = 2)
      assert(idx.rdd.getNumPartitions <= 4, s"${idx.rdd.getNumPartitions} partitions")
    }
    assert(idx.count() == 300)
  }

  test("layout mismatch fails every maintenance call at call time, with one message") {
    val base = Hnsw.build(emb.filter($"vec_id" < 100), "vec_id", "embedding", numShards = 4)
    val ids = Seq(7L).toDF("vec_id")
    val calls = Seq[() => Any](
      () => Hnsw.insert(base, emb.filter($"vec_id" === 150L), "vec_id", "embedding", numShards = 8),
      () => Hnsw.delete(base, Seq(7L), numShards = 8),
      () => Hnsw.deleteBulk(base, ids, numShards = 8),
      () => Hnsw.compact(base, ids, numShards = 8))
    calls.foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage ==
        "requirement failed: index shard layout does not match numShards=8 — pass the build-time value")
    }
  }

  test("searchBatch keeps its argument contract: empty queries, unknown metric, ef clamp") {
    val q = Array((7L, vectorOf(7L)))
    assert(intercept[IllegalArgumentException](Hnsw.searchBatch(index, Array.empty))
      .getMessage == "requirement failed: need at least one query")
    assert(intercept[IllegalArgumentException](Hnsw.searchBatch(index, q, metric = "l7"))
      .getMessage == "unknown metric: l7")
    // ef below 1 walks at ef 1; above the clamp, exhaustively
    def ids(ef: Int) = Hnsw.searchBatch(index, q, k = 3, efSearch = ef)
      .select($"id").as[Long].collect().toSeq
    assert(ids(-5) == ids(1))
    assert(ids(Int.MaxValue) == ids(100000))
  }

  test("a graph-cache hit serves bit-identical rows without building; lookups are counted") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_hit").toString
    Hnsw.write(index, dir)
    val qs = Seq(0L, 7L, 33L).map(i => (i, vectorOf(i))).toArray
    def run() = Hnsw.searchBatchFromDisk(spark, dir, qs, k = 10)
      .select("qid", "id", "distance", "rank").as[(Long, Long, Double, Int)].collect()
      .map { case (q, id, d, r) => (q, r, id, java.lang.Double.doubleToRawLongBits(d)) }.sorted.toSeq
    val hits = Metrics.counter(spark, Metrics.CacheHits)
    val misses = Metrics.counter(spark, Metrics.CacheMisses)
    Hnsw.graphCache.clear()
    val (h0, m0) = (hits.value.longValue, misses.value.longValue)
    val first = run()
    assert(misses.value.longValue - m0 == 4 && hits.value.longValue == h0, "4 shards, all built")
    val builds = Hnsw.graphBuilds.get()
    val second = run()
    assert(Hnsw.graphBuilds.get() == builds, "a cache hit builds no graph")
    assert(hits.value.longValue - h0 == 4, "one hit per shard")
    assert(second == first)
    assert(first == Hnsw.searchBatch(index, qs, k = 10)
      .select("qid", "id", "distance", "rank").as[(Long, Long, Double, Int)].collect()
      .map { case (q, id, d, r) => (q, r, id, java.lang.Double.doubleToRawLongBits(d)) }.sorted.toSeq)
  }

  test("build adds the rows it indexes to vectors_indexed") {
    val n = emb.count()
    val indexed = Metrics.counter(spark, Metrics.VectorsIndexed)
    val before = indexed.value.longValue
    Hnsw.build(emb, "vec_id", "embedding", numShards = 4).count()
    assert(indexed.value.longValue - before == n)
  }

  test("compact at a mid threshold passes cold shards' rows through unshuffled and verbatim") {
    // the dead ids: 1 in 8 of shard 0's rows, 1 in 3 of every other shard's
    val base = Hnsw.build(emb, "vec_id", "embedding", numShards = 4).localCheckpoint()
    val ids = emb.select($"vec_id").as[Long].collect().sorted
    val dead = ids.filter(id => id % (if (Hnsw.idShard(id, 4) == 0) 8 else 3) == 0)
    val (compacted, surviving) = Hnsw.compact(base, dead.toSeq.toDF("vec_id"), numShards = 4,
      minDeadFraction = 0.25)
    assert(fullRows(compacted.filter($"shard" === 0)) == fullRows(base.filter($"shard" === 0)))
    assert(surviving.as[Long].collect().sorted.toSeq == dead.filter(Hnsw.idShard(_, 4) == 0).toSeq)
    assert(fullRows(compacted.filter($"shard" =!= 0)) == fullRows(Hnsw.build(
      emb.filter(!$"vec_id".isin(dead: _*) && pmod(hash($"vec_id"), lit(4)) =!= 0),
      "vec_id", "embedding", numShards = 4)))
    // the frame reads a union of the cold rows (narrow, no shuffle) and
    // the rebuilt shards (one by-number shuffle)
    val union = compacted.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.get
    val Seq(cold, hot) = union.dependencies.map(_.rdd)
    def shuffles(r: org.apache.spark.rdd.RDD[_]): Int =
      r.dependencies.map(d => (if (d.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]]) 1
        else 0) + shuffles(d.rdd)).sum
    assert(shuffles(cold) == 0 && shuffles(hot) == 1)
    val shardsOf = (r: org.apache.spark.rdd.RDD[_]) => r.asInstanceOf[
      org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]]
      .map(_.getInt(0)).distinct().collect().toSet
    assert(shardsOf(cold) == Set(0) && shardsOf(hot) == Set(1, 2, 3))
  }
}
