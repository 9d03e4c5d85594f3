package graft.perfbench

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{Hnsw, Ivf}

/**
 * `knn_batch`: a closed loop of rounds on the `knn_point` generator (its
 * own seed streams). Each round inserts B fresh vectors into the IVF and
 * HNSW indexes, answers a batch of query vectors three ways (exact IVF
 * kNN join, HNSW batch search, cosine-ε IVF join), then bulk-deletes the B
 * oldest rows, so the corpus size stays constant. Each round's indexes are
 * materialised as rows with their lineage cut, and the previous ones
 * released, so neither the plan nor the lineage grows across rounds.
 * The search phase (the blocked joins and the HNSW batch walk) takes
 * about half of a round and index maintenance the rest; the distance
 * kernel itself is a small share of either (`kernel.cycle_share` in the
 * traced run). Writes beside reads make a search gain bought with ingest
 * cost, or the reverse, visible.
 */
final class KnnBatch(ctx: Ctx) extends Workload {
  import KnnBatch._
  private val spark = ctx.spark
  import spark.implicits._

  private var ivf: Ivf.IvfModel = _
  private var hnsw: DataFrame = _
  // the materialised rows behind `ivf.assigned` and `hnsw`, released next round
  private var pinned: Seq[RDD[Row]] = Nil
  // live rows in insertion order (oldest first), and every deleted id
  private val live = mutable.LinkedHashMap[Long, Array[Float]]()
  private val deleted = mutable.HashSet[Long]()
  private var round = 0
  private var fp = ""
  private var recallSum = 0.0
  private var recallN = 0
  private var maintRows = 0.0
  private var maintS = 0.0
  private var lastQueries: Array[(Long, Array[Float])] = Array.empty
  private var lastJoinPairs = 0L
  private val perCall = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def fingerprint: String = fp

  def setup(): Unit = {
    release()
    live.clear(); deleted.clear(); round = 0
    val (corpus0, f) = inputs(ctx.seed)
    corpus0.foreach { case (id, v) => live(id) = v }
    fp = f
    val corpus = spark.sparkContext.parallelize(corpus0.toSeq, Parts).toDF("id", "vec")
    val built = ctx.call("Ivf.build")(Ivf.build(corpus, "vec", NLists, ctx.seed, MaxIter))
    val (a, ca, _) = rebase(built.assigned)
    val (h, ch, _) = ctx.call("Hnsw.build")(
      rebase(Hnsw.build(corpus, "id", "vec", Shards, HnswParams)))
    ivf = built.copy(assigned = a); hnsw = h; pinned = Seq(ca, ch)
  }

  /** One full round. */
  override def warmup(): Unit = {
    step(-1)
    recallSum = 0.0; recallN = 0; maintRows = 0.0; maintS = 0.0
    perCall.clear()
  }

  /** A public call as a span, its duration kept per call name. */
  private def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = ctx.call(name)(body)
    perCall.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += (System.nanoTime() - t0) / 1e6
    r
  }

  def step(i: Int): Option[Sample] = ctx.op("round") {
    val r = round
    round += 1
    val ins = fresh(ctx.seed, r)
    val insDf = spark.sparkContext.parallelize(ins.toSeq, Parts).toDF("id", "vec")
    val t0 = System.nanoTime()

    // 1. insert
    val (a1, ca1, _) = timed("Ivf.insert")(rebase(Ivf.insert(ivf, insDf).assigned))
    val (h1, ch1, _) = timed("Hnsw.insert")(
      rebase(Hnsw.insert(hnsw, insDf, "id", "vec", Shards, HnswParams)))
    release()
    ivf = ivf.copy(assigned = a1); hnsw = h1; pinned = Seq(ca1, ch1)
    val tIns = System.nanoTime()
    ins.foreach { case (id, v) => live(id) = v }

    // 2. answer the query vectors three ways: held-out ones and the
    // vectors just inserted (which must find themselves at rank 1)
    val held = heldOut(ctx.seed, r)
    val qs = held ++ ins.map { case (id, v) => (QHeld + (id - ins.head._1), v) }
    val qDf = spark.sparkContext.parallelize(qs.toSeq, Parts).toDF("qid", "qvec")
    val kj = timed("Ivf.knnJoin")(Ivf.knnJoin(ivf, qDf, "qvec", "qid", K)
      .select("qid", "t_id", "distance", "rank").collect())
    val hs = timed("Hnsw.searchBatch")(Hnsw.searchBatch(hnsw, qs, K, Ef)
      .select("qid", "id", "distance", "rank").collect())
    val jn = timed("Ivf.join")(Ivf.join(ivf, qDf, "qvec", "cosine", Eps, NProbe)
      .select("l_id", "r_qid", "distance").collect())
    val tSearch = System.nanoTime()

    // 3. delete the B oldest rows
    val gone = live.keysIterator.take(B).toArray
    val delDf = spark.sparkContext.parallelize(gone.toSeq, Parts).toDF("id")
    val (a2, ca2, ivfRows) =
      timed("Ivf.deleteBulk")(rebase(Ivf.deleteBulk(ivf, "id", delDf).assigned))
    val (h2, ch2, hnswRows) = timed("Hnsw.deleteBulk")(
      rebase(Hnsw.deleteBulk(hnsw, delDf, Shards, HnswParams)))
    release()
    ivf = ivf.copy(assigned = a2); hnsw = h2; pinned = Seq(ca2, ch2)
    val tDel = System.nanoTime()

    check(qs, held.length, ins.head._1, kj, hs, jn)
    gone.foreach { id => live.remove(id); deleted += id }
    ctx.expect(ivfRows == N && hnswRows == N,
      s"round $r: index sizes $ivfRows/$hnswRows after delete, want $N")
    lastQueries = qs; lastJoinPairs = jn.length
    maintRows += 2.0 * B
    maintS += ((tIns - t0) + (tDel - tSearch)) / 1e9
    Sample((tDel - t0) / 1e6, 3.0 * qs.length, (tSearch - tIns) / 1e9)
  }

  private def check(qs: Array[(Long, Array[Float])], nHeld: Int, firstIns: Long,
                    kj: Array[Row], hs: Array[Row],
                    jn: Array[Row]): Unit = {
    val byQ = (rows: Array[Row]) =>
      rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(3)).map(x => (x.getLong(1), x.getDouble(2)))
      }
    val kjQ = byQ(kj); val hsQ = byQ(hs)
    val rows = live.toSeq
    qs.foreach { case (qid, q) =>
      for ((name, got) <- Seq("Ivf.knnJoin" -> kjQ.getOrElse(qid, Array.empty),
                              "Hnsw.searchBatch" -> hsQ.getOrElse(qid, Array.empty))) {
        ctx.expect(got.length == K, s"$name q$qid: ${got.length} rows")
        got.foreach { case (id, d) =>
          ctx.expect(!deleted(id), s"$name q$qid: deleted id $id came back")
          ctx.expect(live.get(id).exists(v => Vec.close(d, Vec.l2(q, v))),
            s"$name q$qid: id $id distance $d is wrong")
        }
      }
      if (qid < nHeld) {
        val truth = Vec.topK(q, rows, K)
        kjQ(qid).zip(truth).foreach { case ((_, d), (_, t)) =>
          ctx.expect(Vec.close(d, t), s"Ivf.knnJoin q$qid: distance $d where brute force has $t")
        }
        recallSum += hsQ(qid).map(_._1).toSet.intersect(truth.map(_._1).toSet).size.toDouble / K
        recallN += 1
      } else {
        val self = firstIns + (qid - nHeld)
        ctx.expect(kjQ(qid).head._1 == self, s"Ivf.knnJoin: inserted id $self not at rank 1")
        ctx.expect(hsQ(qid).head._1 == self, s"Hnsw.searchBatch: inserted id $self not at rank 1")
        ctx.expect(jn.exists(r => r.getLong(0) == self && r.getLong(1) == qid),
          s"Ivf.join: inserted id $self does not pair with itself")
      }
    }
    jn.foreach { r =>
      val id = r.getLong(0); val d = r.getDouble(2)
      ctx.expect(!deleted(id), s"Ivf.join: deleted id $id came back")
      ctx.expect(d <= Eps + 1e-9 && live.get(id).exists(v =>
        Vec.close(d, Vec.cosine(qs(r.getLong(1).toInt)._2, v))),
        s"Ivf.join: pair ($id, ${r.getLong(1)}) distance $d is wrong")
    }
  }

  def quality: Double = if (recallN == 0) 0.0 else recallSum / recallN

  def report(samples: Seq[Sample]): Seq[(String, Double, String)] = Seq(
    ("round_p50_ms", Stats.median(samples.map(_.ms)), "ms"),
    ("batch_qps", Sample.throughput(samples), "query vectors/s"),
    ("ingest_rows_per_s", maintRows / maintS, "rows/s"),
    ("recall_at_10", quality, "ratio"),
    ("rounds", samples.size.toDouble, "count")) ++
    perCall.map { case (k, ms) => (s"p50_ms.$k", Stats.median(ms.toSeq), "ms") }

  /** The pairs the last round's joins handed the distance kernel, as
    * (exact kNN join pass 1, pass 2, ε-join candidates), replayed on the
    * driver over the index as it stands after the round: pass 1 scans
    * the `initProbes` (4) nearest lists of each query; pass 2 every list
    * whose lower bound d(q, c) − radius(c) is within the query's pass-1
    * k-th distance; the ε-join the `NProbe` nearest lists. */
  private lazy val lastRoundPairs: (Long, Long, Long) = {
    val rows = ivf.assigned.select("cluster_id", "vec").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val lists = rows.groupBy(_._1).map { case (c, rs) => c -> rs.map(_._2) }
    val size = (c: Int) => lists.get(c).map(_.length.toLong).getOrElse(0L)
    val radius = ivf.centroids.indices.map { c =>
      lists.get(c).map(_.map(v => Vec.l2(v, ivf.centroids(c))).max).getOrElse(0.0)
    }
    var p1, p2, ej = 0L
    lastQueries.foreach { case (_, q) =>
      val first = ivf.route(q, 4)
      p1 += first.map(size).sum
      val ds = first.flatMap(c => lists.getOrElse(c, Array.empty).map(v => Vec.l2(q, v))).sorted
      val dk = if (ds.length >= K) ds(K - 1) + 1e-9 else Double.MaxValue
      p2 += ivf.centroids.indices
        .filter(c => Vec.l2(q, ivf.centroids(c)) - radius(c) <= dk).map(size).sum
      ej += ivf.route(q, NProbe).map(size).sum
    }
    (p1, p2, ej)
  }

  override def kernelPairs: (Double, Double) = {
    val (p1, p2, ej) = lastRoundPairs
    ((p1 + p2).toDouble, ej.toDouble)
  }

  /** Pairs within ε over the ε-join's candidate pairs. */
  override def layers: Seq[(String, Double, String)] =
    Seq(("ivf.join_yield", lastJoinPairs.toDouble / math.max(1L, lastRoundPairs._3), "ratio"))

  /** Materialise an index and cut its lineage: its rows are checkpointed
    * locally, counted, and a frame over them replaces the derived one.
    * Cache + count alone keeps both lineages: the maintenance calls read
    * the old index more than once (Hnsw.insert for the untouched and the
    * rebuilt shards), so the plan doubled and the RDD lineage grew every
    * round, and rounds slowed down with it. Returns the frame, the rows to
    * release once the next index exists, and the row count. */
  private def rebase(df: DataFrame): (DataFrame, RDD[Row], Long) = {
    val rows = df.rdd.localCheckpoint()
    val n = rows.count()
    (spark.createDataFrame(rows, df.schema), rows, n)
  }

  def release(): Unit = { pinned.foreach(_.unpersist()); pinned = Nil }
}

object KnnBatch {
  /** The B vectors round `r` inserts, with their ids. */
  def fresh(seed: Long, r: Int): Array[(Long, Array[Float])] = {
    val cs = Gen.centres(seed)
    Array.tabulate(B) { k =>
      val id = N.toLong + r.toLong * B + k
      (id, Gen.mixtureRow(seed, 12, id, cs)._2)
    }
  }

  /** Round `r`'s held-out query vectors. */
  def heldOut(seed: Long, r: Int): Array[(Long, Array[Float])] = {
    val cs = Gen.centres(seed)
    Array.tabulate(QHeld) { k =>
      (k.toLong, Gen.mixtureRow(seed, 13, r.toLong * QHeld + k, cs)._2)
    }
  }

  /** The initial corpus and a fingerprint of it and of the first rounds'
    * inserts and queries. */
  def inputs(seed: Long): (Array[(Long, Array[Float])], String) = {
    val f = new Gen.Fingerprint
    val cs = Gen.centres(seed)
    val corpus = Array.tabulate(N) { i =>
      val v = Gen.mixtureRow(seed, 10, i.toLong, cs)._2
      f.addFloats(v)
      (i.toLong, v)
    }
    (0 until 8).foreach { r =>
      fresh(seed, r).foreach(x => f.addFloats(x._2))
      heldOut(seed, r).foreach(x => f.addFloats(x._2))
    }
    (corpus, f.hex)
  }

  final val N = 2000
  final val Parts = 4
  final val B = 8
  final val QHeld = 256
  final val K = 10
  final val NLists = 16
  final val NProbe = 4
  final val MaxIter = 5
  final val Eps = 0.08
  final val Shards = 16
  final val Ef = 64
  val HnswParams: Hnsw.Params = Hnsw.Params(efConstruction = 64)
}
