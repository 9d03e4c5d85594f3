package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, Hybrid, Ivf, IvfPq, Knn, Pq}

/** Driver-side vector arithmetic the checks compare the engine against. */
object Vec {
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i).toDouble; na += a(i) * a(i).toDouble; nb += b(i) * b(i).toDouble
      i += 1
    }
    1.0 - d / math.sqrt(na * nb)
  }

  /** Exact top-k ids of `q` over (id, vec) rows, ascending (distance, id). */
  def topK(q: Array[Float], rows: Iterable[(Long, Array[Float])], k: Int): Array[(Long, Double)] =
    rows.iterator.map { case (id, v) => (id, l2(q, v)) }.toArray
      .sortBy { case (id, d) => (d, id) }.take(k)

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-4 * math.max(1.0, math.abs(b))
}

/**
 * `knn_point`: a closed loop with one client and one query in flight. Each
 * operation is one public search call whose top rows are collected, the
 * call types taken round-robin. Per-call work is small, so planning, job
 * scheduling and driver-side routing dominate: a per-call overhead gain
 * shows here, a kernel gain barely moves it.
 */
final class KnnPoint(ctx: Ctx) extends Workload {
  import KnnPoint._
  private val spark = ctx.spark
  import spark.implicits._

  private var corpus: DataFrame = _
  private var vecs: Array[Array[Float]] = _
  private var queries: Array[(Long, Array[Float], Int)] = _
  private var truth: Array[Array[(Long, Double)]] = _
  private var ivf: Ivf.IvfModel = _
  private var ivfDisk: Ivf.IvfModel = _
  private var pqDisk: IvfPq.IvfPqModel = _
  private var hnsw: DataFrame = _
  private var fp = ""
  private var spaceAmp = 0.0
  private var recallSum = 0.0
  private var recallN = 0
  private val perCall = Array.fill(Calls.length)(scala.collection.mutable.ArrayBuffer[Double]())
  private val hnswPath = ctx.dir.resolve("hnsw").toString

  def fingerprint: String = fp

  def setup(): Unit = {
    release()
    val (rows, qs, f) = inputs(ctx.seed)
    vecs = rows.map(_._2)
    queries = qs
    fp = f
    corpus = ctx.pin(spark.sparkContext.parallelize(rows.toSeq, Parts).toDF("id", "vec", "text"))
    val idVecs = rows.map(r => (r._1, r._2))
    truth = queries.map(q => Vec.topK(q._2, idVecs, K))

    val built = ctx.call("Ivf.build")(Ivf.build(corpus, "vec", NLists, ctx.seed, MaxIter))
    ivf = built.copy(assigned = ctx.pin(built.assigned))
    val pq = ctx.call("IvfPq.model") {
      // IvfPq.build's composition over the IVF lists already built: its own
      // coarse quantiser and a 10,000-sample codebook would cost ~30 s more
      val cb = Pq.train(ivf.assigned, "vec", PqM, 256, PqSample, 15, ctx.seed)
      IvfPq.IvfPqModel(ivf, cb, ctx.pin(Pq.encodeTable(ivf.assigned, "vec", cb)), "id")
    }
    hnsw = ctx.call("Hnsw.build")(ctx.pin(Hnsw.build(corpus, "id", "vec", Shards, HnswParams)))
    ctx.call("Ivf.writePartitioned")(Ivf.writePartitioned(ivf, ctx.dir.resolve("ivf").toString))
    ctx.call("IvfPq.writePartitioned")(
      IvfPq.writePartitioned(pq, ctx.dir.resolve("ivfpq").toString))
    ctx.call("Hnsw.write")(Hnsw.write(hnsw, hnswPath))
    pq.encoded.unpersist()
    ivfDisk = ctx.call("Ivf.loadPartitioned")(
      Ivf.loadPartitioned(spark, ctx.dir.resolve("ivf").toString, "vec"))
    pqDisk = ctx.call("IvfPq.loadPartitioned")(
      IvfPq.loadPartitioned(spark, ctx.dir.resolve("ivfpq").toString, "vec", "id"))
    spaceAmp = Seq("ivf", "hnsw", "ivfpq").map(d => Fs.bytesUnder(ctx.dir.resolve(d))).sum /
      (N.toDouble * Gen.Dim * 4)

    // nprobe = nlists probes every list, so it must equal brute force
    for (qi <- 0 until 4) ctx.op("ivf_exhaustive") {
      val got = ids(ivf.search(queries(qi)._2, K, NLists).select("id", "distance").collect())
      exact("ivf_exhaustive", qi, got)
    }
  }

  /** Every call type once. */
  override def warmup(): Unit = {
    for (c <- Calls.indices) step(c)
    recallSum = 0.0; recallN = 0
    perCall.foreach(_.clear())
  }

  private def ids(rows: Array[Row]): Array[(Long, Double)] =
    rows.map(r => (r.getLong(0), r.getDouble(1)))

  /** Rows are (id, distance): each distance must be the true distance of
    * its id, ascending, ids distinct; returns recall@10 against truth. */
  private def valid(name: String, qi: Int, got: Array[(Long, Double)]): Double = {
    val q = queries(qi)._2
    ctx.expect(got.length == K, s"$name q$qi: ${got.length} rows, want $K")
    ctx.expect(got.map(_._1).distinct.length == got.length, s"$name q$qi: duplicate ids")
    got.foreach { case (id, d) =>
      ctx.expect(id >= 0 && id < N && Vec.close(d, Vec.l2(q, vecs(id.toInt))),
        s"$name q$qi: id $id distance $d is wrong")
    }
    ctx.expect(got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) <= p(1) + 1e-9),
      s"$name q$qi: not ascending")
    got.map(_._1).toSet.intersect(truth(qi).map(_._1).toSet).size.toDouble / K
  }

  /** An exact call: its distances must be brute force's. */
  private def exact(name: String, qi: Int, got: Array[(Long, Double)]): Unit = {
    valid(name, qi, got)
    got.zip(truth(qi)).foreach { case ((_, d), (_, t)) =>
      ctx.expect(Vec.close(d, t), s"$name q$qi: distance $d where brute force has $t")
    }
  }

  def step(i: Int): Option[Sample] = {
    val c = i % Calls.length
    val qi = (i / Calls.length) % NQueries
    val (_, q, comp) = queries(qi)
    var ms = 0.0
    def timed(body: => Array[Row]): Array[Row] = {
      val t0 = System.nanoTime()
      val r = ctx.call(Calls(c))(body)
      ms = (System.nanoTime() - t0) / 1e6
      r
    }
    val t0 = System.nanoTime()
    ctx.op(Calls(c)) {
      val rows = c match {
        case 0 => timed(Knn.search(corpus, "vec", q, K).select("id", "distance").collect())
        case 1 => timed(ivf.search(q, K, NProbe).select("id", "distance").collect())
        case 2 => timed(ivfDisk.search(q, K, NProbe).select("id", "distance").collect())
        case 3 => timed(IvfPq.search(pqDisk, q, K, PqNProbe, RerankPool)
          .select("id", "distance").collect())
        case 4 => timed(Hnsw.searchBatchFromDisk(spark, hnswPath, Array((0L, q)), K, Ef)
          .select("id", "distance").collect())
        case 5 => timed(Hnsw.search(hnsw, q, K, Ef).select("id", "distance").collect())
        case 6 => timed(Hybrid.hybridSearch(corpus, "id", "vec", "text", q,
            Gen.queryText(comp), 0.7, HybridK)
          .select("id", "vector_score", "hybrid_score").collect())
      }
      if (c == 0) exact(Calls(c), qi, ids(rows))
      else if (c == 6) {
        ctx.expect(rows.length == HybridK, s"hybrid q$qi: ${rows.length} rows")
        rows.foreach { r =>
          ctx.expect(Vec.close(r.getDouble(1), 1.0 - Vec.l2(q, vecs(r.getLong(0).toInt))),
            s"hybrid q$qi: vector_score of ${r.getLong(0)} is wrong")
        }
        ctx.expect(rows.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
          s"hybrid q$qi: not in descending score order")
      } else {
        recallSum += valid(Calls(c), qi, ids(rows)); recallN += 1
      }
      perCall(c) += ms
      Sample(ms, 1.0, (System.nanoTime() - t0) / 1e9, c)
    }
  }

  def quality: Double = if (recallN == 0) 0.0 else recallSum / recallN

  def report(samples: Seq[Sample]): Seq[(String, Double, String)] = {
    val ms = samples.map(_.ms)
    val tail = Seq(99.0, 95.0, 90.0, 80.0, 75.0).find(p => Stats.tail(ms, p).isDefined)
    Seq(("point_p50_ms", Stats.median(ms), "ms"),
      ("point_p50_per_call_ms", Sample.p50(samples), "ms")) ++
      Stats.tail(ms, 95).map(v => ("point_p95_ms", v, "ms")) ++
      tail.filter(_ != 95.0).map(p => (f"point_p$p%.0f_ms", Stats.percentile(ms, p), "ms")) ++
      Seq(("point_qps", Sample.throughput(samples), "queries/s"),
        ("recall_at_10", quality, "ratio"),
        ("index_space_amp", spaceAmp, "ratio"),
        ("point_samples", samples.size.toDouble, "count")) ++
      Calls.indices.filter(perCall(_).nonEmpty).map(c =>
        (s"p50_ms.${Calls(c)}", Stats.median(perCall(c).toSeq), "ms"))
  }

  override def cycle: Int = Calls.length

  /** Per cycle: `Knn.search` and `Hybrid.hybridSearch` scan the corpus,
    * the two IVF searches their probed lists (averaged over the query
    * pool). The PQ scan and the HNSW graph walks run other code and are
    * not counted. */
  override def kernelPairs: (Double, Double) = {
    val sizes = ivf.assigned.groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val probed = queries.map(q => ivf.route(q._2, NProbe).map(c => sizes.getOrElse(c, 0L)).sum)
    (2.0 * N + 2.0 * probed.sum / probed.length, 0.0)
  }

  override def layers: Seq[(String, Double, String)] = {
    val t0 = System.nanoTime()
    var n = 0
    while (System.nanoTime() - t0 < 200000000L) {
      queries.foreach(q => ivf.route(q._2, NProbe))
      n += queries.length
    }
    Seq(("ivf.route_us", (System.nanoTime() - t0) / 1e3 / n, "us"),
      ("index.space_amp", spaceAmp, "ratio"))
  }

  def release(): Unit = {
    Seq(Option(corpus), Option(hnsw), Option(ivf).map(_.assigned)).flatten.foreach(_.unpersist())
  }
}

object KnnPoint {
  /** The corpus (id, vector, text), the query pool and their fingerprint. */
  def inputs(seed: Long): (Array[(Long, Array[Float], String)],
                           Array[(Long, Array[Float], Int)], String) = {
    val f = new Gen.Fingerprint
    val cs = Gen.centres(seed)
    val rows = Array.tabulate(N) { i =>
      val (_, v, t) = Gen.mixtureRow(seed, 10, i.toLong, cs)
      f.addFloats(v); f.addString(t)
      (i.toLong, v, t)
    }
    val qs = Gen.queries(seed, 11, NQueries)
    qs.foreach(q => f.addFloats(q._2))
    (rows, qs, f.hex)
  }

  final val N = 5000
  final val Parts = 4
  final val NQueries = 64
  final val K = 10
  final val NLists = 16
  final val NProbe = 4
  final val MaxIter = 5
  final val PqM = 8
  final val PqSample = 256
  final val PqNProbe = 4
  final val RerankPool = 64
  final val Shards = 4
  final val Ef = 64
  final val HybridK = 20
  val HnswParams: Hnsw.Params = Hnsw.Params(efConstruction = 64)
  val Calls: Array[String] = Array("Knn.search", "Ivf.IvfModel.search", "Ivf.disk_search",
    "IvfPq.search", "Hnsw.searchBatchFromDisk", "Hnsw.search", "Hybrid.hybridSearch")
}
