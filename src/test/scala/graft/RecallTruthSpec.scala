package graft

import java.security.MessageDigest

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import graft.operators.{Hnsw, Ivf, Knn}

/** The exact top-k behind every recall truth ([[Knn.exactTopK]]): the
  * curves and tuner picks of `Ivf.recallCurve`, `recommendNprobe`,
  * `Hnsw.recallCurve` and `recommendEf` are pinned to SHA-256 hashes
  * recorded while each still ranked its own truth. The integer-grid
  * fixture repeats every point under two ids, so distances tie exactly
  * and the tie-break by id decides who is in the top k; the zero
  * vectors give inner-product distances of −0.0. */
class RecallTruthSpec extends SparkSpecBase {
  import spark.implicits._

  private def bits(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  private def sha256(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def lines(df: DataFrame): Seq[String] =
    df.columns.mkString(",") +: df.collect().toSeq.map(r => s"${r.getInt(0)},${bits(r.getDouble(1))}")

  private val points: Seq[(Long, Array[Float])] = {
    val base = (0 until 24).map { i =>
      Array(i % 3 - 1, (i / 3) % 3 - 1, (i * 7) % 5 - 2, (i * 3) % 4 - 2).map(_.toFloat)
    }
    base.indices.flatMap(i => Seq(i.toLong -> base(i), (100L + i) -> base(i))) ++
      Seq(60L -> Array.fill(4)(0f), 61L -> Array.fill(4)(0f))
  }

  private lazy val corpus = spark.sparkContext
    .parallelize(points.map { case (id, v) => (id, v.toSeq, s"p$id") }, 3)
    .toDF("id", "vec", "tag")

  /** 300 ids whose coordinates depend only on id mod 5 (five distinct
    * grid points), the first 60 again under id + 1000: every query ties
    * with about 70 rows, so the truth's members are decided by id alone,
    * and the graph walk returns other members of the tie (recall < 1). */
  private lazy val wide = {
    val pts = (0 until 300).map { i =>
      (i.toLong, (0 until 4).map(j => (((i * 37 + j * 11 + i * j * 7) % 5) - 2).toFloat))
    }
    spark.sparkContext.parallelize(pts ++ pts.take(60).map { case (i, v) => (i + 1000L, v) }, 3)
      .toDF("id", "vec")
  }

  private val queries: Array[(Long, Array[Float])] =
    points.filter { case (id, _) => Set(0L, 5L, 13L, 105L, 60L)(id) }.toArray ++ Array(
      900L -> Array(0.5f, -0.5f, 1.5f, 0f),
      901L -> Array(-1f, -1f, -2f, -2f),
      902L -> Array(0f, 0f, 0f, 0f))

  private lazy val model = {
    val centroids = Array(Array(1f, 1f, 1f, 1f), Array(-1f, -1f, -1f, -1f),
      Array(1f, -1f, 1f, -1f), Array(-1f, 1f, -1f, 1f))
    Ivf.IvfModel(centroids, Ivf.routeWith(centroids, corpus, "vec"), "vec")
  }

  private val IvfCurveHash = "0a9bd8821948b93c8e59868340b91b00a045460fa1012481590dbbb3d8dcb1b4"
  private val NprobeHash = "1c3829202b9edeabc47a0602167b053af643101617816969f796cd65169a8f4f"
  private val HnswCurveHash = "4fc48488d57485ecea5a430afb3c1f340c7682827ef8643dd062b2f872d4ad25"
  private val EfHash = "1aa567bc5bb36f713ee3a2523aa4d0d4d0dc84fa7d03a5501925a95124b40bc0"

  test("Ivf.recallCurve pins: excludeSelf on and off, k beyond the corpus, unsorted nprobes") {
    val got = lines(Ivf.recallCurve(model, queries, "id", k = 5, nprobes = Seq(3, 1, 2, 2, 4))) ++
      lines(Ivf.recallCurve(model, queries, "id", k = 5, nprobes = Seq(3, 1, 2, 2, 4),
        excludeSelf = false)) ++
      lines(Ivf.recallCurve(model, queries, "id", k = 100, nprobes = Seq(2, 1, 4)))
    assert(sha256(got) == IvfCurveHash)
  }

  test("recommendNprobe pins") {
    val qs = queries.map(_._2).toSeq
    val got = Seq(0.5, 0.8, 0.95, 1.0).map(t =>
      Ivf.recommendNprobe(model, qs, k = 5, targetRecall = t, idCol = "id").toString) :+
      Ivf.recommendNprobe(model, qs, k = 3, targetRecall = 0.9).toString
    assert(sha256(got) == NprobeHash)
  }

  test("Hnsw.recallCurve and recommendEf pins for l2, cosine and ip") {
    val sparse = Hnsw.Params(m = 2, efConstruction = 4)
    val cases = for (m <- Seq("l2", "cosine", "ip"); c <- Seq("corpus", "wide")) yield {
      val (df, idx) =
        if (c == "corpus") (corpus, Hnsw.build(corpus, "id", "vec", numShards = 2, metric = m))
        else (wide, Hnsw.build(wide, "id", "vec", numShards = 1, params = sparse, metric = m))
      (m, df, idx)
    }
    val curves = cases.flatMap { case (m, df, idx) =>
      lines(Hnsw.recallCurve(idx, df, "id", "vec", queries, k = 5,
        efs = Seq(1, 2, 5, 64), metric = m))
    }
    val efs = cases.flatMap { case (m, df, idx) =>
      Seq(0.5, 0.9, 1.0).map(t => Hnsw.recommendEf(idx, df, "id", "vec", queries, k = 5,
        targetRecall = t, metric = m).toString)
    }
    assert(sha256(curves) == HnswCurveHash)
    assert(sha256(efs) == EfHash)
  }

  test("a NaN vector in a partition's first k rows does not displace true neighbours") {
    val rows = (1L to 3L).map(i => (i, Seq(Float.NaN, 10f), 1)) ++
      (4L to 9L).map(i => (i, Seq(i * 0.1f, 0f), 0))
    val assigned = spark.sparkContext.parallelize(rows, 1).toDF("id", "vec", "cluster_id")
    val nanModel = Ivf.IvfModel(Array(Array(0f, 0f), Array(10f, 10f)), assigned, "vec")
    val curve = Ivf.recallCurve(nanModel, Array(100L -> Array(0f, 0f)), "id", k = 3,
        nprobes = Seq(1, 2))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(curve == Map(1 -> 1.0, 2 -> 1.0))
  }

  /** Jobs started and shuffle bytes written while `body` runs. */
  private def jobsAndShuffle(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    ListenerDrain.drain(sc)
    var jobs = 0
    var shuffled = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) shuffled += e.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
    sc.addSparkListener(listener)
    try { body; ListenerDrain.drain(sc) } finally sc.removeSparkListener(listener)
    (jobs, shuffled)
  }

  test("HNSW recall truth is one Spark job that shuffles nothing") {
    val idx = Hnsw.build(corpus, "id", "vec", numShards = 2)
    val (jobs, shuffled) = jobsAndShuffle {
      Hnsw.recallCurve(idx, corpus, "id", "vec", queries, k = 5, efs = Nil)
    }
    assert((jobs, shuffled) == ((1, 0L)))
  }

  test("exactTopK ranks by distance then id, skips self, and carries the other columns") {
    val found = Knn.exactTopK(corpus, "id", "vec", queries, k = 4, metric = "ip",
      excludeSelf = true)
    assert(found.keySet == queries.map(_._1).toSet)
    queries.foreach { case (qid, q) =>
      val expected = points.filter(_._1 != qid)
        .map { case (id, v) => (graft.functions.VectorOps.innerProductDistance(q, v) + 0.0, id) }
        .sortBy(identity)(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)).take(4)
      val got = found(qid)
      assert(got.map(n => (n.distance.get, n.id)) == expected, s"query $qid")
      assert(got.forall(n => n.row.getAs[String]("tag") == s"p${n.id}" &&
        n.row.getAs[Long]("id") == n.id && !n.row.schema.fieldNames.contains("vec")))
    }
    // the zero-vector query ties every row at −0.0 = 0.0: ids decide
    assert(found(902L).map(_.id) == Seq(0L, 1L, 2L, 3L))
  }

  test("exactTopK ranks a NaN distance after every number and a null vector last") {
    val rows = Seq((1L, Seq(Float.NaN, 0f)), (2L, null), (3L, Seq(5f, 0f)),
      (4L, Seq(1f, 0f)), (5L, null))
    val df = spark.sparkContext.parallelize(rows, 2).toDF("id", "vec")
    val found = Knn.exactTopK(df, "id", "vec", Array(7L -> Array(0f, 0f)), k = 5)(7L)
    assert(found.map(_.id) == Seq(4L, 3L, 1L, 2L, 5L))
    assert(found(2).distance.exists(_.isNaN) && found.drop(3).forall(_.distance.isEmpty))
    assert(Knn.exactTopK(df, "id", "vec", Array(7L -> Array(0f, 0f)), k = 2)(7L)
      .map(_.id) == Seq(4L, 3L))
  }

  test("Hnsw recall truth still rejects a metric the graph does not support") {
    val idx = Hnsw.build(corpus, "id", "vec", numShards = 2)
    val e = intercept[IllegalArgumentException](
      Hnsw.recallCurve(idx, corpus, "id", "vec", queries, k = 5, efs = Nil, metric = "l1"))
    assert(e.getMessage == "unknown metric: l1")
  }
}
