package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.Ivf

/** `Ivf.knnJoin` against brute force ordered by (distance, tieBreak): on
  * data with many ties at the k-th distance, at every probe width, with k
  * larger than a posting list, over a list emptied by deletion, and over
  * one list longer than a scan block. Distances are pinned bit for bit,
  * and the error contract and the executed plan are checked. */
class IvfKnnJoinSpec extends SparkSpecBase {
  import spark.implicits._

  /** Integer-grid vectors, each present twice under two ids: distances
    * are small integers' square roots, so many rows tie at the k-th. */
  private def grid(n: Int, dim: Int, seed: Int): Seq[(Long, Array[Float], Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).flatMap { i =>
      val v = Array.fill(dim)(rnd.nextInt(3).toFloat)
      Seq((2L * i, v, (i % 4).toLong), (2L * i + 1, v.clone(), ((i + 1) % 4).toLong))
    }
  }

  /** Checks `got` (query id, train id, train label, distance, rank) per
    * query against brute force over `train`: ranks 1..min(k, |train|);
    * each row's distance is the kernel's for its train row; and the
    * (distance, tie key) sequence equals brute force's first k. */
  private def assertBrute(got: Array[Row], queries: Seq[(Long, Array[Float])],
                          train: Seq[(Long, Array[Float], Long)], k: Int,
                          tieKey: ((Long, Long)) => Long, what: String): Unit = {
    val byId = train.map(t => t._1 -> t).toMap
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.keySet == queries.map(_._1).toSet, s"$what: queries missing from the output")
    queries.foreach { case (qid, q) =>
      val rows = byQ(qid).sortBy(_.getInt(4))
      val want = train.map { case (id, v, l) => (VectorOps.l2(q, v), tieKey((id, l))) }
        .sortBy(identity).take(k)
      assert(rows.map(_.getInt(4)).toSeq == (1 to want.length), s"$what q$qid: ranks")
      assert(rows.map(_.getLong(1)).distinct.length == rows.length, s"$what q$qid: repeated row")
      rows.foreach { r =>
        val (id, v, l) = byId(r.getLong(1))
        assert(r.getLong(2) == l, s"$what q$qid: label of $id")
        assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
          java.lang.Double.doubleToLongBits(VectorOps.l2(q, v)), s"$what q$qid: distance of $id")
      }
      val gotKeys = rows.map(r => (r.getDouble(3), tieKey((r.getLong(1), r.getLong(2))))).toSeq
      assert(gotKeys == want, s"$what q$qid: got $gotKeys, brute force $want")
    }
  }

  private def run(model: Ivf.IvfModel, qs: DataFrame, k: Int, initProbes: Int,
                  tieBreak: Seq[String]): Array[Row] =
    Ivf.knnJoin(model, qs, "qvec", "qid", k, initProbes = initProbes, tieBreak = tieBreak)
      .select(col("qid"), col("t_id"), col("t_label"), col("distance"), col("rank")).collect()

  private val byId = (p: (Long, Long)) => p._1
  private val byLabel = (p: (Long, Long)) => p._2

  private lazy val gridTrain = grid(150, 4, 3)
  private lazy val gridDf = gridTrain.toDF("id", "vec", "label").repartition(3).cache()
  private lazy val gridQueries = {
    val rnd = new scala.util.Random(5)
    (0 until 24).map(i => (1000L + i, Array.fill(4)(rnd.nextInt(3).toFloat)))
  }
  private lazy val gridQs = gridQueries.toDF("qid", "qvec")

  test("knnJoin equals brute force on tied grid vectors at every initProbes, tieBreak on id") {
    val model = Ivf.build(gridDf, "vec", nlists = 5, seed = 11L)
    for (ip <- 1 to 5)
      assertBrute(run(model, gridQs, 7, ip, Seq("id")), gridQueries, gridTrain, 7, byId,
        s"initProbes=$ip")
  }

  test("knnJoin with tieBreak on a label ranks (distance, label) like brute force") {
    val model = Ivf.build(gridDf, "vec", nlists = 4, seed = 11L)
    for (ip <- Seq(1, 4))
      assertBrute(run(model, gridQs, 6, ip, Seq("label")), gridQueries, gridTrain, 6, byLabel,
        s"label tieBreak, initProbes=$ip")
    // the knnClassifyWithIndex path: query and train share the id column name
    val test = gridDf.filter(col("id") < 20)
    val votes = ml.Extras.knnClassifyWithIndex(model, test, "vec", "label", k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    gridTrain.filter(_._1 < 20).foreach { case (id, q, _) =>
      val top = gridTrain.map { case (_, v, l) => (VectorOps.l2(q, v), l) }.sortBy(identity).take(5)
      val want = top.groupBy(_._2).toSeq.map { case (l, xs) => (-xs.size, l) }.min._2
      assert(votes(id) == want, s"classify $id: top $top")
    }
  }

  test("knnJoin with k larger than any posting list equals brute force") {
    val model = Ivf.build(gridDf, "vec", nlists = 10, seed = 11L)
    val maxList = model.assigned.groupBy("cluster_id").count().agg(max("count")).head().getLong(0)
    val k = maxList.toInt + 5
    for (ip <- Seq(1, 3))
      assertBrute(run(model, gridQs, k, ip, Seq("id")), gridQueries, gridTrain, k, byId,
        s"k=$k, initProbes=$ip")
  }

  test("knnJoin over a posting list emptied by deleteBulk equals brute force") {
    val model = Ivf.build(gridDf, "vec", nlists = 6, seed = 11L)
    val gone = model.assigned.filter(col("cluster_id") === 0).select("id").as[Long].collect().toSet
    assert(gone.nonEmpty)
    val pruned = Ivf.deleteBulk(model, "id", gone.toSeq.toDF("id"))
    // queries sit on the emptied list's centroid, so pass 1 probes it first
    val qs = (0 until 4).map(i => (2000L + i, model.centroids(0).map(_ + i * 0.25f)))
    val rest = gridTrain.filterNot(t => gone(t._1))
    for (ip <- Seq(1, 2, 6))
      assertBrute(run(pruned, qs.toDF("qid", "qvec"), 5, ip, Seq("id")), qs, rest, 5, byId,
        s"emptied list, initProbes=$ip")
  }

  test("knnJoin with one list longer than a scan block equals brute force") {
    val train = grid(800, 3, 9) // 1600 rows in one list
    val df = train.toDF("id", "vec", "label").repartition(4)
    // k-means needs two centres; one list is the index with every row on it
    val model = Ivf.IvfModel(Array(Array.fill(3)(1f)), df.withColumn("cluster_id", lit(0)), "vec")
    val rnd = new scala.util.Random(8)
    val qs = (0 until 12).map(i => (3000L + i, Array.fill(3)(rnd.nextInt(3).toFloat)))
    assertBrute(run(model, qs.toDF("qid", "qvec"), 9, 1, Seq("id")), qs, train, 9, byId,
      "one long list")
  }

  test("knnJoin output: every query column, t_ train columns, distance, rank; no UDF runs") {
    // the index's rows are materialised: its build (k-means) runs UDFs
    val built = Ivf.build(gridDf, "vec", nlists = 4, seed = 11L)
    val model = built.copy(assigned = built.assigned.localCheckpoint())
    val qs = gridQs.withColumn("note", lit("x"))
    val out = Ivf.knnJoin(model, qs, "qvec", "qid", 3, tieBreak = Seq("id"))
    assert(out.columns.toSeq ==
      Seq("qid", "qvec", "note", "t_id", "t_vec", "t_label", "distance", "rank"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"a UDF in the executed plan: $plan")
  }

  test("knnJoin distances on sf0.001 embeddings are pinned bit for bit") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.read(spark, dir, "embeddings")
    val model = Ivf.build(emb, "embedding", nlists = 8, seed = 7L)
    val qs = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val rows = Ivf.knnJoin(model, qs, "qvec", "qid", 5, tieBreak = Seq("vec_id"))
      .select(col("qid"), col("t_vec_id"), col("rank"), col("distance")).collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getInt(2)}," +
        java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sorted
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows.length == qs.count() * 5)
    assert(sha == "134be33a813624dc10883969db812ee0feea7268a647d851fd1e65af32133b28", s"knnJoin rows changed: ${rows.length} rows, sha $sha")
  }

  test("knnJoin casts another numeric vector type to float") {
    val model = Ivf.build(gridDf, "vec", nlists = 4, seed = 11L)
    val doubles = gridQs.as[(Long, Array[Float])]
      .map { case (q, v) => (q, v.map(_ / 3.0 + 1e-9)) }.toDF("qid", "qvec")
    def rows(qs: DataFrame) = Ivf.knnJoin(model, qs, "qvec", "qid", 3, tieBreak = Seq("id"))
      .select("qid", "t_id", "distance", "rank").collect().map(_.toString).toSeq.sorted
    val got = rows(doubles)
    assert(got.nonEmpty && got == rows(doubles.withColumn("qvec", col("qvec").cast("array<float>"))))
  }

  test("knnJoin rejects a non-L2 metric, a null query vector and a dimension mismatch") {
    val model = Ivf.build(gridDf, "vec", nlists = 4, seed = 11L)
    intercept[IllegalArgumentException](Ivf.knnJoin(model, gridQs, "qvec", "qid", 3, "cosine"))
    val nullQ = spark.sparkContext.parallelize(Seq((1L, Array(1f, 1f, 1f, 1f)), (2L, null)), 2)
      .toDF("qid", "qvec")
    intercept[SparkException](Ivf.knnJoin(model, nullQ, "qvec", "qid", 3).collect())
    val shortQ = spark.sparkContext.parallelize(Seq((1L, Array(1f, 1f))), 1).toDF("qid", "qvec")
    val e = intercept[SparkException](Ivf.knnJoin(model, shortQ, "qvec", "qid", 3).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq
    assert(msgs.exists(_.contains("vector dimensions must match: 2 vs 4")), msgs.mkString("\n"))
  }
}
