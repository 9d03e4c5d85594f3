package graft

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.{Ivf, Knn}
import graft.plans.{DistanceExpressions => DE, Metric}

/** Pins the bits of every distance and routing output to SHA-256 hashes
  * recorded before the distance node and the IVF routers were moved onto
  * the shared [[graft.functions.VectorOps]] kernels; any change to an
  * output bit, a NULL or a tie-break changes a hash. */
class KernelPinSpec extends SparkSpecBase {
  import spark.implicits._

  private val DistanceHash = "24d7ea7ae252b0ed102b25ebe93c2d76572563859bbd4dba3a7421d7255326ca"
  private val RoutingHash = "1872f4519e090a927d676999904505025293c5620835966ad78e644c53b9b16e"

  private def bits(d: Double): String = java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  private def sha256(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val old = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  private val NaN = Float.NaN
  private val Inf = Float.PositiveInfinity

  /** Eight 6-d vectors: plain values, a zero vector, NaN, ±0.0, ±Inf and
    * values under the set metrics' 1e-10 support threshold. */
  private val vecs: Array[Array[Float]] = Array(
    Array(1.5f, -2.25f, 3.0f, 0.125f, -7.0f, 4.75f),
    Array(0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f),
    Array(0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f),
    Array(-0.0f, 0.0f, -0.0f, 1.0f, -1.0f, 0.0f),
    Array(NaN, 1.0f, 2.0f, 3.0f, 4.0f, 5.0f),
    Array(Inf, -Inf, 1.0f, 0.0f, -0.0f, 2.0f),
    Array(1e-11f, -1e-11f, 2.0f, 0.0f, 3.0f, 1e-12f),
    Array(1.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f))

  /** Boxed literal sides: a plain vector, the zero vector, and one with
    * NaN, -0.0 and -Inf. */
  private val lits: Seq[Array[Float]] = Seq(vecs(7), vecs(1),
    Array(-0.0f, NaN, 0.5f, -Inf, 1e-11f, 3.0f))

  /** Every (a, b) pair of [[vecs]], `a` typed without null elements and
    * `b` typed with them but holding none; one extra row has a NULL `b`. */
  private lazy val pairs: DataFrame = {
    val rows = for (i <- vecs.indices; j <- vecs.indices)
      yield Row((i * vecs.length + j).toLong, vecs(i).toSeq, vecs(j).toSeq)
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("a", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("b", ArrayType(FloatType, containsNull = true), nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows :+ Row(-1L, vecs(0).toSeq, null), 2), schema)
  }

  /** Rows where some pair of a metric raises (Bray–Curtis and Canberra on
    * zero denominators): left out so the rest can be compared. */
  private def raising(m: Metric): Seq[Long] =
    (for (i <- vecs.indices; j <- vecs.indices) yield {
      val (a, b) = (vecs(i), vecs(j))
      val sides = Seq((a, b), (b, a)) ++ lits.flatMap(q => Seq((a, q), (b, q)))
      val bad = sides.exists { case (x, y) =>
        try { m.arrayKernel(x, y); false } catch { case _: IllegalArgumentException => true }
      }
      if (bad) Some((i * vecs.length + j).toLong) else None
    }).flatten

  private def sqlFloat(f: Float): String = s"CAST('${java.lang.Float.toString(f)}' AS FLOAT)"
  private def sqlVec(v: Array[Float]): String = v.map(sqlFloat).mkString("array(", ", ", ")")

  private def render(df: DataFrame): Seq[String] =
    df.collect().sortBy(_.getLong(0)).map { r =>
      (0 until r.length).map(i =>
        if (r.isNullAt(i)) "N" else if (i == 0) r.getLong(0).toString else bits(r.getDouble(i)))
        .mkString(",")
    }.toSeq

  private def distanceOutputs(): Seq[String] = {
    graft.functions.GraftFunctions.registerAll(spark)
    pairs.createOrReplaceTempView("kp_pairs")
    Metric.all.flatMap { m =>
      val bad = raising(m)
      val kept = pairs.filter(!col("id").isin(bad: _*))
      val viaColumn = kept.select((col("id") +: (Seq(DE.dist(m)(col("a"), col("b")),
        DE.dist(m)(col("b"), col("a"))) ++
        lits.flatMap(q => Seq(DE.dist(m)(col("a"), lit(q)), DE.dist(m)(col("b"), lit(q)))))): _*)
      val exprs = (Seq("a, b", "b, a") ++
        lits.flatMap(q => Seq(s"a, ${sqlVec(q)}", s"b, ${sqlVec(q)}"))).map(args => s"${m.sqlName}($args)")
      val where = if (bad.isEmpty) "" else bad.mkString(" WHERE id NOT IN (", ", ", ")")
      val viaSql = spark.sql(s"SELECT id, ${exprs.mkString(", ")} FROM kp_pairs$where")
      Seq(s"${m.sqlName} column") ++ render(viaColumn) ++ Seq(s"${m.sqlName} sql") ++ render(viaSql)
    } ++ Seq("normSq") ++ render(pairs.select(col("id"), DE.normSq(col("a")), DE.normSq(col("b"))))
  }

  test("distance outputs over 16 metrics keep their pinned bits, codegen on and off") {
    val generated = distanceOutputs()
    val interpreted = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      distanceOutputs()
    }
    assert(generated == interpreted)
    val got = sha256(Seq("codegen") ++ generated ++ Seq("interpreted") ++ interpreted)
    assert(got == DistanceHash, s"distance hash $got")
  }

  /** Integer-grid centroids with exact ties: four at distance 1 from the
    * origin, one repeated, and two off-axis. */
  private val centroids: Array[Array[Float]] = Array(
    Array(1f, 0f), Array(0f, 1f), Array(-1f, 0f), Array(0f, -1f),
    Array(1f, 0f), Array(2f, 2f), Array(-2f, 1f))

  /** Every point of the 7×7 grid around the origin, then a NaN and an
    * infinite query. */
  private val grid: Array[(Long, Array[Float])] =
    ((for (x <- -3 to 3; y <- -3 to 3) yield Array(x.toFloat, y.toFloat)) ++
      Seq(Array(NaN, 0f), Array(Inf, 1f))).zipWithIndex.map { case (v, i) => (i.toLong, v) }.toArray

  test("routing outputs on tied integer-grid centroids keep their pinned bits") {
    val queries = grid.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
    val routed = Ivf.routeWithDist(centroids, queries, "v")
      .select(col("id"), col("cluster_id"), col("route_dist")).as[(Long, Int, Double)]
      .collect().sortBy(_._1).map { case (id, c, d) => s"$id,$c,${bits(d)}" }.toSeq
    val assigned = centroids.zipWithIndex.toSeq
      .map { case (c, i) => (100L + i, c.toSeq, i) }.toDF("id", "v", "cluster_id")
    val model = Ivf.IvfModel(centroids, assigned, "v")
    val routes = for ((id, q) <- grid.toSeq; n <- Seq(1, 3, centroids.length))
      yield s"$id,$n,${model.route(q, n).mkString(" ")}"
    val joins = for (metric <- Seq("l2", "cosine"); p <- Seq(1, 2, 3)) yield
      s"$metric $p " + Ivf.join(model, queries, "v", metric, threshold = 1e9, nprobe = p)
        .select(col("l_id"), col("r_id"), col("cluster_id"), col("distance"))
        .as[(Long, Long, Int, Double)].collect().sortBy(t => (t._1, t._2, t._3))
        .map { case (l, r, c, d) => s"$l:$r:$c:${bits(d)}" }.mkString(" ")
    val vecRoutes = grid.toSeq.map { case (id, q) => s"$id,${Knn.vecRoute(q, centroids)}" }
    val assign = SparkEntry.queries("vec_route_assign")(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").cast("long"), col("route_label").cast("long")).as[(Long, Long)]
      .collect().sorted.map { case (v, l) => s"$v:$l" }.mkString(" ")
    val got = sha256(Seq("routeWithDist") ++ routed ++ Seq("route") ++ routes ++
      Seq("join") ++ joins ++ Seq("vecRoute") ++ vecRoutes ++ Seq("vec_route_assign", assign))
    assert(got == RoutingHash, s"routing hash $got")
  }
}
