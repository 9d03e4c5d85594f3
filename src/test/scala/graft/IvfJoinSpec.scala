package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ivf, Knn}

/** `Ivf.join`'s contract: its output schema, what a null vector, a null
  * element, a dimension mismatch or an unknown metric does, and, at
  * nprobe = nlists, equality with `Knn.vecJoin`'s cross join bit for bit
  * on tied integer-grid vectors with zero vectors among them. */
class IvfJoinSpec extends SparkSpecBase {
  import spark.implicits._

  /** Integer-grid vectors in [-1, 1]^4, each present twice under two ids
    * (so distances tie), plus two zero vectors. */
  private lazy val gridIndex: Seq[(Long, Array[Float], String)] = {
    val rnd = new scala.util.Random(13)
    (0 until 30).flatMap { i =>
      val v = Array.fill(4)((rnd.nextInt(3) - 1).toFloat)
      Seq((2L * i, v, s"t$i"), (2L * i + 1, v.clone(), s"u$i"))
    } ++ Seq((100L, Array.fill(4)(0f), "z0"), (101L, Array.fill(4)(0f), "z1"))
  }
  private lazy val gridDf = gridIndex.toDF("id", "vec", "tag").repartition(3).cache()
  private lazy val gridOther = {
    val rnd = new scala.util.Random(17)
    ((0 until 20).map(i => (i.toLong, Array.fill(4)((rnd.nextInt(3) - 1).toFloat))) ++
      Seq((50L, Array.fill(4)(0f)), (51L, gridIndex(5)._2.clone())))
      .toDF("id", "vec").repartition(2)
  }

  private def bits(d: Double): String = java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  private def triples(df: DataFrame): Seq[String] =
    df.select(col("l_id"), col("r_id"), col("distance")).collect()
      .map(r => s"${r.getLong(0)}:${r.getLong(1)}:${bits(r.getDouble(2))}").toSeq.sorted

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq

  test("Ivf.join at nprobe = nlists equals Knn.vecJoin's cross join: l2, cosine, ip, l1") {
    val model = Ivf.build(gridDf, "vec", nlists = 4, seed = 3L)
    val nlists = model.centroids.length
    // thresholds on grid values, so pairs tie exactly at the threshold
    for ((metric, threshold) <- Seq("l2" -> math.sqrt(2.0), "cosine" -> 0.5,
                                    "ip" -> -1.0, "l1" -> 2.0);
         filter <- Seq(None, Some(col("l_id") < col("r_id")))) {
      val got = Ivf.join(model, gridOther, "vec", metric, threshold, nprobe = nlists,
        pairFilter = filter)
      val cross = Knn.vecJoin(gridDf, gridOther, "vec", "vec", metric, threshold)
      val want = filter.map(cross.filter).getOrElse(cross)
      val (g, w) = (triples(got), triples(want))
      assert(w.nonEmpty, s"$metric: test data must produce pairs")
      assert(g == w, s"$metric filter=${filter.isDefined}: ${g.diff(w).take(5)} vs ${w.diff(g).take(5)}")
    }
  }

  test("Ivf.join output schema: cluster_id, l_ index columns, r_ other columns, distance") {
    // a hand-built model with cluster_id in the middle of its columns
    val assigned = gridIndex.zipWithIndex.map { case ((id, v, t), i) => (id, i % 2, v, t) }
      .toDF("id", "cluster_id", "vec", "tag")
    val model = Ivf.IvfModel(Array(Array(1f, 0f, 0f, 0f), Array(-1f, 0f, 0f, 0f)), assigned, "vec")
    val other = gridOther.withColumn("note", lit("x"))
    val out = Ivf.join(model, other, "vec", "l2", 1.0, nprobe = 2)
    val vec = ArrayType(FloatType, containsNull = false)
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      "cluster_id" -> IntegerType, "l_id" -> LongType, "l_vec" -> vec, "l_tag" -> StringType,
      "r_id" -> LongType, "r_vec" -> vec, "r_note" -> StringType, "distance" -> DoubleType))
    assert(out.collect().nonEmpty)
  }

  test("Ivf.join: a null index vector never pairs, built or hand-built model") {
    val built = Ivf.build(gridDf, "vec", nlists = 4, seed = 3L)
    val nulled = built.copy(assigned = built.assigned
      .withColumn("vec", when(col("id") === 7L, lit(null)).otherwise(col("vec"))))
    val handBuilt = Ivf.IvfModel(built.centroids,
      spark.sparkContext.parallelize(Seq((1L, Array(1f, 0f, 0f, 0f), 0), (7L, null, 0)), 2)
        .toDF("id", "vec", "cluster_id"), "vec")
    for (model <- Seq(nulled, handBuilt)) {
      val pairs = Ivf.join(model, gridOther, "vec", "l2", 1e9, nprobe = 4)
        .select(col("l_id")).as[Long].collect()
      assert(pairs.nonEmpty && !pairs.contains(7L), s"null vector paired: ${pairs.distinct.sorted.toSeq}")
    }
  }

  test("Ivf.join: a null other-side vector fails the query") {
    val model = Ivf.build(gridDf, "vec", nlists = 4, seed = 3L)
    val other = spark.sparkContext.parallelize(Seq((1L, Array(1f, 0f, 0f, 0f)), (2L, null)), 2)
      .toDF("id", "vec")
    intercept[SparkException](Ivf.join(model, other, "vec", "l2", 1e9, nprobe = 4).collect())
  }

  test("Ivf.join: a null element in a paired vector fails the query, on either side") {
    val model = Ivf.build(gridDf, "vec", nlists = 4, seed = 3L)
    val withNulls = ArrayType(FloatType, containsNull = true)
    val otherSchema = StructType(Seq(StructField("id", LongType), StructField("vec", withNulls)))
    val other = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1L, Seq(1f, 0f, 0f, 0f)), Row(2L, Seq(1f, null, 0f, 0f))), 2), otherSchema)
    // the failure's type and wording are not part of the contract
    val e1 = intercept[Exception](Ivf.join(model, other, "vec", "l2", 1e9, nprobe = 4).collect())
    assert(messages(e1).exists(_.toLowerCase.contains("null")), messages(e1).mkString("\n"))
    val indexSchema = StructType(Seq(StructField("id", LongType), StructField("vec", withNulls),
      StructField("cluster_id", IntegerType)))
    val index = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1L, Seq(1f, 0f, 0f, 0f), 0), Row(2L, Seq(0f, null, 1f, 0f), 0)), 2), indexSchema)
    val handBuilt = Ivf.IvfModel(Array(Array(1f, 0f, 0f, 0f)), index, "vec")
    val e2 = intercept[Exception](
      Ivf.join(handBuilt, gridOther, "vec", "l2", 1e9, nprobe = 1).collect())
    assert(messages(e2).exists(_.contains("null element")), messages(e2).mkString("\n"))
  }

  test("Ivf.join: a null element in a list no row probes is never read") {
    val withNulls = ArrayType(FloatType, containsNull = true)
    val indexSchema = StructType(Seq(StructField("id", LongType), StructField("vec", withNulls),
      StructField("cluster_id", IntegerType)))
    val index = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1L, Seq(1f, 0f, 0f, 0f), 0), Row(2L, Seq(-1f, null, 0f, 0f), 1)), 2), indexSchema)
    val handBuilt = Ivf.IvfModel(Array(Array(1f, 0f, 0f, 0f), Array(-1f, 0f, 0f, 0f)), index, "vec")
    val near = spark.sparkContext.parallelize(Seq((5L, Array(0.9f, 0f, 0f, 0f))), 1).toDF("id", "vec")
    val pairs = Ivf.join(handBuilt, near, "vec", "l2", 1e9, nprobe = 1)
      .select(col("l_id")).as[Long].collect()
    assert(pairs.toSeq == Seq(1L))
  }

  test("Ivf.join: another numeric vector type is cast to float; a non-numeric one fails the call") {
    val model = Ivf.build(gridDf, "vec", nlists = 4, seed = 3L)
    val nlists = model.centroids.length
    val typed = gridOther.as[(Long, Array[Float])]
    // off-grid doubles, so the cast to float rounds
    val others = Seq(typed.map { case (i, v) => (i, v.map(_ / 3.0 + 1e-9)) }.toDF("id", "vec"),
      typed.map { case (i, v) => (i, v.map(_.toInt)) }.toDF("id", "vec"),
      typed.map { case (i, v) => (i, v.map(_.toLong)) }.toDF("id", "vec"))
    val doubleModel = model.copy(assigned = model.assigned
      .withColumn("vec", col("vec").cast(ArrayType(DoubleType, containsNull = false))))
    for ((metric, threshold) <- Seq("l2" -> 0.5, "cosine" -> 0.5)) {
      def join(m: Ivf.IvfModel, other: DataFrame) =
        Ivf.join(m, other, "vec", metric, threshold, nprobe = nlists)
      val asFloats = triples(join(model, gridOther))
      for (other <- others) {
        val t = other.schema("vec").dataType
        val got = join(model, other)
        val want = triples(join(model, other.withColumn("vec", col("vec").cast("array<float>"))))
        assert(got.schema("r_vec").dataType == t, t)
        assert(triples(got) == want && want.nonEmpty, s"$metric $t")
        if (t != ArrayType(DoubleType, containsNull = false)) assert(want == asFloats, s"$metric $t")
      }
      // the index side too
      assert(triples(join(doubleModel, gridOther)) == asFloats, metric)
    }
    val strings = gridOther.withColumn("vec", col("vec").cast("array<string>"))
    // rejected when the join is built, before anything runs
    intercept[Exception](Ivf.join(model, strings, "vec", "l2", 1.0))
  }

  test("Ivf.join: a dimension mismatch fails the query; an unknown metric fails the call") {
    val model = Ivf.build(gridDf, "vec", nlists = 4, seed = 3L)
    val short = spark.sparkContext.parallelize(Seq((1L, Array(1f, 0f))), 1).toDF("id", "vec")
    val e = intercept[SparkException](Ivf.join(model, short, "vec", "l2", 1e9, nprobe = 4).collect())
    assert(messages(e).exists(_.contains("vector dimensions must match")), messages(e).mkString("\n"))
    // rejected when the join is built, before anything runs
    intercept[IllegalArgumentException](Ivf.join(model, gridOther, "vec", "no_such_metric", 1.0))
  }
}
