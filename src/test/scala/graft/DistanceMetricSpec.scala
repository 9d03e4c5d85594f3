package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, ScalaUDF}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.debug._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.functions.GraftFunctions
import graft.plans.{DistanceExpr, DistanceExpressions => DE, Metric}

/** The metric table and its one native node: every SQL distance name
  * resolves to [[DistanceExpr]] at analysis time, and the node agrees bit
  * for bit with the entry's [[graft.functions.VectorOps]] kernel, with or
  * without codegen. */
class DistanceMetricSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.registerAll(spark)
    val e = Tables.read(spark, sf, "embeddings")
    e.createOrReplaceTempView("dm_emb")
    e.limit(80).createOrReplaceTempView("dm_emb80")
  }

  private lazy val q = Tables.queryVector(spark, sf, 7L)
  private lazy val emb80: Array[(Long, Array[Float])] =
    spark.table("dm_emb80").select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => (id, v.toArray) }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def expected(m: Metric): Map[Long, Long] =
    emb80.map { case (id, v) => id -> bits(m.arrayKernel(v, q)) }.toMap

  private def collected(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Double)].collect().map { case (id, d) => id -> bits(d) }.toMap

  private def distanceNodes(df: DataFrame): Seq[DistanceExpr] =
    df.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect { case d: DistanceExpr => d })

  private def udfs(df: DataFrame): Seq[Expression] =
    df.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect { case u: ScalaUDF => u })

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

  private def sqlOverEmb80(m: Metric): DataFrame = spark.sql(
    s"""SELECT e.vec_id, ${m.sqlName}(e.embedding, q.embedding) AS d
       |FROM dm_emb80 e CROSS JOIN (SELECT embedding FROM dm_emb WHERE vec_id = 7) q""".stripMargin)

  test("the table holds 16 metrics with distinct SQL names, aliases and kernels") {
    assert(Metric.all.size == 16)
    assert(Metric.all.map(_.sqlName).distinct.size == 16)
    assert(Metric.all.map(_.kernel).distinct.size == 16)
    val aliases = Metric.all.flatMap(_.aliases)
    assert(aliases.distinct.size == aliases.size)
    for (m <- Metric.all; a <- m.aliases) assert(Metric(a) eq m, a)
    intercept[IllegalArgumentException](Metric("no_such_metric"))
  }

  test("SQL distance names resolve to DistanceExpr over a parquet view") {
    for (m <- Metric.all) {
      val df = sqlOverEmb80(m)
      assert(distanceNodes(df).map(_.metric) == Seq(m), df.queryExecution.analyzed)
      assert(udfs(df).isEmpty, df.queryExecution.analyzed)
      // plans print the SQL name over the two arguments, no metric argument
      val plan = df.queryExecution.optimizedPlan.toString
      assert(s"${m.sqlName}\\(embedding#\\d+, embedding#\\d+\\)".r.findFirstIn(plan).isDefined, plan)
    }
    val self = spark.sql("SELECT vector_l2_distance(embedding, embedding) FROM dm_emb80")
    assert(self.as[Double].collect().forall(_ == 0.0))
  }

  test("SQL distance names resolve to DistanceExpr over a LocalRelation view") {
    val rows = emb80.take(5).toSeq.map { case (id, v) => (id, v, q) }
    rows.toDF("vec_id", "a", "b").createOrReplaceTempView("dm_local")
    for (m <- Metric.all) {
      val df = spark.sql(s"SELECT vec_id, ${m.sqlName}(a, b) AS d FROM dm_local")
      assert(distanceNodes(df).map(_.metric) == Seq(m), df.queryExecution.analyzed)
      assert(udfs(df).isEmpty, df.queryExecution.analyzed)
      assert(collected(df) == expected(m).filter { case (id, _) => rows.exists(_._1 == id) },
        m.sqlName)
    }
  }

  test("SQL and Column results equal VectorOps bit for bit over 80 embeddings") {
    val e = spark.table("dm_emb80")
    for (m <- Metric.all) {
      val want = expected(m)
      assert(collected(sqlOverEmb80(m)) == want, s"${m.sqlName} via SQL")
      assert(collected(e.select($"vec_id", DE.dist(m)($"embedding", lit(q)))) == want,
        s"${m.sqlName} via Column")
    }
  }

  test("codegen and interpreted eval agree for every metric") {
    val e = spark.table("dm_emb80")
    def run(m: Metric): DataFrame = e.select($"vec_id", DE.dist(m)($"embedding", lit(q)))
    for (m <- Metric.all) {
      val code = run(m).queryExecution.debug.codegenToSeq().map(_._2).mkString
      assert(code.contains(s"graft.functions.VectorOps.${m.kernel}("), m.sqlName)
      val generated = collected(run(m))
      val interpreted = withConf(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        collected(run(m))
      }
      assert(generated == interpreted, m.sqlName)
      assert(generated == expected(m), m.sqlName)
    }
  }

  test("a NULL vector gives NULL") {
    for (m <- Metric.all) {
      val r = spark.sql(
        s"""SELECT ${m.sqlName}(CAST(NULL AS array<float>), array(1.0F)),
           |       ${m.sqlName}(array(1.0F), NULL)""".stripMargin).head()
      assert(r.isNullAt(0) && r.isNullAt(1), m.sqlName)
    }
  }

  test("wrong-arity calls fail analysis; vector_norm stays a UDF") {
    for (m <- Metric.all) {
      intercept[AnalysisException](spark.sql(s"SELECT ${m.sqlName}(array(1.0F))"))
      intercept[AnalysisException](
        spark.sql(s"SELECT ${m.sqlName}(array(1.0F), array(1.0F), array(1.0F))"))
    }
    val norm = spark.sql("SELECT vector_norm(array(3.0F, 4.0F)) AS n")
    assert(udfs(norm).nonEmpty && distanceNodes(norm).isEmpty)
    assert(norm.head().getDouble(0) == 5.0)
  }

  test("implicit casts: numeric arrays resolve, nullable or non-numeric fail") {
    val a = Array(1.0f, 2.0f)
    val b = Array(1.0f, 3.0f)
    for (m <- Metric.all) {
      val want = m.arrayKernel(a, b)
      for (args <- Seq("array(1.0D, 2.0D), array(1.0F, 3.0F)",
                       "array(1.0, 2.0), array(1.0F, 3.0F)",
                       "array(1, 2), array(1, 3)",
                       "array(1L, 2L), array(1.0F, 3.0F)")) {
        val d = spark.sql(s"SELECT ${m.sqlName}($args)").head().getDouble(0)
        assert(bits(d) == bits(want), s"${m.sqlName}($args)")
      }
      for (args <- Seq("array(1.0D, NULL), array(1.0F, 3.0F)",
                       "array('1', '2'), array(1.0F, 3.0F)",
                       "'x', array(1.0F, 3.0F)",
                       "1.0F, array(1.0F, 3.0F)"))
        intercept[AnalysisException](spark.sql(s"SELECT ${m.sqlName}($args)"))
    }
  }

  test("the metric is part of the node's equality, not of its printed form") {
    val a = $"embedding"
    val l1 = GraftShim.expression(DE.l1(a, lit(q)))
    val l2 = GraftShim.expression(DE.l2(a, lit(q)))
    assert(l1 != l2)
    // v_distances-style projection: five metrics over one pair stay five values
    val row = spark.table("dm_emb80").filter($"vec_id" === 3L)
      .select(DE.l1(a, lit(q)), DE.l2(a, lit(q)), DE.squaredL2(a, lit(q)),
        DE.chebyshev(a, lit(q)), DE.hamming(a, lit(q))).head()
    val v = emb80.find(_._1 == 3L).get._2
    val metrics = Seq(Metric.L1, Metric.L2, Metric.SquaredL2, Metric.Chebyshev, Metric.Hamming)
    for ((m, i) <- metrics.zipWithIndex)
      assert(bits(row.getDouble(i)) == bits(m.arrayKernel(v, q)), m.sqlName)
    val vec = ArrayType(FloatType)
    val shown = DistanceExpr(Metric.L2, AttributeReference("x", vec)(), AttributeReference("y", vec)())
    assert("""vector_l2_distance\(x#\d+, y#\d+\)""".r.matches(shown.toString), shown)
  }

  test("Knn.distCol builds the node of every alias") {
    for (m <- Metric.all; alias <- m.aliases) {
      val c: Column = operators.Knn.distCol(alias)($"a", $"b")
      assert(GraftShim.expression(c) match {
        case DistanceExpr(`m`, _, _) => true
        case _ => false
      }, alias)
    }
    intercept[IllegalArgumentException](operators.Knn.distCol("no_such_metric")($"a", $"b"))
  }

  test("error contract: null element, dimension mismatch, zero denominators") {
    val withNull = Seq((Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f)))).toDF("a", "b")
    val short = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).toSeq
    for (m <- Metric.all) {
      val exNull = intercept[Exception](withNull.select(DE.dist(m)($"a", $"b")).collect())
      assert(messages(exNull).exists(_.contains("null element")), m.sqlName)
      val exDim = intercept[Exception](short.select(DE.dist(m)($"a", $"b")).collect())
      assert(messages(exDim).exists(_.contains("vector dimensions must match: 2 vs 3")), m.sqlName)
    }
    val zeros = Seq((1L, Seq(0.0f, 0.0f))).toDF("id", "v")
    val z = Array(0.0f, 0.0f)
    val exBc = intercept[Exception](zeros.select(DE.brayCurtis($"v", lit(z))).collect())
    assert(messages(exBc).exists(_.contains("zero denominator")))
    val exCan = intercept[Exception](zeros.select(DE.canberra($"v", lit(z))).collect())
    assert(messages(exCan).exists(_.contains("all-zero")))
  }
}
