package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.plans.{DistanceExpressions => DE, Metric}

/** Optimizer rules never change a distance. The SQL distance names were
  * once boxed UDFs that a rule rewrote into the native node; they now
  * resolve to [[graft.plans.DistanceExpr]] directly, and these tests keep
  * the results those UDFs gave: the SQL call, the Column helper and the
  * [[graft.functions.VectorOps]] kernel the UDF wrapped agree bit for bit,
  * whether Spark's `ConvertToLocalRelation`/`ConstantFolding` evaluate the
  * node while optimizing or leave it to generated code. */
class OptimizerRuleSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.registerAll(spark)
  }

  private val foldingRules = Seq("ConvertToLocalRelation", "ConstantFolding")
    .map("org.apache.spark.sql.catalyst.optimizer." + _).mkString(",")

  private def bits(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Double)].collect()
      .map { case (id, d) => id -> java.lang.Double.doubleToRawLongBits(d) }.toMap

  private def kernelBits(m: Metric, rows: Seq[(Long, Array[Float])], q: Array[Float]) =
    rows.map { case (id, v) => id -> java.lang.Double.doubleToRawLongBits(m.arrayKernel(v, q)) }
      .toMap

  private def embeddings(n: Int): Seq[(Long, Array[Float])] =
    Tables.read(spark, sf, "embeddings").limit(n).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq.map { case (id, v) => (id, v.toArray) }

  test("promotion preserves UDF results exactly") {
    val rows = embeddings(50)
    val q = Tables.queryVector(spark, sf, 5L)
    val want = kernelBits(Metric.Cosine, rows, q)
    val local = rows.map { case (id, v) => (id, v, q) }.toDF("vec_id", "embedding", "q")
    val sql = "vec_id" :: "vector_cosine_distance(embedding, q) AS d" :: Nil

    // default rules: ConvertToLocalRelation evaluates the node while optimizing
    val folded = local.selectExpr(sql: _*)
    assert(folded.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      folded.queryExecution.optimizedPlan)
    assert(bits(folded) == want)

    // folding rules excluded: the node runs in generated code
    val old = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules", foldingRules)
    try {
      val unfolded = local.selectExpr(sql: _*)
      assert(!unfolded.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        unfolded.queryExecution.optimizedPlan)
      assert(bits(unfolded) == want)
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
      case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
    }

    val e = Tables.read(spark, sf, "embeddings").filter($"vec_id".isin(rows.map(_._1): _*))
    assert(bits(e.select($"vec_id", DE.cosine($"embedding", lit(q)))) == want)
  }

  test("r16 long-tail metrics: native expressions match the UDFs bit-for-bit") {
    import Metric._
    val longTail = Seq(SquaredL2, Chebyshev, Hamming, Jaccard, Dice, BrayCurtis, Canberra,
      SokalMichener, RogersTanimoto, RussellRao, MatchingCoefficient)
    val rows = embeddings(80)
    val q = Tables.queryVector(spark, sf, 7L)
    val e = Tables.read(spark, sf, "embeddings").filter($"vec_id".isin(rows.map(_._1): _*))
      .withColumn("q", lit(q))
    for (m <- longTail) {
      val want = kernelBits(m, rows, q)
      val viaSql = bits(e.selectExpr("vec_id", s"${m.sqlName}(embedding, q) AS d"))
      val viaColumn = bits(e.select($"vec_id", DE.dist(m)($"embedding", $"q")))
      assert(viaSql == want, s"${m.sqlName} via SQL diverges from its VectorOps kernel")
      assert(viaColumn == want, s"${m.sqlName} via Column diverges from its VectorOps kernel")
    }
  }
}
