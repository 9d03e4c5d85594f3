package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Embeddings, VectorAggregates => VA, VectorFunctions => VF}
import graft.plans.{DistanceExpressions => DE}

/**
 * Query registry: one `specs` declaration per implemented operator from
 * SURVEY.md §2, each with its builder and either its DuckDB oracle SQL or
 * the oracled sibling it is a face of; `queries`, `oracleSql` and
 * `faceSiblings` are views of that list.
 *
 * Numeric conventions for oracle parity (BASELINE.md):
 *  - money-ish SUMs go through DECIMAL(18,4) so both engines sum exactly,
 *    then cast back to DOUBLE (deterministic in both);
 *  - float4-truncating element-wise ops are replicated in DuckDB with
 *    `CAST(... AS REAL)` so values match exactly;
 *  - distance outputs are double-accumulated on both sides; add/mul/div/
 *    sqrt chains (IEEE correctly-rounded, bit-identical cross-engine) may
 *    round to 6 decimals, but any value through a LIBM function (pow, exp,
 *    ln — allowed 1-ulp engine drift) must be emitted as float4
 *    (`.cast("float")` / `CAST(... AS REAL)`, the reference's
 *    PG_RETURN_FLOAT4 convention): a fixed-decimal round of such a double
 *    flips its last digit whenever the drift straddles a decimal boundary
 *    (the r7 `v_distances` red row), while float granularity sits ~9
 *    orders above the drift.
 */
object SparkEntry {

  /** Flagship: embed documents with the deterministic fallback embedder and
    * rank them against a query string — the reference's `rag_query` shape
    * (`NeuronDB/neurondb--1.0.sql:6065-6089`). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.read(spark, dir, "documents")
      .withColumn("embedding", Embeddings.embed_text(col("text"), lit("all-MiniLM-L6-v2")))
    val qv = Embeddings.embedText("fast query sort merge join", "all-MiniLM-L6-v2")
    docs
      .withColumn("dist", DE.cosine(col("embedding"), lit(qv)))
      .orderBy(col("dist"), col("doc_id"))
      .select(col("doc_id"), col("text"), round(col("dist"), 6).as("dist"))
      .limit(10)
  }

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Exact decimal sum, then deterministic cast back to double. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** The fixed query vector for the kNN oracle queries: embeddings.vec_id=0. */
  private def qvec(s: SparkSession, dir: String): Array[Float] =
    Tables.queryVector(s, dir, 0L)

  private val qvecSql = "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)"

  // ======================================================================
  // Relational core (scan / filter / agg / join / top-k / window)
  // ======================================================================

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        (sum(dec(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))

  private val q1AggSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** q1 with the PRODUCTION numeric plan — native double sums inside
    * whole-stage codegen, no decimal casts (those exist in `q1_agg`
    * only as the oracle-parity price). Outputs are REAL-cast so the
    * ~1e-13-relative unordered-sum drift sits far below the comparison
    * granularity; this is the number a user's plan actually costs, and
    * it is benched alongside the decimal-cast oracle variant. */
  private def q1AggTyped(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("float").as("sum_qty"),
        sum(col("l_extendedprice")).cast("float").as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("float").as("sum_disc_price"),
        (sum(col("l_discount")) / count(lit(1))).cast("float").as("avg_disc"),
        count(lit(1)).as("count_order"))

  private val q1AggTypedSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(l_quantity) AS REAL) AS sum_qty,
      |  CAST(sum(l_extendedprice) AS REAL) AS sum_base_price,
      |  CAST(sum(l_extendedprice * (1.0 - l_discount)) AS REAL) AS sum_disc_price,
      |  CAST(sum(l_discount) / count(*) AS REAL) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  private def q2Join(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.read(s, dir, "customer")
    val orders = Tables.read(s, dir, "orders")
    val nation = Tables.read(s, dir, "nation")
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
  }

  private val q2JoinSql =
    """SELECT n_name,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1""".stripMargin

  private def q3Topk(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(10)

  private val q3TopkSql =
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"

  private def q4Window(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.read(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
        col("o_totalprice").as("first_totalprice"))
  }

  private val q4WindowSql =
    """SELECT o_custkey, o_orderkey AS first_orderkey, o_totalprice AS first_totalprice
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      |      FROM orders) WHERE rn = 1""".stripMargin

  /** Rollup aggregation (super-aggregate rows; PG-inherited surface the
    * reference gets for free — Spark built-in here, SURVEY §2.4 note). */
  private def q6Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  private val q6RollupSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** JSON metadata containment filter (`metadata @> '{"k":…}'`). */
  private def jsonFilter(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events")
      .filter(functions.Json.contains(col("props"), Map("k" -> "42")))
      .select(col("event_id"), col("event_type"), col("value"))

  private val jsonFilterSql =
    """SELECT event_id, event_type, value FROM events
      |WHERE json_extract_string(props, '$.k') = '42'""".stripMargin

  /** Semi/anti join shapes (EXISTS / NOT EXISTS). */
  private def q5SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.read(s, dir, "customer")
    val bigOrders = Tables.read(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
    val withBig = customer.join(bigOrders, customer("c_custkey") === bigOrders("o_custkey"), "left_semi")
    val withoutBig = customer.join(bigOrders, customer("c_custkey") === bigOrders("o_custkey"), "left_anti")
    withBig.select(col("c_custkey"), lit("has_big_order").as("status"))
      .unionByName(withoutBig.select(col("c_custkey"), lit("no_big_order").as("status")))
  }

  private val q5SemiAntiSql =
    """SELECT c_custkey, 'has_big_order' AS status FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
      |UNION ALL
      |SELECT c_custkey, 'no_big_order' AS status FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""".stripMargin

  // ======================================================================
  // Distance metrics + kNN top-k (SURVEY §2.3, §2.5)
  // ======================================================================

  private def knnBy(s: SparkSession, dir: String, metric: String): DataFrame = {
    val q = qvec(s, dir)
    Tables.read(s, dir, "embeddings")
      .withColumn("dist", operators.Knn.distCol(metric)(col("embedding"), lit(q)))
      .orderBy(col("dist"), col("vec_id"))
      .select(col("vec_id"), round(col("dist"), 6).as("dist"))
      .limit(10)
  }

  private def vL2Knn(s: SparkSession, dir: String): DataFrame = knnBy(s, dir, "l2")
  private val vL2KnnSql =
    s"""SELECT vec_id, round(list_distance(embedding::DOUBLE[], $qvecSql), 6) AS dist
       |FROM embeddings
       |ORDER BY list_distance(embedding::DOUBLE[], $qvecSql), vec_id LIMIT 10""".stripMargin

  private def vCosineKnn(s: SparkSession, dir: String): DataFrame = knnBy(s, dir, "cosine")
  private val vCosineKnnSql =
    s"""SELECT vec_id, round(1.0 - list_cosine_similarity(embedding::DOUBLE[], $qvecSql), 6) AS dist
       |FROM embeddings
       |ORDER BY 1.0 - list_cosine_similarity(embedding::DOUBLE[], $qvecSql), vec_id LIMIT 10""".stripMargin

  private def vIpKnn(s: SparkSession, dir: String): DataFrame = knnBy(s, dir, "ip")
  private val vIpKnnSql =
    s"""SELECT vec_id, round(-list_inner_product(embedding::DOUBLE[], $qvecSql), 6) AS dist
       |FROM embeddings
       |ORDER BY -list_inner_product(embedding::DOUBLE[], $qvecSql), vec_id LIMIT 10""".stripMargin

  /** Matryoshka (MRL) truncated-embedding search, FULL oracle — the
    * modern serve trick: rank by cosine on the FIRST 16 dims only
    * (cosine self-normalizes, so no renorm pass), cutting distance cost
    * 4× per probe; each hit is flagged against the full-dimension
    * top-10 so the truncation's agreement is part of the checked
    * output. Same kernel-parity class as `v_cosine_knn`. */
  private def vMatryoshkaQ(s: SparkSession, dir: String): DataFrame = {
    val q = qvec(s, dir)
    val qTrunc = q.take(16)
    val emb = Tables.read(s, dir, "embeddings")
    val fullTop = emb
      .withColumn("dist", operators.Knn.distCol("cosine")(col("embedding"), lit(q)))
      .orderBy(col("dist"), col("vec_id")).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    emb.withColumn("dist",
        operators.Knn.distCol("cosine")(slice(col("embedding"), 1, 16), lit(qTrunc)))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
      .select(col("vec_id"), round(col("dist"), 6).as("dist"),
        col("vec_id").isin(fullTop: _*).as("in_full_top10"))
  }

  private lazy val vMatryoshkaSql =
    s"""WITH q AS (SELECT embedding[:16]::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |tr AS (
       |  SELECT vec_id,
       |    1.0 - list_cosine_similarity(embedding[:16]::DOUBLE[], (SELECT qv FROM q)) AS dist
       |  FROM embeddings
       |  ORDER BY dist, vec_id LIMIT 10),
       |f10 AS (
       |  SELECT vec_id FROM embeddings
       |  ORDER BY 1.0 - list_cosine_similarity(embedding::DOUBLE[], $qvecSql), vec_id
       |  LIMIT 10)
       |SELECT vec_id, round(dist, 6) AS dist,
       |  vec_id IN (SELECT vec_id FROM f10) AS in_full_top10
       |FROM tr""".stripMargin

  /** All long-tail metrics against the fixed query vector, one row per
    * vector. Outputs are float4 (REAL on both engines), matching the
    * reference's `PG_RETURN_FLOAT4` distance returns
    * (`NeuronDB/src/core/distance.c:71`) — a round(x, 6) double here flakes
    * whenever JVM and DuckDB libm `pow` differ by an ulp on a value whose
    * 7th decimal sits at a rounding boundary (the r7 red row); float
    * granularity sits ~9 orders above that drift. */
  private def vDistances(s: SparkSession, dir: String): DataFrame = {
    val q = qvec(s, dir)
    val qc = lit(q)
    Tables.read(s, dir, "embeddings")
      .select(
        col("vec_id"),
        DE.l1(col("embedding"), qc).cast("float").as("l1"),
        DE.chebyshev(col("embedding"), qc).cast("float").as("chebyshev"),
        DE.squaredL2(col("embedding"), qc).cast("float").as("sq_l2"),
        // minkowski keeps the UDF: its p-shortcut dispatch is scalar-arg
        // logic the two-vector DistanceExpr does not model
        VF.minkowskiUdf(col("embedding"), qc, lit(3.0)).cast("float").as("minkowski3"),
        // LONG, not the kernel's double: the oracle's len() is BIGINT and the
        // driver's hash comparator is type-sensitive (37.0 != 37) — this,
        // not float rounding, was the r7/r8 red row.
        DE.hamming(col("embedding"), qc).cast("long").as("hamming"))
  }

  private val vDistancesSql =
    s"""WITH q AS (SELECT $qvecSql AS qv)
       |SELECT vec_id,
       |  CAST(list_sum(list_transform(range(1, len(embedding)+1), i -> abs(embedding[i]::DOUBLE - qv[i]))) AS REAL) AS l1,
       |  CAST(list_max(list_transform(range(1, len(embedding)+1), i -> abs(embedding[i]::DOUBLE - qv[i]))) AS REAL) AS chebyshev,
       |  CAST(list_sum(list_transform(range(1, len(embedding)+1), i -> (embedding[i]::DOUBLE - qv[i]) * (embedding[i]::DOUBLE - qv[i]))) AS REAL) AS sq_l2,
       |  CAST(pow(list_sum(list_transform(range(1, len(embedding)+1), i -> pow(abs(embedding[i]::DOUBLE - qv[i]), 3.0))), 1.0/3.0) AS REAL) AS minkowski3,
       |  len(list_filter(range(1, len(embedding)+1), i -> embedding[i] <> qv[i]::FLOAT)) AS hamming
       |FROM embeddings, q""".stripMargin

  /** Support-based long-tail metrics (|x|>1e-10 support semantics). */
  private def vDistances2(s: SparkSession, dir: String): DataFrame = {
    val qc = lit(qvec(s, dir))
    Tables.read(s, dir, "embeddings")
      .select(
        col("vec_id"),
        round(DE.jaccard(col("embedding"), qc), 6).as("jaccard"),
        round(DE.dice(col("embedding"), qc), 6).as("dice"),
        round(DE.canberra(col("embedding"), qc), 6).as("canberra"),
        round(DE.brayCurtis(col("embedding"), qc), 6).as("braycurtis"),
        round(DE.sokalMichener(col("embedding"), qc), 6).as("sokal"),
        round(DE.rogersTanimoto(col("embedding"), qc), 6).as("rogers"),
        round(DE.russellRao(col("embedding"), qc), 6).as("russell"),
        round(DE.matchingCoefficient(col("embedding"), qc), 6).as("matching"))
  }

  private val vDistances2Sql =
    s"""WITH q AS (SELECT $qvecSql AS qv),
       |c AS (
       |  SELECT vec_id, len(embedding) AS dim,
       |    len(list_filter(range(1, len(embedding)+1),
       |      i -> abs(embedding[i]::DOUBLE) > 1e-10 AND abs(qv[i]) > 1e-10)) AS n11,
       |    len(list_filter(range(1, len(embedding)+1),
       |      i -> abs(embedding[i]::DOUBLE) <= 1e-10 AND abs(qv[i]) <= 1e-10)) AS n00,
       |    len(list_filter(range(1, len(embedding)+1),
       |      i -> abs(embedding[i]::DOUBLE) > 1e-10 OR abs(qv[i]) > 1e-10)) AS nunion,
       |    len(list_filter(range(1, len(embedding)+1),
       |      i -> abs(embedding[i]::DOUBLE) > 1e-10)) AS na,
       |    len(list_filter(range(1, len(embedding)+1),
       |      i -> abs(qv[i]) > 1e-10)) AS nb,
       |    list_sum(list_transform(range(1, len(embedding)+1), i ->
       |      CASE WHEN abs(embedding[i]::DOUBLE) + abs(qv[i]) > 0
       |           THEN abs(embedding[i]::DOUBLE - qv[i]) / (abs(embedding[i]::DOUBLE) + abs(qv[i]))
       |           ELSE 0 END)) AS canberra_sum,
       |    list_sum(list_transform(range(1, len(embedding)+1),
       |      i -> abs(embedding[i]::DOUBLE - qv[i]))) AS bc_num,
       |    list_sum(list_transform(range(1, len(embedding)+1),
       |      i -> abs(embedding[i]::DOUBLE + qv[i]))) AS bc_den
       |  FROM embeddings, q)
       |SELECT vec_id,
       |  round(CASE WHEN nunion = 0 THEN 0.0 ELSE 1.0 - n11::DOUBLE / nunion END, 6) AS jaccard,
       |  round(CASE WHEN na = 0 AND nb = 0 THEN 0.0
       |             WHEN na = 0 OR nb = 0 THEN 1.0
       |             ELSE 1.0 - 2.0 * n11 / (na + nb) END, 6) AS dice,
       |  round(canberra_sum, 6) AS canberra,
       |  round(bc_num / bc_den, 6) AS braycurtis,
       |  round((dim - n11 - n00)::DOUBLE / dim, 6) AS sokal,
       |  round(CASE WHEN n11 + n00 + 2.0*(dim - n11 - n00) = 0 THEN 0.0
       |             ELSE 2.0*(dim - n11 - n00) / (n11 + n00 + 2.0*(dim - n11 - n00)) END, 6) AS rogers,
       |  round(1.0 - n11::DOUBLE / dim, 6) AS russell,
       |  round((n11 + n00)::DOUBLE / dim, 6) AS matching
       |FROM c""".stripMargin

  /** Diagonal-inverse-covariance Mahalanobis, cov from |v1|+0.5. */
  private def vMahalanobis(s: SparkSession, dir: String): DataFrame = {
    val q = qvec(s, dir)
    val covInv = Tables.queryVector(s, dir, 1L).map(v => math.abs(v) + 0.5f)
    Tables.read(s, dir, "embeddings")
      .select(col("vec_id"),
        round(VF.mahalanobisUdf(col("embedding"), lit(q), lit(covInv)), 6).as("mahalanobis"))
  }

  private val vMahalanobisSql =
    s"""WITH q AS (SELECT $qvecSql AS qv),
       |civ AS (SELECT list_transform(embedding,
       |  x -> CAST(abs(x)::DOUBLE + 0.5 AS REAL)::DOUBLE) AS cv
       |  FROM embeddings WHERE vec_id = 1)
       |SELECT vec_id, round(sqrt(list_sum(list_transform(range(1, len(embedding)+1),
       |  i -> (embedding[i]::DOUBLE - qv[i]) * (embedding[i]::DOUBLE - qv[i]) * cv[i]))), 6) AS mahalanobis
       |FROM embeddings, q, civ""".stripMargin

  // ======================================================================
  // Per-vector norms / stats / element-wise transforms (SURVEY §2.2)
  // ======================================================================

  private def vNormStats(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .select(
        col("vec_id"),
        round(VF.normUdf(col("embedding")), 6).as("norm"),
        round(VF.elementSumUdf(col("embedding")), 6).as("elem_sum"),
        round(VF.meanUdf(col("embedding")), 6).as("elem_mean"),
        VF.minElemUdf(col("embedding")).cast("double").as("elem_min"),
        VF.maxElemUdf(col("embedding")).cast("double").as("elem_max"),
        VF.dimsUdf(col("embedding")).as("dims"))

  private val vNormStatsSql =
    """SELECT vec_id,
      |  round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))), 6) AS norm,
      |  round(list_sum(embedding::DOUBLE[]), 6) AS elem_sum,
      |  round(list_sum(embedding::DOUBLE[]) / len(embedding), 6) AS elem_mean,
      |  list_min(embedding)::DOUBLE AS elem_min,
      |  list_max(embedding)::DOUBLE AS elem_max,
      |  len(embedding) AS dims
      |FROM embeddings""".stripMargin

  /** Element-wise pipeline scale*2 → translate+1 → clip[-0.2,0.2], exploded to
    * scalar rows; DuckDB replicates each float4 truncation with CAST AS REAL. */
  private def vElementwise(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .filter(col("vec_id") < 20)
      .select(col("vec_id"),
        posexplode(
          VF.clipUdf(
            VF.translateUdf(VF.scaleUdf(col("embedding"), lit(2.0)), lit(1.0)),
            lit(-0.2), lit(1.2))))
      .select(col("vec_id"), col("pos"), col("col").cast("double").as("val"))

  private val vElementwiseSql =
    """SELECT vec_id,
      |  unnest(range(0, len(embedding))) AS pos,
      |  unnest(list_transform(embedding, x ->
      |    CAST(greatest(-0.2, least(1.2, CAST(CAST(x::DOUBLE * 2.0 AS REAL)::DOUBLE + 1.0 AS REAL)::DOUBLE)) AS REAL)::DOUBLE)) AS val
      |FROM embeddings WHERE vec_id < 20""".stripMargin

  /** normalize(): per-element x/||v||, float4-truncated; exploded. */
  private def vNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .filter(col("vec_id") < 20)
      .select(col("vec_id"), posexplode(VF.normalizeUdf(col("embedding"))))
      .select(col("vec_id"), col("pos"), col("col").cast("double").as("val"))

  private val vNormalizeSql =
    """SELECT vec_id,
      |  unnest(range(0, len(embedding))) AS pos,
      |  unnest(list_transform(embedding, x ->
      |    CAST(x::DOUBLE / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y))) AS REAL)::DOUBLE)) AS val
      |FROM embeddings WHERE vec_id < 20""".stripMargin

  // ======================================================================
  // kNN operators / IVF index / vec_join (SURVEY §2.1, §2.5)
  // ======================================================================

  /** IVF index cache: CREATE INDEX is a one-time build in the reference;
    * probes reuse it. Keyed by sf dir, cached assignments. */
  private val ivfCache = scala.collection.concurrent.TrieMap.empty[String, operators.Ivf.IvfModel]
  private def ivfModel(s: SparkSession, dir: String): operators.Ivf.IvfModel =
    ivfCache.getOrElseUpdate(dir, {
      val m = operators.Ivf.build(
        Tables.read(s, dir, "embeddings"), "embedding", nlists = 16, seed = 42L)
      m.copy(assigned = m.assigned.cache())
    })

  /** HNSW index cache (same offline-build contract as [[ivfModel]]);
    * shard graphs cached so bench times the probe, not the build. */
  private val hnswCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def hnswIndex(s: SparkSession, dir: String): DataFrame =
    hnswCache.getOrElseUpdate(dir,
      operators.Hnsw.build(Tables.read(s, dir, "embeddings"), "vec_id", "embedding",
        numShards = 8).cache())

  /** On-disk index roots, written once per sf dir (CREATE INDEX is an
    * offline build in the reference; these queries time/verify the READ
    * side of the partitioned serving layout). */
  private val diskIdxCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def diskIndexRoot(s: SparkSession, dir: String): String =
    diskIdxCache.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_idx_").toString
      operators.Ivf.writePartitioned(ivfModel(s, dir), s"$root/ivf")
      operators.Hnsw.write(hnswIndex(s, dir), s"$root/hnsw")
      operators.IvfPq.writePartitioned(
        operators.IvfPq.build(Tables.read(s, dir, "embeddings"),
          "vec_id", "embedding", nlists = 16, m = 8),
        s"$root/ivfpq")
      root
    })

  /** IVF ANN served from the DISK layout: 12 of 16 posting lists probed,
    * pruned at the FILE level (`cluster_id` is a partition column —
    * pinned in PlanShapeSpec). Rows-only (approximate by contract);
    * `ivf_disk_exact` oracle-proves the same path exhaustively. */
  private def ivfDiskKnn(s: SparkSession, dir: String): DataFrame =
    operators.Ivf.loadPartitioned(s, s"${diskIndexRoot(s, dir)}/ivf", "embedding")
      .search(qvec(s, dir), k = 10, nprobe = 12)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))

  /** Exhaustive probe (nprobe = nlists) of the on-disk IVF layout must
    * reproduce brute-force top-10 — the parquet round-trip of the
    * partitioned index is itself oracle-verified. */
  private def ivfDiskExact(s: SparkSession, dir: String): DataFrame =
    operators.Ivf.loadPartitioned(s, s"${diskIndexRoot(s, dir)}/ivf", "embedding")
      .search(qvec(s, dir), k = 10, nprobe = 16)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))

  /** HNSW served from the DISK layout through the executor graph cache
    * (first batch deserializes each shard graph once; repeats walk the
    * memoized graphs — bit-identical by construction, HnswSpec pins it). */
  private def hnswDiskKnn(s: SparkSession, dir: String): DataFrame =
    operators.Hnsw.searchBatchFromDisk(s, s"${diskIndexRoot(s, dir)}/hnsw",
        Array((0L, qvec(s, dir))), k = 10, efSearch = 64)
      .select(col("id"), round(col("distance"), 6).as("dist"))

  /** HNSW EXHAUSTIVE contract, FULL oracle: at ef ≥ shard size the
    * serve path guarantees brute-force-exact results (the walk
    * degenerates to a scan by construction — `ShardGraph.search`'s
    * exhaustive guard — because best-first expansion alone would make
    * exactness contingent on level-0 connectivity, which the closest-m
    * shrink does not promise; reference ef-clamp contract
    * `hnsw_am.c:938-975`). The brute-force side IS SQL-expressible, so
    * this row hash-matches the whole serve pipeline — disk round-trip,
    * shard partitioning, distance kernels, rank merge — multi-query and
    * multi-shard. Walk QUALITY at production ef stays covered by
    * `hnsw_ann_recall`/`hnsw_recall_curve` and the HnswSpec floors. */
  private def hnswExhaustive(s: SparkSession, dir: String): DataFrame = {
    val qs = Array(0L, 7L, 33L, 99L).map(i => (i, Tables.queryVector(s, dir, i)))
    operators.Hnsw.searchBatchFromDisk(s, s"${diskIndexRoot(s, dir)}/hnsw",
        qs, k = 10, efSearch = 100000)
      .select(col("qid"), col("rank"), col("id"),
        round(col("distance"), 6).as("dist"))
  }

  /** Incremental-maintenance paths under the SAME exhaustive oracle:
    * build on the even half, [[operators.Hnsw.insert]] the odd half —
    * per-shard rebuilds are bit-identical to a from-scratch build, so
    * the exhaustive search over the maintained index must still equal
    * brute force over the full corpus (identical oracle SQL). */
  private def hnswInsertExact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val base = operators.Hnsw.build(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", numShards = 4)
    val full = operators.Hnsw.insert(base, e.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", numShards = 4)
    val qs = Array(0L, 7L, 33L, 99L).map(i => (i, Tables.queryVector(s, dir, i)))
    operators.Hnsw.searchBatch(full, qs, k = 10, efSearch = 100000)
      .select(col("qid"), col("rank"), col("id"),
        round(col("distance"), 6).as("dist"))
  }

  /** Deletion under the same oracle: plant 20 decoy rows (ids shifted
    * past the corpus, vectors of the first 20 originals → they would
    * crowd out true top-k as distance-0 twins), delete them, and the
    * exhaustive search must again equal brute force over the ORIGINAL
    * corpus — a tombstone leak or a missed shard rebuild breaks the
    * hash. */
  private def hnswDeleteExact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val withDecoys = operators.Hnsw.build(e.unionByName(decoys),
      "vec_id", "embedding", numShards = 4)
    val cleaned = operators.Hnsw.delete(withDecoys,
      (0L until 20L).map(_ + 5000000L), numShards = 4)
    val qs = Array(0L, 7L, 33L, 99L).map(i => (i, Tables.queryVector(s, dir, i)))
    operators.Hnsw.searchBatch(cleaned, qs, k = 10, efSearch = 100000)
      .select(col("qid"), col("rank"), col("id"),
        round(col("distance"), 6).as("dist"))
  }

  /** [[hnswDeleteExact]]'s bulk-purge sibling (completing the r14
    * `deleteBulk` triple across all three index families): 100 decoy
    * twins purged via the anti-join erasure-FRAME path — only the
    * affected shards rebuild, and the exhaustive walk must equal brute
    * force over the originals. */
  private def hnswDeleteBulk(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 100)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val withDecoys = operators.Hnsw.build(e.unionByName(decoys),
      "vec_id", "embedding", numShards = 4)
    val erasure = e.filter(col("vec_id") < 100)
      .select((col("vec_id") + 5000000L).as("vec_id"))
    val cleaned = operators.Hnsw.deleteBulk(withDecoys, erasure, numShards = 4)
    val qs = Array(0L, 7L, 33L, 99L).map(i => (i, Tables.queryVector(s, dir, i)))
    operators.Hnsw.searchBatch(cleaned, qs, k = 10, efSearch = 100000)
      .select(col("qid"), col("rank"), col("id"),
        round(col("distance"), 6).as("dist"))
  }

  /** [[hnswDeleteBulk]]'s LAZY sibling (r15: the other half of the
    * erasure trade SCALE_BENCH measures): the SAME 100 decoy twins are
    * erased by TOMBSTONE — zero shard rebuilds, the ids are filtered
    * from every shard's result heap at search time while still routing
    * the walk — and the exhaustive search must STILL equal brute force
    * over the originals (identical oracle SQL to the rebuild path:
    * tombstoned ≡ rebuilt is the whole contract). A tombstone leak
    * into the heap, or an over-eager filter that starves the beam,
    * breaks the hash. `Hnsw.compact` is the spec-pinned second half
    * (threshold-0 compaction is bit-identical to `deleteBulk`). */
  private def hnswDeleteLazy(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 100)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val withDecoys = operators.Hnsw.build(e.unionByName(decoys),
      "vec_id", "embedding", numShards = 4)
    val tombs = operators.Hnsw.tombstoneSet(
      e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 5000000L).as("vec_id")))
    val qs = Array(0L, 7L, 33L, 99L).map(i => (i, Tables.queryVector(s, dir, i)))
    operators.Hnsw.searchBatch(withDecoys, qs, k = 10, efSearch = 100000,
        tombstones = tombs)
      .select(col("qid"), col("rank"), col("id"),
        round(col("distance"), 6).as("dist"))
  }

  private val hnswExhaustiveSql =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |  WHERE vec_id IN (0, 7, 33, 99)),
      |r AS (
      |  SELECT q.qid, e.vec_id AS id,
      |    list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS d,
      |    row_number() OVER (PARTITION BY q.qid
      |      ORDER BY list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]),
      |               e.vec_id) AS rk
      |  FROM embeddings e, q)
      |SELECT qid, CAST(rk AS INT) AS rank, id, round(d, 6) AS dist
      |FROM r WHERE rk <= 10""".stripMargin

  /** IVFADC serve path from the DISK layout: codes-only ADC scan of the
    * probed partitions (the raw vector column never enters the candidate
    * scan — pinned in PlanShapeSpec) + broadcast-pool exact rerank.
    * Rows-only; `ivfpq_disk_exact` is the oracle-proved exhaustive form,
    * `ivfpq_knn_recall` the measured recall. */
  private def ivfpqKnn(s: SparkSession, dir: String): DataFrame =
    operators.IvfPq.search(
        operators.IvfPq.loadPartitioned(s, s"${diskIndexRoot(s, dir)}/ivfpq",
          "embedding", "vec_id"),
        qvec(s, dir), k = 10, nprobe = 12, rerankPool = 128)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))

  /** IVFADC with nprobe = nlists and rerank pool ≥ corpus provably equals
    * brute force — oracle-checks the whole disk round trip (codes,
    * centroids, codebook) and the ADC→rerank composition. */
  private def ivfpqDiskExact(s: SparkSession, dir: String): DataFrame = {
    val m = operators.IvfPq.loadPartitioned(s, s"${diskIndexRoot(s, dir)}/ivfpq",
      "embedding", "vec_id")
    operators.IvfPq.search(m, qvec(s, dir), k = 10, nprobe = 16,
        rerankPool = m.encoded.count().toInt)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))
  }

  /** IVFADC maintenance under the exhaustive oracle (r13, completing
    * the insert/delete triple across all three index families): build
    * on the even half, insert the odd half (existing centroids +
    * existing codebook — no refit), and the exhaustive dial (all
    * lists, corpus-sized rerank pool) must equal brute force over the
    * full corpus; the delete face plants 20 distance-0 decoy twins,
    * deletes them, and must equal brute force over the originals. */
  private def ivfpqInsertExact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val base = operators.IvfPq.build(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlists = 8, m = 8, seed = 42L)
    val full = operators.IvfPq.insert(base, e.filter(col("vec_id") % 2 === 1))
    operators.IvfPq.search(full, qvec(s, dir), k = 10, nprobe = 8,
        rerankPool = full.encoded.count().toInt)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))
  }

  private def ivfpqDeleteExact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val planted = operators.IvfPq.build(e.unionByName(decoys),
      "vec_id", "embedding", nlists = 8, m = 8, seed = 42L)
    val cleaned = operators.IvfPq.delete(planted,
      (0L until 20L).map(_ + 5000000L))
    operators.IvfPq.search(cleaned, qvec(s, dir), k = 10, nprobe = 8,
        rerankPool = cleaned.encoded.count().toInt)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))
  }

  /** Bulk-purge deletion under the exhaustive oracle (VERDICT r13 ask
    * #2 — the GDPR-erasure / corpus-retraction path the scaladoc
    * recommends for large deletions): plant 100 distance-0 decoy twins
    * of the first 100 originals, build with them in the posting lists,
    * purge them via `Ivf.deleteBulk`'s ANTI-JOIN against an erasure-id
    * FRAME (not a literal list — the erasure set here is itself a
    * derived DataFrame, as a real retraction manifest would be), and
    * the exhaustive probe must equal brute force over the ORIGINAL
    * corpus — one leaked posting entry breaks the hash. */
  private def ivfDeleteBulk(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 100)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val planted = operators.Ivf.build(e.unionByName(decoys),
      "embedding", nlists = 8, seed = 42L)
    val erasure = e.filter(col("vec_id") < 100)
      .select((col("vec_id") + 5000000L).as("vec_id"))
    val cleaned = operators.Ivf.deleteBulk(planted, "vec_id", erasure)
    cleaned.search(qvec(s, dir), k = 10, nprobe = 8)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))
  }

  /** [[ivfDeleteBulk]]'s IVFADC sibling: the anti-join must purge BOTH
    * tables the index keeps — a code row surviving its raw row would
    * resurrect the decoy through the ADC candidate scan and break the
    * hash. */
  private def ivfpqDeleteBulk(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 100)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val planted = operators.IvfPq.build(e.unionByName(decoys),
      "vec_id", "embedding", nlists = 8, m = 8, seed = 42L)
    val erasure = e.filter(col("vec_id") < 100)
      .select((col("vec_id") + 5000000L).as("vec_id"))
    val cleaned = operators.IvfPq.deleteBulk(planted, erasure)
    operators.IvfPq.search(cleaned, qvec(s, dir), k = 10, nprobe = 8,
        rerankPool = cleaned.encoded.count().toInt)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))
  }

  /** HNSW serve-path probe at the reference defaults (k=10, ef=64) —
    * rows-only: the walk is approximate by contract; recall evidence is
    * `hnsw_ann_recall`. */
  private def hnswKnn(s: SparkSession, dir: String): DataFrame =
    operators.Hnsw.search(hnswIndex(s, dir), qvec(s, dir), k = 10, efSearch = 64)
      .select(col("id"), round(col("distance"), 6).as("dist"))

  /** IVF probe with nprobe=nlists is exhaustive, so it must reproduce the
    * brute-force top-10 exactly (BASELINE.md recall convention). */
  private def ivfKnnExact(s: SparkSession, dir: String): DataFrame = {
    val q = qvec(s, dir)
    ivfModel(s, dir).search(q, k = 10, nprobe = 16)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))
  }

  private val ivfKnnExactSql = vL2KnnSql // identical contract to brute force

  /** IVF incremental maintenance under the exhaustive oracle (the
    * `hnsw_insert_exact` sibling, r13): build on the even half, route
    * the odd half to existing centroids via `Ivf.insert` (no refit),
    * and an all-lists probe must equal brute force over the FULL
    * corpus — a misrouted insert or a dropped posting entry breaks the
    * hash. */
  private def ivfInsertExact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val base = operators.Ivf.build(e.filter(col("vec_id") % 2 === 0),
      "embedding", nlists = 8, seed = 42L)
    val full = operators.Ivf.insert(base, e.filter(col("vec_id") % 2 === 1))
    full.search(qvec(s, dir), k = 10, nprobe = 8)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))
  }

  /** IVF deletion under the same oracle (the `hnsw_delete_exact`
    * sibling, r13): plant 20 distance-0 decoy twins of the first 20
    * originals (shifted ids — they would crowd the true top-k), build
    * with them in the posting lists, delete them, and the exhaustive
    * probe must again equal brute force over the ORIGINAL corpus — a
    * leaked posting entry breaks the hash. */
  private def ivfDeleteExact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val planted = operators.Ivf.build(e.unionByName(decoys),
      "embedding", nlists = 8, seed = 42L)
    val cleaned = operators.Ivf.delete(planted, "vec_id",
      (0L until 20L).map(_ + 5000000L))
    cleaned.search(qvec(s, dir), k = 10, nprobe = 8)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))
  }

  /** vec_join: all pairs within L2 threshold 1.2 (~1% of pairs). */
  private def vecJoinPairs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    operators.Knn.vecJoin(e, e, "embedding", "embedding", "l2", threshold = 1.2)
      .filter(col("l_vec_id") < col("r_vec_id"))
      .select(col("l_vec_id").as("a_id"), col("r_vec_id").as("b_id"),
        round(col("distance"), 6).as("dist"))
  }

  private val vecJoinPairsSql =
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |  round(list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS dist
      |FROM embeddings a, embeddings b
      |WHERE a.vec_id < b.vec_id
      |  AND list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) <= 1.2""".stripMargin

  /** vec_join k-per-left: 3 nearest within threshold per query row
    * (deterministic id tiebreak pins equal distances). */
  private def vecJoinTopkQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    operators.Knn.vecJoin(e.filter(col("vec_id") < 200), e, "embedding", "embedding",
        "l2", threshold = 2.0, kPerLeft = 3, tieBreak = Seq("vec_id"))
      .select(col("l_vec_id").as("a_id"), col("r_vec_id").as("b_id"),
        round(col("distance"), 6).as("dist"))
  }

  private val vecJoinTopkSql =
    """WITH p AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS d,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
      |               b.vec_id) AS rk
      |  FROM embeddings a, embeddings b
      |  WHERE a.vec_id < 200
      |    AND list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) <= 2.0)
      |SELECT a_id, b_id, round(d, 6) AS dist FROM p WHERE rk <= 3""".stripMargin

  /** rerank_ensemble_weighted over two min-max-normalized score columns
    * (0.6·negL2 + 0.4·innerProduct). */
  private def weightedEnsembleQ(s: SparkSession, dir: String): DataFrame = {
    val q = qvec(s, dir)
    val e = Tables.read(s, dir, "embeddings")
      .select(col("vec_id"),
        (-DE.l2(col("embedding"), lit(q))).as("s1"),
        (-DE.innerProduct(col("embedding"), lit(q))).as("s2"))
    operators.Rerank.ensembleWeighted(e, Seq("s1", "s2"), Seq(0.6, 0.4))
      .select(col("vec_id"), round(col("ensemble_score"), 6).as("score"))
  }

  private val weightedEnsembleSql =
    s"""WITH sc AS (
       |  SELECT vec_id,
       |    -list_distance(embedding::DOUBLE[], $qvecSql) AS s1,
       |    list_inner_product(embedding::DOUBLE[], $qvecSql) AS s2
       |  FROM embeddings),
       |b AS (SELECT min(s1) AS mn1, max(s1) AS mx1, min(s2) AS mn2, max(s2) AS mx2 FROM sc)
       |SELECT vec_id,
       |  round(0.6 * (s1 - mn1) / (mx1 - mn1) + 0.4 * (s2 - mn2) / (mx2 - mn2), 6) AS score
       |FROM sc, b""".stripMargin

  /** build_knn_graph: top-3 neighbors per node over the first 100 vectors. */
  private def knnGraph(s: SparkSession, dir: String): DataFrame =
    operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100), "vec_id", "embedding", k = 3)
      .select(col("src"), col("dst"), col("rank"), round(col("distance"), 6).as("dist"))

  private val knnGraphSql =
    """SELECT src, dst, rank, dist FROM (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) AS rank,
      |    round(list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS dist
      |  FROM embeddings a, embeddings b
      |  WHERE a.vec_id < 100 AND b.vec_id < 100 AND a.vec_id <> b.vec_id)
      |WHERE rank <= 3""".stripMargin

  /** Integer PageRank over the kNN graph, FULL oracle — fixed-point
    * 10⁶-scaled damping with floor divisions only
    * (`GraphAnalytics.pagerankInt`), so the 3-iteration SpMV chain
    * (join on src + groupBy on dst per hop, the `sgc_propagate` shape)
    * replays exactly as unrolled SQL aggregation CTEs over the same
    * knn_graph edge derivation. */
  private def pagerankKnnQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.pagerankInt(edges, iterations = 3)
      .select(col("id").as("vec_id"), col("score").as("pr_scaled"))
  }

  private val pagerankKnnSql = {
    val iters = (1 to 3).map { t =>
      s"""c$t AS (SELECT e.dst AS id, sum(s${t - 1}.score // d.deg) AS contrib
         |       FROM e JOIN s${t - 1} ON s${t - 1}.id = e.src
         |       JOIN d ON d.src = e.src GROUP BY 1),
         |s$t AS (SELECT n.id,
         |          150000 + (850000 * coalesce(c$t.contrib, 0)) // 1000000 AS score
         |        FROM n LEFT JOIN c$t ON c$t.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) AS rank
       |    FROM embeddings a, embeddings b
       |    WHERE a.vec_id < 100 AND b.vec_id < 100 AND a.vec_id <> b.vec_id)
       |  WHERE rank <= 3),
       |n AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |s0 AS (SELECT id, CAST(1000000 AS BIGINT) AS score FROM n),
       |$iters
       |SELECT id AS vec_id, CAST(score AS BIGINT) AS pr_scaled FROM s3""".stripMargin
  }

  /** Shared SQL prefix: the knn-graph edges (same derivation the
    * `knn_graph` oracle verifies) symmetrized to an undirected a<b list. */
  private val knnEdgesUndCtes =
    """e AS (
      |  SELECT src, dst FROM (
      |    SELECT a.vec_id AS src, b.vec_id AS dst,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) AS rank
      |    FROM embeddings a, embeddings b
      |    WHERE a.vec_id < 100 AND b.vec_id < 100 AND a.vec_id <> b.vec_id)
      |  WHERE rank <= 3),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e)""".stripMargin

  /** Personalized PageRank from vec 0 over the kNN graph, FULL oracle —
    * random walk with restart, the graph-proximity relevance measure
    * (`GraphAnalytics.personalizedPagerankInt`); all teleport mass at
    * the source, integer floor arithmetic, unrolled-SQL replay. */
  private def pprKnnQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.personalizedPagerankInt(edges, source = 0L, iterations = 3)
      .select(col("id").as("vec_id"), col("score").as("ppr_scaled"))
  }

  private val pprKnnSql = {
    val iters = (1 to 3).map { t =>
      s"""c$t AS (SELECT e.dst AS id, sum(s${t - 1}.score // d.deg) AS contrib
         |       FROM e JOIN s${t - 1} ON s${t - 1}.id = e.src
         |       JOIN d ON d.src = e.src GROUP BY 1),
         |s$t AS (SELECT n.id,
         |          (CASE WHEN n.id = 0 THEN 150000 ELSE 0 END)
         |            + (850000 * coalesce(c$t.contrib, 0)) // 1000000 AS score
         |        FROM n LEFT JOIN c$t ON c$t.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) AS rank
       |    FROM embeddings a, embeddings b
       |    WHERE a.vec_id < 100 AND b.vec_id < 100 AND a.vec_id <> b.vec_id)
       |  WHERE rank <= 3),
       |n AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |s0 AS (SELECT id, CAST(CASE WHEN id = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS score FROM n),
       |$iters
       |SELECT id AS vec_id, CAST(score AS BIGINT) AS ppr_scaled FROM s3""".stripMargin
  }

  /** Katz centrality over the kNN graph, FULL oracle — 3 iterations of
    * the un-normalized hub-amplifying recursion on the 10^6 integer
    * grid (`GraphAnalytics.katzInt`); exact floor arithmetic, same
    * replay convention as pagerank. */
  private def katzKnnQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.katzInt(edges, iterations = 3)
      .select(col("id").as("vec_id"), col("score").as("katz_scaled"))
  }

  private val katzKnnSql = {
    val iters = (1 to 3).map { t =>
      s"""c$t AS (SELECT e.dst AS id, sum(s${t - 1}.score) AS contrib
         |       FROM e JOIN s${t - 1} ON s${t - 1}.id = e.src GROUP BY 1),
         |s$t AS (SELECT n.id,
         |          100000 + (100000 * coalesce(c$t.contrib, 0)) // 1000000
         |            AS score
         |        FROM n LEFT JOIN c$t ON c$t.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) AS rank
       |    FROM embeddings a, embeddings b
       |    WHERE a.vec_id < 100 AND b.vec_id < 100 AND a.vec_id <> b.vec_id)
       |  WHERE rank <= 3),
       |n AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |s0 AS (SELECT id, CAST(100000 AS BIGINT) AS score FROM n),
       |$iters
       |SELECT id AS vec_id, CAST(score AS BIGINT) AS katz_scaled FROM s3""".stripMargin
  }

  /** Pivot-sampled harmonic centrality, FULL oracle — sum of 1/d(s,v)
    * over 4 pivots, depth-6 exact BFS distances
    * (`GraphAnalytics.harmonicBounded`); `reached` exact BIGINT,
    * `harmonic` float4. */
  private def harmonicKnnQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.harmonicBounded(edges,
      sources = Seq(0L, 25L, 50L, 75L), maxDepth = 6)
      .select(col("id").as("vec_id"), col("reached"), col("harmonic"))
  }

  private val harmonicKnnSql: String = {
    val depth = 6
    val fwd = (1 to depth).map { l =>
      val p = l - 1
      s""",
         |h$l AS MATERIALIZED (
         |  SELECT DISTINCT f.src, adj.b AS node, CAST($l AS BIGINT) AS lvl
         |  FROM h$p f JOIN adj ON adj.a = f.node
         |  LEFT JOIN hv$p v ON v.src = f.src AND v.node = adj.b
         |  WHERE v.node IS NULL),
         |hv$l AS MATERIALIZED (SELECT * FROM hv$p
         |  UNION ALL SELECT src, node, lvl FROM h$l)""".stripMargin
    }.mkString
    s"""WITH $knnEdgesUndCtes,
       |adj AS MATERIALIZED (SELECT a, b FROM und
       |  UNION ALL SELECT b AS a, a AS b FROM und),
       |n AS (SELECT DISTINCT a AS id FROM adj),
       |srcs AS (SELECT CAST(src AS BIGINT) AS src
       |  FROM (VALUES (0), (25), (50), (75)) s(src)),
       |h0 AS MATERIALIZED (SELECT srcs.src, srcs.src AS node,
       |  CAST(0 AS BIGINT) AS lvl FROM srcs JOIN n ON n.id = srcs.src),
       |hv0 AS MATERIALIZED (SELECT src, node, lvl FROM h0)$fwd,
       |g AS (SELECT node, CAST(count(*) AS BIGINT) AS reached,
       |        SUM(1.0 / lvl) AS h
       |      FROM hv$depth WHERE lvl > 0 GROUP BY node)
       |SELECT n.id AS vec_id, CAST(COALESCE(g.reached, 0) AS BIGINT)
       |    AS reached,
       |  CAST(COALESCE(g.h, 0.0) AS REAL) AS harmonic
       |FROM n LEFT JOIN g ON g.node = n.id""".stripMargin
  }

  /** Deterministic random-walk corpus over the kNN graph, FULL
    * oracle — the DeepWalk sampling stage
    * (`GraphAnalytics.randomWalks`): one 5-step uniform walk per node,
    * step coins from the shared splitmix64 stream keyed
    * (walk * 1000003 + step), neighbor choice = coin mod degree over
    * dst-ranked adjacency — every hop replayed exactly through the
    * Mix64Sql chain. */
  private def deepwalkCorpusQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.randomWalks(edges, walkLength = 5)
      .select(col("wid"), col("step"), col("node"))
  }

  private val deepwalkCorpusSql: String = {
    val L = 5
    val steps = (1 to L).map { t =>
      // key wraps mod 2^64 like the JVM's Long multiply (HUGEINT fold,
      // the epochShuffleSql pattern) — a plain BIGINT multiply RAISES
      // in DuckDB for wids above ~9.2e12 where the engine wraps
      val k = s"""k$t AS MATERIALIZED (SELECT wid, cur,
         |  (wid::HUGEINT * 1000003 + $t) % 18446744073709551616::HUGEINT
         |    AS key FROM w${t - 1})"""
        .stripMargin
      val mix = functions.Mix64Sql.ctes(s"m$t", s"k$t", Seq("wid", "cur"),
        "key")
      val w = s"""w$t AS MATERIALIZED (
         |  SELECT m.wid, rk.nxt AS cur
         |  FROM m${t}6 m JOIN dg ON dg.cur = m.cur
         |  JOIN rk ON rk.cur = m.cur
         |    AND rk.idx = CAST(m.z % dg.deg::HUGEINT AS BIGINT))"""
        .stripMargin
      Seq(k, mix, w).mkString(",\n")
    }.mkString(",\n")
    val out = (0 to L).map(t =>
      s"SELECT wid, CAST($t AS BIGINT) AS step, cur AS node FROM w$t")
      .mkString("\nUNION ALL\n")
    s"""WITH $knnEdgesUndCtes,
       |adj AS MATERIALIZED (SELECT a, b FROM und
       |  UNION ALL SELECT b AS a, a AS b FROM und),
       |rk AS MATERIALIZED (SELECT a AS cur, b AS nxt,
       |  CAST(row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS BIGINT)
       |    AS idx
       |  FROM adj),
       |dg AS MATERIALIZED (SELECT cur, CAST(count(*) AS BIGINT) AS deg
       |  FROM rk GROUP BY cur),
       |w0 AS MATERIALIZED (SELECT DISTINCT cur AS wid, cur FROM rk),
       |$steps
       |$out""".stripMargin
  }

  /** Bounded sampled-Brandes betweenness over the kNN graph, FULL
    * oracle — 4 pivot sources, depth-6 BFS with exact integer path
    * counts, then the dependency recursion
    * (`GraphAnalytics.betweennessBounded`); `paths` is the exact
    * BIGINT sigma total, `betweenness` float4 (unordered dependency
    * sums). Paths beyond 6 hops are ignored on BOTH sides — the
    * sssp_bounded replayability convention. */
  private def betweennessKnnQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.betweennessBounded(edges,
      sources = Seq(0L, 25L, 50L, 75L), maxDepth = 6)
      .select(col("id").as("vec_id"), col("paths"), col("betweenness"))
  }

  private val betweennessKnnSql: String = {
    val depth = 6
    val fwd = (1 to depth).map { l =>
      val p = l - 1
      s""",
         |f$l AS MATERIALIZED (
         |  SELECT f$p.src, adj.b AS node, CAST(SUM(f$p.sigma) AS BIGINT)
         |    AS sigma
         |  FROM f$p JOIN adj ON adj.a = f$p.node
         |  LEFT JOIN v$p ON v$p.src = f$p.src AND v$p.node = adj.b
         |  WHERE v$p.node IS NULL GROUP BY 1, 2),
         |v$l AS MATERIALIZED (SELECT * FROM v$p
         |  UNION ALL SELECT src, node FROM f$l)""".stripMargin
    }.mkString
    val bwd = (0 until depth).reverse.map { l =>
      s""",
         |d$l AS MATERIALIZED (
         |  SELECT f.src, f.node, f.sigma,
         |    COALESCE(SUM((CAST(f.sigma AS DOUBLE) / CAST(x.sigma AS DOUBLE))
         |      * (1.0 + x.delta)), 0.0) AS delta
         |  FROM f$l f LEFT JOIN adj a ON a.a = f.node
         |  LEFT JOIN d${l + 1} x ON x.node = a.b AND x.src = f.src
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString
    val accUnion = (1 to depth).map(l =>
      s"SELECT src, node, sigma, delta FROM d$l").mkString("\nUNION ALL\n")
    s"""WITH $knnEdgesUndCtes,
       |adj AS MATERIALIZED (SELECT a, b FROM und
       |  UNION ALL SELECT b AS a, a AS b FROM und),
       |n AS (SELECT DISTINCT a AS id FROM adj),
       |srcs AS (SELECT CAST(src AS BIGINT) AS src
       |  FROM (VALUES (0), (25), (50), (75)) s(src)),
       |f0 AS MATERIALIZED (SELECT srcs.src, srcs.src AS node,
       |  CAST(1 AS BIGINT) AS sigma FROM srcs JOIN n ON n.id = srcs.src),
       |v0 AS MATERIALIZED (SELECT src, node FROM f0)$fwd,
       |d$depth AS MATERIALIZED (SELECT src, node, sigma, 0.0 AS delta
       |  FROM f$depth)$bwd,
       |acc AS MATERIALIZED (
       |$accUnion),
       |g AS (SELECT node, CAST(SUM(sigma) AS BIGINT) AS paths,
       |        SUM(delta) AS bw
       |      FROM acc GROUP BY node)
       |SELECT n.id AS vec_id, CAST(COALESCE(g.paths, 0) AS BIGINT) AS paths,
       |  CAST(COALESCE(g.bw, 0.0) AS REAL) AS betweenness
       |FROM n LEFT JOIN g ON g.node = n.id""".stripMargin
  }

  /** Per-node triangle counts over the kNN graph, FULL oracle — the
    * two-join enumeration (`GraphAnalytics.triangleCounts`; each
    * triangle found once as a<b<c, exploded to corners, reduced) against
    * the identical enumeration in SQL. */
  private def triangleCountQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.triangleCounts(edges)
      .select(col("id").as("vec_id"), col("n_triangles"))
  }

  private val triangleCountSql =
    s"""WITH $knnEdgesUndCtes,
       |n AS (SELECT DISTINCT id FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM und e1
       |  JOIN und e2 ON e2.a = e1.b
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |corners AS (
       |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
       |cnts AS (SELECT id, count(*) AS cnt FROM corners GROUP BY 1)
       |SELECT n.id AS vec_id, CAST(coalesce(cnts.cnt, 0) AS BIGINT) AS n_triangles
       |FROM n LEFT JOIN cnts ON cnts.id = n.id""".stripMargin

  /** Common-neighbor link prediction over the kNN graph, FULL oracle —
    * wedge join on the shared-neighbor key, neighborhood Jaccard, the
    * adjacency flag, and the deterministic top-20 cut
    * (`GraphAnalytics.commonNeighbors`). */
  private def linkPredictQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.commonNeighbors(edges, kTop = 20)
  }

  private val linkPredictSql =
    s"""WITH $knnEdgesUndCtes,
       |adj AS (SELECT a AS node, b AS nb FROM und UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT node, count(*) AS d FROM adj GROUP BY 1),
       |cn AS (
       |  SELECT x.node AS u, y.node AS v, count(*) AS common
       |  FROM adj x JOIN adj y ON x.nb = y.nb AND x.node < y.node
       |  GROUP BY 1, 2)
       |SELECT cn.u, cn.v, CAST(common AS BIGINT) AS common,
       |  CAST(common AS DOUBLE) / (du.d + dv.d - common) AS jaccard,
       |  coalesce(e2.adj, false) AS adjacent
       |FROM cn
       |JOIN deg du ON du.node = cn.u
       |JOIN deg dv ON dv.node = cn.v
       |LEFT JOIN (SELECT a, b, true AS adj FROM und) e2
       |  ON e2.a = cn.u AND e2.b = cn.v
       |ORDER BY common DESC, cn.u, cn.v LIMIT 20""".stripMargin

  /** Label-propagation communities over the kNN graph, FULL oracle —
    * synchronous majority vote with the smallest-label tie-break
    * (`GraphAnalytics.labelPropagation`; no randomness, no visit order),
    * so the 3-round chain replays exactly as unrolled SQL
    * (join + grouped top-1 per round). */
  private def communityQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.labelPropagation(edges, iterations = 3)
      .select(col("id").as("vec_id"), col("community"))
  }

  private val communitySql = {
    val rounds = (1 to 3).map { t =>
      s"""c$t AS (SELECT adj.node, l${t - 1}.label, count(*) AS c
         |       FROM adj JOIN l${t - 1} ON l${t - 1}.id = adj.nb GROUP BY 1, 2),
         |p$t AS (SELECT node AS id, label FROM (
         |          SELECT node, label,
         |            row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |          FROM c$t) WHERE rn = 1),
         |l$t AS (SELECT n.id, coalesce(p$t.label, n.id) AS label
         |        FROM n LEFT JOIN p$t ON p$t.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnEdgesUndCtes,
       |adj AS (SELECT a AS node, b AS nb FROM und UNION ALL SELECT b, a FROM und),
       |n AS (SELECT DISTINCT node AS id FROM adj),
       |l0 AS (SELECT id, id AS label FROM n),
       |$rounds
       |SELECT id AS vec_id, CAST(label AS BIGINT) AS community FROM l3""".stripMargin
  }

  /** Modularity of the label-propagation communities, FULL oracle —
    * Newman Q on the 4m² integer grid (`GraphAnalytics.modularity`):
    * per-community intra-edge/degree contributions exact BIGINT, only
    * the final ratio float4; oracle = the labelprop chain + the
    * modularity tail. */
  private def modularityKnnQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    val labels = operators.GraphAnalytics.labelPropagation(edges, iterations = 3)
    operators.GraphAnalytics.modularity(edges, labels, "id", "community")
  }

  private val modularityKnnSql = {
    val rounds = (1 to 3).map { t =>
      s"""c$t AS (SELECT adj.node, l${t - 1}.label, count(*) AS c
         |       FROM adj JOIN l${t - 1} ON l${t - 1}.id = adj.nb GROUP BY 1, 2),
         |p$t AS (SELECT node AS id, label FROM (
         |          SELECT node, label,
         |            row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |          FROM c$t) WHERE rn = 1),
         |l$t AS (SELECT n.id, coalesce(p$t.label, n.id) AS label
         |        FROM n LEFT JOIN p$t ON p$t.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnEdgesUndCtes,
       |adj AS (SELECT a AS node, b AS nb FROM und UNION ALL SELECT b, a FROM und),
       |n AS (SELECT DISTINCT node AS id FROM adj),
       |l0 AS (SELECT id, id AS label FROM n),
       |$rounds,
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |degs AS (SELECT node AS id, CAST(count(*) AS BIGINT) AS deg
       |  FROM adj GROUP BY 1),
       |intra AS (SELECT la.label AS community,
       |    CAST(count(*) AS BIGINT) AS intra_edges
       |  FROM und JOIN l3 la ON la.id = und.a
       |  JOIN l3 lb ON lb.id = und.b
       |  WHERE la.label = lb.label GROUP BY 1),
       |dc AS (SELECT l3.label AS community,
       |    CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(degs.deg) AS BIGINT) AS degree_sum
       |  FROM l3 JOIN degs ON degs.id = l3.id GROUP BY 1),
       |per AS (SELECT dc.community, dc.n_nodes,
       |    COALESCE(intra.intra_edges, 0) AS intra_edges, dc.degree_sum,
       |    4 * (SELECT m FROM mm) * COALESCE(intra.intra_edges, 0)
       |      - dc.degree_sum * dc.degree_sum AS q_contrib_scaled
       |  FROM dc LEFT JOIN intra ON intra.community = dc.community)
       |SELECT CAST(community AS BIGINT) AS community, n_nodes,
       |  CAST(intra_edges AS BIGINT) AS intra_edges, degree_sum,
       |  CAST(q_contrib_scaled AS BIGINT) AS q_contrib_scaled,
       |  CAST(CAST(SUM(q_contrib_scaled) OVER () AS DOUBLE) /
       |    (4.0 * (SELECT m FROM mm) * (SELECT m FROM mm)) AS REAL) AS q
       |FROM per""".stripMargin
  }

  /** Local clustering coefficients over the kNN graph, FULL oracle —
    * 2T(v)/(deg(v)(deg(v)−1)) from the triangle enumeration + one degree
    * aggregate (`GraphAnalytics.clusteringCoefficients`); the division
    * is exact-int → double, deterministic cross-engine. */
  private def clusteringCoeffQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.clusteringCoefficients(edges)
      .select(col("id").as("vec_id"), col("n_triangles"), col("degree"), col("cc"))
  }

  private val clusteringCoeffSql =
    s"""WITH $knnEdgesUndCtes,
       |adj AS (SELECT a AS node, b AS nb FROM und UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT node AS id, count(*) AS degree FROM adj GROUP BY 1),
       |n AS (SELECT DISTINCT id FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM und e1
       |  JOIN und e2 ON e2.a = e1.b
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |corners AS (
       |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
       |cnts AS (SELECT id, count(*) AS cnt FROM corners GROUP BY 1)
       |SELECT n.id AS vec_id,
       |  CAST(coalesce(cnts.cnt, 0) AS BIGINT) AS n_triangles,
       |  CAST(deg.degree AS BIGINT) AS degree,
       |  CASE WHEN deg.degree < 2 THEN 0.0
       |       ELSE 2.0 * coalesce(cnts.cnt, 0) / (deg.degree * (deg.degree - 1))
       |  END AS cc
       |FROM n JOIN deg ON deg.id = n.id LEFT JOIN cnts ON cnts.id = n.id""".stripMargin

  /** Hop-bounded SSSP over the kNN graph, FULL oracle — 3 Bellman–Ford
    * relaxation rounds (`GraphAnalytics.ssspBounded`, min-plus joins,
    * NULL = unreached). The fixture weights are id-derived integers
    * (1 + (7·src + 13·dst) mod 97) rather than floor-scaled float
    * distances: a floor of a libm-adjacent double flips at ulp
    * boundaries (the v_distances lesson), while the operator's contract
    * — integer weights — is exactly replayable. */
  private def ssspBoundedQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3)
      .select(col("src"), col("dst"),
        (lit(1L) + pmod(col("src") * 7 + col("dst") * 13, lit(97L))).as("w"))
    operators.GraphAnalytics.ssspBounded(edges, "w", source = 0L, rounds = 3)
      .select(col("id").as("vec_id"), col("dist_scaled"))
  }

  private val ssspBoundedSql = {
    val rounds = (1 to 3).map { t =>
      s"""r$t AS (SELECT sym.dst AS id, min(d${t - 1}.d + sym.w) AS cand
         |       FROM sym JOIN d${t - 1} ON d${t - 1}.id = sym.src
         |       WHERE d${t - 1}.d IS NOT NULL GROUP BY 1),
         |d$t AS (SELECT d${t - 1}.id, least(d${t - 1}.d, r$t.cand) AS d
         |        FROM d${t - 1} LEFT JOIN r$t ON r$t.id = d${t - 1}.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT src, dst, 1 + (7 * src + 13 * dst) % 97 AS w FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) AS rank
       |    FROM embeddings a, embeddings b
       |    WHERE a.vec_id < 100 AND b.vec_id < 100 AND a.vec_id <> b.vec_id)
       |  WHERE rank <= 3),
       |sym AS (SELECT src, dst, min(w) AS w FROM (
       |          SELECT src, dst, w FROM e
       |          UNION ALL SELECT dst, src, w FROM e) GROUP BY 1, 2),
       |d0 AS (SELECT DISTINCT src AS id,
       |         CASE WHEN src = 0 THEN CAST(0 AS BIGINT) ELSE NULL END AS d
       |       FROM sym),
       |$rounds
       |SELECT id AS vec_id, CAST(d AS BIGINT) AS dist_scaled FROM d3""".stripMargin
  }

  /** Hashed TF-IDF sparse vectorizer, FULL oracle — the classic
    * hashing-trick document vectorizer (`Bm25.tfidfHashed`): tf·ln(N/df)
    * summed per (doc, djb2-mod-256 bucket); weights float4 per the libm
    * convention (ln + unordered per-bucket sums). */
  private def tfidfHashedQ(s: SparkSession, dir: String): DataFrame =
    operators.Bm25.tfidfHashed(
      Tables.read(s, dir, "documents").filter(col("doc_id") < 200),
      "doc_id", "text", dim = 256)

  private val tfidfHashedSql =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM d),
       |toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM d),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
       |SELECT tf.doc_id, ${djb2Fold(sqlBytesOf("tf.term"))} % 256 AS idx,
       |  CAST(sum(tf.tf * ln(nn.n / df.df)) AS REAL) AS weight
       |FROM tf JOIN df ON df.term = tf.term, nn
       |GROUP BY 1, 2""".stripMargin

  /** Bounded 4-core peeling over the kNN graph, FULL oracle — three
    * synchronous drop-below-k rounds (`GraphAnalytics.kCoreBounded`; all
    * under-degree nodes removed together, no visit order), replayed as
    * unrolled degree-aggregate + semi-join SQL rounds. */
  private def kcoreQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.kCoreBounded(edges, k = 4, rounds = 3)
      .select(col("id").as("vec_id"), col("degree"), col("in_core"))
  }

  private val kcoreSql = {
    val rounds = (1 to 3).map { t =>
      s"""dg$t AS (SELECT id, count(*) AS d FROM (
         |  SELECT a AS id FROM l${t - 1} UNION ALL SELECT b FROM l${t - 1}) GROUP BY 1),
         |kp$t AS (SELECT id FROM dg$t WHERE d >= 4),
         |l$t AS (SELECT l.a, l.b FROM l${t - 1} l
         |        JOIN kp$t ka ON ka.id = l.a JOIN kp$t kb ON kb.id = l.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnEdgesUndCtes,
       |n AS (SELECT DISTINCT id FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)),
       |l0 AS (SELECT a, b FROM und),
       |$rounds,
       |fd AS (SELECT id, count(*) AS degree FROM (
       |  SELECT a AS id FROM l3 UNION ALL SELECT b FROM l3) GROUP BY 1)
       |SELECT n.id AS vec_id, CAST(coalesce(fd.degree, 0) AS BIGINT) AS degree,
       |  coalesce(fd.degree, 0) >= 4 AS in_core
       |FROM n LEFT JOIN fd ON fd.id = n.id""".stripMargin
  }

  /** faceted_vector_search: top-3 per label facet. */
  private def facetedKnn(s: SparkSession, dir: String): DataFrame = {
    val q = qvec(s, dir)
    operators.Knn.searchFaceted(
      Tables.read(s, dir, "embeddings"), "embedding", "label", q, 3, "l2", tieBreak = Seq("vec_id"))
      .select(col("label"), col("vec_id"), col("rank"), round(col("distance"), 6).as("dist"))
  }

  private val facetedKnnSql =
    s"""SELECT label, vec_id, rank, dist FROM (
       |  SELECT label, vec_id,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY list_distance(embedding::DOUBLE[], $qvecSql), vec_id) AS rank,
       |    round(list_distance(embedding::DOUBLE[], $qvecSql), 6) AS dist
       |  FROM embeddings)
       |WHERE rank <= 3""".stripMargin

  // ======================================================================
  // Vector aggregates (SURVEY §2.4)
  // ======================================================================

  /** vector_avg per label group, exploded to scalar rows. */
  private def vaAvg(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(VA.vector_avg(col("embedding")).as("avg_vec"))
      .select(col("label"), posexplode(col("avg_vec")))
      .select(col("label"), col("pos"), col("col").cast("double").as("val"))

  private val vaAvgSql =
    """SELECT label, pos, CAST(CAST(sum(v) / count(*) AS REAL) AS DOUBLE) AS val
      |FROM (SELECT label, unnest(range(0, len(embedding))) AS pos,
      |             unnest(embedding::DOUBLE[]) AS v FROM embeddings)
      |GROUP BY label, pos""".stripMargin

  private def vaSum(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(VA.vector_sum(col("embedding")).as("sum_vec"))
      .select(col("label"), posexplode(col("sum_vec")))
      .select(col("label"), col("pos"), col("col").cast("double").as("val"))

  private val vaSumSql =
    """SELECT label, pos, CAST(CAST(sum(v) AS REAL) AS DOUBLE) AS val
      |FROM (SELECT label, unnest(range(0, len(embedding))) AS pos,
      |             unnest(embedding::DOUBLE[]) AS v FROM embeddings)
      |GROUP BY label, pos""".stripMargin

  /** Element-wise min and max across rows per label group. */
  private def vaMinMax(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(
        VA.vector_min_agg(col("embedding")).as("min_vec"),
        VA.vector_max_agg(col("embedding")).as("max_vec"))
      .select(col("label"), posexplode(arrays_zip(col("min_vec"), col("max_vec"))))
      .select(col("label"), col("pos"),
        col("col.min_vec").cast("double").as("vmin"),
        col("col.max_vec").cast("double").as("vmax"))

  private val vaMinMaxSql =
    """SELECT label, pos, min(v)::DOUBLE AS vmin, max(v)::DOUBLE AS vmax
      |FROM (SELECT label, unnest(range(0, len(embedding))) AS pos,
      |             unnest(embedding) AS v FROM embeddings)
      |GROUP BY label, pos""".stripMargin

  // ======================================================================
  // Hybrid / lexical search + rerank (SURVEY §2.6, §2.7)
  // ======================================================================

  private val hybridQText = "fast query merge join"

  /** Reference-parity pairwise BM25 with its fixed corpus constants
    * (sparse_search.c:508-600): idf = ln(900.5/100.5) for every term.
    * float4 output on both engines — an ln-chain under round(x, 6)
    * flakes when JVM and DuckDB libm differ by an ulp at a decimal
    * boundary (the v_distances r7 lesson). */
  private def bm25Pair(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        operators.Bm25.bm25_score(lit(hybridQText), col("text")).cast("float").as("bm25"))

  private val bm25PairSql =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents)
       |SELECT doc_id, CAST(
       |  ln(900.5/100.5) * (tf_fast  * 2.5) / (tf_fast  + 1.5*(0.25 + 0.75*dl/100.0)) +
       |  ln(900.5/100.5) * (tf_query * 2.5) / (tf_query + 1.5*(0.25 + 0.75*dl/100.0)) +
       |  ln(900.5/100.5) * (tf_merge * 2.5) / (tf_merge + 1.5*(0.25 + 0.75*dl/100.0)) +
       |  ln(900.5/100.5) * (tf_join  * 2.5) / (tf_join  + 1.5*(0.25 + 0.75*dl/100.0)) AS REAL) AS bm25
       |FROM (
       |  SELECT doc_id, len(t)::DOUBLE AS dl,
       |    len(list_filter(t, x -> x = 'fast'))::DOUBLE  AS tf_fast,
       |    len(list_filter(t, x -> x = 'query'))::DOUBLE AS tf_query,
       |    len(list_filter(t, x -> x = 'merge'))::DOUBLE AS tf_merge,
       |    len(list_filter(t, x -> x = 'join'))::DOUBLE  AS tf_join
       |  FROM toks)""".stripMargin

  /** Corpus-statistics BM25 (the real scorer behind hybrid search):
    * postings + idf over the documents table for the 4-term query. */
  private def bm25Corpus(s: SparkSession, dir: String): DataFrame = {
    val idx = operators.Bm25.buildIndex(Tables.read(s, dir, "documents"), "doc_id", "text")
    idx.score(hybridQText)
      .select(col("doc_id"), col("bm25").cast("float").as("bm25"))
  }

  private val bm25CorpusSql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |stats AS (SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM toks),
      |tf AS (
      |  SELECT doc_id, len(t)::DOUBLE AS dl,
      |    len(list_filter(t, x -> x = 'fast'))::DOUBLE  AS tf_fast,
      |    len(list_filter(t, x -> x = 'query'))::DOUBLE AS tf_query,
      |    len(list_filter(t, x -> x = 'merge'))::DOUBLE AS tf_merge,
      |    len(list_filter(t, x -> x = 'join'))::DOUBLE  AS tf_join
      |  FROM toks),
      |df AS (
      |  SELECT
      |    sum(CASE WHEN tf_fast  > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_fast,
      |    sum(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_query,
      |    sum(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_merge,
      |    sum(CASE WHEN tf_join  > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_join
      |  FROM tf)
      |SELECT doc_id, CAST(
      |  CASE WHEN tf_fast  > 0 THEN ln((n - df_fast  + 0.5)/(df_fast  + 0.5) + 1.0) * (tf_fast  * 2.2)/(tf_fast  + 1.2*(0.25 + 0.75*dl/avgdl)) ELSE 0 END +
      |  CASE WHEN tf_query > 0 THEN ln((n - df_query + 0.5)/(df_query + 0.5) + 1.0) * (tf_query * 2.2)/(tf_query + 1.2*(0.25 + 0.75*dl/avgdl)) ELSE 0 END +
      |  CASE WHEN tf_merge > 0 THEN ln((n - df_merge + 0.5)/(df_merge + 0.5) + 1.0) * (tf_merge * 2.2)/(tf_merge + 1.2*(0.25 + 0.75*dl/avgdl)) ELSE 0 END +
      |  CASE WHEN tf_join  > 0 THEN ln((n - df_join  + 0.5)/(df_join  + 0.5) + 1.0) * (tf_join  * 2.2)/(tf_join  + 1.2*(0.25 + 0.75*dl/avgdl)) ELSE 0 END AS REAL) AS bm25
      |FROM tf, stats, df
      |WHERE tf_fast + tf_query + tf_merge + tf_join > 0""".stripMargin

  /** hybrid_search over embeddings⋈documents: w·(1−l2) + (1−w)·bm25. */
  private def hybridSearchQ(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.read(s, dir, "embeddings")
      .join(Tables.read(s, dir, "documents"),
        col("vec_id") === col("doc_id"))
    operators.Hybrid.hybridSearch(corpus, "doc_id", "embedding", "text",
      qvec(s, dir), hybridQText, vectorWeight = 0.7, k = 20)
      .select(col("doc_id"), col("hybrid_score").cast("float").as("score"))
  }

  private val hybridSearchSql =
    s"""WITH scored AS (
       |  SELECT d.doc_id,
       |    0.7 * (1.0 - list_distance(e.embedding::DOUBLE[], $qvecSql)) + 0.3 * (
       |      SELECT round(
       |        ln(900.5/100.5) * (len(list_filter(t, x -> x='fast'))::DOUBLE  * 2.5) / (len(list_filter(t, x -> x='fast'))::DOUBLE  + 1.5*(0.25+0.75*len(t)/100.0)) +
       |        ln(900.5/100.5) * (len(list_filter(t, x -> x='query'))::DOUBLE * 2.5) / (len(list_filter(t, x -> x='query'))::DOUBLE + 1.5*(0.25+0.75*len(t)/100.0)) +
       |        ln(900.5/100.5) * (len(list_filter(t, x -> x='merge'))::DOUBLE * 2.5) / (len(list_filter(t, x -> x='merge'))::DOUBLE + 1.5*(0.25+0.75*len(t)/100.0)) +
       |        ln(900.5/100.5) * (len(list_filter(t, x -> x='join'))::DOUBLE  * 2.5) / (len(list_filter(t, x -> x='join'))::DOUBLE  + 1.5*(0.25+0.75*len(t)/100.0)), 12)
       |      FROM (SELECT regexp_extract_all(lower(d.text), '[a-z0-9]+') AS t)
       |    ) AS hybrid_score
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id)
       |SELECT doc_id, CAST(hybrid_score AS REAL) AS score
       |FROM scored ORDER BY hybrid_score DESC, doc_id LIMIT 20""".stripMargin

  /** RRF over the l2 ranking and the inner-product ranking — both score
    * columns live on one frame, so the fused form shares a single
    * quantile pass and needs no union/groupBy. */
  private def rrfFusionQ(s: SparkSession, dir: String): DataFrame = {
    val q = qvec(s, dir)
    // codegen'd native expressions, not UDFs: DistributedRank's
    // three-scan shape (quantiles, ranks, counts) re-evaluates the score
    // columns each pass, so the per-eval cost — and the JIT surface
    // behind the bench's warmup spread — is multiplied by the scan count
    val e = Tables.read(s, dir, "embeddings")
      .withColumn("d_l2", operators.Knn.distCol("l2")(col("embedding"), lit(q)))
      .withColumn("d_ip", operators.Knn.distCol("ip")(col("embedding"), lit(q)))
    operators.Hybrid.rrfFusionColumns(e, "vec_id",
      Seq(("d_l2", false), ("d_ip", false)), kParam = 60.0)
      .select(col("vec_id"), round(col("rrf_score"), 6).as("rrf"))
  }

  private val rrfFusionSql =
    s"""WITH l2r AS (SELECT vec_id, row_number() OVER (
       |    ORDER BY list_distance(embedding::DOUBLE[], $qvecSql), vec_id) AS r FROM embeddings),
       |  ipr AS (SELECT vec_id, row_number() OVER (
       |    ORDER BY -list_inner_product(embedding::DOUBLE[], $qvecSql), vec_id) AS r FROM embeddings)
       |SELECT l2r.vec_id, round(1.0/(60.0 + l2r.r) + 1.0/(60.0 + ipr.r), 6) AS rrf
       |FROM l2r JOIN ipr ON l2r.vec_id = ipr.vec_id""".stripMargin

  /** temporal_vector_search: similarity decayed by exp(-λ·age_days).
    * events.ts epoch-micros via Tables.tsUs (schema-dispatched — the
    * driver parquet stores TIMESTAMP(MICROS)); /1e6 reproduces DuckDB's
    * micro-truncated `epoch(ts)` exactly. */
  private def temporalKnn(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
    val df = Tables.read(s, dir, "embeddings")
      .join(ev.select(col("event_id"), Tables.tsUs(ev).as("ts_raw_us")),
        col("vec_id") === col("event_id"))
      .select(col("vec_id"), col("embedding"),
        (col("ts_raw_us") / lit(1e6)).as("ts_sec"))
    operators.Hybrid.temporalVectorSearch(df, "vec_id", "embedding", "ts_sec",
      qvec(s, dir), decay = 0.01, k = 20)
      .select(col("vec_id"), col("temporal_score").cast("float").as("score"))
  }

  private val temporalKnnSql =
    s"""WITH j AS (
       |  SELECT e.vec_id, e.embedding, ev.ts
       |  FROM embeddings e JOIN events ev ON e.vec_id = ev.event_id),
       |scored AS (
       |  SELECT vec_id,
       |    (1.0 - list_distance(embedding::DOUBLE[], $qvecSql)) *
       |      exp(-0.01 * ((SELECT max(epoch(ts)) FROM j) - epoch(ts)) / 86400.0) AS score
       |  FROM j)
       |SELECT vec_id, CAST(score AS REAL) AS score
       |FROM scored ORDER BY score DESC, vec_id LIMIT 20""".stripMargin

  /** multi_vector_search with max-fusion over two query vectors. */
  private def multiVectorQ(s: SparkSession, dir: String): DataFrame = {
    val q0 = qvec(s, dir)
    val q1 = Tables.queryVector(s, dir, 1L)
    operators.Hybrid.multiVectorSearch(
      Tables.read(s, dir, "embeddings"), "vec_id", "embedding", Seq(q0, q1), "max", k = 20)
      .select(col("vec_id"), round(col("fused_score"), 6).as("score"))
  }

  private val multiVectorSql =
    s"""WITH q1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 1)
       |SELECT vec_id, round(greatest(
       |    1.0 - list_distance(embedding::DOUBLE[], $qvecSql),
       |    1.0 - list_distance(embedding::DOUBLE[], (SELECT v FROM q1))), 6) AS score
       |FROM embeddings
       |ORDER BY greatest(
       |    1.0 - list_distance(embedding::DOUBLE[], $qvecSql),
       |    1.0 - list_distance(embedding::DOUBLE[], (SELECT v FROM q1))) DESC, vec_id
       |LIMIT 20""".stripMargin

  /** ltr_rerank_pointwise: linear scorer over lineitem features. */
  private def ltrRerank(s: SparkSession, dir: String): DataFrame =
    operators.Rerank.ltrRerank(
      Tables.read(s, dir, "lineitem"),
      Seq(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
      Seq(0.3, 0.0001, -2.0), bias = 1.0, k = 20, idCol = "l_orderkey")
      .select(col("l_orderkey"), col("l_linenumber"), round(col("ltr_score"), 6).as("score"))

  private val ltrRerankSql =
    """SELECT l_orderkey, l_linenumber,
      |  round(l_quantity*0.3 + l_extendedprice*0.0001 + l_discount*(-2.0) + 1.0, 6) AS score
      |FROM lineitem
      |ORDER BY l_quantity*0.3 + l_extendedprice*0.0001 + l_discount*(-2.0) + 1.0 DESC, l_orderkey
      |LIMIT 20""".stripMargin

  /** rerank_ensemble_borda over the l2 and ip rankings. */
  private def bordaRerank(s: SparkSession, dir: String): DataFrame = {
    val q = qvec(s, dir)
    val e = Tables.read(s, dir, "embeddings")
      .withColumn("d_l2", DE.l2(col("embedding"), lit(q)))
      .withColumn("d_ip", DE.innerProduct(col("embedding"), lit(q)))
    operators.Rerank.ensembleBorda(e, "vec_id", Seq(("d_l2", false), ("d_ip", false)))
      .select(col("vec_id"), col("borda_score"))
  }

  private val bordaRerankSql =
    s"""WITH n AS (SELECT count(*) AS n FROM embeddings),
       |  l2r AS (SELECT vec_id, row_number() OVER (
       |    ORDER BY list_distance(embedding::DOUBLE[], $qvecSql), vec_id) AS r FROM embeddings),
       |  ipr AS (SELECT vec_id, row_number() OVER (
       |    ORDER BY -list_inner_product(embedding::DOUBLE[], $qvecSql), vec_id) AS r FROM embeddings)
       |SELECT l2r.vec_id, ((SELECT n FROM n) - l2r.r) + ((SELECT n FROM n) - ipr.r) AS borda_score
       |FROM l2r JOIN ipr ON l2r.vec_id = ipr.vec_id""".stripMargin

  // ======================================================================
  // Quantization codecs / chunking / RAG (SURVEY §2.8, §2.9)
  // ======================================================================

  /** binary quantize→dequantize round-trip: sign bit → ±1. */
  private def quantBinary(s: SparkSession, dir: String): DataFrame = {
    val rt = udf((v: Seq[Float]) => {
      val a = v.toArray
      functions.Quantization.binaryToVector(functions.Quantization.toBinary(a), a.length)
    })
    Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(rt(col("embedding"))))
      .select(col("vec_id"), col("pos"), col("col").cast("double").as("val"))
  }

  private val quantBinarySql =
    """SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |  unnest(list_transform(embedding, x -> CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END)) AS val
      |FROM embeddings""".stripMargin

  /** ternary quantize→dequantize: threshold max_abs/3 → {-1,0,+1}. */
  private def quantTernary(s: SparkSession, dir: String): DataFrame = {
    val rt = udf((v: Seq[Float]) => {
      val a = v.toArray
      functions.Quantization.ternaryToVector(functions.Quantization.toTernary(a), a.length)
    })
    Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(rt(col("embedding"))))
      .select(col("vec_id"), col("pos"), col("col").cast("double").as("val"))
  }

  private val quantTernarySql =
    """WITH t AS (SELECT vec_id, embedding,
      |    CAST(list_max(list_transform(embedding, x -> abs(x))) / 3.0 AS REAL) AS thr
      |  FROM embeddings)
      |SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |  unnest(list_transform(embedding, x ->
      |    CASE WHEN x > thr THEN 1.0 WHEN x < -thr THEN -1.0 ELSE 0.0 END)) AS val
      |FROM t""".stripMargin

  /** int8 max-abs codes; DuckDB replicates float scaling + banker's rint. */
  private def quantInt8(s: SparkSession, dir: String): DataFrame = {
    val enc = udf((v: Seq[Float]) => functions.Quantization.toInt8(v.toArray).map(_.toInt))
    Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(enc(col("embedding"))))
      .select(col("vec_id"), col("pos"), col("col").as("code"))
  }

  private val quantInt8Sql =
    """WITH t AS (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(x))) AS maxabs
      |  FROM embeddings)
      |SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |  unnest(list_transform(embedding, x -> CASE WHEN maxabs = 0 THEN 0 ELSE
      |    CAST(roundbankers(greatest(-128.0, least(127.0,
      |      CAST(x * CAST(127.0 / maxabs AS REAL) AS REAL)::DOUBLE)), 0) AS INT) END)) AS code
      |FROM t""".stripMargin

  /** Cold-tier compression, FULL oracle — `compress_cold_tier`
    * (`neurondb--1.0.sql:3893`, `DataManagement.compressColdTier`):
    * rows older than the cutoff get their vector quantized to an int8
    * payload (the SAME banker's-rounding codec `quant_int8` proves in
    * DuckDB), hot rows stay full-precision. The oracle re-derives the
    * tier split from the closed-form age and the cold payloads'
    * signed-byte sums element-by-element — a wrong cutoff comparison,
    * codec drift, or a hot row quantized by mistake all break the
    * hash. Age = vec_id mod 100 (closed form), cutoff 50. */
  private def coldTierQ(s: SparkSession, dir: String): DataFrame = {
    val byteSum = udf((b: Array[Byte]) =>
      if (b == null) None else Some(b.map(_.toLong).sum))
    val emb = Tables.read(s, dir, "embeddings")
      .withColumn("age", (col("vec_id") % 100).cast("double"))
    operators.DataManagement.compressColdTier(emb, "embedding", "age", cutoff = 50.0)
      .select(col("vec_id"), col("tier"),
        byteSum(col("cold_payload")).as("payload_sum"),
        when(col("tier") === "hot", size(col("embedding")))
          .cast("int").as("hot_dim"))
  }

  private val coldTierSql =
    """WITH t AS (SELECT vec_id, embedding,
      |    CAST(vec_id % 100 AS DOUBLE) AS age,
      |    list_max(list_transform(embedding, x -> abs(x))) AS maxabs
      |  FROM embeddings)
      |SELECT vec_id,
      |  CASE WHEN age > 50.0 THEN 'cold' ELSE 'hot' END AS tier,
      |  CASE WHEN age > 50.0 THEN CAST(list_sum(list_transform(embedding,
      |    x -> CASE WHEN maxabs = 0 THEN 0 ELSE
      |      CAST(roundbankers(greatest(-128.0, least(127.0,
      |        CAST(x * CAST(127.0 / maxabs AS REAL) AS REAL)::DOUBLE)), 0) AS INT)
      |    END)) AS BIGINT) END AS payload_sum,
      |  CASE WHEN age <= 50.0 THEN CAST(len(embedding) AS INT) END AS hot_dim
      |FROM t""".stripMargin

  /** chunk(doc, 128, 32): substring windows, stride 96. */
  private def chunkText(s: SparkSession, dir: String): DataFrame =
    operators.Rag.chunkDocuments(Tables.read(s, dir, "documents"), "doc_id", "text", 128, 32)
      .select(col("doc_id"), col("chunk_index"), col("chunk"))

  private val chunkTextSql =
    """SELECT doc_id, CAST(start / 96 AS INT) AS chunk_index,
      |  substr(text, CAST(start AS INT) + 1, 128) AS chunk
      |FROM (SELECT doc_id, text, unnest(range(0, length(text), 96)) AS start
      |      FROM documents WHERE length(text) > 0)""".stripMargin

  /** rag_query end-to-end (chunk → djb2 embed → cosine kNN), fully
    * oracle-checked: the byte-fold embedder unrolls into a DuckDB
    * recursive CTE (ASCII corpus ⇒ codepoints are the UTF-8 bytes);
    * (doc_id, chunk_index) tiebreaks pin the k-cut among duplicate
    * chunks. */
  private def ragQuery(s: SparkSession, dir: String): DataFrame = {
    val index = operators.Rag.buildChunkIndex(
      Tables.read(s, dir, "documents").filter(col("doc_id") < 200),
      "doc_id", "text", size = 256, overlap = 64)
    operators.Rag.ragQuery(index, "fast merge join strategy", k = 5,
        tieBreak = Seq("doc_id", "chunk_index"))
      .select(col("doc_id"), col("chunk_index"), round(col("distance"), 6).as("dist"))
  }

  /** Content-defined chunking, FULL oracle — the dedup-STABLE chunker
    * (FastCDC/gear-hash idea at token granularity): a chunk boundary
    * falls after every token whose splitmix64(djb2) fingerprint has its
    * low 4 bits zero (expected chunk ≈ 16 tokens), so boundaries are a
    * pure function of LOCAL content — inserting text shifts only the
    * chunk it lands in, unlike fixed-size chunking where every
    * downstream boundary moves (what makes chunk-level dedup survive
    * edits). Per-doc stats: token count, chunk count, longest chunk.
    * One scan + per-doc windows; integers end to end. */
  private def cdcChunksQ(s: SparkSession, dir: String): DataFrame = {
    val mixUdf = udf((u: Long) => functions.DetRandom.mix64(u))
    val toks = Tables.read(s, dir, "documents")
      .filter(lower(col("text")).rlike("[a-z0-9]"))
      .select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))))
      .select(col("doc_id"), col("pos"),
        operators.Sketches.djb2Udf(col("col")).as("u"))
      .withColumn("b",
        (mixUdf(col("u")).bitwiseAND(lit(15L)) === 0L).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1L)
    val chunked = toks.withColumn("chunk",
      coalesce(sum(col("b")).over(w), lit(0L)))
    chunked.groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("clen"))
      .groupBy(col("doc_id"))
      .agg(sum(col("clen")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        max(col("clen")).as("longest_chunk"))
  }

  private lazy val cdcChunksSql =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents WHERE regexp_matches(lower(text), '[a-z0-9]')),
       |t0 AS (
       |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM toks)),
       |tu AS (SELECT doc_id, pos, ${djb2Fold(sqlBytesOf("tok"))} AS u FROM t0),
       |${mix64Ctes("cd", "tu", Seq("doc_id", "pos"), "u")},
       |bflag AS (
       |  SELECT doc_id, pos, CASE WHEN z % 16 = 0 THEN 1 ELSE 0 END AS b
       |  FROM cd6),
       |ch AS (
       |  SELECT doc_id, pos,
       |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
       |  FROM bflag),
       |cl AS (SELECT doc_id, chunk, count(*) AS clen FROM ch GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(clen) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(max(clen) AS BIGINT) AS longest_chunk
       |FROM cl GROUP BY 1""".stripMargin

  /** Chunk-level dedup over content-defined chunks, FULL oracle — what
    * CDC exists FOR: each chunk's ordered-fold fingerprint
    * (h' = 31h + u over the token fingerprints, mod 2⁶⁴) is counted
    * across the corpus; a chunk appearing more than once is DUPLICATED
    * content that survives document-level dedup (shared boilerplate,
    * quoted passages). Per-doc: chunk count, duplicated-chunk count,
    * duplicated token mass. The fingerprint shuffle carries 8-byte
    * keys; never chunk text. */
  private def cdcDedupQ(s: SparkSession, dir: String): DataFrame = {
    val mixUdf = udf((u: Long) => functions.DetRandom.mix64(u))
    val toks = Tables.read(s, dir, "documents")
      .filter(lower(col("text")).rlike("[a-z0-9]"))
      .select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))))
      .select(col("doc_id"), col("pos"),
        operators.Sketches.djb2Udf(col("col")).as("u"))
      .withColumn("b",
        (mixUdf(col("u")).bitwiseAND(lit(15L)) === 0L).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1L)
    val chunked = toks.withColumn("chunk",
      coalesce(sum(col("b")).over(w), lit(0L)))
    val fpUdf = udf { (arr: Seq[org.apache.spark.sql.Row]) =>
      arr.sortBy(_.getInt(0)).foldLeft(0L)((h, r) => h * 31L + r.getLong(1))
    }
    val chunkFp = chunked.groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("clen"),
        fpUdf(collect_list(struct(col("pos"), col("u")))).as("fp"))
    val counts = chunkFp.groupBy(col("fp")).agg(count(lit(1)).as("occ"))
    chunkFp.join(counts, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("occ") > 1, col("clen")).otherwise(0L)).as("dup_tokens"))
  }

  private lazy val cdcDedupSql =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents WHERE regexp_matches(lower(text), '[a-z0-9]')),
       |t0 AS (
       |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM toks)),
       |tu AS (SELECT doc_id, pos, ${djb2Fold(sqlBytesOf("tok"))} AS u FROM t0),
       |${mix64Ctes("ce", "tu", Seq("doc_id", "pos", "u"), "u")},
       |bflag AS (
       |  SELECT doc_id, pos, u, CASE WHEN z % 16 = 0 THEN 1 ELSE 0 END AS b
       |  FROM ce6),
       |ch AS (
       |  SELECT doc_id, pos, u,
       |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
       |  FROM bflag),
       |cf AS (
       |  SELECT doc_id, chunk, count(*) AS clen,
       |    list_reduce(list_prepend(0::HUGEINT, list(u::HUGEINT ORDER BY pos)),
       |      (h, c) -> (h * 31 + c) % 18446744073709551616::HUGEINT) AS fp
       |  FROM ch GROUP BY 1, 2),
       |oc AS (SELECT fp, count(*) AS occ FROM cf GROUP BY 1)
       |SELECT cf.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN oc.occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       |  CAST(sum(CASE WHEN oc.occ > 1 THEN cf.clen ELSE 0 END) AS BIGINT) AS dup_tokens
       |FROM cf JOIN oc ON oc.fp = cf.fp
       |GROUP BY 1""".stripMargin

  /** Late-chunking pooled document embeddings, FULL oracle — the
    * document-representation step (pool chunk embeddings into ONE
    * vector per doc, the mean-pooling late-chunking recipe): chunk
    * (size 256 / overlap 64), embed each chunk (the oracled djb2
    * fallback embedder), `vector_avg` per doc. Emitted per-(doc,
    * coordinate) float4 like `va_avg` (unordered mean). */
  private def chunkPoolQ(s: SparkSession, dir: String): DataFrame = {
    val chunks = operators.Rag.buildChunkIndex(
      Tables.read(s, dir, "documents").filter(col("doc_id") < 50),
      "doc_id", "text", size = 256, overlap = 64)
    chunks.groupBy(col("doc_id"))
      .agg(functions.VectorAggregates.vector_avg(col("embedding")).as("pool"),
        count(lit(1)).as("n_chunks"))
      .select(col("doc_id"), col("n_chunks"), posexplode(col("pool")))
      .select(col("doc_id"), col("n_chunks"), col("pos"),
        col("col").cast("double").as("val"))
  }

  private lazy val chunkPoolSql = {
    val model = "all-MiniLM-L6-v2"
    s"""WITH RECURSIVE chunks AS (
       |  SELECT doc_id, substr(text, CAST(start AS INT) + 1, 256) AS chunk
       |  FROM (SELECT doc_id, text, unnest(range(0, length(text), 192)) AS start
       |        FROM documents WHERE doc_id < 50 AND length(text) > 0)),
       |base AS (
       |  SELECT doc_id, chunk, ${djb2Fold(sqlBytesOf("chunk"))} AS h FROM chunks),
       |dims AS (
       |  SELECT doc_id, chunk, 0 AS i,
       |         xor((h * 33) % 4294967296,
       |             CAST(unicode('$model'[1]) AS BIGINT)) AS h
       |  FROM base
       |  UNION ALL
       |  SELECT doc_id, chunk, i + 1,
       |         xor((h * 33) % 4294967296,
       |             CAST(unicode('$model'[(i + 1) % ${model.length} + 1]) AS BIGINT))
       |  FROM dims WHERE i < 383),
       |comp AS (
       |  SELECT doc_id, chunk, i,
       |         CAST(CAST(h % 2000 - 1000 AS DOUBLE) / 1000.0 AS REAL) AS v
       |  FROM dims),
       |nch AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1)
       |SELECT c.doc_id, CAST(n.n_chunks AS BIGINT) AS n_chunks, c.i AS pos,
       |  CAST(CAST(sum(CAST(c.v AS DOUBLE)) / count(*) AS REAL) AS DOUBLE) AS val
       |FROM comp c JOIN nch n ON n.doc_id = c.doc_id
       |GROUP BY 1, 2, 3""".stripMargin
  }

  /** djb2 step as SQL: h' = ((h<<5)+h) xor byte with 32-bit wrap. */
  private def djb2Fold(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(5381 AS BIGINT), $listExpr), " +
      "(h, c) -> xor((h * 33) % 4294967296, c))"

  /** ASCII codepoints = UTF-8 bytes of a SQL string expression. */
  private def sqlBytesOf(sqlStr: String): String =
    s"list_transform(range(1, length($sqlStr) + 1), i -> CAST(unicode($sqlStr[i]) AS BIGINT))"

  private val ragQuerySql: String = {
    val model = "all-MiniLM-L6-v2"
    val question = "fast merge join strategy"
    def bytesOf(sqlStr: String) = sqlBytesOf(sqlStr)
    s"""WITH RECURSIVE chunks AS (
       |  SELECT doc_id, CAST(start / 192 AS INT) AS chunk_index,
       |         substr(text, CAST(start AS INT) + 1, 256) AS chunk
       |  FROM (SELECT doc_id, text, unnest(range(0, length(text), 192)) AS start
       |        FROM documents WHERE doc_id < 200 AND length(text) > 0)),
       |base AS (
       |  SELECT doc_id, chunk_index, ${djb2Fold(bytesOf("chunk"))} AS h
       |  FROM chunks
       |  UNION ALL
       |  SELECT -1, -1, ${djb2Fold(bytesOf(s"'$question'"))}),
       |dims AS (
       |  SELECT doc_id, chunk_index, 0 AS i,
       |         xor((h * 33) % 4294967296,
       |             CAST(unicode('$model'[1]) AS BIGINT)) AS h
       |  FROM base
       |  UNION ALL
       |  SELECT doc_id, chunk_index, i + 1,
       |         xor((h * 33) % 4294967296,
       |             CAST(unicode('$model'[(i + 1) % ${model.length} + 1]) AS BIGINT))
       |  FROM dims WHERE i < 383),
       |emb AS (
       |  SELECT doc_id, chunk_index,
       |         array_agg(CAST(CAST(CAST(h % 2000 - 1000 AS DOUBLE) / 1000.0 AS REAL)
       |                   AS DOUBLE) ORDER BY i) AS e
       |  FROM dims GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.doc_id, c.chunk_index,
       |         1.0 - list_cosine_similarity(c.e, q.e) AS d
       |  FROM emb c, (SELECT e FROM emb WHERE doc_id = -1) q
       |  WHERE c.doc_id >= 0)
       |SELECT doc_id, chunk_index, round(d, 6) AS dist
       |FROM scored ORDER BY d, doc_id, chunk_index LIMIT 5""".stripMargin
  }

  // ======================================================================
  // ML unified API + extras (SURVEY §2.10)
  // ======================================================================

  /** linear_regression (MLlib normal-equation solver) vs DuckDB regr_*. */
  private def mlLinreg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.read(s, dir, "lineitem")
      .withColumn("features", array(col("l_quantity").cast("float")))
    val tm = ml.UnifiedApi.train("linear_regression", li, "features", Some("l_extendedprice"))
    val lr = tm.model.asInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel]
    // float4, not round(6/3): the normal-equation solve rides unordered
    // partition-merged sums vs DuckDB's regr_* streaming sums (~1e-12
    // relative drift on the big moments) — the REAL-over-round rule
    Seq((lr.coefficients(0), lr.intercept)).toDF("slope", "intercept")
      .select(col("slope").cast("float").as("slope"),
        col("intercept").cast("float").as("intercept"))
  }

  private val mlLinregSql =
    """SELECT CAST(regr_slope(l_extendedprice, l_quantity) AS REAL) AS slope,
      |       CAST(regr_intercept(l_extendedprice, l_quantity) AS REAL) AS intercept
      |FROM lineitem""".stripMargin

  /** knn classifier: majority of 5 nearest (self included), deterministic
    * tie-breaks, over the first 100 vectors. */
  private def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    ml.Extras.knnClassify(e, e.filter(col("vec_id") < 100), "embedding", "label",
      k = 5, idCol = "vec_id")
      .select(col("vec_id"), col("predicted_label"))
  }

  private val knnClassifySql =
    """WITH pairs AS (
      |  SELECT a.vec_id AS id, b.label AS train_label,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.label) AS rnk
      |  FROM embeddings a, embeddings b
      |  WHERE a.vec_id < 100),
      |votes AS (
      |  SELECT id, train_label, count(*) AS votes FROM pairs WHERE rnk <= 5 GROUP BY 1, 2)
      |SELECT id AS vec_id, train_label AS predicted_label FROM (
      |  SELECT id, train_label,
      |    row_number() OVER (PARTITION BY id ORDER BY votes DESC, train_label) AS vr
      |  FROM votes) WHERE vr = 1""".stripMargin

  /** detect_outliers_zscore on events.value, threshold 3. */
  private def zscoreOutliersQ(s: SparkSession, dir: String): DataFrame =
    ml.Extras.zscoreOutliers(
      Tables.read(s, dir, "events").select(col("event_id"), col("value")), "value", 3.0)
      // float4, not round(6): mu/sigma come from unordered sums (~1e-16
      // cross-engine drift) — the documented REAL-over-round rule
      .select(col("event_id"), col("zscore").cast("float").as("z"))

  private val zscoreOutliersSql =
    """SELECT event_id, CAST((value - mu) / sigma AS REAL) AS z
      |FROM (SELECT event_id, value,
      |        avg(value) OVER () AS mu, stddev(value) OVER () AS sigma
      |      FROM events)
      |WHERE abs((value - mu) / sigma) > 3.0""".stripMargin

  /** detect_centroid_drift between the two halves of the embedding table. */
  private def centroidDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.read(s, dir, "embeddings")
    val d = ml.Extras.centroidDrift(
      e.filter(col("vec_id") < 250), e.filter(col("vec_id") >= 250), "embedding", "embedding")
    Seq(d).toDF("drift").select(col("drift").cast("float").as("drift"))
  }

  private val centroidDriftSql =
    """WITH ca AS (
      |  SELECT pos, CAST(CAST(sum(v) / count(*) AS REAL) AS DOUBLE) AS m
      |  FROM (SELECT unnest(range(0, len(embedding))) AS pos, unnest(embedding::DOUBLE[]) AS v
      |        FROM embeddings WHERE vec_id < 250) GROUP BY pos),
      |cb AS (
      |  SELECT pos, CAST(CAST(sum(v) / count(*) AS REAL) AS DOUBLE) AS m
      |  FROM (SELECT unnest(range(0, len(embedding))) AS pos, unnest(embedding::DOUBLE[]) AS v
      |        FROM embeddings WHERE vec_id >= 250) GROUP BY pos)
      |SELECT CAST(sqrt(sum((ca.m - cb.m) * (ca.m - cb.m))) AS REAL) AS drift
      |FROM ca JOIN cb USING (pos)""".stripMargin

  /** recall@10 of the cosine ranking against the l2 ranking. */
  private def recallAtK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.read(s, dir, "embeddings")
    val q = qvec(s, dir)
    val byL2 = operators.Knn.search(e, "embedding", q, 10, "l2")
      .select("vec_id").as[Long].collect().toSeq
    val byCos = operators.Knn.search(e, "embedding", q, 10, "cosine")
      .select("vec_id").as[Long].collect().toSeq
    Seq(ml.Extras.recallAtK(byCos, byL2, 10)).toDF("recall")
  }

  private val recallAtKSql =
    s"""WITH a AS (SELECT vec_id FROM embeddings
       |  ORDER BY list_distance(embedding::DOUBLE[], $qvecSql), vec_id LIMIT 10),
       |b AS (SELECT vec_id FROM embeddings
       |  ORDER BY 1.0 - list_cosine_similarity(embedding::DOUBLE[], $qvecSql), vec_id LIMIT 10)
       |SELECT (SELECT count(*) FROM a JOIN b USING (vec_id)) / 10.0 AS recall""".stripMargin

  /** Bit-reproducible Lloyd's k-means, FULL oracle: integer-scaled
    * coordinates make the per-cluster sums exact, so 4 unrolled Lloyd
    * iterations match the DuckDB CTE recurrence bit-for-bit (same trick as
    * `qlearning_policy` / `rag_query`). k=5, first-5-by-id init. */
  private def kmeansFixpointQ(s: SparkSession, dir: String): DataFrame =
    ml.KmeansFixpoint.assign(Tables.read(s, dir, "embeddings"),
      "vec_id", "embedding", k = 5, iters = 4)

  private val kmeansFixpointSql =
    ml.KmeansFixpoint.oracleSql("embeddings", "vec_id", "embedding",
      k = 5, iters = 4, dim = 64)

  /** The fixpoint recall curves' probe ranks: for an integer-scaled
    * query, the 1-based rank of every centroid in `centers` by (squared
    * distance, centroid index). */
  private def fixpointPrankUdf(s: SparkSession, centers: Array[Array[Double]]) = {
    val bc = s.sparkContext.broadcast(centers)
    udf((q: Seq[Long]) => {
      val cs = bc.value
      val ds = cs.zipWithIndex.map { case (c, ci) =>
        var acc = 0.0
        var j = 0
        while (j < c.length) { val t = q(j).toDouble - c(j); acc += t * t; j += 1 }
        (acc, ci)
      }
      val rank = new Array[Int](cs.length)
      ds.sortBy(identity).map(_._2).zipWithIndex
        .foreach { case (c, i) => rank(c) = i + 1 }
      rank.toSeq
    })
  }

  /** The fixpoint recall curves' exact integer squared distance between
    * two integer-scaled vectors. */
  private lazy val fixpointD2Udf = udf((a: Seq[Long], b: Seq[Long]) => {
    var acc = 0L
    var j = 0
    while (j < a.length) { val t = a(j) - b(j); acc += t * t; j += 1 }
    acc
  })

  /** ANN recall curve with the MEASUREMENT itself under the oracle: IVF
    * over the bit-exact Lloyd-fixpoint quantizer, recall@10-vs-nprobe by
    * the probe-rank identity (`Ivf.recallCurve`'s single-pass form). The
    * true top-k uses pure INTEGER squared distances on the scaled
    * coordinates; probe ranks are double folds over exact inputs — every
    * number in the curve is engine-independent. The MLlib-quantizer
    * recall reports (`ivf_ann_recall` etc.) stay rows-only faces. */
  private def ivfRecallFixpointQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.read(s, dir, "embeddings")
    val (assigned, centers) = ml.KmeansFixpoint.fit(e, "vec_id", "embedding",
      k = 5, iters = 4)
    val pts = e.select(col("vec_id").cast("long").as("id"),
      transform(col("embedding"), x => floor(x.cast("double") * 1e6 + 0.5)).as("xs"))
    val queries = pts.filter(col("id") < 20)
      .select(col("id").as("qid"), col("xs").as("qxs"),
        fixpointPrankUdf(s, centers)(col("xs")).as("prank"))
    // denominator from the ACTUAL query count (ids may be sparse / corpus
    // smaller than the id cap), mirroring the oracle's (SELECT count(*) FROM qd)
    val nq = queries.count()
    val topk = queries.crossJoin(pts)
      .withColumn("d2", fixpointD2Udf(col("qxs"), col("xs")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2"), col("id"))))
      .filter(col("rk") <= 10)
    val hits = topk.join(assigned.select(col("vec_id").as("id"), col("cluster")), "id")
      .withColumn("pr", element_at(col("prank"), col("cluster") + 1))
    import s.implicits._
    Seq(1, 2, 3, 5).toDF("nprobe").crossJoin(hits)
      .groupBy("nprobe")
      .agg((sum(when(col("pr") <= col("nprobe"), 1).otherwise(0)) / lit(nq * 10.0))
        .as("recall_at_10"))
      .orderBy("nprobe")
  }

  private lazy val ivfRecallFixpointSql: String =
    ml.KmeansFixpoint.recallOracleSql("embeddings", "vec_id", "embedding",
      k = 5, iters = 4, dim = 64, maxQid = 20, kTop = 10, nprobes = Seq(1, 2, 3, 5))

  /** IVFADC recall curve, FULL oracle — the compressed serve path's
    * recall dial under verification: fixpoint coarse quantizer
    * ([[ml.KmeansFixpoint]]) + the deterministic PQ codebook `pq_adc`
    * proves + ADC pool (64) + exact rerank, recall@10 vs the integer
    * true top-10 at each nprobe. ADC distances are ordered double folds
    * over exact float widenings, so candidate ranks are bit-identical
    * across engines; `ivfpq_knn_recall` keeps the trained-quantizer
    * face (rows-only). The verified curve (0.55/0.66/0.73/0.715 at
    * nprobe 1/2/3/5) even captures the classic ADC pool-saturation dip:
    * at full probe width the fixed 64-slot pool fills with coarse-ADC
    * false positives that displace true neighbors — the rerankPool dial
    * the reference tunes, here measured under a bit-exact oracle. */
  private def ivfpqRecallFixpointQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val e = Tables.read(s, dir, "embeddings")
    val (assigned, centers) = ml.KmeansFixpoint.fit(e, "vec_id", "embedding",
      k = 5, iters = 4)
    val pts = e.select(col("vec_id").cast("long").as("id"),
      transform(col("embedding"), x => floor(x.cast("double") * 1e6 + 0.5)).as("xs"))
    val cents16 = e.filter(col("vec_id") < 16).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val cb = operators.Pq.codebookFrom(cents16, m = 8)
    val enc = operators.Pq.encodeTable(
      e.select(col("vec_id").cast("long").as("id"), col("embedding")),
      "embedding", cb).select(col("id"), col("pq_codes"))

    val qTables = e.filter(col("vec_id") < 20).orderBy("vec_id")
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => (r.getLong(0), cb.adcTable(r.getSeq[Float](1).toArray))).toMap
    val bQt = s.sparkContext.broadcast(qTables)
    val adcUdf = udf((qid: Long, codes: Array[Byte]) =>
      bQt.value(qid) match { case t => cb.adcDistance(t, codes) })

    val queries = pts.filter(col("id") < 20)
      .select(col("id").as("qid"), col("xs").as("qxs"),
        fixpointPrankUdf(s, centers)(col("xs")).as("prank"))
    val nq = queries.count() // actual query count, not the id cap
    val docSide = pts
      .join(assigned.select(col("vec_id").as("id"), col("cluster")), "id")
      .join(enc, "id")
    val base = queries.crossJoin(docSide)
      .withColumn("d2", fixpointD2Udf(col("qxs"), col("xs")))
      .withColumn("adc", adcUdf(col("qid"), col("pq_codes")))
      .withColumn("pr", element_at(col("prank"), col("cluster") + 1))
      .select("qid", "id", "d2", "adc", "pr")
      .cache()
    try {
      val truth = base.withColumn("trk", row_number().over(
          Window.partitionBy("qid").orderBy(col("d2"), col("id"))))
        .filter(col("trk") <= 10).select("qid", "id")
      val fin = Seq(1, 2, 3, 5).toDF("nprobe").crossJoin(base)
        .filter(col("pr") <= col("nprobe"))
        .withColumn("ark", row_number().over(
          Window.partitionBy("nprobe", "qid").orderBy(col("adc"), col("id"))))
        .filter(col("ark") <= 64)
        .withColumn("rrk", row_number().over(
          Window.partitionBy("nprobe", "qid").orderBy(col("d2"), col("id"))))
        .filter(col("rrk") <= 10)
        .select("nprobe", "qid", "id")
      fin.join(truth, Seq("qid", "id"))
        .groupBy("nprobe")
        .agg((count(lit(1)) / lit(nq * 10.0)).as("recall_at_10"))
        .orderBy("nprobe")
        .localCheckpoint(true)
    } finally base.unpersist()
  }

  private lazy val ivfpqRecallFixpointSql: String =
    ml.KmeansFixpoint.ctesSql("embeddings", "vec_id", "embedding",
      k = 5, iters = 4, dim = 64) + s""",
      |cb16 AS (SELECT vec_id AS c, t.s,
      |    list_slice(embedding::DOUBLE[], t.s * 8 + 1, t.s * 8 + 8) AS cw
      |  FROM embeddings, range(0, 8) t(s) WHERE vec_id < 16),
      |sv AS (SELECT vec_id AS id, t.s,
      |    list_slice(embedding::DOUBLE[], t.s * 8 + 1, t.s * 8 + 8) AS sub
      |  FROM embeddings, range(0, 8) t(s)),
      |sdist AS (
      |  SELECT v.id, v.s, cb.c,
      |    list_sum(list_transform(range(1, 9),
      |      i -> (v.sub[i] - cb.cw[i]) * (v.sub[i] - cb.cw[i]))) AS d
      |  FROM sv v JOIN cb16 cb ON cb.s = v.s),
      |encd AS (
      |  SELECT id, s, c AS code FROM (
      |    SELECT id, s, c, row_number() OVER (PARTITION BY id, s ORDER BY d, c) AS rn
      |    FROM sdist) WHERE rn = 1),
      |qdt AS (SELECT id AS qid, s, c, d FROM sdist WHERE id < 20),
      |adc AS (
      |  SELECT q.qid, e.id,
      |    sqrt(list_reduce(list_prepend(0.0, list(q.d ORDER BY q.s)), (a, b) -> a + b)) AS adc
      |  FROM encd e JOIN qdt q ON q.s = e.s AND q.c = e.code
      |  GROUP BY q.qid, e.id),
      |qd AS (SELECT id AS qid, xs AS qxs FROM pts WHERE id < 20),
      |prank AS (
      |  SELECT q.qid, c.cid,
      |    row_number() OVER (PARTITION BY q.qid ORDER BY
      |      list_reduce(list_prepend(0.0, list_transform(range(1, 65),
      |        j -> (CAST(q.qxs[j] AS DOUBLE) - c.c[j]) * (CAST(q.qxs[j] AS DOUBLE) - c.c[j]))),
      |        (a, b) -> a + b),
      |      c.cid) AS pr
      |  FROM qd q CROSS JOIN c3 c),
      |base AS (
      |  SELECT q.qid, p.id,
      |    list_reduce(list_transform(range(1, 65),
      |      j -> (q.qxs[j] - p.xs[j]) * (q.qxs[j] - p.xs[j])), (a, b) -> a + b) AS d2,
      |    a.adc, pr.pr
      |  FROM qd q CROSS JOIN pts p
      |  JOIN a4 asg ON asg.id = p.id
      |  JOIN prank pr ON pr.qid = q.qid AND pr.cid = asg.cluster
      |  JOIN adc a ON a.qid = q.qid AND a.id = p.id),
      |truth AS (
      |  SELECT qid, id FROM (
      |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d2, id) AS trk
      |    FROM base) WHERE trk <= 10),
      |pool AS (
      |  SELECT nprobe, qid, id, d2 FROM (
      |    SELECT np.nprobe, b.qid, b.id, b.d2,
      |      row_number() OVER (PARTITION BY np.nprobe, b.qid ORDER BY b.adc, b.id) AS ark
      |    FROM (SELECT unnest([1, 2, 3, 5]) AS nprobe) np
      |    JOIN base b ON b.pr <= np.nprobe)
      |  WHERE ark <= 64),
      |fin AS (
      |  SELECT nprobe, qid, id FROM (
      |    SELECT nprobe, qid, id,
      |      row_number() OVER (PARTITION BY nprobe, qid ORDER BY d2, id) AS rrk
      |    FROM pool) WHERE rrk <= 10)
      |SELECT f.nprobe, count(*) / ((SELECT count(*) FROM qd) * 10.0) AS recall_at_10
      |FROM fin f JOIN truth t ON t.qid = f.qid AND t.id = f.id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** kmeans via the unified API: cluster sizes are seed-deterministic but
    * not SQL-expressible → rows-only check. */
  private def mlKmeans(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val tm = ml.UnifiedApi.train("kmeans", e, "embedding", None, Map("k" -> "8"))
    ml.UnifiedApi.predict(tm.modelId, e)
      .groupBy(col("prediction")).agg(count(lit(1)).as("cluster_size"))
  }

  // ======================================================================
  // Graph / sparse / keyword / MMR / tenancy surfaces
  // ======================================================================

  /** graph_knn: nodes reachable from vec 0 within 2 BFS hops over the k=3
    * kNN graph of the first 100 vectors, ranked by distance to the query. */
  private def graphKnnQ(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100)
    val edges = operators.Knn.buildKnnGraph(nodes, "vec_id", "embedding", k = 3)
      .select(col("src"), col("dst"))
    operators.Knn.graphKnn(nodes, edges, "vec_id", "embedding",
        startIds = Seq(0L), query = qvec(s, dir), k = 5, maxHops = 2)
      .select(col("vec_id"), round(col("distance"), 6).as("dist"))
  }

  private val graphKnnQSql =
    s"""WITH nodes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
       |edges AS (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) AS rank
       |    FROM nodes a, nodes b WHERE a.vec_id <> b.vec_id)
       |  WHERE rank <= 3),
       |hop1 AS (SELECT DISTINCT dst AS id FROM edges WHERE src = 0),
       |hop2 AS (SELECT DISTINCT e.dst AS id FROM edges e JOIN hop1 h ON e.src = h.id),
       |visited AS (SELECT 0 AS id UNION SELECT id FROM hop1 UNION SELECT id FROM hop2)
       |SELECT n.vec_id, round(list_distance(n.embedding::DOUBLE[], $qvecSql), 6) AS dist
       |FROM nodes n JOIN visited v ON n.vec_id = v.id
       |ORDER BY list_distance(n.embedding::DOUBLE[], $qvecSql), n.vec_id LIMIT 5""".stripMargin

  /** ln-damped term weights, the sparse-search convention on both sides. */
  private def termWeights(text: String): Seq[(String, Double)] =
    functions.TextFunctions.termFreqs(text).toSeq.map { case (t, n) => (t, 1.0 + math.log(n)) }

  private def termPostings(s: SparkSession, dir: String): DataFrame = {
    val tfUdf = udf((text: String) => termWeights(text))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), explode(tfUdf(col("text"))).as("p"))
      .select(col("doc_id"), col("p._1").as("token"), col("p._2").as("weight"))
  }

  private val termPostingsSql =
    """tf AS (
      |  SELECT doc_id, t.term AS token, count(*) AS n
      |  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(term)
      |  GROUP BY 1, 2),
      |post AS (SELECT doc_id, token, 1.0 + ln(n) AS w FROM tf),
      |q AS (SELECT unnest(['fast','query','merge','join']) AS token, 1.0 AS qw)""".stripMargin

  /** sparse_search: posting-list join on the query's tokens, per-doc dot
    * product, top-10. */
  private def sparseSearchQ(s: SparkSession, dir: String): DataFrame =
    operators.SparseSearch.searchTerms(termPostings(s, dir), termWeights(hybridQText), 10)
      .select(col("doc_id"), col("score").cast("float").as("score"))

  private val sparseSearchSql =
    s"""WITH $termPostingsSql
       |SELECT doc_id, CAST(sum(post.w * q.qw) AS REAL) AS score
       |FROM post JOIN q USING (token)
       |GROUP BY doc_id ORDER BY sum(post.w * q.qw) DESC, doc_id LIMIT 10""".stripMargin

  /** semantic_keyword_search: vector ranking restricted to docs containing
    * every keyword. */
  private def semanticKeywordQ(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.read(s, dir, "embeddings")
      .join(Tables.read(s, dir, "documents"), col("vec_id") === col("doc_id"))
    operators.Hybrid.semanticKeywordSearch(corpus, "doc_id", "embedding", "text",
        qvec(s, dir), Seq("vector", "merge"), k = 10)
      .select(col("doc_id"), round(col("distance"), 6).as("dist"))
  }

  private val semanticKeywordSql =
    s"""SELECT d.doc_id, round(list_distance(e.embedding::DOUBLE[], $qvecSql), 6) AS dist
       |FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       |WHERE position('vector' IN lower(d.text)) > 0
       |  AND position('merge' IN lower(d.text)) > 0
       |ORDER BY list_distance(e.embedding::DOUBLE[], $qvecSql), d.doc_id LIMIT 10""".stripMargin

  /** hybrid_dense_sparse_search: weighted outer-join fusion of the dense
    * (1 − L2) scores and the sparse term-overlap scores. */
  private def denseSparseQ(s: SparkSession, dir: String): DataFrame = {
    val dense = Tables.read(s, dir, "embeddings").select(col("vec_id").as("id"),
      (lit(1.0) - operators.Knn.distCol("l2")(col("embedding"), lit(qvec(s, dir)))).as("d_score"))
    val sparse = operators.SparseSearch
      .searchTerms(termPostings(s, dir), termWeights(hybridQText), Int.MaxValue / 2)
      .select(col("doc_id").as("id"), col("score").as("s_score"))
    operators.Hybrid.denseSparseSearch(dense, sparse, "id", "d_score", "s_score",
        denseWeight = 0.6, sparseWeight = 0.4, k = 15)
      .select(col("id"), col("fused_score").cast("float").as("fused"))
  }

  private val denseSparseSql =
    s"""WITH $termPostingsSql,
       |sparse AS (
       |  SELECT doc_id AS id, sum(post.w * q.qw) AS s_score
       |  FROM post JOIN q USING (token) GROUP BY 1),
       |dense AS (
       |  SELECT vec_id AS id, 1.0 - list_distance(embedding::DOUBLE[], $qvecSql) AS d_score
       |  FROM embeddings)
       |SELECT id, CAST(0.6 * coalesce(d_score, 0) + 0.4 * coalesce(s_score, 0) AS REAL) AS fused
       |FROM dense FULL OUTER JOIN sparse USING (id)
       |ORDER BY 0.6 * coalesce(d_score, 0) + 0.4 * coalesce(s_score, 0) DESC, id LIMIT 15""".stripMargin

  /** diverse_vector_search / MMR: top-20 cosine candidates, greedy
    * λ·relevance − (1−λ)·max-redundancy selection of 5. */
  private def mmrRerankQ(s: SparkSession, dir: String): DataFrame =
    operators.Rerank.diverseSearch(Tables.read(s, dir, "embeddings"), "vec_id", "embedding",
        qvec(s, dir), lambda = 0.5, k = 5, candidateFactor = 4)
      .select(col("vec_id"), round(col("mmr_score"), 6).as("mmr"))

  /** The greedy loop unrolled: sN picks step N's argmax (score desc, id
    * asc), pN accumulates the selected set for the redundancy max. */
  private val mmrRerankSql = {
    def step(n: Int): String =
      s"""s$n AS (
         |  SELECT c.id, c.embedding, c.rel,
         |    0.5 * c.rel - 0.5 * (SELECT max(list_cosine_similarity(c.embedding::DOUBLE[], p.embedding::DOUBLE[])) FROM p${n - 1} p) AS score
         |  FROM cand c WHERE c.id NOT IN (SELECT id FROM p${n - 1})
         |  ORDER BY score DESC, c.id LIMIT 1),
         |p$n AS (SELECT id, embedding FROM p${n - 1} UNION ALL SELECT id, embedding FROM s$n)""".stripMargin
    s"""WITH cand AS (
       |  SELECT vec_id AS id, embedding,
       |    list_cosine_similarity(embedding::DOUBLE[], $qvecSql) AS rel
       |  FROM embeddings
       |  ORDER BY 1.0 - list_cosine_similarity(embedding::DOUBLE[], $qvecSql) LIMIT 20),
       |s1 AS (SELECT id, embedding, rel, 0.5 * rel AS score FROM cand ORDER BY score DESC, id LIMIT 1),
       |p1 AS (SELECT id, embedding FROM s1),
       |${step(2)},
       |${step(3)},
       |${step(4)},
       |${step(5)}
       |SELECT id AS vec_id, round(score, 6) AS mmr FROM (
       |  SELECT id, score FROM s1 UNION ALL SELECT id, score FROM s2
       |  UNION ALL SELECT id, score FROM s3 UNION ALL SELECT id, score FROM s4
       |  UNION ALL SELECT id, score FROM s5)""".stripMargin
  }

  /** DBSCAN over the first 300 embeddings: eps-join → cores → distributed
    * min-label components → border attach. The oracle replays the exact
    * semantics with a recursive transitive-closure CTE. */
  private def dbscanLabelsQ(s: SparkSession, dir: String): DataFrame =
    ml.Dbscan.fit(Tables.read(s, dir, "embeddings").filter(col("vec_id") < 300),
        "vec_id", "embedding", eps = 1.2, minPts = 4)
      .select(col("id").as("vec_id"), col("cluster"))

  private val dbscanLabelsSql =
    """WITH RECURSIVE pts AS (SELECT vec_id AS id, embedding FROM embeddings WHERE vec_id < 300),
      |pairs AS (SELECT a.id AS a, b.id AS b FROM pts a, pts b
      |          WHERE list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) <= 1.2),
      |deg AS (SELECT a, count(*) AS deg FROM pairs GROUP BY a),
      |cores AS (SELECT a AS id FROM deg WHERE deg >= 4),
      |ce AS (SELECT p.a, p.b FROM pairs p JOIN cores c1 ON p.a = c1.id
      |       JOIN cores c2 ON p.b = c2.id WHERE p.a <> p.b),
      |reach(src, dst) AS (
      |  SELECT a, b FROM ce
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN ce e ON r.dst = e.a),
      |corecluster AS (
      |  SELECT c.id, least(c.id, coalesce(min(r.dst), c.id)) AS cluster
      |  FROM cores c LEFT JOIN reach r ON r.src = c.id GROUP BY c.id),
      |border AS (
      |  SELECT p.a AS id, min(cc.cluster) AS cluster
      |  FROM pairs p JOIN corecluster cc ON p.b = cc.id GROUP BY p.a)
      |SELECT pts.id AS vec_id, coalesce(cc.cluster, bc.cluster, -1) AS cluster
      |FROM pts LEFT JOIN corecluster cc ON pts.id = cc.id
      |         LEFT JOIN border bc ON pts.id = bc.id""".stripMargin

  /** Tenant/RLS scan: one tenant's rows, predicate pushed to the scan. */
  private def tenantScanQ(s: SparkSession, dir: String): DataFrame =
    operators.Tenancy.rlsScan(Tables.read(s, dir, "events"), "user_id", 7L)
      .select(col("event_id"), col("event_type"), col("value"))

  private val tenantScanSql =
    "SELECT event_id, event_type, value FROM events WHERE user_id = 7"

  /** Per-tenant quota accounting: rows + payload bytes in one aggregate. */
  private def tenantUsageQ(s: SparkSession, dir: String): DataFrame =
    operators.Tenancy.usage(Tables.read(s, dir, "events"), "user_id", Seq("props"))
      .select(col("user_id"), col("n_rows"), col("n_bytes"))

  private val tenantUsageSql =
    """SELECT user_id, count(*) AS n_rows, sum(strlen(props))::BIGINT AS n_bytes
      |FROM events GROUP BY user_id""".stripMargin

  // ======================================================================
  // Training-pipeline ops: dedup / text analysis / multimodal (north star)
  // ======================================================================

  /** Exact dedup groups on events.props (100 distinct payloads). */
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.exactGroups(Tables.read(s, dir, "events"), "event_id", "props")
      .select(col("props"), col("n_dups"), col("keeper"))

  private val dedupExactSql =
    """SELECT props, count(*) AS n_dups, min(event_id) AS keeper
      |FROM events GROUP BY props HAVING count(*) > 1""".stripMargin

  /** Embedding-cosine near-dup pairs (distance <= 0.62). */
  private def dedupCosine(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.cosinePairs(Tables.read(s, dir, "embeddings"), "vec_id", "embedding", 0.62)
      .select(col("a_id"), col("b_id"), round(col("cosine_distance"), 6).as("dist"))

  private val dedupCosineSql =
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |  round(1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS dist
      |FROM embeddings a, embeddings b
      |WHERE a.vec_id < b.vec_id
      |  AND 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) <= 0.62""".stripMargin

  /** Scale path for dedup_cosine: IVF cluster-blocked similarity join
    * (shuffle join on cluster_id, no broadcast of either side). Exhaustive
    * probing (nprobe = nlists) provably equals the cross join, so it runs
    * against the SAME oracle as dedup_cosine; the nprobe dial between 1
    * and nlists is the production recall/cost trade (measured by
    * ivf_join_recall). */
  private def ivfJoinExact(s: SparkSession, dir: String): DataFrame =
    operators.Ivf.join(ivfModel(s, dir), Tables.read(s, dir, "embeddings"), "embedding",
        metric = "cosine", threshold = 0.62, nprobe = 16,
        pairFilter = Some(col("l_vec_id") < col("r_vec_id")))
      .select(col("l_vec_id").as("a_id"), col("r_vec_id").as("b_id"),
        round(col("distance"), 6).as("dist"))

  /** The PRODUCTION dial of the blocked similarity join: nprobe=4 of 16
    * lists — the ~0.9-recall band measured by `ivf_join_recall`. Rows-only
    * face (its exactness sibling is `ivf_join_exact`, whose exhaustive
    * probing is oracled against the cross join); exists so the headline
    * bench times the configuration one would actually run at 100×, not
    * only the exhaustive oracle configuration. */
  private def ivfJoinProd(s: SparkSession, dir: String): DataFrame =
    operators.Ivf.join(ivfModel(s, dir), Tables.read(s, dir, "embeddings"), "embedding",
        metric = "cosine", threshold = 0.62, nprobe = 4,
        pairFilter = Some(col("l_vec_id") < col("r_vec_id")))
      .select(col("l_vec_id").as("a_id"), col("r_vec_id").as("b_id"),
        round(col("distance"), 6).as("dist"))

  /** Pair recall of the blocked join at realistic probe widths vs the
    * exact pair set (rows-only, same reporting shape as ivf_ann_recall). */
  private def ivfJoinRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = ivfModel(s, dir)
    val e = Tables.read(s, dir, "embeddings")
    val exact = operators.Dedup.cosinePairs(e, "vec_id", "embedding", 0.62)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    val rows = Seq(1, 2, 4, 8).map { np =>
      val got = operators.Ivf.join(m, e, "embedding", "cosine", 0.62, nprobe = np,
          pairFilter = Some(col("l_vec_id") < col("r_vec_id")))
        .select(col("l_vec_id").as("a_id"), col("r_vec_id").as("b_id"))
        .as[(Long, Long)].collect().toSet
      (np, got.size.toLong, exact.size.toLong,
        if (exact.isEmpty) 1.0 else (got & exact).size.toDouble / exact.size)
    }
    rows.toDF("nprobe", "blocked_pairs", "exact_pairs", "recall")
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-dup removal with
    * cluster blocking — the embedding-space sibling of `dedup_pipeline`.
    * Centroids here are the 8 smallest-vec_id embeddings (a fixed seed
    * set the oracle can name; production would pass KMeans centers), so
    * assignment, within-cluster pair generation, component closure and
    * keeper choice are all hash-checked end to end. */
  private def semDedupQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val cents = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    operators.Dedup.semDedup(e, "vec_id", "embedding", cents, "cid", "cvec", 0.62)
      .select(col("id").as("vec_id"), col("cluster"), col("component"), col("keeper"))
  }

  private val semDedupSql =
    """WITH RECURSIVE c AS (
      |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      |  FROM embeddings ORDER BY vec_id LIMIT 8),
      |ad AS (
      |  SELECT e.vec_id AS id, c.cid,
      |    1.0 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) AS cd
      |  FROM embeddings e CROSS JOIN c),
      |a AS (
      |  SELECT id, cid AS cluster FROM (
      |    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY cd, cid) AS rn
      |    FROM ad) WHERE rn = 1),
      |p AS (
      |  SELECT x.id AS a_id, y.id AS b_id
      |  FROM a x JOIN a y ON x.cluster = y.cluster AND x.id < y.id
      |  JOIN embeddings ea ON ea.vec_id = x.id
      |  JOIN embeddings eb ON eb.vec_id = y.id
      |  WHERE 1.0 - list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) <= 0.62),
      |ed AS (SELECT a_id AS src, b_id AS dst FROM p
      |       UNION ALL SELECT b_id, a_id FROM p),
      |reach AS (
      |  SELECT src, dst FROM ed
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN ed e2 ON e2.src = r.dst),
      |m AS (SELECT src, min(dst) AS mn FROM reach GROUP BY src)
      |SELECT a.id AS vec_id, a.cluster,
      |  CAST(coalesce(least(m.mn, a.id), a.id) AS BIGINT) AS component,
      |  (coalesce(least(m.mn, a.id), a.id) = a.id) AS keeper
      |FROM a LEFT JOIN m ON m.src = a.id""".stripMargin

  /** Scale path for exact dedup: shuffle the 8-byte xxhash64 fingerprint
    * instead of full payloads; keepers must equal the payload-group path. */
  private def fingerprintDedupQ(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.fingerprintDedup(Tables.read(s, dir, "events"), "event_id", "props")
      .select(col("event_id").as("keeper"))

  private val fingerprintDedupSql =
    "SELECT min(event_id) AS keeper FROM events GROUP BY props"

  /** knn_classify without broadcasting the train table: exact IVF
    * radius-bound k-NN join + the identical majority vote — same oracle
    * as knn_classify. Probes the CACHED index (index build is offline in
    * the reference; the radius-bound join is exact for any assignment,
    * so reusing the shared nlists=16 index changes nothing). */
  private def knnClassifyBlockedQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    ml.Extras.knnClassifyWithIndex(ivfModel(s, dir), e.filter(col("vec_id") < 100),
      "embedding", "label", k = 5, idCol = "vec_id")
      .select(col("vec_id"), col("predicted_label"))
  }

  /** Hard-negative mining, FULL oracle — the contrastive-training data
    * op: for each of 50 anchor embeddings, the rank-1 neighbor
    * (excluding self) is the POSITIVE and ranks 9–10 are the HARD
    * NEGATIVES (similar enough to teach the margin, far enough to be
    * wrong). The plan is the exact two-pass triangle-inequality
    * `Ivf.knnJoin` (nothing broadcast — the 100 TB
    * large×large shape), which provably returns the true top-k; the
    * oracle recomputes per-anchor ranks with a brute-force window. */
  private def hardNegativesQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding"))
    val j = operators.Ivf.knnJoin(ivfModel(s, dir), queries, "embedding", "qid",
      k = 11, metric = "l2", tieBreak = Seq("vec_id"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("distance"), col("t_vec_id"))
    j.filter(col("t_vec_id") =!= col("qid"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 || col("rn") === 9 || col("rn") === 10)
      .select(col("qid"),
        when(col("rn") === 1, lit("pos")).otherwise(lit("neg")).as("role"),
        col("t_vec_id").as("nbr_id"), col("rn").cast("long").as("rn"))
  }

  private val hardNegativesSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |           WHERE vec_id < 50),
      |d AS (
      |  SELECT q.qid, e.vec_id,
      |    list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS dist
      |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
      |r AS (SELECT qid, vec_id,
      |        row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
      |      FROM d)
      |SELECT qid, CASE WHEN rn = 1 THEN 'pos' ELSE 'neg' END AS role,
      |  vec_id AS nbr_id, CAST(rn AS BIGINT) AS rn
      |FROM r WHERE rn IN (1, 9, 10)""".stripMargin

  /** Deterministic MLM token masking, FULL oracle — the denoising-
    * objective data prep (BERT/T5): ~15% of each document's tokens
    * replaced by `<mask>`, the coin for position i of doc d drawn from
    * the splitmix64 stream keyed (d, i) — reproducible, partition-order
    * independent, and replayed exactly by the oracle (the comparison
    * u < 0.15 is on exact dyadic u, no float boundary). One scan, no
    * shuffle. */
  private def tokenMaskQ(s: SparkSession, dir: String): DataFrame =
    operators.Augment.tokenMask(
      Tables.read(s, dir, "documents")
        .filter(lower(col("text")).rlike("[a-z0-9]"))
        .select(col("doc_id"), col("text")),
      "doc_id", "text", rate = 0.15)
      .select(col("doc_id"), col("masked_text"), col("n_tokens"), col("n_masked"))

  private lazy val tokenMaskSql =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents WHERE regexp_matches(lower(text), '[a-z0-9]')),
       |t0 AS (
       |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM toks)),
       |${mix64Ctes("tm", "t0", Seq("doc_id", "pos", "tok"),
                    "doc_id * 131071 + pos")},
       |m AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN CAST(z // 2048 AS DOUBLE) / 9007199254740992.0 < 0.15
       |         THEN '<mask>' ELSE tok END AS ot,
       |    CASE WHEN CAST(z // 2048 AS DOUBLE) / 9007199254740992.0 < 0.15
       |         THEN 1 ELSE 0 END AS msk
       |  FROM tm6)
       |SELECT doc_id, string_agg(ot, ' ' ORDER BY pos) AS masked_text,
       |  CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(msk) AS BIGINT) AS n_masked
       |FROM m GROUP BY 1""".stripMargin

  /** DSIR-style importance data selection, FULL oracle — the top-100
    * most English-target-like docs by the hashed-unigram enrichment
    * score: the selection key is the exact INTEGER vote sum (per-bucket
    * cross-multiplication signs — the flake-proof-selection convention),
    * the canonical log importance weight rides along float4. The 256-row
    * feature model broadcasts; one token scan + one per-doc aggregate +
    * TakeOrderedAndProject. */
  private def dsirSelectQ(s: SparkSession, dir: String): DataFrame =
    operators.Dsir.select(Tables.read(s, dir, "documents"),
      "doc_id", "text", col("lang") === "en", k = 100, buckets = 256)

  private lazy val dsirSelectSql =
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, lang = 'en' AS t,
       |    ${djb2Fold(sqlBytesOf("tok"))} % 256 AS f
       |  FROM (SELECT doc_id, lang,
       |          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       |        FROM documents)),
       |cc AS (SELECT f, count(*) AS cc FROM tk GROUP BY 1),
       |ctt AS (SELECT f, count(*) AS ct FROM tk WHERE t GROUP BY 1),
       |m AS (SELECT cc.f, cc.cc, coalesce(ctt.ct, 0) AS ct
       |      FROM cc LEFT JOIN ctt ON ctt.f = cc.f),
       |n AS (SELECT sum(cc) AS nc, sum(ct) AS nt FROM m),
       |sv AS (
       |  SELECT f,
       |    CASE WHEN (ct + 1) * (nc + 256) > (cc + 1) * (nt + 256) THEN 1
       |         WHEN (ct + 1) * (nc + 256) < (cc + 1) * (nt + 256) THEN -1
       |         ELSE 0 END AS vote,
       |    ln((ct + 1)::DOUBLE / (nt + 256)) - ln((cc + 1)::DOUBLE / (nc + 256)) AS lr
       |  FROM m, n),
       |d AS (
       |  SELECT tk.doc_id, sum(sv.vote) AS score_int, count(*) AS n_toks,
       |    CAST(sum(sv.lr) AS REAL) AS logratio
       |  FROM tk JOIN sv ON sv.f = tk.f GROUP BY 1)
       |SELECT doc_id, CAST(score_int AS BIGINT) AS score_int,
       |  CAST(n_toks AS BIGINT) AS n_toks, logratio
       |FROM d ORDER BY score_int DESC, doc_id LIMIT 100""".stripMargin

  /** Ingestion pipeline END-TO-END under ONE oracle — the daily-crawl
    * composition: incremental catalog dedup (exact + banded-LSH near) →
    * keep the NOVEL batch docs → write them as 4 size-balanced,
    * length-contiguous shards; output is the shard manifest. Every stage
    * reuses an individually-oracled operator ([[incrementalDedupQ]],
    * `Sharding.shardLayout`), and the oracle replays the whole chain —
    * the composition itself is what's checked (the `dedup_pipeline` /
    * `budget_feed` pattern). */
  private def ingestPipelineQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents").select(col("doc_id"), col("text"))
    val catalog = docs.filter(col("doc_id") >= 100)
    val batch = docs.filter(col("doc_id") < 100)
      .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 110)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") >= 110 && col("doc_id") < 120)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(col("text"), lit(" qq7 qq7 qq7")).as("text")))
    val decisions = operators.Dedup.incrementalDedup(catalog, batch,
      "doc_id", "text", numHashes = 64, bands = 16, jaccardThreshold = 0.8)
    val keepers = batch.join(
      decisions.filter(!col("exact_dup") && col("near_of").isNull)
        .select("doc_id"), "doc_id")
    operators.Sharding.shardLayout(keepers, length(col("text")).cast("long"),
      col("doc_id"), numShards = 4)
  }

  private lazy val ingestPipelineSql =
    s"""WITH $incrementalDedupCtes,
       |keep AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS k FROM decisions
       |  WHERE NOT exact_dup AND near_of IS NULL),
       |rk AS (
       |  SELECT k, row_number() OVER (ORDER BY k, doc_id) AS rn,
       |    count(*) OVER () AS n
       |  FROM keep),
       |sh AS (SELECT k,
       |  CASE WHEN rn <= (n % 4) * (n // 4 + 1)
       |       THEN (rn - 1) // (n // 4 + 1)
       |       ELSE n % 4 + (rn - 1 - (n % 4) * (n // 4 + 1)) // greatest(n // 4, 1)
       |  END AS shard_id FROM rk)
       |SELECT shard_id, count(*) AS n, min(k) AS min_key, max(k) AS max_key
       |FROM sh GROUP BY 1""".stripMargin

  /** MinHash-LSH banding planner, FULL oracle — the dedup tuner face:
    * every (bands, rows) factorization of the 64-hash signature with its
    * S-curve midpoint and catch probability at jaccard 0.8; the numbers
    * behind `minhash_lsh`'s b=16/r=4 default (s50 ≈ 0.50, catch ≈ 0.9997
    * at 0.8). pow chains → float4 on both sides. */
  private def lshPlanQ(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.lshPlan(s, numHashes = 64, targetJaccard = 0.8)

  private val lshPlanSql =
    """SELECT CAST(b AS BIGINT) AS bands, CAST(64 // b AS BIGINT) AS rows_per_band,
      |  CAST(pow(1.0 / b, 1.0 / (64 // b)) AS REAL) AS s50,
      |  CAST(1.0 - pow(1.0 - pow(0.8, 64 // b), CAST(b AS DOUBLE)) AS REAL) AS p_at_target
      |FROM (SELECT unnest(range(1, 65)) AS b) WHERE 64 % b = 0""".stripMargin

  /** Word-unigram Jaccard near-dup pairs over the first 100 docs. */
  private def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.ngramJaccardPairs(
      Tables.read(s, dir, "documents").filter(col("doc_id") < 100),
      "doc_id", "text", n = 1, threshold = 0.9)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))

  private val ngramJaccardSql =
    """WITH g AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS grams
      |  FROM documents WHERE doc_id < 100),
      |p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    len(list_intersect(a.grams, b.grams))::DOUBLE /
      |      len(list_distinct(list_concat(a.grams, b.grams))) AS j
      |  FROM g a, g b WHERE a.doc_id < b.doc_id)
      |SELECT a_id, b_id, round(j, 6) AS jaccard FROM p WHERE j >= 0.9""".stripMargin

  /** Duplicate components: unigram-Jaccard pairs → connected components
    * by distributed min-label propagation; singleton docs are their own
    * component. Oracle walks the same graph with a recursive CTE. */
  private def dupComponentsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents").filter(col("doc_id") < 100)
    val pairs = operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.9)
    operators.Dedup.dupGroups(docs, "doc_id", pairs)
      .select(col("id").as("doc_id"), col("component"))
  }

  private val dupComponentsSql =
    """WITH RECURSIVE g AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS grams
      |  FROM documents WHERE doc_id < 100),
      |p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM g a, g b WHERE a.doc_id < b.doc_id
      |    AND len(list_intersect(a.grams, b.grams))::DOUBLE /
      |        len(list_distinct(list_concat(a.grams, b.grams))) >= 0.9),
      |e AS (SELECT a_id AS src, b_id AS dst FROM p
      |      UNION ALL SELECT b_id, a_id FROM p),
      |reach AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst),
      |m AS (SELECT src, min(dst) AS mn FROM reach GROUP BY src)
      |SELECT d.doc_id,
      |  CAST(coalesce(least(m.mn, d.doc_id), d.doc_id) AS BIGINT) AS component
      |FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
      |LEFT JOIN m ON m.src = d.doc_id""".stripMargin

  /** Token counts + punctuation/stopword components + rolling-hash
    * fingerprint — the raw inputs of quality scoring, all exact. */
  private def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        functions.TextAnalysis.wsTokenCountUdf(col("text")).as("ws_tokens"),
        functions.TextAnalysis.bpeTokenCountUdf(col("text")).as("bpe_tokens"),
        functions.TextAnalysis.fingerprintUdf(col("text")).as("fingerprint"))

  private val textStatsSql =
    """SELECT doc_id,
      |  CASE WHEN trim(text) = '' THEN 0
      |       ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
      |  CAST(coalesce(list_sum(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
      |         w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
      |    + len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens,
      |  list_reduce(list_prepend(0::BIGINT,
      |    list_transform(range(1, length(text) + 1), i -> unicode(text[i]))),
      |    (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
      |FROM documents""".stripMargin

  /** Gopher-style repetition signals, FULL oracle — the duplicate-line
    * and top-2-gram repetition filters (Rae et al. 2021, Table A1) as
    * exact integer counts (`TextAnalysis.repetitionStats`), so the
    * filter thresholds stay a caller-side dial and the cross-engine
    * comparison is integer-exact. The synthetic corpus is single-line,
    * so the fixture derives a deterministic multi-line text (two copies
    * of the first 40 chars appended as lines) with the same expression
    * on both engines, putting the line-grouping branch under the oracle
    * rather than only the degenerate one-line case. */
  private def repetitionStatsQ(s: SparkSession, dir: String): DataFrame = {
    val t = concat(col("text"), lit("\n"),
      substring(col("text"), 1, 40), lit("\n"), substring(col("text"), 1, 40))
    val st = functions.TextAnalysis.repetitionUdf(t)
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        st.getField("nLines").as("n_lines"),
        st.getField("dupLineCount").as("dup_line_count"),
        st.getField("dupLineChars").as("dup_line_chars"),
        st.getField("n2grams").as("n_2grams"),
        st.getField("top2gramCount").as("top_2gram_count"))
  }

  private val repetitionStatsSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    text || chr(10) || substr(text, 1, 40) || chr(10) || substr(text, 1, 40) AS t
      |  FROM documents),
      |ln AS (
      |  SELECT doc_id, trim(x, ' ' || chr(9) || chr(13)) AS l
      |  FROM (SELECT doc_id, unnest(string_split(t, chr(10))) AS x FROM t)
      |  WHERE trim(x, ' ' || chr(9) || chr(13)) <> ''),
      |lg AS (SELECT doc_id, l, count(*) AS c FROM ln GROUP BY doc_id, l),
      |ls AS (
      |  SELECT doc_id, CAST(sum(c) AS INT) AS n_lines,
      |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS INT) AS dup_line_count,
      |    CAST(sum(CASE WHEN c > 1 THEN c * length(l) ELSE 0 END) AS BIGINT) AS dup_line_chars
      |  FROM lg GROUP BY doc_id),
      |wd AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(t, '[ ' || chr(9) || chr(10) || chr(13) || ']+'),
      |      w -> w <> '') AS ws
      |  FROM t),
      |tg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS g
      |  FROM wd WHERE len(ws) >= 2),
      |gg AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g),
      |gs AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_2grams,
      |              CAST(max(c) AS INT) AS top_2gram_count
      |       FROM gg GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(ls.n_lines, 0) AS INT) AS n_lines,
      |  CAST(coalesce(ls.dup_line_count, 0) AS INT) AS dup_line_count,
      |  CAST(coalesce(ls.dup_line_chars, 0) AS BIGINT) AS dup_line_chars,
      |  CAST(coalesce(gs.n_2grams, 0) AS INT) AS n_2grams,
      |  CAST(coalesce(gs.top_2gram_count, 0) AS INT) AS top_2gram_count
      |FROM documents d
      |LEFT JOIN ls ON ls.doc_id = d.doc_id
      |LEFT JOIN gs ON gs.doc_id = d.doc_id""".stripMargin

  /** PII detect + redact, FULL oracle — emails / IPv4 literals /
    * international phone numbers counted with Spark-native
    * `regexp_count` and redacted with nested `regexp_replace` (codegen'd
    * scan-bound plan, zero UDFs; `TextAnalysis.Pii` keeps the patterns
    * in the RE2∩Java-identical subset). The corpus carries no PII, so
    * the fixture plants a deterministic contact line per doc (email,
    * +phone, ip built from doc_id with the same expression on both
    * engines); the redacted text itself is hash-compared, pinning
    * replacement semantics, not just counts. */
  private def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(col("text"),
      lit(" contact: user"), col("doc_id").cast("string"),
      lit("@example.com tel +1202555"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))
    val cols = functions.TextAnalysis.Pii.scrub(contact)
      .map { case (n, c) => c.as(n) }
    Tables.read(s, dir, "documents").select(col("doc_id") +: cols: _*)
  }

  private val piiScrubSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    text || ' contact: user' || CAST(doc_id AS VARCHAR)
      |         || '@example.com tel +1202555'
      |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |         || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
      |  FROM documents),
      |pat AS (SELECT
      |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS email,
      |  '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b' AS ipv4,
      |  '\+[0-9]{7,15}' AS phone)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, email)) AS INT) AS email_count,
      |  CAST(len(regexp_extract_all(t, ipv4)) AS INT) AS ipv4_count,
      |  CAST(len(regexp_extract_all(t, phone)) AS INT) AS phone_count,
      |  regexp_replace(regexp_replace(regexp_replace(t,
      |    email, '[EMAIL]', 'g'), ipv4, '[IP]', 'g'), phone, '[PHONE]', 'g')
      |    AS scrubbed,
      |  CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
      |    email, '[EMAIL]', 'g'), ipv4, '[IP]', 'g'), phone, '[PHONE]', 'g'))
      |    AS INT) AS scrubbed_chars
      |FROM t, pat""".stripMargin

  /** Corpus-level URL/domain statistics, FULL oracle — the domain
    * grouping step web-curation pipelines run before per-domain
    * filtering/balancing: extract URLs with native `regexp_extract_all`
    * (RE2∩Java-identical pattern), explode, reduce by host. One shuffle
    * on the (low-cardinality) host key with map-side partial counts —
    * the 100 TB shape; the per-row extract stays codegen'd and
    * scan-bound. Fixture plants two deterministic URLs per doc (7 hosts
    * + a per-doc path; one http, one https) since the corpus carries
    * none. */
  private def urlHostStats(s: SparkSession, dir: String): DataFrame = {
    val t = concat(col("text"),
      lit(" see https://site"), (col("doc_id") % 7).cast("string"),
      lit(".example.org/p/"), col("doc_id").cast("string"),
      lit(" and http://mirror"), (col("doc_id") % 3).cast("string"),
      lit(".example.net/q"))
    val urlPattern = "https?://[A-Za-z0-9.-]+[A-Za-z0-9](?:/[A-Za-z0-9./_-]*)?"
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        explode(regexp_extract_all(t, lit(urlPattern), lit(0))).as("url"))
      .withColumn("host",
        regexp_replace(regexp_replace(col("url"), lit("^https?://"), lit("")),
          lit("/.*$"), lit("")))
      .groupBy("host")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_urls"))
  }

  private val urlHostStatsSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
      |         || '.example.org/p/' || CAST(doc_id AS VARCHAR)
      |         || ' and http://mirror' || CAST(doc_id % 3 AS VARCHAR)
      |         || '.example.net/q' AS t
      |  FROM documents),
      |u AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(t,
      |      'https?://[A-Za-z0-9.-]+[A-Za-z0-9](?:/[A-Za-z0-9./_-]*)?')) AS url
      |  FROM t)
      |SELECT regexp_replace(regexp_replace(url, '^https?://', ''), '/.*$', '')
      |         AS host,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_urls
      |FROM u GROUP BY 1""".stripMargin

  /** Containment dedup, FULL oracle — the asymmetric-Jaccard detector
    * for wholesale quoting (a short document embedded inside a longer
    * one scores ~1.0 where symmetric Jaccard stays low): each document
    * is re-planted inside a wrapper (`wrap <id> begin <text> finis <id>
    * end`), and `Dedup.containmentPairs` (distinct 3-grams → global
    * df cap → gram equi-join → exact integer ratios) must recover every
    * original⊂wrapper pair at containment exactly 1.0. The oracle
    * replays tokenization, distinct grams, the df cap, the join, and
    * the IEEE int÷int ratios; containment goes out REAL per the float
    * convention. */
  private def containmentDedupQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val planted = docs.select((col("doc_id") + 100000).as("doc_id"),
      concat(lit("wrap "), col("doc_id").cast("string"), lit(" begin "),
        col("text"), lit(" finis "), col("doc_id").cast("string"),
        lit(" end")).as("text"))
    val both = docs.select(col("doc_id"), col("text")).unionByName(planted)
    operators.Dedup.containmentPairs(both, "doc_id", "text",
        n = 3, maxDf = 50, threshold = 0.8)
      .select(col("a_id"), col("b_id"), col("inter"),
        col("a_grams"), col("b_grams"),
        col("containment").cast("float").as("containment"))
  }

  private val containmentDedupSql =
    """WITH u AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |    'wrap ' || doc_id || ' begin ' || text || ' finis ' || doc_id || ' end'
      |  FROM documents),
      |toks AS (
      |  SELECT id, list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |                         w -> w <> '') AS ws
      |  FROM u),
      |grams AS (
      |  SELECT DISTINCT t.id,
      |    array_to_string(list_slice(t.ws, g.i, g.i + 2), ' ') AS gram
      |  FROM toks t CROSS JOIN LATERAL
      |    (SELECT unnest(range(1, len(t.ws) - 1)) AS i) g
      |  WHERE len(t.ws) >= 3),
      |rare AS (
      |  SELECT gram FROM (SELECT gram, count(*) AS df FROM grams GROUP BY 1)
      |  WHERE df <= 50),
      |capped AS (SELECT g.id, g.gram FROM grams g JOIN rare USING (gram)),
      |sizes AS (SELECT id, count(*) AS n_grams FROM capped GROUP BY 1),
      |inter AS (
      |  SELECT l.id AS a_id, r.id AS b_id, count(*) AS n
      |  FROM capped l JOIN capped r ON l.gram = r.gram AND l.id < r.id
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT i.a_id, i.b_id, i.n, sa.n_grams AS ag, sb.n_grams AS bg,
      |    greatest(i.n / CAST(sa.n_grams AS DOUBLE),
      |             i.n / CAST(sb.n_grams AS DOUBLE)) AS c
      |  FROM inter i JOIN sizes sa ON sa.id = i.a_id
      |               JOIN sizes sb ON sb.id = i.b_id)
      |SELECT a_id, b_id, CAST(n AS BIGINT) AS inter,
      |  CAST(ag AS BIGINT) AS a_grams, CAST(bg AS BIGINT) AS b_grams,
      |  CAST(c AS REAL) AS containment
      |FROM j WHERE c >= 0.8""".stripMargin

  /** URL canonicalization dedup, FULL oracle — the crawl-ingest step
    * before content dedup: five URL variants per base page (mixed
    * scheme/host case, explicit default port, duplicate path slashes,
    * trailing slash, fragments, shuffled query params interleaved with
    * utm_/fbclid/gclid tracking garbage) all collapse to one canonical
    * key (`Dedup.urlCanonical` — all-native regexp + collection
    * builtins, zero UDFs), and one shuffle on that key yields keeper +
    * variant count. The oracle states the identical transform in
    * DuckDB (regexp_replace/extract, list_filter/sort) over the same
    * generated variants. */
  private def urlCanonDedupQ(s: SparkSession, dir: String): DataFrame = {
    val u = expr("doc_id div 5").cast("string")
    val v = col("doc_id") % 5
    val url =
      when(v === 0, concat(lit("https://www.site"), u, lit(".example.com/docs/page"), u, lit("?a=1&b=2")))
        .when(v === 1, concat(lit("HTTPS://WWW.SITE"), u, lit(".EXAMPLE.COM:443/docs/page"), u, lit("?b=2&a=1")))
        .when(v === 2, concat(lit("https://www.site"), u, lit(".example.com/docs//page"), u, lit("?utm_source=feed&a=1&utm_medium=rss&b=2")))
        .when(v === 3, concat(lit("https://www.site"), u, lit(".example.com/docs/page"), u, lit("/?a=1&fbclid=X"), u, lit("&b=2")))
        .otherwise(concat(lit("https://www.site"), u, lit(".example.com/docs/page"), u, lit("?b=2&gclid=g"), u, lit("&a=1#sec")))
    operators.Dedup.urlDedup(
      Tables.read(s, dir, "documents").select(col("doc_id"), url.as("url")),
      "doc_id", "url")
  }

  private val urlCanonDedupSql =
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE doc_id % 5
      |      WHEN 0 THEN 'https://www.site' || (doc_id // 5) || '.example.com/docs/page' || (doc_id // 5) || '?a=1&b=2'
      |      WHEN 1 THEN 'HTTPS://WWW.SITE' || (doc_id // 5) || '.EXAMPLE.COM:443/docs/page' || (doc_id // 5) || '?b=2&a=1'
      |      WHEN 2 THEN 'https://www.site' || (doc_id // 5) || '.example.com/docs//page' || (doc_id // 5) || '?utm_source=feed&a=1&utm_medium=rss&b=2'
      |      WHEN 3 THEN 'https://www.site' || (doc_id // 5) || '.example.com/docs/page' || (doc_id // 5) || '/?a=1&fbclid=X' || (doc_id // 5) || '&b=2'
      |      ELSE 'https://www.site' || (doc_id // 5) || '.example.com/docs/page' || (doc_id // 5) || '?b=2&gclid=g' || (doc_id // 5) || '&a=1#sec'
      |    END AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      |      '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
      |    regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''),
      |      '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '/{2,}', '/') AS collapsed,
      |    regexp_extract(regexp_replace(url, '#.*$', ''), '\?([^#]*)', 1) AS rawq
      |  FROM raw),
      |canon AS (
      |  SELECT doc_id,
      |    CASE WHEN scheme = '' THEN url ELSE
      |    scheme || '://'
      |      || CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |              WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |              ELSE hostport END
      |      || CASE WHEN collapsed <> '/' THEN regexp_replace(collapsed, '/$', '')
      |              ELSE collapsed END
      |      || CASE WHEN kept <> '' THEN '?' || kept ELSE '' END
      |    END AS canon_url
      |  FROM (
      |    SELECT *, array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      |      p -> NOT (regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)=') OR p = ''))), '&') AS kept
      |    FROM parts))
      |SELECT canon_url,
      |  CAST(min(doc_id) AS BIGINT) AS keeper_id,
      |  CAST(count(*) AS BIGINT) AS n_variants
      |FROM canon GROUP BY 1""".stripMargin

  /** Systematic weighted resampling, FULL oracle — Madow's systematic
    * PPS scheme (the particle-filter / data-mixture resampler):
    * deterministic, exactly k=100 total copies, copies_i ∝ n_chars. The
    * selection rule is pure integer arithmetic over the id-ordered
    * cumulative weight axis (`Sampling.systematicSample` — bucket-prefix
    * cumsum, never a global sort), so the oracle replays it with a
    * window cumsum and the same ⌊(2kc + W − 1)/(2W)⌋ grid count. */
  private def systematicSampleQ(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.systematicSample(
      Tables.read(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", k = 100)

  private val systematicSampleSql =
    """WITH b AS (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
      |    sum(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id) AS cum
      |  FROM documents WHERE n_chars > 0),
      |t AS (SELECT max(cum) AS wt FROM b),
      |g AS (
      |  SELECT doc_id, w,
      |    (200 * cum + wt - 1) // (2 * wt)
      |      - (200 * (cum - w) + wt - 1) // (2 * wt) AS copies
      |  FROM b, t)
      |SELECT doc_id, w AS weight, CAST(copies AS BIGINT) AS copies
      |FROM g WHERE copies > 0""".stripMargin

  /** Per-language weighted reservoir, FULL oracle — independent A-ES
    * draws of k=20 docs per language (per-domain sampling budgets, the
    * grouped face of `weighted_reservoir`): same splitmix64 u-stream and
    * ln(u)/n_chars key, ranked by a PARTITIONED window. */
  private def groupReservoirQ(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.weightedReservoirByGroup(
      Tables.read(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars")),
      "lang", "doc_id", "n_chars", k = 20)

  private lazy val groupReservoirSql =
    s"""WITH d AS (SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS weight
       |           FROM documents WHERE n_chars > 0),
       |${mix64Ctes("gr", "d", Seq("lang", "doc_id", "weight"), "doc_id")},
       |ks AS (SELECT lang, doc_id, weight,
       |         ln(CAST(z // 2048 AS DOUBLE) / 9007199254740992.0) / weight AS k
       |       FROM gr6),
       |r AS (SELECT lang, doc_id, weight, k,
       |        row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rn
       |      FROM ks)
       |SELECT lang, doc_id, weight, CAST(k AS REAL) AS es_key
       |FROM r WHERE rn <= 20""".stripMargin

  /** Z-order (Morton) layout statistics, FULL oracle — the table-LAYOUT
    * operator (Delta/Iceberg `OPTIMIZE ZORDER BY` data skipping): each
    * lineitem row gets the 32-bit Morton code of its 16-bit-quantized
    * (l_orderkey, l_partkey), buckets are the code's top 10 bits (the
    * file-boundary stand-in), and the output is each bucket's min-max
    * envelope in BOTH dimensions + row count — exactly the per-file
    * stats a pruned scan consults. Pure integer arithmetic end to end
    * (range quantization by integer div, shift-or-mask bit spread), an
    * ALL-NATIVE plan, and a hash-exact oracle. `ZorderSpec` measures the
    * skipping power: a 2-D box reads a small fraction of rows under
    * z-order vs ~full scan under a single-column sort. */
  private def zorderLayoutQ(s: SparkSession, dir: String): DataFrame =
    operators.Zorder.layoutStats(
      Tables.read(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", shift = 22)

  private lazy val zorderLayoutSql = {
    val qa = operators.Zorder.quantize16Sql("a", "loa", "hia")
    val qb = operators.Zorder.quantize16Sql("b", "lob", "hib")
    s"""WITH s AS (
       |  SELECT min(l_orderkey) AS loa, max(l_orderkey) AS hia,
       |         min(l_partkey) AS lob, max(l_partkey) AS hib
       |  FROM lineitem),
       |q AS (
       |  SELECT l_orderkey AS a, l_partkey AS b,
       |         $qa AS qa, $qb AS qb
       |  FROM lineitem, s),
       |z AS (SELECT a, b, ${operators.Zorder.interleaveSql("qa", "qb")} AS zv FROM q)
       |SELECT zv // 4194304 AS bucket, count(*) AS n,
       |  min(a) AS a_min, max(a) AS a_max,
       |  min(b) AS b_min, max(b) AS b_max
       |FROM z GROUP BY 1""".stripMargin
  }

  /** Balanced shard layout, FULL oracle — the feed WRITER's manifest:
    * lineitem assigned to 32 size-balanced shards contiguous in
    * (l_partkey, then unique line id) order, floor/remainder split
    * (first n mod 32 shards take one extra row — exactly 32 shards
    * always) with the rank from `DistributedRank` (quantile
    * buckets + per-bucket windows — no single-task global sort). The
    * oracle recomputes the rank with a plain `row_number()` and must
    * reproduce every shard's count and key envelope exactly. */
  private def shardLayoutQ(s: SparkSession, dir: String): DataFrame =
    operators.Sharding.shardLayout(
      Tables.read(s, dir, "lineitem"),
      col("l_partkey"),
      col("l_orderkey") * lit(10L) + col("l_linenumber"),
      numShards = 32)

  private lazy val shardLayoutSql =
    """WITH r AS (
      |  SELECT l_partkey AS k,
      |    row_number() OVER (ORDER BY l_partkey, l_orderkey * 10 + l_linenumber) AS rn,
      |    count(*) OVER () AS n
      |  FROM lineitem),
      |s AS (SELECT k,
      |  CASE WHEN rn <= (n % 32) * (n // 32 + 1)
      |       THEN (rn - 1) // (n // 32 + 1)
      |       ELSE n % 32 + (rn - 1 - (n % 32) * (n // 32 + 1)) // greatest(n // 32, 1)
      |  END AS shard_id FROM r)
      |SELECT shard_id, count(*) AS n, min(k) AS min_key, max(k) AS max_key
      |FROM s GROUP BY 1""".stripMargin

  /** Shard reproducibility manifest, FULL oracle — the artifact a
    * pipeline publishes next to its output shards so a re-run (or a
    * downstream consumer) can prove byte-identity without re-reading
    * payloads: per balanced shard (the `assignShards` rank split), the
    * row count, the ORDER-INDEPENDENT content checksum (sum of per-row
    * djb2 hashes — the repo-wide replayable string hash), and the id
    * envelope. One rank pass + one aggregate; everything exact
    * integers. */
  private def shardManifestQ(s: SparkSession, dir: String): DataFrame =
    operators.Sharding.assignShards(Tables.read(s, dir, "documents"),
        col("doc_id"), col("doc_id"), numShards = 16)
      .withColumn("h", operators.Sketches.djb2Udf(col("text")))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("content_sum"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))

  private lazy val shardManifestSql =
    s"""WITH r AS (
       |  SELECT doc_id, text,
       |    row_number() OVER (ORDER BY doc_id, doc_id) AS rn,
       |    count(*) OVER () AS n
       |  FROM documents),
       |sh AS (SELECT doc_id, text,
       |  CASE WHEN rn <= (n % 16) * (n // 16 + 1)
       |       THEN (rn - 1) // (n // 16 + 1)
       |       ELSE n % 16 + (rn - 1 - (n % 16) * (n // 16 + 1))
       |         // greatest(n // 16, 1)
       |  END AS shard_id FROM r),
       |h AS (SELECT shard_id, doc_id,
       |  ${djb2Fold(sqlBytesOf("text"))} AS h FROM sh)
       |SELECT CAST(shard_id AS BIGINT) AS shard_id,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(h) AS BIGINT) AS content_sum,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM h GROUP BY 1""".stripMargin

  /** Per-epoch training-order shuffle, FULL oracle — the "reshuffle the
    * corpus every epoch" loader step (`operators/EpochShuffle.scala`):
    * two epochs of a seeded splitmix64 permutation over `documents`,
    * positions assigned by `DistributedRank` (quantile buckets +
    * per-bucket windows — never a single-task global sort). The oracle
    * replays the same hash through the shared [[mix64Ctes]] generator
    * and a plain `row_number()`; the 53-bit key truncation keeps the
    * rank branch's double bucketing exact, and doc-id tie-break makes
    * the order total, so positions must match row-for-row. */
  private def epochShuffleQ(s: SparkSession, dir: String): DataFrame =
    operators.EpochShuffle.orders(
      Tables.read(s, dir, "documents").select(col("doc_id")),
      "doc_id", epochs = 2, seed = 42L)

  private lazy val epochShuffleSql =
    // zExpr mirrors EpochShuffle.shuffleKey with seed 42 baked in
    // (42 * 4294967291 = 180388626222); the HUGEINT fold + mod 2^64
    // reproduces the JVM's wrapping multiply for any doc_id domain
    s"""WITH src AS (
       |  SELECT doc_id, e.epoch
       |  FROM documents, (SELECT unnest(range(0, 2)) AS epoch) e),
       |${mix64Ctes("ep", "src", Seq("doc_id", "epoch"),
          "(doc_id::HUGEINT * 1000003 + epoch::HUGEINT * 2654435761 + 180388626222::HUGEINT) % 18446744073709551616::HUGEINT")},
       |k AS (SELECT doc_id, epoch, z // 2048 AS key FROM ep6)
       |SELECT CAST(epoch AS INT) AS epoch, doc_id,
       |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY key, doc_id)
       |       AS BIGINT) AS pos
       |FROM k""".stripMargin

  /** Semantically-contiguous shard layout, FULL oracle — the
    * in-context-pretraining idea (group related docs adjacently) at
    * shard granularity: order = (topic bucket, doc id) where the topic
    * bucket is the SimHash top byte (docs with similar token profiles
    * land in the same bucket), sharded into 16 exact-size shards by the
    * rank-derived assignment. The manifest carries each shard's
    * distinct-bucket count — semantic contiguity made measurable (a
    * random order gives ~all buckets per shard; this layout gives few).
    * Pure integer end to end. */
  private def semanticShardsQ(s: SparkSession, dir: String): DataFrame = {
    val simUdf = udf((t: String) => operators.Dedup.simhash(t))
    val docs = Tables.read(s, dir, "documents")
      .filter(lower(col("text")).rlike("[a-z0-9]"))
      .select(col("doc_id"), shiftrightunsigned(simUdf(col("text")), 56).as("bucket"))
    val keyed = docs.withColumn("k",
      col("bucket") * lit(1099511627776L) + col("doc_id")) // bucket * 2^40 + id
    operators.Sharding.assignShards(keyed, col("k"), col("doc_id"), numShards = 16)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("bucket")).as("n_buckets"),
        min(col("bucket")).as("min_bucket"), max(col("bucket")).as("max_bucket"))
  }

  private lazy val semanticShardsSql =
    s"""WITH tf AS (
       |  SELECT doc_id, t AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |        FROM documents WHERE regexp_matches(lower(text), '[a-z0-9]'))
       |  GROUP BY 1, 2),
       |th AS (
       |  SELECT doc_id, term, tf,
       |    ${djb2Fold(sqlBytesOf("term"))} AS u1,
       |    ${djb2Fold(sqlBytesOf("reverse(term)"))} AS u2
       |  FROM tf),
       |w AS (
       |  SELECT doc_id, bb.b,
       |    sum(tf * (2 * ((CASE WHEN bb.b < 32 THEN u2 >> bb.b
       |                         ELSE u1 >> (bb.b - 32) END) & 1) - 1)) AS wt
       |  FROM th, (SELECT unnest(range(0, 64)) AS b) bb
       |  GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN wt > 0 AND b >= 56 THEN CAST(1 AS BIGINT) << (b - 56)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM w GROUP BY 1),
       |rk AS (
       |  SELECT doc_id, bucket,
       |    row_number() OVER (ORDER BY bucket * 1099511627776 + doc_id, doc_id) AS rn,
       |    count(*) OVER () AS n
       |  FROM sig),
       |sh AS (SELECT bucket,
       |  CASE WHEN rn <= (n % 16) * (n // 16 + 1)
       |       THEN (rn - 1) // (n // 16 + 1)
       |       ELSE n % 16 + (rn - 1 - (n % 16) * (n // 16 + 1)) // greatest(n // 16, 1)
       |  END AS shard_id FROM rk)
       |SELECT shard_id, count(*) AS n,
       |  count(DISTINCT bucket) AS n_buckets,
       |  min(bucket) AS min_bucket, max(bucket) AS max_bucket
       |FROM sh GROUP BY 1""".stripMargin

  /** Distributed BPE tokenizer training, FULL oracle — Sennrich et al.
    * 2016 subword merges learned from the documents corpus: one shuffle
    * compacts the corpus to its (word, freq) vocabulary, then each of 10
    * rounds is a pair-count aggregate + one-row argmax + a word-table
    * rewrite (canonical semantics: overlap-counting get_stats,
    * lexicographic tie-break, left-to-right non-overlapping merge). The
    * oracle replays ALL 10 rounds in SQL — pair counts via `list_zip`
    * of adjacent slices, the LTR merge as a `list_reduce` fold, each
    * round MATERIALIZED — and must reproduce every (rank, pair, count)
    * exactly. */
  private def bpeTrainQ(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = operators.Bpe.train(
      Tables.read(s, dir, "documents"), "text", numMerges = 10)
    s.createDataFrame(merges)
  }

  /** Production-dial BPE trainer, FULL oracle — `Bpe.trainLocal`: the
    * same ONE corpus shuffle compacts to the (word, freq) vocabulary,
    * then ALL merge rounds run driver-side with incremental pair stats
    * and a lazy-deletion heap (constant Spark jobs in numMerges, vs two
    * jobs per merge in `train` — the dial that makes a 32k vocab budget
    * feasible). Checked against the SAME 10-round SQL replay as
    * `bpe_train`, so the driver gate itself proves trainer parity. */
  private def bpeTrainLocalQ(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = operators.Bpe.trainLocal(
      Tables.read(s, dir, "documents"), "text", numMerges = 10)
    s.createDataFrame(merges)
  }

  /** Unigram-LM (SentencePiece-style) Viterbi segmentation, FULL
    * oracle — the second tokenizer family next to BPE (`operators/
    * Unigram.scala`): each document's first 64 normalized chars are
    * segmented by max-likelihood DP against the scored piece
    * vocabulary; the packed integer DP value (1024·score − nTokens)
    * makes (score, token count) tie-break-free, and the oracle replays
    * the identical DP as 64 materialized sliding-window CTEs over the
    * same vocabulary VALUES. Digits are absent from the vocab, so the
    * UNK path is live in the data. */
  private def unigramEncodeQ(s: SparkSession, dir: String): DataFrame =
    operators.Unigram.segmentStats(
      Tables.read(s, dir, "documents"), "doc_id", "text", maxChars = 64)

  private lazy val unigramEncodeSql = operators.Unigram.oracleSql(64)

  /** BPE encode statistics, FULL oracle — the compression evidence of
    * the learned tokenizer: corpus token counts before/after the 10
    * merges and the final symbol-vocabulary size, re-derived by the
    * oracle from its own replay of the merge rounds. */
  private def bpeEncodeQ(s: SparkSession, dir: String): DataFrame = {
    val (_, words) = operators.Bpe.train(
      Tables.read(s, dir, "documents"), "text", numMerges = 10)
    operators.Bpe.encodeStats(words)
  }

  /** The shared K-round BPE CTE chain (w1..w{K+1}, b1..bK). Early-stop
    * parity with `Bpe.train`: if pairs exhaust before round K, b$i is
    * EMPTY — the LEFT JOIN ON true keeps w${i+1} = w$i (NULL l/r makes
    * the merge CASE fall through), and the b$i UNION arm contributes
    * zero merge rows, exactly the trainer's fewer-merges semantics. */
  private def bpeCtes(k: Int): String = {
    def round(i: Int): String =
      s"""p$i AS MATERIALIZED (
         |  SELECT z[1] AS l, z[2] AS r, sum(freq) AS cnt FROM (
         |    SELECT unnest(list_zip(syms[:len(syms)-1], syms[2:])) AS z, freq FROM w$i)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |w${i + 1} AS MATERIALIZED (
         |  SELECT w, list_reduce(list_transform(syms, x -> [x]),
         |           (acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r
         |                            THEN list_append(acc[:len(acc)-1], b.l || b.r)
         |                            ELSE list_concat(acc, x) END) AS syms, freq
         |  FROM w$i LEFT JOIN b$i b ON true)""".stripMargin
    s"""wd AS MATERIALIZED (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |    FROM documents)
       |  GROUP BY 1),
       |w1 AS MATERIALIZED (
       |  SELECT w, list_append(list_transform(range(1, length(w)+1), i -> w[i]),
       |                        '</w>') AS syms, freq
       |  FROM wd),
       |${(1 to k).map(round).mkString(",\n")}""".stripMargin
  }

  private lazy val bpeTrainSql =
    s"""WITH ${bpeCtes(10)}
       |SELECT * FROM (${(1 to 10).map(i =>
            s"SELECT $i AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS cnt FROM b$i")
            .mkString(" UNION ALL ")})
       |ORDER BY merge_rank""".stripMargin

  private lazy val bpeEncodeSql =
    s"""WITH ${bpeCtes(10)},
       |base AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(freq * (length(w) + 1)) AS BIGINT) AS tokens_before,
       |    CAST(sum(freq * len(syms)) AS BIGINT) AS tokens_after
       |  FROM w11),
       |voc AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n_vocab FROM
       |  (SELECT unnest(syms) AS s FROM w11))
       |SELECT * FROM base, voc""".stripMargin

  /** Per-language BPE fertility, FULL oracle — the multilingual
    * tokenizer-fairness metric (tokens per word after the learned
    * merges): the corpus-trained merge table applied to each language's
    * word distribution; fertility = Σ freq·|syms| / Σ freq — one exact
    * integer division. Languages whose scripts the merge table never
    * saw compress worst — the number teams use to budget multilingual
    * token costs. */
  private def bpeFertilityQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val (_, words) = operators.Bpe.train(docs, "text", numMerges = 10)
    val wordLen = words.select(col("w"), size(col("syms")).cast("long").as("toks"))
    val byLang = docs.select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("freq"))
    byLang.join(wordLen, "w")
      .groupBy("lang")
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("toks")).as("n_tokens"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
  }

  private lazy val bpeFertilitySql =
    s"""WITH ${bpeCtes(10)},
       |wl AS (SELECT w, len(syms) AS toks FROM w11),
       |bl AS (
       |  SELECT lang, w, count(*) AS freq FROM (
       |    SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |    FROM documents)
       |  GROUP BY 1, 2)
       |SELECT bl.lang,
       |  CAST(sum(bl.freq) AS BIGINT) AS n_words,
       |  CAST(sum(bl.freq * wl.toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(bl.freq * wl.toks) AS DOUBLE) / CAST(sum(bl.freq) AS DOUBLE)
       |    AS fertility
       |FROM bl JOIN wl ON wl.w = bl.w
       |GROUP BY 1""".stripMargin

  /** Weighted reservoir sample (Efraimidis–Spirtakis A-ES), FULL
    * oracle — the one-pass weighted draw WITHOUT replacement,
    * complement of `systematic_sample`'s with-replacement copies:
    * u = splitmix64(doc_id) top-53-bits / 2⁵³, key = ln(u)/n_chars,
    * top k=100 by key. The oracle replays the u derivation through the
    * splitmix64 CTE chain and the same ln/divide; the key is emitted
    * float4 (libm convention). Plan: one scan + TakeOrderedAndProject —
    * no corpus shuffle, shard top-ks merge losslessly. */
  private def weightedReservoirQ(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.weightedReservoir(
      Tables.read(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", k = 100)

  private lazy val weightedReservoirSql =
    s"""WITH d AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight
       |           FROM documents WHERE n_chars > 0),
       |${mix64Ctes("wr", "d", Seq("doc_id", "weight"), "doc_id")},
       |ks AS (SELECT doc_id, weight,
       |         ln(CAST(z // 2048 AS DOUBLE) / 9007199254740992.0) / weight AS k
       |       FROM wr6)
       |SELECT doc_id, weight, CAST(k AS REAL) AS es_key
       |FROM ks ORDER BY k DESC, doc_id LIMIT 100""".stripMargin

  /** Adaptive per-group length gating, FULL oracle — drops
    * outlier-length documents against EACH language's own distribution:
    * per-lang p05/p95 histogram-quantile cutoffs
    * (`Sketches.lengthFilterAdaptive` — two tiny aggregates + a
    * broadcast gate, NO sort or window anywhere in the plan), cutoffs
    * emitted float4, the interpolation tree mirrored token-for-token. */
  private def lengthFilterQ(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.lengthFilterAdaptive(
      Tables.read(s, dir, "documents").select(col("lang"), col("n_chars")),
      "lang", "n_chars", bins = 64, pLo = 0.05, pHi = 0.95)

  private val lengthFilterSql =
    """WITH s AS (SELECT lang, CAST(min(n_chars) AS BIGINT) AS lo,
      |                  CAST(max(n_chars) AS BIGINT) AS hi, count(*) AS n
      |           FROM documents GROUP BY 1),
      |b AS (SELECT d.lang,
      |        CASE WHEN s.hi = s.lo THEN 0
      |             ELSE least(63, ((d.n_chars - s.lo) * 64) // (s.hi - s.lo)) END AS bin,
      |        count(*) AS cnt
      |      FROM documents d JOIN s ON s.lang = d.lang GROUP BY 1, 2),
      |c AS (SELECT lang, bin, cnt,
      |        sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum FROM b),
      |ps AS (SELECT unnest([0.05, 0.95]) AS p),
      |pick AS (
      |  SELECT c.lang, ps.p, c.bin, c.cnt, c.cum - c.cnt AS cb
      |  FROM ps, c JOIN s ON s.lang = c.lang
      |  WHERE c.cum >= ps.p * s.n
      |  QUALIFY row_number() OVER (PARTITION BY c.lang, ps.p ORDER BY c.bin) = 1),
      |est AS (
      |  SELECT pick.lang, pick.p,
      |    CAST(CASE WHEN s.hi = s.lo THEN CAST(s.lo AS DOUBLE)
      |         ELSE s.lo + pick.bin * ((s.hi - s.lo) / 64.0)
      |              + ((s.hi - s.lo) / 64.0)
      |                * ((pick.p * s.n - pick.cb) / pick.cnt)
      |         END AS REAL) AS est
      |  FROM pick JOIN s ON s.lang = pick.lang),
      |cuts AS (SELECT lang,
      |           min(CASE WHEN p = 0.05 THEN est END) AS lo_cut,
      |           min(CASE WHEN p = 0.95 THEN est END) AS hi_cut
      |         FROM est GROUP BY 1)
      |SELECT d.lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN d.n_chars >= cuts.lo_cut AND d.n_chars <= cuts.hi_cut
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  min(cuts.lo_cut) AS lo_cut, min(cuts.hi_cut) AS hi_cut
      |FROM documents d JOIN cuts ON cuts.lang = d.lang
      |GROUP BY 1""".stripMargin

  /** End-to-end token-budget feed assembly under ONE oracle — the
    * composition of this round's curation operators: adaptive per-language
    * length gating (histogram p05/p95 cutoffs) → systematic PPS
    * resampling (exactly k=500 copies, ∝ n_chars, over the gated corpus)
    * → BPE-ish token accounting of the selected copies, reported per
    * language. Every stage is deterministic integer/float4 arithmetic,
    * so the whole chain replays as one SQL pipeline. */
  private def budgetFeedQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val cuts = operators.Sketches.histQuantilesByGroup(
        docs.select(col("lang"), col("n_chars")), "lang", "n_chars",
        bins = 64, ps = Seq(0.05, 0.95))
      .groupBy(col("lang")).agg(
        min(when(col("percentile") === 0.05, col("est"))).as("lo_cut"),
        min(when(col("percentile") === 0.95, col("est"))).as("hi_cut"))
    val kept = docs.join(broadcast(cuts), "lang")
      .filter(col("n_chars") >= col("lo_cut") && col("n_chars") <= col("hi_cut"))
    val picked = operators.Sampling.systematicSample(
      kept.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", k = 500)
    val toks = kept.select(col("doc_id"), col("lang"),
      functions.TextAnalysis.bpeTokenCountUdf(col("text")).as("tokens"))
    picked.join(toks, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("copies")).as("n_copies"),
        sum(col("copies") * col("tokens")).as("total_tokens"))
  }

  private val budgetFeedSql =
    """WITH s AS (SELECT lang, CAST(min(n_chars) AS BIGINT) AS lo,
      |                  CAST(max(n_chars) AS BIGINT) AS hi, count(*) AS n
      |           FROM documents GROUP BY 1),
      |b AS (SELECT d.lang,
      |        CASE WHEN s.hi = s.lo THEN 0
      |             ELSE least(63, ((d.n_chars - s.lo) * 64) // (s.hi - s.lo)) END AS bin,
      |        count(*) AS cnt
      |      FROM documents d JOIN s ON s.lang = d.lang GROUP BY 1, 2),
      |c AS (SELECT lang, bin, cnt,
      |        sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum FROM b),
      |ps AS (SELECT unnest([0.05, 0.95]) AS p),
      |pick AS (
      |  SELECT c.lang, ps.p, c.bin, c.cnt, c.cum - c.cnt AS cb
      |  FROM ps, c JOIN s ON s.lang = c.lang
      |  WHERE c.cum >= ps.p * s.n
      |  QUALIFY row_number() OVER (PARTITION BY c.lang, ps.p ORDER BY c.bin) = 1),
      |est AS (
      |  SELECT pick.lang, pick.p,
      |    CAST(CASE WHEN s.hi = s.lo THEN CAST(s.lo AS DOUBLE)
      |         ELSE s.lo + pick.bin * ((s.hi - s.lo) / 64.0)
      |              + ((s.hi - s.lo) / 64.0)
      |                * ((pick.p * s.n - pick.cb) / pick.cnt)
      |         END AS REAL) AS est
      |  FROM pick JOIN s ON s.lang = pick.lang),
      |cuts AS (SELECT lang,
      |           min(CASE WHEN p = 0.05 THEN est END) AS lo_cut,
      |           min(CASE WHEN p = 0.95 THEN est END) AS hi_cut
      |         FROM est GROUP BY 1),
      |kept AS (
      |  SELECT d.doc_id, d.lang, d.n_chars, d.text
      |  FROM documents d JOIN cuts ON cuts.lang = d.lang
      |  WHERE d.n_chars >= cuts.lo_cut AND d.n_chars <= cuts.hi_cut),
      |cw AS (SELECT doc_id, lang, text, CAST(n_chars AS BIGINT) AS wq,
      |         sum(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id) AS cum
      |       FROM kept),
      |t AS (SELECT max(cum) AS wt FROM cw),
      |cp AS (SELECT doc_id, lang, text,
      |        (1000 * cum + wt - 1) // (2 * wt)
      |          - (1000 * (cum - wq) + wt - 1) // (2 * wt) AS copies
      |       FROM cw, t),
      |sel AS (SELECT doc_id, lang, text, copies FROM cp WHERE copies > 0),
      |tok AS (SELECT doc_id, lang, copies,
      |          CAST(coalesce(list_sum(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
      |                 wd -> CAST(ceil(length(wd) / 4.0) AS BIGINT))), 0)
      |            + len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS tokens
      |        FROM sel)
      |SELECT lang, count(*) AS n_docs, CAST(sum(copies) AS BIGINT) AS n_copies,
      |  CAST(sum(copies * tokens) AS BIGINT) AS total_tokens
      |FROM tok GROUP BY 1""".stripMargin

  /** Per-language corpus diagnostics, FULL oracle — Shannon entropy of
    * the term distribution (−Σ (c/T)·ln(c/T), float4 per the libm
    * convention: ln plus an unordered cross-term sum) and the type-token
    * ratio (exact-int division). One token pass, two grouped aggregates
    * — the corpus-health report a curation run emits per shard. */
  private def corpusEntropyQ(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.read(s, dir, "documents")
      .select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
    val tot = tf.groupBy(col("lang")).agg(
      sum(col("c")).as("tok_total"), count(lit(1)).as("n_types"))
    tf.join(tot, "lang")
      .groupBy(col("lang"))
      .agg(
        min(col("tok_total")).as("n_tokens"),
        min(col("n_types")).as("n_types"),
        sum(-(col("c") / col("tok_total")) * log(col("c") / col("tok_total")))
          .cast("float").as("entropy"),
        (min(col("n_types")).cast("double") / min(col("tok_total"))).as("ttr"))
  }

  private val corpusEntropySql =
    """WITH tf AS (
      |  SELECT lang, t, count(*) AS c FROM (
      |    SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
      |    FROM documents)
      |  GROUP BY 1, 2),
      |tot AS (SELECT lang, sum(c) AS tok_total, count(*) AS n_types FROM tf GROUP BY 1)
      |SELECT tf.lang,
      |  CAST(min(tot.tok_total) AS BIGINT) AS n_tokens,
      |  CAST(min(tot.n_types) AS BIGINT) AS n_types,
      |  CAST(sum(-(tf.c / tot.tok_total) * ln(tf.c / tot.tok_total)) AS REAL) AS entropy,
      |  CAST(min(tot.n_types) AS DOUBLE) / min(tot.tok_total) AS ttr
      |FROM tf JOIN tot ON tot.lang = tf.lang
      |GROUP BY 1""".stripMargin

  /** KMV distinct-count sketch, FULL oracle — per-language distinct-token
    * estimates from a k-minimum-values state (k=64). The 100 TB shape:
    * Spark's partial aggregation merges bounded sorted-hash states
    * map-side, so the shuffle carries ≤ k longs per language instead of
    * the distinct-token universe that `countDistinct`'s expand shuffles.
    * The hash family is splitmix64 over djb2 fingerprints, so DuckDB
    * re-derives the k-th minimum hash (emitted as unsigned 32-bit halves,
    * bit-exact) and the (k-1)/U(h_k) estimate exactly; the exact distinct
    * count rides along as ground truth. */
  private def kmvDistinctQ(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(s, dir, "documents")
      .select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("t"))
      .withColumn("u", operators.Sketches.djb2Udf(col("t")))
    val sk = operators.Sketches.kmvDistinct(toks, "lang", "u", 64)
    val exact = toks.groupBy("lang").agg(countDistinct(col("u")).as("n_distinct"))
    sk.join(exact, "lang")
  }

  private lazy val kmvDistinctSql =
    s"""WITH toks AS (
       |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |  FROM documents),
       |td AS (SELECT DISTINCT lang, t FROM toks),
       |tu AS (SELECT lang, ${djb2Fold(sqlBytesOf("t"))} AS u FROM td),
       |${mix64Ctes("kv", "tu", Seq("lang"), "u")},
       |h AS (SELECT DISTINCT lang, z FROM kv6),
       |r AS (SELECT lang, z,
       |        row_number() OVER (PARTITION BY lang ORDER BY z) AS rn,
       |        count(*) OVER (PARTITION BY lang) AS nd
       |      FROM h),
       |k AS (SELECT lang, count(*) AS n_kept, max(nd) AS n_distinct, max(z) AS kz
       |      FROM r WHERE rn <= 64 GROUP BY 1)
       |SELECT lang, CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(kz // 4294967296 AS BIGINT) AS kth_hi,
       |  CAST(kz % 4294967296 AS BIGINT) AS kth_lo,
       |  CAST(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
       |            ELSE 63.0 * 18446744073709551616.0 / CAST(kz AS DOUBLE) END
       |       AS REAL) AS est_distinct,
       |  CAST(n_distinct AS BIGINT) AS n_distinct
       |FROM k""".stripMargin

  /** Shard-merged KMV distinct, FULL oracle — the INCREMENTAL sketch
    * pattern: one bounded KMV state per `source` shard (persistable as a
    * sketch catalog), then a second Aggregator merges the states into a
    * corpus-wide estimate without re-reading tokens. KMV merge is
    * lossless for the k-minimum set, so the merged state — and therefore
    * the kth-min hash and estimate — must equal the whole-corpus sketch
    * EXACTLY; the oracle re-derives the whole-corpus sketch and checks
    * that identity. */
  private def kmvMergeShardsQ(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(s, dir, "documents")
      .select(col("source"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("t"))
      .withColumn("u", operators.Sketches.djb2Udf(col("t")))
    val kmv = udaf(new operators.Sketches.KmvAgg(64))
    val perShard = toks.groupBy(col("source")).agg(kmv(col("u")).as("ks"))
    val kmvMerge = udaf(new operators.Sketches.KmvMergeAgg(64))
    val est = udf((st: Seq[Long]) => operators.Sketches.kmvEstimate(st, 64))
    perShard.agg(kmvMerge(col("ks")).as("ks"))
      .select(
        size(col("ks")).cast("long").as("n_kept"),
        shiftrightunsigned(expr("element_at(ks, size(ks))"), 32).as("kth_hi"),
        expr("element_at(ks, size(ks))").bitwiseAND(lit(0xFFFFFFFFL)).as("kth_lo"),
        est(col("ks")).as("est_distinct"))
  }

  private lazy val kmvMergeShardsSql =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |  FROM documents),
       |td AS (SELECT DISTINCT t FROM toks),
       |tu AS (SELECT ${djb2Fold(sqlBytesOf("t"))} AS u FROM td),
       |${mix64Ctes("km", "tu", Seq(), "u")},
       |h AS (SELECT DISTINCT z FROM km6),
       |r AS (SELECT z, row_number() OVER (ORDER BY z) AS rn FROM h),
       |k AS (SELECT count(*) AS n_kept, max(z) AS kz FROM r WHERE rn <= 64)
       |SELECT CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(kz // 4294967296 AS BIGINT) AS kth_hi,
       |  CAST(kz % 4294967296 AS BIGINT) AS kth_lo,
       |  CAST(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
       |            ELSE 63.0 * 18446744073709551616.0 / CAST(kz AS DOUBLE) END
       |       AS REAL) AS est_distinct
       |FROM k""".stripMargin

  /** Dense HyperLogLog distinct sketch, FULL oracle — the CONSTANT-state
    * partner of `kmv_distinct` (2^p register bytes per group, the shape
    * of the industry `approx_count_distinct`). The estimate is made
    * oracle-exact by keeping the harmonic-mean denominator as the
    * INTEGER Σ 2^(57−M_j) (BigInt / HUGEINT — order-independent), so the
    * oracle re-derives registers (index = top 8 hash bits, rho =
    * leading-zero count via `length(bin(rem))`), denominator halves,
    * positional checksum, and the estimate — linear-counting branch
    * included — bit-for-bit. Exact distinct rides along as truth. */
  private def hllDistinctQ(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(s, dir, "documents")
      .select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("t"))
      .withColumn("u", operators.Sketches.djb2Udf(col("t")))
    val sk = operators.Sketches.hllDistinct(toks, "lang", "u", p = 8)
    val exact = toks.groupBy("lang").agg(countDistinct(col("u")).as("n_distinct"))
    sk.join(exact, "lang")
  }

  private lazy val hllDistinctSql =
    s"""WITH toks AS (
       |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |  FROM documents),
       |td AS (SELECT DISTINCT lang, t FROM toks),
       |tu AS (SELECT lang, ${djb2Fold(sqlBytesOf("t"))} AS u FROM td),
       |${mix64Ctes("hg", "tu", Seq("lang"), "u")},
       |h AS (SELECT DISTINCT lang, z FROM hg6),
       |rr AS (SELECT lang,
       |         CAST(z // 72057594037927936 AS BIGINT) AS idx,
       |         CAST(z % 72057594037927936 AS BIGINT) AS rem FROM h),
       |regs AS (SELECT lang, idx,
       |           max(CASE WHEN rem = 0 THEN 57 ELSE 57 - length(bin(rem)) END) AS mj
       |         FROM rr GROUP BY 1, 2),
       |ag AS (SELECT lang, count(*) AS occ,
       |         sum((idx + 1) * mj) AS checksum,
       |         sum(1::HUGEINT << (57 - mj)) AS s_occ
       |       FROM regs GROUP BY 1),
       |fin AS (SELECT lang,
       |          CAST(256 - occ AS BIGINT) AS n_zero,
       |          CAST(checksum AS BIGINT) AS checksum,
       |          s_occ + (256 - occ)::HUGEINT * (1::HUGEINT << 57) AS s
       |        FROM ag),
       |est AS (SELECT lang, n_zero, checksum, s,
       |          (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
       |            * 144115188075855872.0 / CAST(s AS DOUBLE) AS raw
       |        FROM fin),
       |ex AS (SELECT lang, count(DISTINCT u) AS n_distinct FROM
       |         (SELECT lang, z AS u FROM hg6) GROUP BY 1)
       |SELECT e.lang, e.n_zero,
       |  CAST(e.s // 4294967296 AS BIGINT) AS s_hi,
       |  CAST(e.s % 4294967296 AS BIGINT) AS s_lo,
       |  e.checksum,
       |  CAST(CASE WHEN e.raw <= 640.0 AND e.n_zero > 0
       |            THEN 256.0 * ln(256.0 / e.n_zero)
       |            ELSE e.raw END AS REAL) AS est_distinct,
       |  CAST(x.n_distinct AS BIGINT) AS n_distinct
       |FROM est e JOIN ex x ON x.lang = e.lang""".stripMargin

  /** ANALYZE-style table statistics, FULL oracle — the planner-stats
    * surface (the reference is a Postgres extension; ANALYZE is the
    * core-PG analog): ONE scan over lineitem computes min/max/null-count
    * plus a bounded mergeable KMV ndv state for each analyzed column
    * (two long keys raw, one string via djb2), next to the exact
    * countDistinct. The oracle re-derives each column's kth-min hash and
    * estimate through the splitmix64 chain — the estimates themselves
    * are hash-checked, as in `kmv_distinct`. */
  /** Routing-health dial, FULL oracle — the rebuild-trigger statistic
    * the maintenance story hangs on (SCALING.md "route-don't-refit,
    * quantified": imbalance excursts 1.88→33.4 under distribution
    * shift), oracled end-to-end: the corpus routes to FOUR FIXED
    * literal centroids through the PRODUCTION routing kernel
    * (`Ivf.routeWithDist` — the ONE argmin kernel every ingest path
    * shares, HERE including its own emitted distance, the exact
    * expression `StreamIndexIngest`'s per-batch health rows
    * aggregate), and the output is the per-cluster posting size, mean
    * routing distance (round-6 of an unordered double aggregate — r14
    * advice: a fixed decimal grid absorbs accumulation-order noise
    * deterministically where a float4 cast merely usually does), and
    * the max/avg imbalance. Literal centroids make the argmin
    * SQL-replayable closed-form; a routing tie breaks to the LOWER
    * cluster id on both engines (strict `<` in the kernel, `ORDER BY
    * d, cid` in the oracle). */
  private def routeHealthQ(s: SparkSession, dir: String): DataFrame = {
    // ±e1/±e2 axis centroids: the fixture embeddings are unit-norm and
    // zero-centered, so the argmin partitions by the sign of whichever
    // of the first two coordinates dominates — four genuinely populated
    // posting lists, not one degenerate bucket
    val cents: Array[Array[Float]] = Array(
      Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f),
      Array.tabulate(64)(i => if (i == 0) -1.0f else 0.0f),
      Array.tabulate(64)(i => if (i == 1) 1.0f else 0.0f),
      Array.tabulate(64)(i => if (i == 1) -1.0f else 0.0f))
    val e = Tables.read(s, dir, "embeddings").select("embedding")
    val g = operators.Ivf.routeWithDist(cents, e, "embedding")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n"),
        round(avg(col("route_dist")), 6).as("mean_dist"))
    val tot = g.agg(max(col("n")).as("__mx"), avg(col("n")).as("__av"))
    g.crossJoin(tot)
      .select(col("cluster_id").cast("long").as("cluster_id"), col("n"),
        col("mean_dist"),
        (col("__mx") / col("__av")).cast("float").as("imbalance"))
  }

  private val routeHealthSql =
    """WITH c AS (
      |  SELECT 0 AS cid, list_transform(range(64),
      |    x -> CASE WHEN x = 0 THEN 1.0 ELSE 0.0 END) AS cv
      |  UNION ALL SELECT 1, list_transform(range(64),
      |    x -> CASE WHEN x = 0 THEN -1.0 ELSE 0.0 END)
      |  UNION ALL SELECT 2, list_transform(range(64),
      |    x -> CASE WHEN x = 1 THEN 1.0 ELSE 0.0 END)
      |  UNION ALL SELECT 3, list_transform(range(64),
      |    x -> CASE WHEN x = 1 THEN -1.0 ELSE 0.0 END)),
      |a AS (
      |  SELECT e.vec_id, c.cid,
      |    list_distance(e.embedding::DOUBLE[], c.cv) AS d,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.cid) AS rn
      |  FROM embeddings e, c),
      |g AS (
      |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
      |    round(AVG(d), 6) AS mean_dist
      |  FROM a WHERE rn = 1 GROUP BY cid),
      |t AS (SELECT MAX(n) AS mx, AVG(n) AS av FROM g)
      |SELECT CAST(g.cid AS BIGINT) AS cluster_id, g.n, g.mean_dist,
      |  CAST(t.mx / t.av AS REAL) AS imbalance
      |FROM g, t""".stripMargin

  private def analyzeTableQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.read(s, dir, "lineitem")
    val kmvL = udaf(new operators.Sketches.KmvAgg(64))
    val est = udf((st: Seq[Long]) => operators.Sketches.kmvEstimate(st, 64))
    li.agg(
        min(col("l_orderkey")).as("ok_min"), max(col("l_orderkey")).as("ok_max"),
        countDistinct(col("l_orderkey")).as("ok_ndv"),
        kmvL(col("l_orderkey")).as("ok_ks"),
        min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
        countDistinct(col("l_partkey")).as("pk_ndv"),
        kmvL(col("l_partkey")).as("pk_ks"),
        min(col("l_returnflag")).as("rf_min"), max(col("l_returnflag")).as("rf_max"),
        countDistinct(col("l_returnflag")).as("rf_ndv"),
        kmvL(operators.Sketches.djb2Udf(col("l_returnflag"))).as("rf_ks"),
        count(lit(1)).as("n_rows"))
      .select(
        col("n_rows"),
        col("ok_min").cast("long").as("ok_min"), col("ok_max").cast("long").as("ok_max"),
        col("ok_ndv"), est(col("ok_ks")).as("ok_ndv_est"),
        col("pk_min").cast("long").as("pk_min"), col("pk_max").cast("long").as("pk_max"),
        col("pk_ndv"), est(col("pk_ks")).as("pk_ndv_est"),
        col("rf_min"), col("rf_max"),
        col("rf_ndv"), est(col("rf_ks")).as("rf_ndv_est"))
  }

  private lazy val analyzeTableSql = {
    def kmvBlock(prefix: String, distinctSrc: String): String =
      s"""${prefix}v AS ($distinctSrc),
         |${mix64Ctes(prefix, s"${prefix}v", Seq(), "v")},
         |${prefix}h AS (SELECT DISTINCT z FROM ${prefix}6),
         |${prefix}r AS (SELECT z, row_number() OVER (ORDER BY z) AS rn FROM ${prefix}h),
         |${prefix}k AS (
         |  SELECT CAST(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |              ELSE 63.0 * 18446744073709551616.0 / CAST(max(z) AS DOUBLE) END
         |         AS REAL) AS e
         |  FROM ${prefix}r WHERE rn <= 64)""".stripMargin
    s"""WITH ${kmvBlock("ka", "SELECT DISTINCT l_orderkey AS v FROM lineitem")},
       |${kmvBlock("kb", "SELECT DISTINCT l_partkey AS v FROM lineitem")},
       |${kmvBlock("kc", s"SELECT DISTINCT ${djb2Fold(sqlBytesOf("l_returnflag"))} AS v FROM (SELECT DISTINCT l_returnflag FROM lineitem)")}
       |SELECT count(*) AS n_rows,
       |  CAST(min(l_orderkey) AS BIGINT) AS ok_min,
       |  CAST(max(l_orderkey) AS BIGINT) AS ok_max,
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ok_ndv,
       |  (SELECT e FROM kak) AS ok_ndv_est,
       |  CAST(min(l_partkey) AS BIGINT) AS pk_min,
       |  CAST(max(l_partkey) AS BIGINT) AS pk_max,
       |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS pk_ndv,
       |  (SELECT e FROM kbk) AS pk_ndv_est,
       |  min(l_returnflag) AS rf_min, max(l_returnflag) AS rf_max,
       |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS rf_ndv,
       |  (SELECT e FROM kck) AS rf_ndv_est
       |FROM lineitem""".stripMargin
  }

  /** Count-min sketch heavy hitters, FULL oracle — CMS-estimated counts
    * (d=4 rows × w=1024 buckets) for the exact top-20 corpus terms. ONE
    * pass over the raw token stream builds the grid; the mergeable d×w
    * state — not the term universe — crosses the shuffle (Spark partial
    * aggregation = the streaming sketch's merge), and the exact
    * term-count top-k rides along as ground truth, so the oracle checks
    * the sketch's overestimates themselves: bucket = splitmix64(djb2 ^
    * row-seed) & 1023, estimate = min over rows of the bucket sums —
    * pure integer arithmetic on both engines. */
  private def cmsTopkQ(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(s, dir, "documents")
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("term"))
    operators.Sketches.cmsTopK(toks, "term", kTop = 20, d = 4, w = 1024)
  }

  private lazy val cmsTopkSql = {
    val seeds = operators.Sketches.cmsRowSeeds(4)
    def su(i: Int) = java.lang.Long.toUnsignedString(seeds(i))
    val zExpr = s"xor(u::HUGEINT, CASE r WHEN 0 THEN ${su(0)}::HUGEINT " +
      s"WHEN 1 THEN ${su(1)}::HUGEINT WHEN 2 THEN ${su(2)}::HUGEINT " +
      s"ELSE ${su(3)}::HUGEINT END)"
    s"""WITH toks AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents),
       |tf AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
       |tu AS (SELECT term, c, ${djb2Fold(sqlBytesOf("term"))} AS u FROM tf),
       |rr AS (SELECT term, c, u, unnest([0, 1, 2, 3]) AS r FROM tu),
       |${mix64Ctes("cm", "rr", Seq("term", "c", "r"), zExpr)},
       |tb AS (SELECT term, c, r, z % 1024 AS bucket FROM cm6),
       |bs AS (SELECT r, bucket, sum(c) AS bsum FROM tb GROUP BY 1, 2),
       |est AS (SELECT tb.term, max(tb.c) AS exact_cnt, min(bs.bsum) AS cms_est
       |        FROM tb JOIN bs ON bs.r = tb.r AND bs.bucket = tb.bucket
       |        GROUP BY 1)
       |SELECT term, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       |  CAST(cms_est AS BIGINT) AS cms_est
       |FROM est ORDER BY exact_cnt DESC, term LIMIT 20""".stripMargin
  }

  /** Sketch-driven skew routing, FULL oracle — the planner pattern that
    * connects the sketch family to the join family: ONE count-min pass
    * over the join key estimates each key's frequency, and keys whose
    * estimate exceeds the salting threshold are routed to the
    * replicated/salted join path (`Skew.saltedJoin`) while the long
    * tail stays on the plain hash join. CMS over-estimates only, so
    * routing errs toward salting — the safe direction. Output: key,
    * exact count (truth), CMS estimate, route. */
  private def skewRouteQ(s: SparkSession, dir: String): DataFrame = {
    val withU = Tables.read(s, dir, "events")
      .select(col("user_id"))
      .withColumn("u", col("user_id").bitwiseAND(lit(0xFFFFFFFFL)))
    val cms = udaf(new operators.Sketches.CmsAgg(4, 1024))
    val grid = withU.agg(cms(col("u")).as("grid"))
    val est = udf((g: Seq[Long], u: Long) =>
      operators.Sketches.cmsQuery(g, 4, 1024, u))
    withU.groupBy(col("user_id"), col("u"))
      .agg(count(lit(1)).as("exact_cnt"))
      .crossJoin(broadcast(grid))
      .withColumn("cms_est", est(col("grid"), col("u")))
      .select(col("user_id"), col("exact_cnt"), col("cms_est"),
        when(col("cms_est") > 75L, lit("salted")).otherwise(lit("hash")).as("route"))
  }

  private lazy val skewRouteSql = {
    val seeds = operators.Sketches.cmsRowSeeds(4)
    def su(i: Int) = java.lang.Long.toUnsignedString(seeds(i))
    val zExpr = s"xor(u::HUGEINT, CASE r WHEN 0 THEN ${su(0)}::HUGEINT " +
      s"WHEN 1 THEN ${su(1)}::HUGEINT WHEN 2 THEN ${su(2)}::HUGEINT " +
      s"ELSE ${su(3)}::HUGEINT END)"
    s"""WITH kf AS (
       |  SELECT user_id, user_id % 4294967296 AS u, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |rr AS (SELECT user_id, u, c, unnest([0, 1, 2, 3]) AS r FROM kf),
       |${mix64Ctes("sk", "rr", Seq("user_id", "u", "c", "r"), zExpr)},
       |tb AS (SELECT user_id, u, c, r, z % 1024 AS bucket FROM sk6),
       |bs AS (SELECT r, bucket, sum(c) AS bsum FROM tb GROUP BY 1, 2),
       |est AS (
       |  SELECT tb.user_id, max(tb.c) AS exact_cnt, min(bs.bsum) AS cms_est
       |  FROM tb JOIN bs ON bs.r = tb.r AND bs.bucket = tb.bucket
       |  GROUP BY 1)
       |SELECT user_id, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       |  CAST(cms_est AS BIGINT) AS cms_est,
       |  CASE WHEN cms_est > 75 THEN 'salted' ELSE 'hash' END AS route
       |FROM est""".stripMargin
  }

  /** Histogram quantile sketch, FULL oracle — one-scan fixed-bin (B=64)
    * quantile estimates over `n_chars` next to the EXACT rank quantile
    * (via DistributedRank — no single-partition sort on either path).
    * Bin assignment is pure integer math; the interpolation expression
    * tree is mirrored token-for-token in SQL and emitted float4. */
  private def histQuantileQ(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.histQuantiles(
      Tables.read(s, dir, "documents").select(col("n_chars"), col("doc_id")),
      "n_chars", "doc_id", bins = 64, ps = Seq(0.5, 0.9, 0.99))

  private val histQuantileSql =
    """WITH s AS (SELECT CAST(min(n_chars) AS BIGINT) AS lo,
      |                  CAST(max(n_chars) AS BIGINT) AS hi,
      |                  count(*) AS n
      |           FROM documents),
      |b AS (SELECT least(63, ((n_chars - lo) * 64) // (hi - lo)) AS bin,
      |             count(*) AS cnt
      |      FROM documents, s GROUP BY 1),
      |c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM b),
      |ps AS (SELECT unnest([0.5, 0.9, 0.99]) AS p),
      |pick AS (
      |  SELECT p, bin, cnt, cum - cnt AS cb
      |  FROM ps, c
      |  WHERE cum >= p * (SELECT n FROM s)
      |  QUALIFY row_number() OVER (PARTITION BY p ORDER BY bin) = 1),
      |ranked AS (
      |  SELECT n_chars AS v, row_number() OVER (ORDER BY n_chars, doc_id) AS rn
      |  FROM documents)
      |SELECT p AS percentile,
      |  CAST(lo + bin * ((hi - lo) / 64.0)
      |       + ((hi - lo) / 64.0) * ((p * n - cb) / cnt) AS REAL) AS est,
      |  CAST((SELECT v FROM ranked
      |        WHERE rn = CAST(floor(p * (n - 1)) AS BIGINT) + 1) AS BIGINT) AS exact
      |FROM pick, s""".stripMargin

  /** Eval-set decontamination, FULL oracle — every 50th document plays
    * the benchmark corpus (derived from the same table on both engines,
    * no planted text), and each document reports how many of its word
    * 8-grams appear in the benchmark's gram set. Benchmark docs
    * self-match; everything else matches only through genuine n-gram
    * overlap. The plan broadcasts the benchmark grams — no corpus
    * shuffle before the tiny per-doc count reduce
    * (`Dedup.decontaminate`). */
  private def decontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0)
    operators.Dedup.decontaminate(docs, bench, "doc_id", "text", n = 8)
  }

  /** Same contract through the Bloom-prefilter shape
    * (`Dedup.decontaminateBloom`): only a bounded ~fpp-sized Bloom of the
    * benchmark grams is broadcast, the exact verify join runs on the
    * prefiltered survivor stream, false positives are verified away — so
    * the output, and therefore the oracle, is IDENTICAL to
    * `decontaminate`. */
  private def decontaminateBloomQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0)
    operators.Dedup.decontaminateBloom(docs, bench, "doc_id", "text", n = 8)
  }

  private val decontaminateSql =
    """WITH wd AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text,
      |      '[ ' || chr(9) || chr(10) || chr(13) || ']+'), w -> w <> '') AS ws
      |  FROM documents),
      |dg AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(ws) - 6),
      |    i -> array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 7), ' ')))) AS gram
      |  FROM wd WHERE len(ws) >= 8),
      |bg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 50 = 0),
      |m AS (
      |  SELECT dg.doc_id, count(*) AS matched
      |  FROM dg JOIN bg ON bg.gram = dg.gram
      |  GROUP BY dg.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(m.matched, 0) AS BIGINT) AS matched_ngrams,
      |  coalesce(m.matched, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id""".stripMargin

  /** lang-ID + quality score (heuristics; composite formulas covered by
    * unit tests -> rows-only check). */
  private def langQuality(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        functions.TextAnalysis.langIdUdf(col("text")).as("lang_guess"),
        round(functions.TextAnalysis.qualityUdf(col("text")), 6).as("quality"))

  /** The langId/quality heuristics re-derived in SQL: RE2 script classes
    * for the CJK/Cyrillic/Arabic branches, per-language stopword
    * hit-rates with the alphabetical tie-break, and the four quality
    * component scores (TextAnalysis.scala semantics). */
  private val langQualitySql =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), t -> lower(t)) AS toks,
      |    len(regexp_extract_all(text, '[\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]')) AS cjk,
      |    len(regexp_extract_all(text, '[\p{Hiragana}\p{Katakana}]')) AS kana,
      |    len(regexp_extract_all(text, '\p{Hangul}')) AS hangul,
      |    len(regexp_extract_all(text, '\p{Cyrillic}')) AS cyr,
      |    len(regexp_extract_all(text, '\p{Arabic}')) AS arb,
      |    len(regexp_extract_all(text, '\p{L}')) AS letters,
      |    length(text) AS nchars,
      |    len(regexp_extract_all(text, '[^\p{L}\p{Nd}\s]')) AS punct
      |  FROM documents),
      |sc AS (
      |  SELECT *, len(toks) AS ntoks,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
      |      ['der','die','das','und','oder','von','zu','im','ist','dass','es','für','mit','als','war'], t)))::DOUBLE / len(toks) END AS s_de,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
      |      ['the','a','an','and','or','of','to','in','is','that','it','for','with','as','was'], t)))::DOUBLE / len(toks) END AS s_en,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
      |      ['el','la','los','y','o','de','a','en','es','que','lo','para','con','como','era'], t)))::DOUBLE / len(toks) END AS s_es,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
      |      ['le','la','les','et','ou','de','à','dans','est','que','il','pour','avec','comme','était'], t)))::DOUBLE / len(toks) END AS s_fr,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
      |      ['il','la','i','e','o','di','a','in','è','che','lo','per','con','come','era'], t)))::DOUBLE / len(toks) END AS s_it,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) END AS mwl,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
      |      ['the','a','an','and','or','of','to','in','is','that','it','for','with','as','was',
      |       'der','die','das','und','oder','von','zu','im','ist','dass','es','für','mit','als','war',
      |       'le','la','les','et','ou','de','à','dans','est','que','il','pour','avec','comme','était',
      |       'el','los','y','o','lo','para','con','como','era',
      |       'i','e','di','è','che','per','come'], t)))::DOUBLE / len(toks) END AS swr
      |  FROM base)
      |SELECT doc_id,
      |  CASE
      |    WHEN letters > 0 AND cjk::DOUBLE / letters > 0.3 THEN
      |      (CASE WHEN hangul * 2 > cjk THEN 'ko' WHEN kana > 0 THEN 'ja' ELSE 'zh' END)
      |    WHEN letters > 0 AND cyr::DOUBLE / letters > 0.3 THEN 'ru'
      |    WHEN letters > 0 AND arb::DOUBLE / letters > 0.3 THEN 'ar'
      |    WHEN ntoks = 0 THEN 'und'
      |    WHEN greatest(s_de, s_en, s_es, s_fr, s_it) <= 0.02 THEN 'und'
      |    WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'de'
      |    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'en'
      |    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'es'
      |    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'fr'
      |    ELSE 'it' END AS lang_guess,
      |  ROUND(CASE WHEN nchars = 0 OR ntoks = 0 THEN 0.0 ELSE
      |    0.25 * least(1.0, ntoks / 100.0)
      |  + 0.25 * (CASE WHEN punct::DOUBLE / nchars <= 0.2 THEN 1.0
      |            ELSE greatest(0.0, 1.0 - (punct::DOUBLE / nchars - 0.2) * 5) END)
      |  + 0.25 * least(1.0, swr / 0.1)
      |  + 0.25 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0
      |            WHEN mwl < 3.0 THEN mwl / 3.0
      |            ELSE greatest(0.0, 1.0 - (mwl - 10.0) / 10.0) END)
      |  END, 6) AS quality
      |FROM sc""".stripMargin

  /** MinHash-LSH near-dup detection: 20 planted duplicates must be found
    * (rows-only; the hash family is not SQL-expressible). 3-word shingles
    * keep LSH buckets sparse — this corpus's vocabulary is tiny, so
    * unigram shingles would put most docs in shared buckets and the
    * candidate set would degenerate toward the cross product. */
  private def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 100000)
    operators.Dedup.minhashLshPairs(docs.unionByName(planted), "doc_id", "text",
      numHashes = 64, bands = 16, jaccardThreshold = 0.8, shingleN = 3)
  }

  /** SimHash near-dup pairs — fully oracle-checked: the 64-bit signature
    * is pure integer arithmetic (per-term djb2 pair + tf bit votes), so
    * DuckDB re-derives signatures, 16-bit band buckets, and Hamming
    * verification exactly. */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 100000)
    operators.Dedup.simhashPairs(docs.unionByName(planted), "doc_id", "text", maxHamming = 2)
  }

  /** Signature bits 0-31 come from djb2(reverse(term)), 32-63 from
    * djb2(term) — the two unsigned halves of Dedup.simhash's packed
    * long, so no 64-bit arithmetic is needed in SQL. */
  private lazy val simhashPairsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20),
       |tf AS (
       |  SELECT doc_id, t AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |        FROM d)
       |  GROUP BY 1, 2),
       |th AS (
       |  SELECT doc_id, term, tf,
       |    ${djb2Fold(sqlBytesOf("term"))} AS u1,
       |    ${djb2Fold(sqlBytesOf("reverse(term)"))} AS u2
       |  FROM tf),
       |w AS (
       |  SELECT doc_id, bb.b,
       |    sum(tf * (2 * ((CASE WHEN bb.b < 32 THEN u2 >> bb.b
       |                         ELSE u1 >> (bb.b - 32) END) & 1) - 1)) AS wt
       |  FROM th, (SELECT unnest(range(0, 64)) AS b) bb
       |  GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN wt > 0 AND b < 32 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS lo,
       |    sum(CASE WHEN wt > 0 AND b >= 32 THEN CAST(1 AS BIGINT) << (b - 32) ELSE 0 END) AS hi
       |  FROM w GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, lo, hi,
       |    unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS bucket,
       |    unnest([0, 1, 2, 3]) AS band
       |  FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.lo AS alo, a.hi AS ahi, b.lo AS blo, b.hi AS bhi
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id,
       |  CAST(bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 2""".stripMargin

  /** Shared splitmix64 CTE generator — see [[functions.Mix64Sql]]. */
  private def mix64Ctes(prefix: String, src: String, carry: Seq[String],
                        zExpr: String): String =
    functions.Mix64Sql.ctes(prefix, src, carry, zExpr)

  /** FULL oracle for MinHash-LSH: DuckDB re-derives the whole pipeline —
    * word 3-gram shingles, 32-bit djb2 shingle hashes, the splitmix64 hash
    * family ([[mix64Ctes]] beats the wrapping-multiply problem that made
    * this rows-only through round 5), per-band signature slices, exact
    * slice-equality candidates, and the sorted-set Jaccard verify. Matches
    * `Dedup.minhashLshPairs(numHashes=64, bands=16, t=0.8, n=3, seed=42)`
    * bit-for-bit: both sides are pure integer arithmetic until the final
    * |∩|/|∪| division of exact integers (identical IEEE result). */
  private lazy val minhashPairsCtes: String =
    s"""d AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20),
       |toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM d),
       |grams AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ts) < 3 THEN ts
       |         ELSE list_transform(range(1, len(ts) - 1),
       |              i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]) END AS gs
       |  FROM toks),
       |x AS (
       |  SELECT DISTINCT doc_id, CAST(${djb2Fold(sqlBytesOf("g"))} AS HUGEINT) AS x
       |  FROM (SELECT doc_id, unnest(gs) AS g FROM grams)),
       |seeds0 AS (SELECT unnest(range(0, 64)) AS i),
       |${mix64Ctes("sm", "seeds0", Seq("i"), "42 + i")},
       |seeds AS (SELECT i, z AS m FROM sm6),
       |hx0 AS (SELECT x.doc_id, s.i, xor(x.x, s.m) AS v FROM x, seeds s),
       |${mix64Ctes("hh", "hx0", Seq("doc_id", "i"), "v")},
       |sig AS (SELECT doc_id, i, min(z) AS sv FROM hh6 GROUP BY 1, 2),
       |slices AS (SELECT doc_id, i // 4 AS band, list(sv ORDER BY i) AS slice
       |           FROM sig GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM slices a JOIN slices b
       |    ON a.band = b.band AND a.slice = b.slice AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM x GROUP BY 1),
       |inter AS (
       |  SELECT c.a_id, c.b_id, count(*) AS ninter
       |  FROM cand c
       |  JOIN x xa ON xa.doc_id = c.a_id
       |  JOIN x xb ON xb.doc_id = c.b_id AND xb.x = xa.x
       |  GROUP BY 1, 2),
       |mh_pairs AS (
       |  SELECT i.a_id, i.b_id,
       |    CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.a_id
       |  JOIN sizes sb ON sb.doc_id = i.b_id
       |  WHERE CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) >= 0.8)""".stripMargin

  private lazy val minhashLshSql: String =
    s"WITH $minhashPairsCtes\nSELECT a_id, b_id, jaccard FROM mh_pairs"

  /** LSH catch-rate vs the S-curve, FULL oracle — theory meets
    * practice: docs 0–9 are planted as near-dups with k = 1..10 extra
    * unique tokens appended (monotonically decreasing Jaccard), the
    * banded LSH (b=16, r=4) runs over base + plants, and each plant
    * reports its EXACT pair Jaccard, whether any band caught it, and
    * the closed-form catch probability 1−(1−s^4)^16 at that Jaccard —
    * the `lsh_plan` curve evaluated on real pairs. High-s plants must
    * be caught (p≈1), the low tail may drop exactly where the curve
    * says. Everything but the probability is integer-exact; the
    * probability is float4 (pow). */
  private def lshCatchRateQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") < 10)
    val extras = (1 to 10).map(k =>
      (0 until k).map(j => s"zx${k}q$j").mkString(" "))
    val extraUdf = udf((id: Long) => extras((id % 10).toInt))
    val plants = base.select((col("doc_id") + 400000L).as("doc_id"),
      concat(col("text"), lit(" "), extraUdf(col("doc_id"))).as("text"))
    val all = docs.unionByName(plants)
    val pairs = operators.Dedup.minhashLshPairs(all, "doc_id", "text",
      numHashes = 64, bands = 16, jaccardThreshold = 0.0, shingleN = 3)
      .filter(col("a_id") < 10 && col("b_id") === col("a_id") + 400000L)
      .select(col("a_id").as("doc_id"), lit(true).as("caught"),
        col("jaccard"))
    val shUdf = udf((t: String) => operators.Dedup.shingleHashes(t, 3))
    val jacUdf = udf((a: Seq[Long], b: Seq[Long]) =>
      operators.Dedup.sortedJaccard(a.toArray, b.toArray))
    val truth = base.select(col("doc_id"), shUdf(col("text")).as("sa"))
      .join(plants.select((col("doc_id") - 400000L).as("doc_id"),
        shUdf(col("text")).as("sb")), "doc_id")
      .withColumn("jaccard_exact", jacUdf(col("sa"), col("sb")))
      .select(col("doc_id"), col("jaccard_exact"))
    truth.join(pairs.select(col("doc_id"), col("caught")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("jaccard_exact"),
        coalesce(col("caught"), lit(false)).as("caught"),
        (lit(1.0) - pow(lit(1.0) - pow(col("jaccard_exact"), lit(4.0)), lit(16.0)))
          .cast("float").as("p_catch"))
  }

  private lazy val lshCatchRateSql =
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 400000,
       |    text || ' ' || list_aggregate(list_transform(
       |      range(0, CAST(doc_id % 10 AS INT) + 1),
       |      j -> 'zx' || CAST(doc_id % 10 + 1 AS VARCHAR) || 'q' || CAST(j AS VARCHAR)),
       |      'string_agg', ' ')
       |  FROM documents WHERE doc_id < 10),
       |toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM d),
       |grams AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ts) < 3 THEN ts
       |         ELSE list_transform(range(1, len(ts) - 1),
       |              i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]) END AS gs
       |  FROM toks),
       |x AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, CAST(${djb2Fold(sqlBytesOf("g"))} AS HUGEINT) AS x
       |  FROM (SELECT doc_id, unnest(gs) AS g FROM grams)),
       |seeds0 AS (SELECT unnest(range(0, 64)) AS i),
       |${mix64Ctes("lc", "seeds0", Seq("i"), "42 + i")},
       |seeds AS (SELECT i, z AS m FROM lc6),
       |hx0 AS (SELECT x.doc_id, s.i, xor(x.x, s.m) AS v FROM x, seeds s),
       |${mix64Ctes("lh", "hx0", Seq("doc_id", "i"), "v")},
       |sig AS (SELECT doc_id, i, min(z) AS sv FROM lh6 GROUP BY 1, 2),
       |slices AS (SELECT doc_id, i // 4 AS band, list(sv ORDER BY i) AS slice
       |           FROM sig GROUP BY 1, 2),
       |caught AS (
       |  SELECT DISTINCT a.doc_id AS doc_id
       |  FROM slices a JOIN slices b
       |    ON a.band = b.band AND a.slice = b.slice
       |   AND b.doc_id = a.doc_id + 400000
       |  WHERE a.doc_id < 10),
       |sizes AS (SELECT doc_id, count(*) AS n FROM x GROUP BY 1),
       |inter AS (
       |  SELECT xa.doc_id, count(*) AS ninter
       |  FROM x xa JOIN x xb ON xb.doc_id = xa.doc_id + 400000 AND xb.x = xa.x
       |  WHERE xa.doc_id < 10
       |  GROUP BY 1),
       |jac AS (
       |  SELECT i.doc_id,
       |    CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) AS jaccard_exact
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.doc_id
       |  JOIN sizes sb ON sb.doc_id = i.doc_id + 400000)
       |SELECT j.doc_id, j.jaccard_exact,
       |  (c.doc_id IS NOT NULL) AS caught,
       |  CAST(1.0 - pow(1.0 - pow(j.jaccard_exact, 4.0), 16.0) AS REAL) AS p_catch
       |FROM jac j LEFT JOIN caught c ON c.doc_id = j.doc_id""".stripMargin

  /** Incremental ingestion dedup, FULL oracle — a new batch (the base
    * docs under id 100, plus planted EXACT copies and planted
    * appended-token NEAR copies of catalog docs) checked against the
    * persisted-corpus CATALOG (docs with id ≥ 100): exact verbatim
    * matches via fingerprint join + text confirm, near matches via the
    * banded-LSH join against the catalog's slices with exact-Jaccard
    * verify and a deterministic best-match pick (max jaccard, tie →
    * smallest catalog id). The decision table is re-derived end to end
    * in SQL — splitmix64 chains, band slices, set intersection — one
    * row per batch doc. The shape never plans batch × corpus. */
  private def incrementalDedupQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents").select(col("doc_id"), col("text"))
    val catalog = docs.filter(col("doc_id") >= 100)
    val batch = docs.filter(col("doc_id") < 100)
      .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 110)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") >= 110 && col("doc_id") < 120)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(col("text"), lit(" qq7 qq7 qq7")).as("text")))
    operators.Dedup.incrementalDedup(catalog, batch, "doc_id", "text",
      numHashes = 64, bands = 16, jaccardThreshold = 0.8, shingleN = 3)
  }

  private lazy val incrementalDedupCtes =
    s"""cat AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= 100),
       |nw AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 100
       |  UNION ALL
       |  SELECT doc_id + 200000, text FROM documents
       |  WHERE doc_id >= 100 AND doc_id < 110
       |  UNION ALL
       |  SELECT doc_id + 300000, text || ' qq7 qq7 qq7' FROM documents
       |  WHERE doc_id >= 110 AND doc_id < 120),
       |d AS MATERIALIZED (
       |  SELECT 'c' AS side, doc_id, text FROM cat
       |  UNION ALL SELECT 'n', doc_id, text FROM nw),
       |toks AS (
       |  SELECT side, doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM d),
       |grams AS (
       |  SELECT side, doc_id,
       |    CASE WHEN len(ts) < 3 THEN ts
       |         ELSE list_transform(range(1, len(ts) - 1),
       |              i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]) END AS gs
       |  FROM toks),
       |x AS MATERIALIZED (
       |  SELECT DISTINCT side, doc_id, CAST(${djb2Fold(sqlBytesOf("g"))} AS HUGEINT) AS x
       |  FROM (SELECT side, doc_id, unnest(gs) AS g FROM grams)),
       |seeds0 AS (SELECT unnest(range(0, 64)) AS i),
       |${mix64Ctes("im", "seeds0", Seq("i"), "42 + i")},
       |seeds AS (SELECT i, z AS m FROM im6),
       |ix0 AS (SELECT x.side, x.doc_id, s.i, xor(x.x, s.m) AS v FROM x, seeds s),
       |${mix64Ctes("ih", "ix0", Seq("side", "doc_id", "i"), "v")},
       |sig AS (SELECT side, doc_id, i, min(z) AS sv FROM ih6 GROUP BY 1, 2, 3),
       |slices AS MATERIALIZED (
       |  SELECT side, doc_id, i // 4 AS band, list(sv ORDER BY i) AS slice
       |  FROM sig GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS cat_id
       |  FROM slices n JOIN slices c
       |    ON n.side = 'n' AND c.side = 'c'
       |   AND n.band = c.band AND n.slice = c.slice),
       |sizes AS (SELECT side, doc_id, count(*) AS n FROM x GROUP BY 1, 2),
       |inter AS (
       |  SELECT c.new_id, c.cat_id, count(*) AS ninter
       |  FROM cand c
       |  JOIN x xa ON xa.side = 'n' AND xa.doc_id = c.new_id
       |  JOIN x xb ON xb.side = 'c' AND xb.doc_id = c.cat_id AND xb.x = xa.x
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT i.new_id, i.cat_id,
       |    CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON sa.side = 'n' AND sa.doc_id = i.new_id
       |  JOIN sizes sb ON sb.side = 'c' AND sb.doc_id = i.cat_id
       |  WHERE CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) >= 0.8),
       |best AS (
       |  SELECT new_id, cat_id AS near_of, jaccard,
       |    row_number() OVER (PARTITION BY new_id
       |                       ORDER BY jaccard DESC, cat_id) AS rn
       |  FROM jac),
       |ex AS (
       |  SELECT n.doc_id AS new_id, count(c.text) > 0 AS exact_dup
       |  FROM nw n LEFT JOIN (SELECT DISTINCT text FROM cat) c ON c.text = n.text
       |  GROUP BY 1),
       |decisions AS (
       |  SELECT n.doc_id, n.text, coalesce(e.exact_dup, false) AS exact_dup,
       |    b.near_of, b.jaccard
       |  FROM nw n
       |  LEFT JOIN ex e ON e.new_id = n.doc_id
       |  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = n.doc_id)""".stripMargin

  private lazy val incrementalDedupSql =
    s"""WITH $incrementalDedupCtes
       |SELECT doc_id, exact_dup, near_of, jaccard FROM decisions""".stripMargin

  /** MinHash → pairs → connected components → keeper summary, the
    * END-TO-END near-dup curation pipeline at the corpus level (the
    * 100 TB shape: banded buckets, never all-pairs; distributed
    * min-label propagation; one row per surviving group). FULL oracle:
    * the pair CTEs are the bit-exact [[minhashPairsCtes]]; components
    * are re-derived by a recursive reachability CTE. */
  private def dedupPipelineQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 100000)
    val all = docs.unionByName(planted)
    val pairs = operators.Dedup.minhashLshPairs(all, "doc_id", "text",
      numHashes = 64, bands = 16, jaccardThreshold = 0.8, shingleN = 3)
    operators.Dedup.dupGroups(all, "doc_id", pairs)
      .groupBy("component").agg(count(lit(1)).as("n_members"))
  }

  private lazy val dedupPipelineSql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |e AS (SELECT a_id AS src, b_id AS dst FROM mh_pairs
       |      UNION ALL SELECT b_id AS src, a_id AS dst FROM mh_pairs),
       |reach AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst),
       |mm AS (SELECT src, min(dst) AS mn FROM reach GROUP BY src),
       |comp AS (
       |  SELECT da.doc_id,
       |    CAST(coalesce(least(mm.mn, da.doc_id), da.doc_id) AS BIGINT) AS component
       |  FROM (SELECT doc_id FROM d) da LEFT JOIN mm ON mm.src = da.doc_id)
       |SELECT component, count(*) AS n_members FROM comp GROUP BY 1""".stripMargin

  /** Multimodal plumbing: text bytes as media payload, stub byte-histogram
    * features; the 'a'/'e'/space ratios are exact in both engines. */
  private def multimodalHist(s: SparkSession, dir: String): DataFrame = {
    val media = operators.Multimodal.asMedia(
      Tables.read(s, dir, "documents").filter(length(col("text")) > 0), "doc_id", "text")
    operators.Multimodal.extractFeatures(media)
      .select(col("media_id").as("doc_id"),
        col("features").getItem(97).cast("double").as("f_a"),
        col("features").getItem(101).cast("double").as("f_e"),
        col("features").getItem(32).cast("double").as("f_space"))
  }

  private val multimodalHistSql =
    """SELECT doc_id,
      |  CAST((length(text) - length(replace(text, 'a', ''))) / CAST(length(text) AS REAL) AS REAL)::DOUBLE AS f_a,
      |  CAST((length(text) - length(replace(text, 'e', ''))) / CAST(length(text) AS REAL) AS REAL)::DOUBLE AS f_e,
      |  CAST((length(text) - length(replace(text, ' ', ''))) / CAST(length(text) AS REAL) AS REAL)::DOUBLE AS f_space
      |FROM documents WHERE length(text) > 0""".stripMargin

  /** REAL image decode, FULL oracle: embeddings quantize to 8×8 grayscale
    * pixels, Spark round-trips them through ACTUAL PNG bytes
    * (ImageIO encode → `Multimodal.decodeImage`) and fingerprints the
    * raster with the integer average-hash. PNG is lossless, so the oracle
    * re-derives the identical pixels/aHash from the same quantization in
    * pure integer SQL — any decoder defect breaks the hash match. */
  private def imageDecode(s: SparkSession, dir: String): DataFrame = {
    val pngUdf = udf((v: Seq[Float]) =>
      operators.Multimodal.encodePng8x8(v.map(x =>
        math.max(0L, math.min(255L,
          math.floor((x.toDouble + 1.0) * 127.5 + 0.5).toLong)).toInt).toArray))
    val media = Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), pngUdf(col("embedding")).as("payload"))
    operators.Multimodal.decodeImages(media, includePixels = false)
      .select(col("vec_id"),
        col("img_width").as("width"), col("img_height").as("height"),
        col("img_ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo"),
        shiftrightunsigned(col("img_ahash"), 32).as("ahash_hi"))
  }

  private val imageDecodeSql =
    """WITH px AS (
      |  SELECT vec_id, list_transform(embedding, x ->
      |    greatest(0, least(255, CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5 + 0.5) AS BIGINT)))) AS p
      |  FROM embeddings),
      |t AS (SELECT vec_id, p, list_reduce(p, (a, b) -> a + b) AS tot FROM px)
      |SELECT vec_id, CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
      |  list_reduce(list_transform(range(1, 33),
      |    i -> CASE WHEN p[i] * 64 > tot THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END),
      |    (a, b) -> a + b) AS ahash_lo,
      |  list_reduce(list_transform(range(33, 65),
      |    i -> CASE WHEN p[i] * 64 > tot THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE CAST(0 AS BIGINT) END),
      |    (a, b) -> a + b) AS ahash_hi
      |FROM t""".stripMargin

  /** Gopher quality gate, FULL oracle — the published rule-set (Rae et
    * al. 2021) as an ALL-INTEGER decision table: word-count bounds,
    * mean-word-length bounds as cross-multiplications (3n ≤ Σlen ≤ 10n
    * — no division anywhere), bullet/ellipsis line-fraction bounds
    * (10·b ≤ 9·L, 10·e ≤ 3·L), ≥ 2 distinct canonical stopwords. Every
    * count and every gate is integer/boolean, so the whole table is
    * hash-exact. One scan, shuffle-free. */
  private def gopherRulesQ(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), functions.TextAnalysis.gopherUdf(col("text")).as("g"))
      .select(col("doc_id"),
        col("g.nWords").cast("long").as("n_words"),
        col("g.sumWordChars").as("sum_word_chars"),
        col("g.nLines").cast("long").as("n_lines"),
        col("g.bulletLines").cast("long").as("bullet_lines"),
        col("g.ellipsisLines").cast("long").as("ellipsis_lines"),
        col("g.nStop").cast("long").as("n_stop"))
      .withColumn("keep",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("sum_word_chars") >= col("n_words") * 3 &&
          col("sum_word_chars") <= col("n_words") * 10 &&
          col("bullet_lines") * 10 <= col("n_lines") * 9 &&
          col("ellipsis_lines") * 10 <= col("n_lines") * 3 &&
          col("n_stop") >= 2)

  private val gopherRulesSql =
    """WITH w AS (
      |  SELECT doc_id,
      |    regexp_extract_all(text, '[^ \t\n\r]+') AS ws,
      |    string_split(text, chr(10)) AS ls
      |  FROM documents),
      |st AS (
      |  SELECT doc_id,
      |    len(ws) AS n_words,
      |    CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT)
      |      AS sum_word_chars,
      |    len(ls) AS n_lines,
      |    len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %')) AS bullet_lines,
      |    len(list_filter(ls, l -> l LIKE '%...')) AS ellipsis_lines,
      |    len(list_distinct(list_filter(list_transform(ws, x -> lower(x)),
      |      x -> x IN ('the','be','to','of','and','that','have','with')))) AS n_stop
      |  FROM w)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, sum_word_chars,
      |  CAST(n_lines AS BIGINT) AS n_lines,
      |  CAST(bullet_lines AS BIGINT) AS bullet_lines,
      |  CAST(ellipsis_lines AS BIGINT) AS ellipsis_lines,
      |  CAST(n_stop AS BIGINT) AS n_stop,
      |  (n_words >= 50 AND n_words <= 100000
      |   AND sum_word_chars >= n_words * 3 AND sum_word_chars <= n_words * 10
      |   AND bullet_lines * 10 <= n_lines * 9
      |   AND ellipsis_lines * 10 <= n_lines * 3
      |   AND n_stop >= 2) AS keep
      |FROM st""".stripMargin

  /** HTML → text extraction, FULL oracle — the WET-style curation step
    * upstream of every text filter: each document is wrapped in a
    * deterministic HTML shell (script + style + comment + entities) and
    * `TextAnalysis.Markup.strip` recovers the text — block removal
    * (DOTALL non-greedy), tag strip, the five core entity decodes in
    * the amp-last order, whitespace collapse. ALL-NATIVE regexp chain,
    * RE2-compatible patterns, replayed with 'g' flags in DuckDB. */
  private def stripMarkupQ(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("<html><head><script type=\"x\">var q=1;</script>" +
        "<style>p{color:red}</style></head><body><h1>T&amp;C</h1><p>"),
      col("text"), lit("</p><!-- footer --></body></html>"))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), functions.TextAnalysis.Markup.strip(raw).as("clean_text"))
      .withColumn("n_chars", length(col("clean_text")).cast("long"))
  }

  private val stripMarkupSql =
    """WITH raw AS (
      |  SELECT doc_id,
      |    '<html><head><script type="x">var q=1;</script><style>p{color:red}</style></head><body><h1>T&amp;C</h1><p>'
      |      || text || '</p><!-- footer --></body></html>' AS h
      |  FROM documents),
      |st AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
      |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
      |      '(?s)<!--.*?-->', ' ', 'g'),
      |      '<[^>]+>', ' ', 'g') AS s1
      |  FROM raw),
      |de AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(s1,
      |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
      |      '&#39;', '''', 'g'), '&amp;', '&', 'g') AS s2
      |  FROM st)
      |SELECT doc_id,
      |  trim(regexp_replace(s2, '[ \t\r\n]+', ' ', 'g')) AS clean_text,
      |  CAST(length(trim(regexp_replace(s2, '[ \t\r\n]+', ' ', 'g'))) AS BIGINT) AS n_chars
      |FROM de""".stripMargin

  /** REAL image resize, FULL oracle — the brief's explicit multimodal
    * resize step: 16×16 grayscale PNGs (pixels a closed form of the
    * embedding) round-trip through ImageIO and are block-averaged to
    * the 8×8 grid (`gridAverage8x8` — integer mean per 2×2 cell), then
    * fingerprinted; the oracle re-derives the 256 source pixels, every
    * 2×2 integer mean, the resized aHash halves, and the cell sum. Any
    * resize arithmetic or decode defect breaks the hash match. */
  private def imageResizeQ(s: SparkSession, dir: String): DataFrame = {
    val pngUdf = udf((id: Long, v: Seq[Float]) => {
      val px = Array.tabulate(256) { i =>
        val base = math.max(0L, math.min(255L,
          math.floor((v(i % 64).toDouble + 1.0) * 127.5 + 0.5).toLong)).toInt
        math.min(255, base + (i / 64) * 3)
      }
      operators.Multimodal.encodePngGray(16, 16, px)
    })
    val media = Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), pngUdf(col("vec_id"), col("embedding")).as("payload"))
    val resized = udf((px: Seq[Int]) => {
      val cells = operators.Multimodal.gridAverage8x8(16, 16, px.toArray)
      (operators.Multimodal.aHash64(cells), cells.map(_.toLong).sum)
    })
    operators.Multimodal.decodeImages(media)
      .select(col("vec_id"), col("img_width"), col("img_height"),
        resized(col("img_pixels")).as("r"))
      .select(col("vec_id"),
        col("img_width").as("width"), col("img_height").as("height"),
        col("r._1").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo"),
        shiftrightunsigned(col("r._1"), 32).as("ahash_hi"),
        col("r._2").as("cell_sum"))
  }

  private val imageResizeSql =
    """WITH px AS (
      |  SELECT vec_id, list_transform(range(0, 256), i ->
      |    least(255,
      |      greatest(0, least(255,
      |        CAST(floor((CAST(embedding[CAST(i % 64 AS INT) + 1] AS DOUBLE) + 1.0) * 127.5 + 0.5) AS BIGINT)))
      |      + (i // 64) * 3)) AS p
      |  FROM embeddings),
      |cells AS (
      |  SELECT vec_id, list_transform(range(0, 64), g ->
      |    (p[CAST((g // 8) * 32 + (g % 8) * 2 AS INT) + 1]
      |     + p[CAST((g // 8) * 32 + (g % 8) * 2 AS INT) + 2]
      |     + p[CAST((g // 8) * 32 + (g % 8) * 2 AS INT) + 17]
      |     + p[CAST((g // 8) * 32 + (g % 8) * 2 AS INT) + 18]) // 4) AS c
      |  FROM px),
      |t AS (SELECT vec_id, c, list_reduce(c, (a, b) -> a + b) AS tot FROM cells)
      |SELECT vec_id, CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
      |  list_reduce(list_transform(range(1, 33),
      |    i -> CASE WHEN c[i] * 64 > tot THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END),
      |    (a, b) -> a + b) AS ahash_lo,
      |  list_reduce(list_transform(range(33, 65),
      |    i -> CASE WHEN c[i] * 64 > tot THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE CAST(0 AS BIGINT) END),
      |    (a, b) -> a + b) AS ahash_hi,
      |  CAST(tot AS BIGINT) AS cell_sum
      |FROM t""".stripMargin

  /** DCT perceptual hash (pHash), FULL oracle — the second image
    * fingerprint family next to aHash: integer-scaled 2-D DCT-II on the
    * decoded 8×8 raster (real PNG round-trip like `image_decode`), low
    * 4×4 block, division-free mean threshold. The DCT basis constants
    * are computed once in Scala and inlined verbatim into the SQL, so
    * no libm cos ever crosses the engine boundary — hash and DC are
    * bit-exact. */
  private def imagePhashQ(s: SparkSession, dir: String): DataFrame = {
    val pngUdf = udf((v: Seq[Float]) =>
      operators.Multimodal.encodePng8x8(v.map(x =>
        math.max(0L, math.min(255L,
          math.floor((x.toDouble + 1.0) * 127.5 + 0.5).toLong)).toInt).toArray))
    val media = Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), pngUdf(col("embedding")).as("payload"))
    val ph = udf((px: Seq[Int]) => {
      val (h, dc) = operators.Multimodal.phash15(px.toArray)
      (h.toLong, dc)
    })
    operators.Multimodal.decodeImages(media)
      .select(col("vec_id"), ph(col("img_pixels")).as("p"))
      .select(col("vec_id"), col("p._1").as("phash"), col("p._2").as("dc"))
  }

  private lazy val imagePhashSql = {
    val ctab = (for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u, $x, ${operators.Multimodal.DctC(u)(x)})").mkString(", ")
    s"""WITH px AS (
       |  SELECT vec_id, list_transform(embedding, x ->
       |    greatest(0, least(255, CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5 + 0.5) AS BIGINT)))) AS p
       |  FROM embeddings),
       |ctab(u, x, c) AS (SELECT * FROM (VALUES $ctab)),
       |pe AS (
       |  SELECT vec_id, i - 1 AS idx, p[i] AS pv
       |  FROM (SELECT vec_id, p, unnest(range(1, 65)) AS i FROM px)),
       |f AS (
       |  SELECT pe.vec_id, cu.u AS u, cv.u AS v, sum(pe.pv * cu.c * cv.c) AS fv
       |  FROM pe
       |  JOIN ctab cu ON cu.x = pe.idx % 8 AND cu.u < 4
       |  JOIN ctab cv ON cv.x = pe.idx // 8 AND cv.u < 4
       |  GROUP BY 1, 2, 3),
       |tot AS (
       |  SELECT vec_id,
       |    sum(CASE WHEN u + v > 0 THEN fv ELSE 0 END) AS s,
       |    max(CASE WHEN u = 0 AND v = 0 THEN fv END) AS dc
       |  FROM f GROUP BY 1)
       |SELECT f.vec_id,
       |  CAST(sum(CASE WHEN f.v * 4 + f.u > 0 AND f.fv * 15 > t.s
       |           THEN CAST(1 AS BIGINT) << (f.v * 4 + f.u - 1)
       |           ELSE 0 END) AS BIGINT) AS phash,
       |  CAST(min(t.dc) AS BIGINT) AS dc
       |FROM f JOIN tot t ON t.vec_id = f.vec_id
       |GROUP BY 1""".stripMargin
  }

  /** Image near-duplicate detection, FULL oracle — the multimodal dedup
    * step: perceptual aHash fingerprints from REAL PNG round-trips
    * (`Multimodal.decodeImages`, as `image_decode`), paired by the
    * generic 4×16-bit banded Hamming join (`Dedup.hammingBandPairs` —
    * one shuffle on the band key, never all-pairs). Planted variants
    * replace three embedding dims with constants (pure replacement, no
    * float arithmetic, so the oracle mirrors it exactly); DuckDB
    * re-derives pixels, aHash halves, band buckets, and the Hamming
    * verify in pure integer SQL. */
  private def imageNeardupQ(s: SparkSession, dir: String): DataFrame = {
    val pngUdf = udf((v: Seq[Float]) =>
      operators.Multimodal.encodePng8x8(v.map(x =>
        math.max(0L, math.min(255L,
          math.floor((x.toDouble + 1.0) * 127.5 + 0.5).toLong)).toInt).toArray))
    val base = Tables.read(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "CASE WHEN i = 0 THEN CAST(0.91 AS FLOAT) " +
          "WHEN i = 1 THEN CAST(-0.42 AS FLOAT) " +
          "WHEN i = 2 THEN CAST(0.13 AS FLOAT) ELSE x END)").as("embedding"))
    val media = base.unionByName(planted)
      .select(col("vec_id"), pngUdf(col("embedding")).as("payload"))
    val decoded = operators.Multimodal.decodeImages(media, includePixels = false)
      .select(col("vec_id"), col("img_ahash"))
    operators.Dedup.hammingBandPairs(decoded, "vec_id", "img_ahash", maxHamming = 8)
  }

  private val imageNeardupSql =
    """WITH e AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000,
      |    list_transform(range(1, len(embedding) + 1), i ->
      |      CASE WHEN i = 1 THEN CAST(CAST(0.91 AS DOUBLE) AS REAL)
      |           WHEN i = 2 THEN CAST(CAST(-0.42 AS DOUBLE) AS REAL)
      |           WHEN i = 3 THEN CAST(CAST(0.13 AS DOUBLE) AS REAL)
      |           ELSE embedding[i] END) AS embedding
      |  FROM embeddings WHERE vec_id < 50),
      |px AS (
      |  SELECT vec_id, list_transform(embedding, x ->
      |    greatest(0, least(255, CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5 + 0.5) AS BIGINT)))) AS p
      |  FROM e),
      |t AS (SELECT vec_id, p, list_reduce(p, (a, b) -> a + b) AS tot FROM px),
      |sig AS (
      |  SELECT vec_id,
      |    list_reduce(list_transform(range(1, 33),
      |      i -> CASE WHEN p[i] * 64 > tot THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END),
      |      (a, b) -> a + b) AS lo,
      |    list_reduce(list_transform(range(33, 65),
      |      i -> CASE WHEN p[i] * 64 > tot THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE CAST(0 AS BIGINT) END),
      |      (a, b) -> a + b) AS hi
      |  FROM t),
      |bands AS (
      |  SELECT vec_id, lo, hi,
      |    unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS bucket,
      |    unnest([0, 1, 2, 3]) AS band
      |  FROM sig),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
      |    a.lo AS alo, a.hi AS ahi, b.lo AS blo, b.hi AS bhi
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT a_id, b_id,
      |  CAST(bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) AS INT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 8""".stripMargin

  /** REAL audio metadata decode, FULL oracle: per document a real
    * RIFF/WAVE PCM16 payload is synthesized (rate/channels/frames are
    * closed forms of doc_id and n_chars), Spark round-trips it through
    * actual WAV bytes (`Multimodal.encodeWavPcm16` →
    * `Multimodal.decodeWavMeta`'s chunk walk), and the oracle re-derives
    * the same fields from the closed forms — any header-math or parse
    * defect breaks the hash match. The audio BRANCH is now real the way
    * `image_decode` is; only codec-level sample decode (MP3 et al.)
    * stays out of scope. */
  private def audioMeta(s: SparkSession, dir: String): DataFrame = {
    val wavUdf = udf((docId: Long, nChars: Long) => {
      val rate = Array(8000, 16000, 22050, 44100)((docId % 4).toInt)
      val channels = 1 + (docId % 2).toInt
      val frames = 50 + (nChars % 200).toInt
      val samples = new Array[Short](frames * channels)
      var i = 0
      while (i < samples.length) {
        samples(i) = (((docId * 31 + i * 7) % 65536) - 32768).toShort
        i += 1
      }
      operators.Multimodal.encodeWavPcm16(samples, rate, channels)
    })
    val media = Tables.read(s, dir, "documents")
      .select(col("doc_id"), wavUdf(col("doc_id"), col("n_chars")).as("payload"))
    operators.Multimodal.decodeAudioMeta(media)
      .select(col("doc_id"),
        col("audio_channels").as("channels"),
        col("audio_sample_rate").as("sample_rate"),
        col("audio_bits").as("bits"),
        col("audio_frames").as("n_frames"),
        col("audio_duration_ms").as("duration_ms"))
  }

  private val audioMetaSql =
    """SELECT doc_id,
      |  CAST(1 + doc_id % 2 AS INT) AS channels,
      |  CAST([8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1] AS INT) AS sample_rate,
      |  CAST(16 AS INT) AS bits,
      |  CAST(50 + n_chars % 200 AS BIGINT) AS n_frames,
      |  ((50 + n_chars % 200) * 1000)
      |    // ([8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1]) AS duration_ms
      |FROM documents""".stripMargin

  /** MPEG audio (MP3) frame-header metadata, FULL oracle — the last
    * audio container gap: deterministic MPEG-1 Layer III streams are
    * hand-constructed from the published ISO 11172-3 header layout
    * (bitrate/samplerate indices closed forms of doc_id), and
    * `Multimodal.decodeMp3Meta` sync-scans, reads the bit fields,
    * computes the 144·bitrate/rate frame length, and WALKS the frames —
    * the real indexer metadata pass. The oracle re-derives every field
    * (incl. the frame-length integer division and the 1152-sample
    * duration) from the same closed forms and tables. Codec-level
    * sample decode remains the documented out-of-scope boundary. */
  private def audioMp3Meta(s: SparkSession, dir: String): DataFrame = {
    val mp3Udf = udf((docId: Long, nChars: Long) =>
      operators.Multimodal.encodeMp3Frames(
        bitrateIdx = 1 + (docId % 14).toInt,
        srIdx = (docId % 3).toInt,
        nFrames = 4 + (nChars % 20).toInt))
    val metaUdf = udf((p: Array[Byte]) => operators.Multimodal.decodeMp3Meta(p))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mp3Udf(col("doc_id"), col("n_chars")).as("payload"))
      .select(col("doc_id"), metaUdf(col("payload")).as("m"))
      .select(col("doc_id"),
        col("m.bitrateKbps").as("bitrate_kbps"),
        col("m.sampleRate").as("sample_rate"),
        col("m.frameLen").as("frame_len"),
        col("m.nFrames").as("n_frames"),
        col("m.durationMs").as("duration_ms"))
  }

  private val audioMp3MetaSql =
    """SELECT doc_id,
      |  CAST([32,40,48,56,64,80,96,112,128,160,192,224,256,320][CAST(doc_id % 14 AS INT) + 1] AS INT) AS bitrate_kbps,
      |  CAST([44100,48000,32000][CAST(doc_id % 3 AS INT) + 1] AS INT) AS sample_rate,
      |  CAST((144 * [32,40,48,56,64,80,96,112,128,160,192,224,256,320][CAST(doc_id % 14 AS INT) + 1] * 1000)
      |       // [44100,48000,32000][CAST(doc_id % 3 AS INT) + 1] AS INT) AS frame_len,
      |  CAST(4 + n_chars % 20 AS INT) AS n_frames,
      |  ((4 + n_chars % 20) * 1152 * 1000)
      |    // [44100,48000,32000][CAST(doc_id % 3 AS INT) + 1] AS duration_ms
      |FROM documents""".stripMargin

  /** REAL PCM16 sample decode, FULL oracle — the waveform step past
    * [[audioMeta]]'s header parse: the same closed-form WAV payloads are
    * round-tripped through `Multimodal.encodeWavPcm16` →
    * `decodeWavSamples` (chunk walk + little-endian int16 reads), and the
    * waveform stats (peak, per-channel zero-crossings, exact int64
    * energy, float RMS) are re-derived by the oracle from the closed-form
    * sample values — any byte-order, offset, or stride defect breaks the
    * hash match. Audio features are now real the way `image_decode`'s
    * aHash is; only compressed-codec decode (MP3 et al.) stays out of
    * scope. */
  private def audioSamples(s: SparkSession, dir: String): DataFrame = {
    val wavUdf = udf((docId: Long, nChars: Long) => {
      val rate = Array(8000, 16000, 22050, 44100)((docId % 4).toInt)
      val channels = 1 + (docId % 2).toInt
      val frames = 50 + (nChars % 200).toInt
      val samples = new Array[Short](frames * channels)
      var i = 0
      while (i < samples.length) {
        samples(i) = (((docId * 31 + i * 7) % 65536) - 32768).toShort
        i += 1
      }
      operators.Multimodal.encodeWavPcm16(samples, rate, channels)
    })
    val media = Tables.read(s, dir, "documents")
      .select(col("doc_id"), wavUdf(col("doc_id"), col("n_chars")).as("payload"))
    operators.Multimodal.decodeAudioFeatures(media)
      .select(col("doc_id"),
        col("audio_n_samples").as("n_samples"),
        col("audio_peak").as("peak"),
        col("audio_zero_crossings").as("zero_crossings"),
        col("audio_energy").as("energy"),
        col("audio_rms").as("rms"))
  }

  private val audioSamplesSql =
    """WITH base AS (
      |  SELECT doc_id,
      |    CAST(1 + doc_id % 2 AS BIGINT) AS ch,
      |    (50 + n_chars % 200) * (1 + doc_id % 2) AS n
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, ch, n,
      |    list_transform(range(0, n), i -> (doc_id * 31 + i * 7) % 65536 - 32768) AS xs
      |  FROM base),
      |agg AS (
      |  SELECT doc_id, ch, n, xs,
      |    CAST(list_sum(list_transform(xs, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS energy
      |  FROM s)
      |SELECT doc_id,
      |  CAST(n AS INT) AS n_samples,
      |  CAST(list_max(list_transform(xs, x -> abs(x))) AS INT) AS peak,
      |  CAST(len(list_filter(range(0, n),
      |    i -> i >= ch AND ((xs[CAST(i - ch AS INT) + 1] < 0) <> (xs[CAST(i AS INT) + 1] < 0)))) AS BIGINT)
      |    AS zero_crossings,
      |  energy,
      |  CAST(sqrt(CAST(energy AS DOUBLE) / n) AS REAL) AS rms
      |FROM agg""".stripMargin

  /** Audio near-duplicate detection, FULL oracle — the waveform analog
    * of `image_neardup`: closed-form PCM16 waveforms (4 variants per
    * base signal; variants v=1..3 nudge every 131st sample by a small
    * closed-form delta) are round-tripped through the REAL WAV codec
    * (`Multimodal.encodeWavPcm16` → `decodeWavSamples`), fingerprinted
    * by the energy-delta signature (`Multimodal.audioFingerprint` —
    * 64 frames, bit f = E[f] > E[f+1], all-integer), and paired by the
    * generic 4×16-bit banded Hamming join (`Dedup.hammingBandPairs` —
    * one shuffle on the band key, never all-pairs). DuckDB re-derives
    * samples, frame energies, signature bits, band buckets, and the
    * Hamming verify in pure integer SQL, so byte-order or framing
    * defects anywhere in the codec path break the hash match. */
  private def audioNeardupQ(s: SparkSession, dir: String): DataFrame = {
    val wavUdf = udf((docId: Long) => {
      val b = docId / 4
      val v = docId % 4
      val xs = new Array[Short](1024)
      var i = 0
      while (i < 1024) {
        val raw = ((b * 31 + 7) * ((i.toLong * i) % 65536) +
          (b * 17 + 3) * i + b) % 65536
        val p = if (i % 131 < v) ((docId + i) % 7) * 64 else 0L
        xs(i) = (((raw + p) % 65536) - 32768).toShort
        i += 1
      }
      operators.Multimodal.encodeWavPcm16(xs, 8000, 1)
    })
    val fpUdf = udf((payload: Array[Byte]) =>
      operators.Multimodal.decodeWavSamples(payload).map {
        case (_, xs) => operators.Multimodal.audioFingerprint(xs)
      })
    val sigs = Tables.read(s, dir, "documents")
      .select(col("doc_id"), wavUdf(col("doc_id")).as("payload"))
      .select(col("doc_id"), fpUdf(col("payload")).as("fp"))
    operators.Dedup.hammingBandPairs(sigs, "doc_id", "fp", maxHamming = 10)
  }

  private val audioNeardupSql =
    """WITH d AS (
      |  SELECT doc_id, doc_id // 4 AS b, doc_id % 4 AS v FROM documents),
      |s AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_transform(range(0, 1024), i ->
      |      (((b * 31 + 7) * (i * i % 65536) + (b * 17 + 3) * i + b) % 65536
      |        + CASE WHEN i % 131 < v THEN ((doc_id + i) % 7) * 64 ELSE 0 END)
      |        % 65536 - 32768) AS xs
      |  FROM d),
      |e AS MATERIALIZED (
      |  SELECT s.doc_id, f.range AS f,
      |    list_sum(list_transform(
      |      range(f.range * 16, f.range * 16 + 16),
      |      i -> CAST(s.xs[CAST(i AS INT) + 1] AS BIGINT)
      |           * s.xs[CAST(i AS INT) + 1])) AS en
      |  FROM s, range(0, 64) f),
      |fp AS MATERIALIZED (
      |  SELECT e1.doc_id,
      |    CAST(sum(CASE WHEN e1.en > e2.en
      |             THEN CAST(1 AS BIGINT) << CAST(e1.f AS INT)
      |             ELSE 0 END) AS BIGINT) AS fp
      |  FROM e e1 JOIN e e2 ON e2.doc_id = e1.doc_id AND e2.f = e1.f + 1
      |  GROUP BY 1),
      |bands AS (
      |  SELECT fp.doc_id, fp.fp, b.range AS band,
      |    (fp.fp >> CAST(16 * b.range AS INT)) & 65535 AS bucket
      |  FROM fp, range(0, 4) b),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
      |    l.fp AS a_fp, r.fp AS b_fp
      |  FROM bands l JOIN bands r
      |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
      |SELECT a_id, b_id, CAST(bit_count(xor(a_fp, b_fp)) AS INT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(a_fp, b_fp)) <= 10""".stripMargin

  /** Per-value vgraph analytics, FULL oracle — the reference's
    * `vgraph_pagerank` / `vgraph_community_detection` over the vgraph
    * TYPE (small in-cell graphs, not a distributed edge table): per
    * doc a closed-form ring-plus-chord graph is rendered as vgraph
    * TEXT, parsed by the real parser, and run through 3 rounds of
    * integer fixed-point PageRank (scale 10⁶, damping 85/100, all
    * divisions integer and non-negative so floor ≡ truncate on both
    * engines) and 3 rounds of min-label community propagation. The
    * oracle rebuilds the same adjacency in SQL and replays both
    * iterations round-for-round — rank sums, extrema, and community
    * structure are exact, not approximate. */
  private def vgraphAnalyticsQ(s: SparkSession, dir: String): DataFrame = {
    val gUdf = udf((docId: Long) => {
      val n = 5 + (docId % 3).toInt
      val edges = (0 until n).map(i => s"[$i,${(i + 1) % n}]") :+ "[0,2]"
      s"{nodes:$n, edges:[${edges.mkString(",")}]}"
    })
    val statsUdf = udf((txt: String) => {
      val g = functions.VectorParsers.parseVGraph(txt)
      val r = functions.VectorParsers.vgraphPagerankInt(g, iters = 3)
      val c = functions.VectorParsers.vgraphCommunities(g, iters = 3)
      (g.nodes, r.sum, r.min, r.max,
        c.distinct.length.toLong, c.map(_.toLong).sum)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), gUdf(col("doc_id")).as("gtxt"))
      .select(col("doc_id"), statsUdf(col("gtxt")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("n_nodes"),
        col("st._2").as("rank_sum"), col("st._3").as("rank_min"),
        col("st._4").as("rank_max"),
        col("st._5").as("n_comm"), col("st._6").as("comm_sum"))
  }

  private val vgraphAnalyticsSql = {
    // one pagerank round: contrib = r // deg, joined over adjacency
    def prRound(prev: String, out: String): String =
      s"""c$out AS MATERIALIZED (
         |  SELECT r.doc_id, r.v, r.r // d.d AS c
         |  FROM $prev r JOIN deg d ON d.doc_id = r.doc_id AND d.v = r.v),
         |$out AS MATERIALIZED (
         |  SELECT nd.doc_id, nd.n, nd.v,
         |    (15 * (1000000 // nd.n) + 85 * COALESCE(sum(c.c), 0)) // 100 AS r
         |  FROM nodes nd
         |  LEFT JOIN adj a ON a.doc_id = nd.doc_id AND a.a = nd.v
         |  LEFT JOIN c$out c ON c.doc_id = a.doc_id AND c.v = a.b
         |  GROUP BY 1, 2, 3)""".stripMargin
    def lblRound(prev: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT nd.doc_id, nd.v,
         |    least(p.c, COALESCE(min(q.c), p.c)) AS c
         |  FROM nodes nd
         |  JOIN $prev p ON p.doc_id = nd.doc_id AND p.v = nd.v
         |  LEFT JOIN adj a ON a.doc_id = nd.doc_id AND a.a = nd.v
         |  LEFT JOIN $prev q ON q.doc_id = a.doc_id AND q.v = a.b
         |  GROUP BY 1, 2, p.c)""".stripMargin
    s"""WITH base AS (SELECT doc_id, 5 + doc_id % 3 AS n FROM documents),
       |nodes AS MATERIALIZED (
       |  SELECT doc_id, n, i AS v
       |  FROM base, (SELECT unnest(range(0, 7)) AS i) WHERE i < n),
       |e0 AS (
       |  SELECT doc_id, v AS a, (v + 1) % n AS b FROM nodes
       |  UNION ALL
       |  SELECT doc_id, 0, 2 FROM base),
       |adj AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, a, b FROM (
       |    SELECT doc_id, a, b FROM e0
       |    UNION ALL
       |    SELECT doc_id, b, a FROM e0)
       |  WHERE a <> b),
       |deg AS MATERIALIZED (
       |  SELECT doc_id, a AS v, count(*) AS d FROM adj GROUP BY 1, 2),
       |r0 AS MATERIALIZED (
       |  SELECT doc_id, n, v, 1000000 // n AS r FROM nodes),
       |${prRound("r0", "r1")},
       |${prRound("r1", "r2")},
       |${prRound("r2", "r3")},
       |l0 AS MATERIALIZED (SELECT doc_id, v, v AS c FROM nodes),
       |${lblRound("l0", "l1")},
       |${lblRound("l1", "l2")},
       |${lblRound("l2", "l3")}
       |SELECT r3.doc_id,
       |  CAST(max(r3.n) AS INT) AS n_nodes,
       |  CAST(sum(r3.r) AS BIGINT) AS rank_sum,
       |  CAST(min(r3.r) AS BIGINT) AS rank_min,
       |  CAST(max(r3.r) AS BIGINT) AS rank_max,
       |  CAST(count(DISTINCT l3.c) AS BIGINT) AS n_comm,
       |  CAST(sum(l3.c) AS BIGINT) AS comm_sum
       |FROM r3 JOIN l3 ON l3.doc_id = r3.doc_id AND l3.v = r3.v
       |GROUP BY 1""".stripMargin
  }

  /** WebDataset tar-shard ingestion, FULL oracle — the multimodal
    * training-sample container (`operators/WebDataset.scala`): per doc
    * a ustar shard holding two samples (`s1.txt` + `s1.cls`,
    * `s2.txt`) is encoded with real ustar headers (octal sizes,
    * verified checksums, 512-byte blocking) and decoded by the real
    * reader; members regroup into samples by the before-first-dot key
    * (the WebDataset rule). The oracle re-derives member/sample
    * counts and byte totals from the documents columns — a wrong
    * octal parse, block stride, or checksum pass breaks it. */
  private def wdsIngest(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long, text: String, lang: String, nChars: Long) => {
      val t = if (text == null) "" else text
      operators.WebDataset.encodeTar(Seq(
        operators.WebDataset.TarEntry("s1.txt", t.getBytes("UTF-8")),
        operators.WebDataset.TarEntry("s1.cls", lang.getBytes("UTF-8")),
        operators.WebDataset.TarEntry("s2.txt",
          s"doc $docId has $nChars chars".getBytes("UTF-8"))))
    })
    val shards = Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id"), col("text"), col("lang"),
        col("n_chars")).as("payload"))
    operators.WebDataset.extractSamples(shards, "doc_id", "payload")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("sample_key")).as("n_samples"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        sum(when(col("field") === "txt", col("n_bytes")))
          .cast("long").as("txt_bytes"))
  }

  private val wdsIngestSql =
    """SELECT doc_id,
      |  CAST(3 AS BIGINT) AS n_members,
      |  CAST(2 AS BIGINT) AS n_samples,
      |  CAST(strlen(text) + strlen(lang)
      |       + strlen('doc ' || doc_id || ' has ' || n_chars || ' chars')
      |       AS BIGINT) AS total_bytes,
      |  CAST(strlen(text)
      |       + strlen('doc ' || doc_id || ' has ' || n_chars || ' chars')
      |       AS BIGINT) AS txt_bytes
      |FROM documents""".stripMargin

  /** Y4M (YUV4MPEG2) video ingestion, FULL oracle — the uncompressed
    * interchange rung of the video ladder (`operators/Y4m.scala`):
    * closed-form 8×8 4:2:0 planar frames are encoded as a spec-shaped
    * .y4m stream, decoded by the real reader (header token parse,
    * FRAME marker walk, planar split), chroma-upsampled
    * nearest-neighbor and converted with the 16-bit fixed-point BT.601
    * kernel — every step integer, so the oracle replays the exact
    * conversion (`>> 16` ≡ DuckDB `// 65536`, floor on negatives) and
    * re-derives the Y/R/G/B channel sums; a wrong stride, plane order,
    * chroma index, or rounding direction moves the sums. */
  private def videoY4m(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long) => {
      val nf = 2 + (docId % 3).toInt
      val frames = (0 until nf).map { f =>
        (Array.tabulate[Byte](64)(i => ((docId * 13 + f * 17 + i * 5) % 256).toByte),
          Array.tabulate[Byte](16)(j => ((docId * 7 + f * 3 + j * 11) % 256).toByte),
          Array.tabulate[Byte](16)(j => ((docId * 11 + f * 5 + j * 13) % 256).toByte))
      }
      operators.Y4m.encodeY4m(8, 8, frames)
    })
    val stats = udf((p: Array[Byte]) =>
      operators.Y4m.decodeY4m(p).map { case (m, fs) =>
        val (sy, sr, sg, sb) = operators.Y4m.rgbStats(m, fs)
        (m.width, m.height, m.nFrames, m.fpsNum, sy, sr, sg, sb)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), stats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("width"), col("st._2").as("height"),
        col("st._3").as("n_frames"), col("st._4").as("fps_num"),
        col("st._5").as("sum_y"), col("st._6").as("sum_r"),
        col("st._7").as("sum_g"), col("st._8").as("sum_b"))
  }

  private val videoY4mSql =
    """WITH base AS (SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents),
      |grid AS (
      |  SELECT f, i, ((i // 8) // 2) * 4 + ((i % 8) // 2) AS ci
      |  FROM (SELECT unnest(range(0, 4)) AS f), (SELECT unnest(range(0, 64)) AS i)),
      |px AS (
      |  SELECT b.doc_id, b.nf,
      |    (b.doc_id * 13 + g.f * 17 + g.i * 5) % 256 AS y,
      |    (b.doc_id * 7 + g.f * 3 + g.ci * 11) % 256 AS u,
      |    (b.doc_id * 11 + g.f * 5 + g.ci * 13) % 256 AS v
      |  FROM base b JOIN grid g ON g.f < b.nf),
      |rgb AS (
      |  -- NB: DuckDB's // TRUNCATES toward zero; the fixed-point kernel's
      |  -- >> 16 is a FLOOR shift, so the shift is spelled floor(x/65536)
      |  SELECT doc_id, nf, y,
      |    least(255, greatest(0, y + CAST(floor((91881 * (v - 128)) / 65536.0) AS BIGINT))) AS r,
      |    least(255, greatest(0, y - CAST(floor((22554 * (u - 128) + 46802 * (v - 128)) / 65536.0) AS BIGINT))) AS g2,
      |    least(255, greatest(0, y + CAST(floor((116130 * (u - 128)) / 65536.0) AS BIGINT))) AS b
      |  FROM px)
      |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
      |  CAST(max(nf) AS INT) AS n_frames, CAST(25 AS INT) AS fps_num,
      |  CAST(sum(y) AS BIGINT) AS sum_y, CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g2) AS BIGINT) AS sum_g, CAST(sum(b) AS BIGINT) AS sum_b
      |FROM rgb GROUP BY 1""".stripMargin

  /** Video near-duplicate detection, FULL oracle — completes the
    * near-dup fingerprint family (text SimHash, image aHash, audio
    * energy-delta) with the video rung: closed-form 16×8 4:2:0 streams
    * (4 variants per base; variants nudge every 97th luma byte by a
    * small closed-form delta) round-trip through the REAL Y4M codec,
    * are fingerprinted by the spatio-temporal block hash
    * (`Y4m.blockhashFingerprint` — 8 frames × 4×2 grid, bit = block
    * brighter than frame mean via integer cross-multiply, 64 bits),
    * and paired by the generic banded Hamming join. The oracle
    * re-derives luma bytes, block/frame sums, all 64 bits (bit 63 spelt
    * as signed min so DuckDB's checked `<<` never overflows), band
    * buckets, and the Hamming verify in pure integer SQL — a plane
    * stride or frame-offset defect scrambles later frames' bits and
    * breaks the match. */
  private def videoNeardupQ(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long) => {
      val b = docId / 4
      val v = docId % 4
      val frames = (0 until 8).map { f =>
        (Array.tabulate[Byte](128) { i =>
          // per-base quadratic mod a prime — pairwise-uncorrelated luma
          // across bases (an AP-mod-256 form here leaks cross-base
          // near-collisions into the pair set; measured at sf0.1)
          val k = f * 128L + i
          val raw = ((b * 97 + 13) * ((k * k) % 1048573) +
            (b * 57 + 7) * k + b) % 1048573 % 256
          val p = if (k % 97 < v) ((docId + k) % 5) * 8 else 0L
          (((raw + p) % 256)).toByte
        },
          Array.tabulate[Byte](32)(c => ((b * 7 + c * 3 + f * 5 + 1) % 256).toByte),
          Array.tabulate[Byte](32)(c => ((b * 5 + c * 7 + f * 3 + 2) % 256).toByte))
      }
      operators.Y4m.encodeY4m(16, 8, frames)
    })
    val fpUdf = udf((payload: Array[Byte]) =>
      operators.Y4m.decodeY4m(payload).map { case (m, fs) =>
        operators.Y4m.blockhashFingerprint(m, fs)
      })
    val sigs = Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), fpUdf(col("payload")).as("fp"))
    operators.Dedup.hammingBandPairs(sigs, "doc_id", "fp", maxHamming = 12)
  }

  private val videoNeardupSql =
    """WITH d AS (
      |  SELECT doc_id, doc_id // 4 AS b, doc_id % 4 AS v FROM documents),
      |px AS MATERIALIZED (
      |  SELECT d.doc_id, k.range AS k,
      |    (((d.b * 97 + 13) * (k.range * k.range % 1048573)
      |       + (d.b * 57 + 7) * k.range + d.b) % 1048573 % 256
      |     + CASE WHEN k.range % 97 < d.v
      |            THEN ((d.doc_id + k.range) % 5) * 8 ELSE 0 END) % 256 AS y
      |  FROM d, range(0, 1024) k),
      |blk AS MATERIALIZED (
      |  SELECT doc_id, CAST(k // 128 AS INT) AS f,
      |    CAST((k // 128) * 8 + ((k % 128) // 64) * 4 + (k % 16) // 4 AS INT) AS bit,
      |    CAST(sum(y) AS BIGINT) AS bs
      |  FROM px GROUP BY 1, 2, 3),
      |fr AS MATERIALIZED (
      |  SELECT doc_id, f, CAST(sum(bs) AS BIGINT) AS fs FROM blk GROUP BY 1, 2),
      |fp AS MATERIALIZED (
      |  SELECT blk.doc_id,
      |    CAST(sum(CASE WHEN blk.bs * 8 > fr.fs THEN
      |          CASE WHEN blk.bit = 63 THEN CAST(-9223372036854775808 AS BIGINT)
      |               ELSE CAST(1 AS BIGINT) << blk.bit END
      |        ELSE 0 END) AS BIGINT) AS fp
      |  FROM blk JOIN fr ON fr.doc_id = blk.doc_id AND fr.f = blk.f
      |  GROUP BY 1),
      |bands AS (
      |  SELECT fp.doc_id, fp.fp, bb.range AS band,
      |    (fp.fp >> CAST(16 * bb.range AS INT)) & 65535 AS bucket
      |  FROM fp, range(0, 4) bb),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
      |    l.fp AS a_fp, r.fp AS b_fp
      |  FROM bands l JOIN bands r
      |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
      |SELECT a_id, b_id, CAST(bit_count(xor(a_fp, b_fp)) AS INT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(a_fp, b_fp)) <= 12""".stripMargin

  /** MPEG-1 Layer I SAMPLE decode, FULL oracle — the subband-synthesis
    * rung of the audio ladder (`operators/Mpeg1Audio.scala`): per doc a
    * mono CRC-less TWO-FRAME Layer I stream (three active subbands at
    * 2/6/15-bit allocations, per-doc scalefactor indices, MSB-first
    * packed codes, slot-aligned frame lengths with zero ancillary
    * padding) is decoded through the real pipeline — frame walk,
    * header parse, bit allocation, ISO dequant closed form, 32×64
    * cosine matrixing, the 16-deep V FIFO carried ACROSS the frame
    * boundary, 512-tap windowed overlap-add — all fixed-point with
    * TRUNCATING division, which DuckDB's `//` matches exactly. The
    * oracle replays every stage from generated constant-table VALUES
    * (the same arrays the decoder uses) over a GLOBAL block axis
    * g ∈ [0,24), so a FIFO reset at the frame boundary (the bug class
    * frame-local decoders hide) breaks blocks 12..15's hash. r11 adds
    * INTENSITY-stereo docs (mode 01 at all four bounds — shared code
    * set above the bound) and CRC-PROTECTED frames (decode verifies
    * the ISO CRC-16 before emitting PCM) to the same fixture. */
  private def audioMpegLayer1(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long) => {
      val nCh = 1 + (docId % 2).toInt // odd docs are STEREO
      // docs ≡ 3 (mod 4): INTENSITY stereo (subbands ≥ bound share one
      // code set, per-channel scalefactors); docs ≡ 0 (mod 3): frames
      // carry the ISO CRC-16 (verified on decode, PCM unchanged)
      val jsBound = if (docId % 4 == 3) 4 + 4 * ((docId / 4) % 4).toInt else 0
      val withCrc = docId % 3 == 0
      val alloc = new Array[Int](32)
      val sfIdx = new Array[Int](32)
      Seq(((docId % 8).toInt, 1 + (docId % 3).toInt, (docId % 63).toInt),
        (10 + (docId % 6).toInt, 5, ((docId * 7) % 63).toInt),
        (20 + (docId % 9).toInt, 14, ((docId * 13) % 63).toInt))
        .foreach { case (sb, a, sf) => alloc(sb) = a; sfIdx(sb) = sf }
      val out = new java.io.ByteArrayOutputStream()
      (0 until 2).foreach { fr =>
        val samples = Array.tabulate(12, nCh, 32) { (t, ch, sb) =>
          if (alloc(sb) == 0) 0
          else {
            val chTerm = if (jsBound > 0 && sb >= jsBound) 0 else ch * 41
            ((docId * 31 + sb * 17 + (fr * 12 + t) * 7 + chTerm)
              % (1L << (alloc(sb) + 1))).toInt
          }
        }
        val bytes = operators.Mpeg1Audio.encodeFrameCh(
          Array.fill(nCh)(alloc), Array.fill(nCh)(sfIdx), samples,
          withCrc = withCrc, jsBound = jsBound)
        out.write(bytes, 0, bytes.length)
      }
      out.toByteArray
    })
    val stats = udf((p: Array[Byte]) =>
      operators.Mpeg1Audio.decode(p).map { frames =>
        val (n, sum, wsum, mn, mx) = operators.Mpeg1Audio.pcmStats(frames)
        (n, sum, wsum, mn, mx)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), stats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("n_samples"), col("st._2").as("pcm_sum"),
        col("st._3").as("pcm_wsum"), col("st._4").as("pcm_min"),
        col("st._5").as("pcm_max"))
  }

  private lazy val audioMpegLayer1Sql =
    s"""WITH nmat(i, j, nv) AS (VALUES ${operators.Mpeg1Audio.matrixValuesSql}),
       |dwin(tap, dv) AS (VALUES ${operators.Mpeg1Audio.windowValuesSql}),
       |sfs(idx, sv) AS (VALUES ${operators.Mpeg1Audio.scalefactorValuesSql}),
       |chans AS (
       |  SELECT doc_id, 1 + doc_id % 2 AS nch FROM documents),
       |sbs AS (
       |  SELECT doc_id,
       |    unnest([doc_id % 8, 10 + doc_id % 6, 20 + doc_id % 9]) AS sb,
       |    unnest([2 + doc_id % 3, CAST(6 AS BIGINT), CAST(15 AS BIGINT)]) AS nb,
       |    unnest([doc_id % 63, (doc_id * 7) % 63, (doc_id * 13) % 63]) AS sfidx
       |  FROM documents),
       |sval AS MATERIALIZED (
       |  -- ISO Layer-I dequant at 2^15 then scalefactor at 2^16, all
       |  -- truncating: DuckDB // truncates toward zero like the JVM's /.
       |  -- g is the GLOBAL block index across both frames (2 x 12);
       |  -- odd docs are stereo (ch offsets the sample codes by 41);
       |  -- intensity docs (doc_id % 4 = 3) drop the ch term above the
       |  -- bound — both channels decode the one shared code set.
       |  SELECT s.doc_id, cc.ch, g.t, s.sb,
       |    ((((2 * ((s.doc_id * 31 + s.sb * 17 + g.t * 7
       |              + CASE WHEN s.doc_id % 4 = 3
       |                      AND s.sb >= 4 + 4 * ((s.doc_id // 4) % 4)
       |                     THEN 0 ELSE cc.ch * 41 END)
       |              % (CAST(1 AS BIGINT) << s.nb))
       |        - (CAST(1 AS BIGINT) << s.nb) + 2) * 32768)
       |      // ((CAST(1 AS BIGINT) << s.nb) - 1)) * f.sv) // 65536 AS v
       |  FROM sbs s
       |  JOIN chans c ON c.doc_id = s.doc_id
       |  JOIN (SELECT unnest(range(0, 2)) AS ch) cc ON cc.ch < c.nch
       |  JOIN (SELECT unnest(range(0, 24)) AS t) g ON true
       |  JOIN sfs f ON f.idx = s.sfidx),
       |vmat AS MATERIALIZED (
       |  SELECT sv.doc_id, sv.ch, sv.t, n.i, sum(n.nv * sv.v) // 16384 AS vv
       |  FROM sval sv JOIN nmat n ON n.j = sv.sb
       |  GROUP BY 1, 2, 3, 4),
       |taps AS (
       |  SELECT b.doc_id, b.nch, cc.ch, g.t, jj.j, ii.i
       |  FROM chans b
       |  JOIN (SELECT unnest(range(0, 2)) AS ch) cc ON cc.ch < b.nch
       |  JOIN (SELECT unnest(range(0, 24)) AS t) g ON true
       |  JOIN (SELECT unnest(range(0, 32)) AS j) jj ON true
       |  JOIN (SELECT unnest(range(0, 16)) AS i) ii ON true),
       |outp AS MATERIALIZED (
       |  -- U[tap] reads channel ch's V FIFO: chunk i holds GLOBAL block
       |  -- t-i (state crosses the frame boundary); even chunks read
       |  -- offset j, odd chunks offset 32+j (ISO layout)
       |  SELECT o.doc_id, o.nch, o.ch, o.t, o.j,
       |    sum(coalesce(vm.vv, 0) * d.dv) // 65536 AS pcm
       |  FROM taps o
       |  LEFT JOIN vmat vm ON vm.doc_id = o.doc_id AND vm.ch = o.ch
       |    AND vm.t = o.t - o.i
       |    AND vm.i = CASE WHEN o.i % 2 = 0 THEN o.j ELSE 32 + o.j END
       |  JOIN dwin d ON d.tap = o.j + 32 * o.i
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       |  CAST(sum(pcm) AS BIGINT) AS pcm_sum,
       |  -- interleaved position: (t*32 + j) * nch + ch
       |  CAST(sum(((t * 32 + j) * nch + ch) * pcm) AS BIGINT) AS pcm_wsum,
       |  CAST(min(pcm) AS BIGINT) AS pcm_min,
       |  CAST(max(pcm) AS BIGINT) AS pcm_max
       |FROM outp GROUP BY 1""".stripMargin

  /** ID3-tagged MP3 metadata pass, FULL oracle — the read path a crawl
    * audio indexer actually runs (`operators/Id3.scala`): per doc a
    * real-world-shaped .mp3 blob — ID3v2.3 tag (syncsafe header size,
    * TIT2/TPE1/TALB/TYER ISO-8859-1 text frames), MPEG-1 Layer III
    * frames in the middle (per-doc bitrate/samplerate/count), and for
    * even docs a 128-byte ID3v1 trailer. `Id3.mp3TagMeta` skips the v2
    * tag by its declared size, frame-walks the audio
    * (`Multimodal.decodeMp3Meta`), and reads the trailer; the oracle
    * re-derives every field closed-form, so a syncsafe misread, a
    * frame-size drift, or a trailer offset bug all break the hash. */
  private def audioId3(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => {
      val out = new java.io.ByteArrayOutputStream()
      out.write(operators.Id3.encodeId3v2(Seq(
        "TIT2" -> s"Track $d", "TPE1" -> s"Artist ${d % 7}",
        "TALB" -> s"Album ${d % 5}", "TYER" -> (1970 + d % 50).toString)))
      val audio = operators.Multimodal.encodeMp3Frames(
        1 + (d % 14).toInt, (d % 3).toInt, 3 + (d % 5).toInt)
      out.write(audio, 0, audio.length)
      if (d % 2 == 0)
        out.write(operators.Id3.encodeId3v1(
          s"V1 Track $d", s"V1 Artist ${d % 7}", "", (1970 + d % 50).toString,
          "", (d % 192).toInt))
      out.toByteArray
    })
    val stats = udf((p: Array[Byte]) =>
      operators.Id3.mp3TagMeta(p).map { t =>
        val f = t.v2Frames.toMap
        (f.get("TIT2"), f.get("TPE1"), f.get("TALB"), f.get("TYER"),
          t.audio.bitrateKbps, t.audio.sampleRate, t.audio.nFrames,
          t.audio.durationMs, t.v1.map(_._1), t.v1.map(_._5))
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), stats(mk(col("doc_id"))).as("st"))
      .select(col("doc_id"),
        col("st._1").as("title"), col("st._2").as("artist"),
        col("st._3").as("album"), col("st._4").as("year"),
        col("st._5").as("bitrate_kbps"), col("st._6").as("sample_rate"),
        col("st._7").as("n_frames"), col("st._8").as("duration_ms"),
        col("st._9").as("v1_title"), col("st._10").as("v1_genre"))
  }

  private val audioId3Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[CAST(1 + doc_id % 14 AS INT)] AS kbps,
      |    CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
      |    3 + doc_id % 5 AS nf
      |  FROM documents)
      |SELECT doc_id,
      |  'Track ' || doc_id AS title,
      |  'Artist ' || (doc_id % 7) AS artist,
      |  'Album ' || (doc_id % 5) AS album,
      |  CAST(1970 + doc_id % 50 AS VARCHAR) AS "year",
      |  CAST(kbps AS INT) AS bitrate_kbps,
      |  CAST(sr AS INT) AS sample_rate,
      |  CAST(nf AS INT) AS n_frames,
      |  CAST(nf * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
      |  CASE WHEN doc_id % 2 = 0 THEN 'V1 Track ' || doc_id END AS v1_title,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 192 END AS INT) AS v1_genre
      |FROM d""".stripMargin

  /** MPEG-1 Layer II SAMPLE decode, FULL oracle — the grouped-
    * quantization rung above `audio_mpeg_layer1` (same reference
    * surface, `operators/Mpeg1Audio.scala` Layer II section): per doc a
    * mono/stereo CRC-less TWO-FRAME Layer II stream with FOUR active
    * subbands cycling through every quantizer class — the grouped
    * 3/5/9-level classes (one 5/7/10-bit code per 3 samples), the
    * power-of-two ladder, and the 16-bit escape — across ALL FOUR ISO
    * allocation tables (doc_id mod 5 picks 3-B.2a high-rate 48 kHz /
    * 3-B.2b 44.1 kHz / low-rate 3-B.2c 48 kbps-per-channel / 3-B.2d
    * 32 kHz, each at a table-legal header dial, the a/b docs drawing
    * one subband per allocation region and the c/d docs reading the
    * shared 4-bit class row) — plus all four scfsi sharing modes,
    * INTENSITY (joint) stereo docs at all four bounds (subbands ≥
    * bound share one code set under per-channel scalefactors), and
    * CRC-PROTECTED frames (ISO Annex-A CRC-16 over header bits 16-31 +
    * allocation + scfsi, verified before any PCM is emitted).
    * Decode runs the real pipeline: frame walk at ⌊144·bitrate/fs⌋
    * byte slots, region-width allocation parse, scfsi + scalefactor
    * reconstruction, degrouping, Table 3-B.4 requantization in the
    * fixed-point closed form, and 36 pushes per frame through the
    * SHARED polyphase filterbank with the V FIFO carried across the
    * frame boundary. The oracle replays every stage from the same
    * generated constant tables over a global block axis t ∈ [0,72). */
  private def audioMpegLayer2(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => {
      val nCh = 1 + (d % 2).toInt // odd docs are STEREO
      // docs ≡ 3 (mod 4) are INTENSITY stereo: subbands ≥ bound share
      // one code set (ch term dropped) but keep per-channel
      // scalefactors; docs ≡ 0 (mod 3) emit CRC-PROTECTED frames (no
      // effect on PCM — but decode must verify the CRC to emit rows)
      val jsBound = if (d % 4 == 3) 4 + 4 * ((d / 4) % 4).toInt else 0
      val withCrc = d % 3 == 0
      // allocation-table dial: docs ≡ 2 (mod 5) are TABLE 3-B.2b
      // streams (44.1 kHz ≥ 96 kbps/ch, sblimit 30, 4th active subband
      // in the b-only 23-29 range); ≡ 1 (mod 5) are LOW-RATE 3-B.2c
      // (48 kHz at 48 kbps/ch, sblimit 8); ≡ 4 (mod 5) are 3-B.2d
      // (32 kHz at 32 kbps/ch, sblimit 12); the rest stay 3-B.2a
      // (48 kHz high-rate, sblimit 27)
      val kind = (d % 5) match {
        case 1 => 'c'; case 2 => 'b'; case 4 => 'd'; case _ => 'a'
      }
      val sblimit = operators.Mpeg1Audio.l2SblimitOf(kind)
      val sbs = kind match {
        case 'c' => Seq((d % 3).toInt, 3 + (d % 3).toInt, 6, 7)
        case 'd' => Seq((d % 3).toInt, 3 + (d % 4).toInt,
          7 + (d % 3).toInt, 10 + (d % 2).toInt)
        case 'b' => Seq((d % 3).toInt, 3 + (d % 8).toInt,
          11 + (d % 12).toInt, 23 + (d % 7).toInt)
        case _ => Seq((d % 3).toInt, 3 + (d % 8).toInt,
          11 + (d % 12).toInt, 23 + (d % 4).toInt)
      }
      // c/d class indices cap at 6 (<= 18-bit ungrouped codes) so the
      // worst case fits the SHORT low-rate slot (144 B mono at 48/32
      // kbps: ~1024 of 1152 bits with 4 subbands at aidx 6 + CRC); the
      // top c/d classes are spec-covered where only 2 subbands are live
      val aidxs =
        if (kind == 'c' || kind == 'd')
          Seq(1 + (d % 6).toInt, 1 + ((d * 7) % 6).toInt,
            1 + ((d * 5) % 6).toInt, 1 + (d % 3).toInt)
        else Seq(1 + (d % 15).toInt, 1 + ((d * 7) % 15).toInt,
          1 + ((d * 5) % 7).toInt, 1 + (d % 3).toInt)
      val act = sbs.zip(aidxs)
      val allocIdx = Array.fill(nCh)(new Array[Int](sblimit))
      act.foreach { case (sb, a) =>
        (0 until nCh).foreach(ch => allocIdx(ch)(sb) = a) }
      val scfsi = Array.tabulate(nCh, sblimit)((ch, sb) => ((d + sb + ch) % 4).toInt)
      val sf3 = Array.tabulate(nCh, sblimit) { (ch, sb) =>
        val b = ((d * 3 + sb * 5 + ch * 7) % 63).toInt
        ((d + sb + ch) % 4).toInt match {
          case 0 => Array(b, (b + 1) % 63, (b + 2) % 63)
          case 1 => Array(b, b, (b + 1) % 63)
          case 2 => Array(b, b, b)
          case _ => Array(b, (b + 1) % 63, (b + 1) % 63)
        }
      }
      val out = new java.io.ByteArrayOutputStream()
      (0 until 2).foreach { fr =>
        val samples = Array.tabulate(36, nCh, sblimit) { (t, ch, sb) =>
          if (allocIdx(ch)(sb) == 0) 0
          else {
            val n = operators.Mpeg1Audio.l2LevelsFor(kind, sb)(allocIdx(ch)(sb))
            val chTerm = if (jsBound > 0 && sb >= jsBound) 0 else ch * 41
            ((d * 31 + sb * 17 + (fr * 36 + t) * 7 + chTerm) % n).toInt
          }
        }
        // table-legal dials: 'a' at 48 kHz 192/384 kbps, 'b' at
        // 44.1 kHz same rates (≥ 96/ch selects table b), 'c' at 48 kHz
        // 48 kbps mono / 96 stereo (48/ch), 'd' at 32 kHz 32 kbps mono
        // / 64 stereo (32/ch)
        val (srIdx, brIdx) = kind match {
          case 'c' => (1, if (nCh == 2) 6 else 2)
          case 'd' => (2, if (nCh == 2) 4 else 1)
          case 'b' => (0, if (nCh == 2) 14 else 10)
          case _ => (1, if (nCh == 2) 14 else 10)
        }
        val bytes = operators.Mpeg1Audio.encodeFrameChL2(allocIdx, scfsi, sf3,
          samples, sampleRateIdx = srIdx, bitrateIdx = brIdx,
          withCrc = withCrc, jsBound = jsBound)
        out.write(bytes, 0, bytes.length)
      }
      out.toByteArray
    })
    val stats = udf((p: Array[Byte]) =>
      operators.Mpeg1Audio.decodeL2(p).map { frames =>
        val (n, sum, wsum, mn, mx) = operators.Mpeg1Audio.pcmStats(frames)
        (n, sum, wsum, mn, mx)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), stats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("n_samples"), col("st._2").as("pcm_sum"),
        col("st._3").as("pcm_wsum"), col("st._4").as("pcm_min"),
        col("st._5").as("pcm_max"))
  }

  private lazy val audioMpegLayer2Sql =
    s"""WITH nmat(i, j, nv) AS (VALUES ${operators.Mpeg1Audio.matrixValuesSql}),
       |dwin(tap, dv) AS (VALUES ${operators.Mpeg1Audio.windowValuesSql}),
       |sfs(idx, sv) AS (VALUES ${operators.Mpeg1Audio.scalefactorValuesSql}),
       |qcls(region, aidx, n, offs, p2) AS (VALUES ${operators.Mpeg1Audio.l2ClassValuesSql}),
       |chans AS (
       |  SELECT doc_id, 1 + doc_id % 2 AS nch FROM documents),
       |sbs AS (
       |  -- active subbands per allocation-table dial: doc_id % 5 = 1 ->
       |  -- 3-B.2c (sblimit 8), = 4 -> 3-B.2d (12), = 2 -> 3-B.2b (30),
       |  -- else 3-B.2a (27); c/d read the shared region-4 class row
       |  SELECT doc_id,
       |    unnest(CASE
       |      WHEN doc_id % 5 = 1 THEN [doc_id % 3, 3 + doc_id % 3, 6, 7]
       |      WHEN doc_id % 5 = 4 THEN [doc_id % 3, 3 + doc_id % 4,
       |                                7 + doc_id % 3, 10 + doc_id % 2]
       |      WHEN doc_id % 5 = 2 THEN [doc_id % 3, 3 + doc_id % 8,
       |                                11 + doc_id % 12, 23 + doc_id % 7]
       |      ELSE [doc_id % 3, 3 + doc_id % 8, 11 + doc_id % 12,
       |            23 + doc_id % 4] END) AS sb,
       |    unnest(CASE WHEN doc_id % 5 IN (1, 4)
       |      THEN [CAST(4 AS BIGINT), 4, 4, 4]
       |      ELSE [CAST(0 AS BIGINT), 1, 2, 3] END) AS region,
       |    unnest(CASE WHEN doc_id % 5 IN (1, 4)
       |      THEN [1 + doc_id % 6, 1 + (doc_id * 7) % 6,
       |            1 + (doc_id * 5) % 6, 1 + doc_id % 3]
       |      ELSE [1 + doc_id % 15, 1 + (doc_id * 7) % 15,
       |            1 + (doc_id * 5) % 7, 1 + doc_id % 3] END) AS aidx
       |  FROM documents),
       |sval AS MATERIALIZED (
       |  -- Table 3-B.4 requantization at 2^15 then scalefactor at 2^16,
       |  -- all truncating; part = (t % 36) // 12 selects the scalefactor
       |  -- the scfsi mode m shares across the frame's three parts.
       |  -- Intensity-stereo docs (doc_id % 4 = 3) drop the channel term
       |  -- for subbands >= bound — both channels decode the SHARED code
       |  -- set, still scaled by their own per-channel scalefactor.
       |  SELECT s.doc_id, cc.ch, g.t, s.sb,
       |    ((((2 * ((s.doc_id * 31 + s.sb * 17 + g.t * 7
       |              + CASE WHEN s.doc_id % 4 = 3
       |                      AND s.sb >= 4 + 4 * ((s.doc_id // 4) % 4)
       |                     THEN 0 ELSE cc.ch * 41 END) % q.n)
       |        - q.p2 + q.offs) * 32768) // q.n) * f.sv) // 65536 AS v
       |  FROM sbs s
       |  JOIN qcls q ON q.region = s.region AND q.aidx = s.aidx
       |  JOIN chans c ON c.doc_id = s.doc_id
       |  JOIN (SELECT unnest(range(0, 2)) AS ch) cc ON cc.ch < c.nch
       |  JOIN (SELECT unnest(range(0, 72)) AS t) g ON true
       |  JOIN sfs f ON f.idx = CASE (s.doc_id + s.sb + cc.ch) % 4
       |    WHEN 0 THEN ((s.doc_id * 3 + s.sb * 5 + cc.ch * 7) % 63
       |                 + (g.t % 36) // 12) % 63
       |    WHEN 1 THEN CASE WHEN (g.t % 36) // 12 <= 1
       |                 THEN (s.doc_id * 3 + s.sb * 5 + cc.ch * 7) % 63
       |                 ELSE ((s.doc_id * 3 + s.sb * 5 + cc.ch * 7) % 63 + 1) % 63 END
       |    WHEN 2 THEN (s.doc_id * 3 + s.sb * 5 + cc.ch * 7) % 63
       |    ELSE CASE WHEN (g.t % 36) // 12 = 0
       |                 THEN (s.doc_id * 3 + s.sb * 5 + cc.ch * 7) % 63
       |                 ELSE ((s.doc_id * 3 + s.sb * 5 + cc.ch * 7) % 63 + 1) % 63 END
       |    END),
       |vmat AS MATERIALIZED (
       |  SELECT sv.doc_id, sv.ch, sv.t, n.i, sum(n.nv * sv.v) // 16384 AS vv
       |  FROM sval sv JOIN nmat n ON n.j = sv.sb
       |  GROUP BY 1, 2, 3, 4),
       |taps AS (
       |  SELECT b.doc_id, b.nch, cc.ch, g.t, jj.j, ii.i
       |  FROM chans b
       |  JOIN (SELECT unnest(range(0, 2)) AS ch) cc ON cc.ch < b.nch
       |  JOIN (SELECT unnest(range(0, 72)) AS t) g ON true
       |  JOIN (SELECT unnest(range(0, 32)) AS j) jj ON true
       |  JOIN (SELECT unnest(range(0, 16)) AS i) ii ON true),
       |outp AS MATERIALIZED (
       |  -- same shared-filterbank replay as the Layer I oracle: chunk i
       |  -- holds global block t-i, even chunks read offset j, odd 32+j
       |  SELECT o.doc_id, o.nch, o.ch, o.t, o.j,
       |    sum(coalesce(vm.vv, 0) * d.dv) // 65536 AS pcm
       |  FROM taps o
       |  LEFT JOIN vmat vm ON vm.doc_id = o.doc_id AND vm.ch = o.ch
       |    AND vm.t = o.t - o.i
       |    AND vm.i = CASE WHEN o.i % 2 = 0 THEN o.j ELSE 32 + o.j END
       |  JOIN dwin d ON d.tap = o.j + 32 * o.i
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       |  CAST(sum(pcm) AS BIGINT) AS pcm_sum,
       |  CAST(sum(((t * 32 + j) * nch + ch) * pcm) AS BIGINT) AS pcm_wsum,
       |  CAST(min(pcm) AS BIGINT) AS pcm_min,
       |  CAST(max(pcm) AS BIGINT) AS pcm_max
       |FROM outp GROUP BY 1""".stripMargin

  /** REAL FLIC codec round-trip, FULL oracle — the INTER-FRAME rung of
    * the video ladder (`operators/Flic.scala`): per doc a 2–4-frame
    * 8×8 .flc where frame 0 is intra (COLOR_256 palette + BYTE_RUN
    * RLE) and every later frame f is a DELTA_FLC word-delta that
    * rewrites only row f; the decoder must carry framebuffer state,
    * apply line skips and word packets, and reconstruct each full
    * frame. FLIC is LOSSLESS, so the oracle re-derives every statistic
    * from the closed form "row r shows the frame-r pattern once f ≥ r";
    * the raster-position-weighted `wsum` breaks if any delta lands on
    * the wrong line or column even when the pixel multiset survives. */
  private def videoFlic(s: SparkSession, dir: String): DataFrame = {
    val pal = Array.tabulate(256)(k =>
      ((k * 23) % 256 << 16) | ((k * 31) % 256 << 8) | ((k * 47) % 256))
    val mk = udf((docId: Long) => {
      val nf = 2 + (docId % 3).toInt
      val f0 = Array.tabulate[Byte](64)(i => ((docId * 5 + i * 3) % 16).toByte)
      val frames = Seq.newBuilder[Array[Byte]]
      frames += f0
      var prev = f0
      (1 until nf).foreach { f =>
        val cur = prev.clone()
        (0 until 8).foreach(x =>
          cur(f * 8 + x) = ((docId * 5 + f * 11 + x * 3) % 16).toByte)
        frames += cur
        prev = cur
      }
      operators.Flic.encodeFlic(operators.Flic.FlicVideo(
        8, 8, 40 + (docId % 5).toInt, pal, frames.result()))
    })
    val stats = udf((p: Array[Byte]) =>
      operators.Flic.decodeFlic(p).map { v =>
        val (nf, sp, sr, sg, sb, wsum) = operators.Flic.flicStats(v)
        (v.width, v.height, nf, sp, sr, sg, sb, wsum)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), stats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("width"), col("st._2").as("height"),
        col("st._3").as("n_frames"), col("st._4").as("speed_ms"),
        col("st._5").as("sum_r"), col("st._6").as("sum_g"),
        col("st._7").as("sum_b"), col("st._8").as("wsum"))
  }

  private val videoFlicSql =
    """WITH base AS (SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents),
      |grid AS (
      |  SELECT f, i, i // 8 AS r, i % 8 AS x
      |  FROM (SELECT unnest(range(0, 4)) AS f),
      |       (SELECT unnest(range(0, 64)) AS i)),
      |px AS (
      |  -- row r carries the frame-r delta pattern once f >= r (each
      |  -- frame f >= 1 rewrites exactly row f; row 0 never changes)
      |  SELECT b.doc_id, b.nf, g.i,
      |    CASE WHEN g.r >= 1 AND g.r <= g.f
      |         THEN (b.doc_id * 5 + g.r * 11 + g.x * 3) % 16
      |         ELSE (b.doc_id * 5 + g.i * 3) % 16 END AS idx
      |  FROM base b JOIN grid g ON g.f < b.nf)
      |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
      |  CAST(max(nf) AS INT) AS n_frames,
      |  CAST(40 + doc_id % 5 AS INT) AS speed_ms,
      |  CAST(sum((idx * 23) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((idx * 31) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((idx * 47) % 256) AS BIGINT) AS sum_b,
      |  CAST(sum(i * idx) AS BIGINT) AS wsum
      |FROM px GROUP BY 1""".stripMargin

  /** REAL GIF codec round-trip, FULL oracle — the entropy-coded +
    * animated rung of the multimodal image ladder (`operators/
    * Gif.scala`): per doc an animated 8×8 GIF89a (1–3 frames, 16-color
    * global palette, per-frame delay, alternate frames stored
    * INTERLACED) is encoded with real variable-width LZW, then decoded
    * back by the real reader — bit-unpacking, dictionary rebuild,
    * four-pass deinterlace. GIF is LOSSLESS, so the oracle re-derives
    * every statistic from the closed-form pixel pattern; the
    * raster-position-weighted `wsum` is row-order sensitive, so a
    * missed or doubled deinterlace breaks the hash even though plain
    * channel sums would not notice. */
  private def imageGif(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long) => {
      val nf = 1 + (docId % 3).toInt
      val frames = (0 until nf).map { f =>
        operators.Gif.GifFrame(
          delayCs = 4 + f,
          interlaced = (docId + f) % 2 == 0,
          indices = operators.Gif.fixtureIndices(docId, f))
      }
      operators.Gif.encodeGif(operators.Gif.GifImage(
        8, 8, operators.Gif.fixturePalette16, frames))
    })
    val stats = udf((p: Array[Byte]) =>
      operators.Gif.decodeGif(p).map { img =>
        val (nf, delay, sr, sg, sb, wsum) = operators.Gif.gifStats(img)
        (img.width, img.height, nf, delay, sr, sg, sb, wsum)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), stats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("width"), col("st._2").as("height"),
        col("st._3").as("n_frames"), col("st._4").as("total_delay_cs"),
        col("st._5").as("sum_r"), col("st._6").as("sum_g"),
        col("st._7").as("sum_b"), col("st._8").as("wsum"))
  }

  private val imageGifSql =
    """WITH base AS (SELECT doc_id, 1 + doc_id % 3 AS nf FROM documents),
      |grid AS (
      |  SELECT f, i FROM (SELECT unnest(range(0, 3)) AS f),
      |                   (SELECT unnest(range(0, 64)) AS i)),
      |px AS (
      |  SELECT b.doc_id, b.nf, g.i,
      |    (b.doc_id * 7 + g.f * 13 + g.i * 3) % 16 AS idx
      |  FROM base b JOIN grid g ON g.f < b.nf)
      |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
      |  CAST(max(nf) AS INT) AS n_frames,
      |  -- per-frame delay is 4+f: sum over f < nf
      |  CAST(4 * max(nf) + max(nf) * (max(nf) - 1) // 2 AS BIGINT) AS total_delay_cs,
      |  CAST(sum((idx * 17) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((idx * 29) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((idx * 43) % 256) AS BIGINT) AS sum_b,
      |  CAST(sum(i * idx) AS BIGINT) AS wsum
      |FROM px GROUP BY 1""".stripMargin

  /** REAL QOI codec round-trip, FULL oracle — the modern truecolor
    * rung of the multimodal image ladder (`operators/Qoi.scala`,
    * implemented per the public qoiformat.org spec): per doc an 8×8
    * RGBA image whose closed-form pattern plants a 16-pixel constant
    * block (RUN ops), a replay of the opening colors (64-entry hash
    * INDEX ops), small channel drifts (DIFF/LUMA ops) and periodic
    * alpha dips (RGBA literals) is encoded with the real six-op chunk
    * stream, then decoded back by the real reader. QOI is LOSSLESS,
    * so the oracle re-derives every statistic from the pixel formula;
    * the raster-position-weighted `wsum` is order sensitive, so a
    * run-length or hash-slot defect that preserves the color multiset
    * still breaks the hash. */
  private def imageQoi(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long) =>
      operators.Qoi.encodeQoi(operators.Qoi.QoiImage(
        8, 8, 4, 0, operators.Qoi.fixturePixels(docId))))
    val stats = udf((p: Array[Byte]) =>
      operators.Qoi.decodeQoi(p).map { img =>
        val (sr, sg, sb, sa, wsum) = operators.Qoi.qoiStats(img)
        (img.width, img.height, img.channels, sr, sg, sb, sa, wsum)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), stats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("width"), col("st._2").as("height"),
        col("st._3").as("channels"),
        col("st._4").as("sum_r"), col("st._5").as("sum_g"),
        col("st._6").as("sum_b"), col("st._7").as("sum_a"),
        col("st._8").as("wsum"))
  }

  private val imageQoiSql =
    """WITH grid AS (SELECT unnest(range(0, 64)) AS i),
      |px AS (
      |  SELECT d.doc_id, g.i,
      |    CASE WHEN g.i BETWEEN 32 AND 47 THEN 32
      |         WHEN g.i >= 48 THEN g.i - 48 ELSE g.i END AS j
      |  FROM documents d, grid g),
      |ch AS (
      |  SELECT doc_id, i,
      |    (doc_id * 7 + j * 3) % 256 AS r,
      |    (doc_id * 11 + j * j) % 256 AS g,
      |    (doc_id * 13 + j // 4) % 256 AS b,
      |    CASE WHEN j % 16 = 7 THEN 255 - doc_id % 32 ELSE 255 END AS a
      |  FROM px)
      |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
      |  CAST(4 AS INT) AS channels,
      |  CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(sum(a) AS BIGINT) AS sum_a,
      |  CAST(sum(i * (r + g + b + a)) AS BIGINT) AS wsum
      |FROM ch GROUP BY 1""".stripMargin

  /** REAL baseline-TIFF codec round-trip, FULL oracle — the
    * tag-directory rung of the multimodal image ladder
    * (`operators/Tiff.scala`, per the published TIFF 6.0 spec): per
    * doc an 8×8 image — gray (photometric 1) or RGB (photometric 2)
    * by doc — is written with BOTH byte orders across docs ("II"
    * little / "MM" big endian), multi-strip layout (1-3 rows per
    * strip), and PackBits compression (32773) on every third doc,
    * then decoded back through the real IFD walk (typed entries,
    * inline-vs-offset by the 4-byte rule, SHORT/LONG both accepted).
    * Baseline TIFF is LOSSLESS, so the oracle re-derives the channel
    * sums and the raster-position-weighted sum from the closed-form
    * fixture; an endian swap, value-cell misread, strip slip, or
    * PackBits run defect breaks the hash. */
  private def imageTiff(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => {
      val (spp, px) = operators.Tiff.fixturePixels(d)
      operators.Tiff.encodeTiff(
        operators.Tiff.TiffImage(8, 8, spp, px),
        bigEndian = d % 2 == 1, packBits = d % 3 == 0,
        rowsPerStrip = 1 + (d % 3).toInt)
    })
    val stats = udf((p: Array[Byte]) =>
      operators.Tiff.decodeTiff(p).map { img =>
        val (sr, sg, sb, wsum) = operators.Tiff.tiffStats(img)
        (img.width, img.height, img.samplesPerPixel, sr, sg, sb, wsum)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), stats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("width"), col("st._2").as("height"),
        col("st._3").as("spp"),
        col("st._4").as("sum_r"), col("st._5").as("sum_g"),
        col("st._6").as("sum_b"), col("st._7").as("wsum"))
  }

  private val imageTiffSql =
    """WITH grid AS (SELECT unnest(range(0, 64)) AS i),
      |px AS (
      |  SELECT d.doc_id, g.i, g.i // 8 AS rw, g.i % 8 < 3 AS colrun,
      |         d.doc_id % 4 >= 2 AS rgb
      |  FROM documents d, grid g),
      |ch AS (
      |  SELECT doc_id, i, rgb,
      |    CASE WHEN colrun THEN (doc_id * 11 + rw * 17) % 256
      |         ELSE (doc_id * 7 + i * 5) % 256 END AS grayv,
      |    CASE WHEN colrun THEN (doc_id * 11 + rw * 17) % 256
      |         ELSE (doc_id * 3 + i) % 256 END AS rr,
      |    (doc_id * 5 + i * 2) % 256 AS gg,
      |    (doc_id * 7 + i * 3) % 256 AS bb
      |  FROM px),
      |fin AS (
      |  SELECT doc_id, i,
      |    CASE WHEN rgb THEN rr ELSE grayv END AS r,
      |    CASE WHEN rgb THEN gg ELSE grayv END AS g,
      |    CASE WHEN rgb THEN bb ELSE grayv END AS b
      |  FROM ch)
      |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
      |  CAST(CASE WHEN doc_id % 4 >= 2 THEN 3 ELSE 1 END AS INT) AS spp,
      |  CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(sum(i * (r + g + b)) AS BIGINT) AS wsum
      |FROM fin GROUP BY 1""".stripMargin

  /** REAL AIFF codec round-trip, FULL oracle — the big-endian
    * audio-container rung beside the RIFF/WAVE family
    * (`operators/Aiff.scala`, per the published Audio IFF 1.3 spec):
    * per doc an interleaved PCM16 stream at a doc-cycled rate
    * (8000/22050/44100/48000 — four different 80-bit EXTENDED-float
    * exponents in the COMM chunk) is written FORM/AIFF with COMM +
    * SSND all big-endian, then decoded back through the real chunk
    * walk. PCM16 is lossless, so the oracle re-derives the sample
    * stats from the closed form, and the RATE column pins the
    * extended80 round-trip — an exponent-bias or mantissa-shift defect
    * surfaces as a wrong sample_rate even though the PCM would
    * survive. */
  private def audioAiff(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => {
      val rate = Array(8000L, 22050L, 44100L, 48000L)((d % 4).toInt)
      val ch = 1 + (d % 2).toInt
      val frames = 40 + (d % 100).toInt
      operators.Aiff.encodeAiff(
        operators.Aiff.fixtureSamples(d, frames, ch), rate, ch)
    })
    val stats = udf((p: Array[Byte]) =>
      operators.Aiff.decodeAiff(p).map { a =>
        val (n, sum, wsum, mn, mx) = operators.Aiff.pcmStats(a)
        (a.channels, a.sampleRate, n, sum, wsum, mn, mx)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), stats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("channels"), col("st._2").as("sample_rate"),
        col("st._3").as("n_samples"), col("st._4").as("pcm_sum"),
        col("st._5").as("pcm_wsum"), col("st._6").as("pcm_min"),
        col("st._7").as("pcm_max"))
  }

  private val audioAiffSql =
    """WITH base AS (
      |  SELECT doc_id, 1 + doc_id % 2 AS ch, 40 + doc_id % 100 AS frames
      |  FROM documents),
      |g AS (SELECT unnest(range(0, 280)) AS i),
      |px AS (
      |  SELECT b.doc_id, g.i,
      |    (b.doc_id * 37 + g.i * 11) % 65536 - 32768 AS v
      |  FROM base b JOIN g ON g.i < b.frames * b.ch)
      |SELECT p.doc_id,
      |  CAST(max(b.ch) AS INT) AS channels,
      |  CAST(CASE p.doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 22050
      |       WHEN 2 THEN 44100 ELSE 48000 END AS BIGINT) AS sample_rate,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(v) AS BIGINT) AS pcm_sum,
      |  CAST(sum(i * v) AS BIGINT) AS pcm_wsum,
      |  CAST(min(v) AS BIGINT) AS pcm_min,
      |  CAST(max(v) AS BIGINT) AS pcm_max
      |FROM px p JOIN base b ON b.doc_id = p.doc_id
      |GROUP BY 1""".stripMargin

  /** REAL Sun AU (".snd") codec round-trip, FULL oracle — the
    * header-offset rung of the audio ladder (`operators/Au.scala`):
    * per doc either 8-bit G.711 µ-law codes (encoding 1 — expanded
    * through the same CCITT formula the `audio_g711` oracle replays)
    * or big-endian linear PCM16 (encoding 3) behind a VARIABLE data
    * offset (0/4/8 annotation bytes by doc) with every fifth doc
    * writing dataSize = 0xFFFFFFFF ("unknown — read to end", the
    * spec's legal convention), decoded through the real header walk.
    * Both encodings are lossless, so the oracle re-derives every
    * stat from the closed form; an offset slip, an unknown-size
    * misread, or a companding defect breaks the hash. */
  private def audioAu(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => {
      val ulaw = d % 2 == 0
      val ch = 1 + ((d / 2) % 2).toInt
      val frames = 30 + (d % 80).toInt
      val data =
        if (ulaw) Array.tabulate(frames * ch)(i => ((d * 61 + i * 17) % 256).toInt)
        else Array.tabulate(frames * ch)(i =>
          (((d * 37 + i * 23) % 65536) - 32768).toInt)
      operators.Au.encodeAu(
        if (ulaw) operators.Au.EncUlaw else operators.Au.EncPcm16,
        data, if (ulaw) 8000 else 44100, ch,
        annotation = Array.fill(((d % 3) * 4).toInt)('A'.toByte),
        unknownSize = d % 5 == 0)
    })
    val stats = udf((p: Array[Byte]) =>
      operators.Au.decodeAu(p).map { a =>
        val (n, sum, wsum, mn, mx) = operators.Au.pcmStats(a)
        (a.encoding, a.channels, a.sampleRate, n, sum, wsum, mn, mx)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), stats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("encoding"), col("st._2").as("channels"),
        col("st._3").as("sample_rate"), col("st._4").as("n_samples"),
        col("st._5").as("pcm_sum"), col("st._6").as("pcm_wsum"),
        col("st._7").as("pcm_min"), col("st._8").as("pcm_max"))
  }

  private val audioAuSql =
    """WITH base AS (
      |  SELECT doc_id, 1 + (doc_id // 2) % 2 AS ch, 30 + doc_id % 80 AS frames,
      |         doc_id % 2 = 0 AS ulaw
      |  FROM documents),
      |g AS (SELECT unnest(range(0, 220)) AS i),
      |px AS (
      |  SELECT b.doc_id, g.i,
      |    CASE WHEN b.ulaw THEN
      |      CASE WHEN ((255 - (b.doc_id * 61 + g.i * 17) % 256) & 128) <> 0
      |        THEN 132 - (((255 - (b.doc_id * 61 + g.i * 17) % 256) & 15) * 8 + 132)
      |               * (1 << (((255 - (b.doc_id * 61 + g.i * 17) % 256) & 112) // 16))
      |        ELSE (((255 - (b.doc_id * 61 + g.i * 17) % 256) & 15) * 8 + 132)
      |               * (1 << (((255 - (b.doc_id * 61 + g.i * 17) % 256) & 112) // 16)) - 132
      |      END
      |    ELSE (b.doc_id * 37 + g.i * 23) % 65536 - 32768 END AS v
      |  FROM base b JOIN g ON g.i < b.frames * b.ch)
      |SELECT p.doc_id,
      |  CAST(CASE WHEN p.doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS encoding,
      |  CAST(max(b.ch) AS INT) AS channels,
      |  CAST(CASE WHEN p.doc_id % 2 = 0 THEN 8000 ELSE 44100 END AS INT)
      |    AS sample_rate,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(v) AS BIGINT) AS pcm_sum,
      |  CAST(sum(i * v) AS BIGINT) AS pcm_wsum,
      |  CAST(min(v) AS BIGINT) AS pcm_min,
      |  CAST(max(v) AS BIGINT) AS pcm_max
      |FROM px p JOIN base b ON b.doc_id = p.doc_id
      |GROUP BY 1""".stripMargin

  /** robots.txt URL filtering per RFC 9309, FULL oracle — the
    * crawl-curation gate that precedes every ingest step
    * (`operators/Robots.scala`): per-host robots bodies are BUILT from
    * a closed form (20 hosts; a `*` group with prefix rules, an
    * equal-specificity Allow/Disallow tie pair, and for 3 of 4 hosts a
    * more specific `graftbot` group that must SHADOW the `*` group;
    * odd hosts upper-case the field names and carry comments +
    * unknown fields), then each doc's URL path (7 shapes — group
    * shadowing, longest-match precedence, the allow-wins tie, and
    * no-match-allows all exercised) is decided by the real parser +
    * matcher through the broadcast host join. The oracle derives every
    * decision independently from the same closed form, so a grouping,
    * precedence, tie-break, or case-handling defect flips `allowed`
    * bits and breaks the hash. */
  private def robotsFilter(s: SparkSession, dir: String): DataFrame = {
    val mkRobots = udf((h: Long) => {
      val sb = new StringBuilder
      val (ua, al, dis) =
        if (h % 2 == 1) ("USER-AGENT", "ALLOW", "DISALLOW")
        else ("User-agent", "Allow", "Disallow")
      sb ++= s"# robots for host h$h\n"
      sb ++= s"$ua: *\n"
      sb ++= s"$dis: /private\n"
      sb ++= s"$al: /private/pub${h % 3}\n"
      sb ++= s"$dis: /data/${h % 5} # keep internal\n"
      sb ++= s"$al: /dup\n$dis: /dup\n"
      sb ++= s"Crawl-delay: 5\n$dis:\n" // unknown field; empty = allow-all
      if (h % 4 != 0) {
        sb ++= s"\n$ua: graftbot\n"
        sb ++= s"$dis: /bot${h % 2}\n"
        sb ++= s"$al: /bot${h % 2}/ok\n"
      }
      sb.toString
    })
    val docs = Tables.read(s, dir, "documents")
    val d = col("doc_id")
    val path = when(d % 7 === 0, concat(lit("/private/pub"), d % 3))
      .when(d % 7 === 1, concat(lit("/data/"), d % 5, lit("/x")))
      .when(d % 7 === 2, concat(lit("/public/"), d))
      // the bot digit must NOT share parity with host = d % 20 (20 is
      // even), or the kind-3 "rule does not match -> allowed" outcome
      // would be unreachable; (d / 7) % 2 varies independently
      .when(d % 7 === 3, concat(lit("/bot"), expr("(doc_id div 7) % 2")))
      .when(d % 7 === 4, concat(lit("/bot"), expr("(doc_id div 7) % 2"),
        lit("/ok/page")))
      .when(d % 7 === 5, lit("/private"))
      .otherwise(lit("/dup/page"))
    val urls = docs.select(d, concat(lit("h"), d % 20).as("host"), path.as("path"))
    val robots = docs.select((d % 20).as("hid")).distinct()
      .select(concat(lit("h"), col("hid")).as("host"),
        mkRobots(col("hid")).as("robots_txt"))
    operators.Robots.filterUrls(urls, robots, "graftbot")
      .select(col("doc_id"), col("host"), col("path"),
        col("allowed").cast("int").as("allowed"))
  }

  private val robotsFilterSql =
    """SELECT doc_id,
      |  'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
      |  CASE doc_id % 7
      |    WHEN 0 THEN '/private/pub' || CAST(doc_id % 3 AS VARCHAR)
      |    WHEN 1 THEN '/data/' || CAST(doc_id % 5 AS VARCHAR) || '/x'
      |    WHEN 2 THEN '/public/' || CAST(doc_id AS VARCHAR)
      |    WHEN 3 THEN '/bot' || CAST((doc_id // 7) % 2 AS VARCHAR)
      |    WHEN 4 THEN '/bot' || CAST((doc_id // 7) % 2 AS VARCHAR) || '/ok/page'
      |    WHEN 5 THEN '/private'
      |    ELSE '/dup/page' END AS path,
      |  CAST(CASE doc_id % 7
      |    -- hosts ≡ 0 (mod 4) expose only the * group; others are
      |    -- decided by the graftbot group, which SHADOWS *
      |    WHEN 0 THEN CASE WHEN (doc_id % 20) % 4 = 0
      |      THEN doc_id % 3 = (doc_id % 20) % 3 ELSE TRUE END
      |    WHEN 1 THEN CASE WHEN (doc_id % 20) % 4 = 0
      |      THEN doc_id % 5 <> (doc_id % 20) % 5 ELSE TRUE END
      |    WHEN 2 THEN TRUE
      |    WHEN 3 THEN CASE WHEN (doc_id % 20) % 4 = 0
      |      THEN TRUE ELSE (doc_id // 7) % 2 <> (doc_id % 20) % 2 END
      |    WHEN 4 THEN TRUE -- /botB/ok allow out-ranks /botB disallow
      |                     -- when B matches; no rule matches otherwise
      |    WHEN 5 THEN (doc_id % 20) % 4 <> 0
      |    ELSE TRUE -- equal-specificity /dup tie: allow wins
      |  END AS INT) AS allowed
      |FROM documents""".stripMargin

  /** Robots.txt sitemap DISCOVERY, FULL oracle — the hop connecting
    * `robots_filter` to `sitemap_parse` (`operators/Robots
    * .sitemapDiscovery`): per host the declared `Sitemap:` URLs in
    * document order. Fixture robots files mix field-name case
    * (Sitemap/sitemap/SITEMAP), a no-space `SITEMAP:` separator, a
    * trailing `#` comment on the value line, and a decoy
    * "Sitemapfoo:" field that must NOT match; every third host also
    * exercises the conditional second/third line so the position
    * arithmetic is real. Closed-form oracle over the host scaffold. */
  private def robotsSitemapsQ(s: SparkSession, dir: String): DataFrame = {
    val hid = col("hid")
    val txt = concat(
      lit("# robots for h"), hid,
      lit("\nUser-agent: *\nDisallow: /private\n"),
      lit("Sitemap: https://h"), hid, lit(".example/sitemap.xml\n"),
      when(hid % 2 === 0, concat(lit("sitemap: https://h"), hid,
        lit(".example/news-"), hid % 3, lit(".xml\n"))).otherwise(lit("")),
      lit("Sitemapfoo: https://bad.example/decoy.xml\n"),
      when(hid % 5 === 0, concat(lit("SITEMAP:https://h"), hid,
        lit(".example/extra.xml # from the index\n"))).otherwise(lit("")))
    val robots = Tables.read(s, dir, "documents")
      .select((col("doc_id") % 20).as("hid")).distinct()
      .select(concat(lit("h"), hid).as("host"), txt.as("robots_txt"))
    operators.Robots.sitemapDiscovery(robots)
  }

  private val robotsSitemapsSql =
    """WITH h AS (SELECT DISTINCT doc_id % 20 AS hid FROM documents)
      |SELECT 'h' || hid AS host, CAST(0 AS BIGINT) AS pos,
      |  'https://h' || hid || '.example/sitemap.xml' AS sitemap_url
      |FROM h
      |UNION ALL
      |SELECT 'h' || hid, CAST(1 AS BIGINT),
      |  'https://h' || hid || '.example/news-' || (hid % 3) || '.xml'
      |FROM h WHERE hid % 2 = 0
      |UNION ALL
      |SELECT 'h' || hid,
      |  CAST(CASE WHEN hid % 2 = 0 THEN 2 ELSE 1 END AS BIGINT),
      |  'https://h' || hid || '.example/extra.xml'
      |FROM h WHERE hid % 5 = 0""".stripMargin

  /** Charset detection + transcoding, FULL oracle — the byte-to-text
    * step between [[warcIngest]] and every text operator
    * (`operators/Charset.scala`): per doc a payload drawn from five
    * byte shapes — pure ASCII, multibyte UTF-8, CP1252 smart quotes
    * (invalid UTF-8), a dangling Latin-1 é lead byte, and an overlong
    * encoding the strict validator must refuse — runs the WHATWG
    * ladder (strict RFC 3629 UTF-8, windows-1252 fallback). The
    * oracle re-derives the detected charset AND the decoded text
    * itself as string literals, so a validator shape rule or a
    * mapping-table defect flips rows and breaks the hash. */
  private def charsetDecode(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => {
      val digits = d.toString.getBytes("US-ASCII")
      (d % 5) match {
        case 0 => ("plain " + d).getBytes("UTF-8")
        case 1 => ("café €" + d).getBytes("UTF-8")
        case 2 => Array[Byte](0x93.toByte, 'q', 0x94.toByte) ++
          " n=".getBytes("US-ASCII") ++ digits
        case 3 => Array[Byte](0xe9.toByte, ' ') ++ digits
        case _ => Array[Byte](0xc0.toByte, 0xaf.toByte) ++ digits // overlong '/'
      }
    })
    val dec = udf((p: Array[Byte]) => operators.Charset.detectAndDecode(p))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), dec(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("detected"), col("st._2").as("decoded"),
        length(col("st._2")).as("n_chars"))
  }

  private val charsetDecodeSql =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 <= 1 THEN 'utf-8'
      |         ELSE 'windows-1252' END AS detected,
      |    CASE doc_id % 5
      |      WHEN 0 THEN 'plain ' || CAST(doc_id AS VARCHAR)
      |      WHEN 1 THEN 'café €' || CAST(doc_id AS VARCHAR)
      |      WHEN 2 THEN '“q” n=' || CAST(doc_id AS VARCHAR)
      |      WHEN 3 THEN 'é ' || CAST(doc_id AS VARCHAR)
      |      ELSE 'À¯' || CAST(doc_id AS VARCHAR) END AS decoded
      |  FROM documents)
      |SELECT doc_id, detected, decoded,
      |  CAST(length(decoded) AS INT) AS n_chars
      |FROM d""".stripMargin

  /** Unicode NFC normalization, FULL oracle — the canonicalization
    * step text dedup depends on (a decomposed "Café" and a
    * precomposed "Café" must hash identically downstream). Runs
    * java.text.Normalizer NFC against DuckDB's independent utf8proc
    * `nfc_normalize` — BOTH SIDES normalize the same denormalized
    * closed-form input (combining acute/ring, an already-NFC string,
    * and a letter with no precomposed form that NFC must LEAVE
    * decomposed), so any divergence between the two Unicode
    * implementations or a wrong normalization form breaks the hash
    * on the text column itself. */
  private def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => (d % 4) match {
      case 0 => "Cafe\u0301 " + d // e + combining acute -> é
      case 1 => "A\u030A " + d // A + combining ring -> Å
      case 2 => "fini " + d // already NFC: identity
      case _ => "x\u0301 " + d // no precomposed x-acute: stays decomposed
    })
    val norm = udf((t: String) =>
      java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("raw"))
      .select(col("doc_id"), norm(col("raw")).as("normalized"),
        length(col("raw")).as("n_before"))
      .select(col("doc_id"), col("normalized"), col("n_before"),
        length(col("normalized")).as("n_after"))
  }

  private val textNormalizeSql =
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4
      |      WHEN 0 THEN 'Cafe' || chr(769) || ' ' || CAST(doc_id AS VARCHAR)
      |      WHEN 1 THEN 'A' || chr(778) || ' ' || CAST(doc_id AS VARCHAR)
      |      WHEN 2 THEN 'fini ' || CAST(doc_id AS VARCHAR)
      |      ELSE 'x' || chr(769) || ' ' || CAST(doc_id AS VARCHAR)
      |    END AS r
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(r) AS normalized,
      |  CAST(length(r) AS INT) AS n_before,
      |  CAST(length(nfc_normalize(r)) AS INT) AS n_after
      |FROM raw""".stripMargin

  /** IDN host decode per RFC 3492, FULL oracle — the hostname leg of
    * URL canonicalization (`operators/Punycode.scala`): per doc an
    * ACE-form host drawn from five shapes (three real `xn--` labels
    * with different basic/extended mixes, a plain-ASCII host, and a
    * malformed ACE label that must FAIL OPEN per-label) runs the real
    * bootstring decoder label-by-label. The oracle pins the decoded
    * Unicode hosts as literals, so a bias-adaptation, insertion-order,
    * or fail-open defect flips rows and breaks the hash. (The encoder
    * and decoder are additionally spec-tested byte-for-byte against
    * the JDK's independent java.net.IDN on random labels.) */
  private def urlIdn(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val ascii = when(d % 5 === 0, lit("xn--mnchen-3ya.example.de"))
      .when(d % 5 === 1, lit("xn--bcher-kva.shop"))
      .when(d % 5 === 2, lit("xn--caf-dma.fr"))
      .when(d % 5 === 3, lit("plain.example.com"))
      .otherwise(lit("xn--!bad!.example"))
    val toUni = udf((h: String) => operators.Punycode.toUnicodeHost(h))
    Tables.read(s, dir, "documents")
      .select(d, ascii.as("ascii_host"))
      .select(d, col("ascii_host"), toUni(col("ascii_host")).as("unicode_host"))
  }

  private val urlIdnSql =
    """SELECT doc_id,
      |  CASE doc_id % 5
      |    WHEN 0 THEN 'xn--mnchen-3ya.example.de'
      |    WHEN 1 THEN 'xn--bcher-kva.shop'
      |    WHEN 2 THEN 'xn--caf-dma.fr'
      |    WHEN 3 THEN 'plain.example.com'
      |    ELSE 'xn--!bad!.example' END AS ascii_host,
      |  CASE doc_id % 5
      |    WHEN 0 THEN 'münchen.example.de'
      |    WHEN 1 THEN 'bücher.shop'
      |    WHEN 2 THEN 'café.fr'
      |    WHEN 3 THEN 'plain.example.com'
      |    ELSE 'xn--!bad!.example' END AS unicode_host
      |FROM documents""".stripMargin

  /** Percent-encoding normalization per RFC 3986 §6.2.2, FULL
    * oracle — the escape-spelling leg of URL canonicalization
    * (`operators/UrlNormalize.scala`): per doc a URL drawn from five
    * escape shapes (unreserved escapes that must DECODE, reserved
    * escapes that must UPPERCASE only, multibyte UTF-8 escapes, a
    * malformed trailing '%' that must pass through, plain) runs the
    * normalizer; the oracle pins normalized URLs as literals. */
  private def urlPctNorm(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val raw = when(d % 5 === 0, concat(lit("http://ex.com/%7Euser/%41bc/p"), d))
      .when(d % 5 === 1, concat(lit("http://ex.com/a%2fb/p"), d, lit("?q=%2a")))
      .when(d % 5 === 2, concat(lit("http://ex.com/caf%c3%a9/p"), d))
      .when(d % 5 === 3, concat(lit("http://ex.com/p"), d, lit("/100%")))
      .otherwise(concat(lit("http://ex.com/plain/p"), d))
    val norm = udf((u: String) => operators.UrlNormalize.normalizePercent(u))
    Tables.read(s, dir, "documents")
      .select(d, raw.as("url"))
      .select(d, col("url"), norm(col("url")).as("normalized"))
  }

  private val urlPctNormSql =
    """SELECT doc_id,
      |  CASE doc_id % 5
      |    WHEN 0 THEN 'http://ex.com/%7Euser/%41bc/p' || CAST(doc_id AS VARCHAR)
      |    WHEN 1 THEN 'http://ex.com/a%2fb/p' || CAST(doc_id AS VARCHAR) || '?q=%2a'
      |    WHEN 2 THEN 'http://ex.com/caf%c3%a9/p' || CAST(doc_id AS VARCHAR)
      |    WHEN 3 THEN 'http://ex.com/p' || CAST(doc_id AS VARCHAR) || '/100%'
      |    ELSE 'http://ex.com/plain/p' || CAST(doc_id AS VARCHAR) END AS url,
      |  CASE doc_id % 5
      |    WHEN 0 THEN 'http://ex.com/~user/Abc/p' || CAST(doc_id AS VARCHAR)
      |    WHEN 1 THEN 'http://ex.com/a%2Fb/p' || CAST(doc_id AS VARCHAR) || '?q=%2A'
      |    WHEN 2 THEN 'http://ex.com/caf%C3%A9/p' || CAST(doc_id AS VARCHAR)
      |    WHEN 3 THEN 'http://ex.com/p' || CAST(doc_id AS VARCHAR) || '/100%'
      |    ELSE 'http://ex.com/plain/p' || CAST(doc_id AS VARCHAR) END AS normalized
      |FROM documents""".stripMargin

  /** Sitemap parsing per sitemaps.org, FULL oracle — the frontier
    * EXPANSION step beside `robots_filter`
    * (`operators/Sitemap.scala`): per doc a closed-form XML document —
    * every seventh doc a `<sitemapindex>` (the recursive kind), the
    * rest `<urlset>` leaves with 1-3 url entries whose optional
    * lastmod/changefreq/priority fields alternate present/absent —
    * runs the XXE-hardened DOM parse and explodes to entry rows. The
    * oracle re-derives every row from the same formula, so a tag-walk,
    * optional-field, or kind-dispatch defect changes rows and breaks
    * the hash. */
  private def sitemapParse(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => {
      val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      val lastmod = f"2024-${1 + d % 12}%02d-${1 + d % 28}%02d"
      if (d % 7 == 0) {
        sb ++= "<sitemapindex>"
        (0 until 2).foreach { i =>
          sb ++= s"<sitemap><loc>http://s${d % 9}.example/sm$d-$i.xml</loc>"
          if (i == 0) sb ++= s"<lastmod>$lastmod</lastmod>"
          sb ++= "</sitemap>"
        }
        sb ++= "</sitemapindex>"
      } else {
        sb ++= "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"
        (0 until (1 + (d % 3)).toInt).foreach { i =>
          sb ++= s"<url><loc>http://s${d % 9}.example/page$d-$i</loc>"
          if (i % 2 == 0) {
            sb ++= s"<lastmod>$lastmod</lastmod>"
            sb ++= s"<changefreq>${Seq("daily", "weekly", "monthly")(i % 3)}</changefreq>"
            sb ++= s"<priority>0.${1 + (d + i) % 9}</priority>"
          }
          sb ++= "</url>"
        }
        sb ++= "</urlset>"
      }
      sb.toString
    })
    val parse = udf((xml: String) =>
      operators.Sitemap.parseSitemap(xml).map(_.map(e =>
        (e.kind, e.loc, e.lastmod, e.changefreq, e.priority))))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), parse(mk(col("doc_id"))).as("entries"))
      .select(col("doc_id"), explode(col("entries")).as("e"))
      .select(col("doc_id"),
        col("e._1").as("kind"), col("e._2").as("loc"),
        col("e._3").as("lastmod"), col("e._4").as("changefreq"),
        col("e._5").as("priority"))
  }

  private val sitemapParseSql =
    """WITH g AS (SELECT unnest(range(0, 3)) AS i),
      |rows_ AS (
      |  SELECT d.doc_id, g.i,
      |    CASE WHEN d.doc_id % 7 = 0 THEN 'sitemapindex' ELSE 'urlset' END AS kind,
      |    '2024-' || lpad(CAST(1 + d.doc_id % 12 AS VARCHAR), 2, '0') ||
      |      '-' || lpad(CAST(1 + d.doc_id % 28 AS VARCHAR), 2, '0') AS lm
      |  FROM documents d JOIN g ON
      |    CASE WHEN d.doc_id % 7 = 0 THEN g.i < 2
      |         ELSE g.i < 1 + d.doc_id % 3 END)
      |SELECT doc_id, kind,
      |  CASE WHEN kind = 'sitemapindex'
      |    THEN 'http://s' || CAST(doc_id % 9 AS VARCHAR) || '.example/sm' ||
      |         CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) || '.xml'
      |    ELSE 'http://s' || CAST(doc_id % 9 AS VARCHAR) || '.example/page' ||
      |         CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) END AS loc,
      |  CASE WHEN kind = 'sitemapindex' THEN CASE WHEN i = 0 THEN lm ELSE '' END
      |       WHEN i % 2 = 0 THEN lm ELSE '' END AS lastmod,
      |  CASE WHEN kind = 'urlset' AND i % 2 = 0
      |    THEN CASE i % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
      |         ELSE 'monthly' END ELSE '' END AS changefreq,
      |  CASE WHEN kind = 'urlset' AND i % 2 = 0
      |    THEN '0.' || CAST(1 + (doc_id + i) % 9 AS VARCHAR) ELSE '' END AS priority
      |FROM rows_""".stripMargin

  /** Content-type sniffing, FULL oracle — the decoder-dispatch step a
    * crawl pipeline runs before trusting any Content-Type header
    * (`operators/MimeSniff.scala`): per doc a REAL payload from one of
    * 16 format families — each produced by this repo's own encoder
    * (PNG, GIF, QOI, TIFF in both byte orders, WAV, AIFF, AU, FLAC,
    * ID3-led MPEG audio, FLIC, gzip'd WARC, ustar, sitemap XML,
    * RIFF/WEBP/VP8L, PKZIP, PDF) — is
    * sniffed from its magic bytes alone. The oracle derives the
    * expected type from the doc's format dial, so a signature,
    * byte-order, or shared-prefix-disambiguation defect (RIFF/WAVE,
    * FORM/AIFF) flips rows and breaks the hash. An integration query
    * by design: it exercises 16 encoders and the sniffer in one pass. */
  private def mimeSniff(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => (d % 16) match {
      case 0 => operators.Multimodal.encodePng8x8(
        Array.tabulate(64)(i => (i * 4) % 256))
      case 1 => operators.Gif.encodeGif(operators.Gif.GifImage(8, 8,
        operators.Gif.fixturePalette16,
        Seq(operators.Gif.GifFrame(1, false, operators.Gif.fixtureIndices(d, 0)))))
      case 2 => operators.Qoi.encodeQoi(operators.Qoi.QoiImage(
        8, 8, 4, 0, operators.Qoi.fixturePixels(d)))
      case 3 =>
        val (spp, px) = operators.Tiff.fixturePixels(d)
        operators.Tiff.encodeTiff(operators.Tiff.TiffImage(8, 8, spp, px),
          bigEndian = d % 2 == 1)
      case 4 => operators.Multimodal.encodeWavPcm16(
        Array.tabulate[Short](64)(i => (i * 17).toShort), 8000, 1)
      case 5 => operators.Aiff.encodeAiff(
        operators.Aiff.fixtureSamples(d, 32, 1), 44100L, 1)
      case 6 => operators.Au.encodeAu(operators.Au.EncUlaw,
        Array.tabulate(32)(i => (i * 5) % 256), 8000, 1)
      case 7 => operators.Flac.encodeFlac(
        Array.tabulate[Short](128)(i => (i * 31).toShort), 8000, 1)
      case 8 => operators.Id3.encodeId3v2(Seq("TIT2" -> s"Track $d")) ++
        Array[Byte](0xff.toByte, 0xfb.toByte) // tag then a Layer III sync
      case 9 => operators.Flic.encodeFlic(operators.Flic.FlicVideo(8, 8, 40,
        Array.tabulate(256)(identity),
        Seq(Array.tabulate[Byte](64)(i => (i % 16).toByte))))
      case 10 => operators.Warc.encodeWarcGz(Seq(operators.Warc.WarcRecord(
        "response", s"<urn:uuid:$d>", s"http://ex.com/$d",
        s"payload $d".getBytes("UTF-8"))))
      case 11 => operators.WebDataset.encodeTar(Seq(
        operators.WebDataset.TarEntry(s"$d.txt", s"x$d".getBytes("UTF-8"))))
      case 12 =>
        (s"""<?xml version="1.0"?><urlset><url><loc>http://ex.com/$d""" +
          "</loc></url></urlset>").getBytes("UTF-8")
      case 13 => operators.Vp8l.encodeWebp(
        Array.tabulate(64)(i => 0xff000000 | ((d.toInt * 31 + i * 7) % 256)),
        8, 8, operators.Vp8l.Vp8lConfig())
      case 14 => operators.Zip.encodeZip(Seq(operators.Zip.Entry(
        "doc.txt", s"zip doc $d".getBytes("UTF-8"))))
      case _ => operators.Pdf.encodePdf(Seq(operators.Pdf.Page(
        Seq(s"pdf doc $d"))))
    })
    val sniff = udf((p: Array[Byte]) => operators.MimeSniff.sniff(p))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), sniff(col("payload")).as("mime"))
  }

  private val mimeSniffSql =
    """SELECT doc_id,
      |  CASE doc_id % 16
      |    WHEN 0 THEN 'image/png'      WHEN 1 THEN 'image/gif'
      |    WHEN 2 THEN 'image/qoi'      WHEN 3 THEN 'image/tiff'
      |    WHEN 4 THEN 'audio/wav'      WHEN 5 THEN 'audio/aiff'
      |    WHEN 6 THEN 'audio/basic'    WHEN 7 THEN 'audio/flac'
      |    WHEN 8 THEN 'audio/mpeg'     WHEN 9 THEN 'video/flic'
      |    WHEN 10 THEN 'application/gzip'
      |    WHEN 11 THEN 'application/x-tar'
      |    WHEN 12 THEN 'application/xml'
      |    WHEN 13 THEN 'image/webp'
      |    WHEN 14 THEN 'application/zip'
      |    ELSE 'application/pdf' END AS mime
      |FROM documents""".stripMargin

  /** REAL TGA codec round-trip, FULL oracle — the origin-flip rung of
    * the multimodal image ladder (`operators/Tga.scala`, per the
    * Truevision TGA 2.0 spec): per doc an 8×8 image — 24-bit BGR or
    * 32-bit BGRA by doc — cycles uncompressed/RLE and TOP-DOWN vs the
    * format's default BOTTOM-UP row order; decode normalizes origin,
    * unpacks the BGR(A) order, and expands +1-biased RLE packets. TGA
    * is lossless, so the oracle re-derives the channel sums and the
    * raster-position-weighted sum (whose row term makes an origin
    * miss or channel swap break the hash) from the closed form. */
  private def imageTga(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) =>
      operators.Tga.encodeTga(
        operators.Tga.TgaImage(8, 8, d % 2 == 1, operators.Tga.fixturePixels(d)),
        rle = d % 3 == 0, topDown = d % 4 < 2))
    val stats = udf((p: Array[Byte]) =>
      operators.Tga.decodeTga(p).map { img =>
        val (sr, sg, sb, sa, wsum) = operators.Tga.tgaStats(img)
        (img.width, img.height, if (img.hasAlpha) 1 else 0, sr, sg, sb, sa, wsum)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      .select(col("doc_id"), stats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("width"), col("st._2").as("height"),
        col("st._3").as("has_alpha"),
        col("st._4").as("sum_r"), col("st._5").as("sum_g"),
        col("st._6").as("sum_b"), col("st._7").as("sum_a"),
        col("st._8").as("wsum"))
  }

  private val imageTgaSql =
    """WITH grid AS (SELECT unnest(range(0, 64)) AS i),
      |px AS (
      |  SELECT d.doc_id, g.i, g.i // 8 AS rw,
      |    (g.i % 8 < 3 AND (g.i // 8) % 2 = 0) AS runcell
      |  FROM documents d, grid g),
      |ch AS (
      |  SELECT doc_id, i,
      |    CASE WHEN runcell THEN (doc_id * 13 + rw * 19) % 256
      |         ELSE (doc_id * 3 + i * 7) % 256 END AS r,
      |    (doc_id * 5 + rw * 11) % 256 AS g,
      |    CASE WHEN runcell THEN (doc_id * 7 + rw * 23) % 256
      |         ELSE (doc_id * 7 + i) % 256 END AS b,
      |    CASE WHEN doc_id % 2 = 0 THEN 255
      |         WHEN runcell THEN 128 + (doc_id + rw) % 128
      |         ELSE 128 + (doc_id + i) % 128 END AS a
      |  FROM px)
      |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
      |  CAST(doc_id % 2 AS INT) AS has_alpha,
      |  CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(sum(a) AS BIGINT) AS sum_a,
      |  CAST(sum(i * (r + g + b + a)) AS BIGINT) AS wsum
      |FROM ch GROUP BY 1""".stripMargin

  /** WARC web-archive ingestion, FULL oracle — the crawl ENTRY step
    * (`operators/Warc.scala`): per doc a 3-record WARC/1.0 archive
    * (request / response carrying the doc text / metadata) is written
    * as one-gzip-member-per-record `.warc.gz` (the Common-Crawl
    * random-access convention), then decoded by the real reader —
    * member-at-a-time Inflater walk with CRC32+ISIZE verification,
    * WARC framing parse, Content-Length payload split. The oracle
    * re-derives record count, byte totals (octet_length — exact for
    * any Unicode), token count of the DECODED response text, and the
    * target URI from the documents columns; losing a member, a byte,
    * or a frame anywhere breaks the hash. */
  private def warcIngest(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long, text: String, lang: String) => {
      val uri = s"http://crawl.invalid/doc/$docId"
      val t = if (text == null) "" else text
      operators.Warc.encodeWarcGz(Seq(
        operators.Warc.WarcRecord("request", s"<urn:uuid:req-$docId>", uri,
          s"GET /doc/$docId".getBytes("UTF-8")),
        operators.Warc.WarcRecord("response", s"<urn:uuid:resp-$docId>", uri,
          t.getBytes("UTF-8")),
        operators.Warc.WarcRecord("metadata", s"<urn:uuid:meta-$docId>", uri,
          s"lang=$lang".getBytes("UTF-8"))))
    })
    val archives = Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        mk(col("doc_id"), col("text"), col("lang")).as("payload"))
    operators.Warc.extractRecords(archives, "doc_id", "payload")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_records"),
        sum(col("content_bytes")).cast("long").as("total_bytes"),
        max(when(col("record_type") === "response", col("content_bytes")))
          .cast("long").as("resp_bytes"),
        max(when(col("record_type") === "response",
          size(regexp_extract_all(lower(col("content")),
            lit("[a-z0-9]+"), lit(0))))).cast("long").as("n_tokens"),
        max(col("target_uri")).as("uri"))
  }

  private val warcIngestSql =
    """SELECT doc_id,
      |  CAST(3 AS BIGINT) AS n_records,
      |  CAST(strlen(text) + strlen('GET /doc/' || doc_id)
      |       + strlen('lang=' || lang) AS BIGINT) AS total_bytes,
      |  CAST(strlen(text) AS BIGINT) AS resp_bytes,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |  'http://crawl.invalid/doc/' || doc_id AS uri
      |FROM documents""".stripMargin

  /** ZIP shard ingestion, FULL oracle — the third archive rung after
    * WARC and ustar (`operators/Zip.scala`): per doc a 3-entry ZIP
    * (deflated doc text, STORED metadata JSON, a streaming-written
    * deflated pad entry using general-purpose bit 3 + data descriptor)
    * is encoded with real local headers / central directory / EOCD,
    * then decoded by the real reader — backwards EOCD scan, central
    * directory walk (authoritative sizes/CRC, required for the
    * descriptor entry), raw-Inflater bodies, CRC32 + both-size
    * verification per entry. The oracle re-derives entry count, byte
    * totals, and the token count of the DECODED doc text from the
    * documents columns; losing an entry, a byte, or a descriptor
    * anywhere breaks the hash. */
  private def zipIngest(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long, text: String, lang: String) => {
      val t = if (text == null) "" else text
      val meta = s"""{"id":$docId,"lang":"$lang"}"""
      val pad = ("pad-" + docId) * (1 + (docId % 5).toInt)
      operators.Zip.encodeZip(Seq(
        operators.Zip.Entry("text/doc.txt", t.getBytes("UTF-8"), method = 8),
        operators.Zip.Entry("meta.json", meta.getBytes("UTF-8"), method = 0),
        operators.Zip.Entry("extra/pad.bin", pad.getBytes("UTF-8"),
          method = 8, descriptor = true)),
        comment = s"shard-$docId")
    })
    val archives = Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        mk(col("doc_id"), col("text"), col("lang")).as("payload"))
    operators.Zip.extractEntries(archives, "doc_id", "payload")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_entries"),
        sum(col("content_bytes")).cast("long").as("total_bytes"),
        max(when(col("entry_name") === "text/doc.txt", col("content_bytes")))
          .cast("long").as("doc_bytes"),
        max(when(col("entry_name") === "text/doc.txt",
          size(regexp_extract_all(lower(col("content")),
            lit("[a-z0-9]+"), lit(0))))).cast("long").as("n_tokens"),
        min(col("entry_name")).as("first_entry"))
  }

  private val zipIngestSql =
    """SELECT doc_id,
      |  CAST(3 AS BIGINT) AS n_entries,
      |  CAST(strlen(text)
      |       + strlen('{"id":' || doc_id || ',"lang":"' || lang || '"}')
      |       + strlen(repeat('pad-' || doc_id, CAST(1 + doc_id % 5 AS INT)))
      |       AS BIGINT) AS total_bytes,
      |  CAST(strlen(text) AS BIGINT) AS doc_bytes,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |  'extra/pad.bin' AS first_entry
      |FROM documents""".stripMargin

  /** EXIF metadata extract + GPS scrub, FULL oracle — the PII-in-
    * metadata pass of the multimodal ladder (`operators/Exif.scala`):
    * per doc a real ImageIO JPEG gets a spec-shaped APP1 Exif segment
    * (TIFF header in BOTH byte orders, IFD0 camera tags, Exif sub-IFD,
    * GPS IFD with deg/min/sec RATIONALs on 2 of 3 docs), odd docs are
    * GPS-SCRUBBED through the generic re-layout, and the real parser
    * (marker walk + IFD walk) recovers the typed columns. The oracle
    * re-derives every field incl. which docs still carry GPS; a
    * mis-read tag type, endian slip, inline/external packing bug, or a
    * scrub that drops a non-GPS tag breaks the hash. */
  private def imageExif(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long) => {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) { img.setRGB(x, y, ((docId.toInt * 31 + x * 16 + y) % 256) * 0x010101); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      import operators.Exif
      val gps: Vector[Exif.Entry] =
        if (docId % 3 != 0) Vector(
          Exif.ascii(if (docId % 2 == 0) "N" else "S").copy(tag = 0x0001),
          Exif.rational((docId % 90, 1L), (docId % 60, 1L), ((docId * 7) % 6000, 100L)).copy(tag = 0x0002),
          Exif.ascii(if (docId % 4 < 2) "E" else "W").copy(tag = 0x0003),
          Exif.rational((docId % 180, 1L), ((docId * 3) % 60, 1L), ((docId * 11) % 6000, 100L)).copy(tag = 0x0004))
        else Vector.empty
      val data = Exif.ExifData(
        bigEndian = docId % 2 == 0,
        ifd0 = Vector(
          Exif.ascii("Cam" + (docId % 7)).copy(tag = 0x010f),
          Exif.ascii("Model-" + (docId % 13)).copy(tag = 0x0110),
          Exif.short(1 + docId % 8).copy(tag = 0x0112),
          Exif.ascii("2020:01:0" + (1 + docId % 9) + " 12:00:00").copy(tag = 0x0132)),
        exifIfd = Vector(
          Exif.short(100 * (1 + docId % 16)).copy(tag = 0x8827),
          Exif.long(16L).copy(tag = 0xa002),
          Exif.long(16L).copy(tag = 0xa003)),
        gpsIfd = gps)
      val tagged = Exif.embedExif(bos.toByteArray, data)
      if (docId % 2 == 1) Exif.scrubGps(tagged) else tagged
    })
    val parse = udf((jpeg: Array[Byte]) => {
      import operators.Exif
      Exif.parseExif(jpeg).map { d =>
        (if (d.bigEndian) "MM" else "II",
          Exif.asciiValue(d.ifd0, 0x010f).orNull,
          Exif.asciiValue(d.ifd0, 0x0110).orNull,
          Exif.numValue(d.ifd0, 0x0112).getOrElse(-1L),
          Exif.asciiValue(d.ifd0, 0x0132).orNull,
          Exif.numValue(d.exifIfd, 0x8827).getOrElse(-1L),
          Exif.numValue(d.exifIfd, 0xa002).getOrElse(-1L),
          d.gpsIfd.nonEmpty,
          Exif.rationals(d.gpsIfd, 0x0002).map(r => r(0)._1).getOrElse(-1L),
          Exif.rationals(d.gpsIfd, 0x0002).map(r => r(2)._1).getOrElse(-1L),
          Exif.asciiValue(d.gpsIfd, 0x0003).getOrElse("-"))
      }
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), parse(mk(col("doc_id"))).as("e"))
      .select(col("doc_id"),
        col("e._1").as("byte_order"), col("e._2").as("make"),
        col("e._3").as("model"), col("e._4").as("orientation"),
        col("e._5").as("date_time"), col("e._6").as("iso"),
        col("e._7").as("px_x"), col("e._8").as("has_gps"),
        col("e._9").as("lat_deg"), col("e._10").as("lat_sec_x100"),
        col("e._11").as("lon_ref"))
  }

  private val imageExifSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
      |  'Cam' || (doc_id % 7) AS make,
      |  'Model-' || (doc_id % 13) AS model,
      |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
      |  '2020:01:0' || (1 + doc_id % 9) || ' 12:00:00' AS date_time,
      |  CAST(100 * (1 + doc_id % 16) AS BIGINT) AS iso,
      |  CAST(16 AS BIGINT) AS px_x,
      |  (doc_id % 3 <> 0 AND doc_id % 2 = 0) AS has_gps,
      |  CAST(CASE WHEN doc_id % 3 <> 0 AND doc_id % 2 = 0
      |       THEN doc_id % 90 ELSE -1 END AS BIGINT) AS lat_deg,
      |  CAST(CASE WHEN doc_id % 3 <> 0 AND doc_id % 2 = 0
      |       THEN (doc_id * 7) % 6000 ELSE -1 END AS BIGINT) AS lat_sec_x100,
      |  CASE WHEN doc_id % 3 <> 0 AND doc_id % 2 = 0
      |       THEN (CASE WHEN doc_id % 4 < 2 THEN 'E' ELSE 'W' END)
      |       ELSE '-' END AS lon_ref
      |FROM documents""".stripMargin

  /** Markdown → text extraction, FULL oracle — the README/docs/forum
    * curation twin of `strip_markup` (`TextAnalysis.Markdown.strip`):
    * each doc is wrapped in a deterministic markdown shell (ATX
    * header, blockquote, bulleted + ordered lists, a fenced code block
    * that must be DROPPED, a link + image + inline code that must keep
    * their text, emphasis, a horizontal rule) and the ALL-NATIVE
    * regexp chain recovers the prose; every pattern is RE2-compatible
    * and the oracle replays the identical chain with 'g' flags. Zero
    * UDF on either side. */
  private def markdownStrip(s: SparkSession, dir: String): DataFrame = {
    val nl = "\n"
    val head = "# Title" + nl + nl +
      "> quoted wisdom" + nl + nl +
      "- item one" + nl +
      "* item *two*" + nl +
      "1. third item" + nl + nl +
      "```" + nl + "code fence dropped" + nl + "```" + nl + nl
    val mid = ") and ![alt img](i.png) plus `inline code` now." + nl + nl
    val tail = nl + nl + "---" + nl
    val raw = concat(lit(head + "See [link text](http://x.invalid/"),
      col("doc_id"), lit(mid), col("text"), lit(tail))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        functions.TextAnalysis.Markdown.strip(raw).as("clean_text"))
      .withColumn("n_chars", length(col("clean_text")).cast("long"))
  }

  private val markdownStripSql =
    """WITH raw AS (
      |  SELECT doc_id,
      |    '# Title' || chr(10) || chr(10) ||
      |    '> quoted wisdom' || chr(10) || chr(10) ||
      |    '- item one' || chr(10) ||
      |    '* item *two*' || chr(10) ||
      |    '1. third item' || chr(10) || chr(10) ||
      |    '```' || chr(10) || 'code fence dropped' || chr(10) || '```' || chr(10) || chr(10) ||
      |    'See [link text](http://x.invalid/' || doc_id ||
      |    ') and ![alt img](i.png) plus `inline code` now.' || chr(10) || chr(10) ||
      |    text || chr(10) || chr(10) || '---' || chr(10) AS m
      |  FROM documents),
      |st AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(m,
      |      '(?s)```.*?```', ' ', 'g'),
      |      '!\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
      |      '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
      |      '`([^`]*)`', '\1', 'g'),
      |      '(?m)^#{1,6}[ \t]*', '', 'g'),
      |      '(?m)^[ \t]*>[ \t]?', '', 'g'),
      |      '(?m)^[ \t]*\d+\.[ \t]+', '', 'g'),
      |      '(?m)^[ \t]*[-*+][ \t]+', '', 'g'),
      |      '(?m)^[-*_ \t]{3,}$', ' ', 'g'),
      |      '(?m)^=+[ \t]*$', ' ', 'g'),
      |      '\*{1,3}([^*\n]+)\*{1,3}', '\1', 'g'),
      |      '_{1,3}([^_\n]+)_{1,3}', '\1', 'g') AS s1
      |  FROM raw)
      |SELECT doc_id,
      |  trim(regexp_replace(s1, '[ \t\r\n]+', ' ', 'g')) AS clean_text,
      |  CAST(length(trim(regexp_replace(s1, '[ \t\r\n]+', ' ', 'g'))) AS BIGINT) AS n_chars
      |FROM st""".stripMargin

  /** REAL WebP-lossless (VP8L) codec round-trip, FULL oracle — the
    * entropy-coded truecolor rung of the image ladder
    * (`operators/Vp8l.scala`): closed-form 8×8 ARGB pixels are encoded
    * as spec-shaped RIFF/WEBP/VP8L streams with the dial cycling per
    * doc — COLOR-INDEXING palette bundling (doc%4=0), a PREDICTOR
    * transform cycling all 14 modes (doc%4=1), SUBTRACT-GREEN + a
    * 4-bit color cache (doc%4=2), LZ77 run backrefs (doc%4=3) — then
    * decoded by the real decoder (canonical prefix codes via the
    * code-length code, cache replay, inverse transforms). Lossless ⇒
    * the oracle re-derives every channel sum from the closed form;
    * any prefix-code, cache-hash, transform, or bundling defect in
    * EITHER direction breaks the hash. */
  private def imageWebp(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long) => {
      import operators.Vp8l
      val d = docId
      val px: Array[Int] =
        if (d % 4 == 0) Array.tabulate(64) { i =>
          val k = ((d * 7 + i) % 4).toInt
          val rr = ((d * 11 + k * 40) % 256).toInt
          val gg = ((d * 5 + k * 25) % 256).toInt
          val bb = (k * 60 + 3) % 256
          (255 << 24) | (rr << 16) | (gg << 8) | bb
        }
        else Array.tabulate(64) { i0 =>
          val i = if (d % 4 == 3) 4 * (i0 / 4) else i0
          val aa = if (d % 2 == 0) 255 else (128 + (d + i) % 128).toInt
          val rr = ((d * 3 + i * 7) % 256).toInt
          val gg = ((d * 5 + i * 11) % 256).toInt
          val bb = ((d * 7 + i * 13) % 256).toInt
          (aa << 24) | (rr << 16) | (gg << 8) | bb
        }
      val cfg = (d % 4).toInt match {
        case 0 => Vp8l.Vp8lConfig(palette = true)
        case 1 => Vp8l.Vp8lConfig(predictorMode = ((d / 4) % 14).toInt)
        case 2 => Vp8l.Vp8lConfig(subtractGreen = true, cacheBits = 4)
        case _ => Vp8l.Vp8lConfig(useRuns = true)
      }
      Vp8l.encodeWebp(px, 8, 8, cfg)
    })
    val st = udf((payload: Array[Byte]) =>
      operators.Vp8l.decodeWebp(payload).map(operators.Vp8l.webpStats))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), st(mk(col("doc_id"))).as("st"))
      .select(col("doc_id"),
        col("st._1").as("width"), col("st._2").as("height"),
        col("st._3").as("sum_r"), col("st._4").as("sum_g"),
        col("st._5").as("sum_b"), col("st._6").as("sum_a"),
        col("st._7").as("wsum"))
  }

  private val imageWebpSql =
    """WITH grid AS (SELECT unnest(range(0, 64)) AS i0),
      |px AS (
      |  SELECT d.doc_id, g.i0,
      |    CASE WHEN d.doc_id % 4 = 3 THEN 4 * (g.i0 // 4) ELSE g.i0 END AS i,
      |    CAST((d.doc_id * 7 + g.i0) % 4 AS BIGINT) AS k
      |  FROM documents d, grid g),
      |ch AS (
      |  SELECT doc_id, i0,
      |    CASE WHEN doc_id % 4 = 0 THEN (doc_id * 11 + k * 40) % 256
      |         ELSE (doc_id * 3 + i * 7) % 256 END AS r,
      |    CASE WHEN doc_id % 4 = 0 THEN (doc_id * 5 + k * 25) % 256
      |         ELSE (doc_id * 5 + i * 11) % 256 END AS g,
      |    CASE WHEN doc_id % 4 = 0 THEN (k * 60 + 3) % 256
      |         ELSE (doc_id * 7 + i * 13) % 256 END AS b,
      |    CASE WHEN doc_id % 4 = 0 OR doc_id % 2 = 0 THEN 255
      |         ELSE 128 + (doc_id + i) % 128 END AS a
      |  FROM px)
      |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
      |  CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(sum(a) AS BIGINT) AS sum_a,
      |  CAST(sum(i0 * (r + g + b + a)) AS BIGINT) AS wsum
      |FROM ch GROUP BY 1""".stripMargin

  /** Native PNG codec round-trip, FULL oracle — the filter-predictor
    * rung of the image ladder (`operators/Png.scala`), replacing the
    * ImageIO black box with spec-level structure: per doc an 8×8 image
    * cycles all four color types (gray / truecolor / PLTE-indexed /
    * RGBA) and both filter strategies (cycling all five row filters on
    * even docs, the spec's adaptive min-residual heuristic on odd),
    * with chunk CRCs and a split IDAT; the real decoder reconstructs
    * via the full None/Sub/Up/Average/Paeth set. Lossless ⇒ the oracle
    * re-derives every channel sum; `PngSpec` additionally cross-checks
    * the encoder AND decoder pixel-exact against the JDK's own PNG
    * codec (a two-implementation oracle). */
  private def imagePngNative(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long) => {
      import operators.Png
      val d = docId
      val fm = if (d % 2 == 0) -2 else -1
      val img = (d % 4).toInt match {
        case 0 =>
          val px = Array.tabulate(64) { i =>
            val v = ((d * 3 + i * 7) % 256).toInt
            0xff000000 | (v << 16) | (v << 8) | v
          }
          Png.PngImage(8, 8, 0, px)
        case 1 =>
          val px = Array.tabulate(64) { i =>
            0xff000000 | (((d * 3 + i * 7) % 256).toInt << 16) |
              (((d * 5 + i * 11) % 256).toInt << 8) | ((d * 7 + i * 13) % 256).toInt
          }
          Png.PngImage(8, 8, 2, px)
        case 2 =>
          val pal = Array.tabulate(5)(k =>
            0xff000000 | (((d * 11 + k * 47) % 256).toInt << 16) |
              (((d * 5 + k * 91) % 256).toInt << 8) | (k * 53 + 3) % 256)
          val idx = Array.tabulate(64)(i => ((d * 7 + i) % 5).toInt)
          Png.PngImage(8, 8, 3, idx, pal)
        case _ =>
          val px = Array.tabulate(64) { i =>
            ((64 + (d + i * 3) % 192).toInt << 24) |
              (((d * 3 + i * 7) % 256).toInt << 16) |
              (((d * 5 + i * 11) % 256).toInt << 8) | ((d * 7 + i * 13) % 256).toInt
          }
          Png.PngImage(8, 8, 6, px)
      }
      Png.encodePng(img, fm)
    })
    val st = udf((payload: Array[Byte]) =>
      operators.Png.decodePng(payload).map(operators.Png.pngStats))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), st(mk(col("doc_id"))).as("st"))
      .select(col("doc_id"),
        col("st._1").as("width"), col("st._2").as("height"),
        col("st._3").as("color_type"),
        col("st._4").as("sum_r"), col("st._5").as("sum_g"),
        col("st._6").as("sum_b"), col("st._7").as("sum_a"),
        col("st._8").as("wsum"))
  }

  private val imagePngNativeSql =
    """WITH grid AS (SELECT unnest(range(0, 64)) AS i),
      |px AS (
      |  SELECT d.doc_id, g.i, (d.doc_id * 7 + g.i) % 5 AS k
      |  FROM documents d, grid g),
      |ch AS (
      |  SELECT doc_id, i,
      |    CASE doc_id % 4
      |      WHEN 0 THEN (doc_id * 3 + i * 7) % 256
      |      WHEN 2 THEN (doc_id * 11 + k * 47) % 256
      |      ELSE (doc_id * 3 + i * 7) % 256 END AS r,
      |    CASE doc_id % 4
      |      WHEN 0 THEN (doc_id * 3 + i * 7) % 256
      |      WHEN 2 THEN (doc_id * 5 + k * 91) % 256
      |      ELSE (doc_id * 5 + i * 11) % 256 END AS g,
      |    CASE doc_id % 4
      |      WHEN 0 THEN (doc_id * 3 + i * 7) % 256
      |      WHEN 2 THEN (k * 53 + 3) % 256
      |      ELSE (doc_id * 7 + i * 13) % 256 END AS b,
      |    CASE WHEN doc_id % 4 = 3 THEN 64 + (doc_id + i * 3) % 192
      |         ELSE 255 END AS a
      |  FROM px)
      |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 3
      |       ELSE 6 END AS INT) AS color_type,
      |  CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(sum(a) AS BIGINT) AS sum_a,
      |  CAST(sum(i * (r + g + b + a)) AS BIGINT) AS wsum
      |FROM ch GROUP BY 1""".stripMargin

  /** JSONL ingestion through Catalyst's OWN parser, FULL oracle — the
    * third leg of the native-parser trio (`from_csv`/`from_xml`/
    * `from_json`): a nested JSON record (object + string array +
    * escaped quote in a value) is composed natively per doc, parsed by
    * the expression engine — zero UDF — and flattened to typed
    * columns the oracle re-derives. */
  private def jsonlIngest(s: SparkSession, dir: String): DataFrame = {
    val js = concat(
      lit("{\"id\":"), col("doc_id"),
      lit(",\"lang\":\""), col("lang"),
      lit("\",\"meta\":{\"n\":"), col("n_chars"),
      lit(",\"note\":\"he said \\\"hi\\\"\",\"tags\":[\"t-"),
      col("doc_id") % 3, lit("\",\"x\"]}}"))
    val schema = "id LONG, lang STRING, meta STRUCT<n: LONG, note: STRING, tags: ARRAY<STRING>>"
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        from_json(js, org.apache.spark.sql.types.StructType.fromDDL(schema),
          Map.empty[String, String]).as("r"))
      .select(col("doc_id"),
        col("r.id").as("id"), col("r.lang").as("lang2"),
        col("r.meta.n").as("n"), col("r.meta.note").as("note"),
        size(col("r.meta.tags")).cast("long").as("n_tags"),
        col("r.meta.tags").getItem(0).as("tag0"))
  }

  private val jsonlIngestSql =
    """SELECT doc_id,
      |  doc_id AS id,
      |  lang AS lang2,
      |  CAST(n_chars AS BIGINT) AS n,
      |  'he said "hi"' AS note,
      |  CAST(2 AS BIGINT) AS n_tags,
      |  't-' || (doc_id % 3) AS tag0
      |FROM documents""".stripMargin

  /** Integer peak normalization (loudness gain), FULL oracle — the
    * level-normalization step of an audio pipeline: gain to a target
    * peak of 16384 in Q15 fixed point, all arithmetic integer with
    * truncating division (matching SQL `//`), so the oracle replays
    * every output sample. Silent clips (peak 0) pass through at unit
    * gain rather than dividing by zero. */
  private def audioGain(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long, nChars: Long) => {
      val n = (32 + nChars % 32).toInt
      val xs = Array.tabulate(n)(i => ((docId * 29 + i * 13) % 30000) - 15000)
      val peak = xs.map(math.abs).max
      val gain = if (peak == 0) 32768L else (16384L * 32768L) / peak
      val out = xs.map(x => (x * gain) / 32768L)
      (peak, gain, out.map(math.abs).max, out.sum,
        out.zipWithIndex.map { case (v, j) => j.toLong * v }.sum)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id"), col("n_chars")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("peak_in"), col("r._2").as("gain_q15"),
        col("r._3").as("peak_out"), col("r._4").as("sum_out"),
        col("r._5").as("wsum"))
  }

  private val audioGainSql =
    """WITH base AS (
      |  SELECT doc_id, 32 + n_chars % 32 AS n FROM documents),
      |xs AS (
      |  SELECT doc_id, n, unnest(range(0, n)) AS i FROM base),
      |v AS (
      |  SELECT doc_id, n, i,
      |    (doc_id * 29 + i * 13) % 30000 - 15000 AS x
      |  FROM xs),
      |p AS (
      |  SELECT doc_id, max(abs(x)) AS peak FROM v GROUP BY 1),
      |g AS (
      |  SELECT doc_id, peak,
      |    CASE WHEN peak = 0 THEN 32768 ELSE (16384 * 32768) // peak END AS gain
      |  FROM p),
      |o AS (
      |  SELECT v.doc_id, v.i, g.peak, g.gain, (v.x * g.gain) // 32768 AS y
      |  FROM v JOIN g ON v.doc_id = g.doc_id)
      |SELECT doc_id,
      |  CAST(max(peak) AS BIGINT) AS peak_in,
      |  CAST(max(gain) AS BIGINT) AS gain_q15,
      |  CAST(max(abs(y)) AS BIGINT) AS peak_out,
      |  CAST(sum(y) AS BIGINT) AS sum_out,
      |  CAST(sum(i * y) AS BIGINT) AS wsum
      |FROM o GROUP BY 1""".stripMargin

  /** Center-crop / letterbox-pad to a fixed 8×8 grid, FULL oracle —
    * the geometry-normalization step of a vision pipeline (crop the
    * long axis, pad the short one, both centered with truncating
    * halves): per doc a closed-form raster whose width and height
    * cycle 6-13 × 6-10 so every doc exercises crop, pad, or both; the
    * position-weighted sum over the TARGET grid pins the mapping. */
  private def imageCropPad(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long) => {
      val srcW = (6 + docId % 8).toInt
      val srcH = (6 + docId % 5).toInt
      val tgt = 8
      val cropX = math.max(0, (srcW - tgt) / 2)
      val padX = math.max(0, (tgt - srcW) / 2)
      val cropY = math.max(0, (srcH - tgt) / 2)
      val padY = math.max(0, (tgt - srcH) / 2)
      var sum = 0L; var wsum = 0L
      var ty = 0
      while (ty < tgt) {
        var tx = 0
        while (tx < tgt) {
          val sx = tx - padX + cropX
          val sy = ty - padY + cropY
          val v =
            if (tx >= padX && sx < srcW && ty >= padY && sy < srcH)
              ((docId * 3 + (sy * srcW + sx) * 7) % 256).toInt
            else 0
          sum += v
          wsum += (ty * tgt + tx).toLong * v
          tx += 1
        }
        ty += 1
      }
      (srcW.toLong, srcH.toLong, sum, wsum)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("src_w"), col("r._2").as("src_h"),
        col("r._3").as("sum_v"), col("r._4").as("wsum"))
  }

  private val imageCropPadSql =
    """WITH grid AS (SELECT unnest(range(0, 64)) AS t),
      |m AS (
      |  SELECT d.doc_id, g.t, g.t % 8 AS tx, g.t // 8 AS ty,
      |    6 + d.doc_id % 8 AS sw, 6 + d.doc_id % 5 AS sh
      |  FROM documents d, grid g),
      |c AS (
      |  SELECT doc_id, t, tx, ty, sw, sh,
      |    greatest(0, (sw - 8) // 2) AS cropx,
      |    greatest(0, (8 - sw) // 2) AS padx,
      |    greatest(0, (sh - 8) // 2) AS cropy,
      |    greatest(0, (8 - sh) // 2) AS pady
      |  FROM m),
      |v AS (
      |  SELECT doc_id, t, sw, sh,
      |    CASE WHEN tx >= padx AND tx - padx + cropx < sw
      |          AND ty >= pady AND ty - pady + cropy < sh
      |         THEN (doc_id * 3 + ((ty - pady + cropy) * sw + tx - padx + cropx) * 7) % 256
      |         ELSE 0 END AS val
      |  FROM c)
      |SELECT doc_id,
      |  CAST(max(sw) AS BIGINT) AS src_w,
      |  CAST(max(sh) AS BIGINT) AS src_h,
      |  CAST(sum(val) AS BIGINT) AS sum_v,
      |  CAST(sum(t * val) AS BIGINT) AS wsum
      |FROM v GROUP BY 1""".stripMargin

  /** Transparent decompression, FULL oracle — the content-encoding
    * gate at the crawl front door (`operators/Decompress.scala`): per
    * doc the text ships as gzip (RFC 1952, CRC verified), zlib
    * (RFC 1950, header-check + Adler), raw DEFLATE, zstd (RFC 8878),
    * LZ4 frame, bzip2, framed Snappy (the four codecs Spark itself
    * bundles), or identity — the identity payload is prefixed with
    * 0x07 (BFINAL=1, BTYPE=11: an INVALID deflate block by
    * construction) so the raw-deflate attempt provably falls through
    * rather than relying on text bytes happening to be undecodable.
    * Oracle re-derives method and byte/token counts per dial. */
  private def decompressAuto(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long, text: String) => {
      val t = (if (text == null) "" else text).getBytes("UTF-8")
      def deflater(raw: Boolean) = {
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, raw)
        d.setInput(t); d.finish()
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
        d.end(); bos.toByteArray
      }
      def via(f: java.io.OutputStream => java.io.OutputStream) = {
        val bos = new java.io.ByteArrayOutputStream()
        val out = f(bos)
        out.write(t); out.close(); bos.toByteArray
      }
      (docId % 8).toInt match {
        case 0 => via(new java.util.zip.GZIPOutputStream(_))
        case 1 => deflater(raw = false)
        case 2 => deflater(raw = true)
        case 3 => via(new com.github.luben.zstd.ZstdOutputStream(_))
        case 4 => via(new net.jpountz.lz4.LZ4FrameOutputStream(_))
        case 5 => via(new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(_))
        case 6 => via(new org.xerial.snappy.SnappyFramedOutputStream(_))
        case _ => Array[Byte](0x07) ++ t
      }
    })
    val rd = udf((p: Array[Byte]) =>
      operators.Decompress.auto(p).map { case (method, bytes) =>
        (method, bytes.length.toLong, new String(bytes, "UTF-8"))
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), rd(mk(col("doc_id"), col("text"))).as("r"))
      .select(col("doc_id"),
        col("r._1").as("method"), col("r._2").as("out_bytes"),
        // token count over the DECODED text, Spark-native lower+regex
        // (the cross-engine-proven pair, same as warc_ingest)
        size(regexp_extract_all(lower(col("r._3")),
          lit("[a-z0-9]+"), lit(0))).cast("long").as("n_tokens"))
  }

  private val decompressAutoSql =
    """SELECT doc_id,
      |  CASE doc_id % 8 WHEN 0 THEN 'gzip' WHEN 1 THEN 'zlib'
      |       WHEN 2 THEN 'deflate' WHEN 3 THEN 'zstd' WHEN 4 THEN 'lz4'
      |       WHEN 5 THEN 'bzip2' WHEN 6 THEN 'snappy'
      |       ELSE 'identity' END AS method,
      |  CAST(strlen(text) + CASE WHEN doc_id % 8 = 7 THEN 1 ELSE 0 END
      |       AS BIGINT) AS out_bytes,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |FROM documents""".stripMargin

  /** Anchor-text aggregation, FULL oracle — the web-graph labeling
    * signal (`operators/AnchorText.scala`), zero-UDF both sides: per
    * doc three anchors (two to a shared target whose id folds doc_ids
    * together, one to a shifted target, plus a textless anchor that
    * still votes); the per-target counts, distinct sources, and label
    * chars replay closed-form in the oracle's own group-by. The three
    * fixture anchors deliberately use the three real-crawl href
    * syntaxes — SINGLE-quoted with a nested `<b>` label, UNQUOTED, and
    * double-quoted — so the oracle greenness proves the normalized
    * extraction, not just the easy double-quote path. */
  private def anchorTextAgg(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val html = concat(
      lit("<p>intro</p><a href='http://t"), d % 25,
      lit(".invalid/'><b>alpha</b> link "), d % 3,
      lit("</a><a href=http://t"), d % 25,
      lit(".invalid/>beta</a><a href=\"http://t"), (d + 7) % 25,
      lit(".invalid/\"></a><a href=\"\">empty target</a>"))
    operators.AnchorText.aggregateByTarget(
      Tables.read(s, dir, "documents").select(d, html.as("html")),
      "doc_id", "html")
  }

  private val anchorTextAggSql =
    """WITH a AS (
      |  SELECT doc_id AS src, 'http://t' || (doc_id % 25) || '.invalid/' AS target,
      |    'alpha link ' || (doc_id % 3) AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'http://t' || (doc_id % 25) || '.invalid/', 'beta'
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'http://t' || ((doc_id + 7) % 25) || '.invalid/', ''
      |  FROM documents)
      |SELECT target,
      |  CAST(count(*) AS BIGINT) AS n_anchors,
      |  CAST(count(DISTINCT src) AS BIGINT) AS n_sources,
      |  CAST(sum(length(text)) AS BIGINT) AS label_chars,
      |  min(text) AS first_label
      |FROM a GROUP BY target""".stripMargin

  /** Streaming frontier politeness, FULL oracle — the ingest-time face
    * of `crawl_frontier` (`streaming/StreamFrontier.scala`): URLs
    * stream from the file source into a per-host GroupState sequence
    * counter; one batch over the fixture makes the stateful assignment
    * equal the batch window, which is the oracle (same md5 lanes, no
    * per-cycle cap — the stream carries continuity instead). */
  private def streamFrontierQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val frontier = stream.select(
      concat(lit("site-"), col("doc_id") % 50, lit(".invalid")).as("host"),
      concat(lit("http://site-"), col("doc_id") % 50,
        lit(".invalid/page/"), col("doc_id")).as("url"),
      (col("doc_id") % 7).as("priority"))
    val sched = streaming.StreamFrontier.schedule(frontier, "url", "host",
        "priority", delayMs = 1500L, slots = 40)
      .toDF("url", "host", "slot", "seq", "scheduled_ms")
    val name = "stream_frontier_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = sched.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
  }

  private val streamFrontierSql =
    """WITH f AS (
      |  SELECT 'site-' || (doc_id % 50) || '.invalid' AS host,
      |    'http://site-' || (doc_id % 50) || '.invalid/page/' || doc_id AS url,
      |    doc_id % 7 AS priority
      |  FROM documents)
      |SELECT url, host,
      |  CAST(((strpos('0123456789abcdef', substr(md5(host), 1, 1)) - 1) * 256
      |      + (strpos('0123456789abcdef', substr(md5(host), 2, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(md5(host), 3, 1)) - 1)) % 40
      |    AS BIGINT) AS slot,
      |  CAST(row_number() OVER (PARTITION BY host
      |    ORDER BY priority DESC, url ASC) - 1 AS BIGINT) AS seq,
      |  CAST((row_number() OVER (PARTITION BY host
      |    ORDER BY priority DESC, url ASC) - 1) * 1500 AS BIGINT) AS scheduled_ms
      |FROM f""".stripMargin

  /** Readability scoring, FULL oracle — Flesch-Kincaid grade over the
    * vowel-group syllable heuristic (`operators/Readability.scala`):
    * per doc a paragraph with known word/sentence/syllable counts
    * (incl. a silent-e trap word, a consonant+le word whose -le is
    * syllabic — "table" = 2, and a vowel+le word whose e is silent —
    * "dale" = 1), grades replayed as an arithmetic mul/div chain
    * rounded to 6 — IEEE-exact cross-engine per the float
    * convention. */
  private def readabilityScore(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long) => {
      val n1 = 3 + (docId % 4).toInt
      val text = (Seq.fill(n1)("Alpha beta gamma.") ++
        Seq("The code rates time.", "A table or dale."))
        .mkString(" ")
      val (w, sn, syl) = operators.Readability.counts(text)
      (w, sn, syl,
        operators.Readability.fkGrade(w, sn, syl),
        operators.Readability.fleschEase(w, sn, syl))
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("words"), col("r._2").as("sentences"),
        col("r._3").as("syllables"),
        round(col("r._4"), 6).as("fk_grade"),
        round(col("r._5"), 6).as("flesch_ease"))
  }

  private val readabilityScoreSql =
    """WITH p AS (
      |  SELECT doc_id,
      |    CAST(3 * (3 + doc_id % 4) + 8 AS BIGINT) AS w,
      |    CAST((3 + doc_id % 4) + 2 AS BIGINT) AS sn,
      |    CAST(6 * (3 + doc_id % 4) + 10 AS BIGINT) AS syl
      |  FROM documents)
      |SELECT doc_id, w AS words, sn AS sentences, syl AS syllables,
      |  round(0.39 * w / sn + 11.8 * syl / w - 15.59, 6) AS fk_grade,
      |  round(206.835 - 1.015 * w / sn - 84.6 * syl / w, 6) AS flesch_ease
      |FROM p""".stripMargin

  /** Shot-boundary detection, FULL oracle — keyframe selection over
    * real Y4M round-trips (`operators/ShotDetect.scala`): per doc
    * 4-8 frames split into 1-3 planted scenes whose luma levels step
    * by exactly 80 (always over the threshold of 20, flat within a
    * scene), so shot count, keyframe indices, and the max inter-frame
    * diff replay closed-form. */
  private def shotBoundaries(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long) => {
      val nF = 4 + (docId % 5).toInt
      val nS = 1 + (docId % 3).toInt
      val frames = Seq.tabulate(nF) { f =>
        val scene = f * nS / nF
        val v = (40 + 80 * scene + (docId % 20)).toInt
        (Array.fill(64)(v.toByte), Array.fill(16)(128.toByte),
          Array.fill(16)(128.toByte))
      }
      val y4m = operators.Y4m.encodeY4m(8, 8, frames)
      operators.ShotDetect.probeY4m(y4m, threshold = 20L)
        .getOrElse(sys.error(s"y4m probe failed for doc $docId"))
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id")).as("r"))
      .select(col("doc_id"),
        col("r._1").cast("long").as("n_frames"),
        col("r._2").cast("long").as("n_shots"),
        col("r._3").as("keyframe_sum"),
        col("r._4").as("max_diff"))
  }

  private val shotBoundariesSql =
    """WITH p AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS nf, 1 + doc_id % 3 AS ns
      |  FROM documents),
      |k AS (
      |  SELECT p.doc_id, p.nf, p.ns,
      |    sum((s.range * p.nf + p.ns - 1) // p.ns) AS ksum
      |  FROM p, range(3) s WHERE s.range < p.ns
      |  GROUP BY p.doc_id, p.nf, p.ns)
      |SELECT doc_id,
      |  CAST(nf AS BIGINT) AS n_frames,
      |  CAST(ns AS BIGINT) AS n_shots,
      |  CAST(ksum AS BIGINT) AS keyframe_sum,
      |  CAST(CASE WHEN ns > 1 THEN 80 ELSE 0 END AS BIGINT) AS max_diff
      |FROM k""".stripMargin

  /** Curriculum ordering, FULL oracle — difficulty-sorted, domain-
    * interleaved training order (`operators/Curriculum.scala`): four
    * domains ranked by a length difficulty proxy, strided so
    * consecutive global positions cycle domains. The oracle replays
    * the identical window + stride arithmetic. */
  private def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("dom-"), col("doc_id") % 4).as("domain"),
        length(col("text")).cast("long").as("difficulty"))
    operators.Curriculum.order(docs, "domain", "difficulty", "doc_id")
      .select(col("doc_id"), col("domain"), col("difficulty"),
        col("cur_rank"), col("cur_pos").cast("long").as("cur_pos"))
  }

  private val curriculumOrderSql =
    """WITH d AS (
      |  SELECT doc_id, 'dom-' || (doc_id % 4) AS domain,
      |    CAST(length(text) AS BIGINT) AS difficulty
      |  FROM documents)
      |SELECT doc_id, domain, difficulty,
      |  CAST(row_number() OVER (PARTITION BY domain
      |    ORDER BY difficulty ASC, doc_id ASC) - 1 AS BIGINT) AS cur_rank,
      |  CAST((row_number() OVER (PARTITION BY domain
      |    ORDER BY difficulty ASC, doc_id ASC) - 1) * 4 + doc_id % 4 AS BIGINT)
      |    AS cur_pos
      |FROM d""".stripMargin

  /** Unicode script detection, FULL oracle — the language-ID precursor
    * (`operators/ScriptDetect.scala`, UAX #24 via the JDK tables): per
    * doc a known mix of Latin, Cyrillic, and Han code points plus
    * COMMON separators that must not vote; dominance, permille share
    * (truncating — DuckDB // pairs exactly), and the mixed-script flag
    * replay closed-form. */
  private def scriptDetect(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long) => {
      val L = 40 + (docId % 20).toInt
      val C = 10 + (docId % 30).toInt
      val K = (docId % 15).toInt
      val text = "a" * L + " 123 " + "б" * C + " ,;. " + "中" * K
      val (script, share, mixed) = operators.ScriptDetect.dominantScript(text)
      val counts = operators.ScriptDetect.scriptCounts(text)
      (script, share, mixed,
        counts.getOrElse("latin", 0) + counts.getOrElse("cyrillic", 0) +
          counts.getOrElse("cjk", 0))
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id")).as("r"))
      .select(col("doc_id"), col("r._1").as("script"),
        col("r._2").cast("long").as("share_permille"),
        col("r._3").as("mixed"),
        col("r._4").cast("long").as("scripted_cps"))
  }

  private val scriptDetectSql =
    """WITH p AS (
      |  SELECT doc_id, 40 + doc_id % 20 AS l, 10 + doc_id % 30 AS c,
      |    doc_id % 15 AS k
      |  FROM documents)
      |SELECT doc_id, 'latin' AS script,
      |  CAST((l * 1000) // (l + c + k) AS BIGINT) AS share_permille,
      |  (l * 1000) // (l + c + k) < 900 AS mixed,
      |  CAST(l + c + k AS BIGINT) AS scripted_cps
      |FROM p""".stripMargin

  /** End-to-end crawl pipeline, FULL oracle — the four crawl rungs
    * composed the way a crawler actually runs them: SITEMAP discovery
    * (XXE-hardened DOM parse; three locs per doc — two tracking-param
    * variants of the same page plus a /private URL), ROBOTS filtering
    * (the /private leg dies), CANONICALIZATION + dedup (the two
    * variants collapse to one canonical URL), then FRONTIER scheduling
    * (md5 lanes, per-host politeness). The oracle replays the
    * surviving schedule exactly — a stage that leaks (robots miss,
    * canonical miss) changes which URLs win the per-host top-5 and
    * hash-mismatches. */
  private def crawlPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val xml = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
      lit("<url><loc>http://site-"), d % 20, lit(".invalid/page/"), d,
      lit("?utm_source=x</loc></url>"),
      lit("<url><loc>http://site-"), d % 20, lit(".invalid/page/"), d,
      lit("?utm_campaign=y</loc></url>"),
      lit("<url><loc>http://site-"), d % 20, lit(".invalid/private/"), d,
      lit("</loc></url></urlset>"))
    val parse = udf((x: String) =>
      operators.Sitemap.parseSitemap(x).map(_.map(_.loc)).getOrElse(Seq.empty))
    val discovered = Tables.read(s, dir, "documents")
      .select(d, (d % 7).as("priority"), explode(parse(xml)).as("url"))
      .withColumn("host", regexp_extract(col("url"), "^http://([^/?#]+)", 1))
      .withColumn("path", regexp_extract(col("url"), "^http://[^/?#]+([^#]*)", 1))
    val robots = discovered.select(col("host")).distinct()
      .select(col("host"),
        lit("User-agent: *\nDisallow: /private\n").as("robots_txt"))
    val allowed = operators.Robots.filterUrls(discovered, robots, "graftbot")
      .filter(col("allowed"))
    val canonical = allowed
      .select(col("host"), col("priority"),
        operators.Dedup.urlCanonical(col("url")).as("url"))
      .groupBy(col("url"), col("host"))
      .agg(max(col("priority")).as("priority"))
    operators.CrawlFrontier.schedule(canonical, "url", "host", "priority",
        delayMs = 1000L, maxPerHost = 5)
      .select(col("url"), col("host"), col("slot"), col("seq"), col("scheduled_ms"))
  }

  private val crawlPipelineSql =
    """WITH f AS (
      |  SELECT 'site-' || (doc_id % 20) || '.invalid' AS host,
      |    'http://site-' || (doc_id % 20) || '.invalid/page/' || doc_id AS url,
      |    doc_id % 7 AS priority
      |  FROM documents),
      |r AS (
      |  SELECT url, host,
      |    CAST(strpos('0123456789abcdef', substr(md5(host), 1, 1)) - 1 AS BIGINT)
      |      AS slot,
      |    CAST(row_number() OVER (PARTITION BY host
      |      ORDER BY priority DESC, url ASC) - 1 AS BIGINT) AS seq
      |  FROM f)
      |SELECT url, host, slot, seq, CAST(seq * 1000 AS BIGINT) AS scheduled_ms
      |FROM r WHERE seq < 5""".stripMargin

  /** Native Parquet footer probe, FULL oracle — storage introspection
    * (`operators/ParquetFooter.scala`): the thrift-compact FileMetaData
    * of every testdata table parses with footer-sized IO, and the
    * oracle CHECKS IT AGAINST THE DATA ITSELF — DuckDB counts rows and
    * columns through its own reader on the same files, so the two
    * engines verify our parser from independent implementations. */
  private def parquetProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val rows = tables.flatMap { t =>
      val path = s"$dir/$t.parquet"
      if (!new java.io.File(path).isFile) None
      else {
        val f = operators.ParquetFooter.parseFile(path)
          .getOrElse(sys.error(s"unparseable parquet footer: $path"))
        require(f.rowGroups.map(_.numRows).sum == f.numRows,
          s"$t: row groups do not sum to num_rows")
        // footer STATISTICS of the first (key) column — the numbers
        // row-group pruning reads; the oracle recomputes them from the
        // data through DuckDB's own reader
        Some((t, f.numRows, f.columnNames.length.toLong,
          f.firstColMin.getOrElse(sys.error(s"$t: no min stat")),
          f.firstColMax.getOrElse(sys.error(s"$t: no max stat"))))
      }
    }
    rows.toDF("tbl", "num_rows", "n_cols", "key_min", "key_max")
  }

  private val parquetProbeSql =
    """SELECT 'region' AS tbl, CAST(count(*) AS BIGINT) AS num_rows,
      |  CAST((SELECT count(*) FROM pragma_table_info('region')) AS BIGINT) AS n_cols,
      |  CAST(min(r_regionkey) AS BIGINT) AS key_min, CAST(max(r_regionkey) AS BIGINT) AS key_max FROM region
      |UNION ALL SELECT 'nation', count(*),
      |  (SELECT count(*) FROM pragma_table_info('nation')),
      |  CAST(min(n_nationkey) AS BIGINT), CAST(max(n_nationkey) AS BIGINT) FROM nation
      |UNION ALL SELECT 'customer', count(*),
      |  (SELECT count(*) FROM pragma_table_info('customer')),
      |  CAST(min(c_custkey) AS BIGINT), CAST(max(c_custkey) AS BIGINT) FROM customer
      |UNION ALL SELECT 'supplier', count(*),
      |  (SELECT count(*) FROM pragma_table_info('supplier')),
      |  CAST(min(s_suppkey) AS BIGINT), CAST(max(s_suppkey) AS BIGINT) FROM supplier
      |UNION ALL SELECT 'part', count(*),
      |  (SELECT count(*) FROM pragma_table_info('part')),
      |  CAST(min(p_partkey) AS BIGINT), CAST(max(p_partkey) AS BIGINT) FROM part
      |UNION ALL SELECT 'orders', count(*),
      |  (SELECT count(*) FROM pragma_table_info('orders')),
      |  CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT) FROM orders
      |UNION ALL SELECT 'lineitem', count(*),
      |  (SELECT count(*) FROM pragma_table_info('lineitem')),
      |  CAST(min(l_orderkey) AS BIGINT), CAST(max(l_orderkey) AS BIGINT) FROM lineitem
      |UNION ALL SELECT 'events', count(*),
      |  (SELECT count(*) FROM pragma_table_info('events')),
      |  CAST(min(event_id) AS BIGINT), CAST(max(event_id) AS BIGINT) FROM events
      |UNION ALL SELECT 'documents', count(*),
      |  (SELECT count(*) FROM pragma_table_info('documents')),
      |  CAST(min(doc_id) AS BIGINT), CAST(max(doc_id) AS BIGINT) FROM documents
      |UNION ALL SELECT 'embeddings', count(*),
      |  (SELECT count(*) FROM pragma_table_info('embeddings')),
      |  CAST(min(vec_id) AS BIGINT), CAST(max(vec_id) AS BIGINT) FROM embeddings""".stripMargin

  /** Sentence segmentation, FULL oracle — the unit-of-text rung
    * (`operators/Sentences.scala`): per doc a paragraph of doc_id-many
    * plain sentences plus three traps a naive period-split shreds —
    * titles/latinisms ("Dr.", "Mrs.", "St.", "e.g."), single-letter
    * initials ("J. K."), and a decimal ("3.5") — each of which must
    * stay ONE sentence. Oracle replays counts and lengths closed-form. */
  private def sentenceSplit(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long) => {
      val ns = 3 + (docId % 5).toInt
      val base = (0 until ns).map(i =>
        s"The quick fox jumps over lazy dog number ${(docId + i) % 10}.")
      val text = (base ++ Seq(
        "Dr. Smith met Mrs. Jones near St. Paul at 3.5 km.",
        "J. K. Rowling wrote e.g. seven books.",
        "Did it work?", "Yes!")).mkString(" ")
      val sents = operators.Sentences.split(text)
      (sents.length, sents.map(_.length).sum, sents.map(_.length).max)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id")).as("r"))
      .select(col("doc_id"),
        col("r._1").cast("long").as("n_sentences"),
        col("r._2").cast("long").as("total_chars"),
        col("r._3").cast("long").as("max_len"))
  }

  private val sentenceSplitSql =
    """SELECT doc_id,
      |  CAST(3 + doc_id % 5 + 4 AS BIGINT) AS n_sentences,
      |  CAST(43 * (3 + doc_id % 5) + 102 AS BIGINT) AS total_chars,
      |  CAST(49 AS BIGINT) AS max_len
      |FROM documents""".stripMargin

  /** VAD-style energy segmentation, FULL oracle — silence trimming
    * (`operators/AudioSegment.scala`): per doc a WAV (real PCM16
    * container round-trip) with planted structure — leading silence,
    * a voiced span, dead air, a one-frame BLIP that the two-frame
    * hysteresis gate must reclassify as silence, a second voiced span,
    * trailing silence. When the first span is a single frame
    * (doc_id % 4 == 0) it too falls to the gate and the leading
    * silent run merges — the oracle replays both regimes closed-form. */
  private def audioSegments(s: SparkSession, dir: String): DataFrame = {
    val fl = 80
    val run = udf((docId: Long) => {
      val nS = 2 + (docId % 3).toInt
      val nV = 1 + (docId % 4).toInt
      val nV2 = 2 + (docId % 2).toInt
      val amp = (500 + (docId % 50) * 10).toShort
      val pattern =
        Array.fill(nS * fl)(0.toShort) ++ Array.fill(nV * fl)(amp) ++
          Array.fill(2 * fl)(0.toShort) ++ Array.fill(1 * fl)(amp) ++ // isolated blip
          Array.fill(2 * fl)(0.toShort) ++ Array.fill((1 + nV2) * fl)(amp) ++
          Array.fill(1 * fl)(0.toShort)
      val wav = operators.Multimodal.encodeWavPcm16(pattern, 8000, 1)
      val (_, samples) = operators.Multimodal.decodeWavSamples(wav)
        .getOrElse(sys.error(s"wav round-trip failed for doc $docId"))
      val segs = operators.AudioSegment.segment(samples, fl, 100L, minVoicedFrames = 2)
      val (t0, t1) = operators.AudioSegment.trimBounds(samples, fl, 100L, 2)
      (samples.length / fl, segs.length,
        segs.filter(_.voiced).map(g => g.end - g.start).sum, t0, t1)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id")).as("r"))
      .select(col("doc_id"),
        col("r._1").cast("long").as("n_frames"),
        col("r._2").cast("long").as("n_segments"),
        col("r._3").cast("long").as("voiced_frames"),
        col("r._4").cast("long").as("trim_start"),
        col("r._5").cast("long").as("trim_end"))
  }

  private val audioSegmentsSql =
    """WITH p AS (
      |  SELECT doc_id,
      |    2 + doc_id % 3 AS ns, 1 + doc_id % 4 AS nv, 2 + doc_id % 2 AS nv2
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(ns + nv + nv2 + 7 AS BIGINT) AS n_frames,
      |  CAST(CASE WHEN nv >= 2 THEN 5 ELSE 3 END AS BIGINT) AS n_segments,
      |  CAST(CASE WHEN nv >= 2 THEN nv + 1 + nv2 ELSE 1 + nv2 END AS BIGINT)
      |    AS voiced_frames,
      |  CAST(CASE WHEN nv >= 2 THEN ns ELSE ns + 6 END * 80 AS BIGINT)
      |    AS trim_start,
      |  CAST((ns + nv + 6 + nv2) * 80 AS BIGINT) AS trim_end
      |FROM p""".stripMargin

  /** DoReMi-style domain reweighting, FULL oracle — the data-mixture
    * dial (`operators/DomainMixture.scala`): six synthetic domains
    * with a length-derived loss proxy; three multiplicative-weight
    * rounds concentrate the mixture on excess-loss domains. The oracle
    * unrolls the identical three rounds as CTEs; weights emit float4
    * (exp is libm — the cross-engine float convention). */
  private def domainReweight(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
      .select(concat(lit("dom-"), col("doc_id") % 6).as("domain"),
        (length(col("text")) % 97).cast("double") / 10.0).toDF("domain", "loss")
    operators.DomainMixture.reweight(s, docs, "domain", "loss",
      eta = 0.5, rounds = 3)
  }

  private val domainReweightSql =
    """WITH s AS (
      |  SELECT 'dom-' || (doc_id % 6) AS domain,
      |    (length(text) % 97) / 10.0 AS loss
      |  FROM documents),
      |a AS (SELECT domain, count(*) AS n_docs, avg(loss) AS ld
      |      FROM s GROUP BY domain),
      |w0 AS (SELECT domain, n_docs, ld,
      |       1.0 / (SELECT count(*) FROM a) AS w FROM a),
      |u1 AS (SELECT domain, n_docs, ld,
      |       w * exp(0.5 * (ld - (SELECT sum(w * ld) FROM w0))) AS wu FROM w0),
      |w1 AS (SELECT domain, n_docs, ld,
      |       wu / (SELECT sum(wu) FROM u1) AS w FROM u1),
      |u2 AS (SELECT domain, n_docs, ld,
      |       w * exp(0.5 * (ld - (SELECT sum(w * ld) FROM w1))) AS wu FROM w1),
      |w2 AS (SELECT domain, n_docs, ld,
      |       wu / (SELECT sum(wu) FROM u2) AS w FROM u2),
      |u3 AS (SELECT domain, n_docs, ld,
      |       w * exp(0.5 * (ld - (SELECT sum(w * ld) FROM w2))) AS wu FROM w2),
      |w3 AS (SELECT domain, n_docs, ld,
      |       wu / (SELECT sum(wu) FROM u3) AS w FROM u3)
      |SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(ld AS REAL) AS mean_loss, CAST(w AS REAL) AS weight
      |FROM w3""".stripMargin

  /** Crawl-frontier politeness scheduling, FULL oracle — Mercator-
    * style host lanes (`operators/CrawlFrontier.scala`): per doc a URL
    * on one of 50 hosts with a cyclic priority; the scheduler hashes
    * hosts onto a NON-DEFAULT 40 fetcher lanes (three md5 hex digits
    * mod 40 — the generalized md5-prefix convention, exact in DuckDB),
    * ranks within host by priority then URL, caps 5 per host per
    * cycle, and spaces fetches by the crawl delay. One shuffle at any
    * scale; the oracle replays assignments, sequence, and offsets
    * exactly. The default-16 one-digit path stays pinned by
    * `crawl_pipeline`. */
  private def crawlFrontier(s: SparkSession, dir: String): DataFrame = {
    val frontier = Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("site-"), col("doc_id") % 50, lit(".invalid")).as("host"),
        concat(lit("http://site-"), col("doc_id") % 50,
          lit(".invalid/page/"), col("doc_id")).as("url"),
        (col("doc_id") % 7).as("priority"))
    operators.CrawlFrontier.schedule(frontier, "url", "host", "priority",
        delayMs = 1500L, maxPerHost = 5, slots = 40)
      .select(col("url"), col("host"), col("slot"), col("seq"), col("scheduled_ms"))
  }

  private val crawlFrontierSql =
    """WITH f AS (
      |  SELECT 'site-' || (doc_id % 50) || '.invalid' AS host,
      |    'http://site-' || (doc_id % 50) || '.invalid/page/' || doc_id AS url,
      |    doc_id % 7 AS priority
      |  FROM documents),
      |r AS (
      |  SELECT url, host,
      |    CAST(((strpos('0123456789abcdef', substr(md5(host), 1, 1)) - 1) * 256
      |        + (strpos('0123456789abcdef', substr(md5(host), 2, 1)) - 1) * 16
      |        + (strpos('0123456789abcdef', substr(md5(host), 3, 1)) - 1)) % 40
      |      AS BIGINT) AS slot,
      |    CAST(row_number() OVER (PARTITION BY host
      |      ORDER BY priority DESC, url ASC) - 1 AS BIGINT) AS seq
      |  FROM f)
      |SELECT url, host, slot, seq, CAST(seq * 1500 AS BIGINT) AS scheduled_ms
      |FROM r WHERE seq < 5""".stripMargin

  /** Per-host Crawl-delay scheduling, FULL oracle — robots.txt-driven
    * politeness (`Robots.crawlDelayMs` + `CrawlFrontier
    * .scheduleWithDelays`): each host's robots.txt carries a
    * Crawl-delay in a graftbot-specific group (integer, fractional,
    * sub-second, or junk per host dial) ABOVE a `*` group with a
    * decoy 9 s delay — so agent precedence, fractional-seconds
    * parsing, and the junk→default fallback all gate; the k-th fetch
    * of a host waits k·its own delay. Oracle replays the delay CASE
    * and the window arithmetic closed-form. */
  private def frontierDelays(s: SparkSession, dir: String): DataFrame = {
    val n = col("doc_id") % 40
    val frontier = Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("site-"), n, lit(".invalid")).as("host"),
        concat(lit("http://site-"), n, lit(".invalid/page/"), col("doc_id")).as("url"),
        (col("doc_id") % 7).as("priority"),
        (n % 4).as("dial"))
    val robotsTxt = concat(
      lit("User-agent: graftbot\nCrawl-delay: "),
      when(col("dial") === 0, "2.5").when(col("dial") === 1, "1")
        .when(col("dial") === 2, "0.25").otherwise("soon"),
      lit("\n\nUser-agent: *\nCrawl-delay: 9\nDisallow: /private\n"))
    val delayOf = udf((txt: String) =>
      operators.Robots.crawlDelayMs(txt, "graftbot"))
    val robots = frontier.select(col("host"), col("dial")).distinct()
      .select(col("host"), delayOf(robotsTxt).as("delay_ms"))
    val joined = frontier.join(broadcast(robots), "host")
    operators.CrawlFrontier.scheduleWithDelays(joined, "url", "host",
        "priority", "delay_ms", defaultDelayMs = 700L, maxPerHost = 5)
      .select(col("url"), col("host"), col("slot"), col("seq"), col("scheduled_ms"))
  }

  private val frontierDelaysSql =
    """WITH f AS (
      |  SELECT 'site-' || (doc_id % 40) || '.invalid' AS host,
      |    'http://site-' || (doc_id % 40) || '.invalid/page/' || doc_id AS url,
      |    doc_id % 7 AS priority,
      |    CASE (doc_id % 40) % 4 WHEN 0 THEN 2500 WHEN 1 THEN 1000
      |         WHEN 2 THEN 250 ELSE 700 END AS delay_ms
      |  FROM documents),
      |r AS (
      |  SELECT url, host, delay_ms,
      |    CAST(strpos('0123456789abcdef', substr(md5(host), 1, 1)) - 1 AS BIGINT)
      |      AS slot,
      |    CAST(row_number() OVER (PARTITION BY host
      |      ORDER BY priority DESC, url ASC) - 1 AS BIGINT) AS seq
      |  FROM f)
      |SELECT url, host, slot, seq, CAST(seq * delay_ms AS BIGINT) AS scheduled_ms
      |FROM r WHERE seq < 5""".stripMargin

  /** Redirect-chain resolution, FULL oracle — the post-fetch rung of
    * the crawl loop (`operators/RedirectResolve.scala`, pointer
    * doubling over the 3xx map; corpus joins the resolved map ONCE):
    * per doc a redirect chain of length doc_id%4 under its own host,
    * with docs at doc_id%17==0 closed into a loop — so exact hop
    * counts, terminal fixpoints, and the loop-refusal contract
    * `(src, maxHops, false)` all gate. Oracle replays the fixture's
    * closed form (chain length and loop flag are arithmetic in
    * doc_id); the ENGINE runs the general doubling algorithm on the
    * edge table it has never seen the closed form of. */
  private def redirectResolve(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val base = Tables.read(s, dir, "documents").select(d,
      (d % 4).cast("int").as("len"),
      (d % 17 === 0 && d % 4 =!= 0).as("cyc"),
      concat(lit("http://r"), d, lit(".invalid/")).as("pre"))
    val chain = base.filter(col("len") > 0)
      .select(col("pre"), explode(sequence(lit(0), col("len") - 1)).as("h"))
      .select(concat(col("pre"), col("h")).as("src"),
        concat(col("pre"), col("h") + 1).as("dst"))
    val back = base.filter(col("cyc"))
      .select(concat(col("pre"), col("len")).as("src"),
        concat(col("pre"), lit(0)).as("dst"))
    val urls = base.select(d, concat(col("pre"), lit(0)).as("url"))
    operators.RedirectResolve.resolve(urls, "url",
        chain.unionByName(back), "src", "dst", maxHops = 8)
      .select(d, col("final_url"), col("hops"), col("resolved"))
  }

  private val redirectResolveSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 17 = 0 AND doc_id % 4 <> 0
      |       THEN 'http://r' || doc_id || '.invalid/0'
      |       ELSE 'http://r' || doc_id || '.invalid/' || (doc_id % 4) END
      |    AS final_url,
      |  CAST(CASE WHEN doc_id % 17 = 0 AND doc_id % 4 <> 0 THEN 8
      |       ELSE doc_id % 4 END AS BIGINT) AS hops,
      |  NOT (doc_id % 17 = 0 AND doc_id % 4 <> 0) AS resolved
      |FROM documents""".stripMargin

  /** Shared html_meta fixture: five per-doc head dials covering all
    * three attribute quotings, both attribute orders, nested-tag and
    * multiline titles, and the robots directive forms — so every
    * robustness claim of `HtmlMeta` gates through the oracle. */
  private def htmlMetaPages(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val dial = d % 5
    val canon = concat(lit("http://c.invalid/page/"), d % 50)
    val html = concat(
      lit("<html><head>"),
      when(dial === 0, concat(lit("<title>Doc "), d, lit("</title>")))
        .when(dial === 1, concat(
          lit("<title>Doc <b>"), d, lit("</b></title><link rel=\"canonical\" href=\""),
          canon, lit("\">")))
        .when(dial === 2, concat(
          lit("<title>\n  Doc   "), d, lit(" </title><link href='"), canon,
          lit("' rel='canonical'><meta name=\"description\" content=\"about "),
          d, lit("\">")))
        .when(dial === 3, concat(
          lit("<title>Doc "), d, lit("</title><link rel=canonical href="),
          canon, lit("><meta content='topic "), d,
          lit("' name='description'><meta name=robots content=NOINDEX>")))
        .otherwise(lit("<meta name=\"robots\" content=\"noindex, nofollow\">")),
      lit("</head><body>x</body></html>"))
    Tables.read(s, dir, "documents")
      .select(d, concat(lit("http://s.invalid/u/"), d).as("url"), html.as("html"))
  }

  /** HTML head metadata, FULL oracle — title / description /
    * rel=canonical / robots directives over all quoting and ordering
    * forms (`operators/HtmlMeta.scala`, zero-UDF codegen'd algebra).
    * Oracle replays the fixture's closed form; the engine parses
    * generically. */
  private def htmlMeta(s: SparkSession, dir: String): DataFrame =
    operators.HtmlMeta.extract(htmlMetaPages(s, dir), "doc_id", "html")

  private val htmlMetaSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 4 THEN '' ELSE 'Doc ' || doc_id END AS title,
      |  CASE WHEN doc_id % 5 = 2 THEN 'about ' || doc_id
      |       WHEN doc_id % 5 = 3 THEN 'topic ' || doc_id
      |       ELSE '' END AS description,
      |  CASE WHEN doc_id % 5 IN (1,2,3)
      |       THEN 'http://c.invalid/page/' || (doc_id % 50)
      |       ELSE '' END AS canonical,
      |  doc_id % 5 IN (3,4) AS noindex,
      |  doc_id % 5 = 4 AS nofollow
      |FROM documents""".stripMargin

  /** Canonical-URL dedup, FULL oracle — pages collapse onto their
    * declared rel=canonical target (own URL when undeclared), one
    * shuffle on the key; the site's own dedup hint honored before any
    * content hashing (`operators/HtmlMeta.canonicalDedup`). */
  private def canonicalDedup(s: SparkSession, dir: String): DataFrame =
    operators.HtmlMeta.canonicalDedup(htmlMetaPages(s, dir),
      "doc_id", "url", "html")

  private val canonicalDedupSql =
    """WITH k AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 IN (1,2,3)
      |         THEN 'http://c.invalid/page/' || (doc_id % 50)
      |         ELSE 'http://s.invalid/u/' || doc_id END AS canon_key
      |  FROM documents)
      |SELECT canon_key, CAST(count(*) AS BIGINT) AS n_pages,
      |  min(doc_id) AS keep_id
      |FROM k GROUP BY canon_key""".stripMargin

  /** Shared chat fixture: four conversation dials (system-led pair,
    * two pairs, bare pair, and a BROKEN consecutive-user shape) built
    * as struct arrays and serialized with to_json — the engine
    * re-parses the JSON generically; oracles replay the closed form
    * (content lengths are linear in the doc_id digit count). */
  private def chatConvs(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    def t(role: String, content: Column) =
      struct(lit(role).as("role"), content.as("content"))
    val sys = t("system", concat(lit("sys "), d))
    def u(j: Int) = t("user", concat(lit("ask "), d, lit(" q" + j)))
    def a(j: Int) = t("assistant", concat(lit("ans "), d, lit(" a" + j)))
    val turns = when(d % 4 === 0, array(sys, u(0), a(0)))
      .when(d % 4 === 1, array(u(0), a(0), u(1), a(1)))
      .when(d % 4 === 2, array(u(0), a(0)))
      .otherwise(array(u(0), u(1), a(0)))
    Tables.read(s, dir, "documents").select(d, to_json(turns).as("conv"))
  }

  /** Chat-corpus profile, FULL oracle — per-conversation turn counts,
    * strict-alternation validity (the broken dial gates it), and
    * per-role content chars (`operators/Chat.stats`, zero-UDF
    * from_json + higher-order folds). */
  private def chatStats(s: SparkSession, dir: String): DataFrame =
    operators.Chat.stats(chatConvs(s, dir), "doc_id", "conv")

  private val chatStatsSql =
    """WITH t AS (
      |  SELECT doc_id, doc_id % 4 AS dial,
      |    CAST(length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS l
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(CASE dial WHEN 0 THEN 3 WHEN 1 THEN 4 WHEN 2 THEN 2
      |       ELSE 3 END AS BIGINT) AS n_turns,
      |  CAST(CASE WHEN dial IN (1, 3) THEN 2 ELSE 1 END AS BIGINT) AS n_user,
      |  CAST(CASE WHEN dial = 1 THEN 2 ELSE 1 END AS BIGINT) AS n_assistant,
      |  dial <> 3 AS valid,
      |  CAST(CASE WHEN dial IN (1, 3) THEN 14 + 2 * l
      |       ELSE 7 + l END AS BIGINT) AS user_chars,
      |  CAST(CASE WHEN dial = 1 THEN 14 + 2 * l
      |       ELSE 7 + l END AS BIGINT) AS asst_chars
      |FROM t""".stripMargin

  /** Loss-mask rendering, FULL oracle — conversations render to
    * `<|role|>\ncontent\n` training strings and the mask rows carry
    * the 0-based [start, end) offsets of each ASSISTANT reply plus
    * the slice itself, so offset arithmetic and content verify each
    * other (`operators/Chat.lossMask`, one codegen'd fold computes
    * text and offsets together). Oracle replays the running-offset
    * arithmetic: markers are 9/11/14 chars, contents 7+digits. */
  private def chatLossMask(s: SparkSession, dir: String): DataFrame =
    operators.Chat.lossMask(chatConvs(s, dir), "doc_id", "conv")

  private val chatLossMaskSql =
    """WITH t AS (
      |  SELECT doc_id, doc_id % 4 AS dial,
      |    CAST(length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS l
      |  FROM documents)
      |SELECT doc_id, CAST(0 AS BIGINT) AS span_idx,
      |  CASE dial WHEN 0 THEN 47 + 2 * l WHEN 3 THEN 48 + 2 * l
      |       ELSE 31 + l END AS start_off,
      |  CASE dial WHEN 0 THEN 54 + 3 * l WHEN 3 THEN 55 + 3 * l
      |       ELSE 38 + 2 * l END AS end_off,
      |  'ans ' || doc_id || ' a0' AS span_text
      |FROM t
      |UNION ALL
      |SELECT doc_id, CAST(1 AS BIGINT), 70 + 3 * l, 77 + 4 * l,
      |  'ans ' || doc_id || ' a1'
      |FROM t WHERE dial = 1""".stripMargin

  /** Ogg codec-ID probe, FULL oracle — the codec-metadata rung over
    * the Ogg container (`operators/OpusHead.scala`, RFC 7845 OpusHead
    * + Vorbis I ID header): per doc a CRC-framed Ogg stream whose
    * first packet is an OpusHead (even docs, with a SIGNED Q7.8 output
    * gain) or a Vorbis ID header (odd docs); the probe walks the
    * container and parses the header into typed fields. Oracle is
    * closed-form per dial. */
  private def oggCodecProbe(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long) => {
      val header =
        if (docId % 2 == 0)
          operators.OpusHead.encodeOpusHead(
            channels = 1 + ((docId / 2) % 2).toInt,
            preSkip = (312 + docId % 100).toInt,
            rate = 8000L + (docId % 5) * 8000L,
            gainQ8 = (((docId % 21) - 10) * 64).toInt)
        else
          operators.OpusHead.encodeVorbisId(
            channels = 1 + (docId % 3).toInt,
            rate = if (docId % 4 == 1) 44100L else 48000L)
      operators.Ogg.encodeOgg(docId.toInt,
        Seq(header, Array.fill(40)(0x5a.toByte)))
    })
    val rd = udf((p: Array[Byte]) =>
      operators.OpusHead.probeOgg(p).map(a =>
        (a.codec, a.channels, a.preSkip, a.rate, a.gainQ8)))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), rd(mk(col("doc_id"))).as("r"))
      .select(col("doc_id"),
        col("r._1").as("codec"), col("r._2").cast("long").as("channels"),
        col("r._3").cast("long").as("pre_skip"), col("r._4").as("rate"),
        col("r._5").cast("long").as("gain_q8"))
  }

  private val oggCodecProbeSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id // 2) % 2
      |       ELSE 1 + doc_id % 3 END AS BIGINT) AS channels,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 312 + doc_id % 100 ELSE 0 END
      |       AS BIGINT) AS pre_skip,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 5) * 8000
      |       WHEN doc_id % 4 = 1 THEN 44100 ELSE 48000 END AS BIGINT) AS rate,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN ((doc_id % 21) - 10) * 64 ELSE 0 END
      |       AS BIGINT) AS gain_q8
      |FROM documents""".stripMargin

  /** Boilerplate removal, FULL oracle — block-level link-density
    * content extraction (`operators/Boilerplate.scala`, the jusText/
    * boilerpipe-family heuristic), ZERO UDFs on either side: per doc a
    * five-block page (nav, content, tag cloud, content, link-dense
    * footer) whose block lengths derive from doc_id; the nav and tag
    * cloud fail the length gate, the footer fails the density gate
    * despite passing length, and the two content paragraphs survive.
    * The nav deliberately mixes a single-quoted href and a nested
    * `<b>` anchor label (the real-crawl forms), whose VISIBLE length
    * the density math must count.
    * Oracle replays the arithmetic closed-form. */
  private def boilerplateExtract(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><body><div><a href='/h'>Home</a> <a href=\"/c\"><b>Catalog</b> page</a></div><p>"),
      expr("repeat('alpha beta ', 5 + CAST(doc_id % 6 AS INT))"),
      lit("</p><div>tags: <a href=\"/t1\">one</a><a href=\"/t2\">two</a><a href=\"/t3\">three</a></div><p>"),
      expr("repeat('gamma delta epsilon ', 3 + CAST(doc_id % 4 AS INT))"),
      lit("</p><footer><a href=\"/p\">privacy policy terms</a> copyright notice text</footer></body></html>"))
    val stats = operators.Boilerplate.blockStats(html)
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), stats.as("s"),
        substring(operators.Boilerplate.extractContent(html), 1, 25).as("content_head"))
      .select(col("doc_id"),
        col("s.n_blocks").as("n_blocks"), col("s.n_kept").as("n_kept"),
        col("s.kept_chars").as("kept_chars"), col("s.link_chars").as("link_chars"),
        col("content_head"))
  }

  private val boilerplateExtractSql =
    """SELECT doc_id,
      |  CAST(5 AS BIGINT) AS n_blocks,
      |  CAST(2 AS BIGINT) AS n_kept,
      |  CAST(11 * (5 + doc_id % 6) - 1 + 20 * (3 + doc_id % 4) - 1 AS BIGINT)
      |    AS kept_chars,
      |  CAST(47 AS BIGINT) AS link_chars,
      |  substr(trim(repeat('alpha beta ', CAST(5 + doc_id % 6 AS INT))) || chr(10) ||
      |         trim(repeat('gamma delta epsilon ', CAST(3 + doc_id % 4 AS INT))), 1, 25)
      |    AS content_head
      |FROM documents""".stripMargin

  /** Native baseline JPEG codec, FULL oracle — the entropy-coding rung
    * (`operators/Jpeg.scala`, ITU-T T.81): per doc a grayscale image
    * whose 8×8 blocks are each CONSTANT with (v−128)·8 divisible by
    * the DC quant step — DC-only spectra survive quantization exactly,
    * so decode(encode(img)) is bit-identical regardless of IDCT
    * implementation and a DuckDB oracle replays the whole chain in
    * closed form. Even docs are 24×16; odd docs 17×9, exercising edge
    * replication on encode and crop on decode. Color/4:2:0/restart/JDK
    * cross-checks live in JpegSpec. */
  private def imageJpegNative(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long) => {
      val (w, h) = if (docId % 2 == 0) (24, 16) else (17, 9)
      val bw = (w + 7) / 8
      val px = Array.tabulate(w * h) { i =>
        val bi = (i / w / 8) * bw + (i % w) / 8
        (128 + 2 * (((docId * 7 + bi * 13) % 50) - 25)).toInt
      }
      val img = operators.Jpeg.JpegImage(w, h, 1, px)
      val dec = operators.Jpeg.decodeJpeg(operators.Jpeg.encodeJpeg(img))
        .getOrElse(sys.error(s"jpeg round-trip failed for doc $docId"))
      require(dec.width == w && dec.height == h && dec.channels == 1, "geometry drift")
      var wsum = 0L
      var i = 0
      while (i < dec.pixels.length) { wsum += (i + 1).toLong * dec.pixels(i); i += 1 }
      (w, h, wsum)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id")).as("r"))
      .select(col("doc_id"),
        col("r._1").cast("long").as("w"), col("r._2").cast("long").as("h"),
        col("r._3").as("wsum"))
  }

  private val imageJpegNativeSql =
    """WITH g AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 2 = 0 THEN 24 ELSE 17 END AS w,
      |    CASE WHEN d.doc_id % 2 = 0 THEN 16 ELSE 9 END AS h,
      |    x.range AS x, y.range AS y
      |  FROM documents d, range(24) x, range(16) y
      |  WHERE x.range < CASE WHEN d.doc_id % 2 = 0 THEN 24 ELSE 17 END
      |    AND y.range < CASE WHEN d.doc_id % 2 = 0 THEN 16 ELSE 9 END)
      |SELECT doc_id,
      |  CAST(MAX(w) AS BIGINT) AS w, CAST(MAX(h) AS BIGINT) AS h,
      |  CAST(SUM((y * w + x + 1) *
      |    (128 + 2 * (((doc_id * 7 + ((y // 8) * 3 + (x // 8)) * 13) % 50) - 25)))
      |    AS BIGINT) AS wsum
      |FROM g GROUP BY doc_id""".stripMargin

  /** Outlink extraction + relative-URL resolution, FULL oracle — the
    * link-graph SEED step upstream of the PageRank/community family:
    * each doc is wrapped in an HTML shell carrying the six href
    * shapes a crawler meets (absolute, root-relative, path-relative,
    * fragment-only, query-only, and a SINGLE-quoted relative one),
    * hrefs are quote-normalized then pulled with a native
    * regexp, and resolution against the base URL is an ALL-NATIVE
    * when/concat chain (RFC 3986 §5.3 merge for the shapes present) —
    * zero UDF on either side, so the oracle replays the identical
    * expressions. Counts internal vs external by resolved host. */
  private def htmlLinks(s: SparkSession, dir: String): DataFrame = {
    val baseHost = concat(lit("site-"), col("doc_id") % 50, lit(".invalid"))
    val html = concat(
      lit("<html><body><a href=\"/abs-"), col("doc_id") % 7,
      lit("\">a</a><a href=\"rel-"), col("doc_id") % 5,
      lit("\">b</a><a href=\"http://ext-"), col("doc_id") % 11,
      lit(".invalid/x\">c</a><a href=\"#frag\">d</a><a href=\"?q="),
      col("doc_id") % 3, lit("\">e</a><a href='sq-"),
      col("doc_id") % 4, lit("'>f</a></body></html>"))
    val hrefs = regexp_extract_all(
      operators.AnchorText.normalizeHrefQuotes(html),
      lit("href=\"([^\"]*)\""), lit(1))
    val basePath = lit("/dir/page")
    val resolved = transform(hrefs, h =>
      when(h.startsWith("http://"), h)
        .when(h.startsWith("/"), concat(lit("http://"), baseHost, h))
        .when(h.startsWith("#"), concat(lit("http://"), baseHost, basePath))
        .when(h.startsWith("?"), concat(lit("http://"), baseHost, basePath, h))
        .otherwise(concat(lit("http://"), baseHost, lit("/dir/"), h)))
    val hostOf = (u: Column) => regexp_extract(u, "^http://([^/?#]+)", 1)
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), resolved.as("links"), baseHost.as("base_host"))
      .select(col("doc_id"),
        size(col("links")).cast("long").as("n_links"),
        aggregate(col("links"), lit(0L),
          (acc, u) => acc + when(hostOf(u) === col("base_host"), 1L).otherwise(0L))
          .as("n_internal"),
        aggregate(col("links"), lit(0L),
          (acc, u) => acc + when(hostOf(u) =!= col("base_host"), 1L).otherwise(0L))
          .as("n_external"),
        array_sort(array_distinct(transform(col("links"), hostOf))).getItem(0)
          .as("first_host"),
        element_at(col("links"), 2).as("rel_resolved"))
  }

  private val htmlLinksSql =
    """WITH b AS (
      |  SELECT doc_id,
      |    'site-' || (doc_id % 50) || '.invalid' AS bh,
      |    'ext-' || (doc_id % 11) || '.invalid' AS eh
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(6 AS BIGINT) AS n_links,
      |  CAST(5 AS BIGINT) AS n_internal,
      |  CAST(1 AS BIGINT) AS n_external,
      |  least(bh, eh) AS first_host,
      |  'http://' || bh || '/dir/rel-' || (doc_id % 5) AS rel_resolved
      |FROM b""".stripMargin

  /** HTML table-structure stats, FULL oracle — per page the table/
    * row/cell counts, max row width, and header flag
    * (`operators/HtmlMeta.tableStats`): the routing signal for
    * table-heavy pages. Fixture builds 1-3 tables per doc with
    * doc-keyed shapes via `repeat`; the oracle replays the counts
    * closed-form. */
  private def htmlTablesQ(s: SparkSession, dir: String): DataFrame = {
    def tbl(k: Int) =
      when(col("doc_id") % 3 + 1 > k, concat(
        lit("<table><tr>"), expr(s"repeat('<th>h</th>', (doc_id + $k) % 4 + 1)"),
        lit("</tr>"),
        expr(s"repeat('<tr>' || repeat('<td>x</td>', (doc_id + $k) % 4 + 1) " +
          s"|| '</tr>', (doc_id + $k) % 2 + 1)"),
        lit("</table>"))).otherwise(lit(""))
    val html = concat(lit("<html><body>"), tbl(0), tbl(1), tbl(2),
      lit("</body></html>"))
    val d = Tables.read(s, dir, "documents")
      .select(col("doc_id"), operators.HtmlMeta.tableStats(html).as("t"))
    d.select(col("doc_id"), col("t.n_tables"), col("t.n_rows"),
      col("t.n_cells"), col("t.max_cols"), col("t.has_header"))
  }

  private val htmlTablesSql = {
    val inc = (k: Int) => s"(1 + doc_id % 3 > $k)"
    val c = (k: Int) => s"(1 + (doc_id + $k) % 4)"
    val rws = (k: Int) => s"(2 + (doc_id + $k) % 2)" // header + data rows
    val rowSum = (0 to 2).map(k =>
      s"CASE WHEN ${inc(k)} THEN ${rws(k)} ELSE 0 END").mkString(" + ")
    val cellSum = (0 to 2).map(k =>
      s"CASE WHEN ${inc(k)} THEN ${c(k)} * ${rws(k)} ELSE 0 END")
      .mkString(" + ")
    val maxCols = (0 to 2).map(k =>
      s"CASE WHEN ${inc(k)} THEN ${c(k)} ELSE 0 END").mkString(", ")
    s"""SELECT doc_id, CAST(1 + doc_id % 3 AS BIGINT) AS n_tables,
       |  CAST($rowSum AS BIGINT) AS n_rows,
       |  CAST($cellSum AS BIGINT) AS n_cells,
       |  CAST(GREATEST($maxCols) AS BIGINT) AS max_cols,
       |  true AS has_header
       |FROM documents""".stripMargin
  }

  /** HTML table CELL extraction, FULL oracle — the r12-verdict
    * promotion of html_tables from stats to content
    * (`operators/HtmlMeta.tableCells`): one row per `&lt;tr&gt;` with
    * tag-stripped cell texts ('|'-joined for the compare), the LOGICAL
    * width (own colspans + rowspan carries, VERDICT r13 ask #4), each
    * cell's logical start column ('|'-joined), and the header flag.
    * Fixture pages carry an UNQUOTED rowspan opening the header row
    * (it occupies column 0 of the FIRST data row, which must start its
    * cells at column 1 and report carry+own width), a SINGLE-quoted
    * colspan in the header, an UNQUOTED colspan in every data row,
    * nested inline markup inside cells, and (every third doc) a second
    * table whose cell TEXT contains a colspan-like string that must
    * NOT read as a declared span AND must survive extraction VERBATIM
    * (ADVICE r13 + r14: the r14 quote normalizer rewrote the text to
    * colspan="8" — a silent mutation of extracted training data; span
    * parsing is now quote-tolerant in place, so the text passes
    * through untouched and the oracle pins the fidelity); the oracle
    * replays the exploded rows closed-form. */
  private def htmlTableCellsQ(s: SparkSession, dir: String): DataFrame = {
    val dataRows = array_join(transform(
      sequence(lit(1L), col("doc_id") % 2 + 1),
      j => concat(lit("<tr><td>v"), j, lit(" <i>"), col("doc_id") % 5,
        lit("</i></td><td colspan=2>w"), j, lit("</td></tr>"))), "")
    val t0 = concat(lit("<table class='data'><tr><th rowspan=2>r</th>" +
      "<th colspan='2'>h"),
      col("doc_id") % 5, lit(" <b>b</b></th><th>c</th></tr>"), dataRows,
      lit("</table>"))
    val t1 = when(col("doc_id") % 3 === 0,
      lit("<table><tr><td>solo <span>s</span> colspan=8</td></tr></table>"))
      .otherwise(lit(""))
    val html = concat(lit("<html><body>"), t0, t1, lit("</body></html>"))
    operators.HtmlMeta.tableCells(
      Tables.read(s, dir, "documents").select(col("doc_id"),
        html.as("html")),
      "doc_id", "html")
      .select(col("doc_id"), col("table_idx"), col("row_idx"),
        array_join(col("cells"), "|").as("cells"), col("width"),
        array_join(col("col_starts"), "|").as("col_starts"),
        col("is_header"))
  }

  private val htmlTableCellsSql =
    """WITH h AS (SELECT doc_id, doc_id % 2 AS m2, doc_id % 3 AS m3,
      |    doc_id % 5 AS m5 FROM documents)
      |SELECT doc_id, CAST(0 AS BIGINT) AS table_idx,
      |  CAST(0 AS BIGINT) AS row_idx,
      |  'r|h' || m5 || ' b|c' AS cells, CAST(4 AS BIGINT) AS width,
      |  '0|1|3' AS col_starts, true AS is_header
      |FROM h
      |UNION ALL
      |-- data row 1 inherits the header rowspan's column 0: carry 1,
      |-- cells shift to start columns 1 and 2; row 2 (m2=1 docs) is
      |-- past the span and lays out from column 0 at width 3
      |SELECT doc_id, CAST(0 AS BIGINT), CAST(j.j AS BIGINT),
      |  'v' || j.j || ' ' || m5 || '|w' || j.j,
      |  CAST(CASE WHEN j.j = 1 THEN 4 ELSE 3 END AS BIGINT),
      |  CASE WHEN j.j = 1 THEN '1|2' ELSE '0|1' END, false
      |FROM h, range(1, 3) j(j) WHERE j.j <= m2 + 1
      |UNION ALL
      |SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
      |  'solo s colspan=8',
      |  CAST(1 AS BIGINT), '0', false
      |FROM h WHERE m3 = 0""".stripMargin

  /** OpenGraph social-card extraction, FULL oracle — og:title/type/
    * image with title fallback (`operators/HtmlMeta.ogCards`): fixture
    * pages mix single-quoted, unquoted, and reversed-order meta
    * attributes (the quote-normalization contract), one third carry no
    * card at all; closed-form oracle. */
  private def ogCardsQ(s: SparkSession, dir: String): DataFrame = {
    val og = when(col("doc_id") % 3 =!= 0, concat(
      lit("<meta property='og:title' content='OG "), col("doc_id") % 5,
      lit("'><meta content=\"img-"), col("doc_id") % 4,
      lit(".png\" property=og:image><meta property=\"og:type\" content=\""),
      when(col("doc_id") % 2 === 0, lit("article")).otherwise(lit("website")),
      lit("\">"))).otherwise(lit(""))
    val html = concat(lit("<html><head><title>T"), col("doc_id") % 7,
      lit("</title>"), og, lit("</head><body>x</body></html>"))
    operators.HtmlMeta.ogCards(
      Tables.read(s, dir, "documents").select(col("doc_id"),
        html.as("html")),
      "doc_id", "html")
  }

  private val ogCardsSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'T' || (doc_id % 7)
      |       ELSE 'OG ' || (doc_id % 5) END AS card_title,
      |  CASE WHEN doc_id % 3 = 0 THEN ''
      |       WHEN doc_id % 2 = 0 THEN 'article' ELSE 'website'
      |  END AS og_type,
      |  CASE WHEN doc_id % 3 = 0 THEN ''
      |       ELSE 'img-' || (doc_id % 4) || '.png' END AS og_image,
      |  doc_id % 3 <> 0 AS has_card
      |FROM documents""".stripMargin

  /** RSS/Atom feed probe, FULL oracle — flavor, channel title, entry
    * and link counts (`operators/HtmlMeta.feedStats`): fixture feeds
    * alternate RSS items and Atom entries with doc-keyed counts;
    * closed-form oracle. */
  private def rssProbeQ(s: SparkSession, dir: String): DataFrame = {
    val k = "CAST(doc_id % 4 + 1 AS INT)"
    val rss = concat(lit("<rss version=\"2.0\"><channel><title>Feed "),
      col("doc_id") % 7, lit("</title>"),
      expr(s"repeat('<item><title>i</title><link>http://h/p</link></item>', $k)"),
      lit("</channel></rss>"))
    val atom = concat(lit("<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
      "<title>Feed "), col("doc_id") % 7,
      lit("</title><link rel=\"self\" href=\"http://h/feed\"/>"),
      expr(s"repeat('<entry><link href=''http://h/p''/></entry>', $k)"),
      lit("</feed>"))
    val xml = when(col("doc_id") % 2 === 0, rss).otherwise(atom)
    val d = Tables.read(s, dir, "documents")
      .select(col("doc_id"), operators.HtmlMeta.feedStats(xml).as("f"))
    d.select(col("doc_id"), col("f.flavor"), col("f.feed_title"),
      col("f.n_entries"), col("f.n_links"))
  }

  private val rssProbeSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS flavor,
      |  'Feed ' || (doc_id % 7) AS feed_title,
      |  CAST(doc_id % 4 + 1 AS BIGINT) AS n_entries,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 4 + 1
      |       ELSE doc_id % 4 + 2 END AS BIGINT) AS n_links
      |FROM documents""".stripMargin

  /** SVG asset probe, FULL oracle — root dims/viewBox + shape counts
    * (`operators/HtmlMeta.svgStats`): fixture icons mix quoting forms
    * and unit suffixes, repeat shape elements doc-keyed; closed-form
    * oracle. */
  private def svgProbeQ(s: SparkSession, dir: String): DataFrame = {
    val vb = when(col("doc_id") % 2 === 0,
      lit(" viewBox='0 0 24 24'")).otherwise(lit(""))
    val wAttr = when(col("doc_id") % 3 === 0, lit(""))
      .otherwise(concat(lit(" width="), (col("doc_id") % 5 + 1) * 8,
        lit(" height=\""), (col("doc_id") % 5 + 1) * 8, lit("px\"")))
    val svg = concat(lit("<svg stroke-width=\"2\""), wAttr, vb, lit(">"),
      expr("repeat('<path d=\"M0 0\"/>', CAST(doc_id % 4 AS INT))"),
      expr("repeat('<rect/>', CAST(doc_id % 3 AS INT))"),
      lit("<circle r=\"4\"/><text>t</text></svg>"))
    val d = Tables.read(s, dir, "documents")
      .select(col("doc_id"), operators.HtmlMeta.svgStats(svg).as("s"))
    d.select(col("doc_id"), col("s.width"), col("s.height"),
      col("s.has_viewbox"), col("s.n_paths"), col("s.n_rects"),
      col("s.n_circles"), col("s.n_texts"))
  }

  private val svgProbeSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN ''
      |       ELSE CAST((doc_id % 5 + 1) * 8 AS VARCHAR) END AS width,
      |  CASE WHEN doc_id % 3 = 0 THEN ''
      |       ELSE CAST((doc_id % 5 + 1) * 8 AS VARCHAR) || 'px'
      |  END AS height,
      |  doc_id % 2 = 0 AS has_viewbox,
      |  CAST(doc_id % 4 AS BIGINT) AS n_paths,
      |  CAST(doc_id % 3 AS BIGINT) AS n_rects,
      |  CAST(1 AS BIGINT) AS n_circles,
      |  CAST(1 AS BIGINT) AS n_texts
      |FROM documents""".stripMargin

  /** ICO/favicon container probe, FULL oracle — per doc an .ico
    * wrapping 1-2 REAL native-PNG payloads (`operators/Ico.scala`):
    * the directory walk, PNG-signature sniff, and a full PNG decode of
    * every payload (dims cross-checked against the directory's
    * declared sizes); the oracle replays the structural fields
    * closed-form. */
  private def icoProbeQ(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long) => {
      val n = 1 + (docId % 2).toInt
      val dims = (0 until n).map { j =>
        val w = 4 + ((docId + j) % 3).toInt * 4
        (w, w)
      }
      val payloads = dims.map { case (w, h) =>
        operators.Png.encodePng(operators.Png.PngImage(w, h, 2,
          Array.tabulate(w * h)(i =>
            0xff000000 | (((docId + i) % 256).toInt << 16) |
              (((docId * 7 + i) % 256).toInt << 8) |
              ((i * 3) % 256))), filterMode = 1)
      }
      val ico = operators.Ico.encodeIco(dims, payloads)
      val entries = operators.Ico.probeIco(ico)
        .getOrElse(sys.error(s"unprobeable ico for doc $docId"))
      (entries.length.toLong, entries.map(_.width.toLong).max,
        entries.forall(_.isPng),
        entries.map(_.width).zip(dims.map(_._1)).forall(p => p._1 == p._2))
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id")).as("r"))
      .select(col("doc_id"), col("r._1").as("n_images"),
        col("r._2").as("max_w"), col("r._3").as("all_png"),
        col("r._4").as("dims_ok"))
  }

  private val icoProbeSql =
    """SELECT doc_id, CAST(1 + doc_id % 2 AS BIGINT) AS n_images,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 4 + (doc_id % 3) * 4
      |    ELSE greatest(4 + (doc_id % 3) * 4, 4 + ((doc_id + 1) % 3) * 4)
      |  END AS BIGINT) AS max_w,
      |  true AS all_png, true AS dims_ok
      |FROM documents""".stripMargin

  /** Ogg container framing, FULL oracle — the streaming-audio wrapper
    * rung (`operators/Ogg.scala`): per doc an Ogg stream of 2-4
    * packets whose lengths cross the 255 lacing boundary, paged at 5
    * lacing values per page so packets SPAN pages (continuation flags
    * + BOS/EOS + the spec's own non-reflected CRC-32 all exercised),
    * decoded by the real reader. The oracle re-derives packet count,
    * byte totals, page count from the lacing arithmetic (Σ(len//255
    * + 1) segments at 5 per page), and the final granule. */
  private def oggIngest(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long) => {
      val k = (2 + docId % 3).toInt
      val packets = (0 until k).map { j =>
        val unit = s"pkt-$docId-$j"
        (unit * (1 + ((docId + j) % 40).toInt)).getBytes("UTF-8")
      }
      val enc = operators.Ogg.encodeOgg(serial = (docId % 100000).toInt,
        packets, maxSegs = 5)
      val st = operators.Ogg.decodeOgg(enc).getOrElse(sys.error("undecodable ogg"))
      (st.packets.length.toLong,
        st.packets.map(_.length.toLong).sum,
        st.packets.head.length.toLong,
        st.packets.last.length.toLong,
        st.nPages.toLong, st.lastGranule)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("n_packets"), col("r._2").as("total_bytes"),
        col("r._3").as("first_len"), col("r._4").as("last_len"),
        col("r._5").as("n_pages"), col("r._6").as("last_granule"))
  }

  private val oggIngestSql =
    """WITH base AS (
      |  SELECT doc_id, 2 + doc_id % 3 AS k FROM documents),
      |p AS (
      |  SELECT doc_id, k, unnest(range(0, k)) AS j FROM base),
      |lens AS (
      |  SELECT doc_id, k, j,
      |    strlen('pkt-' || doc_id || '-' || j) * (1 + (doc_id + j) % 40) AS len
      |  FROM p)
      |SELECT doc_id,
      |  CAST(max(k) AS BIGINT) AS n_packets,
      |  CAST(sum(len) AS BIGINT) AS total_bytes,
      |  CAST(max(CASE WHEN j = 0 THEN len END) AS BIGINT) AS first_len,
      |  CAST(max(CASE WHEN j = k - 1 THEN len END) AS BIGINT) AS last_len,
      |  CAST((sum(len // 255 + 1) + 4) // 5 AS BIGINT) AS n_pages,
      |  CAST(max(k) AS BIGINT) AS last_granule
      |FROM lens GROUP BY 1""".stripMargin

  /** WebM/Matroska metadata probe, FULL oracle — the EBML container
    * rung (`operators/Ebml.scala`): per doc a metadata-only WebM
    * (EBML header, Segment → Info → Tracks with a video and an audio
    * TrackEntry) is serialized with real VINT coding and probed back
    * by the real reader — id/size VINTs, float Duration, nested
    * track walks, unknown-element skip. The probe never touches
    * cluster payloads (cost independent of media size — the 100 TB
    * property). Oracle re-derives doctype, duration, codecs, dims,
    * rate and channels from the doc columns. */
  private def webmProbe(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => {
      import operators.Ebml
      Ebml.encodeWebm(Ebml.WebmMeta(
        docType = if (d % 5 == 0) "matroska" else "webm",
        docTypeVersion = (2 + d % 3).toInt,
        timestampScale = 1000000L,
        durationTicks = (1000 + d % 9000).toDouble,
        tracks = Seq(
          Ebml.Track(1, 1, if (d % 2 == 0) "V_VP8" else "V_VP9",
            pixelWidth = (320 + (d % 8) * 16).toInt,
            pixelHeight = (240 + (d % 6) * 16).toInt),
          Ebml.Track(2, 2, if (d % 3 == 0) "A_VORBIS" else "A_OPUS",
            sampleRate = if (d % 2 == 0) 48000.0 else 44100.0,
            channels = (1 + d % 2).toInt))))
    })
    val probe = udf((b: Array[Byte]) =>
      operators.Ebml.probeWebm(b).map { m =>
        val v = m.tracks.find(_.trackType == 1).get
        val a = m.tracks.find(_.trackType == 2).get
        (m.docType, m.docTypeVersion.toLong, m.timestampScale,
          m.durationTicks.toLong, m.tracks.length.toLong,
          v.codecId, v.pixelWidth.toLong, v.pixelHeight.toLong,
          a.codecId, a.sampleRate.toLong, a.channels.toLong)
      })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), probe(mk(col("doc_id"))).as("m"))
      .select(col("doc_id"),
        col("m._1").as("doc_type"), col("m._2").as("doctype_version"),
        col("m._3").as("ts_scale"), col("m._4").as("duration_ms"),
        col("m._5").as("n_tracks"), col("m._6").as("v_codec"),
        col("m._7").as("v_w"), col("m._8").as("v_h"),
        col("m._9").as("a_codec"), col("m._10").as("a_rate"),
        col("m._11").as("a_ch"))
  }

  private val webmProbeSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0 THEN 'matroska' ELSE 'webm' END AS doc_type,
      |  CAST(2 + doc_id % 3 AS BIGINT) AS doctype_version,
      |  CAST(1000000 AS BIGINT) AS ts_scale,
      |  CAST(1000 + doc_id % 9000 AS BIGINT) AS duration_ms,
      |  CAST(2 AS BIGINT) AS n_tracks,
      |  CASE WHEN doc_id % 2 = 0 THEN 'V_VP8' ELSE 'V_VP9' END AS v_codec,
      |  CAST(320 + (doc_id % 8) * 16 AS BIGINT) AS v_w,
      |  CAST(240 + (doc_id % 6) * 16 AS BIGINT) AS v_h,
      |  CASE WHEN doc_id % 3 = 0 THEN 'A_VORBIS' ELSE 'A_OPUS' END AS a_codec,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 48000 ELSE 44100 END AS BIGINT) AS a_rate,
      |  CAST(1 + doc_id % 2 AS BIGINT) AS a_ch
      |FROM documents""".stripMargin

  /** TFRecord shard ingestion, FULL oracle — the ML-native archive
    * rung (`operators/Tfrecord.scala`): per doc a 2-example TFRecord
    * shard (tf.Example protobufs — UTF-8 bytes feature, int64 lists
    * with NEGATIVE values forcing 10-byte varints, packed-fixed32
    * float list of exact quarters) framed with masked-CRC32C lengths
    * and payloads, decoded by the real reader (framing walk, wire-type
    * parse, CRC verification). The oracle re-derives example counts,
    * byte/int/float aggregates from the documents columns; a varint,
    * packing, mask, or framing defect breaks the hash. */
  private def tfrecordIngest(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((docId: Long, text: String, lang: String, nChars: Long) => {
      import operators.Tfrecord._
      val t = if (text == null) "" else text
      val nTok = (nChars % 5).toInt + 1
      val toks = (1 to nTok).map(k => (docId * 13 + k) % 1000 - 500)
      val ex1: Example = Map(
        "text" -> BytesV(Seq(t.getBytes("UTF-8"))),
        "id" -> IntsV(Seq(docId)),
        "tokens" -> IntsV(toks),
        "score" -> FloatsV(Seq((docId % 64) / 4.0f, ((docId * 3) % 64) / 4.0f)))
      val ex2: Example = Map(
        "id" -> IntsV(Seq(-docId - 1)),
        "text" -> BytesV(Seq(("meta-" + lang).getBytes("UTF-8"))))
      operators.Tfrecord.encodeShard(Seq(ex1, ex2))
    })
    val rd = udf((shard: Array[Byte]) => {
      import operators.Tfrecord._
      operators.Tfrecord.decodeShard(shard).map { exs =>
        val e1 = exs.head; val e2 = exs(1)
        val textBytes = e1("text") match { case BytesV(vs) => vs.head.length.toLong; case _ => -1L }
        val idSum = (e1("id"), e2("id")) match {
          case (IntsV(a), IntsV(b)) => a.head + b.head
          case _ => Long.MinValue
        }
        val (tokSum, nTok) = e1("tokens") match {
          case IntsV(vs) => (vs.sum, vs.length.toLong)
          case _ => (Long.MinValue, -1L)
        }
        val scoreSum = e1("score") match { case FloatsV(vs) => vs.sum; case _ => Float.NaN }
        (exs.length.toLong, textBytes, idSum, tokSum, nTok, scoreSum)
      }
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        rd(mk(col("doc_id"), col("text"), col("lang"), col("n_chars"))).as("r"))
      .select(col("doc_id"),
        col("r._1").as("n_examples"), col("r._2").as("text_bytes"),
        col("r._3").as("id_sum"), col("r._4").as("tok_sum"),
        col("r._5").as("n_tokens"), col("r._6").as("score_sum"))
  }

  private val tfrecordIngestSql =
    """WITH base AS (
      |  SELECT doc_id, strlen(text) AS tb, n_chars % 5 + 1 AS n_tok
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, tb, n_tok,
      |    list_sum(list_transform(range(1, CAST(n_tok AS INT) + 1),
      |      k -> (doc_id * 13 + k) % 1000 - 500)) AS tok_sum
      |  FROM base)
      |SELECT doc_id,
      |  CAST(2 AS BIGINT) AS n_examples,
      |  CAST(tb AS BIGINT) AS text_bytes,
      |  CAST(-1 AS BIGINT) AS id_sum,
      |  CAST(tok_sum AS BIGINT) AS tok_sum,
      |  CAST(n_tok AS BIGINT) AS n_tokens,
      |  CAST((doc_id % 64) / 4.0 + ((doc_id * 3) % 64) / 4.0 AS REAL) AS score_sum
      |FROM t""".stripMargin

  /** RFC 4180 CSV ingestion through Catalyst's OWN parser, FULL
    * oracle — the tabular-drop ingest surface done the Spark-first
    * way: a quoting-hostile CSV record (embedded commas, doubled
    * quotes, a quoted numeric) is composed natively per doc and parsed
    * by `from_csv` — a native Catalyst expression, zero UDF on the
    * Spark side — and the oracle re-derives the parsed fields from the
    * same closed forms. Exercises quote folding, embedded separators,
    * and typed casts inside the expression engine itself. */
  private def csvIngest(s: SparkSession, dir: String): DataFrame = {
    val line = concat(
      col("doc_id"), lit(","),
      lit("\"said \"\"hi\"\", twice\""), lit(","),
      col("lang"), lit(","),
      lit("\""), col("n_chars"), lit("\""), lit(","),
      lit("trail-"), col("doc_id") % 7)
    val schema = "id LONG, quoted STRING, lang STRING, n LONG, tail STRING"
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        // escape='"' selects RFC 4180 quote-doubling (Spark's default
        // escape is backslash, a pre-RFC dialect)
        from_csv(line, org.apache.spark.sql.types.StructType.fromDDL(schema),
          Map("escape" -> "\"")).as("r"))
      .select(col("doc_id"),
        col("r.id").as("id"), col("r.quoted").as("quoted"),
        col("r.lang").as("lang2"), col("r.n").as("n"),
        col("r.tail").as("tail"))
  }

  private val csvIngestSql =
    """SELECT doc_id,
      |  doc_id AS id,
      |  'said "hi", twice' AS quoted,
      |  lang AS lang2,
      |  CAST(n_chars AS BIGINT) AS n,
      |  'trail-' || (doc_id % 7) AS tail
      |FROM documents""".stripMargin

  /** XML extraction through Catalyst's OWN parser, FULL oracle — the
    * feed/config ingest surface via `from_xml` (native in Spark 4):
    * per doc an XML fragment with an attribute, nested elements, and
    * an entity escape is composed natively and parsed by the
    * expression engine — zero UDF — with the oracle re-deriving every
    * extracted field. The sibling of `sitemap_parse` (which covers the
    * hardened-DOM path); this covers the Catalyst-expression path. */
  private def xmlExtract(s: SparkSession, dir: String): DataFrame = {
    val xml = concat(
      lit("<doc id=\""), col("doc_id"), lit("\"><lang>"), col("lang"),
      lit("</lang><n>"), col("n_chars"),
      lit("</n><title>T &amp; t "), col("doc_id") % 5, lit("</title></doc>"))
    val schema = "_id LONG, lang STRING, n LONG, title STRING"
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        from_xml(xml, org.apache.spark.sql.types.StructType.fromDDL(schema),
          new java.util.HashMap[String, String]()).as("r"))
      .select(col("doc_id"),
        col("r._id").as("id"), col("r.lang").as("lang2"),
        col("r.n").as("n"), col("r.title").as("title"))
  }

  private val xmlExtractSql =
    """SELECT doc_id,
      |  doc_id AS id,
      |  lang AS lang2,
      |  CAST(n_chars AS BIGINT) AS n,
      |  'T & t ' || (doc_id % 5) AS title
      |FROM documents""".stripMargin

  /** Caption/audio alignment, FULL oracle — the cross-modal
    * INTEGRATION step of a video-corpus pipeline: a clip's caption
    * track must fit inside its audio; cues that overrun the decoded
    * duration mark a bad mux or a drifted transcript. Per doc a REAL
    * WAV (PCM16, closed-form duration) and a REAL SRT/VTT track
    * (closed-form cue timings) are built, decoded by their real
    * readers (`Multimodal.decodeWavSamples`, `Subtitles.parse`), and
    * joined on the time axis: overrun count, covered milliseconds
    * (clamped interval sum), and the alignment verdict — all exact
    * integer arithmetic the oracle re-derives. */
  private def captionAudioAlign(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long, nChars: Long) => {
      val rate = 8000
      val frames = 4000 + (docId % 5).toInt * 2000
      val samples = Array.tabulate[Short](frames)(i =>
        (((docId * 31 + i * 7) % 65536) - 32768).toShort)
      val wav = operators.Multimodal.encodeWavPcm16(samples, rate, 1)
      val nCues = (3 + nChars % 6).toInt
      val cues = (0 until nCues).map { i =>
        operators.Subtitles.Cue(i + 1, i * 400L, i * 400L + 350L, s"cue $i of doc $docId")
      }
      val track =
        if (docId % 2 == 0) operators.Subtitles.encodeSrt(cues)
        else operators.Subtitles.encodeVtt(cues)
      val (meta, _) = operators.Multimodal.decodeWavSamples(wav)
        .getOrElse(sys.error("undecodable wav"))
      val durationMs = meta.frames * 1000L / meta.sampleRate
      val parsed = operators.Subtitles.parse(track).getOrElse(sys.error("bad track"))
      val overrun = parsed.count(_.endMs > durationMs).toLong
      val covered = parsed.map { c =>
        math.max(0L, math.min(c.endMs, durationMs) - math.min(c.startMs, durationMs))
      }.sum
      (durationMs, parsed.length.toLong, overrun, covered, overrun == 0L)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id"), col("n_chars")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("duration_ms"), col("r._2").as("n_cues"),
        col("r._3").as("n_overrun"), col("r._4").as("covered_ms"),
        col("r._5").as("align_ok"))
  }

  private val captionAudioAlignSql =
    """WITH base AS (
      |  SELECT doc_id, 500 + (doc_id % 5) * 250 AS dur,
      |    3 + n_chars % 6 AS n_cues
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, dur, n_cues, unnest(range(0, n_cues)) AS i FROM base),
      |t AS (
      |  SELECT doc_id, dur, n_cues, i, i * 400 AS st, i * 400 + 350 AS en FROM c)
      |SELECT doc_id,
      |  CAST(max(dur) AS BIGINT) AS duration_ms,
      |  CAST(max(n_cues) AS BIGINT) AS n_cues,
      |  CAST(sum(CASE WHEN en > dur THEN 1 ELSE 0 END) AS BIGINT) AS n_overrun,
      |  CAST(sum(greatest(0, least(en, dur) - least(st, dur))) AS BIGINT) AS covered_ms,
      |  (sum(CASE WHEN en > dur THEN 1 ELSE 0 END) = 0) AS align_ok
      |FROM t GROUP BY 1""".stripMargin

  /** Rational audio resampling, FULL oracle — the interpolating
    * companion of the stride-decimation `audio_resample`
    * (`operators/Resample.scala`): closed-form PCM16 is
    * resampled by a rational ratio cycling up/down/3:2/2:3 per doc via
    * exact-integer linear interpolation (truncating division matching
    * SQL `//`), and the oracle replays every output sample — index,
    * fraction, interpolation and all — from the same closed form. */
  private def audioResampleLinear(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long, nChars: Long) => {
      val n = (64 + nChars % 64).toInt
      val xs = Array.tabulate[Short](n)(i =>
        (((docId * 37 + i * 11) % 65536) - 32768).toShort)
      val (p, q) = (docId % 4).toInt match {
        case 0 => (2, 1); case 1 => (1, 2); case 2 => (3, 2); case _ => (2, 3)
      }
      val out = operators.Resample.resampleLinear(xs, 1, p, q)
      var sum = 0L; var wsum = 0L
      var j = 0
      while (j < out.length) { sum += out(j); wsum += j.toLong * out(j); j += 1 }
      (out.length.toLong, sum, wsum, out.head.toLong, out.last.toLong)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id"), col("n_chars")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("n_out"), col("r._2").as("sum_out"),
        col("r._3").as("wsum"), col("r._4").as("first_out"),
        col("r._5").as("last_out"))
  }

  private val audioResampleLinearSql =
    """WITH base AS (
      |  SELECT doc_id, 64 + n_chars % 64 AS n,
      |    CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 2 END AS p,
      |    CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 3 END AS q
      |  FROM documents),
      |o AS (SELECT doc_id, n, p, q, (n - 1) * p // q + 1 AS n_out FROM base),
      |j AS (SELECT doc_id, n, p, q, n_out, unnest(range(0, n_out)) AS j FROM o),
      |v AS (
      |  SELECT doc_id, n_out, j,
      |    (doc_id * 37 + ((j * q) // p) * 11) % 65536 - 32768 AS x0,
      |    (doc_id * 37 + ((j * q) // p + 1) * 11) % 65536 - 32768 AS x1,
      |    (j * q) % p AS frac, (j * q) // p AS idx, p, n
      |  FROM j),
      |w AS (
      |  SELECT doc_id, n_out, j,
      |    CASE WHEN frac = 0 OR idx + 1 >= n THEN x0
      |         ELSE x0 + ((x1 - x0) * frac) // p END AS v
      |  FROM v)
      |SELECT doc_id,
      |  CAST(max(n_out) AS BIGINT) AS n_out,
      |  CAST(sum(v) AS BIGINT) AS sum_out,
      |  CAST(sum(j * v) AS BIGINT) AS wsum,
      |  CAST(max(CASE WHEN j = 0 THEN v END) AS BIGINT) AS first_out,
      |  CAST(max(CASE WHEN j = n_out - 1 THEN v END) AS BIGINT) AS last_out
      |FROM w GROUP BY 1""".stripMargin

  /** EXIF orientation application, FULL oracle — the pixel-side
    * companion of `image_exif` (`operators/Orient.scala`): an 8×6
    * closed-form raster goes through each of the 8 EXIF orientations
    * (doc-cycled); the position-weighted sum over the OUTPUT raster
    * catches any wrong mapping (mirror, rotation, transpose, and the
    * 5-8 dimension swap), while the plain sum pins losslessness. */
  private def imageOrient(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long) => {
      val w = 8; val h = 6
      val px = Array.tabulate(w * h) { i =>
        val v = ((docId * 3 + i * 7) % 256).toInt
        0xff000000 | v
      }
      val o = (1 + docId % 8).toInt
      val (out, ow, oh) = operators.Orient(px, w, h, o)
      var sum = 0L; var wsum = 0L
      var i = 0
      while (i < out.length) {
        val v = out(i) & 0xff
        sum += v; wsum += i.toLong * v
        i += 1
      }
      (o.toLong, ow.toLong, oh.toLong, sum, wsum)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), run(col("doc_id")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("orientation"), col("r._2").as("out_w"),
        col("r._3").as("out_h"), col("r._4").as("sum_v"),
        col("r._5").as("wsum"))
  }

  private val imageOrientSql =
    """WITH grid AS (SELECT unnest(range(0, 48)) AS i),
      |src AS (
      |  SELECT d.doc_id, g.i, g.i % 8 AS x, g.i // 8 AS y,
      |    (d.doc_id * 3 + g.i * 7) % 256 AS v,
      |    1 + d.doc_id % 8 AS o
      |  FROM documents d, grid g),
      |m AS (
      |  SELECT doc_id, o, v,
      |    CASE o WHEN 1 THEN x WHEN 2 THEN 7 - x WHEN 3 THEN 7 - x
      |           WHEN 4 THEN x WHEN 5 THEN y WHEN 6 THEN 5 - y
      |           WHEN 7 THEN 5 - y ELSE y END AS dx,
      |    CASE o WHEN 1 THEN y WHEN 2 THEN y WHEN 3 THEN 5 - y
      |           WHEN 4 THEN 5 - y WHEN 5 THEN x WHEN 6 THEN x
      |           WHEN 7 THEN 7 - x ELSE 7 - x END AS dy,
      |    CASE WHEN o >= 5 THEN 6 ELSE 8 END AS ow
      |  FROM src)
      |SELECT doc_id,
      |  CAST(max(o) AS BIGINT) AS orientation,
      |  CAST(max(ow) AS BIGINT) AS out_w,
      |  CAST(max(CASE WHEN o >= 5 THEN 8 ELSE 6 END) AS BIGINT) AS out_h,
      |  CAST(sum(v) AS BIGINT) AS sum_v,
      |  CAST(sum((dy * ow + dx) * v) AS BIGINT) AS wsum
      |FROM m GROUP BY 1""".stripMargin

  /** PDF text extraction, FULL oracle — the paper/report rung of the
    * ingest ladder (`operators/Pdf.scala`): per doc a classic-xref
    * 2-page PDF (page 1: the doc's tokens as 8-word Tj/TJ lines with
    * the real kerning-split TJ arrays, FlateDecode + INDIRECT /Length;
    * page 2: raw stream, direct /Length, parens + backslash escapes in
    * the literals), decoded by the real reader — startxref → xref →
    * /Root → /Kids walk, zlib inflate, full string-escape resolution.
    * The oracle re-derives page counts, line counts, reassembled char
    * totals, and page-2's exact text; a broken escape, a TJ fragment
    * lost, or an xref short-cut breaks the hash. */
  private def pdfExtract(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long, lang: String, toks: Seq[String]) => {
      import operators.Pdf
      val p1 = Pdf.Page(toks.grouped(8).map(_.mkString(" ")).toSeq)
      val p2 = Pdf.Page(Seq(s"Doc ($docId) \\ money 100% (ok)", s"lang: $lang"))
      val pages = Pdf.decodePdfText(Pdf.encodePdf(Seq(p1, p2)))
        .getOrElse(sys.error("undecodable PDF"))
      val r1 = pages.head
      val p1Lines = if (r1.isEmpty) 0L else r1.split("\n", -1).length.toLong
      val p1Chars = r1.replace("\n", " ").length.toLong
      (pages.length.toLong, p1Lines, p1Chars, pages(1))
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      .select(col("doc_id"),
        run(col("doc_id"), col("lang"), col("toks")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("n_pages"), col("r._2").as("p1_lines"),
        col("r._3").as("p1_chars"), col("r._4").as("p2_text"))
  }

  private val pdfExtractSql =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, lang, len(toks) AS n_tok,
      |    (len(toks) + 7) // 8 AS n_lines,
      |    COALESCE(list_sum(list_transform(toks, x -> strlen(x))), 0) AS tbytes
      |  FROM t)
      |SELECT doc_id,
      |  CAST(2 AS BIGINT) AS n_pages,
      |  CAST(n_lines AS BIGINT) AS p1_lines,
      |  CAST(CASE WHEN n_tok > 0 THEN tbytes + n_tok - 1 ELSE 0 END AS BIGINT) AS p1_chars,
      |  'Doc (' || doc_id || ') \ money 100% (ok)' || chr(10) || 'lang: ' || lang AS p2_text
      |FROM s""".stripMargin

  /** Subtitle/caption parsing (SRT + WebVTT), FULL oracle — the caption
    * side of a video corpus (`operators/Subtitles.scala`): each doc's
    * words become 5-word cues at closed-form timings, serialized as
    * REAL SubRip (even docs: CRLF, comma millis, numeric index lines)
    * or WebVTT (odd docs: signature header, cue-id lines, dot millis,
    * settings tokens on alternating cues), parsed back by the real
    * parser (auto-detect, settings strip, strict timestamps), then
    * aggregated. The oracle re-derives cue count, first/last timings,
    * and text byte totals from the same `\S+` tokenization; a dropped
    * cue, a mis-parsed timestamp, or settings leaking into text breaks
    * the hash. */
  private def subtitleCues(s: SparkSession, dir: String): DataFrame = {
    val run = udf((docId: Long, words: Seq[String]) => {
      import operators.Subtitles
      val cues = words.grouped(5).zipWithIndex.map { case (ws, i) =>
        val start = i.toLong * 2000L + (docId % 7) * 13L
        Subtitles.Cue(i + 1, start, start + 1500L, ws.mkString(" "))
      }.toSeq
      val track =
        if (docId % 2 == 0) Subtitles.encodeSrt(cues)
        else Subtitles.encodeVtt(cues)
      val parsed = Subtitles.parse(track).getOrElse(sys.error("unparseable track"))
      val totalBytes = parsed.map(_.text.getBytes("UTF-8").length.toLong).sum
      val nWords = parsed.map(_.text.split("\\s+").count(_.nonEmpty).toLong).sum
      (parsed.length.toLong,
        parsed.headOption.map(_.startMs).getOrElse(-1L),
        parsed.lastOption.map(_.endMs).getOrElse(-1L),
        totalBytes, nWords)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        run(col("doc_id"),
          regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("r"))
      .select(col("doc_id"),
        col("r._1").as("n_cues"), col("r._2").as("first_start_ms"),
        col("r._3").as("last_end_ms"), col("r._4").as("total_text_bytes"),
        col("r._5").as("n_words"))
  }

  private val subtitleCuesSql =
    """WITH w AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |s AS (
      |  SELECT doc_id, len(ws) AS n_words,
      |    (len(ws) + 4) // 5 AS n_cues,
      |    COALESCE(list_sum(list_transform(ws, x -> strlen(x))), 0) AS wbytes
      |  FROM w)
      |SELECT doc_id,
      |  CAST(n_cues AS BIGINT) AS n_cues,
      |  CAST(CASE WHEN n_cues > 0 THEN (doc_id % 7) * 13 ELSE -1 END AS BIGINT) AS first_start_ms,
      |  CAST(CASE WHEN n_cues > 0 THEN (n_cues - 1) * 2000 + (doc_id % 7) * 13 + 1500
      |       ELSE -1 END AS BIGINT) AS last_end_ms,
      |  CAST(CASE WHEN n_words > 0 THEN wbytes + n_words - n_cues ELSE 0 END AS BIGINT) AS total_text_bytes,
      |  CAST(n_words AS BIGINT) AS n_words
      |FROM s""".stripMargin

  /** REAL FLAC codec round-trip, FULL oracle — the lossless-compression
    * rung of the multimodal ladder (`operators/Flac.scala`): closed-form
    * PCM16 is encoded as a spec-conformant FLAC stream (STREAMINFO with
    * PCM MD5, CRC-8 frame headers, CRC-16 frames, UTF-8 frame numbers,
    * constant/verbatim/fixed/LPC subframes cycling per frame, Rice
    * partitions alternating order 0/1, mid-side decorrelation on half
    * the stereo rows), decoded back by the real decoder (CRCs + MD5
    * verified), re-encoded as WAV and run through the SAME waveform
    * stats as `audio_samples`. Lossless ⇒ the oracle re-derives every
    * column from the closed form — any bit-alignment, predictor, CRC,
    * or decorrelation defect in EITHER codec direction breaks the hash. */
  private def audioFlac(s: SparkSession, dir: String): DataFrame = {
    val flacUdf = udf((docId: Long, nChars: Long) => {
      val rate = Array(8000, 16000, 22050, 44100)((docId % 4).toInt)
      val channels = 1 + (docId % 2).toInt
      val frames = 40 + (nChars % 120).toInt
      val blockSize = 16 + 16 * (docId % 3).toInt
      val stereo =
        if (channels == 2 && docId % 4 < 2) "midside"
        else if (channels == 2) "auto" // per-frame decorrelation decision
        else "independent"
      val samples = new Array[Short](frames * channels)
      var i = 0
      while (i < samples.length) {
        samples(i) = (((docId * 37 + i * 11) % 65536) - 32768).toShort
        i += 1
      }
      operators.Flac.encodeFlac(samples, rate, channels, blockSize, stereo)
    })
    val toWav = udf((payload: Array[Byte]) =>
      operators.Flac.decodeFlac(payload).map { case (m, xs) =>
        (operators.Multimodal.encodeWavPcm16(xs, m.sampleRate, m.channels),
          m.sampleRate, m.channels, m.nFrames)
      })
    val media = Tables.read(s, dir, "documents")
      .select(col("doc_id"), flacUdf(col("doc_id"), col("n_chars")).as("flac"))
      .select(col("doc_id"), toWav(col("flac")).as("d"))
      .select(col("doc_id"), col("d._1").as("payload"),
        col("d._2").as("sample_rate"), col("d._3").as("n_ch"),
        col("d._4").as("n_frames"))
    operators.Multimodal.decodeAudioFeatures(media)
      .select(col("doc_id"), col("sample_rate"), col("n_ch"), col("n_frames"),
        col("audio_n_samples").as("n_samples"),
        col("audio_peak").as("peak"),
        col("audio_zero_crossings").as("zero_crossings"),
        col("audio_energy").as("energy"),
        col("audio_rms").as("rms"))
  }

  private val audioFlacSql =
    """WITH base AS (
      |  SELECT doc_id,
      |    CAST([8000,16000,22050,44100][CAST(doc_id % 4 AS INT) + 1] AS INT) AS sample_rate,
      |    CAST(1 + doc_id % 2 AS INT) AS n_ch,
      |    40 + n_chars % 120 AS frames,
      |    16 + 16 * (doc_id % 3) AS bs,
      |    (40 + n_chars % 120) * (1 + doc_id % 2) AS n
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, sample_rate, n_ch, frames, bs, n,
      |    list_transform(range(0, n), i -> (doc_id * 37 + i * 11) % 65536 - 32768) AS xs
      |  FROM base),
      |agg AS (
      |  SELECT doc_id, sample_rate, n_ch, frames, bs, n, xs,
      |    CAST(list_sum(list_transform(xs, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS energy
      |  FROM s)
      |SELECT doc_id, sample_rate, n_ch,
      |  CAST((frames + bs - 1) // bs AS INT) AS n_frames,
      |  CAST(n AS INT) AS n_samples,
      |  CAST(list_max(list_transform(xs, x -> abs(x))) AS INT) AS peak,
      |  CAST(len(list_filter(range(0, n),
      |    i -> i >= n_ch AND ((xs[CAST(i - n_ch AS INT) + 1] < 0) <> (xs[CAST(i AS INT) + 1] < 0)))) AS BIGINT)
      |    AS zero_crossings,
      |  energy,
      |  CAST(sqrt(CAST(energy AS DOUBLE) / n) AS REAL) AS rms
      |FROM agg""".stripMargin

  /** Decimating audio resample, FULL oracle — the stride-4 downsample
    * over the same closed-form PCM16 payloads as [[audioSamples]]
    * (encode → chunk-walk decode → every 4th frame, interleave
    * preserved), with the decimated stream's stats re-derived by the
    * oracle from the closed form. Integer selection end to end; only
    * rms passes through sqrt (IEEE, round-6-safe) but stays float4 for
    * family consistency. */
  private def audioResample(s: SparkSession, dir: String): DataFrame = {
    val wavUdf = udf((docId: Long, nChars: Long) => {
      val rate = Array(8000, 16000, 22050, 44100)((docId % 4).toInt)
      val channels = 1 + (docId % 2).toInt
      val frames = 50 + (nChars % 200).toInt
      val samples = new Array[Short](frames * channels)
      var i = 0
      while (i < samples.length) {
        samples(i) = (((docId * 31 + i * 7) % 65536) - 32768).toShort
        i += 1
      }
      operators.Multimodal.encodeWavPcm16(samples, rate, channels)
    })
    val media = Tables.read(s, dir, "documents")
      .select(col("doc_id"), wavUdf(col("doc_id"), col("n_chars")).as("payload"))
    operators.Multimodal.decodeAudioResampled(media, factor = 4)
      .select(col("doc_id"),
        col("audio_n_samples").as("n_samples"),
        col("audio_out_rate").as("out_rate"),
        col("audio_peak").as("peak"),
        col("audio_zero_crossings").as("zero_crossings"),
        col("audio_energy").as("energy"),
        col("audio_rms").as("rms"))
  }

  private val audioResampleSql =
    """WITH base AS (
      |  SELECT doc_id,
      |    CAST(1 + doc_id % 2 AS BIGINT) AS ch,
      |    [8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1] AS rate,
      |    50 + n_chars % 200 AS frames
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, ch, rate,
      |    ((frames + 3) // 4) * ch AS n,
      |    list_transform(
      |      flatten(list_transform(range(0, frames, 4),
      |        f -> list_transform(range(0, ch), c -> f * ch + c))),
      |      i -> (doc_id * 31 + i * 7) % 65536 - 32768) AS ys
      |  FROM base),
      |agg AS (
      |  SELECT doc_id, ch, rate, n, ys,
      |    CAST(list_sum(list_transform(ys, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS energy
      |  FROM s)
      |SELECT doc_id,
      |  CAST(n AS INT) AS n_samples,
      |  CAST(rate // 4 AS INT) AS out_rate,
      |  CAST(list_max(list_transform(ys, x -> abs(x))) AS INT) AS peak,
      |  CAST(len(list_filter(range(0, n),
      |    i -> i >= ch AND ((ys[CAST(i - ch AS INT) + 1] < 0) <> (ys[CAST(i AS INT) + 1] < 0)))) AS BIGINT)
      |    AS zero_crossings,
      |  energy,
      |  CAST(sqrt(CAST(energy AS DOUBLE) / n) AS REAL) AS rms
      |FROM agg""".stripMargin

  /** REAL compressed-codec audio decode, FULL oracle — G.711 µ-law
    * (audioFormat 7) and A-law (audioFormat 6) WAV payloads, the one
    * audio codec family whose expansion is pure integer math: per
    * document the companded code bytes are closed forms of doc_id, Spark
    * round-trips them through `Multimodal.encodeWavG711` →
    * `decodeWavSamples`' codec branches (`ulaw2linear`/`alaw2linear`,
    * the CCITT reference formulas), and the oracle re-derives the same
    * expansion in integer SQL before recomputing the waveform features.
    * Half the corpus exercises each law. Past this, only perceptual
    * codecs (MP3 et al.) stay on the documented stub. */
  private def audioG711(s: SparkSession, dir: String): DataFrame = {
    val wavUdf = udf((docId: Long, nChars: Long) => {
      val n = 40 + (nChars % 100).toInt
      val codes = Array.tabulate(n)(i => ((docId * 131 + i * 13) % 256).toByte)
      operators.Multimodal.encodeWavG711(codes, sampleRate = 8000,
        channels = 1, aLaw = docId % 2 == 1)
    })
    val media = Tables.read(s, dir, "documents")
      .select(col("doc_id"), wavUdf(col("doc_id"), col("n_chars")).as("payload"))
    operators.Multimodal.decodeAudioFeatures(media)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 1, "alaw").otherwise("ulaw").as("codec"),
        col("audio_n_samples").as("n_samples"),
        col("audio_peak").as("peak"),
        col("audio_zero_crossings").as("zero_crossings"),
        col("audio_energy").as("energy"),
        col("audio_rms").as("rms"))
  }

  private val audioG711Sql =
    """WITH cs AS (
      |  SELECT doc_id, 40 + n_chars % 100 AS n, doc_id % 2 = 1 AS alaw,
      |    list_transform(range(0, 40 + n_chars % 100),
      |      i -> (doc_id * 131 + i * 13) % 256) AS codes
      |  FROM documents),
      |xs AS (
      |  SELECT doc_id, n, alaw,
      |    CASE WHEN alaw THEN
      |      list_transform(codes, c ->
      |        (CASE WHEN (xor(c, 85) & 128) <> 0 THEN 1 ELSE -1 END) *
      |        (CASE (xor(c, 85) & 112) // 16
      |           WHEN 0 THEN (xor(c, 85) & 15) * 16 + 8
      |           WHEN 1 THEN (xor(c, 85) & 15) * 16 + 264
      |           ELSE ((xor(c, 85) & 15) * 16 + 264)
      |                  * (1 << (((xor(c, 85) & 112) // 16) - 1))
      |         END))
      |    ELSE
      |      list_transform(codes, c ->
      |        CASE WHEN ((255 - c) & 128) <> 0
      |          THEN 132 - ((((255 - c) & 15) * 8 + 132)
      |                        * (1 << (((255 - c) & 112) // 16)))
      |          ELSE (((255 - c) & 15) * 8 + 132)
      |                 * (1 << (((255 - c) & 112) // 16)) - 132
      |        END)
      |    END AS xs
      |  FROM cs),
      |agg AS (
      |  SELECT doc_id, n, alaw, xs,
      |    CAST(list_sum(list_transform(xs, x -> x * x)) AS BIGINT) AS energy
      |  FROM xs)
      |SELECT doc_id,
      |  CASE WHEN alaw THEN 'alaw' ELSE 'ulaw' END AS codec,
      |  CAST(n AS INT) AS n_samples,
      |  CAST(list_max(list_transform(xs, x -> abs(x))) AS INT) AS peak,
      |  CAST(len(list_filter(range(0, n),
      |    i -> i >= 1 AND ((xs[CAST(i AS INT)] < 0) <> (xs[CAST(i AS INT) + 1] < 0)))) AS BIGINT)
      |    AS zero_crossings,
      |  energy,
      |  CAST(sqrt(CAST(energy AS DOUBLE) / n) AS REAL) AS rms
      |FROM agg""".stripMargin

  /** REAL predictive-codec audio decode, FULL oracle — IMA/DVI ADPCM
    * (audioFormat 17), the first STATEFUL codec in the family: every
    * 4-bit code updates a (predictor, step-index) pair, so decode is a
    * sequential integer recurrence, not a per-byte table lookup. Per
    * document the nibble codes and the initial state are closed forms of
    * doc_id; Spark round-trips them through real WAV bytes
    * (`Adpcm.encodeWavAdpcmIma` → `decodeWavAdpcm`'s chunk walk +
    * recurrence), and the oracle replays the recurrence as a RECURSIVE
    * CTE carrying the same (pred, idx, peak, energy) state — the
    * fixpoint-oracle technique applied to a codec. */
  private def audioAdpcm(s: SparkSession, dir: String): DataFrame = {
    val wavUdf = udf((docId: Long, nChars: Long) => {
      val n = 64 + (nChars % 128).toInt
      val nibbles = Array.tabulate(n)(i => ((docId * 37 + i * 11) % 16).toByte)
      operators.Adpcm.encodeWavAdpcmIma(nibbles,
        pred0 = ((docId * 97) % 1024 - 512).toShort,
        idx0 = (docId % 89).toInt, sampleRate = 8000)
    })
    val media = Tables.read(s, dir, "documents")
      .select(col("doc_id"), wavUdf(col("doc_id"), col("n_chars")).as("payload"))
    operators.Adpcm.decodeAdpcmFeatures(media)
      .select(col("doc_id"),
        col("audio_n_samples").as("n_samples"),
        col("audio_peak").as("peak"),
        col("audio_energy").as("energy"),
        col("audio_final_pred").as("final_pred"),
        col("audio_final_index").as("final_index"))
  }

  private val audioAdpcmSql =
    """WITH RECURSIVE cfg AS (
      |  SELECT doc_id, CAST(64 + n_chars % 128 AS INT) AS n,
      |    CAST((doc_id * 97) % 1024 - 512 AS INT) AS pred0,
      |    CAST(doc_id % 89 AS INT) AS idx0
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, n, 0 AS i, pred0 AS pred, idx0 AS idx,
      |    0 AS peak, CAST(0 AS BIGINT) AS energy
      |  FROM cfg
      |  UNION ALL
      |  SELECT doc_id, n, i + 1, pred1,
      |    greatest(0, least(88,
      |      idx + [-1,-1,-1,-1,2,4,6,8][CAST(nib & 7 AS INT) + 1])),
      |    greatest(peak, abs(pred1)),
      |    energy + CAST(pred1 AS BIGINT) * pred1
      |  FROM (
      |    SELECT doc_id, n, i, pred, idx, peak, energy, nib,
      |      greatest(-32768, least(32767,
      |        pred + (CASE WHEN (nib & 8) <> 0 THEN -1 ELSE 1 END) *
      |          (stp // 8 + CASE WHEN (nib & 4) <> 0 THEN stp ELSE 0 END
      |                    + CASE WHEN (nib & 2) <> 0 THEN stp // 2 ELSE 0 END
      |                    + CASE WHEN (nib & 1) <> 0 THEN stp // 4 ELSE 0 END))) AS pred1
      |    FROM (
      |      SELECT doc_id, n, i, pred, idx, peak, energy,
      |        CAST((doc_id * 37 + i * 11) % 16 AS INT) AS nib,
      |        [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,
      |         50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,
      |         337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,
      |         2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,
      |         15289,16818,18500,20350,22385,24623,27086,29794,32767][idx + 1] AS stp
      |      FROM st WHERE i < n)))
      |SELECT doc_id, CAST(n AS INT) AS n_samples, CAST(peak AS INT) AS peak,
      |  energy, CAST(pred AS INT) AS final_pred, CAST(idx AS INT) AS final_index
      |FROM st WHERE i = n""".stripMargin

  /** REAL video (RIFF/AVI) metadata decode, FULL oracle — same design
    * as [[audioMeta]]: synthesized real AVI headers round-tripped
    * through `Multimodal.encodeAviHeader` → `decodeAviMeta`'s nested
    * LIST chunk walk, oracle re-derives the closed forms. */
  private def videoMeta(s: SparkSession, dir: String): DataFrame = {
    val aviUdf = udf((docId: Long, nChars: Long) => {
      val k = (docId % 3).toInt
      operators.Multimodal.encodeAviHeader(
        totalFrames = 10 + (nChars % 500).toInt,
        width = Array(320, 640, 1280)(k),
        height = Array(240, 480, 720)(k),
        usPerFrame = Array(41667, 40000, 33333)(k))
    })
    val media = Tables.read(s, dir, "documents")
      .select(col("doc_id"), aviUdf(col("doc_id"), col("n_chars")).as("payload"))
    operators.Multimodal.decodeVideoMeta(media)
      .select(col("doc_id"),
        col("video_width").as("width"), col("video_height").as("height"),
        col("video_frames").as("n_frames"),
        col("video_duration_ms").as("duration_ms"))
  }

  private val videoMetaSql =
    """SELECT doc_id,
      |  CAST([320, 640, 1280][CAST(doc_id % 3 AS INT) + 1] AS INT) AS width,
      |  CAST([240, 480, 720][CAST(doc_id % 3 AS INT) + 1] AS INT) AS height,
      |  CAST(10 + n_chars % 500 AS BIGINT) AS n_frames,
      |  ((10 + n_chars % 500) *
      |    [41667, 40000, 33333][CAST(doc_id % 3 AS INT) + 1]) // 1000 AS duration_ms
      |FROM documents""".stripMargin

  /** REAL video FRAME decode, FULL oracle — the content step past
    * [[videoMeta]]'s header parse: per document a complete RIFF/AVI
    * (hdrl avih + strl strh/strf, movi with one raw 24-bit BGR DIB
    * `00db` chunk per frame — bottom-up rows, 4-byte stride) is
    * synthesized from closed-form pixels, Spark round-trips it through
    * `Multimodal.encodeAviFrames` → `decodeVideoFrames`'s movi walk +
    * DIB pixel decode (BT.601 luma), and the oracle re-derives frame
    * count, peak/total luma, the inter-frame motion proxy and the
    * first-frame aHash from the same closed forms. Every output is an
    * integer, so the comparison is exact on both engines; any stride,
    * row-order, chunk-offset, or luma defect breaks the hash match.
    * Reference surface: `embed_multimodal`'s video branch
    * (`NeuronDB/neurondb--1.0.sql:6915-6948`, `src/ml/ml_multimodal.c`). */
  private def videoFrames(s: SparkSession, dir: String): DataFrame = {
    val aviUdf = udf((docId: Long) => {
      val nF = 2 + (docId % 6).toInt
      val frames = Seq.tabulate(nF) { f =>
        Array.tabulate(64)(i =>
          ((docId * 31 + f * 17 + (i / 8) * 5 + (i % 8) * 3) % 256).toInt)
      }
      operators.Multimodal.encodeAviFrames(frames, 8, 8, usPerFrame = 40000)
    })
    val media = Tables.read(s, dir, "documents")
      .select(col("doc_id"), aviUdf(col("doc_id")).as("payload"))
    operators.Multimodal.decodeVideoFrameFeatures(media)
      .select(col("doc_id"),
        col("video_n_frames").as("n_frames"),
        col("video_peak_luma").as("peak_luma"),
        col("video_luma_sum").as("luma_sum"),
        col("video_motion").as("motion"),
        col("video_first_ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo"),
        shiftrightunsigned(col("video_first_ahash"), 32).as("ahash_hi"))
  }

  private val videoFramesSql =
    """WITH fr AS (
      |  SELECT doc_id, 2 + doc_id % 6 AS nf,
      |    unnest(range(0, 2 + doc_id % 6)) AS fi
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, nf, fi,
      |    list_transform(range(0, 64), i ->
      |      (doc_id * 31 + fi * 17 + (i // 8) * 5 + (i % 8) * 3) % 256) AS p
      |  FROM fr),
      |fs AS (
      |  SELECT doc_id, nf, fi, p,
      |    list_reduce(p, (a, b) -> a + b) AS s,
      |    list_max(p) AS mx,
      |    lag(list_reduce(p, (a, b) -> a + b))
      |      OVER (PARTITION BY doc_id ORDER BY fi) AS prev_s
      |  FROM px),
      |h AS (
      |  SELECT doc_id, p, list_reduce(p, (a, b) -> a + b) AS tot
      |  FROM px WHERE fi = 0)
      |SELECT f.doc_id,
      |  CAST(max(f.nf) AS INT) AS n_frames,
      |  CAST(max(f.mx) AS INT) AS peak_luma,
      |  CAST(sum(f.s) AS BIGINT) AS luma_sum,
      |  CAST(coalesce(sum(abs(f.s - f.prev_s)), 0) AS BIGINT) AS motion,
      |  max(list_reduce(list_transform(range(1, 33),
      |    i -> CASE WHEN h.p[i] * 64 > h.tot THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END),
      |    (a, b) -> a + b)) AS ahash_lo,
      |  max(list_reduce(list_transform(range(33, 65),
      |    i -> CASE WHEN h.p[i] * 64 > h.tot THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE CAST(0 AS BIGINT) END),
      |    (a, b) -> a + b)) AS ahash_hi
      |FROM fs f JOIN h ON h.doc_id = f.doc_id
      |GROUP BY f.doc_id""".stripMargin

  /** MJPEG sibling of [[videoFrames]], FULL oracle since the native
    * T.81 codec landed: each `00dc` chunk is a grayscale baseline JPEG
    * from the repo's own encoder, each frame a CONSTANT 8×8 raster
    * with (v−128)·8 divisible by the DC quant step — DC-only spectra
    * decode bit-exactly (see `Jpeg.scala`), so frame stats and motion
    * are closed-form. The gradient-raster pixel math is oracled by the
    * DIB sibling `video_frames`; this rung oracles the JPEG leg. */
  private def videoFramesMjpeg(s: SparkSession, dir: String): DataFrame = {
    val aviUdf = udf((docId: Long) => {
      val nF = 2 + (docId % 6).toInt
      val frames = Seq.tabulate(nF) { f =>
        val c = (128 + 2 * (((docId * 31 + f * 17) % 50) - 25)).toInt
        Array.fill(64)(c)
      }
      operators.Multimodal.encodeAviFrames(frames, 8, 8, usPerFrame = 40000,
        mjpeg = true)
    })
    val media = Tables.read(s, dir, "documents")
      .select(col("doc_id"), aviUdf(col("doc_id")).as("payload"))
    operators.Multimodal.decodeVideoFrameFeatures(media)
      .select(col("doc_id"),
        col("video_n_frames").cast("long").as("n_frames"),
        col("video_peak_luma").cast("long").as("peak_luma"),
        col("video_luma_sum").cast("long").as("luma_sum"),
        col("video_motion").cast("long").as("motion"))
  }

  private val videoFramesMjpegSql =
    """WITH f AS (
      |  SELECT d.doc_id, r.range AS fi,
      |    128 + 2 * (((d.doc_id * 31 + r.range * 17) % 50) - 25) AS c
      |  FROM documents d, range(8) r
      |  WHERE r.range < 2 + d.doc_id % 6),
      |m AS (
      |  SELECT doc_id, fi, c,
      |    lag(c) OVER (PARTITION BY doc_id ORDER BY fi) AS prev_c
      |  FROM f)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(max(c) AS BIGINT) AS peak_luma,
      |  CAST(sum(c) * 64 AS BIGINT) AS luma_sum,
      |  CAST(coalesce(sum(abs(c - prev_c)), 0) * 64 AS BIGINT) AS motion
      |FROM m GROUP BY doc_id""".stripMargin

  // ======================================================================
  // Comparisons / histograms / anomaly / topics (coverage sweep)
  // ======================================================================

  /** PG-style lexicographic vector comparison operators. */
  private def vCompare(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val a = e.select(col("vec_id"), col("embedding").as("a_vec"))
    val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("b_vec"))
    a.join(b, "vec_id")
      .select(col("vec_id"),
        VF.ltUdf(col("a_vec"), col("b_vec")).as("lt"),
        VF.leUdf(col("a_vec"), col("b_vec")).as("le"),
        VF.eqUdf(col("a_vec"), col("b_vec")).as("eq"),
        VF.gtUdf(col("a_vec"), col("b_vec")).as("gt"))
  }

  private val vCompareSql =
    """SELECT a.vec_id,
      |  a.embedding < b.embedding AS lt,
      |  a.embedding <= b.embedding AS le,
      |  a.embedding = b.embedding AS eq,
      |  a.embedding > b.embedding AS gt
      |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin

  /** similarity_histogram: cosine-similarity distribution vs the query. */
  private def simHistogram(s: SparkSession, dir: String): DataFrame =
    ml.AutoMl.similarityHistogram(
      Tables.read(s, dir, "embeddings"), "embedding", qvec(s, dir), bins = 20)

  private val simHistogramSql =
    s"""SELECT CAST(least(19, floor((list_cosine_similarity(embedding::DOUBLE[], $qvecSql) + 1.0) / 2.0 * 20)) AS INT) AS bin,
       |  count(*) AS n
       |FROM embeddings GROUP BY 1""".stripMargin

  /** isolation forest anomaly scores (seeded; rows-only). */
  private def iforestScores(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val forest = ml.IsolationForest.fit(e, "embedding", numTrees = 50, sampleSize = 128)
    ml.IsolationForest.score(e, "embedding", forest)
      .select(col("vec_id"), round(col("anomaly_score"), 6).as("score"))
  }

  /** Autoencoder, replayable oracle: [[ml.AeFixpoint]] — same u01-hash
    * Xavier init as the production trainer, fixed epoch count, ordered
    * per-row folds; only unordered cross-row gradient sums and exp ulps
    * separate the engines, far below the round-4 output.
    * `autoencoder_recon` keeps the partition-ordered production face. */
  private def aeFixedQ(s: SparkSession, dir: String): DataFrame =
    ml.AeFixpoint.score(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 200),
      "vec_id", "embedding", d = 8, k = 2, epochs = 12, lr = 0.5)
      // REAL cast, not fixed-decimal round: float granularity sits ~9
      // orders above the ~1e-15 cross-engine gradient drift, so no output
      // can straddle a rounding boundary (the stream_window_agg remedy)
      .select(col("vec_id"), col("sq_error").cast("float").as("sq_error"))

  private lazy val aeFixedSql: String =
    ml.AeFixpoint.oracleSql("embeddings", "vec_id", "embedding",
      filter = "vec_id < 200", d = 8, k = 2, epochs = 12, lr = 0.5, seed = 42L)

  /** Isolation forest, FULL oracle: [[ml.IforestFixpoint]] re-keys every
    * random choice to a pure hash of (tree, node) instead of a serial
    * RNG, so the DuckDB unroll replays sampling, level-synchronous tree
    * growth, and the path-length scores bit-for-bit. `iforest_scores`
    * keeps the classic serial-RNG face (rows-only). */
  private def iforestFixedQ(s: SparkSession, dir: String): DataFrame =
    ml.IforestFixpoint.score(Tables.read(s, dir, "embeddings"),
        "vec_id", "embedding", numTrees = 20, sampleSize = 64, maxDepth = 6)
      // float4, not round(6): the score is a pow(2, -x)/ln chain (see
      // vDistances scaladoc for the boundary-flake class)
      .select(col("vec_id"), col("anomaly_score").cast("float").as("score"))

  private lazy val iforestFixedSql: String =
    ml.IforestFixpoint.oracleSql("embeddings", "vec_id", "embedding",
      numTrees = 20, sampleSize = 64, maxDepth = 6, dim = 64)

  /** Small-input contract of the same forest: n (40) < sampleSize (64)
    * saturates the per-tree rank cap, so c(S) must derive from the
    * ACTUAL sample count on both engines — the exact contract that
    * silently diverged before round 7's fix, now locked by the gate. */
  private def iforestSmallQ(s: SparkSession, dir: String): DataFrame =
    ml.IforestFixpoint.score(
        Tables.read(s, dir, "embeddings").filter(col("vec_id") < 40),
        "vec_id", "embedding", numTrees = 10, sampleSize = 64, maxDepth = 4)
      .select(col("vec_id"), col("anomaly_score").cast("float").as("score"))

  private lazy val iforestSmallSql: String =
    ml.IforestFixpoint.oracleSql(
      "(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 40) tsub",
      "vec_id", "embedding", numTrees = 10, sampleSize = 64, maxDepth = 4,
      dim = 64)

  /** topic discovery over document embeddings (rows-only). */
  private def topicsQ(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.read(s, dir, "embeddings")
      .join(Tables.read(s, dir, "documents"), col("vec_id") === col("doc_id"))
    ml.AutoMl.discoverTopics(corpus, "text", "embedding", k = 5, topTerms = 5)
      .select(col("topic"), concat_ws(" ", col("top_terms")).as("terms"))
  }

  /** Topic discovery, FULL oracle: the deterministic Lloyd's fixpoint
    * (`KmeansFixpoint`, same CTE unroll as `kmeans_fixpoint`) assigns
    * clusters bit-for-bit, and the per-cluster top terms are plain
    * integer term counts with a total (tf desc, term) order — so the
    * whole topics pipeline is re-derived in SQL. `topics` keeps the
    * MLlib-kmeans face (rows-only). */
  private def topicsFixedQ(s: SparkSession, dir: String): DataFrame = {
    val assigned = ml.KmeansFixpoint.assign(
      Tables.read(s, dir, "embeddings"), "vec_id", "embedding", k = 5, iters = 4)
    val docs = Tables.read(s, dir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("tf").desc, col("term"))
    docs.join(assigned, col("doc_id") === col("vec_id"))
      .select(col("cluster"), explode(functions.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("cluster", "term").agg(count(lit(1)).as("tf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .groupBy(col("cluster").as("topic"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rank"), col("term")))),
        x => x.getField("term")), " ").as("terms"))
  }

  private lazy val topicsFixedSql: String =
    s"""WITH km AS (
       |${ml.KmeansFixpoint.oracleSql("embeddings", "vec_id", "embedding", k = 5, iters = 4, dim = 64)}),
       |tf AS (
       |  SELECT km.cluster, t.term, count(*) AS tf
       |  FROM km JOIN documents d ON d.doc_id = km.vec_id,
       |       unnest(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS t(term)
       |  GROUP BY 1, 2),
       |rk AS (
       |  SELECT cluster, term,
       |    row_number() OVER (PARTITION BY cluster ORDER BY tf DESC, term) AS rank
       |  FROM tf)
       |SELECT CAST(cluster AS INTEGER) AS topic,
       |  string_agg(term, ' ' ORDER BY rank) AS terms
       |FROM rk WHERE rank <= 5 GROUP BY 1""".stripMargin

  /** Sparse kernels validated against the dense oracle: a dense vector
    * viewed as sparse must give the same L2/dot. */
  private def sparseL2(s: SparkSession, dir: String): DataFrame = {
    val q = qvec(s, dir)
    val qIdx = q.indices.toArray
    val toIdx = udf((v: Seq[Float]) => v.indices.toArray)
    Tables.read(s, dir, "embeddings")
      .select(col("vec_id"),
        round(functions.SparseOps.sparseL2Udf(
          lit(q.length), toIdx(col("embedding")), col("embedding"),
          lit(q.length), lit(qIdx), lit(q)), 6).as("dist"),
        round(functions.SparseOps.sparseDotUdf(
          lit(q.length), toIdx(col("embedding")), col("embedding"),
          lit(q.length), lit(qIdx), lit(q)), 6).as("dot"))
  }

  private val sparseL2Sql =
    s"""SELECT vec_id,
       |  round(list_distance(embedding::DOUBLE[], $qvecSql), 6) AS dist,
       |  round(list_inner_product(embedding::DOUBLE[], $qvecSql), 6) AS dot
       |FROM embeddings""".stripMargin

  /** PCA whitening of embeddings (rows-only; sign-indeterminate axes). */
  private def whitenQ(s: SparkSession, dir: String): DataFrame =
    ml.AutoMl.whitenEmbeddings(
      Tables.read(s, dir, "embeddings"), "embedding", k = 8)
      .select(col("vec_id"), posexplode(col("whitened")))
      .select(col("vec_id"), col("pos"), round(col("col"), 4).as("val"))

  /** PCA whitening, FULL oracle: [[ml.WhitenFixpoint]] — integer-scaled
    * Gram sums (exact), fixed-count power iteration with deflation, all
    * scalar ops left-to-right (+,−,×,÷,√ only), so the DuckDB CTE unroll
    * reproduces projections bit-for-bit. `whiten` keeps the MLlib-PCA
    * face (rows-only; sign-indeterminate eigensolver). */
  private def whitenFixedQ(s: SparkSession, dir: String): DataFrame =
    ml.WhitenFixpoint.whiten(Tables.read(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 10)
      .select(col("vec_id"), col("pos"), round(col("val"), 6).as("val"))

  private lazy val whitenFixedSql: String =
    ml.WhitenFixpoint.oracleSql("embeddings", "vec_id", "embedding",
      k = 4, iters = 10, dim = 64)

  /** recall@10 of `search` against the exact top-10 for the five fixed
    * query ids of the ANN recall reports: one exact scan
    * ([[operators.Knn.exactTopK]]) answers the truth of all five. */
  private def annRecallAt10(s: SparkSession, dir: String, e: DataFrame)(
      search: Array[Float] => Set[Long]): DataFrame = {
    import s.implicits._
    val qs = Seq(0L, 7L, 33L, 99L, 200L).map(qid => (qid, Tables.queryVector(s, dir, qid)))
    val exact = operators.Knn.exactTopK(e, "vec_id", "embedding", qs.toArray, 10)
    qs.map { case (qid, q) =>
      val truth = exact(qid).map(_.id).toSet
      (qid, (truth & search(q)).size.toDouble / truth.size)
    }.toDF("query_id", "recall_at_10")
  }

  /** ANN at reduced nprobe with measured recall@10 against brute force
    * (BASELINE.md: reduced-nprobe runs report recall, target >=0.90).
    * Rows-only: IVF assignment is not SQL-expressible. */
  private def ivfAnnRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val model = ivfModel(s, dir)
    annRecallAt10(s, dir, Tables.read(s, dir, "embeddings")) { q =>
      model.search(q, 10, nprobe = 12).select("vec_id").as[Long].collect().toSet
    }
  }

  /** HNSW (shard-local graphs) at the reference's serve default
    * ef_search=64 (`hnsw_am.c:81-85`), recall@10 measured against brute
    * force per query plus the tuner's recommended ef riding along
    * (rows-only: graph walk is not SQL-expressible). */
  private def hnswAnnRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.read(s, dir, "embeddings")
    val index = operators.Hnsw.build(e, "vec_id", "embedding", numShards = 8)
      .persist()
    try annRecallAt10(s, dir, e) { q =>
      operators.Hnsw.search(index, q, 10, efSearch = 64)
        .select("id").as[Long].collect().toSet
    } finally { index.unpersist() }
  }

  /** IVF-PQ (IVFADC) serve path: codes-only ADC scan of probed lists +
    * exact rerank; recall@10 vs brute force per query (rows-only —
    * k-means codebooks not SQL-expressible; the ADC arithmetic itself is
    * oracle-verified by pq_adc). */
  private def ivfpqKnnRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.read(s, dir, "embeddings")
    val model = operators.IvfPq.build(e, "vec_id", "embedding", nlists = 16, m = 8)
    model.encoded.persist()
    try annRecallAt10(s, dir, e) { q =>
      operators.IvfPq.search(model, q, 10, nprobe = 12, rerankPool = 128)
        .select("vec_id").as[Long].collect().toSet
    } finally { model.encoded.unpersist() }
  }

  /** Recall@10-vs-ef_search ladder over 100 queries against the HNSW
    * index (rows-only; the HNSW face of ivf_recall_curve — reference
    * tuner band `planner.c:225-237`, ef ladder [8,256]). */
  private def hnswRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 100)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    operators.Hnsw.recallCurve(hnswIndex(s, dir), e, "vec_id", "embedding",
        queries, k = 10)
      .select(col("ef_search"), round(col("recall_at_10"), 6).as("recall_at_10"))
  }

  /** Recall@10-vs-nprobe curve over 100 held-out queries in one
    * distributed pass (rows-only; the tuner-evidence artifact — recall
    * band reference `planner.c:220-233`). */
  private def ivfRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val model = ivfModel(s, dir)
    val queries = Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    operators.Ivf.recallCurve(model, queries, "vec_id", k = 10)
      .select(col("nprobe"), round(col("recall_at_10"), 6).as("recall_at_10"))
  }

  /** LOF density-based anomaly scores over the first 200 vectors
    * (oracle: full k-dist / reach-dist / lrd pipeline re-derived in SQL). */
  private def lofScores(s: SparkSession, dir: String): DataFrame =
    ml.Lof.score(Tables.read(s, dir, "embeddings").filter(col("vec_id") < 200),
      "vec_id", "embedding", k = 5)
      // float4, not round(6): lrd ratios ride small unordered avgs — the
      // REAL-over-round rule
      .select(col("vec_id"), col("lof").cast("float").as("lof"))

  private val lofScoresSql =
    """WITH pts AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
      |edges AS (
      |  SELECT src, o, d, rank FROM (
      |    SELECT a.vec_id AS src, b.vec_id AS o,
      |           list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS d,
      |           row_number() OVER (PARTITION BY a.vec_id
      |             ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
      |                      b.vec_id) AS rank
      |    FROM pts a, pts b WHERE a.vec_id <> b.vec_id)
      |  WHERE rank <= 5),
      |kdist AS (SELECT src AS o, d AS k_dist FROM edges WHERE rank = 5),
      |reach AS (SELECT e.src AS p, e.o, GREATEST(k.k_dist, e.d) AS rd
      |          FROM edges e JOIN kdist k ON k.o = e.o),
      |lrd AS (SELECT p, 1.0 / AVG(rd) AS lrd FROM reach GROUP BY p),
      |nl AS (SELECT e.src AS p, l.lrd AS lrd_o FROM edges e JOIN lrd l ON l.p = e.o)
      |SELECT nl.p AS vec_id, CAST(AVG(nl.lrd_o) / MAX(l2.lrd) AS REAL) AS lof
      |FROM nl JOIN lrd l2 ON l2.p = nl.p
      |GROUP BY nl.p""".stripMargin

  /** davies_bouldin_index over label clusters (oracle: the full
    * centroid/scatter/max-ratio pipeline re-derived in SQL). */
  private def daviesBouldinQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val db = ml.Extras.daviesBouldin(
      Tables.read(s, dir, "embeddings"), "embedding", "label")
    // float4, not round(6): scatter/centroid-distance means are unordered
    // sums past the REAL-squashed centroids — the REAL-over-round rule
    Seq(db).toDF("davies_bouldin")
      .select(col("davies_bouldin").cast("float").as("davies_bouldin"))
  }

  private val daviesBouldinSql =
    """WITH ex AS (SELECT label, vec_id, unnest(range(0, len(embedding))) AS pos,
      |                   unnest(embedding::DOUBLE[]) AS v
      |            FROM embeddings),
      |cent AS (SELECT label, pos,
      |                CAST(CAST(SUM(v) / COUNT(*) AS REAL) AS DOUBLE) AS c
      |         FROM ex GROUP BY label, pos),
      |dists AS (SELECT ex.label, ex.vec_id,
      |                 sqrt(SUM((ex.v - cent.c) * (ex.v - cent.c))) AS d
      |          FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
      |          GROUP BY ex.label, ex.vec_id),
      |scat AS (SELECT label, AVG(d) AS s FROM dists GROUP BY label),
      |cdist AS (SELECT a.label AS la, b.label AS lb,
      |                 sqrt(SUM((a.c - b.c) * (a.c - b.c))) AS dc
      |          FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
      |          GROUP BY a.label, b.label),
      |ratio AS (SELECT c.la, MAX((sa.s + sb.s) / c.dc) AS r
      |          FROM cdist c JOIN scat sa ON sa.label = c.la
      |                       JOIN scat sb ON sb.label = c.lb
      |          GROUP BY c.la)
      |SELECT CAST(AVG(r) AS REAL) AS davies_bouldin FROM ratio""".stripMargin

  /** ARIMA(2,1) fit + 5-step forecast of the daily event-value mean
    * (oracle: AR(2) normal equations solved by Cramer's rule in SQL,
    * forecast recursion unrolled, diffs re-integrated). */
  private def arimaForecastQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evA = Tables.read(s, dir, "events")
    val daily = evA
      .groupBy((Tables.tsUs(evA) / lit(1e6) / lit(86400.0)).cast("long").as("day"))
      .agg(avg("value").as("v"))
      .orderBy("day")
      .select("v").as[Double].collect()
    val m = ml.Extras.arimaFit(daily, p = 2, d = 1)
    ml.Extras.arimaForecast(m, 5).toSeq.zipWithIndex
      .map { case (v, i) => (i + 1, v) }
      .toDF("step", "forecast")
      // float4, not round(6): the AR fit rides unordered avg/sum
      // aggregates (~1e-15 cross-engine drift) — the REAL-over-round rule
      .select(col("step"), col("forecast").cast("float").as("forecast"))
  }

  private val arimaForecastSql =
    """WITH daily AS (
      |  SELECT FLOOR(epoch(ts) / 86400.0)::BIGINT AS day, AVG(value) AS v
      |  FROM events GROUP BY 1),
      |ord AS (SELECT day, v, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
      |diffs AS (SELECT rn, v - LAG(v) OVER (ORDER BY rn) AS s FROM ord
      |          QUALIFY s IS NOT NULL),
      |dr AS (SELECT ROW_NUMBER() OVER (ORDER BY rn) AS i, s FROM diffs),
      |reg AS (SELECT a.s AS y, b.s AS x1, c.s AS x2
      |        FROM dr a JOIN dr b ON b.i = a.i - 1 JOIN dr c ON c.i = a.i - 2),
      |m AS (SELECT COUNT(*)::DOUBLE AS n, SUM(x1) AS sx1, SUM(x2) AS sx2,
      |             SUM(y) AS sy, SUM(x1*x1) AS s11, SUM(x1*x2) AS s12,
      |             SUM(x2*x2) AS s22, SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
      |      FROM reg),
      |det AS (SELECT
      |  s11*(s22*n - sx2*sx2) - s12*(s12*n - sx2*sx1) + sx1*(s12*sx2 - s22*sx1) AS dd,
      |  s1y*(s22*n - sx2*sx2) - s12*(s2y*n - sx2*sy) + sx1*(s2y*sx2 - s22*sy) AS d1,
      |  s11*(s2y*n - sx2*sy) - s1y*(s12*n - sx2*sx1) + sx1*(s12*sy - s2y*sx1) AS d2,
      |  s11*(s22*sy - s2y*sx2) - s12*(s12*sy - s2y*sx1) + s1y*(s12*sx2 - s22*sx1) AS d3
      |  FROM m),
      |coef AS (SELECT d1/dd AS p1, d2/dd AS p2, d3/dd AS c0 FROM det),
      |last2 AS (SELECT
      |  MAX(CASE WHEN i = (SELECT MAX(i) FROM dr) THEN s END) AS sl,
      |  MAX(CASE WHEN i = (SELECT MAX(i) FROM dr) - 1 THEN s END) AS sp
      |  FROM dr),
      |lastv AS (SELECT v AS base FROM ord WHERE rn = (SELECT MAX(rn) FROM ord)),
      |f1 AS (SELECT c0, p1, p2, sl, c0 + p1*sl + p2*sp AS v1 FROM coef, last2),
      |f2 AS (SELECT *, c0 + p1*v1 + p2*sl AS v2 FROM f1),
      |f3 AS (SELECT *, c0 + p1*v2 + p2*v1 AS v3 FROM f2),
      |f4 AS (SELECT *, c0 + p1*v3 + p2*v2 AS v4 FROM f3),
      |f5 AS (SELECT *, c0 + p1*v4 + p2*v3 AS v5 FROM f4)
      |SELECT step, CAST(forecast AS REAL) AS forecast FROM (
      |  SELECT 1 AS step, base + v1 AS forecast FROM f5, lastv UNION ALL
      |  SELECT 2, base + v1 + v2 FROM f5, lastv UNION ALL
      |  SELECT 3, base + v1 + v2 + v3 FROM f5, lastv UNION ALL
      |  SELECT 4, base + v1 + v2 + v3 + v4 FROM f5, lastv UNION ALL
      |  SELECT 5, base + v1 + v2 + v3 + v4 + v5 FROM f5, lastv)""".stripMargin

  /** OCSVM anomaly scores over the first 300 embeddings. The simplified
    * reference semantics (strided support set, mean RBF kernel,
    * nu-quantile threshold) are fully SQL-expressible, so this is a green
    * oracle row, not rows-only. */
  private def ocsvmScoresQ(s: SparkSession, dir: String): DataFrame =
    ml.Ocsvm.score(Tables.read(s, dir, "embeddings").filter(col("vec_id") < 300),
      "vec_id", "embedding", nu = 0.1, gamma = 1.0)

  private val ocsvmScoresSql =
    """WITH pts AS (SELECT vec_id AS id, embedding,
      |             row_number() OVER (ORDER BY vec_id) - 1 AS rn
      |             FROM embeddings WHERE vec_id < 300),
      |n AS (SELECT count(*) AS n FROM pts),
      |sv AS (SELECT p.embedding FROM pts p, n
      |       WHERE p.rn IN (SELECT (i * n.n) // 30 FROM range(0, 30) t(i))),
      |scores AS (SELECT p.id,
      |           avg(exp(-1.0 * list_distance(p.embedding::DOUBLE[],
      |                                        s.embedding::DOUBLE[]) ^ 2)) AS score
      |           FROM pts p CROSS JOIN sv s GROUP BY p.id),
      |thr AS (SELECT score AS t FROM scores ORDER BY score LIMIT 1 OFFSET 30)
      |SELECT id AS vec_id, CAST(score AS REAL) AS score,
      |       CAST(score AS REAL) < CAST((SELECT t FROM thr) AS REAL) AS is_anomaly
      |FROM scores""".stripMargin

  /** t-SNE landmark reduction of the first 200 embeddings to 2-d
    * (rows-only; iterative seeded optimizer, determinism in Ml2Spec).
    * The 2-d coords are projected to scalar columns — the driver's
    * row-sort chokes on array-typed cells. */
  private def tsneReduceQ(s: SparkSession, dir: String): DataFrame =
    ml.Dimensionality.reduce(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 200),
      "vec_id", "embedding", method = "tsne",
      sampleLimit = 100, iterations = 120, perplexity = 10.0)
      .select(col("vec_id"),
        round(element_at(col("reduced"), 1), 4).as("x"),
        round(element_at(col("reduced"), 2), 4).as("y"))

  /** t-SNE, replayable oracle: [[ml.TsneFixpoint]] — the defining
    * Student-t / KL attraction-repulsion recurrence with Cauchy input
    * affinities (no sigma search) and fixed-step GD (no adaptive
    * gains), all-rational arithmetic unrolled in DuckDB CTEs — the
    * cross-engine match is BIT-exact, not drift-below-rounding.
    * `tsne_reduce` keeps the production face (perplexity search +
    * adaptive gains, trustworthiness floor in Ml2Spec). */
  private def tsneFixedQ(s: SparkSession, dir: String): DataFrame =
    ml.TsneFixpoint.embed(Tables.read(s, dir, "embeddings"),
      "vec_id", "embedding", n = 60, d = 8, iters = 10)

  private lazy val tsneFixedSql: String =
    ml.TsneFixpoint.oracleSql("embeddings", "vec_id", "embedding",
      n = 60, d = 8, iters = 10)

  /** UMAP, replayable oracle: [[ml.UmapFixpoint]] — the cross-entropy
    * attraction/repulsion gradient over the low-dim Cauchy kernel
    * (rational at a=b=1), full-batch fixed-step, Cauchy membership
    * weights instead of the sigma search; bit-exact DuckDB unroll.
    * With this row the LAST spec-only family is oracle-checked;
    * `umap_reduce` keeps the production face (per-edge SGD) under its
    * trustworthiness floor. */
  private def umapFixedQ(s: SparkSession, dir: String): DataFrame =
    ml.UmapFixpoint.embed(Tables.read(s, dir, "embeddings"),
      "vec_id", "embedding", n = 60, d = 8, iters = 10)

  private lazy val umapFixedSql: String =
    ml.UmapFixpoint.oracleSql("embeddings", "vec_id", "embedding",
      n = 60, d = 8, iters = 10)

  /** Autoencoder reconstruction error over the first 200 embeddings
    * (rows-only: iterative distributed-GD training; convergence and
    * determinism asserted in AutoencoderSpec). */
  private def autoencoderReconQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings").filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val m = ml.Dimensionality.autoencoderTrain(e, "embedding", bottleneck = 8,
      learningRate = 0.2, epochs = 25)
    ml.Dimensionality.autoencoderReconstruct(m, e, "vec_id", "embedding")
      .select(col("vec_id"), round(col("sq_error"), 4).as("sq_error"))
  }

  /** UMAP landmark reduction (rows-only, reference-shaped loop; scalar
    * projection for the same driver row-sort reason as t-SNE). */
  private def umapReduceQ(s: SparkSession, dir: String): DataFrame =
    ml.Dimensionality.reduce(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 200),
      "vec_id", "embedding", method = "umap",
      sampleLimit = 100, iterations = 80, nNeighbors = 10)
      .select(col("vec_id"),
        round(element_at(col("reduced"), 1), 4).as("x"),
        round(element_at(col("reduced"), 2), 4).as("y"))

  /** `hybrid_search_fusion`: min-max-normalized weighted fusion of an L1
    * ranking and an inner-product ranking (ml_hybrid_search.c:105); the
    * bounds ride as a broadcast 1-row aggregate, never a global window. */
  private def hybridFusionQ(s: SparkSession, dir: String): DataFrame = {
    val q = lit(qvec(s, dir))
    val scored = Tables.read(s, dir, "embeddings").select(col("vec_id"),
      operators.Knn.distCol("l1")(col("embedding"), q).as("lex"),
      operators.Knn.distCol("ip")(col("embedding"), q).as("sem"))
    operators.Hybrid.fuseScores(scored, "lex", "sem", lexWeight = 0.4)
      .select(col("vec_id"), round(col("fused_score"), 6).as("fused_score"))
  }

  private val hybridFusionSql =
    s"""WITH q AS (SELECT $qvecSql AS qv),
       |sc AS (SELECT vec_id,
       |  list_sum(list_transform(range(1, len(embedding)+1),
       |           i -> abs(embedding[i]::DOUBLE - qv[i]))) AS lex,
       |  -list_inner_product(embedding::DOUBLE[], qv) AS sem
       |  FROM embeddings, q),
       |b AS (SELECT MIN(lex) AS lmn, MAX(lex) AS lmx,
       |             MIN(sem) AS smn, MAX(sem) AS smx FROM sc)
       |SELECT vec_id,
       |  ROUND(0.4 * CASE WHEN lmx = lmn THEN 0.0 ELSE (lex - lmn) / (lmx - lmn) END
       |      + 0.6 * CASE WHEN smx = smn THEN 0.0 ELSE (sem - smn) / (smx - smn) END,
       |        6) AS fused_score
       |FROM sc, b""".stripMargin

  // ------------------------------------------------------------------
  // Element-op long tail (SURVEY §2.2 rows 9/11/16): arithmetic, element
  // access, unified preprocess — float4-truncation convention throughout.
  // ------------------------------------------------------------------

  /** Vector arithmetic `+ − ⊙ ·s neg` over adjacent embedding pairs
    * (`vector_add/sub/hadamard/scale/neg`, vector.c arithmetic family). */
  private def vArith(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val a = e.filter(col("vec_id") < 20).select(col("vec_id"), col("embedding").as("va"))
    val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("vb"))
    a.join(b, "vec_id")
      .select(col("vec_id"), col("va"), col("vb"),
        posexplode(VF.addUdf(col("va"), col("vb"))).as(Seq("pos", "add_v")))
      .select(col("vec_id"), col("pos"), col("add_v").cast("double"),
        element_at(VF.subUdf(col("va"), col("vb")), col("pos") + 1).cast("double").as("sub_v"),
        element_at(VF.hadamardUdf(col("va"), col("vb")), col("pos") + 1).cast("double").as("had_v"),
        element_at(VF.scaleUdf(col("va"), lit(2.5)), col("pos") + 1).cast("double").as("scl_v"),
        element_at(VF.negUdf(col("va")), col("pos") + 1).cast("double").as("neg_v"))
  }

  private val vArithSql =
    """WITH ea AS (SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |                   unnest(embedding::DOUBLE[]) AS xa
      |            FROM embeddings WHERE vec_id < 20),
      |     eb AS (SELECT vec_id - 1 AS vec_id,
      |                   unnest(range(0, len(embedding))) AS pos,
      |                   unnest(embedding::DOUBLE[]) AS xb
      |            FROM embeddings WHERE vec_id BETWEEN 1 AND 20)
      |SELECT ea.vec_id, ea.pos,
      |  CAST(CAST(xa + xb AS REAL) AS DOUBLE) AS add_v,
      |  CAST(CAST(xa - xb AS REAL) AS DOUBLE) AS sub_v,
      |  CAST(CAST(xa * xb AS REAL) AS DOUBLE) AS had_v,
      |  CAST(CAST(xa * 2.5 AS REAL) AS DOUBLE) AS scl_v,
      |  CAST(CAST(-xa AS REAL) AS DOUBLE) AS neg_v
      |FROM ea JOIN eb ON ea.vec_id = eb.vec_id AND ea.pos = eb.pos""".stripMargin

  /** Element access: 1-based get, slice(2..5) with prepend/append
    * (`vector_get/slice/append/prepend`, vector.c element family). */
  private def vElementAccess(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings").filter(col("vec_id") < 50)
      .select(col("vec_id"),
        VF.getUdf(col("embedding"), lit(3)).cast("double").as("get3"),
        posexplode(VF.prependUdf(lit(-1.0),
          VF.appendUdf(VF.sliceUdf(col("embedding"), lit(2), lit(5)), lit(9.0)))))
      .select(col("vec_id"), col("get3"), col("pos"), col("col").cast("double").as("val"))

  private val vElementAccessSql =
    """SELECT vec_id, CAST(embedding[3] AS DOUBLE) AS get3,
      |  unnest(range(0, 6)) AS pos,
      |  unnest(list_transform([-1.0] || embedding[2:5] || [9.0],
      |                        x -> x::DOUBLE)) AS val
      |FROM embeddings WHERE vec_id < 50""".stripMargin

  /** Unified preprocess dispatch: standardize + minmax legs
    * (`vector_preprocess`, SURVEY §2.2 row 16). */
  private def vPreprocess(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings").filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"),
        posexplode(VF.preprocessUdf(col("embedding"), lit("standardize"))).as(Seq("pos", "std_v")))
      .select(col("vec_id"), col("pos"), col("std_v").cast("double"),
        element_at(VF.preprocessUdf(col("embedding"), lit("minmax")), col("pos") + 1)
          .cast("double").as("mm_v"))

  private val vPreprocessSql =
    """WITH ex AS (SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |                   unnest(embedding::DOUBLE[]) AS v
      |            FROM embeddings WHERE vec_id < 50),
      |st AS (SELECT vec_id, AVG(v) AS m, MIN(v) AS lo, MAX(v) AS hi
      |       FROM ex GROUP BY vec_id),
      |sd AS (SELECT ex.vec_id,
      |              sqrt(SUM((v - m) * (v - m)) / COUNT(*)) AS sd
      |       FROM ex JOIN st ON ex.vec_id = st.vec_id GROUP BY ex.vec_id)
      |SELECT ex.vec_id, ex.pos,
      |  CAST(CAST(CASE WHEN sd.sd = 0 THEN 0.0 ELSE (v - m) / sd.sd END AS REAL) AS DOUBLE) AS std_v,
      |  CAST(CAST(CASE WHEN hi = lo THEN 0.0 ELSE (v - lo) / (hi - lo) END AS REAL) AS DOUBLE) AS mm_v
      |FROM ex JOIN st ON ex.vec_id = st.vec_id JOIN sd ON ex.vec_id = sd.vec_id""".stripMargin

  // ------------------------------------------------------------------
  // RL / XAI / GNN surface (SURVEY §2.10 row 107; reference
  // `sql/26_ml_new_algorithms.sql:58-180`).
  // ------------------------------------------------------------------

  /** Bandit pulls derived from the event stream: arm = event_id mod 8,
    * success = value > 0.5 (binary reward, the Beta-posterior
    * convention of ml_reinforcement_learning.c:458-471). */
  private def banditPulls(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events").select(
      (col("event_id") % 8).cast("int").as("arm_id"),
      when(col("value") > 0.5, 1.0).otherwise(0.0).as("reward"))

  private def banditUcbQ(s: SparkSession, dir: String): DataFrame =
    ml.Rl.multiArmedBandit(banditPulls(s, dir), "ucb", nArms = 8)
      .select(col("arm_id"), col("pulls"), col("reward_sum"),
        // float4, not round(6): the UCB exploration term is an ln chain
        col("probability").cast("float").as("probability"))

  private val banditUcbSql =
    """WITH pulls AS (
      |  SELECT CAST(event_id % 8 AS INT) AS arm_id,
      |         CASE WHEN value > 0.5 THEN 1.0 ELSE 0.0 END AS reward
      |  FROM events),
      |s AS (SELECT arm_id, COUNT(*) AS pulls, SUM(reward) AS reward_sum
      |      FROM pulls GROUP BY arm_id),
      |raw AS (SELECT arm_id, pulls, reward_sum,
      |               reward_sum / pulls
      |               + sqrt(2 * ln((SELECT SUM(pulls) FROM s)) / pulls) AS score
      |        FROM s)
      |SELECT arm_id, pulls, reward_sum,
      |       CAST(score / (SELECT SUM(score) FROM raw) AS REAL) AS probability
      |FROM raw""".stripMargin

  private def banditThompsonQ(s: SparkSession, dir: String): DataFrame =
    ml.Rl.multiArmedBandit(banditPulls(s, dir), "thompson", nArms = 8)
      .select(col("arm_id"), col("pulls"), col("reward_sum"),
        round(col("probability"), 6).as("probability"))

  private val banditThompsonSql =
    """WITH pulls AS (
      |  SELECT CAST(event_id % 8 AS INT) AS arm_id,
      |         CASE WHEN value > 0.5 THEN 1.0 ELSE 0.0 END AS reward
      |  FROM events),
      |s AS (SELECT arm_id, COUNT(*) AS pulls, SUM(reward) AS reward_sum
      |      FROM pulls GROUP BY arm_id),
      |raw AS (SELECT arm_id, pulls, reward_sum,
      |               (1.0 + reward_sum) / (2.0 + pulls) AS score
      |        FROM s)
      |SELECT arm_id, pulls, reward_sum,
      |       ROUND(score / (SELECT SUM(score) FROM raw), 6) AS probability
      |FROM raw""".stripMargin

  private def banditEgreedyQ(s: SparkSession, dir: String): DataFrame =
    ml.Rl.multiArmedBandit(banditPulls(s, dir), "epsilon_greedy", nArms = 8,
        epsilon = 0.2)
      .select(col("arm_id"), col("pulls"), col("reward_sum"),
        round(col("probability"), 6).as("probability"))

  private val banditEgreedySql =
    """WITH pulls AS (
      |  SELECT CAST(event_id % 8 AS INT) AS arm_id,
      |         CASE WHEN value > 0.5 THEN 1.0 ELSE 0.0 END AS reward
      |  FROM events),
      |s AS (SELECT arm_id, COUNT(*) AS pulls, SUM(reward) AS reward_sum
      |      FROM pulls GROUP BY arm_id),
      |best AS (SELECT arm_id FROM s ORDER BY reward_sum / pulls DESC, arm_id LIMIT 1)
      |SELECT arm_id, pulls, reward_sum,
      |       ROUND(CASE WHEN arm_id = (SELECT arm_id FROM best)
      |             THEN 1.0 - 0.2 + 0.2 / 8 ELSE 0.2 / 8 END, 6) AS probability
      |FROM s""".stripMargin

  /** Q-learning over event-derived experience. With lr=1 each sweep
    * assigns q(s,a) ← avg(r) + γ·max_a' q(next(s),a'), and next state is
    * (s+1)%10 for every row of a group — so the fixpoint unrolls into 20
    * tiny 40-row CTE steps and the full iteration is oracle-checkable. */
  private def qlearningPolicyQ(s: SparkSession, dir: String): DataFrame = {
    val exp = Tables.read(s, dir, "events").select(
      (col("event_id") % 10).cast("int").as("state_id"),
      (col("user_id") % 4).cast("int").as("action_id"),
      col("value").as("reward"),
      ((col("event_id") + 1) % 10).cast("int").as("next_state_id"))
    ml.Rl.qlearningTrain(exp, nStates = 10, nActions = 4,
        learningRate = 1.0, discountFactor = 0.9, sweeps = 20)
      .toDf(s)
      .select(col("state_id"), col("action_id"), round(col("q_value"), 4).as("q"))
  }

  private lazy val qlearningPolicySql: String = {
    val steps = (1 to 20).map { k =>
      s"""q$k AS (SELECT r.s, r.a, r.avg_r + 0.9 * coalesce(m${k - 1}.mx, 0) AS q
         |  FROM r LEFT JOIN m${k - 1} ON m${k - 1}.s = (r.s + 1) % 10),
         |m$k AS (SELECT s, max(q) AS mx FROM q$k GROUP BY s)""".stripMargin
    }.mkString(",\n")
    s"""WITH exp AS (SELECT CAST(event_id % 10 AS INT) AS s,
       |    CAST(user_id % 4 AS INT) AS a, value AS r FROM events),
       |r AS (SELECT s, a, avg(r) AS avg_r FROM exp GROUP BY 1, 2),
       |q0 AS (SELECT s, a, 0.0 AS q FROM r),
       |m0 AS (SELECT s, max(q) AS mx FROM q0 GROUP BY s),
       |$steps
       |SELECT s AS state_id, a AS action_id, round(q, 4) AS q FROM q20""".stripMargin
  }

  /** Customer similarity graph: same-(nation, custkey mod 10) pairs —
    * the mod-10 blocking keeps per-node degree BOUNDED as the table
    * scales (sf0.1: ~60 instead of ~600), the same degree-bounding move
    * a kNN graph makes. Without it the SpMV shuffle grows with the
    * square of the nation size. */
  private def customerEdges(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.read(s, dir, "customer")
    cust.select(col("c_custkey").as("k1"), col("c_nationkey").as("n1"))
      .join(cust.select(col("c_custkey").as("k2"), col("c_nationkey").as("n2")),
        col("n1") === col("n2") && (col("k1") % 10) === (col("k2") % 10) &&
          col("k1") =!= col("k2"))
      .select(col("k1").as("node_id"), col("k2").as("neighbor_id"))
  }

  private def nodeFeatures(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .select(col("vec_id").as("node_id"), col("embedding").as("features"))

  /** GraphSAGE sampled-neighborhood mean over the customer graph
    * (deterministic lowest-id sampling; see Gnn.graphsageAggregate). */
  private def graphsageAggQ(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.read(s, dir, "customer")
      .filter(col("c_custkey") <= 20).select(col("c_custkey").as("node_id"))
    ml.Gnn.graphsageAggregate(customerEdges(s, dir), nodeFeatures(s, dir),
        seeds, nSamples = 5, depth = 2)
      .select(col("node_id"), posexplode(col("aggregated")))
      .select(col("node_id"), col("pos"), col("col").cast("double").as("val"))
  }

  private val graphsageAggSql =
    """WITH edges AS (
      |  SELECT c1.c_custkey AS node_id, c2.c_custkey AS neighbor_id
      |  FROM customer c1 JOIN customer c2
      |    ON c1.c_nationkey = c2.c_nationkey
      |   AND c1.c_custkey % 10 = c2.c_custkey % 10
      |   AND c1.c_custkey <> c2.c_custkey),
      |seeds AS (SELECT c_custkey AS seed FROM customer WHERE c_custkey <= 20),
      |l1 AS (
      |  SELECT seed, neighbor_id AS node,
      |         ROW_NUMBER() OVER (PARTITION BY seed ORDER BY neighbor_id) AS ord
      |  FROM seeds JOIN edges ON edges.node_id = seed
      |  QUALIFY ord <= 5),
      |l1c AS (SELECT seed, COUNT(*) AS used FROM l1 GROUP BY seed),
      |l2cand AS (
      |  SELECT l1.seed, e.neighbor_id AS node, l1.ord AS parent_ord,
      |         ROW_NUMBER() OVER (PARTITION BY l1.seed, l1.ord
      |                            ORDER BY e.neighbor_id) AS r
      |  FROM l1 JOIN edges e ON e.node_id = l1.node
      |  QUALIFY r <= 5),
      |l2 AS (
      |  SELECT c.seed, c.node,
      |         ROW_NUMBER() OVER (PARTITION BY c.seed
      |                            ORDER BY c.parent_ord, c.node) AS ord2
      |  FROM l2cand c JOIN l1c u ON u.seed = c.seed
      |  QUALIFY ord2 <= 10 - u.used),
      |pool AS (SELECT seed, node FROM l1 UNION ALL SELECT seed, node FROM l2),
      |poolc AS (SELECT seed, COUNT(*) AS n FROM pool GROUP BY seed),
      |vals AS (
      |  SELECT p.seed, unnest(range(0, len(f.embedding))) AS pos,
      |         unnest(f.embedding::DOUBLE[]) AS v
      |  FROM pool p JOIN embeddings f ON p.node = f.vec_id),
      |agg AS (
      |  SELECT v.seed AS node_id, v.pos,
      |         CAST(CAST(SUM(v.v) / MAX(pc.n) AS REAL) AS DOUBLE) AS val
      |  FROM vals v JOIN poolc pc ON pc.seed = v.seed
      |  GROUP BY 1, 2)
      |SELECT * FROM agg
      |UNION ALL
      |-- one row per seed is the operator's contract (reference
      |-- :1104-1117): a seed with no edges — or whose whole pool lacks
      |-- feature rows — aggregates to the ZERO vector, it does not vanish.
      |-- Bites only when the graph outgrows the feature table (sf0.001's
      |-- 150-customer graph vs the fixed 500-row embeddings corpus).
      |SELECT s.seed AS node_id,
      |       unnest(range(0, (SELECT max(len(embedding)) FROM embeddings))) AS pos,
      |       0.0 AS val
      |FROM seeds s WHERE s.seed NOT IN (SELECT node_id FROM agg)""".stripMargin

  /** One hop of symmetric-normalized GCN propagation (SGC form) on the
    * customer graph; only the first 100 nodes are wanted, so the target
    * set pushes down into the propagation (ego-graph SpMV, not
    * whole-graph). */
  private def sgcPropagateQ(s: SparkSession, dir: String): DataFrame = {
    // The oracle keeps every node ≤ 100 that receives propagated mass —
    // graph nodes (customer keys, which start at 0) as well as
    // self-loop-only nodes from the feature table — so the target set is
    // the union of both id spaces, not just the feature ids.
    val targets = Tables.read(s, dir, "customer")
      .filter(col("c_custkey") <= 100).select(col("c_custkey").as("node_id"))
      .unionByName(nodeFeatures(s, dir).filter(col("node_id") <= 100)
        .select("node_id"))
      .distinct()
    // customerEdges emits every ordered pair (condition is symmetric,
    // k1 ≠ k2), so the operator's symmetrize+dedup shuffle is skippable
    ml.Gnn.sgcPropagate(customerEdges(s, dir), nodeFeatures(s, dir), hops = 1,
        targets = Some(targets), assumeSymmetric = true)
      .filter(col("node_id") <= 100)
      .select(col("node_id"), posexplode(col("features")))
      .select(col("node_id"), col("pos"), col("col").cast("double").as("val"))
  }

  private val sgcPropagateSql =
    """WITH und AS (
      |  SELECT DISTINCT c1.c_custkey AS src, c2.c_custkey AS dst
      |  FROM customer c1 JOIN customer c2
      |    ON c1.c_nationkey = c2.c_nationkey
      |   AND c1.c_custkey % 10 = c2.c_custkey % 10
      |   AND c1.c_custkey <> c2.c_custkey),
      |wself AS (SELECT src, dst FROM und
      |          UNION SELECT vec_id, vec_id FROM embeddings),
      |deg AS (SELECT src, COUNT(*) AS deg FROM wself GROUP BY src),
      |norm AS (SELECT w.src, w.dst, 1.0 / sqrt(ds.deg * dd.deg) AS w
      |         FROM wself w JOIN deg ds ON ds.src = w.src
      |                      JOIN deg dd ON dd.src = w.dst),
      |vals AS (
      |  SELECT n.dst AS node_id, t.pos, CAST(t.v * n.w AS REAL) AS v
      |  FROM norm n JOIN (
      |    SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |           unnest(embedding::DOUBLE[]) AS v
      |    FROM embeddings) t ON t.vec_id = n.src)
      |SELECT node_id, pos, CAST(CAST(SUM(v) AS REAL) AS DOUBLE) AS val
      |FROM vals WHERE node_id <= 100
      |GROUP BY 1, 2""".stripMargin

  /** GCN head, replayable oracle: the SGC-propagated features (same
    * derivation as `sgc_propagate`, float-rounded hence exact in SQL)
    * feed `Gnn.logisticGdFixpoint` — fixed-count full-batch logistic GD,
    * zero init, left-to-right dot products. Only unordered cross-row
    * gradient sums and exp ulps separate the engines (~1e-14 after 10
    * rounds), 10 orders below the round-4 output. `gcn_nodes` keeps the
    * MLlib L-BFGS face (rows-only). */
  private def gcnFixedQ(s: SparkSession, dir: String): DataFrame = {
    val targets = Tables.read(s, dir, "customer")
      .filter(col("c_custkey") <= 100).select(col("c_custkey").as("node_id"))
      .unionByName(nodeFeatures(s, dir).filter(col("node_id") <= 100)
        .select("node_id"))
      .distinct()
    val feats = ml.Gnn.sgcPropagate(customerEdges(s, dir), nodeFeatures(s, dir),
        hops = 1, targets = Some(targets), assumeSymmetric = true)
      .filter(col("node_id") <= 100)
    val labels = Tables.read(s, dir, "customer")
      .filter(col("c_custkey") <= 100)
      .select(col("c_custkey").as("node_id"), (col("c_nationkey") % 2).as("label"))
    ml.Gnn.logisticGdFixpoint(feats, labels, iters = 10, lr = 0.5)
      // REAL cast, not round(4) — see aeFixedQ
      .select(col("node_id"), col("prob").cast("float").as("prob"))
  }

  private lazy val gcnFixedSql: String = {
    val iters = 10
    val sb = new StringBuilder
    sb ++= s"""WITH und AS MATERIALIZED (
      |  SELECT DISTINCT c1.c_custkey AS src, c2.c_custkey AS dst
      |  FROM customer c1 JOIN customer c2
      |    ON c1.c_nationkey = c2.c_nationkey
      |   AND c1.c_custkey % 10 = c2.c_custkey % 10
      |   AND c1.c_custkey <> c2.c_custkey),
      |wself AS MATERIALIZED (SELECT src, dst FROM und
      |          UNION SELECT vec_id, vec_id FROM embeddings),
      |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM wself GROUP BY src),
      |norm AS MATERIALIZED (SELECT w.src, w.dst, 1.0 / sqrt(ds.deg * dd.deg) AS w
      |         FROM wself w JOIN deg ds ON ds.src = w.src
      |                      JOIN deg dd ON dd.src = w.dst),
      |vals AS MATERIALIZED (
      |  SELECT n.dst AS node_id, t.pos, CAST(t.v * n.w AS REAL) AS v
      |  FROM norm n JOIN (
      |    SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |           unnest(embedding::DOUBLE[]) AS v
      |    FROM embeddings) t ON t.vec_id = n.src),
      |feat AS MATERIALIZED (
      |  SELECT node_id, pos, CAST(CAST(SUM(v) AS REAL) AS DOUBLE) AS val
      |  FROM vals WHERE node_id <= 100
      |  GROUP BY 1, 2),
      |fl AS MATERIALIZED (
      |  SELECT node_id, list_append(list(val ORDER BY pos), 1.0) AS xs
      |  FROM feat GROUP BY 1),
      |lab AS MATERIALIZED (
      |  SELECT c_custkey AS node_id, CAST(c_nationkey % 2 AS DOUBLE) AS y
      |  FROM customer WHERE c_custkey <= 100),
      |tr AS MATERIALIZED (SELECT fl.node_id, fl.xs, lab.y
      |  FROM fl JOIN lab USING (node_id)),
      |nn AS MATERIALIZED (SELECT count(*) AS n FROM tr),
      |w_0 AS MATERIALIZED (
      |  SELECT list_transform(range(1, 66), j -> 0.0) AS w)""".stripMargin
    for (i <- 1 to iters) {
      sb ++= s""",
        |p_$i AS MATERIALIZED (
        |  SELECT t.node_id, t.xs, t.y,
        |    1.0 / (1.0 + exp(-(list_reduce(list_prepend(0.0,
        |      list_transform(range(1, len(t.xs) + 1), j -> w.w[j] * t.xs[j])),
        |      (a, b) -> a + b)))) AS p
        |  FROM tr t, w_${i - 1} w),
        |g_$i AS MATERIALIZED (
        |  SELECT rr.j, sum((t.y - t.p) * t.xs[rr.j]) AS g
        |  FROM p_$i t, range(1, 66) rr(j) GROUP BY rr.j),
        |w_$i AS MATERIALIZED (
        |  SELECT list(w.w[g.j] + 0.5 * (g.g / (SELECT n FROM nn)) ORDER BY g.j) AS w
        |  FROM g_$i g, w_${i - 1} w)""".stripMargin
    }
    sb ++= s"""
      |SELECT fl.node_id,
      |  CAST(1.0 / (1.0 + exp(-(list_reduce(list_prepend(0.0,
      |    list_transform(range(1, len(fl.xs) + 1), j -> w.w[j] * fl.xs[j])),
      |    (a, b) -> a + b)))) AS REAL) AS prob
      |FROM fl, w_$iters w""".stripMargin
    sb.toString
  }

  /** Sampling SHAP values for a linear model over the embedding features
    * (rows-only: model training not SQL-expressible; the linear-model
    * closed form w_i·x_i is asserted in ExplainSpec). */
  private def shapLinearQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val tm = ml.UnifiedApi.train("linear_regression",
      e.withColumn("y", col("label").cast("double")), "embedding", Some("y"))
    ml.Explain.shapValues(tm.modelId, Tables.queryVector(s, dir, 0L), nSamples = 32)
      .select(col("feature_index"), round(col("shap_value"), 4).as("shap"))
  }

  /** LIME local-linear importances for the same model (rows-only). */
  private def limeLinearQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val tm = ml.UnifiedApi.train("linear_regression",
      e.withColumn("y", col("label").cast("double")), "embedding", Some("y"))
    ml.Explain.limeExplain(tm.modelId, Tables.queryVector(s, dir, 0L), nSamples = 256)
      .select(col("feature_index"), round(col("importance"), 4).as("importance"))
  }

  /** Sampling SHAP over a DEPLOYED fixed-coefficient linear model
    * (`UnifiedApi.registerLinear` — the model-import face): with the
    * scorer a known closed form, the ENTIRE pipeline — splitmix64 coin
    * flips, masked perturbations, linear scoring, Monte-Carlo average —
    * is re-derived by the DuckDB oracle. `shap_linear` keeps exercising
    * the MLlib-trained face (rows-only). */
  private def shapFixedQ(s: SparkSession, dir: String): DataFrame = {
    val inst = Tables.queryVector(s, dir, 0L)
    val w = Array.tabulate(inst.length)(k => (k + 1) / 64.0)
    val tm = ml.UnifiedApi.registerLinear(w, 0.25, "embedding")
    ml.Explain.shapValues(tm.modelId, inst, nSamples = 32)
      // float4, not round(4): same boundary-flake class as vDistances
      .select(col("feature_index"), col("shap_value").cast("float").as("shap"))
  }

  /** LIME over the same deployed linear scorer — noise stream, float
    * perturbation arithmetic, Gaussian kernel, and the per-coordinate
    * weighted least squares all oracle-verified. */
  private def limeFixedQ(s: SparkSession, dir: String): DataFrame = {
    val inst = Tables.queryVector(s, dir, 0L)
    val w = Array.tabulate(inst.length)(k => (k + 1) / 64.0)
    val tm = ml.UnifiedApi.registerLinear(w, 0.25, "embedding")
    ml.Explain.limeExplain(tm.modelId, inst, nSamples = 256)
      .select(col("feature_index"), col("importance").cast("float").as("importance"))
  }

  /** SHAP oracle: the coin flip u01(seed ⊕ i≪40 ⊕ j≪20 ⊕ k) < 0.5 is
    * exact in SQL — u01 = (mix64(key) ≫ 11)/2⁵³ is an integer scaled by a
    * power of two (both engines compute the identical double), and the
    * linear score replays the model's left-to-right fold, so the only
    * reordered float op is the final 64-term Monte-Carlo sum (≈1e-15,
    * invisible at round-4). */
  private lazy val shapFixedSql: String =
    s"""WITH inst AS (
       |  SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
       |  FROM embeddings WHERE vec_id = 0),
       |mk AS (
       |  SELECT i, j, k, xor(xor(xor(CAST(42 AS BIGINT), i << 40), j << 20), k) AS key
       |  FROM range(0, 64) t1(i), range(0, 32) t2(j), range(0, 64) t3(k)
       |  WHERE k <> i),
       |${mix64Ctes("sc", "mk", Seq("i", "j", "k"), "key")},
       |coin AS (
       |  SELECT i, j, k,
       |    ((z // 2048)::DOUBLE / 9007199254740992.0) < 0.5 AS keep FROM sc6),
       |grid AS (
       |  SELECT i, j, sgn, k
       |  FROM range(0, 64) t1(i), range(0, 32) t2(j),
       |       (SELECT unnest([1, -1]) AS sgn), range(0, 64) t3(k)),
       |xp AS (
       |  SELECT g.i, g.j, g.sgn, g.k,
       |    CASE WHEN g.k = g.i THEN CASE WHEN g.sgn > 0 THEN x[g.k + 1] ELSE 0.0 END
       |         WHEN c.keep THEN x[g.k + 1] ELSE 0.0 END AS xv
       |  FROM grid g CROSS JOIN inst
       |  LEFT JOIN coin c ON c.i = g.i AND c.j = g.j AND c.k = g.k),
       |preds AS (
       |  SELECT i, j, sgn,
       |    list_reduce(list_prepend(0.25,
       |      list((CAST(k + 1 AS DOUBLE) / 64.0) * xv ORDER BY k)),
       |      (a, c) -> a + c) AS pred
       |  FROM xp GROUP BY 1, 2, 3)
       |SELECT CAST(i AS INTEGER) AS feature_index,
       |  CAST(sum(sgn * pred) / 32.0 AS REAL) AS shap
       |FROM preds GROUP BY 1 ORDER BY 1""".stripMargin

  /** LIME oracle: perturbations replay the FLOAT arithmetic
    * (x + ((u01−0.5)·0.2)::REAL in REAL domain), the kernel distance is
    * the same left-to-right double fold of REAL squares, and exp/number
    * reordering sit ≥10 orders below the round-4 output. */
  private lazy val limeFixedSql: String =
    s"""WITH inst AS (SELECT embedding AS xf FROM embeddings WHERE vec_id = 0),
       |nk AS (
       |  SELECT j, k, xor(xor(CAST(42 AS BIGINT), j << 24), k) AS key
       |  FROM range(0, 256) t1(j), range(0, 64) t2(k)),
       |${mix64Ctes("ln", "nk", Seq("j", "k"), "key")},
       |pert AS (
       |  SELECT j, k,
       |    xf[k + 1] + CAST(((z // 2048)::DOUBLE / 9007199254740992.0 - 0.5) * 0.2 AS REAL) AS v
       |  FROM ln6 CROSS JOIN inst),
       |dd AS (
       |  SELECT p.j,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(CAST((p.v - xf[p.k + 1]) * (p.v - xf[p.k + 1]) AS DOUBLE) ORDER BY p.k)),
       |      (a, c) -> a + c) AS d2
       |  FROM pert p CROSS JOIN inst GROUP BY 1),
       |kw AS (SELECT j, exp(-d2 / 0.5) AS w FROM dd),
       |preds AS (
       |  SELECT j,
       |    list_reduce(list_prepend(0.25,
       |      list((CAST(k + 1 AS DOUBLE) / 64.0) * CAST(v AS DOUBLE) ORDER BY k)),
       |      (a, c) -> a + c) AS pred
       |  FROM pert GROUP BY 1),
       |agg AS (
       |  SELECT p.k AS feature_index,
       |    sum(kw.w * CAST(p.v AS DOUBLE) * pr.pred) AS num,
       |    sum(kw.w * CAST(p.v AS DOUBLE) * CAST(p.v AS DOUBLE)) AS den
       |  FROM pert p JOIN kw ON kw.j = p.j JOIN preds pr ON pr.j = p.j
       |  GROUP BY 1)
       |SELECT CAST(feature_index AS INTEGER) AS feature_index,
       |  CAST(CASE WHEN den > 1e-10 THEN num / den ELSE 0.0 END AS REAL) AS importance
       |FROM agg ORDER BY 1""".stripMargin

  /** GCN node classification via SGC on the customer graph (rows-only:
    * MLlib logistic fit; community separation asserted in GnnSpec). */
  private def gcnNodesQ(s: SparkSession, dir: String): DataFrame = {
    val feats = nodeFeatures(s, dir)
    val labels = Tables.read(s, dir, "customer")
      .select(col("c_custkey").as("node_id"), (col("c_nationkey") % 2).cast("int").as("label"))
    val tm = ml.Gnn.gcnTrain(customerEdges(s, dir), feats, labels, hops = 2)
    val propagated = ml.Gnn.sgcPropagate(customerEdges(s, dir), feats, hops = 2)
    ml.UnifiedApi.predict(tm.modelId, propagated)
      .filter(col("node_id") <= 100)
      .select(col("node_id"), col("prediction"))
  }

  // ======================================================================
  // Round-5 depth: unit-only operators promoted to oracle-checked queries
  // ======================================================================

  /** PQ encode + asymmetric-distance top-k (`pq_asymmetric_distance`,
    * reference `src/ml/ml_product_quantization.c`) with a deterministic
    * codebook: codeword c of subspace s = slice s of embedding vec_id c.
    * Exercises the exact encode/ADC kernels ([[operators.Pq]]) the trained
    * path shares; only the k-means fit is swapped for fixed centroids so
    * DuckDB can replay it. */
  private def pqAdcQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val cb = operators.Pq.codebookFrom(cents, m = 8)
    val encoded = operators.Pq.encodeTable(emb.select("vec_id", "embedding"), "embedding", cb)
    operators.Pq.search(encoded, cb, qvec(s, dir), k = 10, tieBreak = Seq("vec_id"))
      .select(col("vec_id"), round(col("adc_distance"), 6).as("adc"))
  }

  /** Encode = per-subspace argmin (strict <, lowest codeword wins ties);
    * ADC = sqrt of summed query-to-codeword table entries. */
  private val pqAdcSql =
    """WITH sv AS (
      |  SELECT vec_id, t.s, list_slice(embedding::DOUBLE[], t.s*8+1, t.s*8+8) AS sub
      |  FROM embeddings, range(0, 8) AS t(s)),
      |cb AS (SELECT vec_id AS c, s, sub AS cw FROM sv WHERE vec_id < 16),
      |dist AS (
      |  SELECT v.vec_id, v.s, cb.c,
      |    list_sum(list_transform(range(1, 9),
      |      i -> (v.sub[i] - cb.cw[i]) * (v.sub[i] - cb.cw[i]))) AS d
      |  FROM sv v JOIN cb ON cb.s = v.s),
      |enc AS (
      |  SELECT vec_id, s, c AS code FROM (
      |    SELECT vec_id, s, c,
      |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
      |    FROM dist) WHERE rn = 1),
      |qd AS (SELECT s, c, d FROM dist WHERE vec_id = 0)
      |SELECT vec_id, round(adc, 6) AS adc FROM (
      |  SELECT e.vec_id, sqrt(sum(qd.d)) AS adc
      |  FROM enc e JOIN qd ON qd.s = e.s AND qd.c = e.code
      |  GROUP BY e.vec_id)
      |ORDER BY adc, vec_id LIMIT 10""".stripMargin

  /** Two-stage rerank (`rerank_index_create/get_candidates`): int8-coarse
    * L2 takes the wide cut (4k candidates), exact L2 rescores the
    * survivors. Coarse vectors = max-abs int8 codes decoded to the unit
    * domain — the same codec `quant_int8` proves expressible in DuckDB. */
  private def twoStageRerankQ(s: SparkSession, dir: String): DataFrame = {
    // Fully-qualified calls inside the lambda: a local alias would make
    // the closure capture the (non-serializable) module instance.
    val coarseUdf = udf((v: Seq[Float]) =>
      functions.Quantization.int8ToVector(functions.Quantization.toInt8(v.toArray)).toSeq)
    val emb = Tables.read(s, dir, "embeddings")
      .withColumn("coarse", coarseUdf(col("embedding")))
    val q = qvec(s, dir)
    operators.Rerank.twoStage(emb, "vec_id", "embedding", "coarse",
        q, functions.Quantization.int8ToVector(functions.Quantization.toInt8(q)), k = 10)
      .select(col("vec_id"), round(col("coarse_distance"), 6).as("coarse_dist"),
        round(col("distance"), 6).as("dist"))
  }

  /** The decode mirrors `quant_int8`'s float steps; float/float division
    * via double is exact (53 >= 2*24+2, division double-rounding-safe). */
  private val twoStageRerankSql =
    s"""WITH t AS (SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(x))) AS maxabs
       |  FROM embeddings),
       |dec AS (SELECT vec_id, embedding,
       |  list_transform(embedding, x -> CASE WHEN maxabs = 0 THEN CAST(0.0 AS DOUBLE) ELSE
       |    CAST(CAST(CAST(roundbankers(greatest(-128.0, least(127.0,
       |      CAST(CAST(x * CAST(127.0 / maxabs AS REAL) AS REAL) AS DOUBLE))), 0) AS REAL)
       |      / CAST(127.0 AS REAL) AS REAL) AS DOUBLE) END) AS coarse
       |  FROM t),
       |q AS (SELECT embedding::DOUBLE[] AS qe, coarse AS qc FROM dec WHERE vec_id = 0),
       |cand AS (
       |  SELECT d.vec_id, d.embedding,
       |    list_distance(d.coarse, q.qc) AS cd
       |  FROM dec d, q
       |  ORDER BY cd, d.vec_id LIMIT 40)
       |SELECT vec_id, round(cd, 6) AS coarse_dist,
       |  round(list_distance(cand.embedding::DOUBLE[], q.qe), 6) AS dist
       |FROM cand, q
       |ORDER BY list_distance(cand.embedding::DOUBLE[], q.qe), vec_id LIMIT 10""".stripMargin

  /** `vec_route` set-oriented: route vectors to the nearest of the 10
    * per-label mean centroids (argmin L2, lowest label wins ties). */
  private def vecRouteQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(s, dir, "embeddings")
    val cents = emb.groupBy(col("label")).agg(VA.vector_avg(col("embedding")).as("c"))
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val labels = cents.map(_._1)
    val cvecs = cents.map(_._2)
    val routeUdf = udf((v: Seq[Float]) =>
      labels(operators.Knn.vecRoute(v.toArray, cvecs)))
    emb.filter(col("vec_id") < 100)
      .select(col("vec_id"), routeUdf(col("embedding")).as("route_label"))
  }

  private val vecRouteSql =
    """WITH cent AS (
      |  SELECT label, pos, CAST(CAST(sum(v) / count(*) AS REAL) AS DOUBLE) AS c
      |  FROM (SELECT label, unnest(range(0, len(embedding))) AS pos,
      |               unnest(embedding::DOUBLE[]) AS v FROM embeddings)
      |  GROUP BY label, pos),
      |v AS (SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |             unnest(embedding::DOUBLE[]) AS v
      |      FROM embeddings WHERE vec_id < 100),
      |d AS (SELECT v.vec_id, c.label, sum((v.v - c.c) * (v.v - c.c)) AS d
      |      FROM v JOIN cent c ON c.pos = v.pos
      |      GROUP BY v.vec_id, c.label)
      |SELECT vec_id, label AS route_label FROM (
      |  SELECT vec_id, label,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, label) AS rn
      |  FROM d) WHERE rn = 1""".stripMargin

  /** Watermarked tumbling-window aggregation executed as a REAL
    * Structured-Streaming query (parquet file source → stateful agg →
    * memory sink, Trigger.AvailableNow), then compared against the batch
    * oracle — the §2.11 streaming surface under the correctness gate. */
  private def streamWindowAggQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    // The file stream source wants a directory; glob-filter to one table.
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts_ts", Tables.tsTimestamp(schema))
    val agg = streaming.EventStream.windowedCounts(
      stream, "ts_ts", "event_type", windowDur = "6 hours", watermark = "12 hours")
    val name = "stream_window_agg_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // avg as REAL, not round-6: the cross-engine sum-order noise (~1e-15
    // relative) can straddle a decimal rounding boundary (seen at sf0.1);
    // float granularity sits 9 orders above the noise, so the cast is the
    // robust equality the driver's hash compare needs.
    s.table(name)
      .select(col("window.start").cast("long").as("wstart"), col("event_type"),
        col("n"), col("avg_value").cast("float").as("avg_value"))
  }

  private val streamWindowAggSql =
    """SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS wstart,
      |  event_type, COUNT(*) AS n, CAST(AVG(value) AS REAL) AS avg_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Streaming distinct-count sketch, FULL oracle — per-window/type
    * distinct-user KMV estimates through a REAL streaming query.
    * `countDistinct` is unsupported in streaming aggregation (unbounded
    * state) — this is exactly the hole sketches fill: the KMV
    * Aggregator's ≤ k-long state is the per-group streaming state, and
    * because the sketch is deterministic the batch oracle re-derives the
    * kth-min hash and the estimate bit-for-bit. */
  private def streamDistinctQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts_ts", Tables.tsTimestamp(schema))
    val kmv = udaf(new operators.Sketches.KmvAgg(64))
    val agg = stream.withWatermark("ts_ts", "12 hours")
      .groupBy(window(col("ts_ts"), "6 hours"), col("event_type"))
      .agg(kmv(col("user_id")).as("ks"))
    val name = "stream_distinct_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val est = udf((st: Seq[Long]) => operators.Sketches.kmvEstimate(st, 64))
    s.table(name).select(
      col("window.start").cast("long").as("wstart"), col("event_type"),
      size(col("ks")).cast("long").as("n_kept"),
      shiftrightunsigned(expr("element_at(ks, size(ks))"), 32).as("kth_hi"),
      expr("element_at(ks, size(ks))").bitwiseAND(lit(0xFFFFFFFFL)).as("kth_lo"),
      est(col("ks")).as("est_distinct"))
  }

  private lazy val streamDistinctSql =
    s"""WITH g AS (
       |  SELECT DISTINCT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS wstart,
       |         event_type, user_id
       |  FROM events),
       |${mix64Ctes("sd", "g", Seq("wstart", "event_type"), "user_id")},
       |h AS (SELECT DISTINCT wstart, event_type, z FROM sd6),
       |r AS (SELECT wstart, event_type, z,
       |        row_number() OVER (PARTITION BY wstart, event_type ORDER BY z) AS rn
       |      FROM h),
       |k AS (SELECT wstart, event_type, count(*) AS n_kept, max(z) AS kz
       |      FROM r WHERE rn <= 64 GROUP BY 1, 2)
       |SELECT wstart, event_type, CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(kz // 4294967296 AS BIGINT) AS kth_hi,
       |  CAST(kz % 4294967296 AS BIGINT) AS kth_lo,
       |  CAST(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
       |            ELSE 63.0 * 18446744073709551616.0 / CAST(kz AS DOUBLE) END
       |       AS REAL) AS est_distinct
       |FROM k""".stripMargin

  /** Streaming frequency sketch, FULL oracle — the CMS partner of
    * `stream_distinct`: one d=4×w=1024 count-min grid per 6-hour window
    * accumulates user-id occurrences through the real streaming path
    * (the mergeable grid IS the bounded per-window state; an exact
    * per-user count would hold the full id universe), then each
    * window's grid answers point queries for a fixed probe set of user
    * ids. The batch oracle re-derives every probed estimate via bucket
    * sums — integer-exact. */
  /** Streaming Benford monitor, FULL oracle — per-6-hour-window first
    * digit counts of the event value feed through a REAL streaming
    * aggregation (exact integer per-window state: 9 counters), then
    * the chi-square against the Benford curve computed batch-side over
    * the materialized counts on a full 1..9 scaffold — the
    * ingest-drift tripwire as a stream. */
  private def streamBenfordQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts_ts", Tables.tsTimestamp(schema))
      .withColumn("c", floor(col("value").cast("double") * 100.0 + 0.5)
        .cast("long"))
      .filter(col("c") > 0)
      .withColumn("digit",
        substring(col("c").cast("string"), 1, 1).cast("long"))
    val agg = stream.withWatermark("ts_ts", "12 hours")
      .groupBy(window(col("ts_ts"), "6 hours"), col("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val name = "stream_benford_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val counts = s.table(name)
      .select(col("window.start").cast("long").as("wstart"), col("digit"),
        col("n_obs"))
    val scaffold = counts.select(col("wstart")).distinct()
      .crossJoin(s.range(1, 10).select(col("id").as("digit")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("wstart"))
    scaffold.join(counts, Seq("wstart", "digit"), "left")
      .select(col("wstart"), col("digit"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .withColumn("n", sum(col("n_obs")).over(w))
      .withColumn("expected", log10(lit(1.0) + lit(1.0) / col("digit")))
      .withColumn("contrib",
        (col("n_obs") - col("n") * col("expected")) *
          (col("n_obs") - col("n") * col("expected")) /
          (col("n") * col("expected")))
      .select(col("wstart"), col("digit"), col("n_obs"),
        sum(col("contrib")).over(w).cast("float").as("chi2"))
  }

  private val streamBenfordSql =
    """WITH d0 AS (SELECT
      |    CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS wstart,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events),
      |g AS (SELECT wstart,
      |    CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |    CAST(count(*) AS BIGINT) AS n_obs
      |  FROM d0 WHERE c > 0 GROUP BY 1, 2),
      |sc AS (SELECT w.wstart, CAST(r.digit AS BIGINT) AS digit
      |  FROM (SELECT DISTINCT wstart FROM g) w, range(1, 10) r(digit)),
      |a AS (SELECT sc.wstart, sc.digit, COALESCE(g.n_obs, 0) AS n_obs
      |  FROM sc LEFT JOIN g ON g.wstart = sc.wstart
      |    AND g.digit = sc.digit),
      |x AS (SELECT wstart, digit, n_obs,
      |    SUM(n_obs) OVER (PARTITION BY wstart) AS n,
      |    log10(1.0 + 1.0 / digit) AS expected
      |  FROM a),
      |y AS (SELECT wstart, digit, n_obs,
      |    (n_obs - n * expected) * (n_obs - n * expected)
      |      / (n * expected) AS contrib
      |  FROM x)
      |SELECT wstart, digit, n_obs,
      |  CAST(SUM(contrib) OVER (PARTITION BY wstart) AS REAL) AS chi2
      |FROM y""".stripMargin

  private def streamCmsTopkQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts_ts", Tables.tsTimestamp(schema))
    val cms = udaf(new operators.Sketches.CmsAgg(4, 1024))
    val agg = stream.withWatermark("ts_ts", "12 hours")
      .groupBy(window(col("ts_ts"), "6 hours"))
      .agg(cms(col("user_id")).as("grid"))
    val name = "stream_cms_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val est = udf((grid: Seq[Long], u: Long) =>
      operators.Sketches.cmsQuery(grid, 4, 1024, u))
    s.table(name)
      .select(col("window.start").cast("long").as("wstart"), col("grid"),
        explode(lit((0L until 10L).toArray)).as("probe_user"))
      .select(col("wstart"), col("probe_user"),
        est(col("grid"), col("probe_user")).as("cms_est"))
  }

  private lazy val streamCmsTopkSql = {
    val seeds = operators.Sketches.cmsRowSeeds(4)
    def su(i: Int) = java.lang.Long.toUnsignedString(seeds(i))
    val zExpr = s"xor(u::HUGEINT, CASE r WHEN 0 THEN ${su(0)}::HUGEINT " +
      s"WHEN 1 THEN ${su(1)}::HUGEINT WHEN 2 THEN ${su(2)}::HUGEINT " +
      s"ELSE ${su(3)}::HUGEINT END)"
    s"""WITH ev AS (
       |  SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS wstart,
       |         user_id AS u
       |  FROM events),
       |uc AS (SELECT wstart, u, count(*) AS c FROM ev GROUP BY 1, 2),
       |rr AS (SELECT wstart, u, c, unnest([0, 1, 2, 3]) AS r FROM uc),
       |${mix64Ctes("sc", "rr", Seq("wstart", "u", "c", "r"), zExpr)},
       |tb AS (SELECT wstart, u, c, r, z % 1024 AS bucket FROM sc6),
       |bs AS (SELECT wstart, r, bucket, sum(c) AS bsum FROM tb GROUP BY 1, 2, 3),
       |probes AS (
       |  SELECT wstart, probe_user
       |  FROM (SELECT DISTINCT wstart FROM ev),
       |       (SELECT unnest(range(0, 10)) AS probe_user)),
       |pr AS (SELECT wstart, probe_user, probe_user AS u,
       |              unnest([0, 1, 2, 3]) AS r
       |       FROM probes),
       |${mix64Ctes("sp", "pr", Seq("wstart", "probe_user", "r"), zExpr)},
       |pb AS (SELECT wstart, probe_user, r, z % 1024 AS bucket FROM sp6)
       |SELECT pb.wstart, pb.probe_user,
       |  CAST(min(coalesce(bs.bsum, 0)) AS BIGINT) AS cms_est
       |FROM pb LEFT JOIN bs
       |  ON bs.wstart = pb.wstart AND bs.r = pb.r AND bs.bucket = pb.bucket
       |GROUP BY 1, 2""".stripMargin
  }

  /** Stream-stream time-bounded join as a REAL streaming query: view →
    * click attribution on user_id within 1 hour, both sides watermarked
    * (state engine-evicted at watermark+bound), inner join in append
    * mode — the canonical impression×click pipeline shape. Oracle: the
    * plain batch time-bounded join. */
  private def streamStreamJoinQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    def src = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts_ts", Tables.tsTimestamp(schema))
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("l_id"), col("user_id").as("key"),
        col("ts_ts").as("l_ts"))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("r_id"), col("user_id").as("key"),
        col("ts_ts").as("r_ts"))
    val joined = streaming.EventStream.timeBoundedJoin(views, clicks,
      bound = "1 hour", watermark = "12 hours")
    val name = "stream_stream_join_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name).select(col("l_id").as("view_id"), col("r_id").as("click_id"),
      col("lag_us"))
  }

  private val streamStreamJoinSql =
    """SELECT a.event_id AS view_id, b.event_id AS click_id,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
      |FROM events a JOIN events b ON a.user_id = b.user_id
      |WHERE a.event_type = 'view' AND b.event_type = 'click'
      |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR""".stripMargin

  /** Gap-based session windows as a REAL streaming query (file source →
    * stateful session_window agg → memory sink); oracle re-derives the
    * sessions with gaps-and-islands SQL (new session when the gap to the
    * previous event STRICTLY exceeds 30 min — session_window merges
    * touching windows). */
  private def streamSessionAggQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts_ts", Tables.tsTimestamp(schema))
    val agg = streaming.EventStream.sessionCounts(
      stream, "ts_ts", "user_id", gap = "30 minutes", watermark = "12 hours")
    val name = "stream_session_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
      .select(col("user_id"), unix_micros(col("session_window.start")).as("session_start"),
        // float4, not round(6): per-session unordered double sums — the
        // REAL-over-round rule (the stream_window_agg remedy)
        col("n"), col("sum_value").cast("float").as("sum_value"))
  }

  private val streamSessionAggSql =
    """WITH o AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
      |m AS (SELECT *, CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000000
      |       THEN 1 ELSE 0 END AS new_s FROM o),
      |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      |SELECT user_id, min(t) AS session_start, count(*) AS n,
      |       CAST(sum(value) AS REAL) AS sum_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** Streaming quota admission via flatMapGroupsWithState (custom
    * GroupState carrying per-tenant cumulative counts across batches);
    * which boundary rows are admitted is engine order, but per-tenant
    * admitted counts are exactly min(total, cap) — the oracle. */
  private def streamQuotaQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .select((col("user_id") % 7).cast("string").as("tenant"), col("event_id"))
    val admitted = streaming.StreamQuota.admit(stream, "tenant", "event_id", maxRows = 1200)
      .toDF("tenant", "id", "admitted")
    val name = "stream_quota_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = admitted.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name).groupBy("tenant")
      .agg(sum(when(col("admitted"), 1L).otherwise(0L)).as("admitted_n"),
        count(lit(1)).as("total_n"))
  }

  private val streamQuotaSql =
    """SELECT CAST(user_id % 7 AS VARCHAR) AS tenant,
      |  least(count(*), 1200) AS admitted_n, count(*) AS total_n
      |FROM events GROUP BY 1""".stripMargin

  /** Dedup-at-ingest as a REAL streaming query: file source →
    * stateful dropDuplicates → memory sink; global exact dedup (the
    * watermark-bounded variant is the production state-cap knob). */
  private def streamDedupQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val deduped = streaming.StreamDedup.dedupKeys(stream, Seq("event_type", "props"))
    val name = "stream_dedup_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name).select(col("event_type"), col("props"))
  }

  private val streamDedupSql =
    "SELECT DISTINCT event_type, props FROM events"

  /** Near-dup dedup AT INGEST as a REAL streaming query: file source
    * over documents → per-row 64-bit SimHash (the locality fingerprint —
    * docs with identical tf-weighted token profiles collide) → stateful
    * dropDuplicates keyed on the signature halves → memory sink. The
    * state store holds 8 bytes per distinct signature — the bounded-state
    * ingestion shape; batch parity (DISTINCT over the re-derived
    * signatures, the `simhash_pairs` CTE chain) is the oracle. */
  private def streamNeardupQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val simUdf = udf((t: String) => operators.Dedup.simhash(t))
    val sigs = stream
      .filter(lower(col("text")).rlike("[a-z0-9]"))
      .select(simUdf(col("text")).as("sig"))
      .select(shiftrightunsigned(col("sig"), 32).as("hi"),
        col("sig").bitwiseAND(lit(0xFFFFFFFFL)).as("lo"))
    val deduped = streaming.StreamDedup.dedupKeys(sigs, Seq("hi", "lo"))
    val name = "stream_neardup_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name).select(col("hi"), col("lo"))
  }

  private lazy val streamNeardupSql =
    s"""WITH tf AS (
       |  SELECT doc_id, t AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |        FROM documents WHERE regexp_matches(lower(text), '[a-z0-9]'))
       |  GROUP BY 1, 2),
       |th AS (
       |  SELECT doc_id, term, tf,
       |    ${djb2Fold(sqlBytesOf("term"))} AS u1,
       |    ${djb2Fold(sqlBytesOf("reverse(term)"))} AS u2
       |  FROM tf),
       |w AS (
       |  SELECT doc_id, bb.b,
       |    sum(tf * (2 * ((CASE WHEN bb.b < 32 THEN u2 >> bb.b
       |                         ELSE u1 >> (bb.b - 32) END) & 1) - 1)) AS wt
       |  FROM th, (SELECT unnest(range(0, 64)) AS b) bb
       |  GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN wt > 0 AND b < 32 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS lo,
       |    sum(CASE WHEN wt > 0 AND b >= 32 THEN CAST(1 AS BIGINT) << (b - 32) ELSE 0 END) AS hi
       |  FROM w GROUP BY 1)
       |SELECT DISTINCT CAST(hi AS BIGINT) AS hi, CAST(lo AS BIGINT) AS lo
       |FROM sig""".stripMargin

  /** Snapshot diff, FULL oracle — the audit face of the versioned
    * catalog (`snapshot`/`timeTravel`): old = the documents table, new =
    * the same table with every 17th doc removed, every 13th doc's text
    * revised, and 15 fresh ids appended; one row per touched id with
    * status added/removed/changed. Spark ships (id, xxhash64) through
    * the full-outer join — unchanged rows never leave it. */
  private def datasetDiffQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents").select(col("doc_id"), col("text"))
    val newV = docs.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") < 15)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
    operators.DataManagement.snapshotDiff(docs, newV, "doc_id", "text")
  }

  private val datasetDiffSql =
    """WITH oldv AS (SELECT doc_id, text FROM documents),
      |newv AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 17 <> 0
      |  UNION ALL
      |  SELECT doc_id + 500000, text FROM documents WHERE doc_id < 15)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       ELSE 'changed' END AS status
      |FROM oldv o FULL OUTER JOIN newv n ON n.doc_id = o.doc_id
      |WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.text <> n.text""".stripMargin

  /** Curation-at-ingest as a REAL streaming query: file source over the
    * documents table → per-row repetition/PII/decontamination features →
    * memory sink. The benchmark gram set is driver-collected and
    * broadcast (eval suites are small by construction — same trade as
    * centroids/codebooks), so the stream stays a stateless map: no
    * watermark, no state store, append mode — the shape that ingests
    * 100 TB/day without rebalancing. Batch/stream parity is the oracle:
    * AvailableNow over the same file must equal the batch CTEs. */
  private def streamCurationQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val benchGrams = Tables.read(s, dir, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(explode(operators.Dedup.wordNgrams(col("text"), 8)).as("gram"))
      .distinct().collect().map(_.getString(0)).toSet
    val bc = s.sparkContext.broadcast(benchGrams)
    val matchedUdf = udf((grams: Seq[String]) =>
      if (grams == null) 0L else grams.count(bc.value.contains).toLong)
    val contact = concat(col("text"),
      lit(" contact: user"), col("doc_id").cast("string"),
      lit("@example.com tel +1202555"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))
    val scrubbed = functions.TextAnalysis.Pii.scrub(contact).toMap.apply("scrubbed")
    val rep = functions.TextAnalysis.repetitionUdf(col("text"))
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .withColumn("matched_ngrams",
        matchedUdf(operators.Dedup.wordNgrams(col("text"), 8)))
      .select(col("doc_id"),
        rep.getField("n2grams").as("n_2grams"),
        col("matched_ngrams"),
        (col("matched_ngrams") > 0).as("contaminated"),
        length(scrubbed).as("scrubbed_chars"))
    val name = "stream_curation_sink"
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
  }

  private val streamCurationSql =
    """WITH wd AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text,
      |      '[ ' || chr(9) || chr(10) || chr(13) || ']+'), w -> w <> '') AS ws
      |  FROM documents),
      |tg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS g
      |  FROM wd WHERE len(ws) >= 2),
      |g2 AS (SELECT doc_id, CAST(count(*) AS INT) AS n_2grams
      |       FROM tg GROUP BY doc_id),
      |dg AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(ws) - 6),
      |    i -> array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 7), ' ')))) AS gram
      |  FROM wd WHERE len(ws) >= 8),
      |bg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 50 = 0),
      |m AS (SELECT dg.doc_id, count(*) AS matched
      |      FROM dg JOIN bg ON bg.gram = dg.gram GROUP BY dg.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(g2.n_2grams, 0) AS INT) AS n_2grams,
      |  CAST(coalesce(m.matched, 0) AS BIGINT) AS matched_ngrams,
      |  coalesce(m.matched, 0) > 0 AS contaminated,
      |  CAST(length(regexp_replace(regexp_replace(regexp_replace(
      |    d.text || ' contact: user' || CAST(d.doc_id AS VARCHAR)
      |         || '@example.com tel +1202555'
      |         || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0')
      |         || ' host 10.0.' || CAST(d.doc_id % 256 AS VARCHAR) || '.1',
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
      |    '\+[0-9]{7,15}', '[PHONE]', 'g')) AS INT) AS scrubbed_chars
      |FROM documents d
      |LEFT JOIN g2 ON g2.doc_id = d.doc_id
      |LEFT JOIN m ON m.doc_id = d.doc_id""".stripMargin

  /** Deterministic 20% content-hash sample — the md5-prefix rule renders
    * identically in DuckDB, so the EXACT membership is the oracle, not
    * just the rate. */
  private def hashSampleQ(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.hashSample(Tables.read(s, dir, "events"), "event_id", 0.2)
      .select(col("event_id"), col("event_type"))

  private val hashSampleSql =
    """SELECT event_id, event_type FROM events
      |WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 8) < '33333333'""".stripMargin

  /** Domain-weighted mixture (operators.Sampling.mixtureSample): view
    * downsampled to 0.25, click upsampled 2.5x (2 whole copies + a
    * hash-kept half copy), purchase kept whole, signup weight 0,
    * error absent — the training-feed data-mixture step. Thresholds are
    * hexThreshold(frac): 0.25 -> 40000000, 0.5 -> 80000000. */
  private def mixtureSampleQ(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.mixtureSample(Tables.read(s, dir, "events"),
        "event_type", "event_id",
        Map("view" -> 0.25, "click" -> 2.5, "purchase" -> 1.0, "signup" -> 0.0))
      .select(col("event_id"), col("event_type"), col("rep"))

  private val mixtureSampleSql =
    """WITH spec(event_type, whole, fth) AS (
      |  VALUES ('view', 0, '40000000'), ('click', 2, '80000000'),
      |         ('purchase', 1, '00000000'), ('signup', 0, '00000000')),
      |r AS (SELECT e.event_id, e.event_type, s.whole, s.fth, g.rep
      |      FROM events e JOIN spec s USING (event_type)
      |      CROSS JOIN LATERAL (SELECT unnest(range(0, s.whole + 1)) AS rep) g)
      |SELECT event_id, event_type, rep FROM r
      |WHERE rep < whole
      |   OR substr(md5(CAST(event_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)), 1, 8) < fth""".stripMargin

  /** Stratified draw: exactly 10 rows per event_type in md5-hash order
    * (deterministic, engine-portable). */
  private def stratifiedSampleQ(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.stratifiedTake(Tables.read(s, dir, "events"),
        Seq("event_type"), "event_id", n = 10)
      .select(col("event_type"), col("event_id"))

  private val stratifiedSampleSql =
    """SELECT event_type, event_id FROM (
      |  SELECT event_type, event_id,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY substr(md5(CAST(event_id AS VARCHAR)), 1, 8), event_id) AS rn
      |  FROM events) WHERE rn <= 10""".stripMargin

  /** Temperature-scaled (τ = 1/2) mixture quotas + exact per-domain
    * draw, FULL oracle (`Sampling.temperatureMixture`): the
    * multi-corpus rebalancing step — √-scaled domain weights, integer
    * largest-remainder apportionment summing exactly to the budget,
    * md5-hash-order selection. The only float is IEEE sqrt of an exact
    * double (correctly rounded, engine-identical); id_sum pins the
    * exact selected MEMBERSHIP, not just the counts. */
  private def temperatureMixtureQ(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.temperatureMixture(
      Tables.read(s, dir, "documents"), "lang", "doc_id", budget = 200L)

  private val temperatureMixtureSql =
    """WITH c AS (SELECT lang AS domain, count(*) AS n FROM documents GROUP BY 1),
      |s AS (SELECT domain, n,
      |        CAST(floor(sqrt(CAST(n * 1048576 AS DOUBLE))) AS BIGINT) AS sd
      |      FROM c),
      |t AS (SELECT domain, n, sd, sum(sd) OVER () AS den FROM s),
      |q AS (SELECT domain, n, sd, (200 * sd) // den AS base,
      |        (200 * sd) % den AS rem FROM t),
      |a AS (SELECT *, row_number() OVER (ORDER BY rem DESC, domain) AS rk,
      |        200 - sum(base) OVER () AS leftover FROM q),
      |quota AS (SELECT domain, n, sd,
      |        base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota FROM a),
      |sel AS (SELECT lang AS domain, doc_id,
      |        row_number() OVER (PARTITION BY lang
      |          ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
      |        FROM documents)
      |SELECT q.domain AS lang, CAST(q.n AS BIGINT) AS n_docs,
      |  CAST(q.sd AS BIGINT) AS s_d, CAST(q.quota AS BIGINT) AS quota,
      |  CAST(count(s.doc_id) AS BIGINT) AS n_sel,
      |  CAST(coalesce(sum(s.doc_id), 0) AS BIGINT) AS id_sum
      |FROM quota q LEFT JOIN sel s ON s.domain = q.domain AND s.rn <= q.quota
      |GROUP BY 1, 2, 3, 4""".stripMargin

  /** Salted join on a pathologically skewed key (event_type: 5 values
    * over the whole table — a single key bigger than any task at scale).
    * Results must equal the plain join exactly; the salt only reshapes
    * the shuffle. */
  private def skewSaltedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
    val dim = ev.groupBy("event_type").agg(round(avg("value"), 6).as("type_avg"))
    operators.Skew.saltedJoin(
        ev.select(col("event_id"), col("event_type"), col("value")),
        dim, "event_type", saltFactor = 8)
      .select(col("event_id"), col("event_type"), col("type_avg"))
  }

  private val skewSaltedJoinSql =
    """WITH d AS (SELECT event_type, round(avg(value), 6) AS type_avg
      |           FROM events GROUP BY 1)
      |SELECT e.event_id, e.event_type, d.type_avg
      |FROM events e JOIN d USING (event_type)""".stripMargin

  /** End-to-end curation pipeline — the composition a training-data feed
    * runs: language-ID + quality gate → exact dedup (min-id keeper) →
    * token accounting. Every stage is an already-verified operator; this
    * query verifies they compose. */
  private def curationPipelineQ(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        functions.TextAnalysis.langIdUdf(col("text")).as("lang_guess"),
        round(functions.TextAnalysis.qualityUdf(col("text")), 6).as("quality"))
      .filter(col("quality") >= 0.75 && col("lang_guess") === "en")
    operators.Dedup.exactDedup(scored, "doc_id", "text")
      .select(col("doc_id"),
        functions.TextAnalysis.bpeTokenCountUdf(col("text")).as("bpe_tokens"),
        col("quality"))
  }

  private lazy val curationPipelineSql =
    s"""WITH lq AS ($langQualitySql),
       |kept AS (
       |  SELECT d.doc_id, d.text, lq.quality,
       |    row_number() OVER (PARTITION BY d.text ORDER BY d.doc_id) AS rn
       |  FROM documents d JOIN lq ON lq.doc_id = d.doc_id
       |  WHERE lq.quality >= 0.75 AND lq.lang_guess = 'en')
       |SELECT doc_id,
       |  CAST(coalesce(list_sum(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
       |         w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
       |    + len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INT) AS bpe_tokens,
       |  quality
       |FROM kept WHERE rn = 1""".stripMargin

  /** End-to-end curation pipeline v2 — the round-8 curation operators
    * composed under ONE oracle: repetition gate (modal word-2-gram under
    * 20% of all 2-grams AND at least 10 2-grams — integer comparisons,
    * no float thresholds) → eval-set decontamination drop (benchmark =
    * every 50th doc of the FULL corpus, the eval suite being external
    * and fixed) → PII scrub of the planted contact line → BPE token
    * accounting over the redacted text. Every stage is an
    * already-oracled operator; this verifies they compose. */
  private def curationPipeline2Q(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val rep = functions.TextAnalysis.repetitionUdf(col("text"))
    val gated = docs
      .withColumn("n_2grams", rep.getField("n2grams"))
      .withColumn("top_2gram_count", rep.getField("top2gramCount"))
      .filter(col("top_2gram_count") * 5 <= col("n_2grams") &&
        col("n_2grams") >= 10)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val clean = gated.join(
      operators.Dedup.decontaminate(docs, bench, "doc_id", "text", n = 8)
        .filter(!col("contaminated")).select("doc_id"),
      "doc_id")
    val contact = concat(col("text"),
      lit(" contact: user"), col("doc_id").cast("string"),
      lit("@example.com tel +1202555"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))
    val scrubbed = functions.TextAnalysis.Pii.scrub(contact)
      .toMap.apply("scrubbed")
    clean.select(col("doc_id"), col("n_2grams"), col("top_2gram_count"),
      functions.TextAnalysis.bpeTokenCountUdf(scrubbed).as("bpe_tokens"),
      length(scrubbed).as("scrubbed_chars"))
  }

  private val curationPipeline2Sql =
    """WITH wd AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text,
      |      '[ ' || chr(9) || chr(10) || chr(13) || ']+'), w -> w <> '') AS ws
      |  FROM documents),
      |tg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS g
      |  FROM wd WHERE len(ws) >= 2),
      |gg AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g),
      |g2 AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_2grams,
      |              CAST(max(c) AS INT) AS top_2gram_count
      |       FROM gg GROUP BY doc_id),
      |dg AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(ws) - 6),
      |    i -> array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 7), ' ')))) AS gram
      |  FROM wd WHERE len(ws) >= 8),
      |bg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 50 = 0),
      |m AS (SELECT dg.doc_id, count(*) AS matched
      |      FROM dg JOIN bg ON bg.gram = dg.gram GROUP BY dg.doc_id),
      |surv AS (
      |  SELECT g2.doc_id, g2.n_2grams, g2.top_2gram_count, d.text
      |  FROM g2 JOIN documents d ON d.doc_id = g2.doc_id
      |  LEFT JOIN m ON m.doc_id = g2.doc_id
      |  WHERE g2.top_2gram_count * 5 <= g2.n_2grams AND g2.n_2grams >= 10
      |    AND coalesce(m.matched, 0) = 0),
      |scrub AS (
      |  SELECT doc_id, n_2grams, top_2gram_count,
      |    regexp_replace(regexp_replace(regexp_replace(
      |      text || ' contact: user' || CAST(doc_id AS VARCHAR)
      |           || '@example.com tel +1202555'
      |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |           || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1',
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
      |      '\+[0-9]{7,15}', '[PHONE]', 'g') AS scrubbed
      |  FROM surv)
      |SELECT doc_id, n_2grams, top_2gram_count,
      |  CAST(coalesce(list_sum(list_transform(regexp_extract_all(scrubbed, '[A-Za-z0-9]+'),
      |         w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
      |    + len(regexp_extract_all(scrubbed, '[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens,
      |  CAST(length(scrubbed) AS INT) AS scrubbed_chars
      |FROM scrub""".stripMargin

  /** Corpus-level boilerplate removal (Dedup.lineDedup): lines appearing
    * verbatim in ≥3 distinct documents are dropped, per-doc text
    * rebuilt in line order. The single-line fixture docs get two planted
    * boilerplate lines (removed everywhere) and one unique Ref line
    * (kept) — the RefinedWeb/C4 line-dedup rule, exercised end to end
    * including the text rebuild under the hash. */
  private def lineDedupQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          lit("\nSubscribe to our newsletter today"),
          lit("\nAll rights reserved"),
          lit("\nRef "), col("doc_id").cast("string")).as("t"))
    operators.Dedup.lineDedup(docs, "doc_id", "t", minDocs = 3)
  }

  private val lineDedupSql =
    """WITH d2 AS (
      |  SELECT doc_id, text || chr(10) || 'Subscribe to our newsletter today'
      |       || chr(10) || 'All rights reserved'
      |       || chr(10) || 'Ref ' || CAST(doc_id AS VARCHAR) AS t
      |  FROM documents),
      |l AS (
      |  SELECT s.doc_id, g.i - 1 AS idx, s.ls[g.i] AS line
      |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d2) s
      |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(s.ls) + 1)) AS i) g),
      |f AS (SELECT line, count(DISTINCT doc_id) AS dfq FROM l GROUP BY 1)
      |SELECT l.doc_id,
      |  coalesce(array_to_string(list(l.line ORDER BY l.idx) FILTER (WHERE f.dfq < 3), chr(10)), '') AS clean_text,
      |  CAST(count(*) FILTER (WHERE f.dfq >= 3) AS BIGINT) AS removed_lines,
      |  CAST(count(*) AS BIGINT) AS total_lines
      |FROM l JOIN f USING (line)
      |GROUP BY l.doc_id""".stripMargin

  /** Duplicated-span removal (Dedup.spanDedup): word-8-grams verbatim in
    * ≥2 distinct docs are cut from every doc, text rebuilt in token
    * order — the distributed stand-in for Lee et al.'s suffix-array
    * substring dedup. Exact-integer + string outputs; the oracle replays
    * gram extraction, flagging, coverage and the ordered rebuild. */
  private def spanDedupQ(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.spanDedup(Tables.read(s, dir, "documents"), "doc_id", "text",
      n = 8, minDocs = 2)

  /** The 100×-scale dial of `span_dedup`: the gram shuffle carries
    * 8-byte xxhash64 keys instead of ~8-word strings. Output-identical
    * to its oracle sibling modulo 2⁻⁶⁴ collisions (SpanDedupSpec pins
    * equality on real data); rows-only face, timed in the headline
    * bench as the plan one would actually run. */
  private def spanDedupHashed(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.spanDedup(Tables.read(s, dir, "documents"), "doc_id", "text",
      n = 8, minDocs = 2, hashGrams = true)

  private val spanDedupSql =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
      |g AS MATERIALIZED (
      |  SELECT t.doc_id, r.i AS pos, array_to_string(t.ts[r.i + 1:r.i + 8], ' ') AS gram
      |  FROM toks t CROSS JOIN LATERAL
      |    (SELECT unnest(range(0, len(t.ts) - 7)) AS i) r
      |  WHERE len(t.ts) >= 8),
      |f AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |cov AS (
      |  SELECT DISTINCT g.doc_id, g.pos + r.d AS p
      |  FROM g JOIN f USING (gram) CROSS JOIN range(0, 8) r(d)),
      |tp AS (
      |  SELECT t.doc_id, r.i AS p, t.ts[r.i + 1] AS tok
      |  FROM toks t CROSS JOIN LATERAL (SELECT unnest(range(0, len(t.ts))) AS i) r),
      |reb AS (
      |  SELECT tp.doc_id,
      |    coalesce(array_to_string(list(tp.tok ORDER BY tp.p)
      |      FILTER (WHERE cov.p IS NULL), ' '), '') AS clean_text,
      |    CAST(count(cov.p) AS BIGINT) AS removed_tokens,
      |    CAST(count(*) AS BIGINT) AS total_tokens
      |  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.p
      |  GROUP BY tp.doc_id)
      |SELECT d.doc_id,
      |  coalesce(r.clean_text, '') AS clean_text,
      |  coalesce(r.removed_tokens, 0) AS removed_tokens,
      |  coalesce(r.total_tokens, 0) AS total_tokens
      |FROM documents d LEFT JOIN reb r ON r.doc_id = d.doc_id""".stripMargin

  /** Classifier-based quality filtering (ml.QualityClf): logistic
    * regression over djb2-hashed bag-of-words features, full-batch GD,
    * trained against the corpus's own lang='en' labels — the
    * fastText/DCLM-style discriminative sibling of the `lm_score`
    * perplexity filter. The whole train+score chain sits under one
    * epoch-unrolled oracle; scores pass through exp (libm) so they are
    * emitted float4 on both sides.
    *
    * NOTE on the label: the driver's synthetic corpus draws every lang's
    * text from the SAME vocabulary, so `lang='en'` is genuinely
    * unlearnable here and the trained separation is ≈0 BY CONSTRUCTION —
    * the oracle pins the 24-epoch training algebra, not model quality.
    * `QualityClfSpec` proves the trainer separates classes (accuracy
    * 1.0) on a fixture whose classes use disjoint vocabularies. */
  private def qualityClfQ(s: SparkSession, dir: String): DataFrame =
    ml.QualityClf.trainScore(Tables.read(s, dir, "documents"), "doc_id", "text",
      (col("lang") === "en"), d = 64, epochs = 24, lr = 8.0)

  private val qualityClfSql = ml.QualityClf.oracleSql(
    "documents", "doc_id", "text", "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
    d = 64, epochs = 24, lr = 8.0)

  /** n-gram LM perplexity filter (operators.LmFilter): add-0.5-smoothed
    * bigram LM trained ON the corpus, each doc scored by the mean log
    * probability of its bigram occurrences — the CCNet-style
    * model-based quality stage. Counts are exact integers; ln is libm
    * and the mean an unordered sum, so avg_logp is emitted float4 on
    * both sides per the REAL convention. */
  private def lmScoreQ(s: SparkSession, dir: String): DataFrame =
    operators.LmFilter.scoreCorpus(
        Tables.read(s, dir, "documents"), "doc_id", "text", k = 0.5)
      .select(col("doc_id"), col("n_bigrams"),
        col("avg_logp").cast("float").as("avg_logp"))

  /** Kneser-Ney-smoothed LM scoring, FULL oracle — same corpus-trained
    * setup as `lm_score` but with the KenLM-convention smoothing
    * (absolute discount d=0.75 + continuation-probability backoff).
    * The oracle derives all three marginals from the bigram table the
    * way the operator does and spells every constant as an explicit
    * DOUBLE so both engines run the identical IEEE expression; the
    * libm `ln` / unordered mean go out as REAL per the float4
    * convention. */
  private def lmScoreKnQ(s: SparkSession, dir: String): DataFrame =
    operators.LmFilter.scoreCorpusKn(
        Tables.read(s, dir, "documents"), "doc_id", "text", discount = 0.75)
      .select(col("doc_id"), col("n_bigrams"),
        col("avg_logp").cast("float").as("avg_logp"))

  private val lmScoreKnSql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
      |pairs AS (
      |  SELECT t.doc_id, t.ts[g.i] AS w1, t.ts[g.i + 1] AS w2
      |  FROM toks t CROSS JOIN LATERAL (SELECT unnest(range(1, len(t.ts))) AS i) g
      |  WHERE len(t.ts) >= 2),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
      |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1f
      |        FROM c12 GROUP BY 1),
      |cont AS (SELECT w2, count(*) AS n1b FROM c12 GROUP BY 1),
      |nb AS (SELECT count(*) AS b FROM c12),
      |sc AS (
      |  SELECT p.doc_id,
      |    ln((c12.c12 - CAST(0.75 AS DOUBLE)) / ctx.c1
      |       + CAST(0.75 AS DOUBLE) * ctx.n1f / ctx.c1
      |         * (cont.n1b / CAST(nb.b AS DOUBLE))) AS logp
      |  FROM pairs p JOIN c12 USING (w1, w2) JOIN ctx USING (w1)
      |       JOIN cont USING (w2), nb),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |               avg(logp) AS al
      |        FROM sc GROUP BY 1)
      |SELECT d.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
      |       CAST(agg.al AS REAL) AS avg_logp
      |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin

  private val lmScoreSql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
      |pairs AS (
      |  SELECT t.doc_id, t.ts[g.i] AS w1, t.ts[g.i + 1] AS w2
      |  FROM toks t CROSS JOIN LATERAL (SELECT unnest(range(1, len(t.ts))) AS i) g
      |  WHERE len(t.ts) >= 2),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS vs
      |      FROM (SELECT unnest(ts) AS w FROM toks)),
      |sc AS (
      |  SELECT p.doc_id, ln((c12.c12 + 0.5) / (c1.c1 + 0.5 * v.vs)) AS logp
      |  FROM pairs p JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |               avg(logp) AS al
      |        FROM sc GROUP BY 1)
      |SELECT d.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
      |       CAST(agg.al AS REAL) AS avg_logp
      |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin

  /** End-to-end training-feed assembly — the round-10 curation operators
    * composed under ONE oracle: boilerplate line removal (corpus-global
    * frequency) → language-weighted mixture (en 1.0 identity, de 2.5×
    * upsample, fr 0.5 / es 0.25 downsample, zh dropped) → BPE token
    * accounting over the CLEANED text → sequence packing (budget 512,
    * seed 7) of the mixed copies onto the global token axis. Copy
    * identity rides pack key `doc_id*4 + rep` (rep < 4 by the weight
    * spec), recovered in the output. Every stage is an already-oracled
    * operator; this verifies the full feed composes, token axis and all. */
  private def trainingFeedQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val planted = docs.select(col("doc_id"),
      concat(col("text"),
        lit("\nSubscribe to our newsletter today"),
        lit("\nAll rights reserved"),
        lit("\nRef "), col("doc_id").cast("string")).as("t"))
    val cleaned = operators.Dedup.lineDedup(planted, "doc_id", "t", minDocs = 3)
    val withLang = cleaned.join(docs.select("doc_id", "lang"), "doc_id")
    val mixed = operators.Sampling.mixtureSample(withLang, "lang", "doc_id",
      Map("en" -> 1.0, "de" -> 2.5, "fr" -> 0.5, "es" -> 0.25))
    val toks = mixed.select(
      (col("doc_id") * 4 + col("rep")).as("pid"),
      functions.TextAnalysis.bpeTokenCountUdf(col("clean_text")).as("toks"))
    operators.Packing.packSequences(toks, "pid", "toks", budget = 512L, seed = 7L)
      .select(expr("pid div 4").as("doc_id"), (col("pid") % 4).as("rep"),
        col("tokens"), col("start_pos"), col("first_seq"), col("last_seq"))
  }

  private lazy val trainingFeedSql =
    s"""WITH d2 AS (
       |  SELECT doc_id, text || chr(10) || 'Subscribe to our newsletter today'
       |       || chr(10) || 'All rights reserved'
       |       || chr(10) || 'Ref ' || CAST(doc_id AS VARCHAR) AS t
       |  FROM documents),
       |l AS (
       |  SELECT s.doc_id, g.i - 1 AS idx, s.ls[g.i] AS line
       |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d2) s
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(s.ls) + 1)) AS i) g),
       |f AS (SELECT line, count(DISTINCT doc_id) AS dfq FROM l GROUP BY 1),
       |clean AS (
       |  SELECT l.doc_id,
       |    coalesce(array_to_string(list(l.line ORDER BY l.idx) FILTER (WHERE f.dfq < 3), chr(10)), '') AS clean_text
       |  FROM l JOIN f USING (line) GROUP BY l.doc_id),
       |spec(lang, whole, fth) AS (
       |  VALUES ('en', 1, '00000000'), ('de', 2, '80000000'),
       |         ('fr', 0, '80000000'), ('es', 0, '40000000')),
       |mix AS (
       |  SELECT c.doc_id, g.rep
       |  FROM clean c JOIN documents d USING (doc_id) JOIN spec s ON s.lang = d.lang
       |  CROSS JOIN LATERAL (SELECT unnest(range(0, s.whole + 1)) AS rep) g
       |  WHERE g.rep < s.whole
       |     OR substr(md5(CAST(c.doc_id AS VARCHAR) || ':' || CAST(g.rep AS VARCHAR)), 1, 8) < s.fth),
       |tokd AS (
       |  SELECT m.doc_id * 4 + m.rep AS pid,
       |    CAST(coalesce(list_sum(list_transform(regexp_extract_all(c.clean_text, '[A-Za-z0-9]+'),
       |           w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
       |      + len(regexp_extract_all(c.clean_text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS tok
       |  FROM mix m JOIN clean c USING (doc_id)),
       |${mix64Ctes("tf", "tokd", Seq("pid", "tok"), "pid + 7")},
       |ordx AS (
       |  SELECT pid, tok,
       |    CAST(z - CASE WHEN z >= 9223372036854775808::HUGEINT
       |              THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
       |         AS BIGINT) AS ord
       |  FROM tf6 WHERE tok > 0),
       |cc AS (
       |  SELECT pid, tok, sum(tok) OVER (
       |    ORDER BY ord, pid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM ordx)
       |SELECT pid // 4 AS doc_id, pid % 4 AS rep, tok AS tokens,
       |  CAST(cum - tok AS BIGINT) AS start_pos,
       |  CAST((cum - tok) // 512 AS BIGINT) AS first_seq,
       |  CAST((cum - 1) // 512 AS BIGINT) AS last_seq
       |FROM cc""".stripMargin

  /** Sequence packing — the concat-and-chunk layout step of a training
    * feed (operators.Packing): seeded splitmix64 shuffle order, global
    * token axis via the bucket-prefix cumsum (no single-partition
    * window), fixed-budget sequence spans. Pure integer end to end; the
    * oracle replays the order key in HUGEINT SQL (folded back to signed
    * BIGINT so both engines compare identically) and the axis as one
    * window cumsum. Budget 256, seed 2025, BPE-ish token counts. */
  private def packSequencesQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        functions.TextAnalysis.bpeTokenCountUdf(col("text")).as("toks"))
    operators.Packing.packSequences(docs, "doc_id", "toks",
      budget = 256L, seed = 2025L)
  }

  private lazy val packSequencesSql =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(coalesce(list_sum(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
       |           w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
       |      + len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS tok
       |  FROM documents),
       |${mix64Ctes("pk", "base", Seq("doc_id", "tok"), "doc_id + 2025")},
       |ordx AS (
       |  SELECT doc_id, tok,
       |    CAST(z - CASE WHEN z >= 9223372036854775808::HUGEINT
       |              THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
       |         AS BIGINT) AS ord
       |  FROM pk6 WHERE tok > 0),
       |c AS (
       |  SELECT doc_id, tok, sum(tok) OVER (
       |    ORDER BY ord, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM ordx)
       |SELECT doc_id, tok AS tokens,
       |  CAST(cum - tok AS BIGINT) AS start_pos,
       |  CAST((cum - tok) // 256 AS BIGINT) AS first_seq,
       |  CAST((cum - 1) // 256 AS BIGINT) AS last_seq,
       |  CAST((cum - 1) // 256 - (cum - tok) // 256 + 1 AS BIGINT) AS n_seqs
       |FROM c""".stripMargin

  /** As-of join: each click matched to the user's latest at-or-before
    * view (views pre-aggregated per (user, ts) for a deterministic
    * match). Oracle is DuckDB's native ASOF LEFT JOIN. */
  private def asofJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), Tables.tsUs(ev).as("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), Tables.tsUs(ev).as("ts_us"))
      .agg(max("value").as("vvalue"))
    operators.TemporalJoins.asofBackward(clicks, views, Seq("user_id"),
        "ts_us", "ts_us", Seq("vvalue"))
      .select(col("event_id"), col("user_id"),
        col("asof_ts").cast("long").as("view_ts"),
        round(col("asof_vvalue"), 6).as("view_value"))
  }

  private val asofJoinSql =
    """WITH clicks AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
      |  FROM events WHERE event_type = 'click'),
      |views AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS vvalue
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, v.ts_us AS view_ts,
      |       round(v.vvalue, 6) AS view_value
      |FROM clicks c ASOF LEFT JOIN views v
      |  ON c.user_id = v.user_id AND c.ts_us >= v.ts_us""".stripMargin

  /** Bounded range join: same-user event pairs within one hour, via
    * time-bucket blocking (never |E|²); oracle is the brute-force theta
    * join. */
  private def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    val evR = Tables.read(s, dir, "events")
    val ev = evR.select(col("event_id"), col("user_id"),
        Tables.tsUs(evR).cast("double").as("ts_us"))
    operators.TemporalJoins.rangeJoin(ev, ev, "user_id", "ts_us", "ts_us", 3.6e9)
      .filter(col("event_id") < col("r_event_id"))
      .select(col("event_id").as("a_id"), col("r_event_id").as("b_id"),
        col("ts_diff").cast("long").as("diff_us"))
  }

  private val rangeJoinSql =
    """SELECT a.event_id AS a_id, b.event_id AS b_id,
      |       epoch_us(a.ts) - epoch_us(b.ts) AS diff_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 3600000000""".stripMargin

  /** Ranged int8 codec against corpus per-dimension min/max (computed by
    * the distributed vector_min/max aggregates), code + dequantized value
    * per element; DuckDB replicates the float scaling and Java's
    * floor(x+0.5f) rounding. */
  private def quantRangedQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val mm = e.agg(
      functions.VectorAggregates.vectorMin(col("embedding")).as("mn"),
      functions.VectorAggregates.vectorMax(col("embedding")).as("mx")).head()
    val mn = mm.getSeq[Float](0).toArray
    val mx = mm.getSeq[Float](1).toArray
    val enc = udf((v: Seq[Float]) => {
      val q = functions.Quantization.rangedInt8(v.toArray, mn, mx)
      val d = functions.Quantization.rangedDequantize(q, mn, mx)
      q.indices.map(i => (q(i).toInt, d(i))).toSeq
    })
    e.select(col("vec_id"), posexplode(enc(col("embedding"))))
      .select(col("vec_id"), col("pos"), col("col._1").as("code"),
        round(col("col._2").cast("double"), 6).as("deq"))
  }

  private val quantRangedSql =
    """WITH v AS (SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |                  unnest(embedding) AS x FROM embeddings),
      |mm AS (SELECT pos, CAST(min(x) AS REAL) AS mn, CAST(max(x) AS REAL) AS mx
      |       FROM v GROUP BY pos),
      |e AS (
      |  SELECT v.vec_id, v.pos, mn, mx,
      |    CAST(mx - mn AS REAL) AS rng,
      |    CASE WHEN mx - mn <= 0 THEN 0.0 ELSE
      |      CAST(CAST(v.x - mn AS REAL) *
      |           CAST(127.0 / CAST(mx - mn AS REAL) AS REAL) AS REAL) END AS nrm
      |  FROM v JOIN mm ON mm.pos = v.pos),
      |c AS (
      |  SELECT vec_id, pos, mn, rng,
      |    CASE WHEN rng <= 0 THEN 0
      |         WHEN nrm > 127.0 THEN 127
      |         WHEN nrm < -128.0 THEN -128
      |         ELSE CAST(floor(CAST(nrm + 0.5 AS REAL)) AS INT) END AS code
      |  FROM e)
      |SELECT vec_id, pos, code,
      |  round(CAST(CAST(mn + CAST(CAST(CAST(code AS REAL) * rng AS REAL) / 127.0 AS REAL)
      |    AS REAL) AS DOUBLE), 6) AS deq
      |FROM c""".stripMargin

  /** DPO pair construction, FULL oracle — per prompt the argmax-score
    * generation becomes `chosen`, the argmin `rejected`, with
    * smallest-id tiebreaks and a strict-margin usability gate
    * (`operators/Preference.pairs`): ONE groupBy whose argmax/argmin
    * ride struct-ordered max/min — no window sort, no self-join. The
    * oracle replays via two row_number windows. */
  private def preferencePairs(s: SparkSession, dir: String): DataFrame = {
    val gens = Tables.read(s, dir, "documents")
      .select(concat(lit("p-"), col("doc_id") % 40).as("prompt"),
        col("doc_id").as("resp_id"),
        ((col("doc_id") * 37) % 101).cast("double").as("score"))
    operators.Preference.pairs(gens, "prompt", "resp_id", "score")
  }

  private val preferencePairsSql =
    """WITH r AS (
      |  SELECT 'p-' || (doc_id % 40) AS prompt, doc_id AS resp_id,
      |    CAST((doc_id * 37) % 101 AS DOUBLE) AS score
      |  FROM documents),
      |w AS (
      |  SELECT prompt, resp_id, score,
      |    row_number() OVER (PARTITION BY prompt ORDER BY score DESC, resp_id) AS rb,
      |    row_number() OVER (PARTITION BY prompt ORDER BY score ASC, resp_id) AS rw
      |  FROM r)
      |SELECT prompt, count(*) AS n_responses,
      |  max(CASE WHEN rb = 1 THEN resp_id END) AS chosen_id,
      |  max(CASE WHEN rb = 1 THEN score END) AS chosen_score,
      |  max(CASE WHEN rw = 1 THEN resp_id END) AS rejected_id,
      |  max(CASE WHEN rw = 1 THEN score END) AS rejected_score,
      |  max(CASE WHEN rb = 1 THEN score END)
      |    - max(CASE WHEN rw = 1 THEN score END) AS margin,
      |  count(*) >= 2 AND max(CASE WHEN rb = 1 THEN score END)
      |    > max(CASE WHEN rw = 1 THEN score END) AS usable
      |FROM w GROUP BY prompt""".stripMargin

  /** Bradley-Terry strength fitting, FULL oracle — pairwise outcomes
    * (8 synthetic models, winner decided by a doc_id dial) fitted with
    * three MM rounds (`operators/Preference.btStrength`): ONE groupBy
    * over the match log, then driver math on the |items|^2 win matrix.
    * The oracle unrolls the identical three rounds as CTEs; strengths
    * emit float4 (the cross-engine float convention). */
  private def btStrengthQ(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val a = concat(lit("m-"), d % 8)
    val b = concat(lit("m-"), (d * 3 + 1) % 8)
    val m = Tables.read(s, dir, "documents")
      .select(when(d % 7 < 4, a).otherwise(b).as("winner"),
        when(d % 7 < 4, b).otherwise(a).as("loser"))
    operators.Preference.btStrength(s, m, "winner", "loser", rounds = 3)
  }

  private val btStrengthSql =
    """WITH m AS (
      |  SELECT CASE WHEN doc_id % 7 < 4 THEN 'm-' || (doc_id % 8)
      |              ELSE 'm-' || ((doc_id * 3 + 1) % 8) END AS winner,
      |         CASE WHEN doc_id % 7 < 4 THEN 'm-' || ((doc_id * 3 + 1) % 8)
      |              ELSE 'm-' || (doc_id % 8) END AS loser
      |  FROM documents),
      |wl AS (SELECT winner AS a, loser AS b, count(*) AS w FROM m GROUP BY 1, 2),
      |g AS (SELECT a, b, SUM(w) AS n FROM (
      |        SELECT a, b, w FROM wl
      |        UNION ALL SELECT b AS a, a AS b, w FROM wl) t
      |      GROUP BY a, b),
      |items AS (SELECT DISTINCT a AS item FROM g),
      |wins AS (SELECT a AS item, SUM(w) AS wins FROM wl GROUP BY a),
      |games AS (SELECT a AS item, SUM(n) AS n_games FROM g GROUP BY a),
      |p0 AS (SELECT item, 1.0 / (SELECT count(*) FROM items) AS p FROM items),
      |d1 AS (SELECT g.a AS item, SUM(g.n / (pa.p + pb.p)) AS den
      |       FROM g JOIN p0 pa ON pa.item = g.a JOIN p0 pb ON pb.item = g.b
      |       GROUP BY g.a),
      |u1 AS (SELECT i.item, COALESCE(w.wins, 0) / d.den AS pu
      |       FROM items i JOIN d1 d ON d.item = i.item
      |            LEFT JOIN wins w ON w.item = i.item),
      |p1 AS (SELECT item, pu / (SELECT SUM(pu) FROM u1) AS p FROM u1),
      |d2 AS (SELECT g.a AS item, SUM(g.n / (pa.p + pb.p)) AS den
      |       FROM g JOIN p1 pa ON pa.item = g.a JOIN p1 pb ON pb.item = g.b
      |       GROUP BY g.a),
      |u2 AS (SELECT i.item, COALESCE(w.wins, 0) / d.den AS pu
      |       FROM items i JOIN d2 d ON d.item = i.item
      |            LEFT JOIN wins w ON w.item = i.item),
      |p2 AS (SELECT item, pu / (SELECT SUM(pu) FROM u2) AS p FROM u2),
      |d3 AS (SELECT g.a AS item, SUM(g.n / (pa.p + pb.p)) AS den
      |       FROM g JOIN p2 pa ON pa.item = g.a JOIN p2 pb ON pb.item = g.b
      |       GROUP BY g.a),
      |u3 AS (SELECT i.item, COALESCE(w.wins, 0) / d.den AS pu
      |       FROM items i JOIN d3 d ON d.item = i.item
      |            LEFT JOIN wins w ON w.item = i.item),
      |p3 AS (SELECT item, pu / (SELECT SUM(pu) FROM u3) AS p FROM u3)
      |SELECT i.item, CAST(COALESCE(w.wins, 0) AS BIGINT) AS n_wins,
      |  CAST(ga.n_games AS BIGINT) AS n_games, CAST(p3.p AS REAL) AS strength
      |FROM items i LEFT JOIN wins w ON w.item = i.item
      |     JOIN games ga ON ga.item = i.item
      |     JOIN p3 ON p3.item = i.item""".stripMargin

  /** Fill-in-the-middle transform, FULL oracle — REAL corpus text
    * split at two length-fraction offsets and rendered in PSM and SPM
    * sentinel orders (`operators/Fim.scala`, pure substring algebra,
    * zero UDFs, no shuffle). Oracle replays the substr arithmetic. */
  private def fimTransform(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val len = length(col("text"))
    val p1 = floor(len * (col("doc_id") % 10) / 20)
    val p2 = floor(len * (lit(10) + col("doc_id") % 10) / 20)
    operators.Fim.transform(docs, "doc_id", "text", p1, p2)
      .select(col("doc_id"), col("split_lo"), col("split_hi"),
        col("psm"), col("spm"))
  }

  private val fimTransformSql =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    CAST(floor(length(text) * (doc_id % 10) / 20) AS BIGINT) AS lo,
      |    CAST(floor(length(text) * (10 + doc_id % 10) / 20) AS BIGINT) AS hi
      |  FROM documents)
      |SELECT doc_id, lo AS split_lo, hi AS split_hi,
      |  '<|fim_pre|>' || substring(text, 1, CAST(lo AS INT)) ||
      |  '<|fim_suf|>' || substring(text, CAST(hi + 1 AS INT)) ||
      |  '<|fim_mid|>' || substring(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))
      |    AS psm,
      |  '<|fim_suf|>' || substring(text, CAST(hi + 1 AS INT)) ||
      |  '<|fim_pre|>' || substring(text, 1, CAST(lo AS INT)) ||
      |  '<|fim_mid|>' || substring(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))
      |    AS spm
      |FROM t""".stripMargin

  /** Registrable-domain extraction, FULL oracle — the Public Suffix
    * List algorithm with normal, wildcard (*.ck), and exception
    * (!www.ck) rules over six host dials, including a host that IS a
    * public suffix (`operators/Psl.scala`: broadcast rules, candidate
    * explode, equi-joins only, one groupBy on the id). The oracle
    * replays the fixture's closed form; the engine matches rules
    * generically. */
  private def registrableDomain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = Seq("com", "co.uk", "uk", "io", "github.io", "*.ck", "!www.ck")
      .toDF("rule")
    val d = col("doc_id")
    val host = when(d % 6 === 0, concat(lit("a"), d, lit(".example.com")))
      .when(d % 6 === 1, concat(lit("b.shop"), d, lit(".co.uk")))
      .when(d % 6 === 2, concat(lit("x"), d, lit(".github.io")))
      .when(d % 6 === 3, concat(lit("foo.bar"), d, lit(".ck")))
      // d % 6 == 4 forces d even, so the sub-dial must NOT key on d % 2
      // (that branch would be dead and the host-is-suffix row shape
      // never exercised) — key on (d / 6) % 2 instead
      .when(d % 6 === 4,
        when(floor(d / 6).cast("long") % 2 === 0, lit("www.ck"))
          .otherwise(lit("github.io")))
      .otherwise(concat(lit("y"), d, lit(".unknowntld")))
    val urls = Tables.read(s, dir, "documents").select(d, host.as("host"))
    operators.Psl.registrable(urls, "doc_id", "host", rules)
  }

  private val registrableDomainSql =
    """WITH h AS (SELECT doc_id, doc_id % 6 AS dial, (doc_id // 6) % 2 AS par
      |           FROM documents)
      |SELECT doc_id,
      |  CASE dial
      |    WHEN 0 THEN 'a' || doc_id || '.example.com'
      |    WHEN 1 THEN 'b.shop' || doc_id || '.co.uk'
      |    WHEN 2 THEN 'x' || doc_id || '.github.io'
      |    WHEN 3 THEN 'foo.bar' || doc_id || '.ck'
      |    WHEN 4 THEN CASE WHEN par = 0 THEN 'www.ck' ELSE 'github.io' END
      |    ELSE 'y' || doc_id || '.unknowntld' END AS host,
      |  CASE dial
      |    WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' WHEN 2 THEN 'github.io'
      |    WHEN 3 THEN 'bar' || doc_id || '.ck'
      |    WHEN 4 THEN CASE WHEN par = 0 THEN 'ck' ELSE 'github.io' END
      |    ELSE 'unknowntld' END AS public_suffix,
      |  CASE dial
      |    WHEN 0 THEN 'example.com'
      |    WHEN 1 THEN 'shop' || doc_id || '.co.uk'
      |    WHEN 2 THEN 'x' || doc_id || '.github.io'
      |    WHEN 3 THEN 'foo.bar' || doc_id || '.ck'
      |    WHEN 4 THEN CASE WHEN par = 0 THEN 'www.ck' ELSE NULL END
      |    ELSE 'y' || doc_id || '.unknowntld' END AS registrable,
      |  dial = 4 AND par = 1 AS is_public_suffix
      |FROM h""".stripMargin

  /** Tool-call trace validation, FULL oracle — the agentic-SFT shape
    * check (`operators/Chat.toolTrace`, one zero-UDF aggregate fold):
    * four conversation dials — clean single call, two parallel calls
    * both answered, a call expired by a user turn (unanswered), and a
    * tool result answering nothing (dangling). Oracle replays the
    * dial's closed form. */
  private def chatToolTrace(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    def t(role: String, content: Column, callId: Column = lit(null).cast("string")) =
      struct(lit(role).as("role"), content.as("content"), callId.as("call_id"))
    val u = t("user", concat(lit("ask "), d))
    val turns = when(d % 4 === 0, array(
        u, t("assistant", lit("use [call:a]")),
        t("tool", lit("res"), lit("a")), t("assistant", lit("done"))))
      .when(d % 4 === 1, array(
        u, t("assistant", lit("[call:x] then [call:y]")),
        t("tool", lit("rx"), lit("x")), t("tool", lit("ry"), lit("y")),
        t("assistant", lit("ok"))))
      .when(d % 4 === 2, array(
        u, t("assistant", lit("[call:p]")),
        t("user", lit("never mind")), t("assistant", lit("ok"))))
      .otherwise(array(
        u, t("tool", lit("res"), lit("z")), t("assistant", lit("?"))))
    val convs = Tables.read(s, dir, "documents")
      .select(d, to_json(turns).as("conv"))
    operators.Chat.toolTrace(convs, "doc_id", "conv")
  }

  private val chatToolTraceSql =
    """WITH t AS (SELECT doc_id, doc_id % 4 AS dial FROM documents)
      |SELECT doc_id,
      |  CAST(CASE dial WHEN 0 THEN 4 WHEN 1 THEN 5 WHEN 2 THEN 4
      |       ELSE 3 END AS BIGINT) AS n_turns,
      |  CAST(CASE dial WHEN 1 THEN 2 WHEN 2 THEN 0 ELSE 1 END AS BIGINT)
      |    AS n_tool_turns,
      |  CAST(CASE dial WHEN 1 THEN 2 WHEN 3 THEN 0 ELSE 1 END AS BIGINT)
      |    AS n_calls,
      |  CAST(CASE dial WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END AS BIGINT)
      |    AS answered,
      |  CAST(CASE dial WHEN 3 THEN 1 ELSE 0 END AS BIGINT) AS dangling,
      |  CAST(CASE dial WHEN 2 THEN 1 ELSE 0 END AS BIGINT) AS unanswered,
      |  dial IN (0, 1) AS valid
      |FROM t""".stripMargin

  /** Reward-model calibration, FULL oracle — the reliability diagram
    * (`operators/RewardStats.calibration`): scores and win labels from
    * closed-form dials, ten equal-width bins, per-bin count / mean
    * score / win rate / |gap| (the ECE contribution is gap*n/N). One
    * two-phase groupBy on the bin key; means emit float4. */
  private def rewardCalibration(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val scored = Tables.read(s, dir, "documents")
      .select((((d * 13) % 100) / 100.0).as("score"),
        when((d * 7) % 100 < (d * 13) % 100, 1.0).otherwise(0.0).as("label"))
    operators.RewardStats.calibration(scored, "score", "label", bins = 10)
  }

  private val rewardCalibrationSql =
    """WITH r AS (
      |  SELECT ((doc_id * 13) % 100) / 100.0 AS s,
      |    CASE WHEN (doc_id * 7) % 100 < (doc_id * 13) % 100
      |         THEN 1.0 ELSE 0.0 END AS y
      |  FROM documents),
      |b AS (SELECT LEAST(GREATEST(CAST(floor(s * 10) AS BIGINT), 0), 9)
      |        AS bin, s, y FROM r)
      |SELECT bin, count(*) AS n, CAST(avg(s) AS REAL) AS mean_score,
      |  CAST(avg(y) AS REAL) AS win_rate,
      |  CAST(abs(CAST(avg(s) AS REAL) - CAST(avg(y) AS REAL)) AS REAL) AS gap
      |FROM b GROUP BY bin""".stripMargin

  /** Inter-annotator agreement, FULL oracle — Cohen's kappa between
    * two raters whose labels agree on a closed-form 60% slice
    * (`operators/RewardStats.cohenKappa`): one groupBy(item) pivot,
    * one confusion-matrix aggregate, driver arithmetic on the 4x4
    * counts. The oracle replays po/pe/kappa from the same marginals;
    * rates emit float4. */
  private def annotatorKappa(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val docs = Tables.read(s, dir, "documents")
    val r1 = docs.select(d.as("item"), lit("r1").as("rater"),
      ((d * 3) % 4).cast("string").as("label"))
    val r2 = docs.select(d.as("item"), lit("r2").as("rater"),
      when(d % 5 < 3, (d * 3) % 4).otherwise((d * 7 + 1) % 4)
        .cast("string").as("label"))
    operators.RewardStats.cohenKappa(s, r1.unionAll(r2),
      "item", "rater", "label", "r1", "r2")
  }

  private val annotatorKappaSql =
    """WITH p AS (
      |  SELECT doc_id, (doc_id * 3) % 4 AS la,
      |    CASE WHEN doc_id % 5 < 3 THEN (doc_id * 3) % 4
      |         ELSE (doc_id * 7 + 1) % 4 END AS lb
      |  FROM documents),
      |a AS (SELECT count(*) AS n,
      |        SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS agree FROM p),
      |ma AS (SELECT la AS c, count(*) AS na FROM p GROUP BY la),
      |mb AS (SELECT lb AS c, count(*) AS nb FROM p GROUP BY lb),
      |e AS (SELECT SUM(na * nb) AS s FROM ma JOIN mb USING (c))
      |SELECT CAST(a.n AS BIGINT) AS n_items,
      |  CAST(a.agree * 1.0 / a.n AS REAL) AS po,
      |  CAST(e.s * 1.0 / (a.n * a.n) AS REAL) AS pe,
      |  CAST((a.agree * 1.0 / a.n - e.s * 1.0 / (a.n * a.n))
      |       / (1 - e.s * 1.0 / (a.n * a.n)) AS REAL) AS kappa
      |FROM a, e""".stripMargin

  /** ISOBMFF/MP4 container probe, FULL oracle — the metadata rung for
    * the most common video container (`operators/Mp4.scala`, ISO/IEC
    * 14496-12 box walk): per doc a muxed fixture — a video-only file
    * (avc1), an audio-only file (mp4a), or a two-track file with
    * VERSION-1 64-bit movie/media headers — probed generically for
    * duration (round-half-up ms), track count, handlers, codec
    * fourccs, dimensions, channels, and sample rate. Oracle replays
    * the dial closed form including the integer ms conversion. */
  private def mp4Probe(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => {
      val ts = 1000L + (d % 7) * 100L
      val dur = 30000L + (d % 97) * 13L
      val video = operators.Mp4.TrackSpec("vide", "avc1",
        width = 320 + (d % 5).toInt * 16, height = 240 + (d % 4).toInt * 16)
      val audio = operators.Mp4.TrackSpec("soun", "mp4a",
        channels = 1 + (d % 2).toInt,
        sampleRate = Seq(8000, 16000, 44100, 48000)((d % 4).toInt),
        language = "eng")
      val bytes = (d % 3) match {
        case 0 => operators.Mp4.encode(ts, dur, Seq(video))
        case 1 => operators.Mp4.encode(ts, dur, Seq(audio))
        case _ => operators.Mp4.encode(ts, dur, Seq(video, audio), v1 = true)
      }
      val m = operators.Mp4.probe(bytes)
        .getOrElse(sys.error(s"mp4 round-trip failed for doc $d"))
      (m.durationMs, m.tracks.length,
        m.tracks.map(_.handler).mkString(","),
        m.tracks.map(_.codec).mkString(","),
        m.tracks.map(_.width).max, m.tracks.map(_.height).max,
        m.tracks.map(_.channels).max, m.tracks.map(_.sampleRate).max,
        m.tracks.map(_.language).mkString(","))
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("duration_ms"), col("r._2").cast("long").as("n_tracks"),
        col("r._3").as("handlers"), col("r._4").as("codecs"),
        col("r._5").cast("long").as("width"), col("r._6").cast("long").as("height"),
        col("r._7").cast("long").as("channels"),
        col("r._8").cast("long").as("sample_rate"), col("r._9").as("langs"))
  }

  private val mp4ProbeSql =
    """WITH t AS (
      |  SELECT doc_id, doc_id % 3 AS dial,
      |    1000 + (doc_id % 7) * 100 AS ts,
      |    30000 + (doc_id % 97) * 13 AS dur,
      |    320 + (doc_id % 5) * 16 AS w, 240 + (doc_id % 4) * 16 AS h,
      |    1 + (doc_id % 2) AS ch,
      |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |         WHEN 2 THEN 44100 ELSE 48000 END AS sr
      |  FROM documents)
      |SELECT doc_id,
      |  (dur * 1000 + ts // 2) // ts AS duration_ms,
      |  CAST(CASE dial WHEN 2 THEN 2 ELSE 1 END AS BIGINT) AS n_tracks,
      |  CASE dial WHEN 0 THEN 'vide' WHEN 1 THEN 'soun'
      |       ELSE 'vide,soun' END AS handlers,
      |  CASE dial WHEN 0 THEN 'avc1' WHEN 1 THEN 'mp4a'
      |       ELSE 'avc1,mp4a' END AS codecs,
      |  CAST(CASE WHEN dial = 1 THEN 0 ELSE w END AS BIGINT) AS width,
      |  CAST(CASE WHEN dial = 1 THEN 0 ELSE h END AS BIGINT) AS height,
      |  CAST(CASE WHEN dial = 0 THEN 0 ELSE ch END AS BIGINT) AS channels,
      |  CAST(CASE WHEN dial = 0 THEN 0 ELSE sr END AS BIGINT) AS sample_rate,
      |  CASE dial WHEN 0 THEN 'und' WHEN 1 THEN 'eng'
      |       ELSE 'und,eng' END AS langs
      |FROM t""".stripMargin

  /** HLS playlist parse, FULL oracle — RFC 8216 media and master
    * playlists (`operators/Hls.scala`, one ordered zero-UDF fold):
    * per doc a media playlist (EXTINF/URI pairs, dyadic durations so
    * the fold's sequential adds equal the oracle's closed-form
    * product exactly), a master playlist (STREAM-INF variants with
    * arithmetic bandwidths), or a header-less invalid file. */
  private def hlsPlaylist(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val k = (d % 4 + 2).cast("int") // segments
    val v = ((d / 3) % 3 + 2).cast("int") // variants
    val durStr = when((d / 3) % 3 === 0, lit("1.0"))
      .when((d / 3) % 3 === 1, lit("1.5")).otherwise(lit("2.0"))
    val media = concat(lit("#EXTM3U\n#EXT-X-TARGETDURATION:4\n"),
      array_join(transform(sequence(lit(1), k),
        i => concat(lit("#EXTINF:"), durStr, lit(",\nseg"), i, lit(".ts"))),
        "\n"))
    val master = concat(lit("#EXTM3U\n"),
      array_join(transform(sequence(lit(1), v),
        i => concat(lit("#EXT-X-STREAM-INF:BANDWIDTH="),
          (i.cast("long") * 100000L + (d % 7) * 1000L),
          lit(",CODECS=\"avc1\"\nvar"), i, lit(".m3u8"))), "\n"))
    val text = when(d % 3 === 0, media).when(d % 3 === 1, master)
      .otherwise(lit("#EXTINFbogus\nseg.ts"))
    operators.Hls.parse(
      Tables.read(s, dir, "documents").select(d, text.as("playlist")),
      "doc_id", "playlist")
  }

  private val hlsPlaylistSql =
    """WITH t AS (
      |  SELECT doc_id, doc_id % 3 AS dial,
      |    doc_id % 4 + 2 AS k, (doc_id // 3) % 3 + 2 AS v,
      |    CAST(CASE (doc_id // 3) % 3 WHEN 0 THEN 1.0 WHEN 1 THEN 1.5
      |         ELSE 2.0 END AS DOUBLE) AS dur
      |  FROM documents)
      |SELECT doc_id,
      |  CASE dial WHEN 0 THEN 'media' WHEN 1 THEN 'master'
      |       ELSE 'invalid' END AS kind,
      |  CAST(CASE WHEN dial = 0 THEN k ELSE 0 END AS BIGINT) AS n_segments,
      |  CAST(CASE WHEN dial = 0 THEN k * dur ELSE 0.0 END AS DOUBLE)
      |    AS total_duration,
      |  CAST(CASE WHEN dial = 0 THEN 4 ELSE 0 END AS BIGINT)
      |    AS target_duration,
      |  CAST(CASE WHEN dial = 1 THEN v ELSE 0 END AS BIGINT) AS n_variants,
      |  CAST(CASE WHEN dial = 1 THEN v * 100000 + (doc_id % 7) * 1000
      |       ELSE 0 END AS BIGINT) AS max_bandwidth
      |FROM t""".stripMargin

  /** JSONL schema profile, FULL oracle — per-key presence and sniffed
    * value types over a four-key fixture feed (always-int id,
    * sometimes-present float score, bool-or-string flag,
    * null-or-string note — `operators/JsonProfile.scala`): one explode
    * + one two-phase groupBy on the key, broadcast total back. The
    * oracle replays the dial counts from the same aggregates. */
  private def jsonProfileQ(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val json = concat(lit("{\"id\":"), d,
      when(d % 2 === 0, concat(lit(",\"score\":"), d % 100, lit(".5")))
        .otherwise(lit("")),
      lit(",\"flag\":"),
      when(d % 3 === 0,
        when(d % 6 === 0, lit("true")).otherwise(lit("false")))
        .otherwise(concat(lit("\"s"), d, lit("\""))),
      lit(",\"note\":"),
      when(d % 5 === 0, lit("null"))
        .otherwise(concat(lit("\"n"), d, lit("\""))),
      lit("}"))
    operators.JsonProfile.profile(
      Tables.read(s, dir, "documents").select(json.as("j")), "j")
  }

  private val jsonProfileSql =
    """WITH s AS (SELECT count(*) AS n,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |  CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
      |  CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n5
      |  FROM documents)
      |SELECT 'id' AS key, n AS n_present,
      |  CAST(n / CAST(n AS DOUBLE) AS REAL) AS presence_pct,
      |  n AS n_int, CAST(0 AS BIGINT) AS n_float, CAST(0 AS BIGINT) AS n_bool,
      |  CAST(0 AS BIGINT) AS n_null, CAST(0 AS BIGINT) AS n_str,
      |  'int' AS dominant FROM s
      |UNION ALL SELECT 'score', n2, CAST(n2 / CAST(n AS DOUBLE) AS REAL),
      |  CAST(0 AS BIGINT), n2, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |  CAST(0 AS BIGINT), 'float' FROM s
      |UNION ALL SELECT 'flag', n, CAST(n / CAST(n AS DOUBLE) AS REAL),
      |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), n3, CAST(0 AS BIGINT),
      |  n - n3, 'str' FROM s
      |UNION ALL SELECT 'note', n, CAST(n / CAST(n AS DOUBLE) AS REAL),
      |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), n5,
      |  n - n5, 'str' FROM s""".stripMargin

  /** PSI drift, FULL oracle — population stability between an even-id
    * reference slice and an odd-id current slice whose closed-form
    * values are shifted (`operators/Drift.psi`): ten fixed-range bins,
    * Laplace-smoothed proportions, per-bin contributions
    * (pa-pb)*ln(pa/pb) emitted float4 (ln is libm). One two-phase
    * groupBy + broadcast totals; the oracle replays the identical
    * smoothing and double arithmetic. */
  private def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
    val ref = ev.filter(col("event_id") % 2 === 0)
      .select(((col("event_id") * 7) % 100).cast("double").as("x"))
    val cur = ev.filter(col("event_id") % 2 === 1)
      .select(((col("event_id") * 7 + (col("event_id") % 13) * 3) % 100)
        .cast("double").as("x"))
    operators.Drift.psi(ref, cur, "x", bins = 10, lo = 0.0, hi = 100.0)
  }

  private val psiDriftSql =
    """WITH a AS (
      |  SELECT CAST(floor(CAST((event_id * 7) % 100 AS DOUBLE) / 10.0)
      |    AS BIGINT) AS bin
      |  FROM events WHERE event_id % 2 = 0),
      |b AS (
      |  SELECT CAST(floor(CAST((event_id * 7 + (event_id % 13) * 3) % 100
      |    AS DOUBLE) / 10.0) AS BIGINT) AS bin
      |  FROM events WHERE event_id % 2 = 1),
      |c AS (
      |  SELECT bin,
      |    SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_ref,
      |    SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_cur
      |  FROM (SELECT bin, 0 AS side FROM a
      |        UNION ALL SELECT bin, 1 FROM b) u
      |  GROUP BY bin),
      |t AS (SELECT SUM(n_ref) AS ta, SUM(n_cur) AS tb FROM c),
      |p AS (SELECT bin, n_ref, n_cur,
      |        (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 5.0) AS pr,
      |        (CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 5.0) AS pc
      |      FROM c, t)
      |SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
      |  CAST(n_cur AS BIGINT) AS n_cur,
      |  CAST(pr AS REAL) AS p_ref, CAST(pc AS REAL) AS p_cur,
      |  CAST((pr - pc) * ln(pr / pc) AS REAL) AS psi_contrib
      |FROM p""".stripMargin

  /** Group-relative advantages, FULL oracle — the GRPO normalization
    * over the preference fixture (`operators/RewardStats
    * .groupAdvantage`): per prompt, (score - mean)/std from EXACT
    * n/sum/sum-of-squares (integer-valued scores), zero-clamped
    * variance, degenerate groups get zero. One two-phase groupBy +
    * broadcast join back; the oracle replays the identical
    * correctly-rounded chain, so round-6 is safe. */
  private def groupAdvantage(s: SparkSession, dir: String): DataFrame = {
    val gens = Tables.read(s, dir, "documents")
      .select(concat(lit("p-"), col("doc_id") % 40).as("prompt"),
        col("doc_id").as("resp_id"),
        ((col("doc_id") * 37) % 101).cast("double").as("score"))
    operators.RewardStats.groupAdvantage(gens, "prompt", "resp_id", "score")
  }

  private val groupAdvantageSql =
    """WITH r AS (
      |  SELECT 'p-' || (doc_id % 40) AS prompt, doc_id AS resp_id,
      |    CAST((doc_id * 37) % 101 AS DOUBLE) AS s
      |  FROM documents),
      |g AS (SELECT prompt, count(*) AS n, SUM(s) AS sm, SUM(s * s) AS sq
      |      FROM r GROUP BY prompt),
      |m AS (SELECT prompt, sm / n AS mean,
      |        sqrt(GREATEST(sq / n - (sm / n) * (sm / n), 0)) AS sd
      |      FROM g)
      |SELECT r.prompt, r.resp_id, r.s AS score,
      |  round(CASE WHEN sd > 0 THEN (r.s - mean) / sd ELSE 0.0 END, 6)
      |    AS advantage
      |FROM r JOIN m ON r.prompt = m.prompt""".stripMargin

  /** Judge-vote aggregation, FULL oracle — LLM-as-judge majority
    * labels (`operators/RewardStats.judgeVote`): three judges whose
    * labels disagree on closed-form dials (including a 1-1-1 split
    * whose tie breaks to the smallest label); modal pick rides a
    * struct-ordered min, no window sort. The oracle replays via
    * row_number. */
  private def judgeVote(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val docs = Tables.read(s, dir, "documents")
    def lab(v: Column) = concat(lit("L"), v)
    val v1 = docs.select(d.as("item"), lab(d % 3).as("label"))
    val v2 = docs.select(d.as("item"),
      lab(when(d % 4 === 0, (d + 1) % 3).otherwise(d % 3)).as("label"))
    val v3 = docs.select(d.as("item"),
      lab(when(d % 5 === 0, (d + 2) % 3).otherwise(d % 3)).as("label"))
    operators.RewardStats.judgeVote(v1.unionAll(v2).unionAll(v3),
      "item", "label")
  }

  private val judgeVoteSql =
    """WITH v AS (
      |  SELECT doc_id AS item, 'L' || (doc_id % 3) AS label FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'L' || (CASE WHEN doc_id % 4 = 0 THEN (doc_id + 1) % 3
      |                         ELSE doc_id % 3 END) FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'L' || (CASE WHEN doc_id % 5 = 0 THEN (doc_id + 2) % 3
      |                         ELSE doc_id % 3 END) FROM documents),
      |c AS (SELECT item, label, count(*) AS cnt FROM v GROUP BY 1, 2),
      |b AS (SELECT item, label, cnt,
      |        row_number() OVER (PARTITION BY item
      |                           ORDER BY cnt DESC, label) AS rn,
      |        SUM(cnt) OVER (PARTITION BY item) AS nv
      |      FROM c)
      |SELECT item, CAST(nv AS BIGINT) AS n_votes, label AS top_label,
      |  CAST(cnt AS BIGINT) AS top_votes, nv = cnt AS unanimous
      |FROM b WHERE rn = 1""".stripMargin

  /** Token-budget allocation, FULL oracle — per-domain available
    * tokens vs target mixture weights vs a fixed training budget:
    * allocated tokens, epochs, and the oversampling flag
    * (`operators/DomainMixture.budgetMix`): one corpus groupBy + a
    * broadcast join against the |domains|-row weight table, pure
    * column math. Epochs emit float4. */
  private def tokenBudgetMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.read(s, dir, "documents")
      .select(concat(lit("dom-"), col("doc_id") % 6).as("domain"),
        length(col("text")).cast("long").as("tokens"))
    val weights = (0 until 6).map(i => (s"dom-$i", (i + 1) / 21.0))
      .toDF("domain", "weight")
    operators.DomainMixture.budgetMix(docs, "domain", "tokens",
      weights, "weight", budgetTokens = 100000L)
  }

  private val tokenBudgetMixSql =
    """WITH t AS (
      |  SELECT 'dom-' || (doc_id % 6) AS domain, length(text) AS tokens,
      |    (doc_id % 6 + 1) / 21.0 AS w
      |  FROM documents),
      |a AS (SELECT domain, SUM(tokens) AS available_tokens, MAX(w) AS w
      |      FROM t GROUP BY domain)
      |SELECT domain, CAST(available_tokens AS BIGINT) AS available_tokens,
      |  CAST(w AS REAL) AS weight,
      |  CAST(floor(100000.0 * w) AS BIGINT) AS allocated_tokens,
      |  CAST(100000.0 * w / available_tokens AS REAL) AS epochs,
      |  CAST(100000.0 * w / available_tokens AS REAL) > CAST(1.0 AS REAL)
      |    AS oversampled
      |FROM a""".stripMargin

  /** Semantic decontamination, FULL oracle — the embedding-space
    * sibling of n-gram `decontaminate`: every corpus vector's max
    * cosine similarity to the (vec_id % 53 = 0) eval slice, nearest
    * eval id with smallest-id tiebreak, and the tau-threshold flag
    * (`operators/Dedup.semanticDecontam`: broadcast eval side,
    * codegen'd cosine, map-side partial max before the one exchange).
    * Oracle is the DuckDB cross join. */
  private def semanticDecontamQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    operators.Dedup.semanticDecontam(
      e.filter(col("vec_id") % 53 =!= 0), e.filter(col("vec_id") % 53 === 0),
      "vec_id", "embedding", tau = 0.35)
  }

  private val semanticDecontamSql =
    """WITH ev AS (SELECT vec_id AS eval_id, embedding FROM embeddings
      |            WHERE vec_id % 53 = 0),
      |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 53 <> 0),
      |s AS (SELECT c.vec_id, ev.eval_id,
      |        list_cosine_similarity(c.embedding::DOUBLE[],
      |                               ev.embedding::DOUBLE[]) AS sim
      |      FROM c, ev),
      |b AS (SELECT vec_id, eval_id, sim,
      |        row_number() OVER (PARTITION BY vec_id
      |                           ORDER BY sim DESC, eval_id) AS rn
      |      FROM s)
      |SELECT vec_id, round(sim, 6) AS max_sim, eval_id AS nearest_eval,
      |  sim >= 0.35 AS contaminated
      |FROM b WHERE rn = 1""".stripMargin

  /** ORC fixture root: every table written ONCE per sf dir as a single
    * ORC file through Spark's own writer (orc-core — a producer this
    * repo does not implement, so the probe below reads genuinely
    * independent streams), with the codec varied per table so all four
    * chunk codecs plus the unframed NONE path sit in the gate. */
  private val orcFixtureCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val orcTables: Seq[(String, String)] = Seq(
    "region" -> "zlib", "nation" -> "snappy", "customer" -> "zstd",
    "supplier" -> "lz4", "part" -> "none", "orders" -> "zstd",
    "lineitem" -> "zlib", "events" -> "snappy", "documents" -> "zstd",
    "embeddings" -> "none")
  private def orcFixtureRoot(s: SparkSession, dir: String): String =
    orcFixtureCache.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_orc_").toString
      orcTables.foreach { case (t, codec) =>
        Tables.read(s, dir, t).coalesce(1).write.mode("overwrite")
          .option("compression", codec).orc(s"$root/$t")
      }
      root
    })

  /** ORC tail probe, FULL oracle — the columnar-format introspection
    * rung beside `parquet_probe` (`operators/OrcFooter`): per table the
    * native protobuf tail walk reports the postscript codec, footer row
    * count, root-struct arity, and the FILE-level IntegerStatistics
    * min/max of the key column — the numbers file pruning reads at
    * 100 TB instead of stripe data. The oracle recomputes them from the
    * data through DuckDB's reader; stripe row counts must sum to the
    * footer total or the probe refuses. */
  private def orcProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = orcFixtureRoot(s, dir)
    val rows = orcTables.map { case (t, codec) =>
      val files = new java.io.File(s"$root/$t")
        .listFiles((_, n) => n.endsWith(".orc"))
      require(files != null && files.length == 1, s"$t: want one ORC file")
      val tail = operators.OrcFooter.parseFile(files.head.getPath)
        .getOrElse(sys.error(s"unparseable ORC tail: $t"))
      require(tail.compression == codec, s"$t: codec ${tail.compression}")
      require(tail.stripes.map(_.numRows).sum == tail.numRows,
        s"$t: stripes do not sum to numberOfRows")
      (t, tail.compression, tail.numRows, tail.fieldNames.length.toLong,
        tail.firstColMin.getOrElse(sys.error(s"$t: no min stat")),
        tail.firstColMax.getOrElse(sys.error(s"$t: no max stat")))
    }
    rows.toDF("tbl", "codec", "num_rows", "n_cols", "key_min", "key_max")
  }

  private val orcProbeSql =
    """SELECT 'region' AS tbl, 'zlib' AS codec, CAST(count(*) AS BIGINT) AS num_rows,
      |  CAST((SELECT count(*) FROM pragma_table_info('region')) AS BIGINT) AS n_cols,
      |  CAST(min(r_regionkey) AS BIGINT) AS key_min, CAST(max(r_regionkey) AS BIGINT) AS key_max FROM region
      |UNION ALL SELECT 'nation', 'snappy', count(*),
      |  (SELECT count(*) FROM pragma_table_info('nation')),
      |  CAST(min(n_nationkey) AS BIGINT), CAST(max(n_nationkey) AS BIGINT) FROM nation
      |UNION ALL SELECT 'customer', 'zstd', count(*),
      |  (SELECT count(*) FROM pragma_table_info('customer')),
      |  CAST(min(c_custkey) AS BIGINT), CAST(max(c_custkey) AS BIGINT) FROM customer
      |UNION ALL SELECT 'supplier', 'lz4', count(*),
      |  (SELECT count(*) FROM pragma_table_info('supplier')),
      |  CAST(min(s_suppkey) AS BIGINT), CAST(max(s_suppkey) AS BIGINT) FROM supplier
      |UNION ALL SELECT 'part', 'none', count(*),
      |  (SELECT count(*) FROM pragma_table_info('part')),
      |  CAST(min(p_partkey) AS BIGINT), CAST(max(p_partkey) AS BIGINT) FROM part
      |UNION ALL SELECT 'orders', 'zstd', count(*),
      |  (SELECT count(*) FROM pragma_table_info('orders')),
      |  CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT) FROM orders
      |UNION ALL SELECT 'lineitem', 'zlib', count(*),
      |  (SELECT count(*) FROM pragma_table_info('lineitem')),
      |  CAST(min(l_orderkey) AS BIGINT), CAST(max(l_orderkey) AS BIGINT) FROM lineitem
      |UNION ALL SELECT 'events', 'snappy', count(*),
      |  (SELECT count(*) FROM pragma_table_info('events')),
      |  CAST(min(event_id) AS BIGINT), CAST(max(event_id) AS BIGINT) FROM events
      |UNION ALL SELECT 'documents', 'zstd', count(*),
      |  (SELECT count(*) FROM pragma_table_info('documents')),
      |  CAST(min(doc_id) AS BIGINT), CAST(max(doc_id) AS BIGINT) FROM documents
      |UNION ALL SELECT 'embeddings', 'none', count(*),
      |  (SELECT count(*) FROM pragma_table_info('embeddings')),
      |  CAST(min(vec_id) AS BIGINT), CAST(max(vec_id) AS BIGINT) FROM embeddings""".stripMargin

  /** Avro container ingest, FULL oracle — per doc an OCF produced by
    * avro-java's own `DataFileWriter` (an INDEPENDENT producer; this
    * repo's reader never sees its own encoder here) under a codec dial
    * (deflate / snappy-with-CRC / null), decoded by the native
    * `operators/AvroContainer` walker: schema-subset parse, zigzag
    * varints, union branches, sync-marker verification. Emits per-file
    * aggregates the oracle recomputes closed-form; scores are dyadic so
    * sequential adds equal the oracle's product exactly. */
  private def avroIngest(s: SparkSession, dir: String): DataFrame = {
    val mk = udf((d: Long) => {
      import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
      val schema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"ev","fields":[
          |{"name":"id","type":"long"},{"name":"name","type":"string"},
          |{"name":"score","type":"double"},
          |{"name":"note","type":["null","string"]}]}""".stripMargin)
      val codec = (d % 3) match {
        case 0 => "deflate"; case 1 => "snappy"; case _ => "null"
      }
      val out = new java.io.ByteArrayOutputStream()
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.setCodec(codec match {
        case "deflate" => org.apache.avro.file.CodecFactory.deflateCodec(6)
        case "snappy"  => org.apache.avro.file.CodecFactory.snappyCodec()
        case _         => org.apache.avro.file.CodecFactory.nullCodec()
      })
      w.create(schema, out, Array.tabulate[Byte](16)(i => ((d + i) % 251).toByte))
      val n = 3 + (d % 4).toInt
      (0 until n).foreach { i =>
        val r = new GenericData.Record(schema)
        r.put("id", d * 10 + i)
        r.put("name", s"n${(d + i) % 7}")
        r.put("score", (d % 100).toDouble / 4.0 + i)
        r.put("note", if (i % 2 == 0) null else s"x$i")
        w.append(r)
      }
      w.close()
      val c = operators.AvroContainer.parse(out.toByteArray)
        .getOrElse(sys.error(s"avro parse failed for doc $d"))
      require(c.codec == codec, s"doc $d: codec ${c.codec}")
      require(c.fields.map(_.name) == Seq("id", "name", "score", "note"),
        s"doc $d: fields ${c.fields}")
      val rows = c.rows
      (rows.length, rows.map(_(0).asInstanceOf[Long]).sum,
        rows.map(_(2).asInstanceOf[Double]).sum,
        rows.head(1).asInstanceOf[String],
        rows.count(_(3) != null), c.codec)
    })
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), mk(col("doc_id")).as("r"))
      .select(col("doc_id"),
        col("r._1").cast("long").as("n_records"),
        col("r._2").as("sum_id"),
        round(col("r._3"), 6).as("sum_score"),
        col("r._4").as("first_name"),
        col("r._5").cast("long").as("n_notes"),
        col("r._6").as("codec"))
  }

  private val avroIngestSql =
    """WITH t AS (
      |  SELECT doc_id, 3 + doc_id % 4 AS n, doc_id % 100 AS m,
      |    doc_id % 3 AS dial
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(n AS BIGINT) AS n_records,
      |  CAST(doc_id * 10 * n + n * (n - 1) // 2 AS BIGINT) AS sum_id,
      |  ROUND(n * (m / 4.0) + n * (n - 1) // 2, 6) AS sum_score,
      |  'n' || CAST(doc_id % 7 AS VARCHAR) AS first_name,
      |  CAST(n // 2 AS BIGINT) AS n_notes,
      |  CASE dial WHEN 0 THEN 'deflate' WHEN 1 THEN 'snappy' ELSE 'null' END
      |    AS codec
      |FROM t""".stripMargin

  /** Shared candidate/reference construction for the overlap metrics:
    * ref = the doc's first 32 whitespace tokens; cand = ref minus its
    * last two tokens with every 5th position (1-based) substituted by
    * a token absent from the corpus ('zz' — vocabulary-checked). Both
    * sides of the oracle replay the same construction, so the metric
    * values are fully determined. */
  private def candRefPairs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .withColumn("_ref", operators.EvalMetrics.tokens(col("text"), 32))
      .withColumn("_cand",
        transform(sequence(lit(1), greatest(size(col("_ref")) - 2, lit(1))),
          i => when(i % 5 === 0, lit("zz")).otherwise(element_at(col("_ref"), i))))
      .select(col("doc_id"),
        array_join(col("_cand"), " ").as("cand_text"),
        array_join(col("_ref"), " ").as("ref_text"))

  private val candRefCtes =
    """base AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |                x -> x <> '')[1:32] AS ref
      |  FROM documents),
      |b2 AS (
      |  SELECT doc_id, ref,
      |    list_transform(generate_series(1, greatest(len(ref) - 2, 1)),
      |      i -> CASE WHEN i % 5 = 0 THEN 'zz' ELSE ref[i] END) AS cand
      |  FROM base)""".stripMargin

  /** BLEU statistics, FULL oracle — modified n-gram precision counts
    * for n=1..4, both lengths, and the smoothed score
    * (`operators/EvalMetrics.bleuStats`: pure higher-order array
    * algebra, zero UDFs, zero shuffles — a stateless scan at 100 TB).
    * The oracle recomputes every clipped count through an explode +
    * LEFT JOIN and the same add-0.5/brevity-penalty formula; the score
    * routes through exp/ln so it is emitted FLOAT on both sides. */
  private def bleuScoreQ(s: SparkSession, dir: String): DataFrame =
    operators.EvalMetrics.bleuStats(candRefPairs(s, dir),
      "cand_text", "ref_text", maxN = 4, maxTokens = 32)
      .select(col("doc_id"),
        col("match_1"), col("total_1"), col("match_2"), col("total_2"),
        col("match_3"), col("total_3"), col("match_4"), col("total_4"),
        col("cand_len"), col("ref_len"), col("bleu"))

  private val bleuScoreSql =
    s"""WITH $candRefCtes,
       |cg AS (
       |  SELECT doc_id, n, g, count(*) AS c FROM (
       |    SELECT doc_id, n, array_to_string(cand[i:i+n-1], ' ') AS g
       |    FROM (SELECT doc_id, cand, n,
       |            unnest(generate_series(1, len(cand) - n + 1)) AS i
       |          FROM b2, (SELECT unnest([1, 2, 3, 4]) AS n) nn))
       |  GROUP BY 1, 2, 3),
       |rg AS (
       |  SELECT doc_id, n, g, count(*) AS c FROM (
       |    SELECT doc_id, n, array_to_string(ref[i:i+n-1], ' ') AS g
       |    FROM (SELECT doc_id, ref, n,
       |            unnest(generate_series(1, len(ref) - n + 1)) AS i
       |          FROM b2, (SELECT unnest([1, 2, 3, 4]) AS n) nn))
       |  GROUP BY 1, 2, 3),
       |m AS (
       |  SELECT cg.doc_id, cg.n, SUM(LEAST(cg.c, COALESCE(rg.c, 0))) AS mt
       |  FROM cg LEFT JOIN rg
       |    ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT b2.doc_id, len(cand) AS cl, len(ref) AS rl,
       |    COALESCE(MAX(CASE WHEN n = 1 THEN mt END), 0) AS m1,
       |    COALESCE(MAX(CASE WHEN n = 2 THEN mt END), 0) AS m2,
       |    COALESCE(MAX(CASE WHEN n = 3 THEN mt END), 0) AS m3,
       |    COALESCE(MAX(CASE WHEN n = 4 THEN mt END), 0) AS m4
       |  FROM b2 LEFT JOIN m ON b2.doc_id = m.doc_id
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id,
       |  CAST(m1 AS BIGINT) AS match_1, CAST(greatest(cl, 0) AS BIGINT) AS total_1,
       |  CAST(m2 AS BIGINT) AS match_2, CAST(greatest(cl - 1, 0) AS BIGINT) AS total_2,
       |  CAST(m3 AS BIGINT) AS match_3, CAST(greatest(cl - 2, 0) AS BIGINT) AS total_3,
       |  CAST(m4 AS BIGINT) AS match_4, CAST(greatest(cl - 3, 0) AS BIGINT) AS total_4,
       |  CAST(cl AS BIGINT) AS cand_len, CAST(rl AS BIGINT) AS ref_len,
       |  CAST((CASE WHEN cl >= rl THEN 1.0
       |        ELSE exp(1.0 - rl / CAST(cl AS DOUBLE)) END) *
       |       exp((ln((m1 + 0.5) / (greatest(cl, 0) + 0.5)) +
       |            ln((m2 + 0.5) / (greatest(cl - 1, 0) + 0.5)) +
       |            ln((m3 + 0.5) / (greatest(cl - 2, 0) + 0.5)) +
       |            ln((m4 + 0.5) / (greatest(cl - 3, 0) + 0.5))) / 4) AS REAL)
       |    AS bleu
       |FROM p""".stripMargin

  /** ROUGE-L, FULL oracle — a REAL LCS dynamic program on the engine
    * side (`operators/EvalMetrics.rougeL`), verified closed-form: the
    * candidate is the reference with floor(m/5) positions substituted
    * by an out-of-vocabulary token and the last two tokens dropped, so
    * LCS = m - floor(m/5) EXACTLY (substituted tokens cannot match;
    * unchanged positions are a common subsequence; nothing longer
    * exists). P/R/F are correctly-rounded division chains, emitted
    * FLOAT on both sides. */
  private def rougeLQ(s: SparkSession, dir: String): DataFrame =
    operators.EvalMetrics.rougeL(candRefPairs(s, dir),
      "cand_text", "ref_text", maxTokens = 32)
      .select(col("doc_id"), col("lcs_len"),
        col("rouge_p"), col("rouge_r"), col("rouge_f"))

  private val rougeLSql =
    s"""WITH $candRefCtes,
       |t AS (
       |  SELECT doc_id, len(ref) AS rl, greatest(len(ref) - 2, 1) AS m
       |  FROM b2),
       |v AS (
       |  SELECT doc_id, rl, m, m - m // 5 AS lcs,
       |    (m - m // 5) / CAST(m AS DOUBLE) AS p,
       |    (m - m // 5) / CAST(rl AS DOUBLE) AS r
       |  FROM t)
       |SELECT doc_id, CAST(lcs AS BIGINT) AS lcs_len,
       |  CAST(p AS REAL) AS rouge_p, CAST(r AS REAL) AS rouge_r,
       |  CAST(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END AS REAL)
       |    AS rouge_f
       |FROM v""".stripMargin

  /** Edit-distance near-dup, FULL oracle — Levenshtein pairs over a
    * sampled snippet slice through the length-blocked equi-join
    * (`operators/EvalMetrics.editNearDup`: blockWidth 6 > maxDist 5, so
    * a qualifying pair can never sit more than one block apart — the
    * oracle PROVES the blocking loses nothing by brute-forcing all
    * sampled pairs in DuckDB and matching exactly). */
  private def editNearDupQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
      .filter(col("doc_id") % 29 === 0)
      .select(col("doc_id"),
        expr("substring(text, 1, CAST(12 + n_chars % 4 AS INT))").as("snip"))
    operators.EvalMetrics.editNearDup(docs, "doc_id", "snip",
      maxDist = 5, blockWidth = 6)
  }

  private val editNearDupSql =
    """WITH d AS (
      |  SELECT doc_id, substr(text, 1, CAST(12 + n_chars % 4 AS INT)) AS s
      |  FROM documents WHERE doc_id % 29 = 0)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
      |FROM d a, d b
      |WHERE a.doc_id < b.doc_id AND levenshtein(a.s, b.s) <= 5""".stripMargin

  /** ROC-AUC + KS, FULL oracle — tie-aware Mann-Whitney AUC and the
    * max-CDF-gap KS statistic of a discrete-scored binary labeling
    * over events (`operators/RewardStats.rocAuc`): the corpus
    * collapses to one row per score level FIRST (two-phase groupBy),
    * the rank window runs over the 50 levels only. Every term is an
    * exact integer/dyadic sum; auc and ks end in single
    * correctly-rounded divisions, so round-6 is safe. */
  private def aucRocQ(s: SparkSession, dir: String): DataFrame =
    operators.RewardStats.rocAuc(
      Tables.read(s, dir, "events")
        .select(((col("event_id") * 31) % 50).cast("double").as("score"),
          (col("event_id") % 3 === 0).cast("int").as("label")),
      "score", "label")

  private val aucRocSql =
    """WITH p AS (
      |  SELECT CAST((event_id * 31) % 50 AS DOUBLE) AS s,
      |    CAST(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS DOUBLE) AS y
      |  FROM events),
      |g AS (SELECT s, SUM(y) AS np, SUM(1.0 - y) AS nn FROM p GROUP BY s),
      |c AS (SELECT s, np, nn,
      |        COALESCE(SUM(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
      |          PRECEDING AND 1 PRECEDING), 0) AS below_nn,
      |        COALESCE(SUM(np) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
      |          PRECEDING AND 1 PRECEDING), 0) AS below_np,
      |        SUM(np) OVER () AS tot_np, SUM(nn) OVER () AS tot_nn
      |      FROM g)
      |SELECT CAST(MAX(tot_np) AS BIGINT) AS n_pos,
      |  CAST(MAX(tot_nn) AS BIGINT) AS n_neg,
      |  CAST(COUNT(*) AS BIGINT) AS n_levels,
      |  ROUND(SUM(np * (below_nn + nn / 2)) / (MAX(tot_np) * MAX(tot_nn)), 6)
      |    AS auc,
      |  ROUND(MAX(ABS((below_np + np) / tot_np - (below_nn + nn) / tot_nn)), 6)
      |    AS ks
      |FROM c""".stripMargin

  /** pass@k, FULL oracle — the unbiased Codex estimator per problem
    * (`operators/EvalMetrics.passAtK`): 50 problems × n samples with a
    * closed-form pass dial; 1 - prod_{i<k}(n-c-i)/(n-i) as a
    * left-to-right factored product both sides, so round-6 is safe.
    * One two-phase groupBy; the k-term product is pure codegen. */
  private def passAtKQ(s: SparkSession, dir: String): DataFrame =
    operators.EvalMetrics.passAtK(
      Tables.read(s, dir, "documents")
        .select(concat(lit("prob-"), col("doc_id") % 50).as("problem"),
          ((col("doc_id") * 13) % 7 === 0).cast("int").as("ok")),
      "problem", "ok", ks = Seq(1, 5, 10))

  private val passAtKSql: String = {
    def prod(k: Int) = (0 until k).map(i =>
      s"(CAST(greatest(n - c - $i, 0) AS DOUBLE) / CAST(n - $i AS DOUBLE))")
      .mkString(" * ")
    def pk(k: Int) =
      s"CASE WHEN n >= $k THEN round(1 - (${prod(k)}), 6) END AS pass_at_$k"
    s"""WITH r AS (
       |  SELECT 'prob-' || (doc_id % 50) AS problem,
       |    CASE WHEN (doc_id * 13) % 7 = 0 THEN 1 ELSE 0 END AS ok
       |  FROM documents),
       |g AS (SELECT problem, CAST(count(*) AS BIGINT) AS n,
       |        CAST(SUM(ok) AS BIGINT) AS c
       |      FROM r GROUP BY problem)
       |SELECT problem, n, c, ${pk(1)}, ${pk(5)}, ${pk(10)}
       |FROM g""".stripMargin
  }

  /** Best-of-n rejection sampling, FULL oracle — per prompt the
    * top-scored response with smallest-id tiebreak plus the margin
    * over the runner-up (`operators/RewardStats.bestOfN`): one shuffle
    * on the prompt key, per-group sort bounded by the sampling
    * fan-out, top-2 rows into a |prompts|-row aggregate. Scores are
    * exact integers in doubles, so the margin needs no rounding. */
  private def bestOfNQ(s: SparkSession, dir: String): DataFrame =
    operators.RewardStats.bestOfN(
      Tables.read(s, dir, "documents")
        .select(concat(lit("p-"), col("doc_id") % 40).as("prompt"),
          col("doc_id").as("resp_id"),
          ((col("doc_id") * 37) % 101).cast("double").as("score")),
      "prompt", "resp_id", "score")

  private val bestOfNSql =
    """WITH r AS (
      |  SELECT 'p-' || (doc_id % 40) AS prompt, doc_id AS resp_id,
      |    CAST((doc_id * 37) % 101 AS DOUBLE) AS s
      |  FROM documents),
      |b AS (SELECT prompt, resp_id, s,
      |        row_number() OVER (PARTITION BY prompt
      |                           ORDER BY s DESC, resp_id) AS rn,
      |        count(*) OVER (PARTITION BY prompt) AS nr
      |      FROM r)
      |SELECT prompt, CAST(MAX(nr) AS BIGINT) AS n_resp,
      |  MAX(CASE WHEN rn = 1 THEN resp_id END) AS best_id,
      |  MAX(CASE WHEN rn = 1 THEN s END) AS best_score,
      |  MAX(CASE WHEN rn = 2 THEN s END) AS second_score,
      |  MAX(CASE WHEN rn = 1 THEN s END) - MAX(CASE WHEN rn = 2 THEN s END)
      |    AS margin
      |FROM b WHERE rn <= 2 GROUP BY prompt""".stripMargin

  /** Brier decomposition, FULL oracle — Murphy's reliability /
    * resolution / uncertainty split of a probabilistic reward dial
    * whose outcome is correlated with the forecast
    * (`operators/RewardStats.brierDecomposition`): one two-phase
    * groupBy to 10 bins, one closing aggregate, everything float4
    * (unordered double sums both sides). */
  private def brierQ(s: SparkSession, dir: String): DataFrame =
    operators.RewardStats.brierDecomposition(
      Tables.read(s, dir, "documents")
        .select((((col("doc_id") * 17) % 100).cast("double") / 100.0).as("p"),
          ((col("doc_id") * 29) % 97 < (col("doc_id") * 17) % 100)
            .cast("int").as("y")),
      "p", "y", bins = 10)

  private val brierSql =
    """WITH r AS (
      |  SELECT CAST((doc_id * 17) % 100 AS DOUBLE) / 100.0 AS p,
      |    CAST(CASE WHEN (doc_id * 29) % 97 < (doc_id * 17) % 100
      |         THEN 1 ELSE 0 END AS DOUBLE) AS y
      |  FROM documents),
      |b AS (SELECT CAST(least(greatest(floor(p * 10), 0), 9) AS BIGINT)
      |        AS bin, p, y FROM r),
      |g AS (SELECT bin, count(*) AS nk, SUM(p) AS sp, SUM(y) AS sy,
      |        SUM((p - y) * (p - y)) AS sq
      |      FROM b GROUP BY bin),
      |m AS (SELECT nk, sy, sq, sp / nk AS pbar, sy / nk AS obar_k FROM g)
      |SELECT CAST(SUM(nk) AS BIGINT) AS n,
      |  CAST(SUM(sq) / SUM(nk) AS REAL) AS brier,
      |  CAST(SUM(nk * (pbar - obar_k) * (pbar - obar_k)) / SUM(nk) AS REAL)
      |    AS reliability,
      |  CAST((SUM(nk * obar_k * obar_k) - SUM(sy) * SUM(sy) / SUM(nk))
      |    / SUM(nk) AS REAL) AS resolution,
      |  CAST((SUM(sy) / SUM(nk)) * (1.0 - SUM(sy) / SUM(nk)) AS REAL)
      |    AS uncertainty
      |FROM m""".stripMargin

  /** Code line-shape stats, FULL oracle — StarCoder-style code-corpus
    * gates over a synthesized per-doc source snippet (comment lines in
    * both `//` and `#` forms, conditional blanks, indented bodies —
    * `operators/CodeStats.lineStats`): a zero-UDF array-algebra scan;
    * the oracle replays via unnest + groupBy. */
  private def codeStatsQ(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val code = concat_ws("\n",
      concat(lit("fn f"), d % 7, lit("(a, b) {")),
      concat(lit("    // "), substring(col("text"), 1, 16)),
      concat(lit("    let x = "), d % 13, lit(";")),
      when(d % 3 === 0, lit("")).otherwise(lit("    call(x);")),
      when(d % 4 === 0, concat(lit("# note "), d % 2))
        .otherwise(lit("    ret x")),
      lit("}"))
    operators.CodeStats.lineStats(
      Tables.read(s, dir, "documents").select(d, code.as("code")),
      "doc_id", "code")
  }

  private val codeStatsSql =
    """WITH c AS (
      |  SELECT doc_id,
      |    'fn f' || (doc_id % 7) || '(a, b) {' || chr(10) ||
      |    '    // ' || substr(text, 1, 16) || chr(10) ||
      |    '    let x = ' || (doc_id % 13) || ';' || chr(10) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '' ELSE '    call(x);' END)
      |      || chr(10) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '# note ' || (doc_id % 2)
      |          ELSE '    ret x' END) || chr(10) ||
      |    '}' AS code
      |  FROM documents),
      |l AS (SELECT doc_id, unnest(string_split(code, chr(10))) AS line
      |      FROM c),
      |s AS (SELECT doc_id, count(*) AS n_lines,
      |        max(length(line)) AS max_line_len,
      |        SUM(length(line)) AS len_sum,
      |        SUM(CASE WHEN ltrim(line) LIKE '//%' OR ltrim(line) LIKE '#%'
      |            THEN 1 ELSE 0 END) AS n_comment,
      |        SUM(CASE WHEN length(trim(line)) = 0 THEN 1 ELSE 0 END)
      |          AS n_blank,
      |        SUM(CASE WHEN line LIKE ' %' AND length(trim(line)) > 0
      |            THEN 1 ELSE 0 END) AS n_indent
      |      FROM l GROUP BY doc_id)
      |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
      |  CAST(max_line_len AS BIGINT) AS max_line_len,
      |  CAST(CAST(len_sum AS DOUBLE) / n_lines AS REAL) AS mean_line_len,
      |  CAST(n_comment AS BIGINT) AS n_comment,
      |  CAST(n_blank AS BIGINT) AS n_blank,
      |  CAST(CAST(n_comment AS DOUBLE) / n_lines AS REAL) AS comment_frac,
      |  CAST(CAST(n_blank AS DOUBLE) / n_lines AS REAL) AS blank_frac,
      |  CAST(CAST(n_indent AS DOUBLE) / n_lines AS REAL) AS indent_frac
      |FROM s""".stripMargin

  /** Token-label mutual information, FULL oracle — the IIR ch. 13
    * four-cell MI between distinct-per-doc token presence and a binary
    * label (`operators/FeatureSelect.tokenLabelMi`): one explode, one
    * groupBy on the token, broadcast totals; cells sum in a fixed
    * order and mi emits float4. Tokenization is the explicit
    * `[ \t\n\r]+` class both sides. */
  private def miTokensQ(s: SparkSession, dir: String): DataFrame =
    operators.FeatureSelect.tokenLabelMi(
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          (col("doc_id") % 2).cast("int").as("label")),
      "doc_id", "text", "label", minDocs = 5)

  private val miTokensSql =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 2 AS y,
      |    list_distinct(list_filter(
      |      string_split_regex(lower(text), '[ \t\n\r]+'),
      |      t -> length(t) > 0)) AS toks
      |  FROM documents),
      |p AS (SELECT unnest(toks) AS token, y FROM d),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS nn,
      |        CAST(SUM(y) AS BIGINT) AS n1 FROM d),
      |g AS (SELECT token, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(SUM(y) AS BIGINT) AS n_pos
      |      FROM p GROUP BY token HAVING count(*) >= 5)
      |SELECT token, n_docs, n_pos,
      |  CAST(
      |    (CASE WHEN n_pos > 0 THEN (CAST(n_pos AS DOUBLE) / nn) *
      |      ln((nn * CAST(n_pos AS DOUBLE)) /
      |         (CAST(n_docs AS DOUBLE) * CAST(n1 AS DOUBLE))) ELSE 0 END) +
      |    (CASE WHEN n_docs - n_pos > 0
      |      THEN (CAST(n_docs - n_pos AS DOUBLE) / nn) *
      |        ln((nn * CAST(n_docs - n_pos AS DOUBLE)) /
      |           (CAST(n_docs AS DOUBLE) * CAST(nn - n1 AS DOUBLE)))
      |      ELSE 0 END) +
      |    (CASE WHEN n1 - n_pos > 0 THEN (CAST(n1 - n_pos AS DOUBLE) / nn) *
      |      ln((nn * CAST(n1 - n_pos AS DOUBLE)) /
      |         (CAST(nn - n_docs AS DOUBLE) * CAST(n1 AS DOUBLE)))
      |      ELSE 0 END) +
      |    (CASE WHEN nn - n1 - (n_docs - n_pos) > 0
      |      THEN (CAST(nn - n1 - (n_docs - n_pos) AS DOUBLE) / nn) *
      |        ln((nn * CAST(nn - n1 - (n_docs - n_pos) AS DOUBLE)) /
      |           (CAST(nn - n_docs AS DOUBLE) * CAST(nn - n1 AS DOUBLE)))
      |      ELSE 0 END) AS REAL) AS mi
      |FROM g, t""".stripMargin

  /** DP noised counts, FULL oracle — the Laplace mechanism over
    * per-bucket event counts with a splitmix64-seeded deterministic
    * draw (`operators/DpNoise.laplaceCounts`; the oracle replays the
    * mixer through `Mix64Sql.ctes`): one two-phase groupBy, noise on
    * the aggregated side only, float4 through the ln. */
  private def dpCountsQ(s: SparkSession, dir: String): DataFrame =
    operators.DpNoise.laplaceCounts(
      Tables.read(s, dir, "events")
        .select((col("user_id") % 16).as("bucket")),
      "bucket", eps = 0.5)

  private val dpCountsSql: String =
    s"""WITH g AS (
       |  SELECT user_id % 16 AS bucket, CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |${mix64Ctes("dp", "g", Seq("bucket", "n"),
           "bucket * 2654435761 + n")},
       |u AS (SELECT bucket, n,
       |        (CAST(z // 2048 AS DOUBLE) + 0.5) / 9007199254740992.0 AS u
       |      FROM dp6),
       |w AS (SELECT bucket, n,
       |        CAST(-(1.0 / 0.5) * sign(u - 0.5) *
       |             ln(1.0 - 2.0 * abs(u - 0.5)) AS REAL) AS noise
       |      FROM u)
       |SELECT bucket, n, noise,
       |  CAST(greatest(n + CAST(noise AS DOUBLE), 0.0) AS REAL) AS noised_n
       |FROM w""".stripMargin

  /** Needle-in-a-haystack construction, FULL oracle — a marker
    * sentence spliced at fractional depth doc_id%11/10 with the md5
    * fingerprint of the spliced text compared across engines
    * (`operators/LongContext.insertNeedle`): a stateless substring +
    * concat + md5 scan, zero UDFs. */
  private def needleInsertQ(s: SparkSession, dir: String): DataFrame =
    operators.LongContext.insertNeedle(
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          concat(lit(" The needle is "), col("doc_id"), lit("."))
            .as("needle"),
          ((col("doc_id") % 11).cast("double") * 0.1).as("depth")),
      "doc_id", "text", "needle", "depth")

  private val needleInsertSql =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    ' The needle is ' || doc_id || '.' AS needle,
      |    CAST(doc_id % 11 AS DOUBLE) * 0.1 AS depth
      |  FROM documents),
      |p AS (SELECT doc_id, text, needle,
      |        CAST(floor(depth * length(text)) AS INT) AS pos
      |      FROM d)
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |  CAST(length(text) AS BIGINT) AS text_len,
      |  CAST(length(substr(text, 1, pos) || needle ||
      |    substr(text, pos + 1, length(text) - pos)) AS BIGINT) AS total_len,
      |  md5(substr(text, 1, pos) || needle ||
      |    substr(text, pos + 1, length(text) - pos)) AS fingerprint
      |FROM p""".stripMargin

  /** nDCG@10 / MRR / precision@10, FULL oracle — graded ranking eval
    * per query over a closed-form score/relevance dial
    * (`operators/RankingEval.ndcgMrr`): two query-partitioned windows
    * + one closing groupBy; nDCG routes through log2 (libm, float4),
    * rr and precision are exact rationals (round-6). */
  private def ndcgMrrQ(s: SparkSession, dir: String): DataFrame =
    operators.RankingEval.ndcgMrr(
      Tables.read(s, dir, "documents")
        .select(concat(lit("q-"), col("doc_id") % 30).as("query"),
          col("doc_id").as("doc"),
          ((col("doc_id") * 53) % 97).cast("double").as("score"),
          when((col("doc_id") * 7) % 5 === 0, 3)
            .when((col("doc_id") * 7) % 5 === 1, 1)
            .otherwise(0).cast("int").as("rel")),
      "query", "doc", "score", "rel", k = 10)

  private val ndcgMrrSql =
    """WITH r AS (
      |  SELECT 'q-' || (doc_id % 30) AS query, doc_id AS doc,
      |    CAST((doc_id * 53) % 97 AS DOUBLE) AS s,
      |    CAST(CASE WHEN (doc_id * 7) % 5 = 0 THEN 3
      |              WHEN (doc_id * 7) % 5 = 1 THEN 1
      |              ELSE 0 END AS DOUBLE) AS rel
      |  FROM documents),
      |w AS (SELECT query, s, rel,
      |        row_number() OVER (PARTITION BY query
      |                           ORDER BY s DESC, doc) AS rn,
      |        row_number() OVER (PARTITION BY query
      |                           ORDER BY rel DESC, doc) AS irn
      |      FROM r),
      |g AS (SELECT query, count(*) AS n_docs,
      |        SUM(CASE WHEN rn <= 10
      |            THEN (power(2.0, rel) - 1.0) / log2(rn + 1.0)
      |            ELSE 0.0 END) AS dcg,
      |        SUM(CASE WHEN irn <= 10
      |            THEN (power(2.0, rel) - 1.0) / log2(irn + 1.0)
      |            ELSE 0.0 END) AS idcg,
      |        MIN(CASE WHEN rel > 0 THEN rn END) AS first_rel,
      |        SUM(CASE WHEN rn <= 10 AND rel > 0 THEN 1 ELSE 0 END) AS hits
      |      FROM w GROUP BY query)
      |SELECT query, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(dcg AS REAL) AS dcg,
      |  CAST(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END AS REAL)
      |    AS ndcg,
      |  round(COALESCE(1.0 / first_rel, 0.0), 6) AS rr,
      |  round(CAST(hits AS DOUBLE) / 10, 6) AS prec_at_10
      |FROM g""".stripMargin

  /** k-anonymity / l-diversity audit, FULL oracle — per quasi-group
    * (user bucket × value band) size, distinct sensitive values, and
    * the compliance flags (`operators/Privacy.kAnonymity`): one
    * two-phase groupBy with an exact distinct count. */
  private def kAnonQ(s: SparkSession, dir: String): DataFrame =
    operators.Privacy.kAnonymity(
      Tables.read(s, dir, "events")
        .select((col("user_id") % 8).as("zip"),
          floor(col("value") / 25).cast("long").as("band"),
          col("event_type")),
      Seq("zip", "band"), "event_type", k = 5, l = 2)

  private val kAnonSql =
    """WITH e AS (
      |  SELECT user_id % 8 AS zip,
      |    CAST(floor(value / 25) AS BIGINT) AS band, event_type
      |  FROM events
      |  WHERE user_id IS NOT NULL AND value IS NOT NULL)
      |SELECT zip, band, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_sensitive,
      |  count(*) >= 5 AS k_anonymous,
      |  count(DISTINCT event_type) >= 2 AS l_diverse
      |FROM e GROUP BY zip, band""".stripMargin

  /** Deequ-style constraint audit, FULL oracle — six constraints over
    * lineitem in three plan families (`operators/DataQuality.audit`):
    * four row checks FUSED into one scan-aggregate, one composite-key
    * uniqueness (count vs distinct), one referential check as a
    * left-anti join against orders. One report row per constraint. */
  private def constraintCheckQ(s: SparkSession, dir: String): DataFrame = {
    import operators.DataQuality.RowCheck
    operators.DataQuality.audit(
      Tables.read(s, dir, "lineitem"),
      Seq(
        RowCheck("not_null(l_quantity)", col("l_quantity").isNull),
        RowCheck("range(l_quantity,1,50)",
          col("l_quantity") < 1 || col("l_quantity") > 50),
        RowCheck("non_negative(l_extendedprice)",
          col("l_extendedprice") < 0),
        RowCheck("max(l_discount)<=0.05", col("l_discount") > 0.05)),
      uniqueKey = Seq("l_orderkey", "l_linenumber"),
      fk = Some(("l_orderkey", Tables.read(s, dir, "orders"),
        "o_orderkey")))
  }

  private val constraintCheckSql =
    """WITH t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS v0,
      |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
      |        THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      |    CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS v2,
      |    CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS v3
      |  FROM lineitem),
      |u AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(count(*) -
      |          count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS v
      |      FROM lineitem),
      |f AS (SELECT (SELECT n FROM t) AS n, CAST(count(*) AS BIGINT) AS v
      |      FROM lineitem l LEFT JOIN orders o
      |        ON l.l_orderkey = o.o_orderkey
      |      WHERE o.o_orderkey IS NULL)
      |SELECT 'not_null(l_quantity)' AS check_name, n AS n_checked,
      |  v0 AS n_violations, v0 = 0 AS pass FROM t
      |UNION ALL SELECT 'range(l_quantity,1,50)', n, v1, v1 = 0 FROM t
      |UNION ALL SELECT 'non_negative(l_extendedprice)', n, v2, v2 = 0 FROM t
      |UNION ALL SELECT 'max(l_discount)<=0.05', n, v3, v3 = 0 FROM t
      |UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', n, v, v = 0 FROM u
      |UNION ALL SELECT 'fk(l_orderkey -> o_orderkey)', n, v, v = 0
      |  FROM f""".stripMargin

  /** Batch gap sessionization, FULL oracle — 24h-gap sessions over the
    * event stream in exact epoch-micros arithmetic
    * (`operators/Sessionize.gapSessions` on `Tables.tsUs`): one user
    * shuffle shared by the lag window, the running session index, and
    * the per-session rollup; (ts, event_id) ordering is total. */
  private def sessionizeQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
    operators.Sessionize.gapSessions(
      ev.select(col("user_id"), col("event_id"),
        Tables.tsUs(ev).as("us")),
      "user_id", "us", "event_id", gapMinutes = 1440)
  }

  private val sessionizeSql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |w AS (SELECT user_id, event_id, us,
      |        CASE WHEN lag(us) OVER win IS NULL
      |               OR us - lag(us) OVER win > 86400000000
      |             THEN 1 ELSE 0 END AS new_s
      |      FROM e
      |      WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id)),
      |x AS (SELECT user_id, us,
      |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS session_idx
      |      FROM w)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(min(us) AS BIGINT) AS start_us,
      |  CAST(max(us) AS BIGINT) AS end_us,
      |  CAST(max(us) - min(us) AS BIGINT) AS duration_us
      |FROM x GROUP BY user_id, session_idx""".stripMargin

  /** Zipf fit, FULL oracle — OLS of ln(freq) on ln(rank) over the
    * top-200 corpus vocabulary (`operators/CorpusStats.zipfFit`): one
    * explode+groupBy to the vocabulary, a vocabulary-sized rank
    * window, one closing aggregate; slope/intercept/r2 float4. */
  private def zipfFitQ(s: SparkSession, dir: String): DataFrame =
    operators.CorpusStats.zipfFit(
      Tables.read(s, dir, "documents"), "text", topN = 200)

  private val zipfFitSql =
    """WITH toks AS (
      |  SELECT unnest(list_filter(
      |    string_split_regex(lower(text), '[ \t\n\r]+'),
      |    t -> length(t) > 0)) AS token
      |  FROM documents),
      |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
      |rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token)
      |         AS rank FROM c),
      |f AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
      |        ln(CAST(cnt AS DOUBLE)) AS y
      |      FROM rk WHERE rank <= 200),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx,
      |        SUM(y) AS sy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
      |        SUM(x * y) AS sxy
      |      FROM f)
      |SELECT n AS n_ranked,
      |  CAST((sxy - sx * sy / n) / (sxx - sx * sx / n) AS REAL) AS slope,
      |  CAST((sy - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx) / n
      |    AS REAL) AS intercept,
      |  CAST((sxy - sx * sy / n) * (sxy - sx * sy / n) /
      |    ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS REAL) AS r2
      |FROM s""".stripMargin

  /** PPO ratio diagnostics, FULL oracle — clip fraction, clipped
    * surrogate mean, and the k3 KL estimator over a closed-form
    * (ratio, advantage) dial (`operators/RewardStats.ppoStats`): one
    * single-pass aggregate; means float4 through ln. */
  private def ppoStatsQ(s: SparkSession, dir: String): DataFrame =
    operators.RewardStats.ppoStats(
      Tables.read(s, dir, "documents")
        .select((((col("doc_id") * 7) % 41 + 80).cast("double") / 100.0)
            .as("ratio"),
          (((col("doc_id") * 37) % 21 - 10).cast("double") / 10.0)
            .as("adv")),
      "ratio", "adv", clipEps = 0.1)

  private val ppoStatsSql =
    """WITH r AS (
      |  SELECT CAST((doc_id * 7) % 41 + 80 AS DOUBLE) / 100.0 AS ratio,
      |    CAST((doc_id * 37) % 21 - 10 AS DOUBLE) / 10.0 AS adv
      |  FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(AVG(least(ratio * adv,
      |    least(greatest(ratio, 0.9), 1.1) * adv)) AS REAL)
      |    AS mean_objective,
      |  CAST(AVG(CASE WHEN abs(ratio - 1.0) > 0.1 THEN 1.0 ELSE 0.0 END)
      |    AS REAL) AS clip_frac,
      |  CAST(AVG(ratio - 1.0 - ln(ratio)) AS REAL) AS approx_kl
      |FROM r""".stripMargin

  /** Heaps' law fit, FULL oracle — vocabulary-growth OLS over 64
    * document-id checkpoints (`operators/CorpusStats.heapsFit`): one
    * explode+groupBy for each token's first document, a 64-row bucket
    * rollup and running sum, one closing aggregate; beta/ln_k/r2
    * float4 through ln. Bucket = doc_id // (max//64 + 1), exact
    * integer division both sides. */
  private def heapsFitQ(s: SparkSession, dir: String): DataFrame =
    // the synthetic corpus saturates its tiny vocabulary inside the
    // first bucket (a constant-V curve makes the OLS variance an
    // exact-zero-vs-1ulp coin flip), so the fixture appends one fresh
    // token per three documents — real vocabulary growth to fit
    operators.CorpusStats.heapsFit(
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" nv"), expr("doc_id DIV 3"))
            .as("text")),
      "doc_id", "text", buckets = 64)

  private val heapsFitSql =
    """WITH p AS (SELECT CAST((SELECT max(doc_id) FROM documents) // 64 + 1
      |             AS BIGINT) AS step),
      |d AS (SELECT doc_id, list_filter(
      |        string_split_regex(lower(text || ' nv' || (doc_id // 3)),
      |          '[ \t\n\r]+'),
      |        t -> length(t) > 0) AS toks
      |      FROM documents WHERE text IS NOT NULL),
      |vol AS (SELECT doc_id // step AS bkt, SUM(len(toks)) AS toks
      |        FROM d, p GROUP BY 1),
      |fd AS (SELECT tok, min(doc_id) AS first_id
      |       FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY tok),
      |fr AS (SELECT first_id // step AS bkt, count(*) AS fresh
      |       FROM fd, p GROUP BY 1),
      |cur AS (SELECT v.bkt, SUM(v.toks) OVER w AS n,
      |          SUM(COALESCE(f.fresh, 0)) OVER w AS vv
      |        FROM vol v LEFT JOIN fr f ON f.bkt = v.bkt
      |        WINDOW w AS (ORDER BY v.bkt
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pts AS (SELECT ln(CAST(n AS DOUBLE)) AS x, ln(CAST(vv AS DOUBLE)) AS y
      |        FROM cur WHERE n > 0 AND vv > 0),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx,
      |        SUM(y) AS sy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
      |        SUM(x * y) AS sxy
      |      FROM pts)
      |SELECT n AS n_points,
      |  CAST((sxy - sx * sy / n) / (sxx - sx * sx / n) AS REAL) AS beta,
      |  CAST((sy - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx) / n
      |    AS REAL) AS ln_k,
      |  CAST(CASE WHEN (syy - sy * sy / n) > 0
      |       THEN (sxy - sx * sy / n) * (sxy - sx * sy / n) /
      |            ((sxx - sx * sx / n) * (syy - sy * sy / n))
      |       ELSE 1.0 END AS REAL) AS r2
      |FROM s""".stripMargin

  /** Degree assortativity, FULL oracle — Newman's endpoint-degree
    * Pearson r over the kNN graph's directed stubs
    * (`operators/GraphAnalytics.assortativity`): one degree groupBy,
    * two stub joins, one closing aggregate; integer-valued moment sums
    * are exact in doubles, r emits float4. kNN graphs should come out
    * disassortative (hubs attach to leaves). */
  private def assortativityQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.assortativity(edges)
  }

  private val assortativitySql =
    s"""WITH $knnEdgesUndCtes,
       |st AS (SELECT a AS u, b AS v FROM und
       |       UNION ALL SELECT b, a FROM und),
       |dg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM st GROUP BY u),
       |j AS (SELECT CAST(dx.d AS DOUBLE) AS x, CAST(dy.d AS DOUBLE) AS y
       |      FROM st JOIN dg dx ON dx.u = st.u JOIN dg dy ON dy.u = st.v),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS m, SUM(x) AS sx,
       |        SUM(y) AS sy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
       |        SUM(x * y) AS sxy
       |      FROM j)
       |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
       |  CAST(sx / m AS REAL) AS mean_deg,
       |  CAST(CASE WHEN (sxx - sx * sx / m) > 0 AND (syy - sy * sy / m) > 0
       |       THEN (sxy - sx * sy / m) /
       |            sqrt((sxx - sx * sx / m) * (syy - sy * sy / m))
       |       ELSE 0.0 END AS REAL) AS r
       |FROM s""".stripMargin

  /** MCQ answer-position assignment, FULL oracle — deterministic
    * uniform correct-option slots from a splitmix64 draw on the
    * question id (`operators/EvalConstruct.mcqShuffle`; the oracle
    * replays the mixer through `Mix64Sql.ctes`): a stateless per-row
    * map, no shuffle. */
  private def mcqShuffleQ(s: SparkSession, dir: String): DataFrame =
    operators.EvalConstruct.mcqShuffle(
      Tables.read(s, dir, "documents").select(col("doc_id").as("qid")),
      "qid", nOptions = 4, seed = 42L)

  private val mcqShuffleSql: String =
    s"""WITH q AS (SELECT doc_id AS qid FROM documents),
       |${mix64Ctes("mc", "q", Seq("qid"),
          "(qid::HUGEINT * 1000003 + 42) % 18446744073709551616::HUGEINT")}
       |SELECT qid, CAST((z // 2048) % 4 AS BIGINT) AS correct_pos,
       |  chr(65 + CAST((z // 2048) % 4 AS INT)) AS letter
       |FROM mc6""".stripMargin

  /** T5 span corruption, FULL oracle — deterministic one-in-five
    * single-token masks rendered as sequential `<extra_id_K>`
    * sentinels in the input and echoed in the target
    * (`operators/Fim.spanCorrupt`): pure indexed array algebra, zero
    * UDFs; the oracle replays via position unnest + ordered
    * string_agg. */
  private def spanCorruptQ(s: SparkSession, dir: String): DataFrame =
    operators.Fim.spanCorrupt(
      Tables.read(s, dir, "documents"), "doc_id", "text", stride = 5)

  private val spanCorruptSql =
    """WITH d AS (SELECT doc_id, list_filter(
      |        string_split_regex(text, '[ \t\n\r]+'),
      |        t -> length(t) > 0) AS toks
      |      FROM documents WHERE text IS NOT NULL),
      |x AS (SELECT doc_id, i, toks[i + 1] AS tok
      |      FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i
      |            FROM d)),
      |r AS (SELECT doc_id,
      |        string_agg(CASE WHEN i % 5 = 3
      |          THEN '<extra_id_' || ((i - 3) // 5) || '>'
      |          ELSE tok END, ' ' ORDER BY i) AS input,
      |        string_agg(CASE WHEN i % 5 = 3
      |          THEN '<extra_id_' || ((i - 3) // 5) || '> ' || tok
      |          END, ' ' ORDER BY i) AS target
      |      FROM x GROUP BY doc_id),
      |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |        CAST(len(list_filter(range(0, len(toks)), i -> i % 5 = 3))
      |          AS BIGINT) AS n_masked
      |      FROM d)
      |SELECT c.doc_id, n_tokens, n_masked,
      |  COALESCE(r.input, '') AS input, COALESCE(r.target, '') AS target
      |FROM c LEFT JOIN r ON r.doc_id = c.doc_id""".stripMargin

  /** n-gram novelty, FULL oracle — the memorization audit: per
    * synthetic "generation" (a shifted document suffix plus a unique
    * token) the fraction of its distinct 3-grams absent from the
    * corpus gram set (`operators/Memorization.ngramNovelty`): the
    * corpus collapses once to distinct grams, candidates LEFT-join it
    * on the gram key — never candidates x corpus. Exact-rational
    * round-6. */
  private def ngramNoveltyQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val cands = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        concat(expr("substring(text, 6)"), lit(" zqx"), col("doc_id"))
          .as("gen"))
    operators.Memorization.ngramNovelty(cands, docs, "doc_id",
      "gen", "text", n = 3)
  }

  private val ngramNoveltySql =
    """WITH gt AS (SELECT doc_id, list_filter(
      |        string_split_regex(lower(text), '[ \t\n\r]+'),
      |        t -> length(t) > 0) AS ts
      |      FROM documents WHERE text IS NOT NULL),
      |cgr AS (SELECT DISTINCT g FROM (
      |  SELECT unnest(CASE WHEN len(ts) >= 3
      |    THEN list_transform(range(1, len(ts) - 1),
      |         i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])
      |    WHEN len(ts) > 0 THEN [array_to_string(ts, ' ')]
      |    ELSE [] END) AS g
      |  FROM gt)),
      |cd AS (SELECT doc_id, list_filter(
      |        string_split_regex(lower(substr(text, 6) || ' zqx' || doc_id),
      |          '[ \t\n\r]+'),
      |        t -> length(t) > 0) AS ts
      |      FROM documents WHERE doc_id % 7 = 0),
      |cag AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(ts) >= 3
      |    THEN list_transform(range(1, len(ts) - 1),
      |         i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])
      |    WHEN len(ts) > 0 THEN [array_to_string(ts, ' ')]
      |    ELSE [] END)) AS g
      |  FROM cd)
      |SELECT cag.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN cgr.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  round(CAST(SUM(CASE WHEN cgr.g IS NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS novelty_frac
      |FROM cag LEFT JOIN cgr ON cgr.g = cag.g
      |GROUP BY cag.doc_id""".stripMargin

  /** Token burstiness, FULL oracle — variance-to-mean ratio of
    * per-document counts for the top-50 tokens, zero docs included
    * (`operators/CorpusStats.burstiness`): one (doc, token) groupBy,
    * one token groupBy, a vocabulary-sized rank window, broadcast
    * totals; vmr float4 from exact integer moments. */
  private def burstinessQ(s: SparkSession, dir: String): DataFrame =
    operators.CorpusStats.burstiness(
      Tables.read(s, dir, "documents"), "doc_id", "text", topM = 50)

  private val burstinessSql =
    """WITH d AS (SELECT doc_id, list_filter(
      |        string_split_regex(lower(text), '[ \t\n\r]+'),
      |        t -> length(t) > 0) AS toks
      |      FROM documents WHERE text IS NOT NULL),
      |pc AS (SELECT doc_id, tok AS token, count(*) AS c
      |       FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
      |       GROUP BY 1, 2),
      |pt AS (SELECT token, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(c) AS BIGINT) AS total,
      |         CAST(SUM(c * c) AS BIGINT) AS sumsq
      |       FROM pc GROUP BY token),
      |rk AS (SELECT *, row_number() OVER (ORDER BY total DESC, token)
      |         AS rnk FROM pt),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d)
      |SELECT token, total, n_docs,
      |  CAST((CAST(sumsq AS DOUBLE) / nn -
      |        (CAST(total AS DOUBLE) / nn) * (CAST(total AS DOUBLE) / nn)) /
      |       (CAST(total AS DOUBLE) / nn) AS REAL) AS vmr
      |FROM rk, t WHERE rnk <= 50""".stripMargin

  /** HITS hubs/authorities, FULL oracle — two Kleinberg iterations
    * over the kNN graph in the integer fixed-point frame
    * (`operators/GraphAnalytics.hitsInt`): each half-step is one SpMV
    * join+groupBy and an L1 floor renormalization `(10⁶·raw)//Σraw`,
    * exact integers end to end; the oracle unrolls the four
    * half-steps as CTEs. */
  private def hitsScoresQ(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Knn.buildKnnGraph(
      Tables.read(s, dir, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", k = 3).select(col("src"), col("dst"))
    operators.GraphAnalytics.hitsInt(edges, iterations = 2)
      .select(col("id").as("vec_id"), col("hub_scaled"), col("auth_scaled"))
  }

  private val hitsScoresSql: String = {
    def half(out: String, in: String, from: String, to: String) =
      s"""${out}r AS (SELECT e.$to AS id, SUM($in.score) AS raw
         |  FROM e JOIN $in ON $in.id = e.$from GROUP BY 1),
         |${out}t AS (SELECT SUM(raw) AS tot FROM ${out}r),
         |$out AS (SELECT n.id,
         |    (1000000 * COALESCE(r.raw, 0)) // t.tot AS score
         |  FROM n LEFT JOIN ${out}r r ON r.id = n.id, ${out}t t)""".stripMargin
    s"""WITH $knnEdgesUndCtes,
       |n AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS score FROM n),
       |${half("a1", "h0", "src", "dst")},
       |${half("h1", "a1", "dst", "src")},
       |${half("a2", "h1", "src", "dst")},
       |${half("h2", "a2", "dst", "src")}
       |SELECT h2.id AS vec_id, CAST(h2.score AS BIGINT) AS hub_scaled,
       |  CAST(a2.score AS BIGINT) AS auth_scaled
       |FROM h2 JOIN a2 ON a2.id = h2.id""".stripMargin
  }

  /** Spearman's rho per prompt, FULL oracle — rank agreement between
    * two closed-form scorings with the (score desc, id) total order
    * (`operators/RewardStats.spearmanRho`): two prompt-partitioned
    * windows + one groupBy; 1 - 6Σd²/(n(n²-1)) stays exact integers
    * until one closing division (round-6). */
  private def spearmanRhoQ(s: SparkSession, dir: String): DataFrame =
    operators.RewardStats.spearmanRho(
      Tables.read(s, dir, "documents")
        .select(concat(lit("p-"), col("doc_id") % 40).as("prompt"),
          col("doc_id").as("id"),
          ((col("doc_id") * 37) % 101).cast("double").as("a"),
          ((col("doc_id") * 53) % 97).cast("double").as("b")),
      "prompt", "id", "a", "b")

  private val spearmanRhoSql =
    """WITH r AS (
      |  SELECT 'p-' || (doc_id % 40) AS prompt, doc_id AS id,
      |    CAST((doc_id * 37) % 101 AS DOUBLE) AS a,
      |    CAST((doc_id * 53) % 97 AS DOUBLE) AS b
      |  FROM documents),
      |w AS (SELECT prompt,
      |        CAST(row_number() OVER (PARTITION BY prompt
      |          ORDER BY a DESC, id) AS BIGINT) AS ra,
      |        CAST(row_number() OVER (PARTITION BY prompt
      |          ORDER BY b DESC, id) AS BIGINT) AS rb
      |      FROM r),
      |g AS (SELECT prompt, CAST(count(*) AS BIGINT) AS n,
      |        CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS d2
      |      FROM w GROUP BY prompt)
      |SELECT prompt, n,
      |  CASE WHEN n >= 2
      |    THEN round(1.0 - 6.0 * d2 / CAST(n * (n * n - 1) AS DOUBLE), 6)
      |  END AS rho
      |FROM g""".stripMargin

  /** Kendall's tau-b per prompt, FULL oracle — tie-aware pairwise
    * rank agreement over the same two scorings
    * (`operators/RewardStats.kendallTauB`): one self-equi-join on the
    * prompt key (pairs bounded by fan-out², never the corpus), exact
    * integer C/D/tie counts, tau float4 through the sqrt. */
  private def kendallTauQ(s: SparkSession, dir: String): DataFrame =
    operators.RewardStats.kendallTauB(
      Tables.read(s, dir, "documents")
        .select(concat(lit("p-"), col("doc_id") % 40).as("prompt"),
          col("doc_id").as("id"),
          ((col("doc_id") * 37) % 101).cast("double").as("a"),
          ((col("doc_id") * 53) % 97).cast("double").as("b")),
      "prompt", "id", "a", "b")

  private val kendallTauSql =
    """WITH r AS (
      |  SELECT 'p-' || (doc_id % 40) AS prompt, doc_id AS id,
      |    CAST((doc_id * 37) % 101 AS DOUBLE) AS a,
      |    CAST((doc_id * 53) % 97 AS DOUBLE) AS b
      |  FROM documents),
      |j AS (SELECT l.prompt, l.a - q.a AS da, l.b - q.b AS db
      |      FROM r l JOIN r q ON q.prompt = l.prompt AND l.id < q.id),
      |g AS (SELECT prompt, CAST(count(*) AS BIGINT) AS n0,
      |        CAST(SUM(CASE WHEN da * db > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS c,
      |        CAST(SUM(CASE WHEN da * db < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS d,
      |        CAST(SUM(CASE WHEN da = 0 AND db <> 0 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS tx,
      |        CAST(SUM(CASE WHEN db = 0 AND da <> 0 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS ty,
      |        CAST(SUM(CASE WHEN da = 0 AND db = 0 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS txy
      |      FROM j GROUP BY prompt)
      |SELECT prompt, n0 AS n_pairs, c AS concordant, d AS discordant,
      |  CAST(CASE WHEN (n0 - tx - txy) > 0 AND (n0 - ty - txy) > 0
      |    THEN CAST(c - d AS DOUBLE) /
      |         sqrt(CAST(n0 - tx - txy AS DOUBLE) *
      |              CAST(n0 - ty - txy AS DOUBLE))
      |  END AS REAL) AS tau_b
      |FROM g""".stripMargin

  /** Gini coefficient of token frequencies, FULL oracle — the
    * inequality companion to the Zipf fit
    * (`operators/CorpusStats.giniTokens`): one vocabulary groupBy,
    * one vocabulary-sized rank window, exact integer sums into two
    * closing correctly-rounded divisions (round-6). */
  private def giniTokensQ(s: SparkSession, dir: String): DataFrame =
    operators.CorpusStats.giniTokens(
      Tables.read(s, dir, "documents"), "text")

  private val giniTokensSql =
    """WITH toks AS (
      |  SELECT unnest(list_filter(
      |    string_split_regex(lower(text), '[ \t\n\r]+'),
      |    t -> length(t) > 0)) AS token
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
      |rk AS (SELECT cnt, CAST(row_number() OVER (ORDER BY cnt, token)
      |         AS BIGINT) AS i FROM c),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(SUM(cnt) AS BIGINT) AS total,
      |        CAST(SUM(i * cnt) AS BIGINT) AS ix
      |      FROM rk)
      |SELECT n AS n_tokens, total,
      |  round(2.0 * ix / CAST(n * total AS DOUBLE) -
      |    CAST(n + 1 AS DOUBLE) / n, 6) AS gini
      |FROM s""".stripMargin

  /** CDC materialization as a REAL streaming query, FULL oracle —
    * events reinterpreted as a change log (entity, monotonic version,
    * upsert/delete op), collapsed to the latest row per key by a
    * streaming struct-max aggregate in complete mode
    * (`streaming/StreamCdc.latest`); tombstoned entities drop at the
    * read side. The oracle replays via row_number by version. */
  private def streamCdcQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .select((col("user_id") % 20).as("entity"),
        col("event_id").as("ver"),
        when(col("event_id") % 17 === 0, "d").otherwise("u").as("op"),
        col("value"))
    val latest = streaming.StreamCdc.latest(stream, "entity", "ver",
      "op", "value")
    val name = "stream_cdc_sink"
    s.streams.active.filter(q => Option(q.name).contains(name))
      .foreach(_.stop())
    val q = latest.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name).filter(col("last_op") =!= "d")
      .select(col("entity"), col("last_version"), col("last_value"))
  }

  private val streamCdcSql =
    """WITH c AS (
      |  SELECT user_id % 20 AS entity, event_id AS ver,
      |    CASE WHEN event_id % 17 = 0 THEN 'd' ELSE 'u' END AS op, value
      |  FROM events),
      |b AS (SELECT entity, ver, op, value,
      |        row_number() OVER (PARTITION BY entity ORDER BY ver DESC)
      |          AS rn
      |      FROM c)
      |SELECT entity, ver AS last_version, value AS last_value
      |FROM b WHERE rn = 1 AND op <> 'd'""".stripMargin

  /** Bootstrap CI, FULL oracle — the percentile-method error bar for
    * an integer eval metric's mean, B = 200 deterministic resamples
    * through splitmix64 (`operators/EvalConstruct.bootstrapMeanCi`;
    * the oracle replays every draw through `Mix64Sql.ctes` over the
    * B·n slot range): exact resample sums, one correctly-rounded
    * division per mean, round-6 end to end. */
  private def bootstrapCiQ(s: SparkSession, dir: String): DataFrame =
    operators.EvalConstruct.bootstrapMeanCi(
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), ((col("doc_id") * 11) % 23).as("score")),
      "doc_id", "score", b = 200, seed = 42L)

  private val bootstrapCiSql: String =
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |sl AS (SELECT unnest(range(0, 200 * (SELECT n FROM nn))) AS slot),
       |${mix64Ctes("bs", "sl", Seq("slot"), "42 + slot")},
       |dr AS (SELECT slot // n AS b, CAST((z // 2048) % n AS BIGINT) AS idx
       |       FROM bs6, nn),
       |ix AS (SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1
       |         AS BIGINT) AS idx,
       |         CAST((doc_id * 11) % 23 AS BIGINT) AS v
       |       FROM documents),
       |mm AS (SELECT b, SUM(v) AS s2 FROM dr JOIN ix ON ix.idx = dr.idx
       |       GROUP BY b),
       |mr AS (SELECT b, CAST(s2 AS DOUBLE) / n AS mean FROM mm, nn),
       |rk AS (SELECT mean,
       |         CAST(row_number() OVER (ORDER BY mean, b) AS BIGINT) AS rnk
       |       FROM mr),
       |f AS (SELECT CAST(SUM(v) AS DOUBLE) / max(n) AS m
       |      FROM ix, nn)
       |SELECT (SELECT n FROM nn) AS n, CAST(200 AS BIGINT) AS b_resamples,
       |  round((SELECT m FROM f), 6) AS mean,
       |  round((SELECT mean FROM rk WHERE rnk = 6), 6) AS ci_lo,
       |  round((SELECT mean FROM rk WHERE rnk = 195), 6) AS ci_hi""".stripMargin

  /** Luhn PAN audit, FULL oracle — 13-19 digit runs filtered by the
    * ISO 7812 mod-10 check over a fixture embedding valid, invalid,
    * and incidental digit runs (`operators/Luhn.panScan`): a zero-UDF
    * regex + digit-fold scan; the oracle replays the fold with
    * list_transform over each candidate. */
  private def panLuhnQ(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val t2 = concat(col("text"),
      when(d % 3 === 0, lit(" card 4111111111111111"))
        .when(d % 3 === 1, lit(" ref 4111111111111112"))
        .otherwise(concat(lit(" id 10000000000"),
          lpad((d % 1000).cast("string"), 3, "0"))))
    operators.Luhn.panScan(
      Tables.read(s, dir, "documents").select(d, t2.as("t")), "doc_id", "t")
  }

  private val panLuhnSql =
    """WITH t AS (
      |  SELECT doc_id, text ||
      |    (CASE WHEN doc_id % 3 = 0 THEN ' card 4111111111111111'
      |          WHEN doc_id % 3 = 1 THEN ' ref 4111111111111112'
      |          ELSE ' id 10000000000' ||
      |            lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') END) AS t2
      |  FROM documents),
      |c AS (SELECT doc_id, regexp_extract_all(t2, '[0-9]{13,19}') AS cs
      |      FROM t),
      |v AS (SELECT doc_id, cs,
      |        list_filter(cs, p -> list_sum(list_transform(
      |          range(1, length(p) + 1),
      |          i -> CASE WHEN i % 2 = 0
      |            THEN CASE WHEN CAST(substr(reverse(p), i, 1) AS INT) * 2 > 9
      |              THEN CAST(substr(reverse(p), i, 1) AS INT) * 2 - 9
      |              ELSE CAST(substr(reverse(p), i, 1) AS INT) * 2 END
      |            ELSE CAST(substr(reverse(p), i, 1) AS INT) END)) % 10 = 0)
      |          AS vs
      |      FROM c)
      |SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_candidates,
      |  CAST(len(vs) AS BIGINT) AS n_valid,
      |  COALESCE(array_to_string(list_transform(vs,
      |    p -> substr(p, length(p) - 3, 4)), ','), '') AS valid_last4
      |FROM v""".stripMargin

  /** Topic-shift chunking, FULL oracle — TextTiling-style boundaries
    * where adjacent-sentence distinct-token Jaccard drops below tau
    * over a three-sentence fixture with engineered overlap
    * (`operators/SemanticChunk.chunk`): posexplode + one (doc, idx-1)
    * self-join + one doc-partitioned running sum; cohesion is an
    * exact rational (round-6). */
  private def semanticChunkQ(s: SparkSession, dir: String): DataFrame = {
    val t2 = concat_ws(". ",
      expr("substring(text, 1, 40)"),
      expr("substring(text, 21, 40)"),
      expr("substring(text, 81, 40)"))
    operators.SemanticChunk.chunk(
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), t2.as("t")),
      "doc_id", "t", tau = 0.2)
  }

  private val semanticChunkSql =
    """WITH t AS (
      |  SELECT doc_id, substr(text, 1, 40) || '. ' ||
      |    substr(text, 21, 40) || '. ' || substr(text, 81, 40) AS t2
      |  FROM documents WHERE text IS NOT NULL),
      |sx AS (SELECT doc_id, CAST(si AS BIGINT) AS sent_idx,
      |        list_distinct(list_filter(
      |          string_split_regex(lower(parts[si + 1]), '[ \t\n\r]+'),
      |          x -> length(x) > 0)) AS tk
      |      FROM (SELECT doc_id, parts,
      |              unnest(range(0, len(parts))) AS si
      |            FROM (SELECT doc_id, string_split(t2, '. ') AS parts
      |                  FROM t))),
      |pr AS (SELECT doc_id, sent_idx + 1 AS sent_idx, tk AS pk FROM sx),
      |j AS (SELECT s.doc_id, s.sent_idx,
      |        CASE WHEN p.pk IS NULL THEN NULL
      |          WHEN len(s.tk) + len(p.pk) -
      |            len(list_filter(s.tk, x -> list_contains(p.pk, x))) > 0
      |          THEN round(CAST(len(list_filter(s.tk,
      |              x -> list_contains(p.pk, x))) AS DOUBLE) /
      |            (len(s.tk) + len(p.pk) -
      |             len(list_filter(s.tk, x -> list_contains(p.pk, x)))), 6)
      |          ELSE 0.0 END AS cohesion
      |      FROM sx s LEFT JOIN pr p
      |        ON p.doc_id = s.doc_id AND p.sent_idx = s.sent_idx),
      |b AS (SELECT doc_id, sent_idx, cohesion,
      |        (cohesion IS NULL OR cohesion < 0.2) AS boundary FROM j)
      |SELECT doc_id, sent_idx, cohesion, boundary,
      |  CAST(SUM(CASE WHEN boundary THEN 1 ELSE 0 END) OVER (
      |    PARTITION BY doc_id ORDER BY sent_idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS chunk_id
      |FROM b""".stripMargin

  /** Split-conformal threshold, FULL oracle — qhat = the
    * ceil((n+1)·0.9)-th smallest calibration score (exact integer k)
    * plus the realized test coverage
    * (`operators/EvalConstruct.conformalThreshold`): one eval-sized
    * rank window + one test aggregate against the broadcast qhat. */
  private def conformalQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        ((col("doc_id") * 13) % 97).cast("double").as("score"))
    operators.EvalConstruct.conformalThreshold(
      d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
      "score", "doc_id", covNum = 9, covDen = 10)
  }

  private val conformalSql =
    """WITH d AS (SELECT doc_id, CAST((doc_id * 13) % 97 AS DOUBLE) AS score
      |           FROM documents),
      |cal AS (SELECT * FROM d WHERE doc_id % 2 = 0),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cal),
      |kk AS (SELECT CAST((9 * (n + 1) + 9) // 10 AS BIGINT) AS k FROM nn),
      |q AS (SELECT score AS qhat
      |      FROM (SELECT score, row_number() OVER (ORDER BY score, doc_id)
      |              AS r FROM cal), kk
      |      WHERE r = k)
      |SELECT (SELECT n FROM nn) AS n_cal, (SELECT k FROM kk) AS k,
      |  (SELECT qhat FROM q) AS qhat,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  round(AVG(CASE WHEN score <= (SELECT qhat FROM q)
      |    THEN 1.0 ELSE 0.0 END), 6) AS coverage
      |FROM d WHERE doc_id % 2 = 1""".stripMargin

  /** SCD2 history, FULL oracle — the type-2 dimension build over the
    * same CDC fixture as `stream_cdc` (`streaming/StreamCdc.scd2`):
    * per key each change carries [valid_from, valid_to) from a lead
    * window, is_current only on open non-tombstone rows. One key
    * shuffle. */
  private def scd2HistoryQ(s: SparkSession, dir: String): DataFrame =
    streaming.StreamCdc.scd2(
      Tables.read(s, dir, "events")
        .select((col("user_id") % 20).as("entity"),
          col("event_id").as("ver"),
          when(col("event_id") % 17 === 0, "d").otherwise("u").as("op"),
          col("value")),
      "entity", "ver", "op", "value")

  private val scd2HistorySql =
    """WITH c AS (
      |  SELECT user_id % 20 AS entity, event_id AS valid_from,
      |    CASE WHEN event_id % 17 = 0 THEN 'd' ELSE 'u' END AS op, value
      |  FROM events)
      |SELECT entity, valid_from, op, value,
      |  lead(valid_from) OVER w AS valid_to,
      |  (lead(valid_from) OVER w IS NULL AND op <> 'd') AS is_current
      |FROM c WINDOW w AS (PARTITION BY entity ORDER BY valid_from)"""
      .stripMargin

  /** Funnel analysis, FULL oracle — view -> click -> purchase with
    * strict first-touch ordering (`operators/Funnel.stages`): per step
    * one min-aggregate + one user-key join; each later step requires
    * an event strictly after the previous step's completion. */
  private def funnelStagesQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
    operators.Funnel.stages(
      ev.select(col("user_id"), Tables.tsUs(ev).as("us"),
        col("event_type")),
      "user_id", "us", "event_type", Seq("view", "click", "purchase"))
  }

  private val funnelStagesSql =
    """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS y
      |           FROM events),
      |s0 AS (SELECT u, min(t) AS d FROM e WHERE y = 'view' GROUP BY u),
      |s1 AS (SELECT e.u, min(e.t) AS d FROM e JOIN s0 ON s0.u = e.u
      |       WHERE e.y = 'click' AND e.t > s0.d GROUP BY e.u),
      |s2 AS (SELECT e.u, min(e.t) AS d FROM e JOIN s1 ON s1.u = e.u
      |       WHERE e.y = 'purchase' AND e.t > s1.d GROUP BY e.u),
      |n AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n0,
      |        (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
      |        (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2)
      |SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step, n0 AS n_users,
      |  CASE WHEN n0 > 0 THEN round(CAST(n0 AS DOUBLE) / n0, 6)
      |       ELSE 0.0 END AS conversion FROM n
      |UNION ALL SELECT 1, 'click', n1,
      |  CASE WHEN n0 > 0 THEN round(CAST(n1 AS DOUBLE) / n0, 6)
      |       ELSE 0.0 END FROM n
      |UNION ALL SELECT 2, 'purchase', n2,
      |  CASE WHEN n1 > 0 THEN round(CAST(n2 AS DOUBLE) / n1, 6)
      |       ELSE 0.0 END FROM n""".stripMargin

  /** Retention cohorts, FULL oracle — first-seen-week cohorts ×
    * week-offset activity in exact epoch-micros arithmetic
    * (`operators/Retention.cohorts`): first-seen aggregate, (user,
    * week) distinct, one user-key join, (cohort, offset) rollup,
    * broadcast cohort sizes. */
  private def retentionCohortsQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
    operators.Retention.cohorts(
      ev.select(col("user_id"), Tables.tsUs(ev).as("us")),
      "user_id", "us")
  }

  private val retentionCohortsSql =
    """WITH e AS (SELECT DISTINCT user_id AS u,
      |             epoch_us(ts) // 604800000000 AS w
      |           FROM events),
      |f AS (SELECT u, min(w) AS cw FROM e GROUP BY u),
      |sz AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_cohort
      |       FROM f GROUP BY cw),
      |a AS (SELECT f.cw, e.w - f.cw AS yoff, CAST(count(*) AS BIGINT)
      |        AS n_active
      |      FROM e JOIN f ON f.u = e.u GROUP BY 1, 2)
      |SELECT a.cw AS cohort_week, a.yoff AS week_offset, n_active,
      |  n_cohort,
      |  round(CAST(n_active AS DOUBLE) / n_cohort, 6) AS retention
      |FROM a JOIN sz ON sz.cw = a.cw""".stripMargin

  /** Judge length-bias probe, FULL oracle — per-judge Pearson r and
    * OLS slope of score vs response length over a dial where the
    * score partly tracks n_chars (`operators/RewardStats.lengthBias`):
    * one two-phase groupBy, exact integer moments, float4 closers. */
  private def judgeLengthBiasQ(s: SparkSession, dir: String): DataFrame =
    operators.RewardStats.lengthBias(
      Tables.read(s, dir, "documents")
        .select(concat(lit("j-"), col("doc_id") % 3).as("judge"),
          (col("n_chars") % 50 + (col("doc_id") * 7) % 11).as("score"),
          col("n_chars").as("resp_len")),
      "judge", "score", "resp_len")

  private val judgeLengthBiasSql =
    """WITH r AS (
      |  SELECT 'j-' || (doc_id % 3) AS judge,
      |    CAST(n_chars % 50 + (doc_id * 7) % 11 AS DOUBLE) AS y,
      |    CAST(n_chars AS DOUBLE) AS x
      |  FROM documents),
      |g AS (SELECT judge, CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx,
      |        SUM(y) AS sy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
      |        SUM(x * y) AS sxy
      |      FROM r GROUP BY judge)
      |SELECT judge, n,
      |  CAST(CASE WHEN (sxx - sx * sx / n) > 0 AND (syy - sy * sy / n) > 0
      |    THEN (sxy - sx * sy / n) /
      |         sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
      |  END AS REAL) AS len_corr,
      |  CAST(CASE WHEN (sxx - sx * sx / n) > 0
      |    THEN (sxy - sx * sy / n) / (sxx - sx * sx / n)
      |  END AS REAL) AS len_slope
      |FROM g""".stripMargin

  /** Judge position-bias probe, FULL oracle — per-judge first-position
    * win rate with its fair-coin z-score over three judges with
    * different engineered biases (`operators/RewardStats
    * .positionBias`): exact-rational rate (round-6), z float4. */
  private def judgePositionBiasQ(s: SparkSession, dir: String): DataFrame =
    operators.RewardStats.positionBias(
      Tables.read(s, dir, "documents")
        .select(concat(lit("j-"), col("doc_id") % 3).as("judge"),
          ((col("doc_id") * 13) % 97 <
            (lit(45) + (col("doc_id") % 3) * 10)).cast("int")
            .as("first_win")),
      "judge", "first_win")

  private val judgePositionBiasSql =
    """WITH r AS (
      |  SELECT 'j-' || (doc_id % 3) AS judge,
      |    CASE WHEN (doc_id * 13) % 97 < 45 + (doc_id % 3) * 10
      |         THEN 1 ELSE 0 END AS w
      |  FROM documents),
      |g AS (SELECT judge, CAST(count(*) AS BIGINT) AS n,
      |        CAST(SUM(w) AS BIGINT) AS wn
      |      FROM r GROUP BY judge)
      |SELECT judge, n,
      |  round(CAST(wn AS DOUBLE) / n, 6) AS first_win_rate,
      |  CAST((CAST(wn AS DOUBLE) / n - 0.5) / sqrt(0.25 / n) AS REAL) AS z
      |FROM g""".stripMargin

  /** Distinct-n diversity, FULL oracle — per-prompt distinct-1 and
    * distinct-2 over pooled generations
    * (`operators/EvalMetrics.distinctN`): one explode + one aggregate
    * per n, exact-rational ratios (round-6). */
  private def distinctNQ(s: SparkSession, dir: String): DataFrame =
    operators.EvalMetrics.distinctN(
      Tables.read(s, dir, "documents")
        .select(concat(lit("p-"), col("doc_id") % 40).as("prompt"),
          col("text")),
      "prompt", "text", ns = Seq(1, 2))

  private val distinctNSql =
    """WITH d AS (
      |  SELECT 'p-' || (doc_id % 40) AS prompt,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      t -> length(t) > 0)[1:64] AS ts
      |  FROM documents WHERE text IS NOT NULL),
      |g1 AS (SELECT prompt, unnest(ts) AS g FROM d),
      |a1 AS (SELECT prompt, CAST(count(*) AS BIGINT) AS total_1,
      |         CAST(count(DISTINCT g) AS BIGINT) AS uniq_1
      |       FROM g1 GROUP BY prompt),
      |g2 AS (SELECT prompt, unnest(CASE WHEN len(ts) >= 2
      |         THEN list_transform(range(1, len(ts)),
      |              i -> ts[i] || ' ' || ts[i + 1])
      |         ELSE [] END) AS g
      |       FROM d),
      |a2 AS (SELECT prompt, CAST(count(*) AS BIGINT) AS total_2,
      |         CAST(count(DISTINCT g) AS BIGINT) AS uniq_2
      |       FROM g2 GROUP BY prompt)
      |SELECT a1.prompt, total_1, uniq_1,
      |  round(CAST(uniq_1 AS DOUBLE) / total_1, 6) AS distinct_1,
      |  total_2, uniq_2,
      |  round(CAST(uniq_2 AS DOUBLE) / total_2, 6) AS distinct_2
      |FROM a1 JOIN a2 ON a2.prompt = a1.prompt""".stripMargin

  /** Welch t-test, FULL oracle — the A/B readout over an engineered
    * +2 lift on arm a (`operators/Experiment.abTtest`): one fused
    * scan-aggregate to both arms' moments; t and the Welch-
    * Satterthwaite dof emit float4. */
  private def abTtestQ(s: SparkSession, dir: String): DataFrame =
    operators.Experiment.abTtest(
      Tables.read(s, dir, "events")
        .select(when(col("event_id") % 2 === 0, "a").otherwise("b")
            .as("arm"),
          (((col("event_id") * 31) % 40) +
            when(col("event_id") % 2 === 0, 2).otherwise(0))
            .cast("long").as("metric")),
      "arm", "metric", armA = "a", armB = "b")

  private val abTtestSql =
    """WITH r AS (
      |  SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
      |    CAST((event_id * 31) % 40 +
      |      (CASE WHEN event_id % 2 = 0 THEN 2 ELSE 0 END) AS DOUBLE) AS v
      |  FROM events),
      |g AS (SELECT
      |  CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |  SUM(CASE WHEN arm = 'a' THEN v ELSE 0 END) AS sa,
      |  SUM(CASE WHEN arm = 'a' THEN v * v ELSE 0 END) AS qa,
      |  CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |  SUM(CASE WHEN arm = 'b' THEN v ELSE 0 END) AS sb,
      |  SUM(CASE WHEN arm = 'b' THEN v * v ELSE 0 END) AS qb
      |  FROM r),
      |m AS (SELECT na, nb, sa / na AS ma, sb / nb AS mb,
      |        greatest((qa - sa * (sa / na)) / (na - 1.0), 0.0) AS va,
      |        greatest((qb - sb * (sb / nb)) / (nb - 1.0), 0.0) AS vb
      |      FROM g)
      |SELECT na AS n_a, nb AS n_b, CAST(ma AS REAL) AS mean_a,
      |  CAST(mb AS REAL) AS mean_b,
      |  CAST(CASE WHEN va / na + vb / nb > 0
      |    THEN (ma - mb) / sqrt(va / na + vb / nb) END AS REAL) AS t,
      |  CAST(CASE WHEN va / na + vb / nb > 0
      |    THEN ((va / na + vb / nb) * (va / na + vb / nb)) /
      |         ((va / na) * (va / na) / (na - 1.0) +
      |          (vb / nb) * (vb / nb) / (nb - 1.0)) END AS REAL) AS dof
      |FROM m""".stripMargin

  /** CUPED adjustment, FULL oracle — pre-period variance reduction
    * over a correlated (pre, post) dial with an arm-a lift
    * (`operators/Experiment.cuped`): per-arm moments + one broadcast
    * global-moments row; theta and all outputs from moment
    * identities, float4. */
  private def cupedQ(s: SparkSession, dir: String): DataFrame = {
    val pre = ((col("event_id") * 7) % 30).cast("double")
    val post = pre + ((col("event_id") * 13) % 11).cast("double") +
      when(col("event_id") % 2 === 0, 3.0).otherwise(0.0)
    operators.Experiment.cuped(
      Tables.read(s, dir, "events")
        .select(when(col("event_id") % 2 === 0, "a").otherwise("b")
            .as("arm"), pre.as("pre"), post.as("post")),
      "arm", "pre", "post")
  }

  private val cupedSql =
    """WITH r AS (
      |  SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
      |    CAST((event_id * 7) % 30 AS DOUBLE) AS x,
      |    CAST((event_id * 7) % 30 AS DOUBLE) +
      |      CAST((event_id * 13) % 11 AS DOUBLE) +
      |      (CASE WHEN event_id % 2 = 0 THEN 3.0 ELSE 0.0 END) AS y
      |  FROM events),
      |gl AS (SELECT CAST(count(*) AS BIGINT) AS gn, SUM(x) AS gsx,
      |         SUM(y) AS gsy, SUM(x * x) AS gsxx, SUM(x * y) AS gsxy
      |       FROM r),
      |g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx,
      |        SUM(y) AS sy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
      |        SUM(x * y) AS sxy
      |      FROM r GROUP BY arm),
      |m AS (SELECT arm, n, sx / n AS mx, sy / n AS my,
      |        syy / n - (sy / n) * (sy / n) AS vy,
      |        sxx / n - (sx / n) * (sx / n) AS vx,
      |        sxy / n - (sx / n) * (sy / n) AS cxy,
      |        gsx / gn AS gmx,
      |        CASE WHEN gsxx / gn - (gsx / gn) * (gsx / gn) > 0
      |          THEN (gsxy / gn - (gsx / gn) * (gsy / gn)) /
      |               (gsxx / gn - (gsx / gn) * (gsx / gn))
      |          ELSE 0.0 END AS theta
      |      FROM g, gl)
      |SELECT arm, n, CAST(my AS REAL) AS mean_post,
      |  CAST(my - theta * (mx - gmx) AS REAL) AS mean_adj,
      |  CAST(CASE WHEN vy > 0
      |    THEN (vy + theta * theta * vx - 2.0 * theta * cxy) / vy
      |  END AS REAL) AS var_ratio
      |FROM m""".stripMargin

  /** SRM check, FULL oracle — sample-ratio mismatch over a deliberate
    * 49/51 split declared as 50/50
    * (`operators/Experiment.srmCheck`): per-arm observed vs exact
    * rational expected and the chi-square contribution, round-6. */
  private def srmCheckQ(s: SparkSession, dir: String): DataFrame =
    operators.Experiment.srmCheck(
      Tables.read(s, dir, "events")
        .select(when(col("event_id") % 100 < 49, "a").otherwise("b")
          .as("arm")),
      "arm", Seq(("a", 1, 2), ("b", 1, 2)))

  private val srmCheckSql =
    """WITH r AS (
      |  SELECT CASE WHEN event_id % 100 < 49 THEN 'a' ELSE 'b' END AS arm
      |  FROM events),
      |c AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_obs
      |      FROM r GROUP BY arm),
      |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS tot FROM c)
      |SELECT arm, n_obs,
      |  round(CAST(tot AS DOUBLE) * 1 / 2, 6) AS n_expected,
      |  round((CAST(n_obs AS DOUBLE) - CAST(tot AS DOUBLE) * 1 / 2) *
      |        (CAST(n_obs AS DOUBLE) - CAST(tot AS DOUBLE) * 1 / 2) /
      |        (CAST(tot AS DOUBLE) * 1 / 2), 6) AS chi2_contrib
      |FROM c, t""".stripMargin

  /** Daily event counts — the shared |days|-sized series the
    * time-series diagnostics run over (one rollup shuffle). */
  private def dailyCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
    val us = Tables.tsUs(ev)
    val day = 86400000000L
    // exact integer day: (us - us % day) is exactly divisible, so the
    // double quotient is exact below 2^53
    ev.select(((us - us % day) / day).cast("long").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("v"))
  }

  /** Forecast accuracy, FULL oracle — MAE/RMSE/sMAPE/MASE of the
    * seasonal-naive (lag-7) forecast of daily event counts
    * (`operators/TimeSeries.forecastAccuracy`): windows over the
    * |days|-sized series only; all metrics float4. */
  private def forecastAccuracyQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withF = dailyCounts(s, dir)
      .withColumn("f", lag(col("v"), 7).over(Window.orderBy(col("d"))))
    operators.TimeSeries.forecastAccuracy(withF, "d", "v", "f")
  }

  private val forecastAccuracySql =
    """WITH s AS (SELECT epoch_us(ts) // 86400000000 AS d,
      |             CAST(count(*) AS BIGINT) AS v
      |           FROM events GROUP BY 1),
      |ff AS (SELECT d, v, lag(v, 7) OVER (ORDER BY d) AS fc FROM s),
      |b AS (SELECT d, CAST(v AS DOUBLE) AS a, CAST(fc AS DOUBLE) AS f
      |      FROM ff WHERE fc IS NOT NULL),
      |n AS (SELECT d, a, f, abs(a - lag(a) OVER (ORDER BY d)) AS ne
      |      FROM b)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(AVG(abs(a - f)) AS REAL) AS mae,
      |  CAST(sqrt(AVG(abs(a - f) * abs(a - f))) AS REAL) AS rmse,
      |  CAST(AVG(CASE WHEN abs(a) + abs(f) > 0
      |    THEN 2.0 * abs(a - f) / (abs(a) + abs(f)) END) AS REAL) AS smape,
      |  CAST(CASE WHEN AVG(ne) > 0 THEN AVG(abs(a - f)) / AVG(ne) END
      |    AS REAL) AS mase
      |FROM n""".stripMargin

  /** Seasonal decomposition, FULL oracle — classical additive
    * trend/seasonal/residual with a centered 7-day moving average
    * over daily counts (`operators/TimeSeries.seasonalDecompose`):
    * edge days have NULL trend, per-phase seasonal means from the
    * detrended interior; everything float4. */
  private def seasonalDecomposeQ(s: SparkSession, dir: String): DataFrame =
    operators.TimeSeries.seasonalDecompose(dailyCounts(s, dir), "d", "v",
      period = 7)

  private val seasonalDecomposeSql =
    """WITH s AS (SELECT epoch_us(ts) // 86400000000 AS d,
      |             CAST(count(*) AS BIGINT) AS v
      |           FROM events GROUP BY 1),
      |t AS (SELECT d, CAST(v AS DOUBLE) AS v,
      |        count(*) OVER w7 AS cnt,
      |        AVG(CAST(v AS DOUBLE)) OVER w7 AS ma
      |      FROM s WINDOW w7 AS (ORDER BY d
      |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |u AS (SELECT d, v, CASE WHEN cnt = 7 THEN ma END AS trend,
      |        d % 7 AS ph
      |      FROM t),
      |se AS (SELECT ph, AVG(v - trend) AS seas FROM u
      |       WHERE trend IS NOT NULL GROUP BY ph)
      |SELECT d, u.v AS value, CAST(trend AS REAL) AS trend,
      |  CAST(CASE WHEN trend IS NOT NULL THEN seas END AS REAL)
      |    AS seasonal,
      |  CAST(CASE WHEN trend IS NOT NULL THEN (u.v - trend) - seas END
      |    AS REAL) AS residual
      |FROM u LEFT JOIN se ON se.ph = u.ph""".stripMargin

  /** CUSUM changepoint, FULL oracle — the level-shift locator over
    * daily counts with a +40 step injected mid-series
    * (`operators/TimeSeries.cusumChangepoint`): an ordered running
    * sum over |days| rows (bit-identical across engines — same
    * summation order), argmax |S| with smallest-index tiebreak. */
  private def cusumChangepointQ(s: SparkSession, dir: String): DataFrame =
    operators.TimeSeries.cusumChangepoint(
      dailyCounts(s, dir)
        .select(col("d"),
          (col("v") + when(col("d") >= 19738, 40L).otherwise(0L)).as("v")),
      "d", "v")

  private val cusumChangepointSql =
    """WITH s AS (SELECT epoch_us(ts) // 86400000000 AS d,
      |             CAST(count(*) AS BIGINT) AS v
      |           FROM events GROUP BY 1),
      |x AS (SELECT d, CAST(v + CASE WHEN d >= 19738 THEN 40 ELSE 0 END
      |        AS DOUBLE) AS v
      |      FROM s),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        SUM(v) / count(*) AS mean FROM x),
      |c AS (SELECT d, SUM(v - (SELECT mean FROM m)) OVER (ORDER BY d
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1
      |      FROM x),
      |r AS (SELECT d, s1,
      |        row_number() OVER (ORDER BY abs(s1) DESC, d) AS rn
      |      FROM c)
      |SELECT (SELECT n FROM m) AS n,
      |  CAST((SELECT mean FROM m) AS REAL) AS mean,
      |  CAST((SELECT max(abs(s1)) FROM c) AS REAL) AS max_cusum,
      |  (SELECT d FROM r WHERE rn = 1) AS changepoint_idx""".stripMargin

  /** Difference-in-differences, FULL oracle — the 2x2 quasi-
    * experimental contrast over a dial with a common trend plus a
    * treated-post lift of exactly 5
    * (`operators/Experiment.diffInDiff`): one fused scan-aggregate;
    * means and the estimate float4. */
  private def diffInDiffQ(s: SparkSession, dir: String): DataFrame =
    operators.Experiment.diffInDiff(
      Tables.read(s, dir, "events")
        .select(when(col("user_id") % 2 === 0, "T").otherwise("C")
            .as("arm"),
          (col("event_id") % 2).cast("int").as("period"),
          (((col("event_id") * 31) % 40).cast("double") +
            (col("event_id") % 2).cast("double") * 2.0 +
            when(col("user_id") % 2 === 0 && col("event_id") % 2 === 1,
              5.0).otherwise(0.0)).as("value")),
      "arm", "period", "value", armT = "T", armC = "C")

  private val diffInDiffSql =
    """WITH r AS (
      |  SELECT CASE WHEN user_id % 2 = 0 THEN 'T' ELSE 'C' END AS arm,
      |    event_id % 2 AS p,
      |    CAST((event_id * 31) % 40 AS DOUBLE) +
      |      CAST(event_id % 2 AS DOUBLE) * 2.0 +
      |      (CASE WHEN user_id % 2 = 0 AND event_id % 2 = 1
      |            THEN 5.0 ELSE 0.0 END) AS v
      |  FROM events),
      |g AS (SELECT
      |  CAST(SUM(CASE WHEN arm = 'C' AND p = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS nc0,
      |  SUM(CASE WHEN arm = 'C' AND p = 0 THEN v ELSE 0 END) AS sc0,
      |  CAST(SUM(CASE WHEN arm = 'C' AND p = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS nc1,
      |  SUM(CASE WHEN arm = 'C' AND p = 1 THEN v ELSE 0 END) AS sc1,
      |  CAST(SUM(CASE WHEN arm = 'T' AND p = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS nt0,
      |  SUM(CASE WHEN arm = 'T' AND p = 0 THEN v ELSE 0 END) AS st0,
      |  CAST(SUM(CASE WHEN arm = 'T' AND p = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS nt1,
      |  SUM(CASE WHEN arm = 'T' AND p = 1 THEN v ELSE 0 END) AS st1
      |  FROM r)
      |SELECT nc0 + nc1 + nt0 + nt1 AS n,
      |  CAST(sc0 / nc0 AS REAL) AS mean_c_pre,
      |  CAST(sc1 / nc1 AS REAL) AS mean_c_post,
      |  CAST(st0 / nt0 AS REAL) AS mean_t_pre,
      |  CAST(st1 / nt1 AS REAL) AS mean_t_post,
      |  CAST((st1 / nt1 - st0 / nt0) - (sc1 / nc1 - sc0 / nc0) AS REAL)
      |    AS did
      |FROM g""".stripMargin

  /** One-way ANOVA F, FULL oracle — five event-type arms with
    * length-of-name shifts (`operators/Experiment.anovaF`): per-arm
    * moments then one closing aggregate; SSB/SSW/F float4. */
  private def anovaFQ(s: SparkSession, dir: String): DataFrame =
    operators.Experiment.anovaF(
      Tables.read(s, dir, "events")
        .select(col("event_type").as("arm"),
          (((col("event_id") * 31) % 40) + length(col("event_type")))
            .cast("double").as("v")),
      "arm", "v")

  private val anovaFSql =
    """WITH r AS (
      |  SELECT event_type AS arm,
      |    CAST((event_id * 31) % 40 + length(event_type) AS DOUBLE) AS v
      |  FROM events),
      |g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, SUM(v) AS s,
      |        SUM(v * v) AS q
      |      FROM r GROUP BY arm),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |        CAST(SUM(n) AS BIGINT) AS n, SUM(s) AS ts,
      |        SUM(s * s / n) AS b, SUM(q - s * s / n) AS w
      |      FROM g)
      |SELECT k, n, CAST(b - ts * ts / n AS REAL) AS ssb,
      |  CAST(w AS REAL) AS ssw,
      |  CAST(CASE WHEN k > 1 AND w > 0
      |    THEN ((b - ts * ts / n) / (k - 1.0)) / (w / (n - k)) END AS REAL)
      |    AS f
      |FROM a""".stripMargin

  /** Benjamini-Hochberg FDR, FULL oracle — step-up correction at
    * q = 1/10 over a p-value dial where every tenth test carries a
    * genuine sub-0.0005 signal
    * (`operators/EvalConstruct.benjaminiHochberg`): one
    * suite-sized rank window, broadcast k*, exact-rational
    * thresholds. */
  private def bhFdrQ(s: SparkSession, dir: String): DataFrame =
    operators.EvalConstruct.benjaminiHochberg(
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0,
            ((col("doc_id") * 13) % 50).cast("double") / 100000.0)
            .otherwise(((col("doc_id") * 13) % 1000).cast("double") / 1000.0)
            .as("p")),
      "doc_id", "p", qNum = 1, qDen = 10)

  private val bhFdrSql =
    """WITH r AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 0
      |      THEN CAST((doc_id * 13) % 50 AS DOUBLE) / 100000.0
      |      ELSE CAST((doc_id * 13) % 1000 AS DOUBLE) / 1000.0 END AS p
      |  FROM documents),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM r),
      |rk AS (SELECT doc_id, p,
      |         CAST(row_number() OVER (ORDER BY p, doc_id) AS BIGINT)
      |           AS rank
      |       FROM r),
      |o AS (SELECT doc_id, p, rank,
      |        p <= CAST(rank AS DOUBLE) * 1 / 10 / m AS ok
      |      FROM rk, m),
      |k AS (SELECT COALESCE(MAX(CASE WHEN ok THEN rank END),
      |        CAST(0 AS BIGINT)) AS ks FROM o)
      |SELECT doc_id, p, rank, rank <= ks AS rejected
      |FROM o, k""".stripMargin

  /** Kaplan-Meier, FULL oracle — the survival curve over a
    * closed-form (time, event/censor) dial
    * (`operators/Survival.kaplanMeier`): the stream collapses to one
    * row per distinct time first; at-risk counts and the exp-of-
    * log-sum product run over |times| rows; survival float4. */
  private def survivalKmQ(s: SparkSession, dir: String): DataFrame =
    operators.Survival.kaplanMeier(
      Tables.read(s, dir, "events")
        .select(((col("event_id") * 7) % 50 + 1).as("t"),
          (col("event_id") % 4 =!= 0).cast("int").as("e")),
      "t", "e")

  private val survivalKmSql =
    """WITH r AS (
      |  SELECT CAST((event_id * 7) % 50 + 1 AS BIGINT) AS t,
      |    CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END AS e
      |  FROM events),
      |g AS (SELECT t,
      |        CAST(SUM(CASE WHEN e = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |        CAST(SUM(CASE WHEN e = 1 THEN 0 ELSE 1 END) AS BIGINT) AS c
      |      FROM r GROUP BY t),
      |w AS (SELECT t, d, c,
      |        SUM(d + c) OVER () -
      |          COALESCE(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN
      |            UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |      FROM g),
      |s AS (SELECT t, d, c, n_risk,
      |        MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
      |          OVER rw AS dead,
      |        SUM(CASE WHEN d > 0 AND d < n_risk
      |          THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
      |          ELSE 0.0 END) OVER rw AS ls
      |      FROM w WINDOW rw AS (ORDER BY t ROWS BETWEEN
      |        UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d AS d_events,
      |  c AS n_censored,
      |  CAST(CASE WHEN dead = 1 THEN 0.0 ELSE exp(ls) END AS REAL)
      |    AS survival
      |FROM s WHERE d > 0""".stripMargin

  /** IPS off-policy estimates, FULL oracle — IPS/SNIPS/clipped-IPS
    * and the effective sample size over a logged-propensity dial
    * where clipping genuinely binds
    * (`operators/OffPolicy.ipsEstimate`): one single-pass aggregate,
    * float4 outputs. */
  private def ipsEstimateQ(s: SparkSession, dir: String): DataFrame =
    operators.OffPolicy.ipsEstimate(
      Tables.read(s, dir, "documents")
        .select(((col("doc_id") * 13) % 5).cast("double").as("reward"),
          (((col("doc_id") * 7) % 9 + 1).cast("double") / 10.0).as("pl"),
          (((col("doc_id") * 11) % 9 + 1).cast("double") / 10.0).as("pt")),
      "reward", "pl", "pt", clip = 2.0)

  private val ipsEstimateSql =
    """WITH r AS (
      |  SELECT CAST((doc_id * 13) % 5 AS DOUBLE) AS rw,
      |    CAST((doc_id * 7) % 9 + 1 AS DOUBLE) / 10.0 AS pl,
      |    CAST((doc_id * 11) % 9 + 1 AS DOUBLE) / 10.0 AS pt
      |  FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(AVG((pt / pl) * rw) AS REAL) AS ips,
      |  CAST(SUM((pt / pl) * rw) / SUM(pt / pl) AS REAL) AS snips,
      |  CAST(AVG(least(pt / pl, 2.0) * rw) AS REAL) AS clipped_ips,
      |  CAST(SUM(pt / pl) * SUM(pt / pl) /
      |       SUM((pt / pl) * (pt / pl)) AS REAL) AS ess
      |FROM r""".stripMargin

  /** ACF, FULL oracle — the correlogram at lags 1..7 of daily event
    * counts (`operators/TimeSeries.autocorrelation`): global-mean
    * centered, biased denominator, one series-sized lag window per
    * lag; acf float4. */
  private def acfDailyQ(s: SparkSession, dir: String): DataFrame =
    operators.TimeSeries.autocorrelation(dailyCounts(s, dir), "d", "v",
      maxLag = 7)

  private val acfDailySql: String = {
    def one(l: Int) =
      s"""SELECT CAST($l AS BIGINT) AS lag,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(c * pc$l) / (SELECT den FROM dn) AS REAL) AS acf
         |FROM w WHERE pc$l IS NOT NULL""".stripMargin
    s"""WITH s AS (SELECT epoch_us(ts) // 86400000000 AS d,
       |             CAST(count(*) AS BIGINT) AS v
       |           FROM events GROUP BY 1),
       |m AS (SELECT SUM(CAST(v AS DOUBLE)) / count(*) AS mean FROM s),
       |c0 AS (SELECT d, CAST(v AS DOUBLE) - (SELECT mean FROM m) AS c
       |       FROM s),
       |w AS (SELECT d, c,
       |        ${(1 to 7).map(l =>
             s"lag(c, $l) OVER (ORDER BY d) AS pc$l").mkString(", ")}
       |      FROM c0),
       |dn AS (SELECT SUM(c * c) AS den FROM c0)
       |${(1 to 7).map(one).mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Theil-Sen slope, FULL oracle — the robust trend of daily counts
    * with an injected +3/day drift
    * (`operators/TimeSeries.theilSenSlope`): |days|² pairwise slopes,
    * lower-median pick with total tiebreaks, round-6 of an exact
    * division. */
  private def theilSenQ(s: SparkSession, dir: String): DataFrame =
    operators.TimeSeries.theilSenSlope(
      dailyCounts(s, dir)
        .select(col("d"), (col("v") + col("d") * 3).as("v")),
      "d", "v")

  private val theilSenSql =
    """WITH s AS (SELECT epoch_us(ts) // 86400000000 AS d,
      |             CAST(count(*) AS BIGINT) AS v
      |           FROM events GROUP BY 1),
      |x AS (SELECT d, CAST(v + d * 3 AS DOUBLE) AS v FROM s),
      |p AS (SELECT a.d AS dl, b.d AS dr,
      |        (b.v - a.v) / CAST(b.d - a.d AS DOUBLE) AS sl
      |      FROM x a JOIN x b ON a.d < b.d),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS np FROM x),
      |rk AS (SELECT sl,
      |         CAST(row_number() OVER (ORDER BY sl, dl, dr) AS BIGINT)
      |           AS rk
      |       FROM p),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS tp FROM rk)
      |SELECT (SELECT np FROM n) AS n_points, (SELECT tp FROM t) AS n_pairs,
      |  round((SELECT sl FROM rk, t WHERE rk = (tp + 1) // 2), 6) AS slope"""
      .stripMargin

  /** Caliper propensity matching, FULL oracle — 1-NN within-caliper
    * matching through the banded block join
    * (`operators/Experiment.propensityMatch`); the oracle PROVES the
    * blocking loses nothing by brute-forcing all treated x control
    * pairs in DuckDB and picking the same (|diff|, id) minimum. */
  private def propensityMatchQ(s: SparkSession, dir: String): DataFrame =
    operators.Experiment.propensityMatch(
      Tables.read(s, dir, "events")
        .select(when(col("user_id") % 2 === 0, "T").otherwise("C")
            .as("arm"),
          col("event_id").as("id"),
          (((col("event_id") * 31) % 1000).cast("double") / 1000.0)
            .as("score"),
          ((col("event_id") * 13) % 20).cast("double").as("y")),
      "arm", "id", "score", "y", armT = "T", armC = "C", caliper = 0.01)

  private val propensityMatchSql =
    """WITH r AS (
      |  SELECT CASE WHEN user_id % 2 = 0 THEN 'T' ELSE 'C' END AS arm,
      |    event_id AS id,
      |    CAST((event_id * 31) % 1000 AS DOUBLE) / 1000.0 AS s,
      |    CAST((event_id * 13) % 20 AS DOUBLE) AS y
      |  FROM events),
      |tt AS (SELECT id AS t_id, s AS ts, y AS yt FROM r WHERE arm = 'T'),
      |cc AS (SELECT id AS c_id, s AS cs, y AS yc FROM r WHERE arm = 'C'),
      |j AS (SELECT t_id, c_id, abs(ts - cs) AS d, yt, yc
      |      FROM tt, cc WHERE abs(ts - cs) <= 0.01),
      |b AS (SELECT *, row_number() OVER (PARTITION BY t_id
      |        ORDER BY d, c_id) AS rn FROM j)
      |SELECT t_id, c_id, round(d, 6) AS score_diff, yt AS y_t, yc AS y_c
      |FROM b WHERE rn = 1""".stripMargin

  /** Ljung-Box, FULL oracle — the white-noise portmanteau at h = 7
    * over daily counts (`operators/TimeSeries.ljungBox`): the same
    * centered series as the ACF, Q = n(n+2)Σ r_k²/(n-k) float4. */
  private def ljungBoxQ(s: SparkSession, dir: String): DataFrame =
    operators.TimeSeries.ljungBox(dailyCounts(s, dir), "d", "v", h = 7)

  private val ljungBoxSql: String = {
    val terms = (1 to 7).map(l =>
      s"(num$l / den) * (num$l / den) / (nd - $l)").mkString(" + ")
    s"""WITH s AS (SELECT epoch_us(ts) // 86400000000 AS d,
       |             CAST(count(*) AS BIGINT) AS v
       |           FROM events GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
       |        SUM(CAST(v AS DOUBLE)) / count(*) AS mean FROM s),
       |c0 AS (SELECT d, CAST(v AS DOUBLE) - (SELECT mean FROM m) AS c
       |       FROM s),
       |w AS (SELECT d, c,
       |        ${(1 to 7).map(l =>
             s"lag(c, $l) OVER (ORDER BY d) AS p$l").mkString(", ")}
       |      FROM c0),
       |a AS (SELECT SUM(c * c) AS den,
       |        ${(1 to 7).map(l =>
             s"SUM(c * p$l) AS num$l").mkString(", ")}
       |      FROM w),
       |f AS (SELECT (SELECT nd FROM m) AS nd, a.* FROM a)
       |SELECT CAST(nd AS BIGINT) AS n, CAST(7 AS BIGINT) AS h,
       |  CAST(nd * (nd + 2.0) * ($terms) AS REAL) AS q_stat
       |FROM f""".stripMargin
  }

  /** Markov transitions, FULL oracle — the per-user event-type
    * first-order chain (`operators/Markov.transitions`): one user-key
    * lead window, one (state, next) groupBy, exact-rational row
    * probabilities. */
  private def markovTransitionsQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
    operators.Markov.transitions(
      ev.select(col("user_id"), Tables.tsUs(ev).as("us"),
        col("event_id"), col("event_type")),
      "user_id", "us", "event_id", "event_type")
  }

  private val markovTransitionsSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
      |             event_type
      |           FROM events),
      |w AS (SELECT event_type AS state,
      |        lead(event_type) OVER (PARTITION BY user_id
      |          ORDER BY us, event_id) AS next
      |      FROM e),
      |g AS (SELECT state, next, CAST(count(*) AS BIGINT) AS n
      |      FROM w WHERE next IS NOT NULL GROUP BY state, next)
      |SELECT state, next, n,
      |  round(CAST(n AS DOUBLE) /
      |    SUM(n) OVER (PARTITION BY state), 6) AS prob
      |FROM g""".stripMargin

  /** KNN-Shapley data valuation, FULL oracle — the closed-form Shapley
    * value of every training embedding for a 10-NN classifier utility
    * (Jia et al. VLDB 2019, `operators/DataValuation.knnShapley`):
    * three probe points (vec_id &lt; 3), quantized-integer distances so
    * every rank is engine-exact, one rank window + one descending
    * running sum; values float4. */
  private def knnShapleyQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    operators.DataValuation.knnShapley(
      e.filter(col("vec_id") >= 3), e.filter(col("vec_id") < 3),
      "vec_id", "embedding", "label", k = 10)
  }

  private val knnShapleySql =
    """WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding::DOUBLE[],
      |      x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS iv
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, label AS qy, iv AS qv
      |      FROM e WHERE vec_id < 3),
      |t AS (SELECT vec_id AS id, label AS y, iv FROM e WHERE vec_id >= 3),
      |d AS (SELECT q.qid, t.id,
      |        CASE WHEN t.y = q.qy THEN 1 ELSE 0 END AS m,
      |        list_reduce(list_prepend(0::BIGINT,
      |          list_transform(range(1, 65),
      |            i -> (t.iv[i] - q.qv[i]) * (t.iv[i] - q.qv[i]))),
      |          (a, b) -> a + b) AS sq
      |      FROM t, q),
      |r AS (SELECT qid, id, m,
      |        row_number() OVER (PARTITION BY qid ORDER BY sq, id) AS rnk,
      |        count(*) OVER (PARTITION BY qid) AS n,
      |        lead(m) OVER (PARTITION BY qid ORDER BY sq, id) AS lm
      |      FROM d),
      |v AS (SELECT qid, id, rnk, m, n,
      |        CASE WHEN lm IS NULL THEN 0.0
      |          ELSE CAST((m - lm) * least(rnk, 10) AS DOUBLE) / (rnk * 10)
      |        END AS delta,
      |        SUM(CASE WHEN rnk = n THEN CAST(m AS DOUBLE) / n ELSE 0.0 END)
      |          OVER (PARTITION BY qid) AS tail
      |      FROM r)
      |SELECT qid, id, CAST(rnk AS BIGINT) AS rnk,
      |  CAST(m AS BIGINT) AS matches,
      |  CAST(tail + SUM(delta) OVER (PARTITION BY qid ORDER BY rnk DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS REAL)
      |    AS value
      |FROM v""".stripMargin

  /** Greedy k-center coreset, FULL oracle — 8 rounds of
    * farthest-point selection over the embeddings (Gonzalez 1985;
    * `operators/DataValuation.kcenterCoreset`), exact quantized
    * squared-L2 so the selection path and covering radii are
    * engine-deterministic integers. */
  private def kcenterCoresetQ(s: SparkSession, dir: String): DataFrame =
    operators.DataValuation.kcenterCoreset(
      Tables.read(s, dir, "embeddings"), "vec_id", "embedding", k = 8)

  private val kcenterCoresetSql: String = {
    val sq = (l: String, r: String) =>
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 65),
         |  i -> ($l.iv[i] - $r.iv[i]) * ($l.iv[i] - $r.iv[i]))),
         |  (a, b) -> a + b)""".stripMargin
    val steps = (2 to 8).map { i =>
      val prev = (1 until i).map(j => s"SELECT id FROM c$j")
        .mkString(" UNION ALL ")
      s"""c$i AS MATERIALIZED (SELECT id, iv, md FROM d${i - 1}
         |  WHERE id NOT IN ($prev)
         |  ORDER BY md DESC, id LIMIT 1),
         |d$i AS MATERIALIZED (SELECT d.id, d.iv,
         |  least(d.md, ${sq("d", "c")}) AS md FROM d${i - 1} d, c$i c)"""
        .stripMargin
    }.mkString(",\n")
    val out = (2 to 8).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, id, md AS radius_sq FROM c$i")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id AS id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS iv
       |  FROM embeddings),
       |c1 AS MATERIALIZED (SELECT id, iv FROM e ORDER BY id LIMIT 1),
       |d1 AS MATERIALIZED (SELECT e.id, e.iv, ${sq("e", "c")} AS md
       |  FROM e, c1 c),
       |$steps
       |SELECT CAST(1 AS BIGINT) AS step, id,
       |  CAST(-1 AS BIGINT) AS radius_sq FROM c1
       |UNION ALL
       |$out""".stripMargin
  }

  /** Facility-location greedy selection, FULL oracle — 5 rounds of
    * the submodular total-distance objective over a 1-in-8 candidate
    * pool (`operators/DataValuation.facilitySelect`): exact integer
    * distances and totals, the oracle replays the selection path with
    * the same cached |points|x|pool| table. */
  private def facilitySelectQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    operators.DataValuation.facilitySelect(e,
      e.filter(col("vec_id") % 8 === 0), "vec_id", "embedding", k = 5)
  }

  private val facilitySelectSql: String = {
    val sq =
      """list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 65),
        |    i -> (e.iv[i] - c.iv[i]) * (e.iv[i] - c.iv[i]))),
        |    (a, b) -> a + b)""".stripMargin
    val steps = (2 to 5).map { i =>
      val p = i - 1
      val prev = (1 until i).map(j => s"SELECT cid FROM c$j")
        .mkString(" UNION ALL ")
      s""",
         |s$i AS MATERIALIZED (
         |  SELECT dm.cid, CAST(SUM(LEAST(cur$p.cur, dm.d)) AS BIGINT) AS tot
         |  FROM dm JOIN cur$p ON dm.jid = cur$p.jid
         |  WHERE dm.cid NOT IN ($prev) GROUP BY dm.cid),
         |c$i AS MATERIALIZED (SELECT cid, tot FROM s$i
         |  ORDER BY tot, cid LIMIT 1),
         |cur$i AS MATERIALIZED (
         |  SELECT cur$p.jid, LEAST(cur$p.cur, dm.d) AS cur
         |  FROM cur$p JOIN dm ON dm.jid = cur$p.jid
         |  JOIN c$i ON dm.cid = c$i.cid)""".stripMargin
    }.mkString
    val out = (2 to 5).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, cid AS id, tot AS total_sq FROM c$i")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id AS id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS iv
       |  FROM embeddings),
       |cand AS MATERIALIZED (SELECT id, iv FROM e WHERE id % 8 = 0),
       |dm AS MATERIALIZED (SELECT e.id AS jid, c.id AS cid, $sq AS d
       |  FROM e, cand c),
       |s1 AS MATERIALIZED (SELECT cid, CAST(SUM(d) AS BIGINT) AS tot
       |  FROM dm GROUP BY cid),
       |c1 AS MATERIALIZED (SELECT cid, tot FROM s1 ORDER BY tot, cid LIMIT 1),
       |cur1 AS MATERIALIZED (SELECT dm.jid, dm.d AS cur FROM dm
       |  JOIN c1 ON dm.cid = c1.cid)$steps
       |SELECT CAST(1 AS BIGINT) AS step, cid AS id, tot AS total_sq FROM c1
       |UNION ALL
       |$out""".stripMargin
  }

  /** RAKE keywords, FULL oracle — top-3 candidate phrases per document
    * by the degree/frequency word-score sum (`operators/Rake.keywords`,
    * Rose et al. 2010): stopword+punctuation phrase boundaries, exact
    * integer deg/freq, float4 phrase scores, phrase-text tiebreak. */
  private def rakeKeywordsQ(s: SparkSession, dir: String): DataFrame =
    operators.Rake.keywords(Tables.read(s, dir, "documents"), "doc_id",
      "text", k = 3)

  private val rakeKeywordsSql = {
    val stops = graft.functions.TextAnalysis.GopherStopwords.toSeq.sorted
      .map(w => s"'$w'").mkString(", ")
    s"""WITH t0 AS (SELECT doc_id AS id,
       |    string_split_regex(coalesce(lower(text), ''), '[^a-z0-9 ]+')
       |      AS segs
       |  FROM documents),
       |t1 AS (SELECT id,
       |    CAST(unnest(range(1, len(segs) + 1)) - 1 AS BIGINT) AS si,
       |    unnest(segs) AS seg
       |  FROM t0),
       |t1b AS (SELECT id, si,
       |    list_filter(string_split_regex(seg, ' +'), w -> w <> '') AS ws
       |  FROM t1),
       |t2 AS (SELECT id, si,
       |    CAST(unnest(range(1, len(ws) + 1)) - 1 AS BIGINT) AS wi,
       |    unnest(ws) AS w
       |  FROM t1b),
       |t3 AS (SELECT id, si, wi, w, w IN ($stops) AS stop FROM t2),
       |t4 AS (SELECT id, si, wi, w, stop,
       |    SUM(CASE WHEN stop THEN 1 ELSE 0 END) OVER (PARTITION BY id
       |      ORDER BY si, wi ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      CURRENT ROW) AS grp
       |  FROM t3),
       |kept AS (SELECT id, si, grp, wi, w FROM t4 WHERE NOT stop),
       |ph AS (SELECT id, si, grp, CAST(count(*) AS BIGINT) AS plen,
       |    array_to_string(list(w ORDER BY wi), ' ') AS phrase
       |  FROM kept GROUP BY id, si, grp),
       |ws2 AS (SELECT k.id, k.w, CAST(count(*) AS BIGINT) AS freq,
       |    CAST(SUM(p.plen) AS BIGINT) AS deg
       |  FROM kept k JOIN ph p ON p.id = k.id AND p.si = k.si
       |    AND p.grp = k.grp
       |  GROUP BY k.id, k.w),
       |sc AS (SELECT k.id, k.si, k.grp,
       |    CAST(SUM(CAST(s.deg AS DOUBLE) / s.freq) AS REAL) AS score
       |  FROM kept k JOIN ws2 s ON s.id = k.id AND s.w = k.w
       |  GROUP BY k.id, k.si, k.grp),
       |uq AS (SELECT sc.id, ph.phrase, MAX(sc.score) AS score
       |  FROM sc JOIN ph ON ph.id = sc.id AND ph.si = sc.si
       |    AND ph.grp = sc.grp
       |  GROUP BY sc.id, ph.phrase),
       |r AS (SELECT id, phrase, score,
       |    row_number() OVER (PARTITION BY id
       |      ORDER BY score DESC, phrase) AS rnk
       |  FROM uq)
       |SELECT id AS doc_id, CAST(rnk AS BIGINT) AS rnk, phrase, score
       |FROM r WHERE rnk <= 3""".stripMargin
  }

  /** TextRank extractive summary, FULL oracle — top-2 sentences per
    * document by integer PageRank over the shared-content-word
    * sentence graph (`operators/TextRank.summary`): naive terminator
    * split shared with the oracle, distinct-word-overlap edge weights,
    * everything exact integers. */
  private def textrankSummaryQ(s: SparkSession, dir: String): DataFrame =
    // documents.text carries no terminators, so the fixture folds it
    // into three overlapping-window sentences (shared vocabulary ->
    // a connected sentence graph), replayed verbatim by the oracle
    operators.TextRank.summary(
      Tables.read(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 60), lit(". "),
          substring(col("text"), 31, 60), lit(". "),
          substring(col("text"), 61, 60), lit("!")).as("text")),
      "doc_id", "text", k = 2, iterations = 3)

  private val textrankSummarySql = {
    val stops = graft.functions.TextAnalysis.GopherStopwords.toSeq.sorted
      .map(w => s"'$w'").mkString(", ")
    val iters = (1 to 3).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT e.id, e.v AS u, CAST(SUM((s.score // d.wdeg) * e.wt)
         |    AS BIGINT) AS c
         |  FROM e JOIN p${t - 1} s ON s.id = e.id AND s.u = e.u
         |  JOIN d ON d.id = e.id AND d.u = e.u GROUP BY 1, 2),
         |p$t AS MATERIALIZED (
         |  SELECT n.id, n.u,
         |    150000 + (850000 * coalesce(c.c, 0)) // 1000000 AS score
         |  FROM n LEFT JOIN c$t c ON c.id = n.id AND c.u = n.u)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH doc2 AS (SELECT doc_id,
       |    concat(substr(text, 1, 60), '. ', substr(text, 31, 60), '. ',
       |      substr(text, 61, 60), '!') AS text
       |  FROM documents),
       |sx AS (SELECT doc_id AS id,
       |    string_split_regex(coalesce(text, ''), '[.!?]+') AS parts
       |  FROM doc2),
       |s1 AS (SELECT id,
       |    CAST(unnest(range(1, len(parts) + 1)) - 1 AS BIGINT) AS si,
       |    unnest(parts) AS raw
       |  FROM sx),
       |sents AS (SELECT id, si, trim(raw) AS sent FROM s1
       |  WHERE length(trim(raw)) > 0),
       |w0 AS (SELECT id, si,
       |    unnest(regexp_extract_all(lower(sent), '[a-z0-9]+')) AS w
       |  FROM sents),
       |wds AS (SELECT DISTINCT id, si, w FROM w0
       |  WHERE w NOT IN ($stops)),
       |h AS MATERIALIZED (SELECT a.id, a.si, b.si AS sj,
       |    CAST(count(*) AS BIGINT) AS wt
       |  FROM wds a JOIN wds b ON b.id = a.id AND b.w = a.w
       |    AND b.si > a.si
       |  GROUP BY 1, 2, 3),
       |e AS MATERIALIZED (SELECT id, si AS u, sj AS v, wt FROM h
       |  UNION ALL SELECT id, sj AS u, si AS v, wt FROM h),
       |d AS MATERIALIZED (SELECT id, u, CAST(SUM(wt) AS BIGINT) AS wdeg
       |  FROM e GROUP BY 1, 2),
       |n AS MATERIALIZED (SELECT id, u FROM d),
       |p0 AS MATERIALIZED (SELECT id, u, CAST(1000000 AS BIGINT) AS score
       |  FROM n),
       |$iters,
       |rr AS (SELECT id, u, score,
       |    row_number() OVER (PARTITION BY id
       |      ORDER BY score DESC, u) AS rnk
       |  FROM p3)
       |SELECT rr.id AS doc_id, CAST(rr.rnk AS BIGINT) AS rnk,
       |  rr.u AS sent_idx, sents.sent AS sentence,
       |  CAST(rr.score AS BIGINT) AS score_scaled
       |FROM rr JOIN sents ON sents.id = rr.id AND sents.si = rr.u
       |WHERE rr.rnk <= 2""".stripMargin
  }

  /** PMI collocations, FULL oracle — top-20 bigrams by pointwise
    * mutual information at min-count 5
    * (`operators/LmFilter.pmiCollocations`): exact integer counts,
    * only the ln emits float4; count columns pin the selection. */
  private def pmiCollocationsQ(s: SparkSession, dir: String): DataFrame =
    operators.LmFilter.pmiCollocations(Tables.read(s, dir, "documents"),
      "text", minCount = 5, k = 20)

  private val pmiCollocationsSql =
    """WITH toks AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+')
      |    AS ts
      |  FROM documents),
      |words AS (SELECT unnest(ts) AS w FROM toks),
      |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM words
      |  GROUP BY 1),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM words),
      |pairs AS (SELECT t.ts[g.i] AS w1, t.ts[g.i + 1] AS w2
      |  FROM toks t CROSS JOIN LATERAL
      |    (SELECT unnest(range(1, len(t.ts))) AS i) g
      |  WHERE len(t.ts) >= 2),
      |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pairs),
      |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM pairs
      |  GROUP BY 1, 2 HAVING count(*) >= 5),
      |j AS (SELECT c12.w1, c12.w2, c12.c12, a.cw AS c1, b.cw AS c2,
      |    CAST(ln((CAST(c12.c12 AS DOUBLE) / (SELECT n FROM nb)) /
      |      ((CAST(a.cw AS DOUBLE) / (SELECT t FROM tt)) *
      |       (CAST(b.cw AS DOUBLE) / (SELECT t FROM tt)))) AS REAL)
      |      AS pmi
      |  FROM c12 JOIN cw a ON a.w = c12.w1 JOIN cw b ON b.w = c12.w2)
      |SELECT w1, w2, c12, c1, c2, pmi FROM j
      |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  /** Deterministic bigram-LM sampling, FULL oracle — 5 walks of 8
    * steps over the corpus bigram model
    * (`operators/LmFilter.generate`): successor drawn by
    * splitmix64(seed*1000003+step) mod context count into
    * cumulative-count intervals — every generated token an exact
    * integer decision, replayed through the Mix64Sql chain. */
  private def lmGenerateQ(s: SparkSession, dir: String): DataFrame =
    operators.LmFilter.generate(Tables.read(s, dir, "documents"), "text",
      numSeeds = 5, steps = 8)

  private val lmGenerateSql: String = {
    val steps = (1 to 8).map { t =>
      // HUGEINT wrap-to-2^64 key: matches the JVM's wrapping multiply
      // for any seed domain (see deepwalkCorpusSql / epochShuffleSql)
      val k = s"""k$t AS MATERIALIZED (SELECT seed, cur,
         |  (seed::HUGEINT * 1000003 + $t) % 18446744073709551616::HUGEINT
         |    AS key FROM g${t - 1})"""
        .stripMargin
      val mix = functions.Mix64Sql.ctes(s"x$t", s"k$t", Seq("seed", "cur"),
        "key")
      val g = s"""g$t AS MATERIALIZED (
         |  SELECT m.seed, s.w2 AS cur
         |  FROM x${t}6 m JOIN c1 ON c1.w1 = m.cur
         |  JOIN succ s ON s.w1 = m.cur
         |    AND CAST(m.z % c1.c1::HUGEINT AS BIGINT) >= s.hi - s.c12
         |    AND CAST(m.z % c1.c1::HUGEINT AS BIGINT) < s.hi)"""
        .stripMargin
      Seq(k, mix, g).mkString(",\n")
    }.mkString(",\n")
    val out = (0 to 8).map(t =>
      s"SELECT seed, CAST($t AS BIGINT) AS step, cur AS token FROM g$t")
      .mkString("\nUNION ALL\n")
    s"""WITH toks AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+')
       |    AS ts
       |  FROM documents),
       |pairs AS (SELECT t.ts[g.i] AS w1, t.ts[g.i + 1] AS w2
       |  FROM toks t CROSS JOIN LATERAL
       |    (SELECT unnest(range(1, len(t.ts))) AS i) g
       |  WHERE len(t.ts) >= 2),
       |c12x AS MATERIALIZED (SELECT w1, w2, CAST(count(*) AS BIGINT)
       |    AS c12
       |  FROM pairs GROUP BY 1, 2),
       |succ AS MATERIALIZED (SELECT w1, w2, c12,
       |  CAST(SUM(c12) OVER (PARTITION BY w1 ORDER BY w2
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS hi
       |  FROM c12x),
       |c1 AS MATERIALIZED (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
       |  FROM c12x GROUP BY 1),
       |g0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY c1 DESC, w1) - 1
       |      AS BIGINT) AS seed, w1 AS cur
       |  FROM c1 QUALIFY seed < 5),
       |$steps
       |$out""".stripMargin
  }

  /** Winsorized/trimmed robust stats, FULL oracle — exact decile-rank
    * tail cuts on events.value (`operators/RobustStats.winsorize`);
    * cut selection is integer-rank exact, means float4. */
  private def winsorizeStatsQ(s: SparkSession, dir: String): DataFrame =
    operators.RobustStats.winsorize(Tables.read(s, dir, "events"),
      "value", "event_id", tailPct = 10)

  private val winsorizeStatsSql =
    """WITH r0 AS (SELECT value AS v, event_id AS id FROM events
      |  WHERE value IS NOT NULL),
      |r1 AS (SELECT v, id,
      |    CAST(row_number() OVER (ORDER BY v, id) AS BIGINT) AS r,
      |    CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM r0),
      |r2 AS (SELECT *, (n * 10) // 100 AS k FROM r1),
      |r3 AS (SELECT r2.*,
      |    MAX(CASE WHEN r = k + 1 THEN v END) OVER () AS lo,
      |    MAX(CASE WHEN r = n - k THEN v END) OVER () AS hi
      |  FROM r2)
      |SELECT n, CAST(lo AS REAL) AS lo_cut, CAST(hi AS REAL) AS hi_cut,
      |  CAST(AVG(CASE WHEN r > k AND r <= n - k THEN v END) AS REAL)
      |    AS trimmed_mean,
      |  CAST(AVG(LEAST(GREATEST(v, lo), hi)) AS REAL) AS winsorized_mean
      |FROM r3 GROUP BY n, lo, hi""".stripMargin

  /** Benford first-digit audit, FULL oracle — digit counts from
    * integer-cent strings (exact), Benford shares + chi-square float4
    * (`operators/RobustStats.benford`). */
  private def benfordAuditQ(s: SparkSession, dir: String): DataFrame =
    operators.RobustStats.benford(Tables.read(s, dir, "events"), "value")

  private val benfordAuditSql =
    """WITH c0 AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events),
      |d0 AS (SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
      |    AS digit
      |  FROM c0 WHERE c > 0),
      |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
      |  FROM d0 GROUP BY digit),
      |a AS (SELECT CAST(r.digit AS BIGINT) AS digit,
      |    COALESCE(g.n_obs, 0) AS n_obs
      |  FROM range(1, 10) r(digit)
      |  LEFT JOIN g ON g.digit = r.digit),
      |w AS (SELECT digit, n_obs, SUM(n_obs) OVER () AS n,
      |    log10(1.0 + 1.0 / digit) AS expected
      |  FROM a),
      |x AS (SELECT *, CASE WHEN n > 0 THEN
      |      (n_obs - n * expected) * (n_obs - n * expected)
      |      / (n * expected) END AS contrib
      |  FROM w)
      |SELECT digit, n_obs,
      |  CASE WHEN n > 0 THEN CAST(CAST(n_obs AS DOUBLE) / n AS REAL) END
      |    AS obs_share,
      |  CAST(expected AS REAL) AS benford_share,
      |  CAST(contrib AS REAL) AS contrib,
      |  CASE WHEN n > 0 THEN CAST(SUM(contrib) OVER () AS REAL) END AS chi2
      |FROM x""".stripMargin

  /** TextRank keywords, FULL oracle — per-document integer PageRank
    * over the word co-occurrence graph (`operators/TextRank.keywords`,
    * Mihalcea & Tarau 2004): window-2 edges with multiplicity weights,
    * 3 iterations on the 10^6 grid with floor-division shares — every
    * number an exact integer, ranking included. */
  private def textrankKeywordsQ(s: SparkSession, dir: String): DataFrame =
    operators.TextRank.keywords(Tables.read(s, dir, "documents"),
      "doc_id", "text", k = 3, iterations = 3, window = 2)

  private val textrankKeywordsSql = {
    val stops = graft.functions.TextAnalysis.GopherStopwords.toSeq.sorted
      .map(w => s"'$w'").mkString(", ")
    val iters = (1 to 3).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT e.id, e.v AS w, CAST(SUM((s.score // d.wdeg) * e.wt)
         |    AS BIGINT) AS c
         |  FROM e JOIN s${t - 1} s ON s.id = e.id AND s.w = e.u
         |  JOIN d ON d.id = e.id AND d.u = e.u GROUP BY 1, 2),
         |s$t AS MATERIALIZED (
         |  SELECT n.id, n.w,
         |    150000 + (850000 * coalesce(c.c, 0)) // 1000000 AS score
         |  FROM n LEFT JOIN c$t c ON c.id = n.id AND c.w = n.w)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH t0 AS (SELECT doc_id AS id,
       |    regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS ws
       |  FROM documents),
       |t1 AS (SELECT id, CAST(unnest(range(1, len(ws) + 1)) AS BIGINT)
       |    AS pos, unnest(ws) AS w
       |  FROM t0),
       |t2 AS (SELECT id, w,
       |    CAST(row_number() OVER (PARTITION BY id ORDER BY pos) AS BIGINT)
       |      AS r
       |  FROM t1 WHERE w NOT IN ($stops)),
       |p AS MATERIALIZED (SELECT a.id, a.w AS u, b.w AS v
       |  FROM t2 a JOIN t2 b ON b.id = a.id AND b.r > a.r
       |    AND b.r - a.r <= 2 AND a.w <> b.w),
       |e AS MATERIALIZED (SELECT id, u, v, CAST(count(*) AS BIGINT) AS wt
       |  FROM (SELECT id, u, v FROM p
       |        UNION ALL SELECT id, v AS u, u AS v FROM p)
       |  GROUP BY 1, 2, 3),
       |d AS MATERIALIZED (SELECT id, u, CAST(SUM(wt) AS BIGINT) AS wdeg
       |  FROM e GROUP BY 1, 2),
       |n AS MATERIALIZED (SELECT id, u AS w FROM d),
       |s0 AS MATERIALIZED (SELECT id, w, CAST(1000000 AS BIGINT) AS score
       |  FROM n),
       |$iters,
       |rr AS (SELECT id, w, score,
       |    row_number() OVER (PARTITION BY id
       |      ORDER BY score DESC, w) AS rnk
       |  FROM s3)
       |SELECT id AS doc_id, CAST(rnk AS BIGINT) AS rnk, w AS keyword,
       |  CAST(score AS BIGINT) AS score_scaled
       |FROM rr WHERE rnk <= 3""".stripMargin
  }

  /** k-NN label-noise audit, FULL oracle — per-example agreement with
    * its 10 nearest neighbors' labels
    * (`operators/DataValuation.labelNoiseKnn`): the production plan is
    * the exact two-pass `Ivf.knnJoin` (same cached nlists=16 index as
    * `knn_classify_blocked`), the oracle brute-forces every pair and
    * must agree exactly — integer agreement counts, no float output. */
  private def labelNoiseKnnQ(s: SparkSession, dir: String): DataFrame =
    operators.DataValuation.labelNoiseKnn(ivfModel(s, dir),
      Tables.read(s, dir, "embeddings"), "vec_id", "embedding", "label",
      k = 10)

  private val labelNoiseKnnSql =
    """WITH d AS (SELECT a.vec_id AS id, a.label AS y, b.vec_id AS nid,
      |    b.label AS ny,
      |    list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |      AS dist
      |  FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id),
      |r AS (SELECT id, y, ny,
      |        row_number() OVER (PARTITION BY id ORDER BY dist, nid)
      |          AS rn
      |      FROM d)
      |SELECT id, CAST(y AS BIGINT) AS label,
      |  CAST(SUM(CASE WHEN ny = y THEN 1 ELSE 0 END) AS BIGINT) AS agree,
      |  SUM(CASE WHEN ny = y THEN 1 ELSE 0 END) * 2 < 10 AS suspect
      |FROM r WHERE rn <= 10 GROUP BY id, y""".stripMargin

  /** Streaming label-noise audit, FULL oracle — the INGEST-TIME face
    * of `label_noise_knn` (`streaming/StreamLabelNoise.scala`, the
    * r12 verdict ask): every third embeddings row re-arrives as a
    * "new" labeled example (fresh id; label FLIPPED on every 13th
    * source row — the planted annotation noise), streams through the
    * file source into a `foreachBatch` scorer probing the SAME cached
    * nlists=16 IVF index the batch audit uses, and lands as
    * (id, label, agree, suspect) parquet. No self-exclusion — the
    * arrival is not in the index, while its indexed twin carrying the
    * ORIGINAL label is, which is exactly what flags the flips. The
    * oracle brute-forces every (arrival, reference) pair; scoring is
    * per-row stateless, so the streamed rows equal the batch rows
    * (`StreamLabelNoiseSpec` pins two-micro-batch continuity). */
  /** Pin a query result locally, then recursively delete the temp
    * roots it was computed from (r14 advice: the streaming-ingest
    * probes left full parquet index copies in /tmp per gate sweep —
    * repeated 3-SF sweeps accumulated unbounded data). The results are
    * small (top-k rows / per-arrival scores), so collect-then-
    * localize is the cheap way to make the DataFrame independent of
    * the files before they go away. */
  private def materializeAndClean(s: SparkSession, df: DataFrame,
                                  roots: String*): DataFrame =
    try {
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      df.collect().foreach(rows.add)
      s.createDataFrame(rows, df.schema)
    } finally roots.foreach(r =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r)))

  private def streamLabelNoiseQ(s: SparkSession, dir: String): DataFrame = {
    val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
        when(col("vec_id") % 13 === 0, col("label") + 1)
          .otherwise(col("label")).as("label"))
    val out = java.nio.file.Files.createTempDirectory("graft_sln_").toString
    val q = streaming.StreamLabelNoise.run(ivfModel(s, dir), stream,
      "vec_id", "embedding", "label", k = 10, s"$out/res", s"$out/ckpt")
    q.awaitTermination()
    materializeAndClean(s, s.read.parquet(s"$out/res"), out)
  }

  /** Streaming index ingest, FULL oracle — the production contract of
    * continuous vector ingestion (VERDICT r13 ask #1, composing the
    * r13 halves end-to-end): the even half of the corpus is indexed
    * offline (`CREATE INDEX`), written partitioned by cluster; the odd
    * half then ARRIVES AS A STREAM — two parquet files read with
    * maxFilesPerTrigger=1, so the oracled run itself crosses at least
    * two micro-batch boundaries — and each micro-batch is routed to
    * the FIXED centroids and appended into the partitioned index
    * (`streaming/StreamIndexIngest`). The maintained on-disk index is
    * then LOADED FRESH and probed at the exhaustive dial: the result
    * must equal brute force over the FULL corpus. A misrouted batch, a
    * dropped append, a double-processed file, or a partition-layout
    * mismatch between writer and loader each break the hash; routing
    * is per-row stateless, so batch boundaries cannot move it
    * (`StreamIndexIngestSpec` pins two-batch ≡ one-batch ≡ rebuilt). */
  private def streamIndexIngestQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val base = operators.Ivf.build(e.filter(col("vec_id") % 2 === 0),
      "embedding", nlists = 8, seed = 42L)
    val root = java.nio.file.Files.createTempDirectory("graft_sii_").toString
    operators.Ivf.writePartitioned(base, s"$root/ivf")
    e.filter(col("vec_id") % 2 === 1).repartition(2)
      .write.parquet(s"$root/in")
    val stream = s.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val q = streaming.StreamIndexIngest.run(base.centroids, stream,
      "embedding", s"$root/ivf", s"$root/ckpt")
    q.awaitTermination()
    val served = operators.Ivf.loadPartitioned(s, s"$root/ivf", "embedding")
    materializeAndClean(s,
      served.search(qvec(s, dir), k = 10, nprobe = 8)
        .select(col("vec_id"), round(col("distance"), 6).as("dist")),
      root)
  }

  /** [[streamIndexIngestQ]]'s IVFADC sibling: arriving vectors are
    * routed to the FIXED coarse centroids AND encoded with the FIXED
    * PQ codebook per micro-batch (two forced batch boundaries), the
    * maintained code table is loaded fresh, and the exhaustive
    * ADC→rerank probe must equal brute force over the full corpus — a
    * stale or misapplied codebook on EITHER batch breaks the hash. */
  private def streamIvfpqIngestQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val base = operators.IvfPq.build(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlists = 8, m = 8, seed = 42L)
    val root = java.nio.file.Files.createTempDirectory("graft_spq_").toString
    operators.IvfPq.writePartitioned(base, s"$root/ivfpq")
    e.filter(col("vec_id") % 2 === 1).repartition(2)
      .write.parquet(s"$root/in")
    val stream = s.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val q = streaming.StreamIndexIngest.runPq(base.ivf.centroids,
      base.codebook, stream, "embedding", s"$root/ivfpq", s"$root/ckpt")
    q.awaitTermination()
    val served = operators.IvfPq.loadPartitioned(s, s"$root/ivfpq",
      "embedding", "vec_id")
    materializeAndClean(s,
      operators.IvfPq.search(served, qvec(s, dir), k = 10, nprobe = 8,
          rerankPool = served.encoded.count().toInt)
        .select(col("vec_id"), round(col("distance"), 6).as("dist")),
      root)
  }

  /** Streaming retraction, FULL oracle — the ERASURE half of
    * continuous index maintenance (r15, composing the replay-
    * idempotent epoch layout with the lazy-erasure trade SCALE_BENCH
    * measured): 100 distance-0 decoy twins are planted in the posting
    * lists and written partitioned; their ids then ARRIVE AS A
    * RETRACTION STREAM — two parquet files, maxFilesPerTrigger=1, so
    * the run crosses two micro-batch boundaries and lands TWO
    * tombstone epochs (`streaming/StreamRetraction`), with no posting
    * file touched. The SERVING view (the oracled `Ivf.deleteBulk`
    * anti-join applied lazily over the accumulated tombstone scan)
    * probed at the exhaustive dial must equal brute force over the
    * ORIGINALS — a dropped epoch, a double-applied replay, or a
    * serving view reading stale tombstones each break the hash.
    * `StreamRetractionSpec` pins two-batch ≡ one-batch ≡ direct
    * deleteBulk, same-batchId-twice ≡ once, serve-between-batches
    * prefix state, and compact-then-reload equality. */
  private def streamIndexRetractQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 100)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val planted = operators.Ivf.build(e.unionByName(decoys),
      "embedding", nlists = 8, seed = 42L)
    val root = java.nio.file.Files.createTempDirectory("graft_sir_").toString
    operators.Ivf.writePartitioned(planted, s"$root/ivf")
    e.filter(col("vec_id") < 100)
      .select((col("vec_id") + 5000000L).as("vec_id"))
      .repartition(2).write.parquet(s"$root/in")
    val stream = s.readStream.schema(s.read.parquet(s"$root/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val q = streaming.StreamRetraction.run(stream, s"$root/ivf",
      s"$root/ckpt")
    q.awaitTermination()
    val served = streaming.StreamRetraction.servingIvf(s, s"$root/ivf",
      "embedding", "vec_id")
    materializeAndClean(s,
      served.search(qvec(s, dir), k = 10, nprobe = 8)
        .select(col("vec_id"), round(col("distance"), 6).as("dist")),
      root)
  }

  /** [[streamIndexRetractQ]]'s IVFADC sibling: the tombstone anti-join
    * must purge BOTH tables the serving view reads (codes and raw
    * rows) — a code row surviving its raw row resurrects the erased
    * decoy through the ADC candidate scan and breaks the hash. */
  private def streamIvfpqRetractQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 100)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val planted = operators.IvfPq.build(e.unionByName(decoys),
      "vec_id", "embedding", nlists = 8, m = 8, seed = 42L)
    val root = java.nio.file.Files.createTempDirectory("graft_spr_").toString
    operators.IvfPq.writePartitioned(planted, s"$root/ivfpq")
    e.filter(col("vec_id") < 100)
      .select((col("vec_id") + 5000000L).as("vec_id"))
      .repartition(2).write.parquet(s"$root/in")
    val stream = s.readStream.schema(s.read.parquet(s"$root/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val q = streaming.StreamRetraction.run(stream, s"$root/ivfpq",
      s"$root/ckpt")
    q.awaitTermination()
    val served = streaming.StreamRetraction.servingPq(s, s"$root/ivfpq",
      "embedding", "vec_id")
    materializeAndClean(s,
      operators.IvfPq.search(served, qvec(s, dir), k = 10, nprobe = 8,
          rerankPool = served.encoded.count().toInt)
        .select(col("vec_id"), round(col("distance"), 6).as("dist")),
      root)
  }

  /** [[streamIndexRetractQ]]'s HNSW sibling — the lazy-erasure serve
    * path fed by the SAME tombstone stream: two retraction
    * micro-batches accumulate epochs, `StreamRetraction.tombstoneSet`
    * collects them into the broadcastable set `Hnsw.searchBatch`
    * filters at serve time (zero shard rebuilds — the flat side of
    * the measured cliff), and the exhaustive walk must equal brute
    * force over the originals. */
  private def streamHnswRetractQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 100)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val withDecoys = operators.Hnsw.build(e.unionByName(decoys),
      "vec_id", "embedding", numShards = 4)
    val root = java.nio.file.Files.createTempDirectory("graft_shr_").toString
    e.filter(col("vec_id") < 100)
      .select((col("vec_id") + 5000000L).as("vec_id"))
      .repartition(2).write.parquet(s"$root/in")
    val stream = s.readStream.schema(s.read.parquet(s"$root/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val q = streaming.StreamRetraction.run(stream, s"$root/hnsw",
      s"$root/ckpt")
    q.awaitTermination()
    val tombs = streaming.StreamRetraction.tombstoneSet(s, s"$root/hnsw")
    val qs = Array(0L, 7L, 33L, 99L).map(i => (i, Tables.queryVector(s, dir, i)))
    materializeAndClean(s,
      operators.Hnsw.searchBatch(withDecoys, qs, k = 10, efSearch = 100000,
          tombstones = tombs)
        .select(col("qid"), col("rank"), col("id"),
          round(col("distance"), 6).as("dist")),
      root)
  }

  /** The retraction-side maintenance dial ([[routeHealthQ]]'s erasure
    * sibling, closed-form oracled): 100 decoy twins are planted and
    * written partitioned, their ids arrive as TWO tombstone epochs,
    * and `StreamRetraction.health` reads back (index_rows, tombstones,
    * dead_fraction) — the number that schedules compaction (the global
    * form of `Hnsw.compact`'s per-shard threshold) and bounds the
    * serving anti-join's broadcast side. The oracle recomputes all
    * three from the corpus count; both engines divide the same two
    * longs (one IEEE-exact double op), so float4 output is
    * bit-stable. */
  private def retractHealthQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val decoys = e.filter(col("vec_id") < 100)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val planted = operators.Ivf.build(e.unionByName(decoys),
      "embedding", nlists = 8, seed = 42L)
    val root = java.nio.file.Files.createTempDirectory("graft_rh_").toString
    operators.Ivf.writePartitioned(planted, s"$root/ivf")
    streaming.StreamRetraction.retractBatch(
      e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 5000000L).as("vec_id")),
      s"$root/ivf", batchId = 0L)
    streaming.StreamRetraction.retractBatch(
      e.filter(col("vec_id") >= 50 && col("vec_id") < 100)
        .select((col("vec_id") + 5000000L).as("vec_id")),
      s"$root/ivf", batchId = 1L)
    materializeAndClean(s,
      streaming.StreamRetraction.health(s, s"$root/ivf", "embedding"),
      root)
  }

  private val retractHealthSql =
    """SELECT (SELECT count(*) FROM embeddings) + 100 AS index_rows,
      |  CAST(100 AS BIGINT) AS tombstones,
      |  CAST(100.0 / ((SELECT count(*) FROM embeddings) + 100) AS REAL)
      |    AS dead_fraction""".stripMargin

  private val streamLabelNoiseSql =
    """WITH sn AS (SELECT vec_id + 1000000 AS id,
      |    CASE WHEN vec_id % 13 = 0 THEN label + 1 ELSE label END AS y,
      |    embedding
      |  FROM embeddings WHERE vec_id % 3 = 0),
      |d AS (SELECT s.id, s.y, b.vec_id AS nid, b.label AS ny,
      |    list_distance(s.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |      AS dist
      |  FROM sn s, embeddings b),
      |r AS (SELECT id, y, ny,
      |        row_number() OVER (PARTITION BY id ORDER BY dist, nid)
      |          AS rn
      |      FROM d)
      |SELECT id, CAST(y AS BIGINT) AS label,
      |  CAST(SUM(CASE WHEN ny = y THEN 1 ELSE 0 END) AS BIGINT) AS agree,
      |  SUM(CASE WHEN ny = y THEN 1 ELSE 0 END) * 2 < 10 AS suspect
      |FROM r WHERE rn <= 10 GROUP BY id, y""".stripMargin

  /** Dataset cartography, FULL oracle — per-example training dynamics
    * (confidence / variability / correctness across 6 GD epoch
    * snapshots, Swayamdipta et al. 2020;
    * `ml/QualityClf.cartography`): the quality-classifier fixpoint
    * machinery extended with per-snapshot score CTEs; float4 stats,
    * correctness thresholded on the float4-cast probability. */
  private def dataMapQ(s: SparkSession, dir: String): DataFrame =
    ml.QualityClf.cartography(Tables.read(s, dir, "documents"), "doc_id",
      "text", (col("lang") === "en"), d = 16, epochs = 6, lr = 4.0)

  private val dataMapSql = ml.QualityClf.cartographySql(
    "documents", "doc_id", "text", "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
    d = 16, epochs = 6, lr = 4.0)

  /** Cook's distance, FULL oracle — per-example OLS influence +
    * leverage over an integer fixture with injected outliers
    * (`operators/DataValuation.cooksDistance`): exact integer moments,
    * closed-form hat diagonal, SSE from the moment identity; float4.
    * The engine's degenerate-input NULL contract (n &lt;= 2 or Cxx = 0)
    * is MIRRORED as a CASE guard so a fixture change to a constant x
    * or &lt;3 rows cannot silently diverge (oracle inf/NaN vs engine
    * NULL — ADVICE r12). */
  private def cooksDistanceQ(s: SparkSession, dir: String): DataFrame =
    operators.DataValuation.cooksDistance(
      Tables.read(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 37).as("x"),
        ((col("doc_id") % 37) * 3 + col("doc_id") % 11 +
          when(col("doc_id") % 97 === 0, 40L).otherwise(0L)).as("y")),
      "doc_id", "x", "y")

  private val cooksDistanceSql =
    """WITH r AS (SELECT doc_id AS id, doc_id % 37 AS x,
      |    (doc_id % 37) * 3 + doc_id % 11 +
      |    CASE WHEN doc_id % 97 = 0 THEN 40 ELSE 0 END AS y
      |  FROM documents),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx,
      |        SUM(y) AS sy, SUM(x * x) AS sxx, SUM(x * y) AS sxy,
      |        SUM(y * y) AS syy
      |      FROM r),
      |f AS (SELECT r.id, r.x, r.y, CAST(m.n AS DOUBLE) AS nd,
      |        CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE) / m.n AS cxx,
      |        CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE) / m.n AS cxy,
      |        CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE) / m.n AS cyy,
      |        CAST(m.sx AS DOUBLE) / m.n AS mx,
      |        CAST(m.sy AS DOUBLE) / m.n AS my
      |      FROM r, m),
      |g AS (SELECT id, x, y, nd, cxx,
      |        CAST(y AS DOUBLE) - (my - (cxy / cxx) * mx)
      |          - (cxy / cxx) * CAST(x AS DOUBLE) AS res,
      |        1.0 / nd + (CAST(x AS DOUBLE) - mx) *
      |          (CAST(x AS DOUBLE) - mx) / cxx AS lev,
      |        (cyy - (cxy / cxx) * cxy) / (nd - 2.0) AS s2
      |      FROM f)
      |SELECT id, x, y,
      |  CASE WHEN nd > 2 AND cxx > 0 THEN CAST(res AS REAL) END AS residual,
      |  CASE WHEN nd > 2 AND cxx > 0 THEN CAST(lev AS REAL) END AS leverage,
      |  CASE WHEN nd > 2 AND cxx > 0 THEN CAST(res * res * lev /
      |    (2.0 * s2 * (1.0 - lev) * (1.0 - lev)) AS REAL) END AS cook_d
      |FROM g""".stripMargin

  // ======================================================================
  // Registry
  // ======================================================================

  private[graft] type Builder = (SparkSession, String) => DataFrame

  /** What checks a query's output: its own DuckDB oracle SQL (a thunk, so
    * building the registry generates no oracle SQL), or the oracled
    * sibling it is the production face of. */
  private[graft] sealed trait Check
  private[graft] final case class Oracle(sql: () => String) extends Check
  private[graft] final case class FaceOf(sibling: String) extends Check

  /** One registered query: its name, its builder, and exactly one check. */
  private[graft] final case class QuerySpec(name: String, build: Builder, check: Check)

  private def oracled(name: String, build: Builder, sql: => String): QuerySpec =
    QuerySpec(name, build, Oracle(() => sql))

  /**
   * A rows-only query: the production FACE of a named hard-oracled
   * SIBLING that verifies the same kernel, a claim `FaceSiblingSpec`
   * machine-checks (the sibling must exist and be oracled). Three face
   * classes:
   *  - fixpoint siblings (ml_kmeans → kmeans_fixpoint, …): the face runs
   *    the production trainer, the sibling replays the same math under a
   *    replayable-randomness/ordered-fold contract the oracle can unroll;
   *  - exhaustive-limit siblings (hnsw_knn → hnsw_exhaustive, …): the
   *    face serves the approximate dial, the sibling proves the engine
   *    equals brute force at the exhaustive setting;
   *  - recall/report faces (ivf_ann_recall → ivf_recall_fixpoint, …):
   *    the face reports a measured curve, the sibling puts one full
   *    curve of the same machinery under the oracle.
   */
  private def face(name: String, build: Builder, sibling: String): QuerySpec =
    QuerySpec(name, build, FaceOf(sibling))

  /** Every registered query, each declared once; the three maps below are
    * views of it. */
  private[graft] lazy val specs: Seq[QuerySpec] = Seq(
    oracled("q1_agg", q1Agg, q1AggSql),
    oracled("q1_agg_typed", q1AggTyped, q1AggTypedSql),
    oracled("dedup_pipeline", dedupPipelineQ, dedupPipelineSql),
    oracled("q2_join", q2Join, q2JoinSql),
    oracled("q3_topk", q3Topk, q3TopkSql),
    oracled("q4_window", q4Window, q4WindowSql),
    oracled("q5_semi_anti", q5SemiAnti, q5SemiAntiSql),
    oracled("q6_rollup", q6Rollup, q6RollupSql),
    oracled("json_filter", jsonFilter, jsonFilterSql),
    oracled("v_l2_knn", vL2Knn, vL2KnnSql),
    oracled("v_cosine_knn", vCosineKnn, vCosineKnnSql),
    oracled("v_ip_knn", vIpKnn, vIpKnnSql),
    oracled("v_distances", vDistances, vDistancesSql),
    oracled("v_matryoshka", vMatryoshkaQ, vMatryoshkaSql),
    oracled("v_distances2", vDistances2, vDistances2Sql),
    oracled("v_mahalanobis", vMahalanobis, vMahalanobisSql),
    oracled("bm25_corpus", bm25Corpus, bm25CorpusSql),
    oracled("v_norm_stats", vNormStats, vNormStatsSql),
    oracled("v_elementwise", vElementwise, vElementwiseSql),
    oracled("v_normalize", vNormalize, vNormalizeSql),
    oracled("va_avg", vaAvg, vaAvgSql),
    oracled("va_sum", vaSum, vaSumSql),
    oracled("va_minmax", vaMinMax, vaMinMaxSql),
    oracled("ivf_knn_exact", ivfKnnExact, ivfKnnExactSql),
    oracled("ivf_insert_exact", ivfInsertExact, vL2KnnSql), // maintained index == brute force
    oracled("ivf_delete_exact", ivfDeleteExact, vL2KnnSql), // decoys deleted == original brute force
    oracled("ivf_delete_bulk", ivfDeleteBulk, vL2KnnSql), // anti-join purge == original brute force
    oracled("ivfpq_insert_exact", ivfpqInsertExact, vL2KnnSql), // exhaustive IVFADC == brute force
    oracled("ivfpq_delete_exact", ivfpqDeleteExact, vL2KnnSql),
    oracled("ivfpq_delete_bulk", ivfpqDeleteBulk, vL2KnnSql),
    oracled("vec_join_pairs", vecJoinPairs, vecJoinPairsSql),
    oracled("knn_graph", knnGraph, knnGraphSql),
    oracled("pagerank_knn", pagerankKnnQ, pagerankKnnSql),
    oracled("ppr_knn", pprKnnQ, pprKnnSql),
    oracled("triangle_count", triangleCountQ, triangleCountSql),
    oracled("link_predict", linkPredictQ, linkPredictSql),
    oracled("community_labelprop", communityQ, communitySql),
    oracled("clustering_coeff", clusteringCoeffQ, clusteringCoeffSql),
    oracled("sssp_bounded", ssspBoundedQ, ssspBoundedSql),
    oracled("tfidf_hashed", tfidfHashedQ, tfidfHashedSql),
    oracled("kcore_bounded", kcoreQ, kcoreSql),
    oracled("faceted_knn", facetedKnn, facetedKnnSql),
    oracled("bm25_pair", bm25Pair, bm25PairSql),
    oracled("hybrid_search", hybridSearchQ, hybridSearchSql),
    oracled("rrf_fusion", rrfFusionQ, rrfFusionSql),
    oracled("temporal_knn", temporalKnn, temporalKnnSql),
    oracled("multi_vector", multiVectorQ, multiVectorSql),
    oracled("ltr_rerank", ltrRerank, ltrRerankSql),
    oracled("borda_rerank", bordaRerank, bordaRerankSql),
    oracled("quant_binary", quantBinary, quantBinarySql),
    oracled("quant_ternary", quantTernary, quantTernarySql),
    oracled("quant_int8", quantInt8, quantInt8Sql),
    oracled("cold_tier", coldTierQ, coldTierSql),
    oracled("chunk_text", chunkText, chunkTextSql),
    oracled("rag_query", ragQuery, ragQuerySql),
    oracled("chunk_pool", chunkPoolQ, chunkPoolSql),
    oracled("cdc_chunks", cdcChunksQ, cdcChunksSql),
    oracled("cdc_dedup", cdcDedupQ, cdcDedupSql),
    oracled("ml_linreg", mlLinreg, mlLinregSql),
    oracled("knn_classify", knnClassify, knnClassifySql),
    oracled("zscore_outliers", zscoreOutliersQ, zscoreOutliersSql),
    oracled("centroid_drift", centroidDrift, centroidDriftSql),
    oracled("recall_at_k", recallAtK, recallAtKSql),
    face("ml_kmeans", mlKmeans, "kmeans_fixpoint"), // production trainer; MlSpec pins its seeded determinism
    oracled("kmeans_fixpoint", kmeansFixpointQ, kmeansFixpointSql),
    oracled("ivf_recall_fixpoint", ivfRecallFixpointQ, ivfRecallFixpointSql),
    oracled("ivfpq_recall_fixpoint", ivfpqRecallFixpointQ, ivfpqRecallFixpointSql),
    oracled("dedup_exact", dedupExact, dedupExactSql),
    oracled("dedup_cosine", dedupCosine, dedupCosineSql),
    oracled("semdedup", semDedupQ, semDedupSql),
    oracled("ivf_join_exact", ivfJoinExact, dedupCosineSql), // exhaustive blocking == cross join
    face("ivf_join_prod", ivfJoinProd, "ivf_join_exact"),
    face("ivf_join_recall", ivfJoinRecall, "ivf_join_exact"), // recall report
    oracled("fingerprint_dedup", fingerprintDedupQ, fingerprintDedupSql),
    oracled("knn_classify_blocked", knnClassifyBlockedQ, knnClassifySql), // same contract, blocked plan
    oracled("hard_negatives", hardNegativesQ, hardNegativesSql),
    oracled("token_mask", tokenMaskQ, tokenMaskSql),
    oracled("dsir_select", dsirSelectQ, dsirSelectSql),
    oracled("graph_knn", graphKnnQ, graphKnnQSql),
    oracled("sparse_search", sparseSearchQ, sparseSearchSql),
    oracled("semantic_keyword", semanticKeywordQ, semanticKeywordSql),
    oracled("dense_sparse", denseSparseQ, denseSparseSql),
    oracled("mmr_rerank", mmrRerankQ, mmrRerankSql),
    oracled("dbscan_labels", dbscanLabelsQ, dbscanLabelsSql),
    oracled("tenant_scan", tenantScanQ, tenantScanSql),
    oracled("tenant_usage", tenantUsageQ, tenantUsageSql),
    oracled("ngram_jaccard", ngramJaccard, ngramJaccardSql),
    oracled("text_stats", textStats, textStatsSql),
    oracled("lang_quality", langQuality, langQualitySql),
    oracled("repetition_stats", repetitionStatsQ, repetitionStatsSql),
    oracled("pii_scrub", piiScrub, piiScrubSql),
    oracled("url_host_stats", urlHostStats, urlHostStatsSql),
    oracled("url_canon_dedup", urlCanonDedupQ, urlCanonDedupSql),
    oracled("containment_dedup", containmentDedupQ, containmentDedupSql),
    oracled("kmv_distinct", kmvDistinctQ, kmvDistinctSql),
    oracled("kmv_merge_shards", kmvMergeShardsQ, kmvMergeShardsSql),
    oracled("hll_distinct", hllDistinctQ, hllDistinctSql),
    oracled("analyze_table", analyzeTableQ, analyzeTableSql),
    oracled("route_health", routeHealthQ, routeHealthSql),
    oracled("systematic_sample", systematicSampleQ, systematicSampleSql),
    oracled("weighted_reservoir", weightedReservoirQ, weightedReservoirSql),
    oracled("group_reservoir", groupReservoirQ, groupReservoirSql),
    oracled("zorder_layout", zorderLayoutQ, zorderLayoutSql),
    oracled("shard_layout", shardLayoutQ, shardLayoutSql),
    oracled("semantic_shards", semanticShardsQ, semanticShardsSql),
    oracled("bpe_train", bpeTrainQ, bpeTrainSql),
    oracled("bpe_train_local", bpeTrainLocalQ, bpeTrainSql),
    oracled("bpe_encode", bpeEncodeQ, bpeEncodeSql),
    oracled("unigram_encode", unigramEncodeQ, unigramEncodeSql),
    oracled("bpe_fertility", bpeFertilityQ, bpeFertilitySql),
    oracled("length_filter_adaptive", lengthFilterQ, lengthFilterSql),
    oracled("budget_feed", budgetFeedQ, budgetFeedSql),
    oracled("corpus_entropy", corpusEntropyQ, corpusEntropySql),
    oracled("cms_topk", cmsTopkQ, cmsTopkSql),
    oracled("skew_route", skewRouteQ, skewRouteSql),
    oracled("hist_quantile", histQuantileQ, histQuantileSql),
    oracled("decontaminate", decontaminateQ, decontaminateSql),
    oracled("decontaminate_bloom", decontaminateBloomQ, decontaminateSql),
    oracled("minhash_lsh", minhashLsh, minhashLshSql),
    oracled("lsh_plan", lshPlanQ, lshPlanSql),
    oracled("lsh_catch_rate", lshCatchRateQ, lshCatchRateSql),
    oracled("incremental_dedup", incrementalDedupQ, incrementalDedupSql),
    oracled("ingest_pipeline", ingestPipelineQ, ingestPipelineSql),
    oracled("simhash_pairs", simhashPairs, simhashPairsSql),
    oracled("multimodal_hist", multimodalHist, multimodalHistSql),
    oracled("image_decode", imageDecode, imageDecodeSql),
    oracled("image_phash", imagePhashQ, imagePhashSql),
    oracled("image_resize", imageResizeQ, imageResizeSql),
    oracled("strip_markup", stripMarkupQ, stripMarkupSql),
    oracled("gopher_rules", gopherRulesQ, gopherRulesSql),
    oracled("image_neardup", imageNeardupQ, imageNeardupSql),
    oracled("audio_meta", audioMeta, audioMetaSql),
    oracled("audio_mp3_meta", audioMp3Meta, audioMp3MetaSql),
    oracled("audio_samples", audioSamples, audioSamplesSql),
    oracled("audio_flac", audioFlac, audioFlacSql),
    oracled("audio_neardup", audioNeardupQ, audioNeardupSql),
    oracled("audio_mpeg_layer1", audioMpegLayer1, audioMpegLayer1Sql),
    oracled("audio_mpeg_layer2", audioMpegLayer2, audioMpegLayer2Sql),
    oracled("audio_id3", audioId3, audioId3Sql),
    oracled("warc_ingest", warcIngest, warcIngestSql),
    oracled("zip_ingest", zipIngest, zipIngestSql),
    oracled("image_exif", imageExif, imageExifSql),
    oracled("subtitle_cues", subtitleCues, subtitleCuesSql),
    oracled("markdown_strip", markdownStrip, markdownStripSql),
    oracled("pdf_extract", pdfExtract, pdfExtractSql),
    oracled("image_webp", imageWebp, imageWebpSql),
    oracled("image_png_native", imagePngNative, imagePngNativeSql),
    oracled("audio_resample_linear", audioResampleLinear, audioResampleLinearSql),
    oracled("caption_audio_align", captionAudioAlign, captionAudioAlignSql),
    oracled("csv_ingest", csvIngest, csvIngestSql),
    oracled("tfrecord_ingest", tfrecordIngest, tfrecordIngestSql),
    oracled("webm_probe", webmProbe, webmProbeSql),
    oracled("jsonl_ingest", jsonlIngest, jsonlIngestSql),
    oracled("ogg_ingest", oggIngest, oggIngestSql),
    oracled("html_links", htmlLinks, htmlLinksSql),
    oracled("image_jpeg_native", imageJpegNative, imageJpegNativeSql),
    oracled("boilerplate_extract", boilerplateExtract, boilerplateExtractSql),
    oracled("ogg_codec_probe", oggCodecProbe, oggCodecProbeSql),
    oracled("crawl_frontier", crawlFrontier, crawlFrontierSql),
    oracled("frontier_delays", frontierDelays, frontierDelaysSql),
    oracled("redirect_resolve", redirectResolve, redirectResolveSql),
    oracled("html_meta", htmlMeta, htmlMetaSql),
    oracled("canonical_dedup", canonicalDedup, canonicalDedupSql),
    oracled("chat_stats", chatStats, chatStatsSql),
    oracled("chat_loss_mask", chatLossMask, chatLossMaskSql),
    oracled("preference_pairs", preferencePairs, preferencePairsSql),
    oracled("bt_strength", btStrengthQ, btStrengthSql),
    oracled("fim_transform", fimTransform, fimTransformSql),
    oracled("registrable_domain", registrableDomain, registrableDomainSql),
    oracled("semantic_decontam", semanticDecontamQ, semanticDecontamSql),
    oracled("chat_tool_trace", chatToolTrace, chatToolTraceSql),
    oracled("reward_calibration", rewardCalibration, rewardCalibrationSql),
    oracled("annotator_kappa", annotatorKappa, annotatorKappaSql),
    oracled("token_budget_mix", tokenBudgetMix, tokenBudgetMixSql),
    oracled("group_advantage", groupAdvantage, groupAdvantageSql),
    oracled("judge_vote", judgeVote, judgeVoteSql),
    oracled("pass_at_k", passAtKQ, passAtKSql),
    oracled("best_of_n", bestOfNQ, bestOfNSql),
    oracled("brier_decomp", brierQ, brierSql),
    oracled("code_stats", codeStatsQ, codeStatsSql),
    oracled("mi_tokens", miTokensQ, miTokensSql),
    oracled("dp_counts", dpCountsQ, dpCountsSql),
    oracled("needle_insert", needleInsertQ, needleInsertSql),
    oracled("ndcg_mrr", ndcgMrrQ, ndcgMrrSql),
    oracled("k_anon", kAnonQ, kAnonSql),
    oracled("constraint_check", constraintCheckQ, constraintCheckSql),
    oracled("sessionize", sessionizeQ, sessionizeSql),
    oracled("zipf_fit", zipfFitQ, zipfFitSql),
    oracled("ppo_stats", ppoStatsQ, ppoStatsSql),
    oracled("heaps_fit", heapsFitQ, heapsFitSql),
    oracled("assortativity", assortativityQ, assortativitySql),
    oracled("mcq_shuffle", mcqShuffleQ, mcqShuffleSql),
    oracled("span_corrupt", spanCorruptQ, spanCorruptSql),
    oracled("ngram_novelty", ngramNoveltyQ, ngramNoveltySql),
    oracled("burstiness", burstinessQ, burstinessSql),
    oracled("hits_scores", hitsScoresQ, hitsScoresSql),
    oracled("spearman_rho", spearmanRhoQ, spearmanRhoSql),
    oracled("kendall_tau", kendallTauQ, kendallTauSql),
    oracled("gini_tokens", giniTokensQ, giniTokensSql),
    oracled("stream_cdc", streamCdcQ, streamCdcSql),
    oracled("bootstrap_ci", bootstrapCiQ, bootstrapCiSql),
    oracled("pan_luhn", panLuhnQ, panLuhnSql),
    oracled("semantic_chunk", semanticChunkQ, semanticChunkSql),
    oracled("conformal_threshold", conformalQ, conformalSql),
    oracled("scd2_history", scd2HistoryQ, scd2HistorySql),
    oracled("funnel_stages", funnelStagesQ, funnelStagesSql),
    oracled("retention_cohorts", retentionCohortsQ, retentionCohortsSql),
    oracled("judge_length_bias", judgeLengthBiasQ, judgeLengthBiasSql),
    oracled("judge_position_bias", judgePositionBiasQ, judgePositionBiasSql),
    oracled("distinct_n", distinctNQ, distinctNSql),
    oracled("ab_ttest", abTtestQ, abTtestSql),
    oracled("cuped_adjust", cupedQ, cupedSql),
    oracled("srm_check", srmCheckQ, srmCheckSql),
    oracled("forecast_accuracy", forecastAccuracyQ, forecastAccuracySql),
    oracled("seasonal_decompose", seasonalDecomposeQ, seasonalDecomposeSql),
    oracled("cusum_changepoint", cusumChangepointQ, cusumChangepointSql),
    oracled("diff_in_diff", diffInDiffQ, diffInDiffSql),
    oracled("anova_f", anovaFQ, anovaFSql),
    oracled("bh_fdr", bhFdrQ, bhFdrSql),
    oracled("survival_km", survivalKmQ, survivalKmSql),
    oracled("ips_estimate", ipsEstimateQ, ipsEstimateSql),
    oracled("acf_daily", acfDailyQ, acfDailySql),
    oracled("theil_sen", theilSenQ, theilSenSql),
    oracled("propensity_match", propensityMatchQ, propensityMatchSql),
    oracled("ljung_box", ljungBoxQ, ljungBoxSql),
    oracled("markov_transitions", markovTransitionsQ, markovTransitionsSql),
    oracled("knn_shapley", knnShapleyQ, knnShapleySql),
    oracled("kcenter_coreset", kcenterCoresetQ, kcenterCoresetSql),
    oracled("cooks_distance", cooksDistanceQ, cooksDistanceSql),
    oracled("label_noise_knn", labelNoiseKnnQ, labelNoiseKnnSql),
    oracled("stream_label_noise", streamLabelNoiseQ, streamLabelNoiseSql),
    // maintained-by-streaming-ingest index at the exhaustive dial ==
    // brute force over the full corpus
    oracled("stream_index_ingest", streamIndexIngestQ, vL2KnnSql),
    oracled("stream_ivfpq_ingest", streamIvfpqIngestQ, vL2KnnSql),
    oracled("stream_index_retract", streamIndexRetractQ, vL2KnnSql), // streamed tombstones == originals brute force
    oracled("stream_ivfpq_retract", streamIvfpqRetractQ, vL2KnnSql),
    oracled("stream_hnsw_retract", streamHnswRetractQ, hnswExhaustiveSql),
    oracled("retract_health", retractHealthQ, retractHealthSql),
    oracled("data_map", dataMapQ, dataMapSql),
    oracled("facility_select", facilitySelectQ, facilitySelectSql),
    oracled("betweenness_knn", betweennessKnnQ, betweennessKnnSql),
    oracled("katz_knn", katzKnnQ, katzKnnSql),
    oracled("harmonic_knn", harmonicKnnQ, harmonicKnnSql),
    oracled("deepwalk_corpus", deepwalkCorpusQ, deepwalkCorpusSql),
    oracled("rake_keywords", rakeKeywordsQ, rakeKeywordsSql),
    oracled("textrank_keywords", textrankKeywordsQ, textrankKeywordsSql),
    oracled("winsorize_stats", winsorizeStatsQ, winsorizeStatsSql),
    oracled("textrank_summary", textrankSummaryQ, textrankSummarySql),
    oracled("lm_generate", lmGenerateQ, lmGenerateSql),
    oracled("modularity_knn", modularityKnnQ, modularityKnnSql),
    oracled("pmi_collocations", pmiCollocationsQ, pmiCollocationsSql),
    oracled("benford_audit", benfordAuditQ, benfordAuditSql),
    oracled("mp4_probe", mp4Probe, mp4ProbeSql),
    oracled("hls_playlist", hlsPlaylist, hlsPlaylistSql),
    oracled("psi_drift", psiDrift, psiDriftSql),
    oracled("json_profile", jsonProfileQ, jsonProfileSql),
    oracled("orc_probe", orcProbe, orcProbeSql),
    oracled("avro_ingest", avroIngest, avroIngestSql),
    oracled("bleu_score", bleuScoreQ, bleuScoreSql),
    oracled("rouge_l", rougeLQ, rougeLSql),
    oracled("edit_neardup", editNearDupQ, editNearDupSql),
    oracled("auc_roc", aucRocQ, aucRocSql),
    oracled("domain_reweight", domainReweight, domainReweightSql),
    oracled("audio_segments", audioSegments, audioSegmentsSql),
    oracled("sentence_split", sentenceSplit, sentenceSplitSql),
    oracled("parquet_probe", parquetProbe, parquetProbeSql),
    oracled("crawl_pipeline", crawlPipeline, crawlPipelineSql),
    oracled("script_detect", scriptDetect, scriptDetectSql),
    oracled("curriculum_order", curriculumOrder, curriculumOrderSql),
    oracled("shot_boundaries", shotBoundaries, shotBoundariesSql),
    oracled("readability_score", readabilityScore, readabilityScoreSql),
    oracled("stream_frontier", streamFrontierQ, streamFrontierSql),
    oracled("anchor_text_agg", anchorTextAgg, anchorTextAggSql),
    oracled("decompress_auto", decompressAuto, decompressAutoSql),
    oracled("audio_gain", audioGain, audioGainSql),
    oracled("image_crop_pad", imageCropPad, imageCropPadSql),
    oracled("xml_extract", xmlExtract, xmlExtractSql),
    oracled("image_orient", imageOrient, imageOrientSql),
    oracled("video_y4m", videoY4m, videoY4mSql),
    oracled("video_neardup", videoNeardupQ, videoNeardupSql),
    oracled("image_gif", imageGif, imageGifSql),
    oracled("image_qoi", imageQoi, imageQoiSql),
    oracled("image_tiff", imageTiff, imageTiffSql),
    oracled("audio_aiff", audioAiff, audioAiffSql),
    oracled("audio_au", audioAu, audioAuSql),
    oracled("robots_filter", robotsFilter, robotsFilterSql),
    oracled("robots_sitemaps", robotsSitemapsQ, robotsSitemapsSql),
    oracled("charset_decode", charsetDecode, charsetDecodeSql),
    oracled("text_normalize", textNormalize, textNormalizeSql),
    oracled("url_idn", urlIdn, urlIdnSql),
    oracled("url_pct_norm", urlPctNorm, urlPctNormSql),
    oracled("sitemap_parse", sitemapParse, sitemapParseSql),
    oracled("mime_sniff", mimeSniff, mimeSniffSql),
    oracled("image_tga", imageTga, imageTgaSql),
    oracled("video_flic", videoFlic, videoFlicSql),
    oracled("epoch_shuffle", epochShuffleQ, epochShuffleSql),
    oracled("wds_ingest", wdsIngest, wdsIngestSql),
    oracled("vgraph_analytics", vgraphAnalyticsQ, vgraphAnalyticsSql),
    oracled("audio_resample", audioResample, audioResampleSql),
    oracled("audio_g711", audioG711, audioG711Sql),
    oracled("audio_adpcm", audioAdpcm, audioAdpcmSql),
    oracled("video_meta", videoMeta, videoMetaSql),
    oracled("video_frames", videoFrames, videoFramesSql),
    oracled("video_frames_mjpeg", videoFramesMjpeg, videoFramesMjpegSql),
    oracled("v_compare", vCompare, vCompareSql),
    oracled("sim_histogram", simHistogram, simHistogramSql),
    oracled("sparse_l2", sparseL2, sparseL2Sql),
    face("iforest_scores", iforestScores, "iforest_fixpoint"),
    face("topics", topicsQ, "topics_fixpoint"),
    oracled("topics_fixpoint", topicsFixedQ, topicsFixedSql),
    oracled("whiten_fixpoint", whitenFixedQ, whitenFixedSql),
    oracled("iforest_fixpoint", iforestFixedQ, iforestFixedSql),
    oracled("iforest_small", iforestSmallQ, iforestSmallSql),
    oracled("gcn_fixpoint", gcnFixedQ, gcnFixedSql),
    oracled("autoencoder_fixpoint", aeFixedQ, aeFixedSql),
    face("whiten", whitenQ, "whiten_fixpoint"),
    face("ivf_ann_recall", ivfAnnRecall, "ivf_recall_fixpoint"),
    face("hnsw_ann_recall", hnswAnnRecall, "hnsw_exhaustive"),
    face("hnsw_knn", hnswKnn, "hnsw_exhaustive"),
    face("ivf_disk_knn", ivfDiskKnn, "ivf_disk_exact"), // approximate serve path
    oracled("ivf_disk_exact", ivfDiskExact, ivfKnnExactSql), // exhaustive disk probe == brute force
    face("hnsw_disk_knn", hnswDiskKnn, "hnsw_exhaustive"), // approximate serve path
    oracled("hnsw_exhaustive", hnswExhaustive, hnswExhaustiveSql), // ef >= shard size == brute force
    oracled("hnsw_insert_exact", hnswInsertExact, hnswExhaustiveSql), // maintained index == brute force
    oracled("hnsw_delete_exact", hnswDeleteExact, hnswExhaustiveSql), // decoys removed == brute force
    oracled("hnsw_delete_bulk", hnswDeleteBulk, hnswExhaustiveSql), // anti-join purge, same contract
    oracled("hnsw_delete_lazy", hnswDeleteLazy, hnswExhaustiveSql), // tombstoned == rebuilt == brute force
    face("ivfpq_knn", ivfpqKnn, "ivfpq_disk_exact"), // approximate serve path
    oracled("ivfpq_disk_exact", ivfpqDiskExact, ivfKnnExactSql), // nprobe=nlists + pool>=corpus == brute force
    face("hnsw_recall_curve", hnswRecallCurve, "hnsw_exhaustive"),
    face("ivfpq_knn_recall", ivfpqKnnRecall, "ivfpq_recall_fixpoint"),
    face("ivf_recall_curve", ivfRecallCurve, "ivf_recall_fixpoint"),
    oracled("hybrid_fusion", hybridFusionQ, hybridFusionSql),
    oracled("v_arith", vArith, vArithSql),
    oracled("v_element_access", vElementAccess, vElementAccessSql),
    oracled("v_preprocess", vPreprocess, vPreprocessSql),
    oracled("bandit_ucb", banditUcbQ, banditUcbSql),
    oracled("bandit_thompson", banditThompsonQ, banditThompsonSql),
    oracled("bandit_egreedy", banditEgreedyQ, banditEgreedySql),
    oracled("qlearning_policy", qlearningPolicyQ, qlearningPolicySql),
    oracled("graphsage_agg", graphsageAggQ, graphsageAggSql),
    oracled("sgc_propagate", sgcPropagateQ, sgcPropagateSql),
    face("shap_linear", shapLinearQ, "shap_fixed"),
    face("lime_linear", limeLinearQ, "lime_fixed"),
    oracled("shap_fixed", shapFixedQ, shapFixedSql),
    oracled("lime_fixed", limeFixedQ, limeFixedSql),
    face("gcn_nodes", gcnNodesQ, "gcn_fixpoint"),
    oracled("davies_bouldin", daviesBouldinQ, daviesBouldinSql),
    oracled("arima_forecast", arimaForecastQ, arimaForecastSql),
    oracled("lof_scores", lofScores, lofScoresSql),
    oracled("ocsvm_scores", ocsvmScoresQ, ocsvmScoresSql),
    face("tsne_reduce", tsneReduceQ, "tsne_fixpoint"),
    oracled("tsne_fixpoint", tsneFixedQ, tsneFixedSql),
    oracled("umap_fixpoint", umapFixedQ, umapFixedSql),
    face("autoencoder_recon", autoencoderReconQ, "autoencoder_fixpoint"),
    face("umap_reduce", umapReduceQ, "umap_fixpoint"),
    oracled("pq_adc", pqAdcQ, pqAdcSql),
    oracled("two_stage_rerank", twoStageRerankQ, twoStageRerankSql),
    oracled("vec_route_assign", vecRouteQ, vecRouteSql),
    oracled("stream_window_agg", streamWindowAggQ, streamWindowAggSql),
    oracled("stream_dedup", streamDedupQ, streamDedupSql),
    oracled("stream_neardup", streamNeardupQ, streamNeardupSql),
    oracled("dataset_diff", datasetDiffQ, datasetDiffSql),
    oracled("stream_distinct", streamDistinctQ, streamDistinctSql),
    oracled("stream_cms_topk", streamCmsTopkQ, streamCmsTopkSql),
    oracled("stream_benford", streamBenfordQ, streamBenfordSql),
    oracled("shard_manifest", shardManifestQ, shardManifestSql),
    oracled("html_tables", htmlTablesQ, htmlTablesSql),
    oracled("html_table_cells", htmlTableCellsQ, htmlTableCellsSql),
    oracled("ico_probe", icoProbeQ, icoProbeSql),
    oracled("og_cards", ogCardsQ, ogCardsSql),
    oracled("svg_probe", svgProbeQ, svgProbeSql),
    oracled("rss_probe", rssProbeQ, rssProbeSql),
    oracled("stream_session_agg", streamSessionAggQ, streamSessionAggSql),
    oracled("stream_stream_join", streamStreamJoinQ, streamStreamJoinSql),
    oracled("stream_quota", streamQuotaQ, streamQuotaSql),
    oracled("stream_curation", streamCurationQ, streamCurationSql),
    oracled("quant_ranged", quantRangedQ, quantRangedSql),
    oracled("asof_join", asofJoinQ, asofJoinSql),
    oracled("range_join", rangeJoinQ, rangeJoinSql),
    oracled("skew_salted_join", skewSaltedJoinQ, skewSaltedJoinSql),
    oracled("curation_pipeline", curationPipelineQ, curationPipelineSql),
    oracled("curation_pipeline2", curationPipeline2Q, curationPipeline2Sql),
    oracled("pack_sequences", packSequencesQ, packSequencesSql),
    oracled("line_dedup", lineDedupQ, lineDedupSql),
    oracled("training_feed", trainingFeedQ, trainingFeedSql),
    oracled("lm_score", lmScoreQ, lmScoreSql),
    oracled("lm_score_kn", lmScoreKnQ, lmScoreKnSql),
    oracled("quality_clf", qualityClfQ, qualityClfSql),
    oracled("span_dedup", spanDedupQ, spanDedupSql),
    face("span_dedup_hashed", spanDedupHashed, "span_dedup"),
    oracled("hash_sample", hashSampleQ, hashSampleSql),
    oracled("mixture_sample", mixtureSampleQ, mixtureSampleSql),
    oracled("stratified_sample", stratifiedSampleQ, stratifiedSampleSql),
    oracled("temperature_mixture", temperatureMixtureQ, temperatureMixtureSql),
    oracled("vec_join_topk", vecJoinTopkQ, vecJoinTopkSql),
    oracled("weighted_ensemble", weightedEnsembleQ, weightedEnsembleSql),
    oracled("dup_components", dupComponentsQ, dupComponentsSql),
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.build).toMap

  def oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(name, _, Oracle(sql)) => name -> sql() }.toMap

  def faceSiblings: Map[String, String] =
    specs.collect { case QuerySpec(name, _, FaceOf(sibling)) => name -> sibling }.toMap
}
