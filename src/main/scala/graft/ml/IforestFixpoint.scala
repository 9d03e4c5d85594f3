package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.DetRandom.mix64

/**
 * Isolation forest with a bit-reproducible randomness contract — the
 * oracle-checkable counterpart of the serial-RNG [[IsolationForest]]
 * (reference `ml_anomaly_detection.c`), the same role
 * [[KmeansFixpoint]]/[[WhitenFixpoint]] play for kmeans/PCA.
 *
 * The classic algorithm draws from a SERIAL RNG whose consumption order
 * follows the data-dependent tree recursion — unreplayable in SQL. This
 * variant re-keys every random choice to a PURE hash of its coordinates:
 *
 *  - per-tree sample  = the `sampleSize` ids ranking lowest on
 *    mix64(tree, id) (without replacement);
 *  - split dimension  = mix64(tree, nodePath) mod d;
 *  - split threshold  = lo + u01(mix64'(tree, nodePath)) · (hi − lo),
 *    computed in double over exact float widenings;
 *
 * and builds LEVEL-SYNCHRONOUSLY (nodePath = heap index). Every
 * arithmetic step is exact or an IEEE-identical op sequence, so a DuckDB
 * CTE unroll of the same recurrence reproduces scores bit-for-bit
 * (ln/pow enter only at the final per-leaf constant, 10 orders below the
 * round-6 output).
 *
 * Fit collects the sampled vectors only (≤ trees·sampleSize rows —
 * driver-bounded like [[IsolationForest.fit]]); scoring broadcasts the
 * node table and maps the full table, embarrassingly parallel.
 */
object IforestFixpoint {

  /** 53-bit non-negative rank key (signed order == unsigned order). */
  @inline private def rank53(z: Long): Long = z >>> 11

  @inline private def u01(z: Long): Double =
    (z >>> 11).toDouble / 9007199254740992.0

  private val Gamma = 0.5772156649

  /** c(n): average BST path length of n points (0 for n ≤ 1). */
  def cFactor(n: Int): Double =
    if (n <= 1) 0.0 else 2.0 * (math.log(n - 1.0) + Gamma) - 2.0 * (n - 1.0) / n

  /** (leaf?, size, dim, thr) per (tree, heapPath, level). */
  private case class BNode(leaf: Boolean, size: Int, dim: Int, thr: Double)

  private val SampleSalt = 0x5A17L
  private val DimSalt = 0xD177L
  private val ThrSalt = 0x7777L

  /**
   * Anomaly scores for every row: (idCol, anomaly_score), the familiar
   * 2^(−E[path]/c(S)) in (0,1).
   */
  def score(df: DataFrame, idCol: String, vecCol: String,
            numTrees: Int = 20, sampleSize: Int = 64,
            maxDepth: Int = 6): DataFrame = {
    val spark = df.sparkSession
    // Per-tree hash-ranked samples selected DISTRIBUTED (explode trees,
    // window-rank on the hash), so the driver collects only the
    // numTrees·sampleSize sampled rows — never the corpus.
    val rankUdf = udf((t: Int, id: Long) =>
      rank53(mix64(SampleSalt ^ (t.toLong << 32) ^ id)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("t").orderBy(col("rk"), col("id"))
    val sampledRows = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("t", explode(lit((0 until numTrees).toArray)))
      .withColumn("rk", rankUdf(col("t"), col("id")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sampleSize)
      .select("t", "id", "v").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
    require(sampledRows.nonEmpty, "empty input")
    val dim = sampledRows.head._3.length
    val byId = sampledRows.map(r => (r._2, r._3)).toMap

    val samples: Array[Array[Long]] = {
      val byTree = sampledRows.groupBy(_._1)
      Array.tabulate(numTrees)(t =>
        byTree(t).sortBy(r => (rank53(mix64(SampleSalt ^ (t.toLong << 32) ^ r._2)), r._2))
          .map(_._2))
    }

    // level-synchronous build; assignment = (tree, id, heapPath)
    val nodes = scala.collection.mutable.Map.empty[(Int, Long, Int), BNode]
    var assign: Seq[(Int, Long, Long)] =
      samples.zipWithIndex.flatMap { case (ids, t) => ids.map(id => (t, id, 1L)) }.toSeq
    for (lvl <- 0 until maxDepth) {
      val next = Seq.newBuilder[(Int, Long, Long)]
      assign.groupBy(a => (a._1, a._3)).toSeq.sortBy(g => (g._1._1, g._1._2))
        .foreach { case ((t, p), members) =>
          val sz = members.size
          val d = ((mix64(DimSalt ^ (t.toLong << 32) ^ p) >>> 11) % dim).toInt
          val vals = members.map(m => byId(m._2)(d))
          val lo = vals.min
          val hi = vals.max
          if (sz <= 1 || lo == hi)
            nodes((t, p, lvl)) = BNode(leaf = true, sz, 0, 0.0)
          else {
            val loD = lo.toDouble
            val hiD = hi.toDouble
            val thr = loD + u01(mix64(ThrSalt ^ (t.toLong << 32) ^ p)) * (hiD - loD)
            nodes((t, p, lvl)) = BNode(leaf = false, sz, d, thr)
            members.foreach { case (_, id, _) =>
              next += ((t, id, if (byId(id)(d).toDouble < thr) 2 * p else 2 * p + 1))
            }
          }
        }
      assign = next.result()
    }
    assign.groupBy(a => (a._1, a._3)).foreach { case ((t, p), members) =>
      nodes((t, p, maxDepth)) = BNode(leaf = true, members.size, 0, 0.0)
    }

    val cS = cFactor(samples(0).length) // = min(sampleSize, n) by rank cap
    val bNodes = spark.sparkContext.broadcast(nodes.toMap)
    val nT = numTrees
    val mD = maxDepth
    val scoreUdf = udf((v: Seq[Float]) => {
      val nm = bNodes.value
      var sumPath = 0.0
      var t = 0
      while (t < nT) {
        var p = 1L
        var lvl = 0
        var path = -1.0
        while (path < 0 && lvl <= mD) {
          nm.get((t, p, lvl)) match {
            case None => path = lvl.toDouble // empty branch: size-0 leaf
            case Some(n) if n.leaf => path = lvl + cFactor(n.size)
            case Some(n) =>
              p = if (v(n.dim).toDouble < n.thr) 2 * p else 2 * p + 1
              lvl += 1
          }
        }
        sumPath += path
        t += 1
      }
      math.pow(2.0, -(sumPath / nT) / cS)
    })
    df.select(col(idCol), scoreUdf(col(vecCol)).as("anomaly_score"))
  }

  // ------------------------------------------------------------------
  // DuckDB unroll
  // ------------------------------------------------------------------

  private def mixCtes(p: String, src: String, carry: Seq[String],
                      zExpr: String): String =
    graft.functions.Mix64Sql.ctes(p, src, carry, zExpr)

  /** The xor-key `salt ⊕ (t≪32) ⊕ x` on BIGINT (Scala Long semantics);
    * result may be negative — mixCtes folds it into [0,2⁶⁴). */
  private def keyExpr(salt: Long, tExpr: String, xExpr: String): String =
    s"xor(xor(CAST($salt AS BIGINT), ($tExpr) << 32), $xExpr)"

  def oracleSql(table: String, idCol: String, vecCol: String,
                numTrees: Int, sampleSize: Int, maxDepth: Int,
                dim: Int): String = {
    // c(S) over the ACTUAL per-tree sample count = min(sampleSize, n),
    // matching the Scala side's cFactor(samples(0).length) when the input
    // has fewer rows than sampleSize (the rank cap saturates).
    val cS = s"""(SELECT CASE WHEN count(*) <= 1 THEN 0.0
      ELSE 2.0 * (ln(count(*) - 1.0) + $Gamma) - 2.0 * (count(*) - 1.0) / count(*) END
      FROM samp WHERE t = 0)"""
    def cOf(szCol: String): String =
      s"CASE WHEN $szCol <= 1 THEN 0.0 ELSE 2.0 * (ln($szCol - 1.0) + $Gamma) - 2.0 * ($szCol - 1.0) / $szCol END"
    val sb = new StringBuilder
    sb ++= s"""WITH pts AS MATERIALIZED (SELECT $idCol AS id, $vecCol AS xs FROM $table),
      |tid AS MATERIALIZED (SELECT t, id FROM range(0, $numTrees) tt(t), pts),
      |${mixCtes("smp", "tid", Seq("t", "id"), keyExpr(SampleSalt, "t", "id"))},
      |samp AS MATERIALIZED (
      |  SELECT t, id FROM (
      |    SELECT t, id, row_number() OVER (PARTITION BY t ORDER BY z // 2048, id) AS rn
      |    FROM smp6) WHERE rn <= $sampleSize),
      |a_0 AS MATERIALIZED (SELECT t, id, CAST(1 AS BIGINT) AS p FROM samp)""".stripMargin
    for (lvl <- 0 until maxDepth) {
      sb ++= s""",
        |g_$lvl AS MATERIALIZED (SELECT t, p, count(*) AS sz FROM a_$lvl GROUP BY 1, 2),
        |${mixCtes(s"dk${lvl}_", s"g_$lvl", Seq("t", "p", "sz"), keyExpr(DimSalt, "t", "p"))},
        |${mixCtes(s"tk${lvl}_", s"g_$lvl", Seq("t", "p"), keyExpr(ThrSalt, "t", "p"))},
        |dimv_$lvl AS MATERIALIZED (
        |  SELECT t, p, sz, CAST((z // 2048) % $dim AS INTEGER) AS dim FROM dk${lvl}_6),
        |lohi_$lvl AS MATERIALIZED (
        |  SELECT d.t, d.p, d.sz, d.dim,
        |    min(pt.xs[d.dim + 1]) AS lo, max(pt.xs[d.dim + 1]) AS hi
        |  FROM dimv_$lvl d JOIN a_$lvl a ON a.t = d.t AND a.p = d.p
        |                   JOIN pts pt ON pt.id = a.id
        |  GROUP BY 1, 2, 3, 4),
        |nodes_$lvl AS MATERIALIZED (
        |  SELECT l.t, l.p, l.sz, l.dim,
        |    (l.sz <= 1 OR l.lo = l.hi) AS leaf,
        |    CAST(l.lo AS DOUBLE) +
        |      ((tk.z // 2048)::DOUBLE / 9007199254740992.0) *
        |      (CAST(l.hi AS DOUBLE) - CAST(l.lo AS DOUBLE)) AS thr
        |  FROM lohi_$lvl l JOIN tk${lvl}_6 tk ON tk.t = l.t AND tk.p = l.p),
        |a_${lvl + 1} AS MATERIALIZED (
        |  SELECT a.t, a.id,
        |    CASE WHEN CAST(pt.xs[n.dim + 1] AS DOUBLE) < n.thr
        |         THEN 2 * a.p ELSE 2 * a.p + 1 END AS p
        |  FROM a_$lvl a JOIN nodes_$lvl n ON n.t = a.t AND n.p = a.p AND NOT n.leaf
        |                JOIN pts pt ON pt.id = a.id)""".stripMargin
    }
    sb ++= s""",
      |leaves_$maxDepth AS MATERIALIZED (
      |  SELECT t, p, count(*) AS sz FROM a_$maxDepth GROUP BY 1, 2),
      |s_0 AS MATERIALIZED (
      |  SELECT pts.id, tt.t, CAST(1 AS BIGINT) AS p,
      |    FALSE AS done, 0.0 AS path
      |  FROM pts, range(0, $numTrees) tt(t))""".stripMargin
    for (lvl <- 0 until maxDepth) {
      sb ++= s""",
        |s_${lvl + 1} AS MATERIALIZED (
        |  SELECT s.id, s.t,
        |    CASE WHEN s.done OR n.leaf OR n.t IS NULL THEN s.p
        |         WHEN CAST(pt.xs[n.dim + 1] AS DOUBLE) < n.thr THEN 2 * s.p
        |         ELSE 2 * s.p + 1 END AS p,
        |    s.done OR n.t IS NULL OR n.leaf AS done,
        |    CASE WHEN s.done THEN s.path
        |         WHEN n.t IS NULL THEN CAST($lvl AS DOUBLE)
        |         WHEN n.leaf THEN $lvl + ${cOf("n.sz")}
        |         ELSE s.path END AS path
        |  FROM s_$lvl s
        |  LEFT JOIN nodes_$lvl n ON n.t = s.t AND n.p = s.p
        |  JOIN pts pt ON pt.id = s.id)""".stripMargin
    }
    sb ++= s""",
      |fin AS MATERIALIZED (
      |  SELECT s.id, s.t,
      |    CASE WHEN s.done THEN s.path
      |         WHEN l.t IS NULL THEN CAST($maxDepth AS DOUBLE)
      |         ELSE $maxDepth + ${cOf("l.sz")} END AS path
      |  FROM s_$maxDepth s LEFT JOIN leaves_$maxDepth l ON l.t = s.t AND l.p = s.p)
      |SELECT id AS $idCol,
      |  CAST(pow(2.0, -(sum(path) / $numTrees) / $cS) AS REAL) AS score
      |FROM fin GROUP BY 1""".stripMargin
    sb.toString
  }
}
