package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Graph analytics over similarity graphs — the companion family to
 * `build_knn_graph` (reference: `NeuronDB/src/ml/analytics.c:1286`,
 * whose knn graphs feed downstream analytics).
 *
 * PageRank here is FIXED-POINT INTEGER arithmetic: scores scaled by
 * 10⁶, every division an integer floor division, so the iteration is
 * deterministic, shuffle-order-free, and exactly replayable in SQL —
 * the PageRank analog of the integer-scaled fixpoint oracles
 * (SCALING.md §"Verification technique").
 *
 *   S₀(v) = 10⁶
 *   S_{t+1}(v) = 150000 + (850000 · Σ_{u→v} (S_t(u) // deg(u))) // 10⁶
 *
 * (d = 0.85 damping in parts-per-million; dangling mass is dropped —
 * knn graphs have fixed out-degree, so none exists there.)
 *
 * Scale shape: each iteration is one join on the edge src + one
 * groupBy on dst — the SpMV pattern `sgc_propagate` uses; no dense
 * matrix, no driver-side state, plan depth linear in the (fixed,
 * small) iteration count.
 */
object GraphAnalytics {

  /** Plan-depth bound for the lazily-chained fixed points (r16). Rounds
    * chain LAZILY (the whole block runs as one job — see pagerankInt),
    * but every `lazyBlockRounds` rounds the chain is cut with an eager
    * localCheckpoint so logical-plan depth stays O(K) no matter how
    * large the caller's iteration count is: unbounded laziness makes
    * analyzer/codegen time linear in `iterations` and risks whole-stage
    * codegen fallback on very deep plans. K=4 keeps the benched 3-round
    * queries fully lazy — quiet-box A/B (solo min-of-8, sf0.1): lazy
    * beats eager-per-round 1.23 vs 1.40 s on pagerank_knn and 1.44 vs
    * 1.73 s on community_labelprop, so laziness stays the default and
    * the cut only bounds the depth for large-iteration callers. */
  private[graft] val lazyBlockRounds = 4

  /** Eager cut at block boundaries only; the final round is left lazy —
    * every caller materializes its own result (localCheckpoint before
    * releasing the pinned edges, per the AeFixpoint contract). */
  private def cutEvery(df: DataFrame, round: Int, last: Int): DataFrame =
    if (round % lazyBlockRounds == 0 && round < last) df.localCheckpoint(true)
    else df

  /** Personalized PageRank (random walk with restart) from one source —
    * the graph-proximity relevance measure retrieval systems layer on a
    * similarity graph. Same fixed-point integer frame as
    * [[pagerankInt]], but ALL teleport mass returns to the source:
    * S₀(source) = 10⁶, else 0;
    * S_{t+1}(v) = (v = source ? 150000 : 0)
    *              + (850000 · Σ_{u→v} (S_t(u) // deg(u))) // 10⁶.
    * Floor divisions only, so the iteration replays exactly in SQL. */
  def personalizedPagerankInt(edges: DataFrame, source: Long,
                              iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).persist()
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .localCheckpoint(true)
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      var s = nodes.withColumn("score",
        when(col("id") === source, lit(1000000L)).otherwise(lit(0L)))
      for (t <- 1 to iterations) {
        val contrib = e
          .join(s.withColumnRenamed("id", "src"), "src")
          .join(deg, "src")
          .select(col("dst").as("id"), expr("score div deg").as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("contrib"))
        // r15: lazy round chaining — see pagerankInt. r16: depth-bounded
        // via cutEvery (a no-op for small fixed iteration counts).
        s = cutEvery(nodes.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (when(col("id") === source, lit(150000L)).otherwise(lit(0L)) +
              expr("(850000 * coalesce(contrib, 0L)) div 1000000")).as("score")),
          t, iterations)
      }
      s.localCheckpoint(true)
    } finally e.unpersist()
  }

  /** Symmetrized, deduplicated edge list: (a, b) with a < b. */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") < col("b"))
      .distinct()

  /** Per-node triangle participation counts over the undirected graph —
    * the standard two-join enumeration (each triangle a<b<c found once),
    * exploded to its three corners and reduced. Nodes in no triangle
    * report 0. Scale shape: two shuffle joins on edge endpoints, output
    * bounded by the triangle count — never an all-pairs product. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val nodes = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct()
    val tri = und.as("e1")
      .join(und.as("e2"), col("e2.a") === col("e1.b"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val corners = tri.select(col("x").as("id"))
      .union(tri.select(col("y").as("id")))
      .union(tri.select(col("z").as("id")))
    val counts = corners.groupBy(col("id")).agg(count(lit(1)).as("cnt"))
    nodes.join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("cnt"), lit(0L)).as("n_triangles"))
  }

  /** Common-neighbor link prediction: for every node pair sharing at
    * least one neighbor, the shared-neighbor count and the Jaccard of
    * the two neighborhoods (|N(u)∩N(v)| / |N(u)∪N(v)|), with an
    * `adjacent` flag so existing edges are distinguishable from true
    * link candidates; top-`kTop` by (common desc, u, v). One shuffle
    * join on the shared-neighbor key — cost bounded by Σ deg², the
    * wedge count, not |V|². */
  def commonNeighbors(edges: DataFrame, kTop: Int): DataFrame = {
    val und = undirected(edges)
    val adj = und.select(col("a").as("node"), col("b").as("nb"))
      .union(und.select(col("b").as("node"), col("a").as("nb")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("d"))
    val cn = adj.as("x").join(adj.as("y"),
        col("x.nb") === col("y.nb") && col("x.node") < col("y.node"))
      .groupBy(col("x.node").as("u"), col("y.node").as("v"))
      .agg(count(lit(1)).as("common"))
    cn.join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .join(und.select(col("a").as("u"), col("b").as("v"), lit(true).as("adj")),
        Seq("u", "v"), "left")
      .select(col("u"), col("v"), col("common"),
        (col("common").cast("double") / (col("du") + col("dv") - col("common")))
          .as("jaccard"),
        coalesce(col("adj"), lit(false)).as("adjacent"))
      .orderBy(col("common").desc, col("u"), col("v"))
      .limit(kTop)
  }

  /** Local clustering coefficients: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1))
    * over the undirected graph ([[triangleCounts]] + one degree
    * aggregate); nodes of degree < 2 report 0. The division is
    * exact-int → double, deterministic cross-engine. */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val adj = und.select(col("a").as("node"), col("b").as("nb"))
      .union(und.select(col("b").as("node"), col("a").as("nb")))
    val deg = adj.groupBy(col("node").as("id")).agg(count(lit(1)).as("degree"))
    triangleCounts(edges).join(deg, "id")
      .select(col("id"), col("n_triangles"), col("degree"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(lit(2.0) * col("n_triangles") /
            (col("degree") * (col("degree") - 1)))
          .as("cc"))
  }

  /** Hop-bounded single-source shortest paths (Bellman–Ford rounds) over
    * INTEGER edge weights — deterministic min-plus joins, one relaxation
    * per round (join on the frontier key + a min aggregate, the same
    * SpMV shape as [[pagerankInt]]); a fixed round count replays as
    * unrolled SQL. Unreached nodes report NULL. Callers with float
    * distances scale them to integers first (floor(d·10⁶)) so the sums
    * stay exact. */
  def ssspBounded(edges: DataFrame, weightCol: String, source: Long,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be positive: $rounds")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col(weightCol).cast("long").as("w"))
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .persist() // loop-invariant; see pagerankInt
    try {
      val nodes = sym.select(col("src").as("id")).distinct()
      var dist = nodes.withColumn("d",
          when(col("id") === source, lit(0L)).otherwise(lit(null).cast("long")))
        .localCheckpoint(true)
      for (_ <- 1 to rounds) {
        val relaxed = sym
          .join(dist.filter(col("d").isNotNull).select(col("id").as("src"), col("d")), "src")
          .select(col("dst").as("id"), (col("d") + col("w")).as("cand"))
          .groupBy(col("id")).agg(min(col("cand")).as("cand"))
        dist = dist.join(relaxed, Seq("id"), "left")
          .select(col("id"), least(col("d"), col("cand")).as("d"))
          .localCheckpoint(true)
      }
      dist.select(col("id"), col("d").as("dist_scaled"))
    } finally sym.unpersist()
  }

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop every
    * node whose CURRENT degree is below k" (all below-threshold nodes
    * removed together — no visit order, so a fixed round count replays
    * exactly in SQL). Returns every node with `in_core` = survived all
    * rounds, plus its final degree (0 for peeled nodes). Each round is
    * one degree aggregate + one semi-join — degeneracy-order exactness
    * needs unbounded rounds; the bounded form is the scan-friendly
    * approximation that converges from above. */
  def kCoreBounded(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need positive k/rounds: $k, $rounds")
    val und = undirected(edges).persist() // shared by nodes + round 1
    try {
      val nodes = und.select(col("a").as("id"))
        .union(und.select(col("b").as("id"))).distinct()
        .localCheckpoint(true)
      var live = und.select(col("a"), col("b"))
      for (_ <- 1 to rounds) {
        val adj = live.select(col("a").as("node"))
          .union(live.select(col("b").as("node")))
        val keep = adj.groupBy(col("node")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("node"))
        // eager cut: the shrinking edge list would otherwise re-derive
        // every earlier round (and the caller's edges) per round
        live = live
          .join(keep.select(col("node").as("a")), "a")
          .join(keep.select(col("node").as("b")), "b")
          .select(col("a"), col("b"))
          .localCheckpoint(true)
      }
      val finalDeg = live.select(col("a").as("id"))
        .union(live.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      nodes.join(finalDeg, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("degree"), lit(0L)).as("degree"),
          (coalesce(col("degree"), lit(0L)) >= k).as("in_core"))
        .localCheckpoint(true)
    } finally und.unpersist()
  }

  /** Deterministic label-propagation community detection: labels start
    * as node ids; each round every node adopts the MAJORITY label of its
    * neighborhood, ties broken by the SMALLEST label — no randomness,
    * no visit order (synchronous update), so a fixed iteration count
    * replays exactly in SQL. Each round is one join on the neighbor key
    * + a per-node grouped top-1 (partitioned window over per-node label
    * counts — bounded by degree, never global). Returns (id, community)
    * after `iterations` rounds. */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame =
    labelPropagation(edges, iterations, materialize = true)

  /** `materialize = false` cuts nothing eagerly (no node-set, round or
    * final localCheckpoint) and returns the composed lazy plan — the
    * PlanShapeSpec hook (the incrementalDedup convention). Either way the
    * adjacency is unpersisted before returning, so the call leaves no
    * RDD pinned; the lazy plan re-derives it when run. Production callers
    * always materialize (the AeFixpoint contract: the result must not
    * re-derive the unpersisted adjacency). */
  private[graft] def labelPropagation(edges: DataFrame, iterations: Int,
                                      materialize: Boolean): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    // adj is loop-invariant: pin it, and cut each round's plan eagerly
    // (same rationale as pagerankInt)
    val adj = {
      val und = undirected(edges)
      und.select(col("a").as("node"), col("b").as("nb"))
        .union(und.select(col("b").as("node"), col("a").as("nb")))
        .persist()
    }
    try {
      val nodes0 = adj.select(col("node").as("id")).distinct()
      val nodes = if (materialize) nodes0.localCheckpoint(true) else nodes0
      var lab = nodes.withColumn("label", col("id"))
      for (t <- 1 to iterations) {
        val counts = adj.join(lab.select(col("id").as("nb"), col("label")), "nb")
          .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        // r16: the majority pick is a hash aggregate, not a ranking
        // window — min(struct(-c, label)) is lexicographically the same
        // choice as row_number() over (ORDER BY c DESC, label) = 1
        // (largest count, ties to the SMALLEST label; negating the
        // count is safe: c is count(*) >= 1). A hash aggregate gets
        // map-side partial aggregation and skips the per-round sort the
        // window needed (guide §2.3 "aggregate before you shuffle").
        val pick = counts
          .groupBy(col("node").as("id"))
          .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
          .select(col("id"), col("m").getField("l").as("label"))
        // r15: lazy round chaining — `lab` is read once per round; see
        // pagerankInt. r16: depth bounded via cutEvery.
        val next = nodes.join(pick, Seq("id"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        lab = if (materialize) cutEvery(next, t, iterations) else next
      }
      val out = lab.select(col("id"), col("label").as("community"))
      if (materialize) out.localCheckpoint(true) else out
    } finally adj.unpersist()
  }

  /** Integer PageRank over `edges(src, dst)`; returns (id, score) with
    * score = round-scaled 10⁶ fixed-point rank after `iterations`. */
  def pagerankInt(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    // loop-invariant inputs pinned once: without the persist every round
    // replays the caller's edge derivation (for knn graphs, the whole
    // neighbor build) from lineage — iterations × that cost
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).persist()
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .localCheckpoint(true)
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      var s = nodes.withColumn("score", lit(1000000L))
      for (t <- 1 to iterations) {
        val contrib = e
          .join(s.withColumnRenamed("id", "src"), "src")
          .join(deg, "src")
          .select(col("dst").as("id"), expr("score div deg").as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("contrib"))
        // r15: rounds chain LAZILY — `s` is referenced exactly once per
        // round, so the composed plan executes each round once and the
        // whole fixed-point runs as ONE job instead of one eager
        // checkpoint job per round (guide §2.4: don't pay a
        // materialization the dataflow doesn't need). Loops whose state
        // is read 2-3× per round (sssp, k-core) keep the eager cut.
        // r16: plan depth bounded via cutEvery (no-op below 5 rounds).
        s = cutEvery(nodes.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (lit(150000L) +
              expr("(850000 * coalesce(contrib, 0L)) div 1000000")).as("score")),
          t, iterations)
      }
      // materialize BEFORE unpersist so the caller's action does not
      // re-derive the edges from scratch (AeFixpoint contract)
      s.localCheckpoint(true)
    } finally e.unpersist()
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) in the same integer
    * fixed-point frame as [[pagerankInt]]: scores start at 10⁶; each
    * half-step sums the opposite score over the edge (auth from
    * in-hubs, hub from out-auths) and L1-renormalizes with floor
    * division — `(10⁶ · raw) // Σraw` — so every iteration is exact
    * integer arithmetic the SQL oracle replays verbatim. Bound: node
    * count · 10¹² must fit a long (n < ~9·10⁶ — HITS is run on
    * analysis subgraphs, not the full crawl).
    *
    * Scale shape per half-step: one edge join + one groupBy on the
    * receiving endpoint (SpMV), one scalar total broadcast back —
    * never a dense matrix. */
  def hitsInt(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).persist()
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .localCheckpoint(true)
      def halfStep(score: DataFrame, fromCol: String, toCol: String) = {
        val raw = e
          .join(score.withColumnRenamed("id", fromCol), fromCol)
          .select(col(toCol).as("id"), col("score").as("s"))
          .groupBy(col("id")).agg(sum(col("s")).as("raw"))
        val total = raw.agg(sum(col("raw")).as("__tot"))
        nodes.join(raw, Seq("id"), "left")
          .crossJoin(broadcast(total))
          .select(col("id"),
            expr("(1000000 * coalesce(raw, 0L)) div __tot").as("score"))
          .localCheckpoint(true)
      }
      var hub = nodes.withColumn("score", lit(1000000L))
      var auth = nodes.withColumn("score", lit(1000000L))
      for (_ <- 1 to iterations) {
        auth = halfStep(hub, "src", "dst") // auth(v) = sum of hubs into v
        hub = halfStep(auth, "dst", "src") // hub(u) = sum of auths out of u
      }
      hub.withColumnRenamed("score", "hub_scaled")
        .join(auth.withColumnRenamed("score", "auth_scaled"), Seq("id"))
    } finally e.unpersist()
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the 2|E| directed stubs of the undirected
    * graph. Positive r = hubs attach to hubs (social nets); negative =
    * hubs attach to leaves (the web, kNN graphs).
    *
    * Scale shape: one degree groupBy + two broadcast-or-shuffle joins
    * keyed on the stub endpoints, then a single closing aggregate. The
    * moment sums are integer-valued (degrees), so double summation is
    * exact and order-independent below 2^53 — r still emits float4
    * because the closing divisions and sqrt feed from five separate
    * aggregates. Emits one row: (n_edges, mean_deg, r). */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val stubs = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val deg = stubs.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val joined = stubs
      .join(deg.select(col("u"), col("d").as("dx")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("dy")), Seq("v"))
      .select(col("dx").cast("double").as("x"),
        col("dy").cast("double").as("y"))
    joined.agg(count(lit(1)).as("__m"), sum(col("x")).as("__sx"),
        sum(col("y")).as("__sy"),
        sum(col("x") * col("x")).as("__sxx"),
        sum(col("y") * col("y")).as("__syy"),
        sum(col("x") * col("y")).as("__sxy"))
      .select((col("__m") / 2).cast("long").as("n_edges"), {
        val m = col("__m").cast("double")
        val cov = col("__sxy") - col("__sx") * col("__sy") / m
        val vx = col("__sxx") - col("__sx") * col("__sx") / m
        val vy = col("__syy") - col("__sy") * col("__sy") / m
        struct((col("__sx") / m).cast("float").as("mean_deg"),
          when(vx > 0 && vy > 0, cov / sqrt(vx * vy))
            .otherwise(0.0).cast("float").as("r")).as("f")
      })
      .select(col("n_edges"), col("f.mean_deg").as("mean_deg"),
        col("f.r").as("r"))
  }

  /**
   * Deterministic uniform random-walk corpus (the DeepWalk/node2vec
   * p=q=1 sampling stage, Perozzi et al. 2014): one `walkLength`-step
   * walk per node, the step-t coin for walk w drawn from
   * splitmix64(w * 1000003 + t) — reproducible, partition-order
   * independent, and replayable in SQL through the shared
   * [[graft.functions.Mix64Sql]] chain. The key multiply WRAPS mod
   * 2^64 (JVM Long semantics) for node ids above ~9.2e12 — by design,
   * and the oracle matches because its key is computed in HUGEINT and
   * folded mod 2^64 (the epochShuffle pattern), never as a checked
   * BIGINT multiply (ADVICE r12). Neighbors are indexed by
   * (source, dst-rank), so `coin mod degree` picks the same edge in
   * both engines. Returns (wid, step, node) — the token stream a
   * skip-gram embedder consumes.
   *
   * Scale shape: each step is one equi-join of the walk frontier with
   * the ranked adjacency (SpMV family); state is |nodes| rows; the
   * coin is stateless arithmetic, so walks need no RNG state shuffle.
   */
  def randomWalks(edges: DataFrame, walkLength: Int): DataFrame = {
    require(walkLength >= 1, s"walkLength $walkLength")
    val und = undirected(edges)
    val adj = und.select(col("a"), col("b"))
      .union(und.select(col("b").as("a"), col("a").as("b")))
    val ranked = adj.withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("a")).orderBy(col("b"))).cast("long") - 1L)
      .select(col("a").as("cur"), col("idx"), col("b").as("nxt"))
      .persist()
    try {
      val deg = ranked.groupBy(col("cur")).agg(count(lit(1)).as("deg"))
      val nodes = ranked.select(col("cur").as("id")).distinct()
      var state = nodes.select(col("id").as("wid"), col("id").as("cur"))
        .localCheckpoint(true)
      var out = state.select(col("wid"), lit(0L).as("step"),
        col("cur").as("node"))
      for (t <- 1 to walkLength) {
        val coin = udf((wid: Long, d: Long) => java.lang.Long
          .remainderUnsigned(graft.functions.DetRandom.mix64(
            wid * 1000003L + t), d))
        state = state.join(deg, "cur")
          .withColumn("idx", coin(col("wid"), col("deg")))
          .join(ranked, Seq("cur", "idx"))
          .select(col("wid"), col("nxt").as("cur"))
          .localCheckpoint(true)
        out = out.unionByName(state.select(col("wid"),
          lit(t.toLong).as("step"), col("cur").as("node")))
      }
      out
    } finally ranked.unpersist()
  }

  /**
   * Newman modularity of a node labeling (Newman & Girvan 2004):
   * Q = sum over communities of [e_c/m - (d_c/2m)^2] — how much
   * denser inside-community edges are than a degree-preserving random
   * rewiring. Everything is computed in EXACT integers on the common
   * denominator 4m^2 (per-community contribution
   * 4m*e_c - d_c^2), so community rows are engine-exact; only the
   * final Q ratio emits float4. Returns one row per community:
   * (community, n_nodes, intra_edges, degree_sum, q_contrib_scaled,
   * q) with the global Q repeated per row.
   *
   * Label-coverage contract (ADVICE r12): every edge endpoint MUST
   * appear in `labels` — a partial labeling would silently deflate Q
   * (intra-edges and degree sums inner-join the label table), so an
   * uncovered endpoint is REFUSED up front, like the empty-edge-set
   * case. Labeled nodes with no incident edge are fine: they carry
   * d_c = 0 and e_c = 0, contribute exactly 0 to Newman's Q, and are
   * deliberately not counted in `n_nodes` (which counts edge-incident
   * members — the denominator 2m only sees degrees).
   *
   * Scale shape: two equi-joins of the edge list against the label
   * table plus one degree aggregate — the same key-partitioned passes
   * as the community detection that produced the labels (the coverage
   * require is one more anti-join aggregate over the same keys).
   */
  def modularity(edges: DataFrame, labels: DataFrame, idCol: String,
                 labelCol: String): DataFrame = {
    val und = undirected(edges).persist()
    try {
      val lab = labels.select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("long").as("community"))
      val m = und.count()
      require(m > 0, "modularity of an empty edge set is undefined")
      val uncovered = und.select(col("a").as("id"))
        .union(und.select(col("b").as("id"))).distinct()
        .join(lab.select(col("id")), Seq("id"), "left_anti").count()
      require(uncovered == 0L,
        s"modularity labels miss $uncovered edge endpoint(s); a partial " +
          "labeling silently deflates Q — label every edge-incident node")
      val adj = und.select(col("a"), col("b"))
        .union(und.select(col("b").as("a"), col("a").as("b")))
      val degs = adj.groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("deg"))
      val intra = und
        .join(lab.select(col("id").as("a"), col("community").as("ca")), "a")
        .join(lab.select(col("id").as("b"), col("community").as("cb")), "b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community"))
        .agg(count(lit(1)).as("intra_edges"))
      val dc = lab.join(degs, "id")
        .groupBy(col("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
      val per = dc.join(intra, Seq("community"), "left")
        .select(col("community"), col("n_nodes"),
          coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
          col("degree_sum"),
          (lit(4L * m) * coalesce(col("intra_edges"), lit(0L)) -
            col("degree_sum") * col("degree_sum")).as("q_contrib_scaled"))
      per.withColumn("q",
        (sum(col("q_contrib_scaled"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy())
          .cast("double") / (4.0 * m * m)).cast("float"))
    } finally und.unpersist()
  }

  /**
   * Katz centrality, integer fixed-point (Katz 1953): unlike PageRank
   * there is NO degree normalization — a node's score feeds each
   * out-neighbor whole, so high-degree hubs amplify rather than
   * dilute. s_{t+1}(v) = base + (alpha * sum of in-neighbor scores)
   * with the same scaled-integer floor arithmetic as [[pagerankInt]]
   * (alpha = 0.1 scaled, base = 10^5 on the 10^6 grid), so a fixed
   * iteration count replays exactly in SQL. Scale shape: the SpMV
   * family — one edge-key join + one aggregate per iteration.
   */
  def katzInt(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations $iterations")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().persist()
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      var s = nodes.withColumn("score", lit(100000L)).localCheckpoint(true)
      for (_ <- 1 to iterations) {
        val contrib = e.join(s.select(col("id").as("src"), col("score")), "src")
          .groupBy(col("dst").as("id")).agg(sum(col("score")).as("c"))
        s = nodes.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (lit(100000L) + expr("(100000 * coalesce(c, 0)) div 1000000"))
              .as("score"))
          .localCheckpoint(true)
      }
      s
    } finally e.unpersist()
  }

  /**
   * Pivot-sampled harmonic centrality, depth-bounded: h(v) = sum over
   * pivot sources s of 1/d(s, v) over the reached pivots (the
   * Marchiori-Latora form — well-defined on disconnected graphs where
   * classic closeness is not). BFS distances are exact integers from
   * the same bounded frontier walk as [[betweennessBounded]]; the
   * 1/d terms emit float4 (a sum over |pivots| values). Returns
   * (id, reached, harmonic).
   */
  def harmonicBounded(edges: DataFrame, sources: Seq[Long],
                      maxDepth: Int): DataFrame = {
    require(sources.nonEmpty && maxDepth >= 1,
      s"need pivots and positive depth: $sources, $maxDepth")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges)
    val adj = und.select(col("a"), col("b"))
      .union(und.select(col("b").as("a"), col("a").as("b")))
      .persist()
    try {
      val nodes = adj.select(col("a").as("id")).distinct()
      val src = sources.toDF("src")
      var frontier = nodes.join(src, col("id") === col("src"), "inner")
        .select(col("src"), col("id").as("node"), lit(0L).as("lvl"))
        .localCheckpoint(true)
      var visited = frontier.localCheckpoint(true)
      for (l <- 1 to maxDepth) {
        val seen = visited.select(col("src").as("__vs"), col("node").as("__v"))
        frontier = frontier
          .join(adj, col("node") === col("a"))
          .select(col("src"), col("b").as("node"))
          .distinct()
          .join(seen,
            col("node") === col("__v") && col("src") === col("__vs"),
            "left_anti")
          .select(col("src"), col("node"), lit(l.toLong).as("lvl"))
          .localCheckpoint(true)
        visited = visited.union(frontier).localCheckpoint(true)
      }
      nodes
        .join(visited.filter(col("lvl") > 0)
          .groupBy(col("node")).agg(count(lit(1)).as("reached"),
            sum(lit(1.0) / col("lvl").cast("double")).as("h")),
          col("id") === col("node"), "left")
        .select(col("id"), coalesce(col("reached"), lit(0L)).as("reached"),
          coalesce(col("h"), lit(0.0)).cast("float").as("harmonic"))
    } finally adj.unpersist()
  }

  /**
   * Bounded sampled-Brandes betweenness centrality (Brandes 2001;
   * source-sampled per Brandes/Pich 2007) over the undirected graph:
   * for each pivot source, a depth-bounded BFS counts shortest paths
   * (sigma — exact integers), then the dependency recursion
   * delta(v) = sum over successors w of (sigma_v/sigma_w)(1+delta_w)
   * accumulates each node's share of the source's shortest paths.
   * Betweenness = the per-node sum over pivots.
   *
   * The depth bound makes the operator replayable as unrolled SQL
   * (the sssp_bounded/kcore_bounded convention): paths longer than
   * `maxDepth` hops are ignored on BOTH engine and oracle. Returns
   * every node with (paths — the exact total sigma over pivots,
   * BIGINT — and betweenness float4; delta sums are unordered doubles,
   * the REAL convention absorbs them).
   *
   * Scale shape: each forward level is one frontier-adjacency
   * equi-join + anti-join against the visited set; each backward level
   * one join on (pivot, node). Frontier state is (pivots x reached
   * nodes) — the SpMV family, never all-pairs; at 100 TB pivots are a
   * sample, exactly the published estimator.
   */
  def betweennessBounded(edges: DataFrame, sources: Seq[Long],
                         maxDepth: Int): DataFrame = {
    require(sources.nonEmpty && maxDepth >= 1,
      s"need pivots and positive depth: $sources, $maxDepth")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges)
    val adj = und.select(col("a"), col("b"))
      .union(und.select(col("b").as("a"), col("a").as("b")))
      .persist() // loop-invariant adjacency, both directions
    try {
      val nodes = adj.select(col("a").as("id")).distinct()
      val src = sources.toDF("src")
      // forward: levels(l) = (src, node, sigma) at BFS depth l
      var levels = Vector(
        nodes.join(src, col("id") === col("src"), "inner")
          .select(col("src"), col("id").as("node"), lit(1L).as("sigma"))
          .localCheckpoint(true))
      var visited = levels.head.select(col("src"), col("node"))
        .localCheckpoint(true)
      for (_ <- 1 to maxDepth) {
        val seen = visited.select(col("src").as("__vs"), col("node").as("__v"))
        val next = levels.last
          .join(adj, col("node") === col("a"))
          .select(col("src"), col("b").as("node"), col("sigma"))
          .join(seen,
            col("node") === col("__v") && col("src") === col("__vs"),
            "left_anti")
          .groupBy(col("src"), col("node"))
          .agg(sum(col("sigma")).as("sigma"))
          .localCheckpoint(true)
        levels :+= next
        visited = visited.union(next.select(col("src"), col("node")))
          .localCheckpoint(true)
      }
      // backward: delta at the deepest level is 0; each shallower level
      // pulls (sigma_v/sigma_w)(1+delta_w) from its successors
      var withDelta = levels.last.withColumn("delta", lit(0.0))
      var acc = withDelta.select(col("src"), col("node"), col("sigma"),
        col("delta"))
      for (l <- (0 until maxDepth).reverse) {
        val nxt = withDelta.select(col("src").as("nsrc"),
          col("node").as("nnode"), col("sigma").as("nsigma"),
          col("delta").as("ndelta"))
        val cur = levels(l)
        withDelta = cur
          .join(adj, col("node") === col("a"), "left")
          .join(nxt, col("b") === col("nnode") && col("src") === col("nsrc"),
            "left")
          .groupBy(col("src"), col("node"), col("sigma"))
          .agg(coalesce(sum(
            (col("sigma").cast("double") / col("nsigma").cast("double")) *
              (lit(1.0) + col("ndelta"))), lit(0.0)).as("delta"))
          .localCheckpoint(true)
        if (l > 0) acc = acc.unionByName(withDelta)
      }
      nodes
        .join(acc.groupBy(col("node")).agg(
          sum(col("sigma")).as("paths"), sum(col("delta")).as("bw")),
          col("id") === col("node"), "left")
        .select(col("id"), coalesce(col("paths"), lit(0L)).as("paths"),
          coalesce(col("bw"), lit(0.0)).cast("float").as("betweenness"))
    } finally adj.unpersist()
  }
}
