package graft

import graft.operators.GraphAnalytics

class GraphAnalyticsSpec extends SparkSpecBase {
  import spark.implicits._

  test("a symmetric cycle is the fixed point: every score stays 10^6") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = GraphAnalytics.pagerankInt(edges, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.values.toSet == Set(1000000L), s"cycle drifted: $out")
  }

  test("hand-computed one-iteration star scores") {
    // a<-b, a<-c, b<-a: deg(a)=deg(b)=deg(c)=1
    val edges = Seq((2L, 1L), (3L, 1L), (1L, 2L)).toDF("src", "dst")
    val out = GraphAnalytics.pagerankInt(edges, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // contrib(a)=2e6 -> 150000+1700000; contrib(b)=1e6 -> 1e6; c gets base
    assert(out(1L) == 1850000L && out(2L) == 1000000L && out(3L) == 150000L)
  }

  test("hub accumulates rank over iterations; all-integer determinism") {
    val n = 20
    // everyone points at node 0 plus a ring
    val edges = ((1 until n).map(i => (i.toLong, 0L)) ++
      (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))).toDF("src", "dst")
    val a = GraphAnalytics.pagerankInt(edges, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = GraphAnalytics.pagerankInt(edges, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.toSeq == b.toSeq, "two runs diverged")
    val hub = a.toMap.apply(0L)
    assert(a.filter(_._1 != 0L).forall(_._2 < hub), s"hub not top-ranked: $a")
  }

  test("triangle counts: one triangle plus a tail, found from either edge direction") {
    // triangle 1-2-3 (mixed directions) + pendant 3-4
    val edges = Seq((1L, 2L), (3L, 2L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = GraphAnalytics.triangleCounts(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("common neighbors: counts, neighborhood Jaccard and adjacency flag") {
    // path 1-2-3 plus edge 1-3 closing the triangle, pendant 2-4
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L)).toDF("src", "dst")
    val out = GraphAnalytics.commonNeighbors(edges, 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    // N(1)={2,3}, N(3)={1,2}: common={2}, union={1,2,3} -> 1/3, adjacent
    assert(out((1L, 3L)) == ((1L, 1.0 / 3.0, true)))
    // N(1)={2,3}, N(4)={2}: common={2}, union={2,3} -> 1/2, NOT adjacent
    assert(out((1L, 4L)) == ((1L, 0.5, false)))
    // N(3)={1,2}, N(4)={2}: common={2} -> 1/2, not adjacent
    assert(out((3L, 4L)) == ((1L, 0.5, false)))
  }

  test("label propagation: two cliques joined by a bridge keep distinct communities") {
    // clique {1,2,3}, clique {10,11,12}, bridge 3-10
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val out = GraphAnalytics.labelPropagation(edges, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // each clique converges to its own minimum label
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L, s"left clique: $out")
    assert(Set(out(10L), out(11L), out(12L)).size == 1, s"right clique split: $out")
    assert(out(10L) != out(1L), s"bridge merged the cliques: $out")
  }

  test("label propagation is deterministic under ties (smallest label wins)") {
    // node 5 sees exactly one neighbor of each label -> picks the smallest
    val edges = Seq((1L, 5L), (2L, 5L)).toDF("src", "dst")
    val out = GraphAnalytics.labelPropagation(edges, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(5L) == 1L)
  }

  test("label propagation's lazy plan leaves no RDD persisted") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L), (10L, 11L)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val lazyOut = GraphAnalytics.labelPropagation(edges, 5, materialize = false)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    val want = GraphAnalytics.labelPropagation(edges, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lazyOut.collect().map(r => (r.getLong(0), r.getLong(1))).toMap == want)
  }

  test("clustering coefficient: closed triangle = 1, open wedge center = 0") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = GraphAnalytics.clusteringCoefficients(edges).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((1L, 2L, 1.0)))
    // node 3 has degree 3, one triangle -> 2*1/(3*2) = 1/3
    assert(out(3L) == ((1L, 3L, 1.0 / 3.0)))
    assert(out(4L) == ((0L, 1L, 0.0)))
  }

  test("bounded SSSP: hop-limited relaxation, NULL for unreached") {
    // path 0-1-2-3-4 with unit-ish weights; 3 rounds reach node 3, not 4
    val edges = Seq((0L, 1L, 5L), (1L, 2L, 7L), (2L, 3L, 11L), (3L, 4L, 13L))
      .toDF("src", "dst", "w")
    val out = GraphAnalytics.ssspBounded(edges, "w", source = 0L, rounds = 3)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(0L) == 0L && out(1L) == 5L && out(2L) == 12L && out(3L) == 23L)
    assert(out(4L) == -1L, s"node 4 should be unreached in 3 rounds: $out")
    // a shortcut edge must win over the longer path
    val out2 = GraphAnalytics.ssspBounded(
      edges.union(Seq((0L, 2L, 3L)).toDF("src", "dst", "w")), "w", 0L, 3)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out2(2L) == 3L && out2(3L) == 14L)
  }

  test("tfidf: ubiquitous terms weigh zero, rare terms dominate, bucket sums collide") {
    import graft.operators.Bm25
    val docs = Seq((1L, "alpha shared"), (2L, "beta shared"), (3L, "gamma shared"))
      .toDF("doc_id", "text")
    val out = Bm25.tfidfHashed(docs, "doc_id", "text", dim = 4096).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getFloat(2)))
    // 'shared' has df=N -> ln(1)=0 weight in every doc
    val sharedIdx = graft.operators.Sketches.djb2u("shared") % 4096
    assert(out.filter(_._2 == sharedIdx).forall(_._3 == 0f))
    // each doc's unique term carries ln(3)
    val a = out.filter(t => t._1 == 1L && t._2 == graft.operators.Sketches.djb2u("alpha") % 4096)
    assert(a.length == 1 && math.abs(a.head._3 - math.log(3.0)) < 1e-6)
  }

  test("k-core peeling: pendant chain peels away, the clique survives") {
    // 4-clique {1,2,3,4} with a tail 4-5-6
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val out = GraphAnalytics.kCoreBounded(edges, k = 3, rounds = 3).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_)._2), s"clique peeled: $out")
    assert(!out(5L)._2 && !out(6L)._2, s"tail survived: $out")
    // peeled nodes report degree 0; clique members keep degree 3
    assert(out(6L)._1 == 0L && out(1L)._1 == 3L)
  }

  test("personalized PageRank: mass concentrates near the source, zero off-component") {
    // component {0,1,2} (triangle) and a disconnected pair {10,11}
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 10L))
      .toDF("src", "dst")
    val out = GraphAnalytics.personalizedPagerankInt(edges, source = 0L, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(0L) > out(1L) && out(0L) > out(2L), s"source not top: $out")
    assert(out(10L) == 0L && out(11L) == 0L, s"off-component mass leaked: $out")
    // hand-check round 1 on the triangle: deg=1 each; contrib(1)=1e6 from 0
    val one = GraphAnalytics.personalizedPagerankInt(edges, 0L, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(one(0L) == 150000L && one(1L) == 850000L && one(2L) == 0L)
  }

  test("assortativity: a star is perfectly disassortative (r = -1)") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val r = GraphAnalytics.assortativity(star).collect().head
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Float]("mean_deg") == 2f) // (3+1+1+1)/3 stubs... 12/6
    assert(math.abs(r.getAs[Float]("r") - (-1f)) < 1e-6)
  }

  test("hits: two hubs feeding one authority, hand-checked half-steps") {
    import spark.implicits._
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val out = GraphAnalytics.hitsInt(edges, iterations = 1)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("hub_scaled"), r.getAs[Long]("auth_scaled"))).toMap
    // auth: raw(3) = 2e6, total 2e6 -> 1e6; hubs split it evenly
    assert(out(3L) == ((0L, 1000000L)))
    assert(out(1L) == ((500000L, 0L)))
    assert(out(2L) == ((500000L, 0L)))
  }

  test("hits: iteration keeps the L1 scale and separates a chain") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val out = GraphAnalytics.hitsInt(edges, iterations = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("hub_scaled"), r.getAs[Long]("auth_scaled"))).toMap
    // node 1 points at both others: best hub; node 3 is pointed at by
    // both: best authority; floor-normalized totals stay ~1e6
    assert(out(1L)._1 > out(2L)._1 && out(2L)._1 >= out(3L)._1)
    assert(out(3L)._2 > out(2L)._2 && out(2L)._2 >= out(1L)._2)
    val hubTot = out.values.map(_._1).sum
    val authTot = out.values.map(_._2).sum
    assert(hubTot > 999990L && hubTot <= 1000000L)
    assert(authTot > 999990L && authTot <= 1000000L)
  }

  test("assortativity: a regular graph has zero degree variance -> r = 0") {
    import spark.implicits._
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val r = GraphAnalytics.assortativity(cycle).collect().head
    assert(r.getAs[Float]("r") == 0f)
    assert(r.getAs[Float]("mean_deg") == 2f)
  }

  test("random walks: every hop rides a real edge, deterministic across runs") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
      .toDF("src", "dst")
    val adj = Set((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
      .flatMap { case (a, b) => Set((a, b), (b, a)) }
    def run() = GraphAnalytics.randomWalks(edges, walkLength = 4)
      .orderBy("wid", "step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val w = run()
    assert(w.length == 4 * 5) // 4 nodes x (walkLength + 1) positions
    for (Array((wid, s1, n1), (_, s2, n2)) <- w.grouped(5).flatMap(_.sliding(2))
         if s2 == s1 + 1)
      assert(adj.contains((n1, n2)), s"walk $wid hop $n1->$n2 not an edge")
    assert(w.sameElements(run()), "walks not deterministic")
  }

  test("modularity: two clean triangles score 0.5; one blob scores 0") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L)).toDF("src", "dst")
    val goodLabels = (0 to 5).map(i => (i.toLong, if (i < 3) 0L else 1L))
      .toDF("id", "community")
    val good = GraphAnalytics.modularity(edges, goodLabels, "id", "community")
      .collect()
    assert(good.forall(_.getFloat(5) == 0.5f), good.mkString(";"))
    assert(good.forall(r => r.getLong(2) == 3L && r.getLong(3) == 6L))
    val blob = (0 to 5).map(i => (i.toLong, 0L)).toDF("id", "community")
    val q0 = GraphAnalytics.modularity(edges, blob, "id", "community")
      .collect().head.getFloat(5)
    assert(q0 == 0f, s"single community must score exactly 0, got $q0")
  }

  test("modularity refuses a partial labeling instead of deflating Q") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    // node 2 unlabeled: the inner joins would silently drop its edges
    val partial = Seq((0L, 0L), (1L, 0L)).toDF("id", "community")
    val e = intercept[IllegalArgumentException] {
      GraphAnalytics.modularity(edges, partial, "id", "community").collect()
    }
    assert(e.getMessage.contains("1 edge endpoint"))
    // a labeled isolated node is allowed: zero-degree, contributes 0
    val extra = Seq((0L, 0L), (1L, 0L), (2L, 0L), (9L, 1L))
      .toDF("id", "community")
    val rows = GraphAnalytics.modularity(edges, extra, "id", "community")
      .collect()
    assert(rows.map(_.getLong(0)).toSet == Set(0L),
      "isolated-only community must not appear in edge-incident rows")
    assert(rows.head.getFloat(5) == 0f)
  }

  test("katz: hand-computed one-iteration star scores, no degree dilution") {
    // 1 receives from 2 and 3 (whole scores, unlike pagerank's deg split)
    val edges = Seq((2L, 1L), (3L, 1L), (1L, 2L)).toDF("src", "dst")
    val out = GraphAnalytics.katzInt(edges, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(1L) == 120000L, s"node 1: ${out(1L)}")
    assert(out(2L) == 110000L && out(3L) == 100000L, out.toString)
  }

  test("harmonic: exact 1/d sums over two pivots on a path graph") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = GraphAnalytics.harmonicBounded(path, Seq(0L, 4L), maxDepth = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2))).toMap
    assert(out(2L) == ((2L, 1.0f)), s"center: ${out(2L)}") // 1/2 + 1/2
    assert(out(0L) == ((1L, 0.25f)))                       // only pivot 4, d=4
    assert(math.abs(out(1L)._2 - (1.0 + 1.0 / 3.0)) < 1e-6)
  }

  test("betweenness: hand-computed dependencies on a path graph, two pivots") {
    // 0-1-2-3-4; Brandes from 0: delta = 3,2,1,0; from 3: delta(2)=2,
    // delta(1)=1. Sources never accumulate their own delta.
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = GraphAnalytics.betweennessBounded(path, Seq(0L, 3L), maxDepth = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2))).toMap
    assert(out(1L) == ((2L, 4f)), s"node 1: ${out(1L)}")
    assert(out(2L) == ((2L, 4f)), s"node 2: ${out(2L)}")
    assert(out(3L) == ((1L, 1f)) && out(0L)._2 == 0f && out(4L)._2 == 0f)
  }

  test("betweenness: equal path splitting on a diamond") {
    // 0-1-3 and 0-2-3: two shortest paths, each middle carries 1/2
    val diamond = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val out = GraphAnalytics.betweennessBounded(diamond, Seq(0L), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getFloat(2)).toMap
    assert(out(1L) == 0.5f && out(2L) == 0.5f && out(3L) == 0f && out(0L) == 0f)
  }

  test("betweenness: the depth bound truncates longer paths on both sides") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = GraphAnalytics.betweennessBounded(path, Seq(0L), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2))).toMap
    // nodes 3,4 beyond depth 2 from pivot 0: unreached, zero everywhere
    assert(out(3L) == ((0L, 0f)) && out(4L) == ((0L, 0f)))
    assert(out(1L) == ((1L, 1f)) && out(2L) == ((1L, 0f)))
  }
}
