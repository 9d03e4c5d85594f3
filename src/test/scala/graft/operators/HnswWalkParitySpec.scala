package graft.operators

import graft.SparkSpecBase
import graft.operators.Hnsw.{Node, Params}

/** The int-indexed HNSW walk against the boxed walk it replaced
  * ([[HnswReference]]): builds must produce the same adjacency and
  * searches the same (id, distance) lists, bit for bit, including on
  * distance ties (repeated vectors on an integer grid) and with
  * tombstoned ids. The build rows of two fixed inputs are pinned by a
  * content hash taken from the boxed implementation. */
class HnswWalkParitySpec extends SparkSpecBase {

  /** `n` vectors of dimension `dim` on a small integer grid, so many
    * pairs are equidistant, and about a fifth of them exact copies of an
    * earlier vector; ids are distinct, unordered and partly negative. */
  private def shard(seed: Long, n: Int, dim: Int): Array[(Long, Array[Float])] = {
    val r = new scala.util.Random(seed)
    val ids = r.shuffle((0 until n).map(i => (i.toLong - n / 4) * 7919L)).toArray
    val out = new Array[(Long, Array[Float])](n)
    for (i <- 0 until n) {
      val v =
        if (i > 0 && r.nextInt(5) == 0) out(r.nextInt(i))._2.clone()
        else Array.fill(dim)((r.nextInt(7) - 3).toFloat)
      out(i) = (ids(i), v)
    }
    out
  }

  private val metrics = Seq("l2", "cosine", "ip")
  private val params = Seq(Params(m = 4, efConstruction = 16), Params(efConstruction = 64))

  /** Both builders over the same rows, inserted in id order as
    * [[Hnsw.build]] does. */
  private def buildBoth(rows: Array[(Long, Array[Float])], p: Params,
                        metric: String): (Vector[Node], Vector[Node]) = {
    val dist = Hnsw.distFn(metric)
    val ref = new HnswReference.Builder(p, dist)
    val now = new Hnsw.Builder(p, dist)
    rows.sortBy(_._1).foreach { case (id, v) => ref.insert(id, v); now.insert(id, v) }
    (ref.toNodes(0).toVector, now.toNodes(0).toVector)
  }

  test("builds: the primitive walk links every node exactly as the boxed walk did") {
    for (seed <- 1L to 4L; n <- Seq(40, 300); p <- params; m <- metrics) {
      val (ref, now) = buildBoth(shard(seed, n, 8), p, m)
      assert(ref.map(_.id) == now.map(_.id), s"seed $seed n $n $p $m: node order")
      ref.zip(now).foreach { case (a, b) =>
        assert(a.vec == b.vec && a.nbrs == b.nbrs,
          s"seed $seed n $n $p $m: node ${a.id} has ${b.nbrs}, boxed walk ${a.nbrs}")
      }
    }
  }

  test("searches: same ids and distance bits, with ties and tombstones, at every ef") {
    for (seed <- 1L to 4L; p <- params; m <- metrics) {
      val rows = shard(seed, 300, 8)
      val nodes = buildBoth(rows, p, m)._2.toArray
      val dist = Hnsw.distFn(m)
      val ref = new HnswReference.ShardGraph(nodes, dist)
      val now = new Hnsw.ShardGraph(nodes, dist)
      val r = new scala.util.Random(seed * 31)
      val entry = nodes.minBy(n => (-n.nbrs.length, n.id)).id
      val tombstones = Seq(
        Set.empty[Long],
        Set(entry),
        rows.map(_._1).filter(_ => r.nextInt(10) == 0).toSet,
        rows.map(_._1).filter(_ => r.nextInt(10) < 6).toSet + entry)
      val queries = rows.take(12).map(_._2) ++
        Array.fill(12)(Array.fill(8)((r.nextInt(9) - 4).toFloat))
      for (dead <- tombstones; q <- queries; k <- Seq(1, 5, 10); ef <- Seq(1, 4, 16, 64, 300)) {
        val want = ref.search(q, k, ef, dead)
        val got = now.search(q, k, ef, now.deadMask(dead))
        val bits = (s: Seq[(Long, Double)]) =>
          s.map { case (id, d) => (id, java.lang.Double.doubleToRawLongBits(d)) }
        assert(bits(got) == bits(want),
          s"seed $seed $p $m k $k ef $ef |dead| ${dead.size}: got $got, boxed walk $want")
      }
    }
  }

  /** SHA-256 over the rows of a built index in (shard, id) order: every
    * id, vector bit pattern and neighbor list. */
  private def contentHash(index: org.apache.spark.sql.DataFrame): String = {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    def put(x: Long): Unit = { bb.clear(); bb.putLong(x); md.update(bb.array()) }
    index.as[Node].collect().sortBy(n => (n.shard, n.id)).foreach { n =>
      put(n.shard); put(n.id)
      put(n.vec.length); n.vec.foreach(f => put(java.lang.Float.floatToRawIntBits(f)))
      put(n.nbrs.length); n.nbrs.foreach { l => put(l.length); l.foreach(put) }
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  test("Hnsw.build rows are bit-identical to the boxed implementation's (pinned hashes)") {
    import spark.implicits._
    val r = new scala.util.Random(5)
    val gauss = (0 until 600).map(i => (i.toLong, Array.fill(16)(r.nextGaussian().toFloat)))
      .toDF("id", "vec")
    assert(contentHash(Hnsw.build(gauss, "id", "vec", numShards = 4)) ==
      "ba5cd4214d89be6995459ce6144885b52340f12e769e6153e2f69c094486d915")
    val grid = shard(11L, 500, 8).toSeq.toDF("id", "vec")
    assert(contentHash(Hnsw.build(grid, "id", "vec", numShards = 3,
      Params(m = 4, efConstruction = 16), "cosine")) ==
      "4164d36f3ffff266c776f118e22c5f7bbdcbdafed5e7c72923b60533fdef12a8")
  }
}
