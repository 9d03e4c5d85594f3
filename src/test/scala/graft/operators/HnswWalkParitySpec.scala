package graft.operators

import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

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
  /** SHA-256 over searchBatch rows in (qid, rank) order: query id, id,
    * distance bit pattern and rank. */
  private def resultHash(out: org.apache.spark.sql.DataFrame): String = {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    def put(x: Long): Unit = { bb.clear(); bb.putLong(x); md.update(bb.array()) }
    out.select("qid", "id", "distance", "rank").as[(Long, Long, Double, Int)].collect()
      .sortBy(r => (r._1, r._4)).foreach { case (q, id, d, rank) =>
        put(q); put(id); put(java.lang.Double.doubleToRawLongBits(d)); put(rank)
      }
    md.digest().map(b => f"$b%02x").mkString
  }

  test("maintenance rows are bit-identical to the SQL-plan implementation's (pinned hashes)") {
    import spark.implicits._
    val grid = shard(13L, 400, 8)
    val p = Params(m = 4, efConstruction = 16)
    val base = Hnsw.build(grid.take(300).toSeq.toDF("id", "vec"), "id", "vec", 5, p).cache()
    // six new ids and one re-sent id with a new vector (upsert)
    val batch = (grid.slice(300, 306) :+ ((grid(7)._1, Array.fill(8)(2f)))).toSeq.toDF("id", "vec")
    val gone = grid.slice(10, 40).map(_._1)
    val stray = Seq(123456789L, -987654321L)
    val manifest = (gone.map(java.lang.Long.valueOf) ++ stray.map(java.lang.Long.valueOf) :+
      (null: java.lang.Long)).toSeq.toDF("id")
    val (compacted, surviving) = Hnsw.compact(base, (gone ++ gone.take(5)).toSeq.toDF("id"),
      5, p, minDeadFraction = 0.08)
    val got = Seq(
      contentHash(Hnsw.insert(base, batch, "id", "vec", 5, p)),
      contentHash(Hnsw.delete(base, (gone.take(3) ++ stray).toSeq, 5, p)),
      contentHash(Hnsw.deleteBulk(base, manifest, 5, p)),
      contentHash(compacted),
      surviving.as[Long].collect().sorted.mkString(","),
      contentHash(Hnsw.insert(
        Hnsw.build(grid.take(200).toSeq.toDF("id", "vec"), "id", "vec", 3, p, "ip"),
        grid.slice(200, 230).toSeq.toDF("id", "vec"), "id", "vec", 3, p, "ip")))
    // taken from the implementation that rebuilt shards through SQL plans
    assert(got == Seq(
      "dc69fa2112339f74205f19f4e696f52103672bce96213b44a6350bca0385a28c",
      "aee5dcd9243b58b0b9cd2a38826f11f565da305b24dd01293a1ec19116a025eb",
      "3d189dd32ddbf8dc9d92d4ac18f1a90120bf2afe6ca1db404747a1fe30559063",
      "ac99d00c67218a99bab6689cb7c6ff41e1ebd4304835b91707b3a59ebb405324",
      "760224,1029470,1116579,1670909",
      "69055275aec7105092192a02ea82e4008a9aa3589adaaeaa7e880cd2d29e99e9"))
    assert(Hnsw.insert(base, batch, "id", "vec", 5, p).schema == Hnsw.NodeType)
    base.unpersist()
  }

  test("searchBatch rows are bit-identical to the window-ranked implementation's (pinned hashes)") {
    import spark.implicits._
    val grid = shard(17L, 400, 8)
    val r = new scala.util.Random(3)
    // grid vectors, random grid points and the zero vector, whose inner
    // product distances are all -0.0
    val qs = (grid.take(6).map(_._2) ++ Array.fill(10)(Array.fill(8)((r.nextInt(7) - 3).toFloat)) :+
      Array.fill(8)(0f)).zipWithIndex.map { case (v, i) => (i.toLong * 3 - 5, v) }
    val got = for (m <- Seq("l2", "cosine", "ip"); (shards, ef, k) <- Seq((4, 8, 10), (3, 1000, 7), (16, 16, 10))) yield {
      val idx = Hnsw.build(grid.toSeq.toDF("id", "vec"), "id", "vec", shards,
        Params(m = 4, efConstruction = 16), m)
      resultHash(Hnsw.searchBatch(idx, qs, k, ef, m, tombstones = grid.slice(50, 70).map(_._1).toSet))
    }
    // taken from the implementation that ranked with a SQL window
    assert(got == Seq(
      "0639e3963f4f6dc93777a228df8f9897e879a94263527ea6a1263df154bd7997",
      "cb25fa33dac783c3672f9146d0afd14ed46b19279b4ca6c1ed3866d98c7824d4",
      "f375d4c31f2c3199bb6977a006e1c28af5e1a5d223ea0a8801397b05c75e472f",
      "c53db59abc9b9d04772bdf9118389996247fcdade622df21b0de52fde82ba082",
      "bfa081a279feb420283a23bd9feec047c522235d196cf04b91c507733bf0455c",
      "b34357ea7779ea96ce4309877036f25825b1404c62321f1d8307eea526e7bd07",
      "3600e91cdc54b841b0e746b2097884e2ba9b20e50f5e17e36a4182d715e6d274",
      "14c4d7e766eb3a7d65a23b88146ea4fc67a233d709ac9e313070b4805433ac49",
      "b5a2927c171504151f13188c03ca24be70cf5c22e0ee4eccf6123e64f8fa6466"))
    val schema = Hnsw.searchBatch(Hnsw.build(grid.toSeq.toDF("id", "vec"), "id", "vec", 2), qs).schema
    assert(schema.map(f => (f.name, f.dataType, f.nullable)) == Seq(("qid", LongType, false),
      ("id", LongType, false), ("distance", DoubleType, false), ("rank", IntegerType, false)))
  }

  test("the merge ranks distances as Spark SQL orders them: -0.0 equals 0.0, NaN last") {
    import spark.implicits._
    val found = Seq((5L, 0.0), (3L, -0.0), (9L, Double.NaN), (1L, 0.0), (2L, -1.0),
      (4L, Double.PositiveInfinity), (7L, -0.0))
    val sql = found.toDF("id", "distance").orderBy("distance", "id")
      .as[(Long, Double)].collect().toSeq
    val bits = (s: Seq[(Long, Double)]) =>
      s.map { case (id, d) => (id, java.lang.Double.doubleToRawLongBits(d)) }
    assert(bits(Hnsw.nearest(found, found.length)) == bits(sql))
    assert(bits(Hnsw.nearest(found.reverse, 3)) == bits(sql.take(3)))
  }
}
