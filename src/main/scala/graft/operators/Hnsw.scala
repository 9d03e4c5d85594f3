package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Metric

/**
 * HNSW ANN index (`NeuronDB/src/index/hnsw_am.c`, 3,044 LoC: handler
 * `:288`, build defaults m=16 / ef_construction=200 / ef_search=64 /
 * ml=0.36 / 16 levels `:81-85`, `hnswbeginscan:881`, `hnswSearch`
 * ~`:1500-2100`), re-architected for a distributed batch engine as
 * SURVEY §2.1 prescribes: **shard-local graphs, not one global graph**.
 *
 * A single pointer-chasing graph over 10¹¹ vectors cannot exist on one
 * machine, and a cross-machine graph walk would pay a network hop per
 * edge. The shape that survives 100 TB is the one every distributed ANN
 * system uses (e.g. Milvus/Vespa segment indexes): hash-partition the
 * corpus into `numShards` shards, build an independent in-memory HNSW
 * per shard inside `mapPartitions` (zero driver involvement, zero
 * shuffle beyond the initial repartition), persist the adjacency lists
 * as plain rows partitioned by shard, and serve a query by walking all
 * shard graphs in parallel and merging the per-shard top-k — the same
 * scatter-gather contract as [[Knn.search]]'s per-partition heaps.
 * Shards are sized to executor memory (numShards grows with the corpus;
 * each shard's graph is O(rows/numShards · m) edges).
 *
 * Determinism divergence (documented, same policy as IVF's fixed
 * seed): the reference assigns node levels with un-seeded `random()`;
 * we derive the level from a splitmix64 hash of the node id, so builds
 * are reproducible and results oracle-checkable. Insertion order is
 * id-sorted within a shard; all heap orderings tie-break on id.
 *
 * Graded recall contract (BASELINE.md): ef_search within the tuner
 * band [8,256] (`planner.c:225-237`) targeting recall ≥ 0.90; the
 * ef clamp of 100,000 (`hnsw_am.c:938-941`) is enforced in [[search]].
 */
object Hnsw {

  /** Build defaults = `hnsw_am.c:81-85`. */
  case class Params(m: Int = 16, efConstruction: Int = 200,
                    mL: Double = 0.36, maxLevel: Int = 16)

  /** One graph node: per-level adjacency (level 0 at index 0). The whole
    * index is just a DataFrame of these — writable, partition-prunable,
    * no driver-side state. */
  case class Node(shard: Int, id: Long, vec: Seq[Float], nbrs: Seq[Seq[Long]])

  /** The `Array[Float]` kernel of `metric`; the graph supports l2, cosine
    * and inner product. */
  private[operators] def distFn(metric: String): (Array[Float], Array[Float]) => Double =
    Metric.get(metric) match {
      case Some(m @ (Metric.L2 | Metric.Cosine | Metric.InnerProduct)) => m.arrayKernel
      case _ => throw new IllegalArgumentException(s"unknown metric: $metric")
    }

  private def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic geometric level: floor(−ln(u)·mL), u ∈ (0,1] hashed
    * from the id (reference draws u from random(), `hnsw_am.c` insert). */
  private[operators] def levelFor(id: Long, p: Params): Int = {
    val u = ((mix64(id) >>> 11).toDouble + 1.0) / (1L << 53).toDouble
    math.min((-math.log(u) * p.mL).toInt, p.maxLevel - 1)
  }

  /** Scratch state of one walk — the visited stamps and both heaps —
    * kept per thread and reused by every walk on it, so a walk allocates
    * nothing per query. Node n is visited in the current walk iff
    * `stamp(n) == epoch`. */
  private[graft] final class Scratch {
    private var stamp = new Array[Int](64)
    private var epoch = 0
    val cand = new Heap(nearestFirst = true)
    val res = new Heap(nearestFirst = false)
    /** Distance of the node the last [[Graph.greedy]] stopped at. */
    var dist = 0.0
    /** [[res]] drained in ascending (distance, id) order by [[drain]]. */
    var outD = new Array[Double](64)
    var outN = new Array[Int](64)

    def begin(size: Int): Unit = {
      if (stamp.length < size) stamp = new Array[Int](math.max(size, 2 * stamp.length))
      else if (epoch == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); epoch = 0 }
      epoch += 1
      cand.clear(); res.clear()
    }

    /** Mark `n` visited; false if it already was. */
    def visit(n: Int): Boolean =
      if (stamp(n) == epoch) false else { stamp(n) = epoch; true }

    /** Empty [[res]] into `outD`/`outN`, nearest first; returns the count. */
    def drain(): Int = {
      val n = res.size
      if (outD.length < n) { outD = new Array[Double](n); outN = new Array[Int](n) }
      var i = n - 1
      while (i >= 0) { outD(i) = res.headDist; outN(i) = res.headNode; res.pop(); i -= 1 }
      n
    }
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Binary heap of (distance, node) keyed by (distance, id), with the
    * orderings of the tuple queues it replaced (Double total order, then
    * id): `nearestFirst` pops the smallest key — the candidate queue —
    * otherwise the largest — the bounded result set. */
  private[graft] final class Heap(nearestFirst: Boolean) {
    var size = 0
    private var ds = new Array[Double](64)
    private var ns = new Array[Int](64)
    private var ks = new Array[Long](64)

    def clear(): Unit = size = 0
    def headDist: Double = ds(0)
    def headNode: Int = ns(0)

    /** Slot a pops before slot b. */
    private def above(a: Int, b: Int): Boolean =
      if (nearestFirst) {
        val c = java.lang.Double.compare(-ds(a), -ds(b))
        c > 0 || (c == 0 && -ks(a) > -ks(b))
      } else {
        val c = java.lang.Double.compare(ds(a), ds(b))
        c > 0 || (c == 0 && ks(a) > ks(b))
      }

    private def swap(a: Int, b: Int): Unit = {
      val d = ds(a); ds(a) = ds(b); ds(b) = d
      val n = ns(a); ns(a) = ns(b); ns(b) = n
      val k = ks(a); ks(a) = ks(b); ks(b) = k
    }

    def push(d: Double, node: Int, id: Long): Unit = {
      if (size == ds.length) {
        ds = java.util.Arrays.copyOf(ds, 2 * size)
        ns = java.util.Arrays.copyOf(ns, 2 * size)
        ks = java.util.Arrays.copyOf(ks, 2 * size)
      }
      var i = size
      ds(i) = d; ns(i) = node; ks(i) = id
      size += 1
      while (i > 0 && above(i, (i - 1) >> 1)) { swap(i, (i - 1) >> 1); i = (i - 1) >> 1 }
    }

    def pop(): Unit = {
      size -= 1
      if (size > 0) {
        swap(0, size)
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val r = l + 1
          var top = i
          if (l < size && above(l, top)) top = l
          if (r < size && above(r, top)) top = r
          if (top == i) done = true else { swap(i, top); i = top }
        }
      }
    }
  }

  /** One shard's graph in the int-indexed form the build and the search
    * both walk: node n has id `ids(n)`, vector `vecs(n)` and, at each
    * level l it joins, the neighbor array `adj(n)(l)`. */
  private[graft] class Graph(dist: (Array[Float], Array[Float]) => Double) {
    protected var size = 0
    protected var ids = new Array[Long](16)
    protected var vecs = new Array[Array[Float]](16)
    protected var adj = new Array[Array[Array[Int]]](16)

    /** Append a node with `levels` empty neighbor lists; returns its index. */
    protected def add(id: Long, v: Array[Float], levels: Int): Int = {
      if (size == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * size)
        vecs = java.util.Arrays.copyOf(vecs, 2 * size)
        adj = java.util.Arrays.copyOf(adj, 2 * size)
      }
      ids(size) = id; vecs(size) = v
      adj(size) = Array.fill(levels)(Array.emptyIntArray)
      size += 1
      size - 1
    }

    /** Greedy descent on one level: from `ep` at distance `dEp`, move to
      * a nearer neighbor (on equal distance, to the smaller id) until
      * none is. Returns the node reached; its distance is left in
      * `s.dist`. */
    protected final def greedy(q: Array[Float], ep0: Int, dEp0: Double, level: Int,
                               s: Scratch): Int = {
      var ep = ep0
      var dEp = dEp0
      var improved = true
      while (improved) {
        improved = false
        val ns = adj(ep)(level)
        var i = 0
        while (i < ns.length) {
          val c = ns(i)
          val dc = dist(q, vecs(c))
          if (dc < dEp || (dc == dEp && ids(c) < ids(ep))) {
            ep = c; dEp = dc; improved = true
          }
          i += 1
        }
      }
      s.dist = dEp
      ep
    }

    /** Beam search on one level from `ep` at distance `dEp`; leaves the
      * `ef` nearest nodes in `s.res`. `dead` (null: none) is the lazy-
      * deletion mask: a dead node still routes the walk but never enters
      * the result set. */
    protected final def searchLayer(q: Array[Float], ep: Int, dEp: Double, ef: Int,
                                    level: Int, dead: Array[Boolean], s: Scratch): Unit = {
      s.begin(size)
      s.visit(ep)
      val cand = s.cand
      val res = s.res
      cand.push(dEp, ep, ids(ep))
      if (dead == null || !dead(ep)) res.push(dEp, ep, ids(ep))
      while (cand.size > 0) {
        val dc = cand.headDist
        val c = cand.headNode
        cand.pop()
        if (res.size >= ef && dc > res.headDist) cand.clear()
        else {
          val ns = adj(c)(level)
          var i = 0
          while (i < ns.length) {
            val e = ns(i)
            if (s.visit(e)) {
              val de = dist(q, vecs(e))
              if (res.size < ef || de < res.headDist) {
                cand.push(de, e, ids(e))
                if (dead == null || !dead(e)) {
                  res.push(de, e, ids(e))
                  if (res.size > ef) res.pop()
                }
              }
            }
            i += 1
          }
        }
      }
    }
  }

  /** In-memory builder for ONE shard (runs inside a task; never sees
    * more than its shard's rows). Standard Malkov-Yashunin insert:
    * greedy descent above the node's level, ef_construction beam on the
    * levels it joins, closest-m neighbor selection, capped lists
    * (m above level 0, 2m at level 0). */
  private[graft] final class Builder(p: Params, dist: (Array[Float], Array[Float]) => Double)
      extends Graph(dist) {
    private var entry = -1
    private var topLevel = -1

    /** Keep the `cap` nearest of u's neighbors at `level`, ordered by
      * (distance, id) — a stable insertion sort, the order of the tuple
      * sort it replaced. */
    private def shrink(u: Int, level: Int, cap: Int): Unit = {
      val ns = adj(u)(level)
      val v = vecs(u)
      val ds = new Array[Double](ns.length)
      var i = 0
      while (i < ns.length) {
        val n = ns(i)
        val d = dist(v, vecs(n))
        var j = i
        while (j > 0 && {
          val c = java.lang.Double.compare(ds(j - 1), d)
          c > 0 || (c == 0 && ids(ns(j - 1)) > ids(n))
        }) { ds(j) = ds(j - 1); ns(j) = ns(j - 1); j -= 1 }
        ds(j) = d; ns(j) = n
        i += 1
      }
      adj(u)(level) = java.util.Arrays.copyOf(ns, cap)
    }

    private def link(u: Int, level: Int, n: Int): Unit = {
      val ns = adj(u)(level)
      val grown = java.util.Arrays.copyOf(ns, ns.length + 1)
      grown(ns.length) = n
      adj(u)(level) = grown
    }

    def insert(id: Long, v: Array[Float]): Unit = {
      val lvl = levelFor(id, p)
      val node = add(id, v, lvl + 1)
      if (entry < 0) { entry = node; topLevel = lvl; return }
      val s = scratch.get()
      var ep = entry
      var dEp = dist(v, vecs(ep))
      var lc = topLevel
      while (lc > lvl) { ep = greedy(v, ep, dEp, lc, s); dEp = s.dist; lc -= 1 }
      lc = math.min(topLevel, lvl)
      while (lc >= 0) {
        searchLayer(v, ep, dEp, p.efConstruction, lc, null, s)
        val found = s.drain()
        val cap = if (lc == 0) 2 * p.m else p.m
        var i = 0
        while (i < math.min(found, p.m)) {
          val u = s.outN(i)
          link(node, lc, u)
          link(u, lc, node)
          if (adj(u)(lc).length > cap) shrink(u, lc, cap)
          i += 1
        }
        ep = s.outN(0); dEp = s.outD(0)
        lc -= 1
      }
      if (lvl > topLevel) { topLevel = lvl; entry = node }
    }

    def toNodes(shard: Int): Iterator[Node] =
      (0 until size).iterator.map { n =>
        Node(shard, ids(n), vecs(n).toSeq, adj(n).map(_.map(ids(_)).toSeq).toSeq)
      }
  }

  /**
   * Build the index: one repartition (the only shuffle), then each task
   * builds its shards' graphs independently. A row's shard is the STABLE
   * function `pmod(murmur3(id), numShards)` — not the task's partition
   * index — so [[insert]] can locate and rebuild exactly the shards a
   * batch of new rows touches. Returns the index as a DataFrame of
   * [[Node]] rows — `write`/`load` round-trips it through
   * shard-partitioned parquet so serving reads prune per shard.
   */
  def build(df: DataFrame, idCol: String, vecCol: String, numShards: Int = 32,
            params: Params = Params(), metric: String = "l2"): DataFrame = {
    require(numShards >= 1, "numShards must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val dist = distFn(metric)
    df.select(pmod(hash(col(idCol).cast("long")), lit(numShards)).as("shard"),
        col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .repartition(numShards, col("shard"))
      .as[(Int, Long, Seq[Float])]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          val b = new Builder(params, dist)
          rows.sortBy(_._2) // id-sorted insert: deterministic
            .foreach { case (_, id, v) => b.insert(id, v.toArray) }
          b.toNodes(shard)
        }
      }
      .toDF("shard", "id", "vec", "nbrs")
  }

  /**
   * Incremental maintenance (`hnswinsert`'s batch analog): route new
   * rows to their shards by the same stable hash, rebuild ONLY the
   * touched shards from their existing members plus the new rows, and
   * keep every untouched shard's rows as-is. Because the per-shard build
   * is deterministic and id-sorted, the result is bit-identical to a
   * full rebuild over the union — at the cost of |touched shards| /
   * numShards of the work.
   */
  def insert(index: DataFrame, df: DataFrame, idCol: String, vecCol: String,
             numShards: Int = 32, params: Params = Params(),
             metric: String = "l2"): DataFrame = {
    checkShardLayout(index, numShards)
    val newRows = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("shard", pmod(hash(col("id")), lit(numShards)))
    val touched = newRows.select("shard").distinct()
      .collect().map(_.getInt(0)).toSeq
    val untouched = index.filter(!col("shard").isin(touched: _*))
    // UPSERT: a re-sent id replaces its old row — keeping both would give
    // the shard graph two nodes with one id and ShardGraph.byId would
    // serve a vector the edges weren't built from
    val members = index.filter(col("shard").isin(touched: _*))
      .select(col("id"), col("vec"))
      .join(newRows.select("id"), Seq("id"), "left_anti")
      .unionByName(newRows.select(col("id"), col("vec")))
    withRebuilt(untouched, build(members, "id", "vec", numShards, params, metric), numShards)
  }

  /** A maintained index: the untouched shards' rows verbatim, then the
    * rebuilt shards'. A union concatenates its inputs' partitions, so
    * the untouched side is first coalesced (no shuffle) to `numShards`
    * partitions; otherwise every maintenance call would add `numShards`
    * partitions, and every later call on the index one task per
    * partition. */
  private def withRebuilt(untouched: DataFrame, rebuilt: DataFrame,
                          numShards: Int): DataFrame =
    untouched.coalesce(numShards).select("shard", "id", "vec", "nbrs")
      .unionByName(rebuilt.select("shard", "id", "vec", "nbrs"))

  def write(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("shard").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /**
   * Deletion (the vacuum analog of [[insert]]): rebuild the shards that
   * contain deleted ids from their surviving members; untouched shards
   * keep their rows verbatim. Tombstone-free — the graph never serves a
   * deleted node, and determinism again makes the result bit-identical
   * to a full rebuild without the deleted rows.
   */
  def delete(index: DataFrame, ids: Seq[Long], numShards: Int = 32,
             params: Params = Params(), metric: String = "l2"): DataFrame = {
    if (ids.isEmpty) return index
    checkShardLayout(index, numShards)
    val shards = ids.map(idShard(_, numShards)).distinct
    val untouched = index.filter(!col("shard").isin(shards: _*))
    val members = index.filter(col("shard").isin(shards: _*))
      .filter(!col("id").isin(ids: _*))
      .select(col("id"), col("vec"))
    withRebuilt(untouched, build(members, "id", "vec", numShards, params, metric), numShards)
  }

  /** Bulk-purge deletion ([[Ivf.deleteBulk]]'s HNSW form, the GDPR-
    * erasure shape): the erasure set arrives as an id FRAME, the
    * affected SHARDS are derived from the manifest ids ACTUALLY
    * PRESENT in the index (one semi-join — r14 advice: a retraction
    * manifest full of stray or already-purged ids must not trigger
    * rebuilds of shards that lose no members; ≤ numShards ints reach
    * the driver, never the ids themselves), survivors of those shards
    * are anti-joined against the frame, and only the affected shards'
    * graphs are rebuilt — untouched shards keep their adjacency
    * verbatim, same contract as [[delete]]. An empty or fully-stale
    * manifest is a no-op.
    *
    * Cost shape: rebuild is O(affected shards × shard size) — a
    * SCATTERED erasure (uniform ids) touches every shard and pays a
    * full-index rebuild, measured as the `hnsw_delete_bulk` cliff in
    * SCALE_BENCH.json; the lazy path ([[searchBatch]]'s `tombstones` +
    * [[compact]]) answers the same erasure with zero immediate rebuild
    * when that cliff is the wrong trade. */
  def deleteBulk(index: DataFrame, ids: DataFrame, numShards: Int = 32,
                 params: Params = Params(), metric: String = "l2"): DataFrame = {
    checkShardLayout(index, numShards)
    val del = ids.select(col(ids.columns.head).cast("long").as("id"))
    val shards = index.select(col("id"))
      .join(del, Seq("id"), "left_semi")
      .select(pmod(hash(col("id")), lit(numShards)).as("shard"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (shards.isEmpty) return index
    val untouched = index.filter(!col("shard").isin(shards: _*))
    val members = index.filter(col("shard").isin(shards: _*))
      .join(del, Seq("id"), "left_anti")
      .select(col("id"), col("vec"))
    withRebuilt(untouched, build(members, "id", "vec", numShards, params, metric), numShards)
  }

  /** Collect an erasure-id frame into the broadcastable tombstone set
    * the LAZY deletion path uses. Driver-sized by design: a tombstone
    * set is bounded by [[compact]]'s threshold sweep (shards above
    * `minDeadFraction` rebuild and consume their tombstones), so it
    * stays erasure-batch-sized — millions of longs, not corpus-sized. */
  def tombstoneSet(ids: DataFrame): Set[Long] = {
    val c = ids.columns.head
    ids.select(col(c).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
  }

  /** Threshold-triggered compaction of lazily-deleted (tombstoned)
    * shards — the second half of the mark-and-sweep deletion pair:
    * shards whose tombstoned fraction is ≥ `minDeadFraction` rebuild
    * WITHOUT their dead members (bit-identical to [[deleteBulk]] on
    * those shards, because the per-shard build is deterministic);
    * shards below the threshold keep their adjacency verbatim and
    * their tombstones stay active. Returns (compacted index,
    * surviving tombstones). `minDeadFraction = 0.0` compacts every
    * shard holding at least one tombstone — exactly [[deleteBulk]].
    * Driver sees only per-shard (size, dead) counts, ≤ numShards
    * rows. */
  def compact(index: DataFrame, tombstones: DataFrame, numShards: Int = 32,
              params: Params = Params(), metric: String = "l2",
              minDeadFraction: Double = 0.2): (DataFrame, DataFrame) = {
    checkShardLayout(index, numShards)
    // dedup: the same id legitimately arrives in two retraction epochs
    // (a re-submitted request) — counted twice it would inflate both a
    // shard's size and its dead count through the left_outer fan-out
    val del = tombstones
      .select(col(tombstones.columns.head).cast("long").as("id"))
      .distinct()
    val stats = index.select(col("shard"), col("id"))
      .join(del.withColumn("dead", lit(1)), Seq("id"), "left_outer")
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("dead"), lit(0))).as("d"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val shards = stats.collect {
      case (s, n, d) if d > 0 && d.toDouble / n >= minDeadFraction => s
    }.toSeq
    if (shards.isEmpty) return (index, del)
    val untouched = index.filter(!col("shard").isin(shards: _*))
    val members = index.filter(col("shard").isin(shards: _*))
      .join(del, Seq("id"), "left_anti")
      .select(col("id"), col("vec"))
    val compacted =
      withRebuilt(untouched, build(members, "id", "vec", numShards, params, metric), numShards)
    // tombstones on compacted shards are consumed; the rest stay active
    val surviving = del
      .filter(!pmod(hash(col("id")), lit(numShards)).isin(shards: _*))
    (compacted, surviving)
  }

  /** Maintenance ops must be called with the numShards the index was
    * BUILT with — a mismatch would route new rows mod numShards' while
    * existing shards are mod numShards, mixing two incompatible layouts
    * (duplicated ids in rebuilt shards, orphans in untouched ones) with
    * no error at serve time. The layout is verifiable from the rows
    * themselves, so verify it. */
  private def checkShardLayout(index: DataFrame, numShards: Int): Unit = {
    val bad = index
      .filter(pmod(hash(col("id")), lit(numShards)) =!= col("shard"))
      .limit(1).count()
    require(bad == 0,
      s"index shard layout does not match numShards=$numShards — pass the build-time value")
  }

  /** The stable shard of an id — must mirror the hash used in [[build]]
    * (Catalyst murmur3 over a long, seed 42). */
  private[graft] def idShard(id: Long, numShards: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
      id, org.apache.spark.sql.types.LongType, 42L).toInt
    val m = h % numShards
    if (m < 0) m + numShards else m
  }

  /** Search-time view of one shard rebuilt from its rows: vectors are
    * unboxed and neighbor ids resolved to node indices once, here, so the
    * walk touches only primitive arrays. An id repeated in the rows
    * resolves to its last row. */
  private[graft] final class ShardGraph(nodes: Array[Node],
                                        dist: (Array[Float], Array[Float]) => Double)
      extends Graph(dist) {
    private val (entry, top) = {
      val index = new mutable.LongMap[Int](nodes.length)
      nodes.foreach(n => index(n.id) = add(n.id, n.vec.toArray, n.nbrs.length))
      nodes.indices.foreach { i =>
        adj(i) = nodes(i).nbrs.iterator.map(_.iterator.map(index).toArray).toArray
      }
      val e = nodes.minBy(n => (-n.nbrs.length, n.id)) // max level, tie → min id
      (index(e.id), e.nbrs.length - 1)
    }

    /** The lazy-deletion mask of `dead` over this graph's nodes, for
      * [[search]]; null when no node is dead. */
    def deadMask(dead: Long => Boolean): Array[Boolean] = {
      val m = Array.tabulate(size)(n => dead(ids(n)))
      if (m.contains(true)) m else null
    }

    /** `dead` is the LAZY-deletion filter (mark-and-sweep, the classic
      * HNSW answer to deletion), as a [[deadMask]]: tombstoned nodes
      * still ROUTE — the walk traverses them like any node, preserving
      * graph connectivity — but never enter the result heap. At the
      * exhaustive dial (ef ≥ |shard|) the scan guarantees exactly
      * brute force over the SURVIVORS. At production ef the beam is
      * live-results-sized, so heavily tombstoned shards effectively
      * search a little wider; [[Hnsw.compact]] bounds that overhead by
      * rebuilding shards past a dead-fraction threshold. */
    def search(q: Array[Float], k: Int, ef: Int,
               dead: Array[Boolean] = null): Seq[(Long, Double)] = {
      // ef >= |shard| is the documented exhaustive limit (reference ef
      // clamp contract, hnsw_am.c:938-941): make it a GUARANTEE by
      // scanning, not a property contingent on level-0 connectivity —
      // the asymmetric closest-m shrink can in principle orphan a
      // node's inbound edges, and the hnsw_exhaustive oracle family
      // asserts brute-force equality
      if (math.max(ef, k) >= size)
        return (0 until size).filter(n => dead == null || !dead(n))
          .map(n => (dist(q, vecs(n)), ids(n)))
          .sorted.take(k).map { case (d, id) => (id, d) }
      val s = scratch.get()
      var ep = entry
      var dEp = dist(q, vecs(ep))
      var lc = top
      while (lc > 0) { // greedy descent to level 1 (dead nodes may route)
        ep = greedy(q, ep, dEp, lc, s); dEp = s.dist
        lc -= 1
      }
      searchLayer(q, ep, dEp, math.max(ef, k), 0, dead, s)
      val found = math.min(s.drain(), k)
      Array.tabulate(found)(i => (ids(s.outN(i)), s.outD(i))).toSeq
    }
  }

  /** Executor-JVM memo of deserialized shard graphs, keyed by (index
    * fingerprint, shard, metric). A ShardGraph is rebuilt from rows on
    * every [[searchBatch]] call otherwise — for a hot serving index the
    * HashMap/entry construction dominates repeat-batch latency. Bounded
    * by per-entry LRU (access-ordered), so one index's overflow evicts
    * the COLDEST entries, never a hot index's shards — no latency cliff
    * on multi-index serving. An index rewrite changes the fingerprint,
    * so stale entries are never served, only aged out. */
  @volatile private[graft] var graphCacheCapacity = 512
  private[graft] val graphCache: java.util.Map[(String, Int, String), ShardGraph] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Int, String), ShardGraph](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int, String), ShardGraph]): Boolean =
          size() > graphCacheCapacity
      })
  private[graft] val graphBuilds = new java.util.concurrent.atomic.AtomicLong

  /** Get-or-build without holding the cache lock during construction:
    * a concurrent first-touch of the same shard may build twice, but the
    * graph is a pure function of the rows (bit-identical), so last-write
    * -wins is safe — and unrelated shards are never blocked behind a
    * heavy deserialization. */
  private def cachedGraph(key: (String, Int, String))
                         (mk: => ShardGraph): ShardGraph = {
    val hit = graphCache.get(key) // refreshes LRU recency
    if (hit != null) hit
    else {
      val g = mk
      graphCache.put(key, g)
      g
    }
  }

  /** Content fingerprint of an on-disk index: file names, sizes, mtimes.
    * Cheap (one listing), and any rewrite-in-place changes it. */
  def indexFingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var h = 1125899906842597L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      h = h * 31 + f.getPath.toString.hashCode
      h = h * 31 + f.getLen
      h = h * 31 + f.getModificationTime
    }
    s"$path@${java.lang.Long.toHexString(h)}"
  }

  /**
   * Batch ANN search: queries broadcast (tiny), per-shard top-k merged by
   * one |Q|·k·shards-row window — never a corpus-sized shuffle. Returns
   * (qid, id, distance, rank ≤ k).
   *
   * The shard walk is the heavy stage and runs in parallel because of
   * its exchange: the index rows move to `defaultParallelism` partitions
   * by partition NUMBER, shard s to partition s mod P, so the shards
   * spread evenly and min(#shards, P) tasks walk them. A by-column
   * exchange would not do: adaptive execution sizes those partitions by
   * bytes, and a graph's rows are few bytes for a lot of walking, so it
   * merged every shard onto one task. By-number exchanges are never
   * merged.
   *
   * `cacheKey` (set by [[searchBatchFromDisk]]) memoizes the deserialized
   * per-shard graphs in the executor JVM, so repeated batches against the
   * same index skip graph reconstruction; results are bit-identical
   * either way (the graph is a pure function of the shard's rows).
   *
   * `tombstones` is the LAZY-deletion filter ([[tombstoneSet]]): the
   * set broadcasts with the queries and tombstoned ids are excluded
   * from every shard's result heap while still routing the walk —
   * erasure takes effect at the NEXT query with zero graph rebuild,
   * and [[compact]] reclaims the space later. Because the filter never
   * touches the graph rows, the executor graph cache stays valid
   * across tombstone changes.
   */
  def searchBatch(index: DataFrame, queries: Array[(Long, Array[Float])],
                  k: Int = 10, efSearch: Int = 64, metric: String = "l2",
                  cacheKey: Option[String] = None,
                  tombstones: Set[Long] = Set.empty): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    val ef = math.min(math.max(efSearch, 1), 100000) // hnsw_am.c:938-941 clamp
    val spark = index.sparkSession
    import spark.implicits._
    val dist = distFn(metric)
    val bq = spark.sparkContext.broadcast(queries)
    val bt = spark.sparkContext.broadcast(tombstones)
    val parts = spark.sparkContext.defaultParallelism
    index.select(col("shard"), col("id"), col("vec"), col("nbrs"))
      .repartitionById(parts, pmod(col("shard"), lit(parts)))
      .as[Node]
      .mapPartitions { it =>
        it.toArray.groupBy(_.shard).iterator.flatMap { case (shard, ns) =>
          val g = cacheKey match {
            case Some(fp) =>
              cachedGraph((fp, shard, metric)) {
                graphBuilds.incrementAndGet()
                new ShardGraph(ns, dist)
              }
            case None => new ShardGraph(ns, dist)
          }
          val dead = if (bt.value.isEmpty) null else g.deadMask(bt.value.contains)
          bq.value.iterator.flatMap { case (qid, q) =>
            g.search(q, k, ef, dead).map { case (id, d) => (qid, id, d) }
          }
        }
      }
      .toDF("qid", "id", "distance")
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("distance"), col("id"))))
      .filter(col("rank") <= k)
  }

  /** Serve from a [[write]]-persisted index with the executor graph
    * cache keyed by the on-disk fingerprint: the steady-state low-latency
    * path — first batch builds each shard graph once, later batches walk
    * the memoized graphs. */
  def searchBatchFromDisk(spark: SparkSession, path: String,
                          queries: Array[(Long, Array[Float])],
                          k: Int = 10, efSearch: Int = 64,
                          metric: String = "l2"): DataFrame =
    searchBatch(load(spark, path), queries, k, efSearch, metric,
      Some(indexFingerprint(spark, path)))

  /** Single-query top-k: (id, distance), ascending. */
  def search(index: DataFrame, query: Array[Float], k: Int = 10,
             efSearch: Int = 64, metric: String = "l2"): DataFrame =
    searchBatch(index, Array((0L, query)), k, efSearch, metric)
      .select("id", "distance")

  /** Exact top-k per query in ONE distributed pass (map-side explode of
    * corpus × broadcast queries + window rank) — the truth table for
    * [[recallCurve]] and [[recommendEf]]. */
  private def exactTopK(corpus: DataFrame, idCol: String, vecCol: String,
                        queries: Array[(Long, Array[Float])], k: Int,
                        metric: String): Map[Long, Set[Long]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dist = distFn(metric)
    val bq = spark.sparkContext.broadcast(queries)
    val pairs = udf { (id: Long, v: Seq[Float]) =>
      val x = v.toArray
      bq.value.map { case (qid, q) => (qid, id, dist(q, x)) }.toSeq
    }
    corpus
      .select(explode(pairs(col(idCol).cast("long"), col(vecCol))).as("p"))
      .select(col("p._1").as("qid"), col("p._2").as("id"), col("p._3").as("d"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d"), col("id"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (qid, rs) => qid -> rs.map(_._2).toSet }
  }

  /** Recall@k-vs-ef_search curve (the HNSW face of `Ivf.recallCurve`,
    * the tuner-evidence artifact): one exact pass for truth, one
    * [[searchBatch]] pass per ladder step. Returns (ef, recall_at_k). */
  def recallCurve(index: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                  queries: Array[(Long, Array[Float])], k: Int = 10,
                  efs: Seq[Int] = Seq(8, 16, 32, 64, 128, 256),
                  metric: String = "l2"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val truth = exactTopK(corpus, idCol, vecCol, queries, k, metric)
    efs.map(ef => (ef, recallAt(index, queries, truth, k, ef, metric)))
      .toDF("ef_search", s"recall_at_$k")
  }

  /** Measured recall@k of one searchBatch pass against exact truth. The
    * denominator is the TRUTH-SET size sum, not queries·k: a corpus with
    * fewer than k rows has k-truncated truth sets, and dividing by k
    * would cap "recall" below 1.0 for an exhaustive (perfect) search. */
  private def recallAt(index: DataFrame, queries: Array[(Long, Array[Float])],
                       truth: Map[Long, Set[Long]], k: Int, ef: Int,
                       metric: String): Double = {
    val spark = index.sparkSession
    import spark.implicits._
    val got = searchBatch(index, queries, k, ef, metric)
      .select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (qid, rs) => qid -> rs.map(_._2).toSet }
    val denom = math.max(1L, truth.values.map(_.size.toLong).sum).toDouble
    val hits = truth.map { case (qid, t) =>
      (t & got.getOrElse(qid, Set.empty)).size }.sum
    hits / denom
  }

  /**
   * Self-tuning ef_search (`planner.c:220-237` learn_from_query band):
   * walk the doubling ladder inside [8,256], return the smallest ef
   * whose measured recall@k against the exact answer clears the target.
   * One brute-force pass establishes truth for ALL queries; each ladder
   * step is one [[searchBatch]] pass (offline tuner cost, not serve
   * path).
   */
  def recommendEf(index: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                  sampleQueries: Array[(Long, Array[Float])], k: Int = 10,
                  targetRecall: Double = 0.9, metric: String = "l2"): Int = {
    val truth = exactTopK(corpus, idCol, vecCol, sampleQueries, k, metric)
    val ladder = Iterator.iterate(8)(_ * 2).takeWhile(_ <= 256).toSeq
    ladder.find(ef =>
      recallAt(index, sampleQueries, truth, k, ef, metric) >= targetRecall
    ).getOrElse(256)
  }
}
