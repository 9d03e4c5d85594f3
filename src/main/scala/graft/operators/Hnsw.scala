package graft.operators

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DetRandom.mix64
import graft.plans.{InInts, Metric}

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
 * Each call runs as Spark jobs over the index's binary rows, not as a
 * query plan: the build and the four maintenance calls are one rebuild
 * primitive ([[rebuild]]) behind at most one eager job, and
 * [[searchBatch]] is one job. Rebuild tasks add the rows they index to
 * `Metrics.VectorsIndexed`.
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
    def headId: Long = ks(0)

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

    /** The shard's rows as [[Node]]s' binary rows, in [[NodeType]]. */
    def toRows(shard: Int): Iterator[InternalRow] = {
      val project = UnsafeProjection.create(NodeType)
      (0 until size).iterator.map { n =>
        val nbrs = adj(n).map(l => UnsafeArrayData.fromPrimitiveArray(l.map(ids(_))): Any)
        project(new GenericInternalRow(Array[Any](shard, ids(n),
          UnsafeArrayData.fromPrimitiveArray(vecs(n)), new GenericArrayData(nbrs)))).copy()
      }
    }
  }

  /** The index's row type: the columns and types [[build]] returns. */
  private[graft] lazy val NodeType: StructType = Encoders.product[Node].schema

  /**
   * Build the index: each id moves by number to the partition of its
   * shard, and each task builds its shards' graphs independently. A row's
   * shard is the STABLE function `pmod(murmur3(id), numShards)` — not the
   * task's partition index — so [[insert]] can locate and rebuild exactly
   * the shards a batch of new rows touches. Returns the index as a
   * DataFrame of [[Node]] rows — `write`/`load` round-trips it through
   * shard-partitioned parquet so serving reads prune per shard.
   */
  def build(df: DataFrame, idCol: String, vecCol: String, numShards: Int = 32,
            params: Params = Params(), metric: String = "l2"): DataFrame = {
    require(numShards >= 1, "numShards must be positive")
    val spark = df.sparkSession
    rebuild(spark, spark.sparkContext.emptyRDD[InternalRow], NodeType, numShards,
      (0 until numShards).toSet, newRows(df, idCol, vecCol), params, metric)
  }

  /**
   * Incremental maintenance (`hnswinsert`'s batch analog): route new
   * rows to their shards by the same stable hash, rebuild ONLY the
   * touched shards from their existing members plus the new rows, and
   * keep every untouched shard's rows as-is. Because the per-shard build
   * is deterministic and id-sorted, the result is bit-identical to a
   * full rebuild over the union — at the cost of |touched shards| /
   * numShards of the work. A re-sent id replaces its old row (upsert):
   * keeping both would give the shard graph two nodes with one id.
   *
   * One eager job checks the shard layout and finds the touched shards;
   * the returned index materialises in one more (see [[rebuild]]).
   */
  def insert(index: DataFrame, df: DataFrame, idCol: String, vecCol: String,
             numShards: Int = 32, params: Params = Params(),
             metric: String = "l2"): DataFrame = {
    val (rows, rowType) = rowsOf(index)
    val fresh = newRows(df, idCol, vecCol)
    val touched = layoutPass(rows, numShards, fresh.map(_._1))
    if (touched.isEmpty) index
    else rebuild(index.sparkSession, rows, rowType, numShards, touched, fresh, params, metric)
  }

  def write(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("shard").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /**
   * Deletion (the vacuum analog of [[insert]]): rebuild the shards of the
   * deleted ids from their surviving members; untouched shards keep their
   * rows verbatim. Tombstone-free — the graph never serves a deleted
   * node, and determinism again makes the result bit-identical to a full
   * rebuild without the deleted rows. One eager job checks the layout.
   */
  def delete(index: DataFrame, ids: Seq[Long], numShards: Int = 32,
             params: Params = Params(), metric: String = "l2"): DataFrame = {
    if (ids.isEmpty) return index
    val (rows, rowType) = rowsOf(index)
    val spark = index.sparkSession
    layoutPass(rows, numShards, spark.sparkContext.emptyRDD[Long])
    rebuild(spark, rows, rowType, numShards, ids.map(idShard(_, numShards)).toSet,
      spark.sparkContext.parallelize(ids.map(id => (id, null: Array[Float]))), params, metric)
  }

  /** Bulk-purge deletion ([[Ivf.deleteBulk]]'s HNSW form, the GDPR-
    * erasure shape): the erasure set arrives as an id FRAME, and the
    * affected SHARDS are those that hold a manifest id — a retraction
    * manifest full of stray, null or already-purged ids triggers no
    * rebuild of a shard that loses no member (r14 advice). One eager job
    * checks the layout and finds those shards: the index's ids and the
    * manifest's meet by shard, and only ≤ numShards counts are
    * collected, never the ids themselves. The manifest ids then move to their
    * shards' rebuild tasks, and only the affected shards' graphs are
    * rebuilt — untouched shards keep their adjacency verbatim, same
    * contract as [[delete]]. An empty or fully-stale manifest returns
    * the index itself.
    *
    * Cost shape: rebuild is O(affected shards × shard size) — a
    * SCATTERED erasure (uniform ids) touches every shard and pays a
    * full-index rebuild, measured as the `hnsw_delete_bulk` cliff in
    * SCALE_BENCH.json; the lazy path ([[searchBatch]]'s `tombstones` +
    * [[compact]]) answers the same erasure with zero immediate rebuild
    * when that cliff is the wrong trade. */
  def deleteBulk(index: DataFrame, ids: DataFrame, numShards: Int = 32,
                 params: Params = Params(), metric: String = "l2"): DataFrame = {
    val (rows, rowType) = rowsOf(index)
    val dead = idsOf(ids)
    val (_, hit) = deadCounts(rows, numShards, dead)
    val shards = hit.indices.filter(hit(_) > 0).toSet
    if (shards.isEmpty) index
    else rebuild(index.sparkSession, rows, rowType, numShards, shards,
      dead.map(id => (id, null: Array[Float])), params, metric)
  }

  /** Collect an erasure-id frame into the broadcastable tombstone set
    * the LAZY deletion path uses. Driver-sized by design: a tombstone
    * set is bounded by [[compact]]'s threshold sweep (shards above
    * `minDeadFraction` rebuild and consume their tombstones), so it
    * stays erasure-batch-sized — millions of longs, not corpus-sized.
    * Null ids (and ids that do not cast to a long) are skipped, as in
    * [[deleteBulk]]. */
  def tombstoneSet(ids: DataFrame): Set[Long] = {
    val id = col(ids.columns.head).cast("long")
    ids.select(id).where(id.isNotNull).distinct()
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
    * The same one eager job as [[deleteBulk]] checks the layout and
    * counts each shard's (size, dead); only those ≤ numShards pairs are
    * collected. */
  def compact(index: DataFrame, tombstones: DataFrame, numShards: Int = 32,
              params: Params = Params(), metric: String = "l2",
              minDeadFraction: Double = 0.2): (DataFrame, DataFrame) = {
    val (rows, rowType) = rowsOf(index)
    val dead = idsOf(tombstones)
    val (size, hit) = deadCounts(rows, numShards, dead)
    // dedup: the same id legitimately arrives in two retraction epochs
    // (a re-submitted request)
    val del = tombstones
      .select(col(tombstones.columns.head).cast("long").as("id"))
      .distinct()
    val shards = hit.indices
      .filter(s => hit(s) > 0 && hit(s).toDouble / size(s) >= minDeadFraction).toSet
    if (shards.isEmpty) return (index, del)
    val compacted = rebuild(index.sparkSession, rows, rowType, numShards, shards,
      dead.map(id => (id, null: Array[Float])), params, metric)
    // tombstones on compacted shards are consumed; the rest stay active
    val surviving = del.filter(!GraftShim.column(
      InInts(GraftShim.expression(pmod(hash(col("id")), lit(numShards))), shards.toSeq)))
    (compacted, surviving)
  }

  /** The index's rows as binary rows (shard, id, vec, nbrs), and their
    * row type. */
  private def rowsOf(index: DataFrame): (RDD[InternalRow], StructType) = {
    val df = index.select("shard", "id", "vec", "nbrs")
    (df.queryExecution.toRdd, df.schema)
  }

  /** The (id, vector) rows of `df`, each vector read by
    * [[graft.plans.DistanceExpressions.reader]]; a null id or vector
    * fails the task. */
  private def newRows(df: DataFrame, idCol: String, vecCol: String): RDD[(Long, Array[Float])] = {
    val rows = df.select(col(idCol).cast("long"), col(vecCol))
    val read = graft.plans.DistanceExpressions.reader(rows.schema(1).dataType, 1, "indexed")
    rows.queryExecution.toRdd.map { r =>
      val v = if (r.isNullAt(0)) null else read(r)
      if (v == null) throw new IllegalArgumentException(s"null $idCol or $vecCol in the rows to index")
      (r.getLong(0), v)
    }
  }

  /** The ids of a manifest frame's first column; null ids are skipped. */
  private def idsOf(ids: DataFrame): RDD[Long] =
    ids.select(col(ids.columns.head).cast("long")).queryExecution.toRdd
      .filter(!_.isNullAt(0)).map(_.getLong(0))

  /** Maintenance ops must be called with the numShards the index was
    * BUILT with — a mismatch would route new rows mod numShards' while
    * existing shards are mod numShards, mixing two incompatible layouts
    * (duplicated ids in rebuilt shards, orphans in untouched ones) with
    * no error at serve time. The layout is verifiable from the rows
    * themselves, so verify it. */
  private def requireLayout(bad: Boolean, numShards: Int): Unit =
    require(!bad,
      s"index shard layout does not match numShards=$numShards — pass the build-time value")

  /** One job over the index's rows and the ids of new rows: checks the
    * shard layout, and returns the new rows' shards. */
  private def layoutPass(rows: RDD[InternalRow], numShards: Int, fresh: RDD[Long]): Set[Int] = {
    val n = numShards
    // per partition, a flag per shard and one (slot n) for a row off its shard
    def flags(slots: Iterator[Int]): Iterator[Array[Boolean]] = {
      val f = new Array[Boolean](n + 1)
      slots.foreach(f(_) = true)
      Iterator(f)
    }
    val found = rows
      .mapPartitions(it => flags(it.filter(r => idShard(r.getLong(1), n) != r.getInt(0)).map(_ => n)))
      .union(fresh.mapPartitions(it => flags(it.map(idShard(_, n)))))
      .collect()
    requireLayout(found.exists(_(n)), n)
    (0 until n).filter(s => found.exists(_(s))).toSet
  }

  /** Per shard, its row count and how many of its rows hold a `dead`
    * id, from one job: the index's ids and `dead` meet by shard on
    * min(numShards, P) partitions. Checks the shard layout. */
  private def deadCounts(rows: RDD[InternalRow], numShards: Int,
                         dead: RDD[Long]): (Array[Long], Array[Long]) = {
    val n = numShards
    val parts = math.min(n, rows.sparkContext.defaultParallelism)
    // (shard, id, kind): 0 a member, 1 a dead id, 2 a row off its shard
    val keyed: RDD[(Int, (Long, Byte))] = rows.map { r =>
      val id = r.getLong(1)
      val s = idShard(id, n)
      (s, (id, (if (s == r.getInt(0)) 0 else 2).toByte))
    }.union(dead.map(id => (idShard(id, n), (id, 1.toByte))))
    val counts = keyed.partitionBy(new IvfBlockJoin.ListPartitioner(parts)).mapPartitions { it =>
      val members = mutable.LongMap[Int]()
      val gone = mutable.HashSet[Long]()
      val s = new Array[Long](2 * n + 1)
      it.foreach { case (shard, (id, kind)) =>
        kind match {
          case 0 => s(shard) += 1; members(id) = members.getOrElse(id, 0) + 1
          case 1 => gone += id
          case _ => s(2 * n) = 1
        }
      }
      gone.foreach(id => members.get(id).foreach(c => s(n + idShard(id, n)) += c))
      Iterator(s)
    }.collect()
    requireLayout(counts.exists(_(2 * n) > 0), n)
    (Array.tabulate(n)(s => counts.map(_(s)).sum), Array.tabulate(n)(s => counts.map(_(n + s)).sum))
  }

  /** A member of a shard being rebuilt, a new row (`fresh`), or a
    * deleted id (`vec` null). */
  private final case class Change(shard: Int, id: Long, vec: Array[Float], fresh: Boolean)

  /**
   * The one maintenance primitive: rebuild the `touched` shards of the
   * index (`rows` of type `rowType`) from their members and `changes` —
   * new rows, or deleted ids with a null vector — and keep every other
   * shard's rows as they are. Untouched rows pass through without a
   * shuffle, coalesced to at most min(numShards, P) partitions; members
   * and changes move by number, touched shard i (in shard order) to
   * partition i mod min(|touched|, P), where the unchanged [[Builder]]
   * rebuilds each shard by id-sorted insert. A member whose id is
   * deleted or arrives anew is dropped (upsert). So the index stays
   * within 2·numShards partitions over any number of calls, and
   * materialising it is one Spark job. Each rebuild task adds the rows
   * it indexes to `Metrics.VectorsIndexed`.
   */
  private def rebuild(spark: SparkSession, rows: RDD[InternalRow], rowType: StructType,
                      numShards: Int, touched: Set[Int], changes: RDD[(Long, Array[Float])],
                      params: Params, metric: String): DataFrame = {
    val sc = spark.sparkContext
    val dist = distFn(metric)
    val n = numShards
    val parts = math.min(touched.size, sc.defaultParallelism)
    val slot = touched.toSeq.sorted.zipWithIndex.toMap
    val indexed = graft.Metrics.counter(spark, graft.Metrics.VectorsIndexed)
    val members = rows.flatMap { r =>
      val s = r.getInt(0)
      if (touched(s)) Some(Change(s, r.getLong(1), r.getArray(2).toFloatArray(), fresh = false))
      else None
    }
    val moved = changes.flatMap { case (id, v) =>
      val s = idShard(id, n)
      if (touched(s)) Some(Change(s, id, v, fresh = v != null)) else None
    }
    val rebuilt = members.union(moved).map(c => (slot(c.shard), c))
      .partitionBy(new IvfBlockJoin.ListPartitioner(parts))
      .mapPartitions { it =>
        val shards = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Change]]()
        it.foreach { case (_, c) => shards.getOrElseUpdate(c.shard, mutable.ArrayBuffer()) += c }
        shards.iterator.flatMap { case (shard, cs) =>
          val replaced = cs.iterator.filter(c => c.fresh || c.vec == null).map(_.id).toSet
          val b = new Builder(params, dist)
          val kept = cs.filter(c => c.vec != null && (c.fresh || !replaced(c.id)))
          kept.sortBy(_.id) // id-sorted insert: deterministic
            .foreach(c => b.insert(c.id, c.vec))
          indexed.add(kept.length)
          b.toRows(shard)
        }
      }
    val untouched = rows.filter(r => !touched(r.getInt(0)))
      .coalesce(math.min(n, sc.defaultParallelism))
    GraftShim.dataFrame(spark, untouched.union(rebuilt), rowType)
  }

  /** The stable shard of an id — must mirror the hash used in [[build]]
    * (Catalyst murmur3 over a long, seed 42). */
  private[graft] def idShard(id: Long, numShards: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
      id, org.apache.spark.sql.types.LongType, 42L).toInt
    val m = h % numShards
    if (m < 0) m + numShards else m
  }

  /** Search-time view of one shard, built from its rows: node i has id
    * `nodeIds(i)`, vector `nodeVecs(i)` and the neighbor ids
    * `nbrIds(i)(l)` at level l. Vectors stay unboxed and neighbor ids
    * resolve to node indices once, here, so the walk touches only
    * primitive arrays. An id repeated in the rows resolves to its last
    * row. */
  private[graft] final class ShardGraph(nodeIds: Array[Long], nodeVecs: Array[Array[Float]],
                                        nbrIds: Array[Array[Array[Long]]],
                                        dist: (Array[Float], Array[Float]) => Double)
      extends Graph(dist) {

    /** From decoded [[Node]]s. */
    def this(nodes: Array[Node], dist: (Array[Float], Array[Float]) => Double) =
      this(nodes.map(_.id), nodes.map(_.vec.toArray), nodes.map(_.nbrs.map(_.toArray).toArray), dist)

    private val (entry, top) = {
      val index = new mutable.LongMap[Int](nodeIds.length)
      nodeIds.indices.foreach(i => index(nodeIds(i)) = add(nodeIds(i), nodeVecs(i), nbrIds(i).length))
      nodeIds.indices.foreach(i => adj(i) = nbrIds(i).map(_.map(index)))
      val e = nodeIds.indices.minBy(i => (-nbrIds(i).length, nodeIds(i))) // max level, tie → min id
      (index(nodeIds(e)), nbrIds(e).length - 1)
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

  private[graft] object ShardGraph {
    /** From the shard's binary rows (shard, id, vec, nbrs), read in place. */
    def fromRows(rows: Seq[InternalRow], dist: (Array[Float], Array[Float]) => Double): ShardGraph =
      new ShardGraph(rows.map(_.getLong(1)).toArray, rows.map(_.getArray(2).toFloatArray()).toArray,
        rows.map { r =>
          val levels = r.getArray(3)
          Array.tabulate(levels.numElements())(levels.getArray(_).toLongArray())
        }.toArray, dist)
  }

  /** Executor-JVM memo of built shard graphs, keyed by (index
    * fingerprint, shard, metric). A ShardGraph is rebuilt from rows on
    * every [[searchBatch]] call otherwise; on a hit the walk task skips
    * the shard's rows without decoding them. Bounded
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
  /** Graphs built into [[graphCache]] in this JVM. */
  private[graft] val graphBuilds = new java.util.concurrent.atomic.AtomicLong

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

  /** The columns and types [[searchBatch]] returns. */
  private val ResultType = StructType(Seq(
    StructField("qid", LongType, nullable = false), StructField("id", LongType, nullable = false),
    StructField("distance", DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false)))

  /** The `k` first of `found` in result order: distance as Spark SQL
    * orders doubles (−0.0 equal to 0.0, NaN last), then id. An id found
    * twice (a batch that repeats an id indexes both rows) is kept once,
    * at its first place in that order: its nearer row. */
  private[graft] def nearest(found: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] = {
    val seen = mutable.HashSet[Long]()
    found.sortWith { (a, b) =>
      val c = SQLOrderingUtil.compareDoubles(a._2, b._2)
      c < 0 || (c == 0 && a._1 < b._1)
    }.filter(f => seen.add(f._1)).take(k)
  }

  /**
   * Batch ANN search, one Spark job: the queries ride in the task
   * closure (tiny), each shard's graph is walked for every query, and
   * each query's per-shard top-k are merged — never a corpus-sized
   * shuffle. Returns
   * (qid, id, distance, rank ≤ k), ranked by (distance, id) as Spark SQL
   * orders them. Each id appears at most once per query, at its nearer
   * row when a batch indexed it twice, so a query may get fewer than k
   * rows even when the index holds k or more.
   *
   * The index rows move by partition NUMBER to `defaultParallelism`
   * partitions as binary rows, shard s to partition s mod P, so the
   * shards spread evenly and min(#shards, P) tasks walk them; each task
   * builds its shards' graphs straight from the rows and keeps each
   * query's k nearest over them. Those candidates move by query to P
   * partitions, where each query's are merged and ranked 1..k. The
   * exchanges are the job's shuffle stages, not a query plan's, so
   * adaptive execution never merges the walk's tasks (it would: a
   * graph's rows are few bytes for a lot of walking).
   *
   * `cacheKey` (set by [[searchBatchFromDisk]]) memoizes the per-shard
   * graphs in the executor JVM ([[graphCache]]): on a hit the walk task
   * skips the shard's rows and never decodes them, so repeated batches
   * against the same index skip graph construction; results are
   * bit-identical either way (the graph is a pure function of the
   * shard's rows). Each lookup adds to `Metrics.CacheHits` or
   * `Metrics.CacheMisses`.
   *
   * `tombstones` is the LAZY-deletion filter ([[tombstoneSet]]): the
   * set broadcasts (when not empty) and tombstoned ids are excluded
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
    val sc = spark.sparkContext
    val dist = distFn(metric)
    // a tombstone set can hold millions of ids: a broadcast is read once
    // per executor, not once per shard task
    val bt = if (tombstones.isEmpty) None else Some(sc.broadcast(tombstones))
    val parts = sc.defaultParallelism
    val hits = graft.Metrics.counter(spark, graft.Metrics.CacheHits)
    val misses = graft.Metrics.counter(spark, graft.Metrics.CacheMisses)
    val walked = rowsOf(index)._1.map(r => (r.getInt(0), r.copy()))
      .partitionBy(new IvfBlockJoin.ListPartitioner(parts))
      .mapPartitions { it =>
        // each shard's graph from the cache, or else its rows
        val cached = mutable.LinkedHashMap[Int, ShardGraph]()
        val pending = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[InternalRow]]()
        it.foreach { case (s, r) =>
          if (!cached.contains(s)) pending.get(s) match {
            case Some(rs) => rs += r
            case None =>
              val g = cacheKey.map(fp => graphCache.get((fp, s, metric))).orNull // refreshes LRU recency
              if (g != null) { cached(s) = g; hits.add(1) }
              else pending(s) = mutable.ArrayBuffer(r)
          }
        }
        val graphs = cached.values.toArray ++ pending.map { case (s, rs) =>
          val g = ShardGraph.fromRows(rs.toSeq, dist)
          cacheKey.foreach { fp =>
            graphCache.put((fp, s, metric), g); graphBuilds.incrementAndGet(); misses.add(1)
          }
          g
        }
        val dead = graphs.map(g => bt.map(b => g.deadMask(b.value.contains)).orNull)
        queries.iterator.flatMap { case (qid, q) =>
          val found = graphs.indices.flatMap(i => graphs(i).search(q, k, ef, dead(i)))
          if (found.isEmpty) None else Some((qid, nearest(found, k)))
        }
      }
    val ranked = walked.partitionBy(new HashPartitioner(parts)).mapPartitions { it =>
      val byQuery = mutable.LinkedHashMap[Long, mutable.ArrayBuffer[(Long, Double)]]()
      it.foreach { case (qid, found) => byQuery.getOrElseUpdate(qid, mutable.ArrayBuffer()) ++= found }
      byQuery.iterator.flatMap { case (qid, found) =>
        nearest(found.toSeq, k).iterator.zipWithIndex.map { case ((id, d), i) =>
          new GenericInternalRow(Array[Any](qid, id, d, i + 1)): InternalRow
        }
      }
    }
    GraftShim.dataFrame(spark, ranked, ResultType)
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

  /** Recall@k-vs-ef_search curve (the HNSW face of `Ivf.recallCurve`,
    * the tuner-evidence artifact): one exact scan for the truth of every
    * query ([[Knn.exactTopK]], a single Spark job), then one
    * [[searchBatch]] pass per ladder step. Returns (ef, recall_at_k). */
  def recallCurve(index: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                  queries: Array[(Long, Array[Float])], k: Int = 10,
                  efs: Seq[Int] = Seq(8, 16, 32, 64, 128, 256),
                  metric: String = "l2"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    distFn(metric) // the graph's metrics only
    val truth = Knn.exactTopK(corpus, idCol, vecCol, queries, k, metric)
    efs.map(ef => (ef, recallAt(index, queries, truth, k, ef, metric)))
      .toDF("ef_search", s"recall_at_$k")
  }

  /** Measured recall@k of one searchBatch pass against exact truth. The
    * denominator is the TRUTH-SET size sum, not queries·k: a corpus with
    * fewer than k rows has k-truncated truth sets, and dividing by k
    * would cap "recall" below 1.0 for an exhaustive (perfect) search. */
  private def recallAt(index: DataFrame, queries: Array[(Long, Array[Float])],
                       truth: Map[Long, Seq[Knn.Neighbor]], k: Int, ef: Int,
                       metric: String): Double = {
    val spark = index.sparkSession
    import spark.implicits._
    val got = searchBatch(index, queries, k, ef, metric)
      .select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (qid, rs) => qid -> rs.map(_._2).toSet }
    val sets = truth.map { case (qid, t) => qid -> t.map(_.id).toSet }
    val denom = math.max(1L, sets.values.map(_.size.toLong).sum).toDouble
    val hits = sets.map { case (qid, t) => (t & got.getOrElse(qid, Set.empty)).size }.sum
    hits / denom
  }

  /**
   * Self-tuning ef_search (`planner.c:220-237` learn_from_query band):
   * walk the doubling ladder inside [8,256], return the smallest ef
   * whose measured recall@k against the exact answer clears the target.
   * One exact scan ([[Knn.exactTopK]], a single Spark job) establishes
   * truth for ALL queries; each ladder step is one [[searchBatch]] pass
   * (offline tuner cost, not serve path).
   */
  def recommendEf(index: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                  sampleQueries: Array[(Long, Array[Float])], k: Int = 10,
                  targetRecall: Double = 0.9, metric: String = "l2"): Int = {
    distFn(metric) // the graph's metrics only
    val truth = Knn.exactTopK(corpus, idCol, vecCol, sampleQueries, k, metric)
    val ladder = Iterator.iterate(8)(_ * 2).takeWhile(_ <= 256).toSeq
    ladder.find(ef =>
      recallAt(index, sampleQueries, truth, k, ef, metric) >= targetRecall
    ).getOrElse(256)
  }
}
