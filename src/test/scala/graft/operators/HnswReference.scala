package graft.operators

import scala.collection.mutable

import graft.operators.Hnsw.{levelFor, Node, Params}

/** The boxed HNSW walk as it stood before the int-indexed rewrite —
  * `Hnsw.Builder` and `Hnsw.ShardGraph` copied verbatim — kept as the
  * reference [[HnswWalkParitySpec]] holds the primitive walk to. */
object HnswReference {

  /** In-memory builder for ONE shard (runs inside a task; never sees
    * more than its shard's rows). Standard Malkov-Yashunin insert:
    * greedy descent above the node's level, ef_construction beam on the
    * levels it joins, closest-m neighbor selection, capped lists
    * (m above level 0, 2m at level 0). */
  final class Builder(p: Params, dist: (Array[Float], Array[Float]) => Double) {
    val ids = mutable.ArrayBuffer[Long]()
    val vecs = mutable.ArrayBuffer[Array[Float]]()
    val nbrs = mutable.ArrayBuffer[Array[mutable.ArrayBuffer[Int]]]()
    var entry = -1
    var topLevel = -1

    private def d(q: Array[Float], n: Int): Double = dist(q, vecs(n))

    private def greedy(q: Array[Float], ep0: Int, level: Int): Int = {
      var ep = ep0
      var dEp = d(q, ep)
      var improved = true
      while (improved) {
        improved = false
        val ns = nbrs(ep)(level)
        var i = 0
        while (i < ns.length) {
          val c = ns(i)
          val dc = d(q, c)
          if (dc < dEp || (dc == dEp && ids(c) < ids(ep))) {
            ep = c; dEp = dc; improved = true
          }
          i += 1
        }
      }
      ep
    }

    /** Beam search on one level; ascending (dist, id) result. */
    private def searchLayer(q: Array[Float], ep: Int, ef: Int, level: Int): Vector[(Double, Int)] = {
      val visited = mutable.HashSet[Int](ep)
      val cand = mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.by(t => (-t._1, -ids(t._2)))) // pops nearest first
      val res = mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.by(t => (t._1, ids(t._2)))) // pops farthest first
      val d0 = d(q, ep)
      cand.enqueue((d0, ep)); res.enqueue((d0, ep))
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        if (dc > res.head._1 && res.size >= ef) { cand.clear() }
        else {
          val ns = nbrs(c)(level)
          var i = 0
          while (i < ns.length) {
            val e = ns(i)
            if (!visited(e)) {
              visited += e
              val de = d(q, e)
              if (res.size < ef || de < res.head._1) {
                cand.enqueue((de, e)); res.enqueue((de, e))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      res.dequeueAll.reverseIterator.toVector // ascending
    }

    private def shrink(u: Int, level: Int, cap: Int): Unit = {
      val v = vecs(u)
      val kept = nbrs(u)(level)
        .map(n => (dist(v, vecs(n)), n))
        .sortBy(t => (t._1, ids(t._2)))
        .take(cap).map(_._2)
      nbrs(u)(level) = kept
    }

    def insert(id: Long, v: Array[Float]): Unit = {
      val lvl = levelFor(id, p)
      val node = ids.length
      ids += id; vecs += v
      nbrs += Array.fill(lvl + 1)(mutable.ArrayBuffer[Int]())
      if (entry < 0) { entry = node; topLevel = lvl; return }
      var ep = entry
      var lc = topLevel
      while (lc > lvl) { ep = greedy(v, ep, lc); lc -= 1 }
      lc = math.min(topLevel, lvl)
      while (lc >= 0) {
        val w = searchLayer(v, ep, p.efConstruction, lc)
        w.take(p.m).foreach { case (_, u) =>
          nbrs(node)(lc) += u
          nbrs(u)(lc) += node
          val cap = if (lc == 0) 2 * p.m else p.m
          if (nbrs(u)(lc).length > cap) shrink(u, lc, cap)
        }
        ep = w.head._2
        lc -= 1
      }
      if (lvl > topLevel) { topLevel = lvl; entry = node }
    }

    def toNodes(shard: Int): Iterator[Node] =
      ids.indices.iterator.map { n =>
        Node(shard, ids(n), vecs(n).toSeq,
          nbrs(n).map(_.map(ids(_).toLong).toSeq).toSeq)
      }
  }

  /** Search-time view of one shard rebuilt from its rows. */
  final class ShardGraph(nodes: Array[Node],
                                 dist: (Array[Float], Array[Float]) => Double) {
    private val byId = new mutable.HashMap[Long, Node]()
    nodes.foreach(n => byId(n.id) = n)
    private val entry: Node =
      nodes.minBy(n => (-n.nbrs.length, n.id)) // max level, tie → min id
    private def vecOf(id: Long): Array[Float] = byId(id).vec.toArray

    /** `dead` is the LAZY-deletion filter (mark-and-sweep, the classic
      * HNSW answer to deletion): tombstoned nodes still ROUTE — the
      * walk traverses them like any node, preserving graph
      * connectivity — but never enter the result heap. At the
      * exhaustive dial (ef ≥ |shard|) the scan guarantees exactly
      * brute force over the SURVIVORS. At production ef the beam is
      * live-results-sized, so heavily tombstoned shards effectively
      * search a little wider; [[Hnsw.compact]] bounds that overhead by
      * rebuilding shards past a dead-fraction threshold. */
    def search(q: Array[Float], k: Int, ef: Int,
               dead: Long => Boolean = _ => false): Seq[(Long, Double)] = {
      // ef >= |shard| is the documented exhaustive limit (reference ef
      // clamp contract, hnsw_am.c:938-941): make it a GUARANTEE by
      // scanning, not a property contingent on level-0 connectivity —
      // the asymmetric closest-m shrink can in principle orphan a
      // node's inbound edges, and the hnsw_exhaustive oracle family
      // asserts brute-force equality
      if (math.max(ef, k) >= byId.size)
        return nodes.view.filterNot(n => dead(n.id))
          .map(n => (dist(q, n.vec.toArray), n.id))
          .toSeq.sorted.take(k).map { case (d, id) => (id, d) }
      var ep = entry.id
      var dEp = dist(q, vecOf(ep))
      var lc = entry.nbrs.length - 1
      while (lc > 0) { // greedy descent to level 1 (dead nodes may route)
        var improved = true
        while (improved) {
          improved = false
          byId(ep).nbrs(lc).foreach { c =>
            val dc = dist(q, vecOf(c))
            if (dc < dEp || (dc == dEp && c < ep)) { ep = c; dEp = dc; improved = true }
          }
        }
        lc -= 1
      }
      val efK = math.max(ef, k)
      val visited = mutable.HashSet[Long](ep)
      val cand = mutable.PriorityQueue.empty[(Double, Long)](Ordering.by(t => (-t._1, -t._2)))
      val res = mutable.PriorityQueue.empty[(Double, Long)](Ordering.by(identity))
      cand.enqueue((dEp, ep))
      if (!dead(ep)) res.enqueue((dEp, ep))
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        if (res.size >= efK && dc > res.head._1) { cand.clear() }
        else byId(c).nbrs(0).foreach { e =>
          if (!visited(e)) {
            visited += e
            val de = dist(q, vecOf(e))
            if (res.size < efK || de < res.head._1) {
              cand.enqueue((de, e))
              if (!dead(e)) {
                res.enqueue((de, e))
                if (res.size > efK) res.dequeue()
              }
            }
          }
        }
      }
      res.dequeueAll.reverseIterator.toSeq // ascending (dist, id)
        .take(k).map { case (d, id) => (id, d) }
    }
  }
}
