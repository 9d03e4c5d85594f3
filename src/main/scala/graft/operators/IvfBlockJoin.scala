package graft.operators

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, GenericInternalRow, InterpretedOrdering, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.VectorOps
import graft.plans.DistanceExpressions

/**
 * The posting-list block scan behind [[Ivf.knnJoin]]. Index rows and
 * query rows travel as Spark's binary rows ([[UnsafeRow]]); a block holds
 * at most [[BlockRows]] rows of one list with their vectors unpacked once
 * into primitive float arrays, and its covering radius. Both passes and
 * the per-query merge are one Spark job of shuffle stages, with no query
 * plan to re-plan between them.
 */
private[graft] object IvfBlockJoin {

  /** Rows per posting-list block: a long list is cut into several. */
  val BlockRows = 1024

  /** List c goes to partition c mod n, so the lists spread evenly over
    * the n scan tasks; the partition count is fixed by number. The HNSW
    * calls place shards the same way. */
  final class ListPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = Math.floorMod(key.asInstanceOf[Int], numPartitions)
    override def equals(o: Any): Boolean = o match {
      case p: ListPartitioner => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  /** Partition i gets the records keyed i. */
  private final class IdPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** One query: its id, its row (every query column) and its vector. */
  final case class Query(id: Any, row: UnsafeRow, vec: Array[Float])

  /** A candidate train row at `distance` from its query. */
  final case class Cand(distance: Double, row: UnsafeRow)

  private final case class Block(list: Int, rows: Array[UnsafeRow], vecs: Array[Array[Float]],
                                 radius: Double)

  /** A vector read out of `a` into a primitive array, null elements and
    * a null vector rejected. */
  private def vector(a: ArrayData, nulls: Boolean): Array[Float] = {
    if (a == null) throw new IllegalArgumentException("knnJoin: null vector")
    DistanceExpressions.floats(a, nulls)
  }

  /** The blocks of one partition's index rows, (list, row) pairs. */
  private def blocks(rows: Iterator[(Int, UnsafeRow)], vecOrd: Int, nulls: Boolean,
                     centroids: Array[Array[Float]]): Iterator[Block] = {
    val lists = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[UnsafeRow]]()
    rows.foreach { case (c, r) => lists.getOrElseUpdate(c, mutable.ArrayBuffer()) += r }
    lists.iterator.flatMap { case (c, rs) =>
      rs.grouped(BlockRows).map { chunk =>
        val vecs = chunk.map(r => vector(r.getArray(vecOrd), nulls)).toArray
        Block(c, chunk.toArray, vecs, vecs.iterator.map(VectorOps.l2(_, centroids(c))).max)
      }
    }
  }

  /** Every row of `b` within the k-th smallest distance to `q`: the
    * block's k nearest plus any row tied with the k-th. */
  private def scan(b: Block, q: Array[Float], k: Int, d: Array[Double],
                   heap: Hnsw.Heap): Array[Cand] = {
    val n = b.rows.length
    var j = 0
    while (j < n) { d(j) = VectorOps.l2(q, b.vecs(j)); j += 1 }
    var kth = Double.PositiveInfinity
    if (n > k) {
      heap.clear()
      j = 0
      while (j < n) {
        heap.push(d(j), j, j)
        if (heap.size > k) heap.pop()
        j += 1
      }
      kth = heap.headDist
    }
    val out = mutable.ArrayBuffer[Cand]()
    j = 0
    while (j < n) {
      if (n <= k || java.lang.Double.compare(d(j), kth) <= 0) out += Cand(d(j), b.rows(j))
      j += 1
    }
    out.toArray
  }

  /** Co-groups each partition's blocks with the queries paired with
    * their lists, one scan per (block, query); yields (query id,
    * candidates). */
  private def scanAll(index: RDD[(Int, UnsafeRow)], pairs: RDD[(Int, Query)], k: Int,
                      vecOrd: Int, nulls: Boolean,
                      centroids: Array[Array[Float]]): RDD[(Any, Array[Cand])] =
    index.zipPartitions(pairs) { (rows, qs) =>
      val byList = qs.toArray.groupBy(_._1)
      val heap = new Hnsw.Heap(nearestFirst = false)
      var d = new Array[Double](BlockRows)
      blocks(rows, vecOrd, nulls, centroids).flatMap { b =>
        if (d.length < b.rows.length) d = new Array[Double](b.rows.length)
        byList.getOrElse(b.list, Array.empty[(Int, Query)]).iterator
          .map { case (_, q) => (q.id, scan(b, q.vec, k, d, heap)) }
      }
    }

  /** Candidates within the k-th smallest distance among them (all of
    * them when there are k or fewer). */
  private def prune(cs: Array[Cand], k: Int): Array[Cand] =
    if (cs.length <= k) cs
    else {
      val kth = cs.map(_.distance).sorted(Ordering.Double.TotalOrdering)(k - 1)
      cs.filter(c => java.lang.Double.compare(c.distance, kth) <= 0)
    }

  /** The index's rows by list: (list, row of `t_`-prefixed train
    * columns), the row type, the vector's ordinal in it and whether the
    * vector type admits null elements. */
  private final case class Index(rows: RDD[(Int, UnsafeRow)], rowType: StructType,
                                 vecOrd: Int, nulls: Boolean)

  private def indexOf(model: Ivf.IvfModel, byList: ListPartitioner): Index = {
    val train = model.assigned.columns.filter(_ != "cluster_id")
    val tRows = model.assigned.select(col("cluster_id"),
      struct(train.map(c => col(c).as(s"t_$c")).toSeq: _*).as("t"))
    val tType = tRows.schema("t").dataType.asInstanceOf[StructType]
    val width = tType.length
    val vecOrd = train.indexOf(model.vecCol)
    Index(tRows.queryExecution.toRdd
        .map(r => (r.getInt(0), r.getStruct(1, width).copy().asInstanceOf[UnsafeRow]))
        .partitionBy(byList),
      tType, vecOrd, tType(vecOrd).dataType.asInstanceOf[ArrayType].containsNull)
  }

  /** Each list's covering radius, max over its blocks; 0 for a list
    * with no rows. */
  def radii(model: Ivf.IvfModel): Array[Double] = {
    val parts = model.assigned.sparkSession.sparkContext.defaultParallelism
    val Index(index, _, vecOrd, nulls) = indexOf(model, new ListPartitioner(parts))
    val centroids = model.centroids
    val out = new Array[Double](centroids.length)
    index.mapPartitions(rows => blocks(rows, vecOrd, nulls, centroids).map(b => (b.list, b.radius)))
      .collect().foreach { case (c, r) => out(c) = math.max(out(c), r) }
    out
  }

  /** See [[Ivf.knnJoin]]. */
  def knnJoin(model: Ivf.IvfModel, queries: DataFrame, qVecCol: String, qIdCol: String,
              k: Int, initProbes: Int, tieBreak: Seq[String]): DataFrame = {
    val spark = queries.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    val byList = new ListPartitioner(parts)
    val byQuery = new HashPartitioner(parts)
    val centroids = model.centroids
    val probes = math.min(math.max(1, initProbes), centroids.length)

    val Index(index, tType, vecOrd, tNulls) = indexOf(model, byList)

    val qRows = queries.select(struct(queries.columns.map(col).toSeq: _*).as("q"))
    val qType = qRows.schema("q").dataType.asInstanceOf[StructType]
    val qWidth = qType.length
    val (qIdOrd, qVecOrd) = (qType.fieldIndex(qIdCol), qType.fieldIndex(qVecCol))
    val qIdType = qType(qIdOrd).dataType
    val qNulls = qType(qVecOrd).dataType.asInstanceOf[ArrayType].containsNull
    val outSchema = StructType(qType.fields ++ tType.fields ++ Seq(
      StructField("distance", DoubleType, nullable = true),
      StructField("rank", IntegerType, nullable = false)))
    if (k <= 0)
      return org.apache.spark.sql.classic.GraftShim.dataFrame(spark,
        spark.sparkContext.emptyRDD[InternalRow], outSchema)
    val qs = qRows.queryExecution.toRdd.map { r =>
      val row = r.getStruct(0, qWidth).copy().asInstanceOf[UnsafeRow]
      if (row.isNullAt(qVecOrd)) throw new IllegalArgumentException("knnJoin: null query vector")
      Query(row.get(qIdOrd, qIdType), row, vector(row.getArray(qVecOrd), qNulls))
    }

    // pass 1: the nearest `probes` lists of each query
    val first = scanAll(index,
      qs.flatMap(q => Ivf.probeOrder(Ivf.centroidDistances(q.vec, centroids)).take(probes)
        .map(c => (c, q))).partitionBy(byList),
      k, vecOrd, tNulls, centroids)

    // every query with its pass-1 candidates, pruned to the k-th distance
    val perQuery: RDD[(Any, (Query, Array[Cand]))] =
      qs.keyBy(_.id).cogroup(first, byQuery).flatMapValues { case (q, cs) =>
        q.headOption.map(_ -> prune(cs.flatten.toArray, k))
      }

    // each list's covering radius, sent to every query partition
    val radii = index.mapPartitions(rows => blocks(rows, vecOrd, tNulls, centroids)
        .map(b => (b.list, b.radius)).toArray.groupBy(_._1).iterator
        .map { case (c, rs) => (c, rs.map(_._2).max) })
      .flatMap(cr => (0 until parts).map(p => (p, cr)))
      .partitionBy(new IdPartitioner(parts))

    // pass 2: the lists pass 1 did not scan whose bound d(q,c) − r(c)
    // beats D_k (every list when pass 1 found fewer than k candidates)
    val second = scanAll(index,
      perQuery.zipPartitions(radii) { (states, rs) =>
        val radius = rs.map(_._2).toMap
        states.flatMap { case (_, (q, cs)) =>
          val bound = if (cs.length >= k)
            cs.map(_.distance).sorted(Ordering.Double.TotalOrdering)(k - 1) + 1e-9
          else Double.MaxValue
          val d = Ivf.centroidDistances(q.vec, centroids)
          Ivf.probeOrder(d).iterator.drop(probes)
            .filter(c => radius.get(c).exists(r => d(c) - r <= bound)).map(c => (c, q))
        }
      }.partitionBy(byList),
      k, vecOrd, tNulls, centroids)

    // merge per query; rank by (distance, tieBreak…) ascending, nulls first
    val tieOrds = tieBreak.map(c => tType.fieldIndex(s"t_$c"))
    val ranked = perQuery.cogroup(second, byQuery).mapPartitions { groups =>
      val tie = new InterpretedOrdering(tieOrds.map(i =>
        SortOrder(BoundReference(i, tType(i).dataType, nullable = true), Ascending)))
      val order = new Ordering[Cand] {
        def compare(a: Cand, b: Cand): Int = {
          val c = java.lang.Double.compare(a.distance, b.distance)
          if (c != 0) c else tie.compare(a.row, b.row)
        }
      }
      val project = UnsafeProjection.create(outSchema)
      groups.flatMap { case (_, (states, more)) =>
        states.iterator.flatMap { case (q, cs) =>
          (cs ++ more.flatten).sorted(order).iterator.take(k).zipWithIndex.map { case (c, i) =>
            project(new JoinedRow(new JoinedRow(q.row, c.row),
              new GenericInternalRow(Array[Any](c.distance, i + 1)))).copy(): InternalRow
          }
        }
      }
    }
    org.apache.spark.sql.classic.GraftShim.dataFrame(spark, ranked, outSchema)
  }
}
