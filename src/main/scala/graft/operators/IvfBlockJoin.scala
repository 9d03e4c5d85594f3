package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, GenericInternalRow, InterpretedOrdering, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.VectorOps
import graft.plans.{DistanceExpressions, Metric}

/**
 * The posting-list block scan behind [[Ivf.knnJoin]], [[Ivf.join]] and
 * [[Ivf.radii]]. Index rows and probing rows travel as Spark's binary rows
 * ([[UnsafeRow]]) to the partition of their list, where Spark's spillable
 * co-group meets each list with the rows that probe it; a block holds at
 * most [[BlockRows]] rows of one list with their vectors unpacked once
 * into primitive float arrays. The scan runs a per-(block, row) step: the
 * k-nearest step for `knnJoin`, the within-threshold step for `join`.
 * Each call is one Spark job of shuffle stages, with no query plan to
 * re-plan between them.
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

  /** One probing row: its id (knnJoin's query id, null for join) and
    * its row, every column, the vector among them. */
  final case class Query(id: Any, row: UnsafeRow)

  /** A candidate train row at `distance` from its query. */
  final case class Cand(distance: Double, row: UnsafeRow)

  private final case class Block(list: Int, rows: Array[UnsafeRow], vecs: Array[Array[Float]])

  /** [[DistanceExpressions.reader]] for a `side` input; a null vector fails. */
  private def reader(t: DataType, ord: Int, side: String): InternalRow => Array[Float] = {
    val read = DistanceExpressions.reader(t, ord, side)
    r => Option(read(r)).getOrElse(throw new IllegalArgumentException(s"null $side vector"))
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

  /** The k-nearest step: per (block, query), the query's id and
    * [[scan]]'s candidates, with one heap and one distance buffer per
    * task. */
  private def nearest(k: Int): () => (Block, Query, Array[Float]) => Iterator[(Any, Array[Cand])] =
    () => {
      val heap = new Hnsw.Heap(nearestFirst = false)
      val d = new Array[Double](BlockRows)
      (b, q, v) => Iterator.single((q.id, scan(b, v, k, d, heap)))
    }

  /** Each row keyed by its `n` nearest lists, moved to their scan
    * partitions. */
  private def route(qs: RDD[Query], read: InternalRow => Array[Float],
                    centroids: Array[Array[Float]], n: Int, byList: ListPartitioner): RDD[(Int, Query)] =
    qs.flatMap(q => Ivf.probeOrder(Ivf.centroidDistances(read(q.row), centroids)).take(n)
      .map(c => (c, q))).partitionBy(byList)

  /** Co-groups each partition's lists with the rows that probe them, in
    * Spark's spillable map, and runs `step` once per (block, probing row,
    * its vector); a block holds at most [[BlockRows]] rows of one list,
    * their vectors read out once, and a list no row probes is never read
    * out. `step` is made once per task, so it can hold the task's
    * buffers. */
  private def scanAll[T: ClassTag](index: Index, probing: RDD[(Int, Query)],
      read: InternalRow => Array[Float])(
      step: () => (Block, Query, Array[Float]) => Iterator[T]): RDD[T] = {
    val readIndex = index.read
    index.rows.cogroup(probing).mapPartitions { lists =>
      val run = step()
      lists.flatMap { case (c, (members, qs)) =>
        val ps = qs.iterator.map(q => (q, read(q.row))).toArray
        if (ps.isEmpty) Iterator.empty
        else members.grouped(BlockRows).map(m => Block(c, m.toArray, m.map(readIndex).toArray))
          .flatMap(b => ps.iterator.flatMap { case (q, v) => run(b, q, v) })
      }
    }
  }

  /** Each list's covering radius, max over its rows of d(row, centroid). */
  private def listRadii(index: Index, centroids: Array[Array[Float]]): RDD[(Int, Double)] = {
    val read = index.read
    index.rows.groupByKey().map { case (c, members) =>
      (c, members.iterator.map(r => VectorOps.l2(read(r), centroids(c))).max)
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

  /** The index's rows by list: (list, row of the `prefix`ed index
    * columns), the row type and the reader of the row's vector. */
  private final case class Index(rows: RDD[(Int, UnsafeRow)], rowType: StructType,
                                 read: InternalRow => Array[Float])

  private def indexOf(model: Ivf.IvfModel, prefix: String, byList: ListPartitioner): Index = {
    val train = model.assigned.columns.filter(_ != "cluster_id")
    val tRows = model.assigned.select(col("cluster_id"),
      struct(train.map(c => col(c).as(s"$prefix$c")).toSeq: _*).as("t"))
    val tType = tRows.schema("t").dataType.asInstanceOf[StructType]
    val width = tType.length
    val vecOrd = train.indexOf(model.vecCol)
    Index(tRows.queryExecution.toRdd
        .map(r => (r.getInt(0), r.getStruct(1, width).copy().asInstanceOf[UnsafeRow]))
        .partitionBy(byList),
      tType, reader(tType(vecOrd).dataType, vecOrd, "index"))
  }

  /** Each list's covering radius; 0 for a list with no rows. */
  def radii(model: Ivf.IvfModel): Array[Double] = {
    val parts = model.assigned.sparkSession.sparkContext.defaultParallelism
    val index = indexOf(model, "t_", new ListPartitioner(parts))
    val out = new Array[Double](model.centroids.length)
    listRadii(index, model.centroids).collect().foreach { case (c, r) => out(c) = r }
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

    val index = indexOf(model, "t_", byList)
    val tType = index.rowType

    val (qs, qType, qRead) = queriesOf(queries, qVecCol, Some(qIdCol), "knnJoin query")
    val outSchema = StructType(qType.fields ++ tType.fields ++ Seq(
      StructField("distance", DoubleType, nullable = true),
      StructField("rank", IntegerType, nullable = false)))
    if (k <= 0)
      return GraftShim.dataFrame(spark, spark.sparkContext.emptyRDD[InternalRow], outSchema)

    // pass 1: the nearest `probes` lists of each query
    val first = scanAll(index, route(qs, qRead, centroids, probes, byList), qRead)(nearest(k))

    // every query with its pass-1 candidates, pruned to the k-th distance
    val perQuery: RDD[(Any, (Query, Array[Cand]))] =
      qs.keyBy(_.id).cogroup(first, byQuery).flatMapValues { case (q, cs) =>
        q.headOption.map(_ -> prune(cs.flatten.toArray, k))
      }

    // each list's covering radius, sent to every query partition
    val radii = listRadii(index, centroids).flatMap(cr => (0 until parts).map(p => (p, cr)))
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
          val d = Ivf.centroidDistances(qRead(q.row), centroids)
          Ivf.probeOrder(d).iterator.drop(probes)
            .filter(c => radius.get(c).exists(r => d(c) - r <= bound)).map(c => (c, q))
        }
      }.partitionBy(byList),
      qRead)(nearest(k))

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
    GraftShim.dataFrame(spark, ranked, outSchema)
  }

  /** See [[Ivf.join]]. */
  def join(model: Ivf.IvfModel, other: DataFrame, otherVecCol: String, metric: Metric,
           threshold: Double, nprobe: Int): DataFrame = {
    val byList = new ListPartitioner(other.sparkSession.sparkContext.defaultParallelism)
    // a null index vector never pairs
    val index = indexOf(
      model.copy(assigned = model.assigned.filter(col(model.vecCol).isNotNull)), "l_", byList)
    val (rs, rType, rRead) = queriesOf(other, otherVecCol, None, "other-side")
    val outSchema = StructType((model.assigned.schema("cluster_id") +: index.rowType.fields) ++
      rType.fields.map(f => f.copy(name = s"r_${f.name}")) :+
      StructField("distance", DoubleType, nullable = true))
    val kernel = metric.arrayKernel
    // each pair within the threshold, compared as Spark SQL compares
    // doubles (NaN above everything)
    val pairs = scanAll(index, route(rs, rRead, model.centroids, math.max(1, nprobe), byList),
      rRead) { () =>
      val project = UnsafeProjection.create(outSchema)
      (b, r, v) => b.rows.indices.iterator.flatMap { j =>
        val d = kernel(b.vecs(j), v)
        if (SQLOrderingUtil.compareDoubles(d, threshold) > 0) None
        else Some(project(new JoinedRow(new JoinedRow(InternalRow(b.list), b.rows(j)),
          new JoinedRow(r.row, InternalRow(d)))).copy(): InternalRow)
      }
    }
    GraftShim.dataFrame(other.sparkSession, pairs, outSchema)
  }

  /** `df`'s rows as [[Query]]s, every column in one binary row with the
    * `idCol` value carried (null without one), the row type and the
    * reader of the row's vector. */
  private def queriesOf(df: DataFrame, vecCol: String, idCol: Option[String],
                        side: String): (RDD[Query], StructType, InternalRow => Array[Float]) = {
    val rows = df.select(struct(df.columns.map(col).toSeq: _*).as("q"))
    val rowType = rows.schema("q").dataType.asInstanceOf[StructType]
    val width = rowType.length
    val vecOrd = rowType.fieldIndex(vecCol)
    val read = reader(rowType(vecOrd).dataType, vecOrd, side)
    val id = idCol.map(c => (rowType.fieldIndex(c), rowType(c).dataType))
    (rows.queryExecution.toRdd.map { r =>
      val row = r.getStruct(0, width).copy().asInstanceOf[UnsafeRow]
      Query(id.map { case (o, t) => row.get(o, t) }.orNull, row)
    }, rowType, read)
  }
}
