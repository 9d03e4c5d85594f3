package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Hnsw, Ivf, IvfPq, Knn, Pq}

/**
 * The one vector-read contract ([[graft.plans.DistanceExpressions.reader]])
 * at every task-side entry point of the index layer, over seeded generated
 * vector sets. At each entry point:
 *  - an array of float, double, int or bigint, with or without null
 *    elements in its type, gives exactly the result of the same data cast
 *    to array<float> first;
 *  - a null element fails the query with "null element";
 *  - a non-numeric column fails the call, before anything runs;
 *  - a null vector behaves as the entry point's doc says.
 * Each seed draws one dimension (1, 2, 3, 64 or 130) and a set of rows
 * with integer-grid values and their copies (exact ties), off-grid values
 * that round when cast to float, ±0.0, NaN and ±∞. A failure names the
 * seed and the first row that differs. (Plain seeded loops, as in
 * [[PropertySpec]].)
 */
class VectorReaderSpec extends SparkSpecBase {

  private val Dims = Seq(1, 2, 3, 64, 130)
  private val Rows = 18
  private val Lists = 3

  private val Types: Seq[ArrayType] =
    for (e <- Seq(FloatType, DoubleType, IntegerType, LongType); n <- Seq(false, true))
      yield ArrayType(e, n)

  /** One seed's vectors as doubles, by row kind: grid values, a copy of
    * the row before, off-grid values, ±0.0 and small grid values, a grid
    * row with one NaN or ±∞ element. */
  private def vectors(seed: Int, dim: Int): Array[Array[Double]] = {
    val r = new scala.util.Random(seed)
    def grid() = Array.fill(dim)((r.nextInt(7) - 3).toDouble)
    val out = new Array[Array[Double]](Rows)
    for (i <- 0 until Rows) out(i) = i % 5 match {
      case 0 => grid()
      case 1 => out(i - 1).clone()
      case 2 => Array.fill(dim)(r.nextGaussian() * 10 + 1e-9)
      case 3 => Array.fill(dim)(r.nextInt(4) match {
        case 0 => 0.0
        case 1 => -0.0
        case k => k.toDouble
      })
      case _ =>
        val v = grid()
        v(r.nextInt(dim)) = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)(i / 5 % 3)
        v
    }
    out
  }

  private def element(t: DataType): Double => Any = t match {
    case FloatType => _.toFloat
    case DoubleType => d => d
    case IntegerType => _.toInt
    case LongType => _.toLong
  }

  private val schemaOf = (t: DataType) => StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("vec", t, nullable = true)))

  /** `data` as (id, vec) rows of vector type `t`, id i for row i; `edit`
    * may change a row's vector. */
  private def frame(data: Array[Array[Double]], t: ArrayType)(
      edit: (Int, Seq[Any]) => Seq[Any] = (_, v) => v): DataFrame = {
    val rows = data.indices.map(i => Row(i.toLong, edit(i, data(i).map(element(t.elementType)).toSeq)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schemaOf(t))
  }

  /** A frame's rows as sorted strings: every numeric array column cast to
    * array<float>, floats and doubles by their bits. */
  private def rendered(df: DataFrame): Seq[String] = {
    val asFloats = df.select(df.schema.fields.toSeq.map {
      case StructField(n, ArrayType(_: NumericType, _), _, _) => col(n).cast("array<float>").as(n)
      case f => col(f.name)
    }: _*)
    asFloats.collect().map(show).toSeq.sorted
  }

  private def show(v: Any): String = v match {
    case null => "N"
    case f: Float => Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", " ", "]")
    case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
    case x => x.toString
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq

  /** Fails with the seed and the first row where `got` and `want` differ. */
  private def same(got: Seq[String], want: Seq[String], where: => String): Unit =
    if (got != want) {
      val i = got.zipAll(want, "<none>", "<none>").indexWhere { case (a, b) => a != b }
      fail(s"$where: ${got.size} rows vs ${want.size}; first difference at row $i:\n" +
        s"  got  ${got.lift(i).getOrElse("<none>")}\n  want ${want.lift(i).getOrElse("<none>")}")
    }

  private def failsWith(text: String, where: => String)(body: => Any): Unit = {
    val msgs = try { body; Nil } catch { case e: Exception => messages(e) }
    if (!msgs.exists(_.contains(text)))
      fail(s"$where: expected a failure with '$text', got " +
        (if (msgs.isEmpty) "none" else msgs.mkString(" / ")))
  }

  /** One entry point: the frame it returns for (id, vec) rows `d`, and its
    * null-vector rule, given `d` with a null vector at row `NullRow` and
    * the same rows without it. */
  private case class Entry(name: String, run: DataFrame => DataFrame,
                           nullVector: (DataFrame, DataFrame) => Unit)

  private val NullRow = 6

  /** The entry points over one seed's float rows `base`. */
  private def entries(seed: Int, base: DataFrame, dim: Int): Seq[Entry] = {
    val floats = base.orderBy("id").select("vec").collect().map(_.getSeq[Float](0).toArray)
    val centroids = floats.take(Lists)
    def model(d: DataFrame) =
      Ivf.IvfModel(centroids, d.withColumn("cluster_id", (col("id") % Lists).cast("int")), "vec")
    val threshold = 2.0 * math.sqrt(dim)
    def join(index: DataFrame, other: DataFrame) =
      Ivf.join(model(index), other, "vec", "l2", threshold, nprobe = Lists)
    def knnJoin(index: DataFrame, qs: DataFrame) =
      Ivf.knnJoin(model(index), qs.select(col("id").as("qid"), col("vec").as("qvec")),
        "qvec", "qid", 3, tieBreak = Seq("id"))
    val queries = Array(0, 2, 3, 4).map(i => (i.toLong, floats(i)))
    val fresh = (d: DataFrame) => d.withColumn("id", col("id") + 1000L)
    val half = base.filter(col("id") < Rows / 2)
    val hnswBase = Hnsw.build(half, "id", "vec", numShards = 2)
    val ivfBase = model(half)
    val m = Seq(10, 8, 3, 2, 1).find(dim % _ == 0).get
    val codebook = Pq.codebookFrom(floats.take(4), m)
    val pqBase = IvfPq.IvfPqModel(ivfBase, codebook,
      Pq.encodeTable(ivfBase.assigned, "vec", codebook), "id")
    def failsOnNull(text: String)(run: DataFrame => DataFrame): (DataFrame, DataFrame) => Unit =
      (withNull, _) => failsWith(text, s"seed $seed null vector")(run(withNull).collect())
    def dropsNull(run: DataFrame => DataFrame): (DataFrame, DataFrame) => Unit =
      (withNull, without) => same(rendered(run(withNull)), rendered(run(without)),
        s"seed $seed null vector")
    Seq(
      Entry("Ivf.join index side", join(_, base),
        // a null index vector never pairs
        dropsNull(join(_, base))),
      Entry("Ivf.join other side", join(base, _),
        failsOnNull("null other-side vector")(join(base, _))),
      Entry("Ivf.join both sides", d => join(d, d), failsOnNull("null")(d => join(d, d))),
      Entry("Ivf.knnJoin", d => knnJoin(d, d),
        failsOnNull("null knnJoin query vector")(knnJoin(base, _))),
      Entry("Ivf.recallCurve", d => Ivf.recallCurve(model(d), queries, "id", k = 3,
          nprobes = 1 to Lists, excludeSelf = false),
        // exactTopK ranks a null vector after every distance
        (withNull, _) => Knn.exactTopK(withNull, "id", "vec", queries, Rows).values
          .foreach(ns => assert(ns.last.id == NullRow && ns.last.distance.isEmpty &&
            ns.init.forall(_.distance.nonEmpty), s"seed $seed null vector: $ns"))),
      Entry("Hnsw.build", Hnsw.build(_, "id", "vec", numShards = 2),
        failsOnNull("null id or vec in the rows to index")(Hnsw.build(_, "id", "vec", numShards = 2))),
      Entry("Hnsw.insert", d => Hnsw.insert(hnswBase, fresh(d), "id", "vec", numShards = 2),
        failsOnNull("null id or vec in the rows to index")(d =>
          Hnsw.insert(hnswBase, fresh(d), "id", "vec", numShards = 2))),
      Entry("Ivf.routeWithDist", Ivf.routeWithDist(centroids, _, "vec"),
        failsOnNull("null routed vector")(Ivf.routeWithDist(centroids, _, "vec"))),
      Entry("Ivf.insert", d => Ivf.insert(ivfBase, fresh(d)).assigned,
        failsOnNull("null routed vector")(d => Ivf.insert(ivfBase, fresh(d)).assigned)),
      Entry("Pq.encodeTable", Pq.encodeTable(_, "vec", codebook),
        // a null vector gets null codes; the other rows keep theirs
        (withNull, without) => {
          val codes = (d: DataFrame) => Pq.encodeTable(d, "vec", codebook)
            .select(col("id"), col("pq_codes")).collect().map(r => r.getLong(0) -> show(r.get(1))).toMap
          same(codes(withNull).toSeq.sorted.map(_.toString),
            codes(without).updated(NullRow.toLong, "N").toSeq.sorted.map(_.toString),
            s"seed $seed null vector")
        }),
      Entry("IvfPq.insert", d => IvfPq.insert(pqBase, fresh(d)).encoded,
        failsOnNull("null routed vector")(d => IvfPq.insert(pqBase, fresh(d)).encoded)))
  }

  test("every index entry point reads a vector column by the one contract") {
    for ((dim, i) <- Dims.zipWithIndex) {
      val seed = 0x5EED + i
      val data = vectors(seed, dim)
      val base = frame(data, ArrayType(FloatType, containsNull = false))()
      for (e <- entries(seed, base, dim)) {
        val where = s"seed $seed, dim $dim, ${e.name}"
        // the data cast to array<float> first, once per element type
        val want = Types.map(_.elementType).distinct.map { el =>
          val typed = frame(data, ArrayType(el, containsNull = false))()
          el -> rendered(e.run(typed.withColumn("vec", col("vec").cast("array<float>"))))
        }.toMap
        for (t <- Types) {
          same(rendered(e.run(frame(data, t)())), want(t.elementType), s"$where, ${t.catalogString}")
          if (t.containsNull) {
            val nulled = frame(data, t)((row, v) => if (row == 2) null +: v.tail else v)
            failsWith("null element", s"$where, ${t.catalogString} null element")(
              e.run(nulled).collect())
          }
        }
        val t = Types(i * 3 % Types.size)
        e.nullVector(frame(data, t)((row, v) => if (row == NullRow) null else v),
          frame(data, t)().filter(col("id") =!= NullRow))
        val strings = base.withColumn("vec", col("vec").cast("array<string>"))
        failsWith("must be a numeric array", s"$where, array<string>")(e.run(strings))
      }
    }
  }
}
