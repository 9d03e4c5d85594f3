package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Hnsw, Ivf, IvfPq, Pq}

/** Pins what the index layer's routing, encoding and build calls emit on
  * array<float> input: the output schemas of [[Ivf.routeWithDist]],
  * [[Pq.encodeTable]] and [[IvfPq.build]], and SHA-256 hashes of the PQ
  * codes, the [[Hnsw.build]] rows, the [[Ivf.build]] centroids and the
  * [[Pq.trainOpqRotation]] matrix. All were recorded before those calls
  * moved onto one vector reader and Spark's `array_to_vector`; any change
  * to a column, a bit or a tie-break changes a pin. */
class IndexPinSpec extends SparkSpecBase {

  private val Sf = "/root/testdata/sf0.001"

  private lazy val emb = Tables.read(spark, Sf, "embeddings").cache()

  private def sha256(parts: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def fbits(f: Float): String = Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
  private def dbits(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  /** Each field as name:type:nullable, in order. */
  private def shape(s: StructType): String =
    s.fields.map(f => s"${f.name}:${f.dataType.catalogString}:${f.nullable}").mkString(", ")

  private lazy val ivf = Ivf.build(emb, "embedding", nlists = 8)
  private lazy val codebook = Pq.train(emb, "embedding", m = 8, k = 16)

  test("routing, encoding and IVF-PQ build keep their output schemas") {
    val pq = IvfPq.build(emb, "vec_id", "embedding", nlists = 8, m = 8)
    val got = Seq(
      "input" -> emb,
      "routeWithDist" -> Ivf.routeWithDist(ivf.centroids, emb, "embedding"),
      "routeWith" -> Ivf.routeWith(ivf.centroids, emb, "embedding"),
      // an existing cluster_id is replaced in place
      "routeWithDist over assigned" -> Ivf.routeWithDist(ivf.centroids, ivf.assigned, "embedding"),
      "insert" -> Ivf.insert(ivf, emb.filter(col("vec_id") < 10)).assigned,
      "encodeTable" -> Pq.encodeTable(emb, "embedding", codebook),
      "IvfPq.build assigned" -> pq.ivf.assigned,
      "IvfPq.build encoded" -> pq.encoded,
      "IvfPq.insert encoded" -> IvfPq.insert(pq, emb.filter(col("vec_id") < 10)).encoded
    ).map { case (name, df) => s"$name: ${shape(df.schema)}" }
    val in = "vec_id:bigint:true, embedding:array<float>:true, label:int:true"
    assert(got == Seq(
      s"input: $in",
      s"routeWithDist: $in, cluster_id:int:true, route_dist:double:true",
      s"routeWith: $in, cluster_id:int:true",
      s"routeWithDist over assigned: $in, cluster_id:int:true, route_dist:double:true",
      s"insert: $in, cluster_id:int:true",
      s"encodeTable: $in, pq_codes:binary:true",
      s"IvfPq.build assigned: $in, cluster_id:int:false",
      s"IvfPq.build encoded: $in, cluster_id:int:false, pq_codes:binary:true",
      s"IvfPq.insert encoded: $in, cluster_id:int:true, pq_codes:binary:true"),
      got.mkString("\n", "\n", ""))
  }

  test("routes and PQ codes keep their pinned bits") {
    val routes = Ivf.routeWithDist(ivf.centroids, emb, "embedding")
      .select("vec_id", "cluster_id", "route_dist").collect().sortBy(_.getLong(0))
      .map(r => s"${r.getLong(0)},${r.getInt(1)},${dbits(r.getDouble(2))}")
    val codes = Pq.encodeTable(emb, "embedding", codebook).select("vec_id", "pq_codes")
      .collect().sortBy(_.getLong(0))
      .map(r => s"${r.getLong(0)},${r.getAs[Array[Byte]](1).map(b => f"${b & 0xff}%02x").mkString}")
    val got = sha256(Seq("routes") ++ routes ++ Seq("codes") ++ codes)
    assert(got == "2f5c0fd4357d0565e70da9add399ba79b4153aa52ecfed5aeddb43a4ed4b3f45",
      s"routes and codes hash $got")
  }

  test("Hnsw.build rows keep their pinned bits") {
    val rows = Hnsw.build(emb, "vec_id", "embedding", numShards = 4)
      .select("shard", "id", "vec", "nbrs").collect().sortBy(_.getLong(1))
      .map(r => s"${r.getInt(0)},${r.getLong(1)},${r.getSeq[Float](2).map(fbits).mkString(" ")}," +
        r.getSeq[scala.collection.Seq[Long]](3).map(_.mkString(" ")).mkString("|"))
    val got = sha256(rows)
    assert(got == "5ecefbcbbc9d61a16fb28ce47d7e31d31a4de14396373bb7bffb65a0860fefc3", s"hnsw hash $got")
  }

  test("Ivf.build centroids and assignment and the OPQ rotation keep their pinned bits") {
    val centroids = ivf.centroids.map(_.map(fbits).mkString(" "))
    val assigned = ivf.assigned.select("vec_id", "cluster_id").collect().sortBy(_.getLong(0))
      .map(r => s"${r.getLong(0)},${r.getInt(1)}")
    val rotation = Pq.trainOpqRotation(emb, "embedding").map(_.map(fbits).mkString(" "))
    val got = sha256(Seq("centroids") ++ centroids ++ Seq("assigned") ++ assigned ++
      Seq("rotation") ++ rotation)
    assert(got == "4b3c62fe0680b0875a5cf80b6e5d34f0c0409302b87260731c2279644025af56",
      s"build hash $got")
  }
}
