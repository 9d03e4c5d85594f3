package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, row id), so the same seed gives the same inputs
  * whichever executor computes a row, and the engine only ever sees the
  * generated frames. */
object Gen {

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Counter-based uniform/gaussian source: draw i of key k. */
  final class Rng(key: Long) {
    private var i = 0L
    def nextLong(): Long = { i += 1; mix64(key ^ mix64(i)) }
    def uniform(): Double = ((nextLong() >>> 11).toDouble + 0.5) / (1L << 53).toDouble
    def below(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def gaussian(): Double =
      math.sqrt(-2.0 * math.log(uniform())) * math.cos(2.0 * math.Pi * uniform())
  }

  def rng(seed: Long, stream: Long, id: Long): Rng =
    new Rng(mix64(seed * 0x632be59bd9b4e019L ^ mix64(stream) ^ (id * 0x9e3779b97f4a7c15L)))

  // ---------------- Gaussian-mixture vectors ----------------

  final val Dim = 128
  final val Components = 64
  private final val Spread = 0.35

  private val vocab: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ren", "su", "ta", "vo", "xi", "ze", "pu", "dor", "an")
    Array.tabulate(512)(i => syll(i % 12) + syll((i / 12) % 12) + syll((i / 144) % 12))
  }

  /** Mixture component centres, a pure function of the seed. */
  def centres(seed: Long): Array[Array[Float]] =
    Array.tabulate(Components) { c =>
      val r = rng(seed, 1, c)
      Array.fill(Dim)(r.gaussian().toFloat)
    }

  /** Row `id` of stream `stream`: (component, vector, short text). The
    * text draws most words from the component's own slice of the
    * vocabulary, so lexical and vector similarity agree. */
  def mixtureRow(seed: Long, stream: Long, id: Long,
                 cs: Array[Array[Float]]): (Int, Array[Float], String) = {
    val r = rng(seed, stream, id)
    val c = r.below(Components)
    val base = cs(c)
    val v = Array.tabulate(Dim)(j => (base(j) + Spread * r.gaussian()).toFloat)
    val words = Array.fill(12) {
      if (r.uniform() < 0.7) vocab(c * 8 + r.below(8)) else vocab(r.below(vocab.length))
    }
    (c, v, words.mkString(" "))
  }

  def queryText(c: Int): String = vocab(c * 8) + " " + vocab(c * 8 + 1)

  /** Corpus rows `from until until` of stream `stream` as a frame
    * (id, vec, text), generated on the executors. */
  def mixtureFrame(spark: SparkSession, seed: Long, stream: Long,
                   from: Long, until: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val cs = centres(seed)
    spark.range(from, until, 1, parts).as[Long].mapPartitions { it =>
      it.map { id =>
        val (_, v, t) = mixtureRow(seed, stream, id, cs)
        (id, v, t)
      }
    }.toDF("id", "vec", "text")
  }

  /** Driver-side query vectors held out from the same mixture. */
  def queries(seed: Long, stream: Long, n: Int): Array[(Long, Array[Float], Int)] = {
    val cs = centres(seed)
    Array.tabulate(n) { i =>
      val (c, v, _) = mixtureRow(seed, stream, i.toLong, cs)
      (i.toLong, v, c)
    }
  }

  // ---------------- curation corpus ----------------

  /** The planted structure of a curation corpus, known to the checks. */
  final case class Curated(docs: Array[(Long, String)], evalSet: Array[String],
                           exactGroups: Array[Array[Long]],
                           nearFamilies: Array[Array[Long]],
                           contaminated: Set[Long], boilerplate: Array[String]) {
    /** Every planted near-duplicate pair (a < b). */
    def nearPairs: Array[(Long, Long)] =
      nearFamilies.flatMap(f => f.combinations(2).map(p => (p(0), p(1))))
  }

  /** `n` documents of 40-80 words. Planted: exact-duplicate groups of 3,
    * near-duplicate families of 3 (each member rewrites 5% of the base's
    * words, pairwise shingle Jaccard well above 0.5), boilerplate lines
    * shared by many documents, and 8-gram overlaps with a small eval set. */
  def curated(seed: Long, n: Int): Curated = {
    val r = rng(seed, 7, 0)
    def words(k: Int): Array[String] = Array.fill(k)(vocab(r.below(vocab.length)) + r.below(50))
    val boiler = Array.tabulate(6)(i => s"footer line $i " + words(6).mkString(" "))
    val evalSet = Array.fill(20)(words(30).mkString(" "))
    val docs = new Array[(Long, String)](n)
    val exact = Array.newBuilder[Array[Long]]
    val near = Array.newBuilder[Array[Long]]
    val contam = Set.newBuilder[Long]
    var i = 0
    while (i < n) {
      val kind = if (i + 3 <= n) r.below(20) else 19
      val body = words(40 + r.below(40))
      def withLines(b: Array[String]): String = {
        val lines = b.grouped(12).map(_.mkString(" ")).toArray
        if (r.uniform() < 0.3) (lines :+ boiler(r.below(boiler.length))).mkString("\n")
        else lines.mkString("\n")
      }
      kind match {
        case 0 => // exact-duplicate group of 3
          val t = withLines(body)
          val ids = Array(i.toLong, i + 1L, i + 2L)
          ids.foreach(id => docs(id.toInt) = (id, t))
          exact += ids
          i += 3
        case 1 => // near-duplicate family of 3
          val ids = Array(i.toLong, i + 1L, i + 2L)
          ids.foreach { id =>
            val b = body.clone()
            if (id != ids(0)) {
              var e = 0
              while (e < b.length / 20) { b(r.below(b.length)) = words(1)(0); e += 1 }
            }
            docs(id.toInt) = (id, b.mkString(" "))
          }
          near += ids
          i += 3
        case 2 => // contaminated: carries an 8-gram of an eval document
          val ev = evalSet(r.below(evalSet.length)).split(" ")
          val at = r.below(ev.length - 8)
          docs(i) = (i.toLong, withLines(body ++ ev.slice(at, at + 8)))
          contam += i.toLong
          i += 1
        case _ =>
          docs(i) = (i.toLong, withLines(body))
          i += 1
      }
    }
    Curated(docs, evalSet, exact.result(), near.result(), contam.result(), boiler)
  }

  // ---------------- fingerprint ----------------

  /** Order-independent 64-bit fingerprint folded over row hashes. */
  final class Fingerprint {
    private var acc = 0L
    private var n = 0L
    def add(h: Long): Unit = { acc += mix64(h); n += 1 }
    def addFloats(v: Array[Float]): Unit = {
      var h = 17L; var j = 0
      while (j < v.length) { h = mix64(h ^ java.lang.Float.floatToIntBits(v(j))); j += 1 }
      add(h)
    }
    def addString(s: String): Unit = add(mix64(s.hashCode.toLong ^ s.length))
    def hex: String = f"${mix64(acc ^ n)}%016x"
  }
}
