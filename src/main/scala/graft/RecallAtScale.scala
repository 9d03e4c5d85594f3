package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Evidence artifact: do the ANN tuner bands hold when the corpus grows
 * 10× (and dims grow to a SIFT-shape 128)?
 *
 * The reference reports its recall bands on SIFT-128
 * (`NeuronDB/dataset/gen_dataset.py:522`, tuner band
 * `src/planner.c:220-233`); the sf fixtures are 64-d and small, so this
 * main builds a deterministic 128-d corpus from the sf0.1 embeddings at
 * 1× and 10× (replica + hash-noise expansion — NOT used by any
 * correctness query; fixture tables remain the only query inputs) and
 * runs the same `Ivf.recallCurve` / `Hnsw.recallCurve` / IVFADC ladder
 * plus the `recommendNprobe` / `recommendEf` tuners at both scales.
 * Output: one JSON line per scale, written to RECALL_SCALE.json.
 *
 * Determinism, stated precisely: the CORPUS is reproducible
 * bit-for-bit (splitmix64 noise keyed on (id, replica, dim)), and with
 * it the IVF and HNSW curves (seeded k-means / hash-leveled graphs over
 * fixed inputs). The IVFADC leg trains MLlib k-means sub-quantizers
 * whose float accumulation order follows the partitioning, so its
 * recall entries can shift at the second decimal across different
 * SPARK_GRAFT_CPUS settings — compare ADC numbers only between runs at
 * the same parallelism.
 */
object RecallAtScale {

  import graft.functions.DetRandom.unoise

  /** 128-d expansion: first half = base + small jitter, second half =
    * correlated copy + larger jitter — replicas cluster near their base
    * vector (the near-dup structure ANN serves) without being identical. */
  private val expandUdf = udf((id: Long, r: Int, v: Seq[Float]) => {
    val out = new Array[Float](128)
    val key = id * 1000003L + r * 7919L
    var j = 0
    while (j < 64) {
      out(j) = v(j) + 0.05f * unoise(key + j)
      out(64 + j) = 0.5f * v(j) + 0.2f * unoise(key + 64 + j)
      j += 1
    }
    out.toSeq
  })

  /** Replica slice [from, until): the same deterministic 128-d corpus,
    * addressable by replica range so [[MaintenanceDrift]] can draw
    * "new data" (replicas ≥ scale) from the SAME distribution the base
    * index was built on — insert-drift measured against fresh rebuilds
    * is meaningless if the inserted data is also distribution-shifted. */
  private[graft] def corpusSlice(base: DataFrame, from: Int, until: Int): DataFrame =
    base.select(col("vec_id").cast("long").as("base_id"), col("embedding"))
      .withColumn("r", explode(lit((from until until).toArray)))
      .select((col("base_id") + col("r").cast("long") * 1000000L).as("vec_id"),
        expandUdf(col("base_id"), col("r"), col("embedding")).as("embedding"))

  private def corpusAt(base: DataFrame, scale: Int): DataFrame =
    corpusSlice(base, 0, scale)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = if (args.length > 1) args(1) else "RECALL_SCALE.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Sessions.localMeasurement(cpus)
    import spark.implicits._

    // scales: 1x/10x/100x of the 2k-row sf0.1 base -> n up to 200k at
    // 128-d, the SIFT-100k shape the reference's loader caps at
    // (gen_dataset.py:522). Override via args(2) = "1,10,100".
    val scales = if (args.length > 2) args(2).split(",").map(_.trim.toInt).toSeq
                 else Seq(1, 10, 100)
    val base = Tables.read(spark, sfDir, "embeddings")
    val lines = scales.map { scale =>
      val corpus = corpusAt(base, scale).cache()
      val n = corpus.count()
      // queries = the replica-0 rows of the first 100 base ids (corpus
      // members at both scales, so the two curves answer the same asks).
      // sortBy: collect() returns partition order, and the .take(25)
      // tuner/ADC subsets downstream must not depend on split layout
      val queries = corpus.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)

      val ivf = operators.Ivf.build(corpus, "embedding", nlists = 100)
      ivf.assigned.cache().count()
      val ivfCurve = operators.Ivf.recallCurve(ivf, queries, "vec_id", k = 10,
          nprobes = Seq(1, 2, 4, 8, 10, 12, 16))
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
      val recNprobe = operators.Ivf.recommendNprobe(
        ivf, queries.take(25).map(_._2).toSeq, k = 10, targetRecall = 0.9)

      val hnsw = operators.Hnsw.build(corpus, "vec_id", "embedding",
        numShards = 32).cache()
      hnsw.count()
      val hnswCurve = operators.Hnsw.recallCurve(hnsw, corpus, "vec_id",
          "embedding", queries, k = 10)
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
      val recEf = operators.Hnsw.recommendEf(hnsw, corpus, "vec_id",
        "embedding", queries.take(25), k = 10, targetRecall = 0.9)

      val adc = operators.IvfPq.build(corpus, "vec_id", "embedding",
        nlists = 100, m = 8)
      adc.encoded.cache().count()
      val adcQs = queries.take(25)
      val truth = operators.Knn.exactTopK(corpus, "vec_id", "embedding", adcQs, 10)
      val adcCurve = Seq(4, 8, 12, 16).map { nprobe =>
        val hits = adcQs.map { case (qid, q) =>
          val got = operators.IvfPq.search(adc, q, 10, nprobe, rerankPool = 128)
            .select("vec_id").as[Long].collect().toSet
          (truth(qid).map(_.id).toSet & got).size
        }.sum
        (nprobe, hits.toDouble / (adcQs.length * 10))
      }
      adc.encoded.unpersist(); hnsw.unpersist()
      ivf.assigned.unpersist(); corpus.unpersist()

      def arr(xs: Seq[(Int, Double)]) =
        xs.map { case (p, r) => s"[$p,${functions.DetRandom.fmt(r, 4)}]" }
          .mkString("[", ",", "]")
      s"""{"scale":$scale,"n":$n,"dims":128,"ivf_nlists":100,""" +
        s""""ivf_recall_vs_nprobe":${arr(ivfCurve.toSeq)},""" +
        s""""recommended_nprobe":$recNprobe,""" +
        s""""hnsw_recall_vs_ef":${arr(hnswCurve.toSeq)},""" +
        s""""recommended_ef":$recEf,""" +
        s""""ivfadc_recall_vs_nprobe":${arr(adcCurve)}}"""
    }
    val out = lines.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), out)
    println(out)
    spark.stop()
  }
}
