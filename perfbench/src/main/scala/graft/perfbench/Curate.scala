package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Embeddings
import graft.operators.{Dedup, Ivf}

/**
 * The curation pipeline, a layer probe of the traced `knn_batch` run: one
 * pass over a generated corpus with planted exact-duplicate groups,
 * near-duplicate families, boilerplate lines and eval-set 8-grams, through
 * fingerprint dedup, MinHash-LSH pairs, duplicate groups, line dedup,
 * decontamination, embedding and semantic dedup (its centroids from
 * `Ivf.build`, i.e. MLlib KMeans). Each stage's output is pinned, as a
 * pipeline materialises its stages. The work is shuffles and aggregates;
 * the vector kernel runs only in semDedup. Every planted structure is
 * checked, and a failed check fails the run like any other.
 */
final class Curate(ctx: Ctx) {
  import Curate._
  private val spark = ctx.spark
  import spark.implicits._

  /** One pass; returns its per-layer figures. */
  def run(): Seq[(String, Double, String)] = {
    val (corpus, fp) = inputs(ctx.seed)
    println(s"perfbench: curate seed=${ctx.seed} inputs=$fp")
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    val docs = ctx.pin(spark.sparkContext.parallelize(corpus.docs.toSeq, Parts).toDF("id", "text"))
    val evalSet = ctx.pin(corpus.evalSet.toSeq.toDF("text"))
    val out = ctx.op("curate") {
      val pinned = scala.collection.mutable.ArrayBuffer[DataFrame]()
      def keep(df: DataFrame): DataFrame = { val p = ctx.pin(df); pinned += p; p }
      val t0 = System.nanoTime()
      val unique = ctx.call("Dedup.fingerprintDedup")(
        keep(Dedup.fingerprintDedup(docs, "id", "text")))
      val pairs = ctx.call("Dedup.minhashLshPairs")(
        keep(Dedup.minhashLshPairs(unique, "id", "text")))
      val groups = ctx.call("Dedup.dupGroups")(keep(Dedup.dupGroups(unique, "id", pairs)))
      val kept = unique.join(groups.filter(col("id") === col("component")).select("id"), "id")
      val cleaned = ctx.call("Dedup.lineDedup")(keep(Dedup.lineDedup(kept, "id", "text", MinDocs)))
      val flags = ctx.call("Dedup.decontaminate")(keep(Dedup.decontaminate(
        cleaned.select(col("id"), col("clean_text").as("text")), evalSet, "id", "text", 8)))
      val clean = cleaned.join(flags.filter(!col("contaminated")).select("id"), "id")
      val e0 = System.nanoTime()
      val (emb, embN) = ctx.call("Embeddings.embed_text")(ctx.pinCount(clean.select(col("id"),
        Embeddings.embed_text(col("clean_text"), lit(Model)).as("emb"))))
      pinned += emb
      val embedS = (System.nanoTime() - e0) / 1e9
      val centroids = ctx.call("Ivf.build.semdedup")(
        Ivf.build(emb, "emb", SemLists, ctx.seed, SemIter))
        .centroids.zipWithIndex.map { case (c, k) => (k.toLong, c) }.toSeq.toDF("cid", "cvec")
      val keepers = ctx.call("Dedup.semDedup")(Dedup.semDedup(emb, "id", "emb", centroids,
        "cid", "cvec", SemEps).filter(col("keeper")).select("id").as[Long].collect())
      val passS = (System.nanoTime() - t0) / 1e9

      // checks against the planted structure
      val pairSet = pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val lines = cleaned.select("id", "removed_lines").as[(Long, Long)].collect()
      val flagged = flags.filter(col("contaminated")).select("id").as[Long].collect().toSet
      pinned.foreach(_.unpersist())
      val survivors = keepers.toSet
      corpus.exactGroups.foreach { g =>
        ctx.expect(g.count(survivors) == 1,
          s"exact-duplicate group ${g.mkString(",")} keeps ${g.count(survivors)}")
      }
      corpus.nearFamilies.foreach { fam =>
        ctx.expect(fam.count(survivors) == 1,
          s"near-duplicate family ${fam.mkString(",")} keeps ${fam.count(survivors)}")
      }
      // lineDedup's rule on the driver: a line in >= MinDocs kept documents goes
      val keptIds = lines.map(_._1).toSet
      val keptLines = corpus.docs.filter(d => keptIds(d._1)).map(_._2.split("\n"))
      val freq = keptLines.flatMap(_.distinct).groupBy(identity)
        .map { case (l, ls) => l -> ls.length }
      val wantRemoved = keptLines.map(_.count(l => freq(l) >= MinDocs)).sum.toLong
      ctx.expect(lines.map(_._2).sum == wantRemoved,
        s"lineDedup removed ${lines.map(_._2).sum} lines, want $wantRemoved")
      ctx.expect(flagged == corpus.contaminated.filter(keptIds),
        s"decontaminate flagged ${flagged.size}, want ${corpus.contaminated.count(keptIds)}")
      ctx.expect(keepers.length.toLong == embN,
        s"semDedup kept ${keepers.length} of $embN documents with distinct embeddings")
      Seq(("curate.docs_per_s", corpus.docs.length / passS, "docs/s"),
        ("curate.dup_recall",
          corpus.nearPairs.count(pairSet).toDouble / corpus.nearPairs.length, "ratio"),
        ("dedup.lsh_pairs", pairSet.size.toDouble, "count"),
        ("embed.rows_per_s", embN / embedS, "rows/s"))
    }
    docs.unpersist(); evalSet.unpersist()
    // RDDs the pass left persisted after every frame it pinned was released
    out.getOrElse(Nil) :+ ("curate.persisted_rdds_delta",
      (spark.sparkContext.getPersistentRDDs.size - persisted0).toDouble, "count")
  }
}

object Curate {
  /** The planted corpus and its fingerprint. */
  def inputs(seed: Long): (Gen.Curated, String) = {
    val c = Gen.curated(seed, NDocs)
    val f = new Gen.Fingerprint
    c.docs.foreach { case (id, t) => f.add(id); f.addString(t) }
    c.evalSet.foreach(f.addString)
    (c, f.hex)
  }

  final val NDocs = 3000
  final val Parts = 4
  final val MinDocs = 20L
  final val Model = "perfbench"
  final val SemLists = 16
  final val SemIter = 3
  final val SemEps = 0.05
}
