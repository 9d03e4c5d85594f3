package graft

import org.apache.spark.sql.functions._
import graft.operators.{Augment, Bpe, DataValuation, Dsir, GraphAnalytics,
  LmFilter, Rake, RobustStats, Sampling, Sharding, TextRank, Zorder}

/** The round's operators reject bad dials loudly (never silent
  * garbage): the same fail-fast contract the distance kernels pin. */
class ErrorContractSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = Seq((1L, "alpha beta", 10L)).toDF("id", "text", "w")

  test("samplers reject non-positive k / out-of-range rates") {
    intercept[IllegalArgumentException](
      Sampling.weightedReservoir(docs, "id", "w", k = 0))
    intercept[IllegalArgumentException](
      Sampling.weightedReservoirByGroup(docs, "text", "id", "w", k = 0))
    intercept[IllegalArgumentException](
      Augment.tokenMask(docs, "id", "text", rate = 1.5))
  }

  test("trainers and selectors reject bad dials") {
    intercept[IllegalArgumentException](Bpe.train(docs, "text", numMerges = 0))
    intercept[IllegalArgumentException](Bpe.train(docs, "text", 2, minFreq = 0L))
    intercept[IllegalArgumentException](
      Dsir.select(docs, "id", "text", lit(true), k = 0))
    intercept[IllegalArgumentException](
      Dsir.select(docs, "id", "text", lit(true), k = 5, buckets = 1))
  }

  test("layout operators reject degenerate configs") {
    intercept[IllegalArgumentException](
      Sharding.assignShards(docs, col("w"), col("id"), numShards = 0))
    intercept[IllegalArgumentException](
      Zorder.layoutStats(Seq((1L, 2L), (1L, 3L)).toDF("a", "b"), "a", "b", 22))
    intercept[IllegalArgumentException](
      graft.operators.Dedup.lshPlan(spark, numHashes = 1, targetJaccard = 0.8))
    intercept[IllegalArgumentException](
      graft.operators.Dedup.lshPlan(spark, numHashes = 64, targetJaccard = 1.0))
  }

  test("r10 codecs reject bad dials loudly") {
    val pcm = Array.tabulate[Short](64)(_.toShort)
    intercept[IllegalArgumentException](
      graft.operators.Flac.encodeFlac(pcm, 44100, channels = 0))
    intercept[IllegalArgumentException](
      graft.operators.Flac.encodeFlac(pcm, 44100, 1, blockSize = 4))
    intercept[IllegalArgumentException]( // stereo mode on mono
      graft.operators.Flac.encodeFlac(pcm, 44100, 1, 64, "midside"))
    intercept[IllegalArgumentException](
      graft.operators.Flac.encodeFlac(pcm, 44100, 1, 64, "bogus"))
    intercept[IllegalArgumentException]( // ragged interleave
      graft.operators.Flac.encodeFlac(Array.tabulate[Short](63)(_.toShort), 44100, 2))
    intercept[IllegalArgumentException]( // 4:2:0 needs even dims
      graft.operators.Y4m.encodeY4m(7, 8, Seq.empty))
    intercept[IllegalArgumentException]( // wrong plane sizes
      graft.operators.Y4m.encodeY4m(8, 8, Seq((new Array[Byte](64),
        new Array[Byte](15), new Array[Byte](16)))))
    intercept[IllegalArgumentException]( // ustar name limit
      graft.operators.WebDataset.encodeTar(Seq(
        graft.operators.WebDataset.TarEntry("x" * 101, Array.emptyByteArray))))
    intercept[IllegalArgumentException](
      graft.operators.Dedup.semDedup(
        Seq((1L, Array(1.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding",
        Seq((1L, Array(1.0f))).toDF("cid", "cvec"), "cid", "cvec",
        0.1, maxClusterSize = 1L))
    intercept[IllegalArgumentException](
      graft.operators.Dedup.semDedup(
        Seq((1L, Array(1.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding",
        Seq((1L, Array(1.0f))).toDF("cid", "cvec"), "cid", "cvec",
        0.1, onOversize = "panic"))
  }

  test("phash/vgraph reject malformed inputs") {
    intercept[IllegalArgumentException](
      graft.operators.Multimodal.phash15(Array.fill(63)(0)))
    val g = graft.functions.VectorParsers.parseVGraph("{nodes:2, edges:[[0,1]]}")
    intercept[IllegalArgumentException](graft.functions.VectorParsers.vgraphBfs(g, 5))
  }

  test("gif/flic/unigram/shuffle/mixture reject bad dials loudly") {
    import graft.operators.{EpochShuffle, Flic, Gif, Unigram}
    // GIF: non-power-of-two palette; out-of-range index vs minCodeSize
    intercept[IllegalArgumentException](Gif.encodeGif(Gif.GifImage(
      8, 8, Array.fill(12)(0), Seq(Gif.GifFrame(0, false, new Array[Byte](64))))))
    intercept[IllegalArgumentException](Gif.lzwEncode(Array[Byte](5), minCodeSize = 2))
    // FLIC: odd width (word-oriented deltas), wrong frame size
    intercept[IllegalArgumentException](Flic.encodeFlic(Flic.FlicVideo(
      6, 2, 1, Array.fill(256)(0), Seq(new Array[Byte](11)))))
    // Unigram: maxChars must stay below the 1024 tie-break radix
    intercept[IllegalArgumentException](
      Unigram.segmentStats(docs, "id", "text", maxChars = 1024))
    // EpochShuffle: at least one epoch
    intercept[IllegalArgumentException](
      EpochShuffle.orders(docs.select(col("id")), "id", epochs = 0, seed = 1L))
    // temperatureMixture: positive budget required
    intercept[IllegalArgumentException](
      Sampling.temperatureMixture(docs.withColumn("d", lit("x")), "d", "id", 0L))
  }

  test("valuation / text-graph operators reject degenerate dials") {
    val emb = Seq((1L, Array(0f, 1f), 0)).toDF("vec_id", "embedding", "label")
    intercept[IllegalArgumentException](
      DataValuation.knnShapley(emb, emb, "vec_id", "embedding", "label", k = 0))
    intercept[IllegalArgumentException](
      DataValuation.kcenterCoreset(emb, "vec_id", "embedding", k = 0))
    intercept[IllegalArgumentException](
      DataValuation.facilitySelect(emb, emb, "vec_id", "embedding", k = 0))
    intercept[IllegalArgumentException](
      RobustStats.winsorize(docs, "w", "id", tailPct = 50))
    intercept[IllegalArgumentException](
      Rake.keywords(docs, "id", "text", k = 0))
    intercept[IllegalArgumentException](
      TextRank.keywords(docs, "id", "text", k = 1, iterations = 0))
    intercept[IllegalArgumentException](
      TextRank.summary(docs, "id", "text", k = 0))
    intercept[IllegalArgumentException](
      LmFilter.generate(docs, "text", numSeeds = 0))
    intercept[IllegalArgumentException](
      LmFilter.pmiCollocations(docs, "text", minCount = 0))
    intercept[IllegalArgumentException](
      GraphAnalytics.betweennessBounded(docs.select(col("id").as("src"),
        col("w").as("dst")), Seq.empty, maxDepth = 3))
    intercept[IllegalArgumentException](
      GraphAnalytics.harmonicBounded(docs.select(col("id").as("src"),
        col("w").as("dst")), Seq(1L), maxDepth = 0))
    intercept[IllegalArgumentException](
      GraphAnalytics.katzInt(docs.select(col("id").as("src"),
        col("w").as("dst")), iterations = 0))
    intercept[IllegalArgumentException](
      GraphAnalytics.randomWalks(docs.select(col("id").as("src"),
        col("w").as("dst")), walkLength = 0))
    // modularity of an empty edge set is undefined — refuse loudly
    intercept[IllegalArgumentException](
      GraphAnalytics.modularity(
        docs.select(col("id").as("src"), col("w").as("dst")).limit(0),
        docs.select(col("id"), col("w").as("community")), "id", "community"))
    // ICONDIR count is u16 — 65536 entries must refuse, not truncate
    intercept[IllegalArgumentException](
      graft.operators.Ico.encodeIco(Seq.fill(65536)((4, 4)),
        Seq.fill(65536)(Array[Byte](1))))
  }

  test("distance kernels: a null element is reported before a dimension mismatch") {
    import graft.plans.{DistanceExpressions => DE}
    def messages(body: => Any): Seq[String] = {
      val e = intercept[Exception](body)
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
    }
    // containsNull = true: the per-pair scan runs and the null wins
    val withNull = Seq((Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f), Some(3.0f))))
      .toDF("a", "b")
    for (d <- Seq(DE.l2 _, DE.dot _, DE.cosine _)) {
      val msgs = messages(withNull.select(d($"a", $"b")).collect())
      assert(msgs.exists(_.contains("null element at index 1")), msgs.headOption)
    }
    // containsNull = false on both sides (and a literal with no null):
    // no scan, the dimension check still fires
    val clean = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val msgs = messages(clean.select(DE.l2($"a", lit(Array(1.0f, 2.0f, 3.0f)))).collect())
    assert(msgs.exists(_.contains("vector dimensions must match: 2 vs 3")), msgs.headOption)
    assert(clean.select(DE.l2($"a", $"a")).head().getDouble(0) == 0.0)
  }
}
