package graft

import graft.functions.GraftFunctions

/** The SQL-registration surface: after registerAll, reference function
  * names work in plain spark.sql — the CREATE EXTENSION experience. */
class SqlSurfaceSpec extends SparkSpecBase {

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.registerAll(spark)
    Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
      .createOrReplaceTempView("embeddings_v")
  }

  test("distance + norm functions by reference name") {
    val r = spark.sql(
      """SELECT vector_l2_distance(array(1.0F,2.0F,3.0F), array(4.0F,5.0F,6.0F)) AS l2,
        |       vector_cosine_distance(array(1.0F,2.0F,3.0F), array(4.0F,5.0F,6.0F)) AS cos,
        |       vector_norm(array(3.0F,4.0F)) AS nrm,
        |       vector_dims(array(1.0F,2.0F)) AS d""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 5.196152) < 1e-6)
    assert(math.abs(r.getDouble(1) - 0.025368) < 1e-6)
    assert(r.getDouble(2) == 5.0 && r.getInt(3) == 2)
  }

  test("kNN in pure SQL over a view") {
    val top = spark.sql(
      """SELECT vec_id FROM embeddings_v
        |ORDER BY vector_l2_distance(embedding,
        |  (SELECT first(embedding) FROM embeddings_v WHERE vec_id = 0)), vec_id
        |LIMIT 3""".stripMargin).collect().map(_.getLong(0))
    assert(top.head == 0L)
  }

  test("vector aggregate in SQL") {
    val r = spark.sql(
      "SELECT label, vector_avg(embedding) AS c FROM embeddings_v GROUP BY label")
    assert(r.count() == 10)
    assert(r.head().getSeq[Float](1).length == 64)
  }

  test("embedding, chunking, quantization, text analysis in SQL") {
    val r = spark.sql(
      """SELECT size(embed_text('hello', 'm')) AS edim,
        |       size(chunk_text('abcdefghij', 4, 2)) AS nchunks,
        |       int8_to_vector(vector_to_int8(array(1.0F, -1.0F)))[0] AS deq,
        |       lang_id('the cat and the dog went to the park and it was') AS lang,
        |       ws_token_count('a b c') AS wc,
        |       size(hf_tokenize('tokenizer test')) AS ntok""".stripMargin).head()
    assert(r.getInt(0) == 384 && r.getInt(1) == 5)
    assert(r.getFloat(2) == 1.0f)
    assert(r.getString(3) == "en" && r.getInt(4) == 3 && r.getInt(5) >= 3)
  }

  test("sparse functions in SQL") {
    val r = spark.sql(
      """SELECT sparse_vector_dot_product(5, array(0,2), array(1.0F,2.0F),
        |                                 5, array(2,4), array(3.0F,1.0F)) AS dot""".stripMargin).head()
    assert(r.getDouble(0) == 6.0)
  }

  test("gopher_stats by SQL name") {
    val r = spark.sql(
      "SELECT gopher_stats('the cat and the dog\\n- a bullet') AS g").head()
      .getStruct(0)
    assert(r.getAs[Int]("nWords") == 8)
    assert(r.getAs[Int]("nLines") == 2 && r.getAs[Int]("bulletLines") == 1)
    assert(r.getAs[Int]("nStop") == 2) // 'the', 'and'
  }

  test("vgraph functions by SQL name") {
    val r = spark.sql(
      """SELECT vgraph_bfs('{nodes:4, edges:[[0,1],[1,2],[0,3]]}', 0) AS b,
        |       vgraph_pagerank('{nodes:3, edges:[[0,1],[1,2]]}', 1) AS p,
        |       vgraph_community_detection('{nodes:4, edges:[[0,1],[2,3]]}', 2) AS c
        |""".stripMargin).head()
    assert(r.getSeq[Int](0) == Seq(0, 1, 3, 2))
    assert(r.getSeq[Long](1) == Seq(191666L, 616666L, 191666L))
    assert(r.getSeq[Int](2) == Seq(0, 0, 2, 2))
  }

  test("media codec stats by SQL name") {
    import spark.implicits._
    val warc = graft.operators.Warc.encodeWarcGz(Seq(
      graft.operators.Warc.WarcRecord("response", "<urn:uuid:s1>",
        "http://s.invalid", "hi".getBytes("UTF-8"))))
    // STEREO payload: pins flac_n_frames (per-channel) vs flac_n_samples
    // (interleaved, the repo's audio_n_samples convention) apart
    val flac = graft.operators.Flac.encodeFlac(
      Array.tabulate[Short](200)(i => (i * 7).toShort), 8000, 2)
    Seq((warc, flac)).toDF("w", "f").createOrReplaceTempView("media_v")
    val r = spark.sql(
      """SELECT warc_record_count(w) AS n, flac_n_frames(f) AS fr,
        |       flac_n_samples(f) AS s FROM media_v""".stripMargin).head()
    assert(r.getInt(0) == 1 && r.getLong(1) == 100L && r.getLong(2) == 200L)
  }

  test("gif/flic frame counts and unigram stats by SQL name") {
    import spark.implicits._
    val pal16 = Array.tabulate(16)(k => k * 0x111111)
    val gif = graft.operators.Gif.encodeGif(graft.operators.Gif.GifImage(
      8, 8, pal16, (0 until 3).map(f => graft.operators.Gif.GifFrame(
        f, f % 2 == 0, Array.tabulate[Byte](64)(i => ((i + f) % 16).toByte)))))
    val f0 = Array.tabulate[Byte](64)(i => (i % 16).toByte)
    val f1 = f0.clone(); f1(8) = 3
    val flic = graft.operators.Flic.encodeFlic(graft.operators.Flic.FlicVideo(
      8, 8, 40, Array.tabulate(256)(identity), Seq(f0, f1)))
    val qoi = graft.operators.Qoi.encodeQoi(graft.operators.Qoi.QoiImage(
      4, 4, 4, 0, graft.operators.Qoi.fixturePixels(2L).take(16)))
    val tif = graft.operators.Tiff.encodeTiff(graft.operators.Tiff.TiffImage(
      5, 3, 1, Array.tabulate(15)(_ * 9 % 256)), bigEndian = true)
    val aif = graft.operators.Aiff.encodeAiff(
      graft.operators.Aiff.fixtureSamples(7L, 21, 2), 22050L, 2)
    Seq((gif, flic, "the station", qoi, tif, aif))
      .toDF("g", "fl", "t", "q", "ti", "ai")
      .createOrReplaceTempView("media2_v")
    val r = spark.sql(
      """SELECT gif_n_frames(g) AS gn, flic_n_frames(fl) AS fn,
        |       unigram_stats(t) AS u, qoi_dims(q) AS qd,
        |       qoi_dims(CAST('nope' AS BINARY)) AS qbad,
        |       tiff_dims(ti) AS td, aiff_meta(ai) AS am
        |  FROM media2_v""".stripMargin).head()
    assert(r.getInt(0) == 3 && r.getInt(1) == 2)
    val qd = r.getStruct(3)
    assert(qd.getInt(0) == 4 && qd.getInt(1) == 4 && qd.getInt(2) == 4)
    assert(r.isNullAt(4), "malformed QOI payload must probe as NULL")
    val td = r.getStruct(5)
    assert(td.getInt(0) == 5 && td.getInt(1) == 3 && td.getInt(2) == 1)
    val am = r.getStruct(6)
    assert(am.getInt(0) == 2 && am.getLong(1) == 22050L && am.getLong(2) == 21L)
    val u = r.getStruct(2)
    // "the station" = 11 chars; "the"+" "+"st"+"ation" = 4 tokens
    assert(u.getInt(0) == 11 && u.getLong(1) == 4L)
    val (expScore, expTok) = graft.operators.Unigram.unpack(
      graft.operators.Unigram.viterbiPacked("the station"))
    assert(u.getLong(1) == expTok && u.getLong(2) == expScore)
  }

  test("dedup / layout primitives by SQL name") {
    val r = spark.sql(
      """SELECT simhash64('the quick brown fox') AS sh,
        |       simhash64('fox brown quick the') AS sh2,
        |       size(minhash_signature('one two three four five six', 64)) AS msize,
        |       zorder_key(65535, 0) AS zo,
        |       zorder_key(0, 65535) AS ze""".stripMargin).head()
    assert(r.getLong(0) == r.getLong(1), "simhash is a bag fingerprint")
    assert(r.getInt(2) == 64)
    // a's bits land on odd positions, b's on even
    assert(r.getLong(3) == 0xAAAAAAAAL && r.getLong(4) == 0x55555555L)
  }

  test("STRICT null semantics: NULL vector in -> NULL out across the surface") {
    // the reference declares these functions STRICT; a NULL embedding row
    // must yield NULL, not crash the job
    val r = spark.sql(
      """SELECT vector_l2_distance(CAST(NULL AS array<float>), array(1.0F)) AS d,
        |       vector_normalize(CAST(NULL AS array<float>)) AS nv,
        |       vector_norm(CAST(NULL AS array<float>)) AS nn,
        |       vector_eq(CAST(NULL AS array<float>), array(1.0F)) AS eq,
        |       vector_to_int8(CAST(NULL AS array<float>)) AS q8,
        |       auto_quantize(CAST(NULL AS array<float>), 'int8') AS aq,
        |       binary_hamming_distance(CAST(NULL AS binary), X'00') AS bh""".stripMargin).head()
    (0 to 6).foreach(i => assert(r.isNullAt(i), s"column $i should be NULL"))
  }

  test("null vector ELEMENTS error on both the UDF and the promoted native path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("badvecs").toString
    Seq((Seq(Some(1.0f), None, Some(3.0f)), Seq(Some(1.0f), Some(2.0f), Some(3.0f))))
      .toDF("a", "b").write.mode("overwrite").parquet(dir)
    val bad = spark.read.parquet(dir)
    bad.createOrReplaceTempView("bad_vecs")
    // SQL path (the registered name builds the native expression)
    val sqlDf = spark.sql("SELECT vector_l2_distance(a, b) FROM bad_vecs")
    assert(!sqlDf.queryExecution.optimizedPlan.toString.toLowerCase.contains("scalaudf"))
    val e1 = intercept[Exception](sqlDf.collect())
    // Column API path (native expression directly)
    val e2 = intercept[Exception](
      bad.select(graft.plans.DistanceExpressions.l2($"a", $"b")).collect())
    for (e <- Seq(e1, e2)) {
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("").toLowerCase).toSeq
      assert(msgs.exists(m => m.contains("null element") || m.contains("null value")),
        s"expected a null-element error, got: ${msgs.headOption}")
    }
  }
}
