package graft

import graft.operators.Dedup

/**
 * Span-dedup semantics on hand-built fixtures (the oracle hash-checks
 * the full corpus algebra; this pins the contract points by hand) plus
 * the hashed-key scale-dial parity claim.
 */
class SpanDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val shared = "one two three four five six seven eight"

  test("cuts a shared 8-gram from both docs, keeps unique flanks") {
    val df = Seq(
      (1L, s"alpha $shared omega"),
      (2L, s"beta $shared gamma")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text", n = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("alpha omega", 8L, 10L)))
    assert(out(2L) == (("beta gamma", 8L, 10L)))
  }

  test("overlapping flagged grams cover the union of their spans") {
    // 9 shared tokens -> two overlapping 8-grams in each doc; covered
    // positions are the union (9 tokens), not 16.
    val nine = shared + " nine"
    val df = Seq((1L, s"a $nine"), (2L, s"b $nine")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text", n = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 9L, 2L -> 9L))
  }

  test("a gram repeated within ONE doc is not flagged (distinct-doc count)") {
    val df = Seq(
      (1L, s"$shared and then $shared"),
      (2L, "totally different words here entirely unrelated content")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text", n = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 0L)
  }

  test("tokenless and empty docs come back with empty text, zero counts") {
    val df = Seq((1L, ""), (2L, "!!! ???"), (3L, null: String))
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text").collect()
    assert(out.length == 3)
    assert(out.forall(r => r.getString(1) == "" && r.getLong(2) == 0L && r.getLong(3) == 0L))
  }

  test("a sparse shared span is cut by the coverage join with hashed and string keys") {
    // a corpus with mostly-unique grams and one shared span: the flagged
    // side is sparse against the gram stream
    val docs = (1L to 30L).map { i =>
      if (i <= 2) (i, s"head$i $shared tail$i")
      else (i, (0 until 12).map(j => s"w${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val hashed = Dedup.spanDedup(docs, "doc_id", "text", n = 8, minDocs = 2,
        hashGrams = true)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hashed(1L) == 8L) // the shared span was actually cut
    val strKeys = Dedup.spanDedup(docs, "doc_id", "text", n = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(strKeys(1L) == 8L && strKeys(5L) == 0L)
  }

  test("hashed gram keys (the shuffle-width dial) produce identical output") {
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val a = Dedup.spanDedup(docs, "doc_id", "text", hashGrams = false)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val b = Dedup.spanDedup(docs, "doc_id", "text", hashGrams = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(a.sameElements(b))
  }
}
