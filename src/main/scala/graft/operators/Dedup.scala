package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.DetRandom.mix64

/**
 * Deduplication for training-data pipelines (BASELINE north star; not in
 * the reference's SQL surface but a first-class operator here):
 *
 *  - exact: hash-groupBy — one shuffle on the text hash, keeps min id;
 *  - MinHash + LSH: shingle → k-minhash signature → band buckets →
 *    candidates only within buckets → exact Jaccard verify. Pair
 *    generation is bounded by bucket sizes, never |D|²;
 *  - SimHash: 64-bit weighted token fingerprint; near-dups = small
 *    Hamming distance, banded on 16-bit chunks for candidate pruning;
 *  - n-gram Jaccard: exact set overlap of word n-grams;
 *  - embedding cosine: near-dup pairs under a cosine-distance threshold
 *    (broadcast for small sides, [[Ivf.join]] blocking at scale).
 *
 * All hash families are seeded constants — same input ⇒ same pairs.
 */
object Dedup {

  // ---------------- exact ----------------

  /** Exact duplicate groups; `keeper` is the smallest id in each group. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper"))
      .filter(col("n_dups") > 1)

  /** Drop all but the smallest-id row of each exact-duplicate group. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col(textCol)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Scale path for exact dedup: shuffle the 8-byte xxhash64 of the text
    * instead of the text itself. Collision probability ~2^-64 per pair —
    * the standard large-corpus trade; use [[exactDedup]] when the shuffle
    * can afford full payloads. */
  def fingerprintDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Containment (asymmetric Jaccard) pairs — the sub-document dup
    * detector symmetric Jaccard misses: |grams(A) ∩ grams(B)| / |grams(A)|
    * is ~1.0 when a short document is quoted wholesale inside a longer
    * one even though their symmetric Jaccard is low. Emits every pair
    * whose larger-direction containment clears `threshold`, with the
    * exact intersection and both gram counts.
    *
    * 100 TB shape: distinct word n-grams per doc (one explode), then an
    * equi-join on the gram key — output-bound like every pair op here,
    * with the blowup capped by the `maxDf` dial: grams appearing in more
    * than `maxDf` docs (boilerplate phrases — exactly the grams that
    * carry no containment signal) are dropped before the join, bounding
    * per-gram fanout at df² ≤ maxDf·df. `hashGrams = true` is the
    * petabyte dial (8-byte keys instead of gram strings, the
    * [[fingerprintDedup]] collision trade). Ratios are exact-int
    * divisions, so a SQL oracle replays them bit-for-bit. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, maxDf: Int = 50, threshold: Double = 0.8,
                       hashGrams: Boolean = false): DataFrame = {
    require(maxDf >= 2, s"maxDf < 2 drops every shareable gram: $maxDf")
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    def gramKey(c: Column): Column = if (hashGrams) xxhash64(c) else c
    val grams = df.select(col(idCol).as("id"),
        explode(wordNgrams(col(textCol), n)).as("g"))
      .select(col("id"), gramKey(col("g")).as("gram")) // distinct per doc
    val rare = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("gram")
    val capped = grams.join(rare, "gram")
    // sizes measured in the SAME capped universe as the intersection —
    // if A's grams are a subset of B's, containment stays exactly 1.0 no
    // matter which boilerplate grams the cap removed (the cap is a global
    // gram property, so it removes them from both sides consistently)
    val sizes = capped.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val inter = capped.as("l").join(capped.as("r"),
        col("l.gram") === col("r.gram") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a_id"), col("r.id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("a_id"), col("n_grams").as("a_grams")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("n_grams").as("b_grams")), "b_id")
      .withColumn("containment",
        greatest(col("inter") / col("a_grams"), col("inter") / col("b_grams")))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter"),
        col("a_grams"), col("b_grams"), col("containment"))
  }

  /** URL canonicalization (Column-native, zero UDF) — the crawl-dedup
    * key CommonCrawl-style pipelines shuffle on: lowercase scheme and
    * host, strip the scheme's default port (`:443`/`:80`), drop the
    * fragment, collapse duplicate path slashes, strip one trailing
    * slash (a bare `/` survives), remove tracking query params
    * (`utm_*`, `fbclid`, `gclid`) and byte-sort the survivors so param
    * order stops mattering. All regexp/collection builtins, so the
    * whole key derivation stays inside whole-stage codegen and a SQL
    * oracle states the identical transform.
    *
    * Malformed / scheme-less URLs (no `scheme://` prefix, so the
    * SCHEME extraction yields the empty string) fall back to the RAW
    * url as their key: real crawl data contains such rows routinely,
    * and canonicalizing them all to an empty-scheme key would merge
    * unrelated rows into one group — a keeper-only downstream would
    * then drop all but one of them. Well-formed EMPTY-AUTHORITY urls
    * (`file:///path`) keep full canonicalization — the scheme is
    * present, so slash-collapse/fragment/param folds still apply.
    * Reference surface: the crawl-ingest URL normalization feeding
    * `NeuronDB`'s document dedup (same canonical-key-then-group shape
    * as [[exactGroups]]). */
  def urlCanonical(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]*)", 1))
    val host = when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .otherwise(hostPort)
    val collapsed = regexp_replace(
      regexp_extract(noFrag, "^[^:/?#]+://[^/?#]*([^?#]*)", 1), "/{2,}", "/")
    val path = when(collapsed =!= "/", regexp_replace(collapsed, "/$", ""))
      .otherwise(collapsed)
    val kept = array_join(array_sort(filter(
      split(regexp_extract(noFrag, "\\?([^#]*)", 1), "&"),
      p => !(p.rlike("^(utm_[^=]*|fbclid|gclid)=") || p === ""))), "&")
    when(scheme === "", url).otherwise(
      concat(scheme, lit("://"), host, path,
        when(kept =!= "", concat(lit("?"), kept)).otherwise(lit(""))))
  }

  /** Group a corpus by canonical URL: one shuffle on the canonical key,
    * emitting the keeper (smallest id) and the variant count per key —
    * the crawl-side sibling of [[exactGroups]]' content dedup. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol).as("id"), urlCanonical(col(urlCol)).as("canon_url"))
      .groupBy("canon_url")
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_variants"))

  // ---------------- benchmark decontamination ----------------

  /** Distinct word n-grams of a text column. Explicit [ \t\n\r]
    * charset, matching [[graft.functions.TextAnalysis]]'s
    * oracle-identical tokenization; first-occurrence order.
    *
    * Deliberately a tight UDF, NOT native collection functions: the
    * "functions, not UDFs" rule inverts for nested collection lambdas.
    * The native formulation — `transform(sequence(...), i ->
    * concat_ws(' ', slice(ws, i, n)))` + `array_distinct` — allocates a
    * slice copy and an UTF8String build per gram and pays
    * `array_distinct`'s O(g²) string compares inside codegen; measured
    * 3.4 s warm for one explode over 5k docs at sf0.1 vs 0.21 s for
    * this loop — 16×. The UDF boundary cost is noise next to that. */
  def wordNgrams(textCol: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be positive, got $n")
    val f = udf((text: String) => {
      if (text == null) Array.empty[String]
      else {
        val ws = text.split("[ \t\n\r]+").filter(_.nonEmpty)
        if (ws.length < n) Array.empty[String]
        else {
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i + n <= ws.length) {
            val sb = new java.lang.StringBuilder()
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(ws(i + j)); j += 1
            }
            seen.add(sb.toString); i += 1
          }
          seen.toArray(new Array[String](seen.size))
        }
      }
    })
    f(textCol)
  }

  /** Eval-set decontamination — the GPT-3/PaLM-style contamination check
    * training pipelines run before a data release: flag every document
    * sharing at least one word n-gram with a benchmark corpus. Shape for
    * 100 TB: the benchmark side is SMALL by construction (eval suites,
    * not training data), so its distinct grams broadcast and the check
    * is a map-side join over the exploded corpus grams — no corpus
    * shuffle at all until the tiny per-doc count reduce. Joins on the
    * gram string by default; `hashGrams = true` is the petabyte dial —
    * both sides join on the 8-byte xxhash64 of the gram instead, the
    * [[fingerprintDedup]] collision trade (~2⁻⁶⁴ per gram pair), which
    * shrinks the broadcast and the exploded corpus column from gram
    * strings to longs. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int = 8,
                    hashGrams: Boolean = false): DataFrame = {
    // generators must be top-level in a projection: explode first, hash after
    def gramKey(c: Column): Column = if (hashGrams) xxhash64(c) else c
    val dg = docs.select(col(idCol), explode(wordNgrams(col(textCol), n)).as("g"))
      .select(col(idCol), gramKey(col("g")).as("gram"))
    val bg = benchmark.select(explode(wordNgrams(col(textCol), n)).as("g"))
      .select(gramKey(col("g")).as("gram"))
      .distinct()
    val m = dg.join(broadcast(bg), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("matched_ngrams")) // grams are distinct per doc
    docs.select(col(idCol))
      .join(m, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("matched_ngrams"), lit(0L)).as("matched_ngrams"),
        (coalesce(col("matched_ngrams"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bloom-prefiltered decontamination — identical OUTPUT to
    * [[decontaminate]], different 100 TB shape: instead of broadcasting
    * the benchmark gram SET, broadcast a bounded-size Bloom filter of it
    * (~1.2 MB per million grams at 1% fpp regardless of gram length),
    * drop the overwhelming majority of corpus grams at the scan, and run
    * the exact verify join on the tiny survivor stream as a SHUFFLE join
    * (survivors ≈ true matches + fpp·|grams| — small by construction, so
    * the shuffle is cheap and the benchmark side never needs to fit in
    * driver/executor memory as a set). The verify join removes the
    * bloom's false positives, so the result is exact — this query shares
    * `decontaminate`'s oracle verbatim. Spark's BloomFilter is
    * deterministic (fixed murmur seed, order-independent bit-OR puts). */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, n: Int = 8,
                         fpp: Double = 0.01): DataFrame = {
    val dg = docs.select(col(idCol), explode(wordNgrams(col(textCol), n)).as("gram"))
    val bg = benchmark.select(explode(wordNgrams(col(textCol), n)).as("gram"))
      .distinct()
    val expected = math.max(bg.count(), 1L)
    val bloom = bg.stat.bloomFilter("gram", expected, fpp)
    val bloomB = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightUdf = udf((g: String) => bloomB.value.mightContainString(g))
    val m = dg.filter(mightUdf(col("gram")))
      .join(bg, "gram") // exact verify on survivors only — no broadcast
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("matched_ngrams"))
    docs.select(col(idCol))
      .join(m, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("matched_ngrams"), lit(0L)).as("matched_ngrams"),
        (coalesce(col("matched_ngrams"), lit(0L)) > 0).as("contaminated"))
  }

  /** SEMANTIC decontamination — the embedding-space sibling of
    * [[decontaminate]]: an eval item paraphrased beyond n-gram reach
    * still lands nearby in embedding space, so flag every corpus item
    * whose max cosine similarity to ANY eval embedding reaches `tau`
    * (and report which eval item, smallest-id tiebreak).
    *
    * Scale shape: eval sets are small BY DEFINITION (thousands of
    * rows) — broadcast the eval side, stream the corpus through a
    * broadcast join (corpus never shuffles for the comparison), then
    * ONE groupBy on the corpus id whose map-side partial max collapses
    * the |eval| sims per row before the exchange. The cosine is the
    * codegen'd Catalyst expression, not a UDF. */
  def semanticDecontam(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                       vecCol: String, tau: Double): DataFrame = {
    val e = broadcast(evalSet.select(col(idCol).as("__eval_id"),
      col(vecCol).as("__eval_vec")))
    // LEFT cross join: an empty eval set must yield every corpus row
    // marked clean (null sim/nearest), not an empty report
    corpus.select(col(idCol), col(vecCol)).join(e, lit(true), "left")
      .withColumn("__sim",
        when(col("__eval_vec").isNotNull,
          lit(1.0) - Knn.distCol("cosine")(col(vecCol), col("__eval_vec"))))
      .groupBy(col(idCol))
      .agg(max(struct(col("__sim").as("s"), (-col("__eval_id")).as("nid")))
        .as("m"))
      .select(col(idCol), round(col("m.s"), 6).as("max_sim"),
        (-col("m.nid")).as("nearest_eval"),
        coalesce(col("m.s") >= tau, lit(false)).as("contaminated"))
  }

  /** Corpus-level boilerplate line removal (the RefinedWeb / C4 line
    * dedup rule): a line whose EXACT text appears in ≥ `minDocs`
    * distinct documents is boilerplate (nav bars, cookie banners,
    * footers); emit each document's cleaned text (surviving lines
    * re-joined in original order) plus removal accounting.
    *
    * Scale shape: explode to (doc, idx, line), one groupBy on the line
    * key for distinct-doc frequency, join back on the same key (the
    * shuffle is co-partitioned with the groupBy), rebuild per doc. Line
    * frequency is corpus-global — exactly the signal a per-partition
    * pass cannot see — and the only wide state is the per-line count. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    // r15 (guide §2.3, the spanDedup rebuild device): the line FREQUENCY
    // pass needs the exploded stream, but the rebuild doesn't — only the
    // per-doc BOILER line indexes aggregate (small), and each doc
    // re-assembles from its split-line array with order-preserving
    // array_except instead of shuffling every line row into a
    // collect_list + array_sort. Output identical (same surviving lines
    // in position order; removed = boiler occurrences; total = lines;
    // docs with NULL text still produce no row — the posexplode
    // semantics the old shape had).
    val ls = df.select(col(idCol), split(col(textCol), "\n").as("__ls"))
      .filter(col("__ls").isNotNull)
    val lines = ls.select(col(idCol), posexplode(col("__ls")).as(Seq("idx", "line")))
    val flagged = lines.groupBy("line")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("line")
    val boilerIdx = lines.join(flagged, "line")
      .groupBy(col(idCol)).agg(collect_list(col("idx")).as("__bi"))
    ls.join(boilerIdx, Seq(idCol), "left")
      .select(col(idCol),
        // the separator is a Scala-level literal, NOT a parsed '\n'
        // inside expr(): with spark.sql.parser.escapedStringLiterals
        // flipped the parsed form becomes a literal backslash-n and
        // silently diverges (ADVICE r15)
        concat_ws("\n", expr("""transform(
                  array_except(sequence(0, size(__ls) - 1), coalesce(__bi, array())),
                  i -> element_at(__ls, i + 1))""")).as("clean_text"),
        expr("CAST(coalesce(size(__bi), 0) AS BIGINT)").as("removed_lines"),
        expr("CAST(size(__ls) AS BIGINT)").as("total_lines"))
  }

  // ---------------- shingles / minhash ----------------

  def wordShingles(text: String, n: Int = 3): Set[String] = {
    val toks = TextFunctions.tokenize(text)
    if (toks.size < n) toks.toSet
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  @inline private def djb2(s: String): Int = {
    var h = 5381
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) { h = ((h << 5) + h) ^ (bytes(i) & 0xFF); i += 1 }
    h
  }

  /** Sorted distinct djb2 hashes of a doc's word shingles. This is the
    * single tokenization pass per document: both the minhash signature and
    * the exact-Jaccard verify run off this array, so candidate
    * verification never re-shingles text (a doc in k buckets would
    * otherwise be re-tokenized O(candidate-degree) times). Within-doc
    * djb2-32 collisions merge shingles with probability ~|S|²/2³³ — the
    * standard fingerprint trade, same as [[fingerprintDedup]]. */
  def shingleHashes(text: String, n: Int = 3): Array[Long] =
    sortedDistinct(wordShingles(text, n).iterator
      .map(s => djb2(s).toLong & 0xFFFFFFFFL).toArray)

  /** Sort + distinct-in-place (hash collisions only) — the one
    * compaction both shingle fingerprints share. */
  private def sortedDistinct(hs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(hs)
    var w = 0
    var i = 0
    while (i < hs.length) {
      if (w == 0 || hs(w - 1) != hs(i)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w)
  }

  def minhashSignatureFromHashes(hashes: Array[Long], numHashes: Int = 128,
                                 seed: Long = 42L): Array[Long] = {
    // UNSIGNED per-hash min: the SQL oracle's `min(z)` runs on the
    // HUGEINT-folded [0, 2⁶⁴) domain, so a signed `<` here would pick a
    // different shingle whenever the band's minimum hash has the top bit
    // set — the two engines would then band DIFFERENT slices and the
    // candidate sets could silently diverge on organic (non-identical)
    // near-dup pairs. Same cross-engine-convention class as the
    // v_distances float lesson, caught by audit rather than a red row.
    val out = Array.fill(numHashes)(-1L) // unsigned max
    // r15 (guide §1.2): mix64(seed + i) depends only on i — hoisted out
    // of the per-shingle inner loop (was recomputed |shingles|×numHashes
    // times, i.e. half the kernel's mix64 work). Values identical.
    val seedMix = new Array[Long](numHashes)
    var s = 0
    while (s < numHashes) { seedMix(s) = mix64(seed + s); s += 1 }
    var j = 0
    while (j < hashes.length) {
      val x = hashes(j)
      var i = 0
      while (i < numHashes) {
        val h = mix64(x ^ seedMix(i))
        if (java.lang.Long.compareUnsigned(h, out(i)) < 0) out(i) = h
        i += 1
      }
      j += 1
    }
    out
  }

  def minhashSignature(shingles: Set[String], numHashes: Int = 128,
                       seed: Long = 42L): Array[Long] = {
    val hs = shingles.iterator.map(s => djb2(s).toLong & 0xFFFFFFFFL).toArray
    minhashSignatureFromHashes(hs, numHashes, seed)
  }

  /** Exact Jaccard of two sorted distinct hash arrays (merge intersect). */
  def sortedJaccard(a: Array[Long], b: Array[Long]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      inter.toDouble / (a.length + b.length - inter)
    }

  def estimatedJaccard(sigA: Array[Long], sigB: Array[Long]): Double = {
    require(sigA.length == sigB.length)
    sigA.zip(sigB).count { case (a, b) => a == b }.toDouble / sigA.length
  }

  def exactJaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a & b).size.toDouble / (a | b).size

  /**
   * MinHash-LSH near-dup pairs: signature → (band, band-slice) buckets →
   * same-bucket candidate pairs → exact Jaccard filter. The shuffle key is
   * the band bucket, so cost tracks true near-duplicate density.
   *
   * Each document is tokenized exactly once ([[shingleHashes]]); the
   * verify stage intersects the stored sorted hash arrays instead of
   * re-shingling raw text per candidate pair. The intermediate cache is
   * released before returning: the result is local-checkpointed (lineage
   * truncated, blocks reclaimed by the context cleaner once the result is
   * unreferenced), so callers see a plain DataFrame with no persisted
   * upstream.
   */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 128, bands: Int = 32,
                      jaccardThreshold: Double = 0.5,
                      shingleN: Int = 3, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val prepUdf = udf((text: String) => {
      val sh = shingleHashes(text, shingleN)
      (sh, minhashSignatureFromHashes(sh, numHashes, seed))
    })
    val sigs = df.select(col(idCol).as("id"), prepUdf(col(textCol)).as("p"))
      .select(col("id"), col("p._1").as("sh"), col("p._2").as("sig"))
      .persist()
    try {
      // Bucket key is the band's EXACT signature slice (joined by array
      // equality), not a 32-bit hash of it: no bucket-collision false
      // candidates, and the whole pipeline stays pure integer arithmetic
      // end-to-end (DuckDB re-derives it for the full oracle). Shuffle key
      // grows from 4 bytes to rowsPerBand longs — noise next to the payload.
      val bandUdf = udf((sig: Seq[Long]) =>
        (0 until bands).map(b => (b, sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand))))
      val buckets = sigs.select(col("id"), explode(bandUdf(col("sig"))).as("bb"))
        .select(col("id"), col("bb._1").as("band"), col("bb._2").as("bucket"))
      val candidates = buckets.as("l").join(buckets.as("r"),
          col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
            col("l.id") < col("r.id"))
        .select(col("l.id").as("a_id"), col("r.id").as("b_id"))
        .distinct()
      val jacUdf = udf((a: Seq[Long], b: Seq[Long]) =>
        sortedJaccard(a.toArray, b.toArray))
      candidates
        .join(sigs.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
        .join(sigs.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
        .withColumn("jaccard", jacUdf(col("a_sh"), col("b_sh")))
        .filter(col("jaccard") >= jaccardThreshold)
        .select("a_id", "b_id", "jaccard")
        .localCheckpoint(true)
    } finally sigs.unpersist()
  }

  // ---------------- simhash ----------------

  /** 64-bit SimHash over tf-weighted token djb2 hashes. */
  def simhash(text: String): Long = {
    val weights = new Array[Long](64)
    TextFunctions.termFreqs(text).foreach { case (term, tf) =>
      // two 32-bit djb2 passes (term, reversed term) → 64 bits
      val h = (djb2(term).toLong << 32) | (djb2(term.reverse).toLong & 0xFFFFFFFFL)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) weights(bit) += tf else weights(bit) -= tf
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (weights(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  def hammingDistance64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  val simhashUdf = udf((text: String) => simhash(text))

  /** Generic banded Hamming self-join over any 64-bit signature column
    * (SimHash text signatures, image aHash fingerprints, …): band the 64
    * bits into 4×16-bit keys; rows sharing any band are candidates,
    * verified by full Hamming distance. Pigeonhole guarantee: a pair
    * with hamming ≤ 3 always shares an untouched band, so recall is
    * exact up to 3 and heuristic above. The 100 TB shape: one shuffle on
    * the (band, bucket) key — never an all-pairs product. */
  def hammingBandPairs(sigs: DataFrame, idCol: String, sigCol: String,
                       maxHamming: Int): DataFrame = {
    // all-native plan: band extraction is shift/mask builtins under
    // posexplode and the verify is bit_count(xor) — the whole pipeline
    // stays inside whole-stage codegen (no UDF in the pair hot path)
    val bands = array((0 until 4).map(b =>
      shiftrightunsigned(col("sig"), 16 * b).bitwiseAND(lit(0xFFFFL))): _*)
    val buckets = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .select(col("id"), col("sig"), posexplode(bands).as(Seq("band", "bucket")))
    buckets.as("l").join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a_id"), col("r.id").as("b_id"),
        col("l.sig").as("a_sig"), col("r.sig").as("b_sig"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** SimHash near-dup pairs: [[hammingBandPairs]] over [[simhash]]
    * signatures. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // Signatures hashed once and persisted for the self-join; released
    // before returning (localCheckpoint truncates lineage, same contract
    // as minhashLshPairs — callers never inherit a pinned upstream).
    val withSig = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sim", simhashUdf(col("text")))
      .persist()
    try {
      hammingBandPairs(withSig, "id", "sim", maxHamming)
        .localCheckpoint(true)
    } finally withSig.unpersist()
  }

  // ---------------- n-gram jaccard / embedding cosine ----------------

  val ngramJaccardUdf = udf((a: String, b: String, n: Int) =>
    exactJaccard(wordShingles(a, n), wordShingles(b, n)))

  /** FNV-1a 64-bit — genuine 64-bit fingerprints for exact hash-set
    * Jaccard (collision within a compared pair's union ~|U|²/2⁶⁵). */
  @inline private def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xFF)) * 0x100000001b3L; i += 1 }
    h
  }

  /** Sorted distinct 64-bit fingerprints of a doc's word n-grams. */
  def shingleHashes64(text: String, n: Int = 3): Array[Long] =
    sortedDistinct(wordShingles(text, n).iterator.map(fnv1a64).toArray)

  /**
   * Exact n-gram Jaccard pairs, minhash-blocked: never |D|² on raw text.
   * Each of the `numHashes` minhash rows is its own LSH band (one row per
   * band), so any pair sharing at least ONE minhash value becomes a
   * candidate; a qualifying pair (jaccard ≥ t) is missed with probability
   * (1−t)^numHashes — ~1e-128 at t=0.9, k=128 — while non-candidates are
   * pruned before the exact verify. The verify intersects stored sorted
   * 64-bit gram fingerprints, so the result equals all-pairs string-set
   * Jaccard up to ~2⁻⁶⁴ fingerprint collisions; the all-pairs shape
   * survives only inside shared-bucket verification.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.2,
                        numHashes: Int = 128, seed: Long = 42L): DataFrame = {
    val prepUdf = udf((text: String) => {
      val sh = shingleHashes64(text, n)
      (sh, minhashSignatureFromHashes(sh, numHashes, seed))
    })
    val sigs = df.select(col(idCol).as("id"), prepUdf(col(textCol)).as("p"))
      .select(col("id"), col("p._1").as("sh"), col("p._2").as("sig"))
      .persist()
    try {
      val buckets = sigs.select(col("id"), posexplode(col("sig")))
        .toDF("id", "band", "bucket")
      val candidates = buckets.as("l").join(buckets.as("r"),
          col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
            col("l.id") < col("r.id"))
        .select(col("l.id").as("a_id"), col("r.id").as("b_id"))
        .distinct()
      val jacUdf = udf((a: Seq[Long], b: Seq[Long]) =>
        sortedJaccard(a.toArray, b.toArray))
      candidates
        .join(sigs.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
        .join(sigs.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
        .withColumn("jaccard", jacUdf(col("a_sh"), col("b_sh")))
        .filter(col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
        .localCheckpoint(true)
    } finally sigs.unpersist()
  }

  /**
   * Near-dup pairs → duplicate GROUPS: connected components of the pair
   * graph via distributed min-label propagation
   * ([[graft.ml.Dbscan.connectedComponents]] — one shuffle join +
   * aggregate per round, rounds ≤ component diameter, nothing on the
   * driver). The component id is the minimum member id; a row not in any
   * pair is its own singleton component. This is the step that turns
   * pairwise LSH/Jaccard/cosine output into "keep one per group":
   * keepers are exactly the rows with `id == component`.
   */
  def dupGroups(df: DataFrame, idCol: String, pairs: DataFrame,
                aCol: String = "a_id", bCol: String = "b_id",
                maxIter: Int = 50): DataFrame = {
    // a non-numeric id would cast to NULL, every join would miss, and
    // dedupByPairs would silently return an EMPTY corpus — reject loudly
    // instead (hash string ids to longs upstream, e.g. xxhash64)
    val idType = df.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"idCol '$idCol' must be numeric, got $idType")
    val comp = graft.ml.Dbscan.connectedComponents(
      pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")), maxIter)
    df.select(col(idCol).cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("component"))
  }

  /**
   * INCREMENTAL ingestion dedup — a new batch checked against the
   * already-curated corpus CATALOG without re-deduping the corpus: the
   * daily-crawl shape, where the 100 TB side is a persisted table of
   * (text fingerprint, minhash band slices) and only the batch is
   * scanned fresh. Per batch row:
   *
   *  - `exact_dup`: the batch text verbatim-exists in the catalog —
   *    a join on `xxhash64(text)` confirmed by text equality, so the
   *    shuffle carries 8-byte keys (the [[fingerprintDedup]] trade,
   *    made collision-safe by the confirm).
   *  - `near_of` / `jaccard`: LSH band slices of the batch joined
   *    against the catalog's band slices (same banded shape as
   *    [[minhashLshPairs]] — never batch × corpus), candidates verified
   *    by exact shingle-set Jaccard ≥ `jaccardThreshold`, and the best
   *    match kept (max Jaccard, tie → smallest catalog id). NULL when
   *    the batch row is novel.
   *
   * Both signals are pure integer arithmetic until the final |∩|/|∪|
   * division, so the whole decision table is oracle-exact.
   */
  def incrementalDedup(catalog: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       numHashes: Int = 64, bands: Int = 16,
                       jaccardThreshold: Double = 0.8,
                       shingleN: Int = 3, seed: Long = 42L,
                       materialize: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val prepUdf = udf((text: String) => {
      val sh = shingleHashes(text, shingleN)
      (sh, minhashSignatureFromHashes(sh, numHashes, seed))
    })
    val bandUdf = udf((sig: Seq[Long]) =>
      (0 until bands).map(b => (b, sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand))))
    def sides(df: DataFrame, prefix: String) = {
      val s = df.select(col(idCol).as(s"${prefix}_id"),
          col(textCol).as(s"${prefix}_text"),
          prepUdf(col(textCol)).as("p"))
        .select(col(s"${prefix}_id"), col(s"${prefix}_text"),
          col("p._1").as(s"${prefix}_sh"), col("p._2").as(s"${prefix}_sig"))
      (s, s.select(col(s"${prefix}_id"),
        explode(bandUdf(col(s"${prefix}_sig"))).as("bb"))
        .select(col(s"${prefix}_id"), col("bb._1").as("band"),
          col("bb._2").as("bucket")))
    }
    // each side's signature frame feeds BOTH its band explode and the
    // Jaccard verify join — persist so the shingle UDF runs once per
    // side, not once per consumer (the minhashLshPairs pattern)
    val (catS0, _) = sides(catalog, "cat")
    val (newS0, _) = sides(batch, "new")
    val catS = catS0.persist()
    val newS = newS0.persist()
    // materialize BEFORE the unpersist: a lazy return would recompute
    // from source after the caches are dropped (the AeFixpoint lesson).
    // materialize=false keeps the lazy plan (and the persists alive) for
    // plan-shape inspection.
    val out = incrementalDedupOn(catalog, batch, idCol, textCol, catS, newS,
      bands, rowsPerBand, jaccardThreshold, bandUdf)
    if (!materialize) out
    else
      try out.localCheckpoint(true)
      finally { catS.unpersist(); newS.unpersist() }
  }

  private def incrementalDedupOn(catalog: DataFrame, batch: DataFrame,
                                 idCol: String, textCol: String,
                                 catS: DataFrame, newS: DataFrame,
                                 bands: Int, rowsPerBand: Int,
                                 jaccardThreshold: Double,
                                 bandUdf: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame = {
    def bandsOf(s: DataFrame, prefix: String) =
      s.select(col(s"${prefix}_id"),
          explode(bandUdf(col(s"${prefix}_sig"))).as("bb"))
        .select(col(s"${prefix}_id"), col("bb._1").as("band"),
          col("bb._2").as("bucket"))
    val catBands = bandsOf(catS, "cat")
    val newBands = bandsOf(newS, "new")

    val exact = batch
      .select(col(idCol).as("new_id"), xxhash64(col(textCol)).as("h"),
        col(textCol).as("t"))
      .join(catalog.select(xxhash64(col(textCol)).as("h"),
          col(textCol).as("ct")).distinct(),
        Seq("h"), "left")
      .groupBy("new_id")
      .agg(max(col("t") === col("ct")).as("exact_dup"))
      .select(col("new_id"), coalesce(col("exact_dup"), lit(false)).as("exact_dup"))

    val jacUdf = udf((a: Seq[Long], b: Seq[Long]) =>
      sortedJaccard(a.toArray, b.toArray))
    val cand = newBands.join(catBands, Seq("band", "bucket"))
      .select(col("new_id"), col("cat_id")).distinct()
    val verified = cand
      .join(newS.select(col("new_id"), col("new_sh")), "new_id")
      .join(catS.select(col("cat_id"), col("cat_sh")), "cat_id")
      .withColumn("jaccard", jacUdf(col("new_sh"), col("cat_sh")))
      .filter(col("jaccard") >= jaccardThreshold)
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("jaccard").desc, col("cat_id"))
    val best = verified.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("new_id"), col("cat_id").as("near_of"), col("jaccard"))

    batch.select(col(idCol).as("new_id"))
      .join(exact, Seq("new_id"), "left")
      .join(best, Seq("new_id"), "left")
      .select(col("new_id").as(idCol),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        col("near_of"), col("jaccard"))
  }

  /** MinHash-LSH parameter planner — the dedup-side analog of the ANN
    * tuner (`plans/AutoTune`): for a signature of `numHashes` mins,
    * enumerate every (bands, rowsPerBand) factorization with the two
    * numbers that pick a banding: the S-curve midpoint
    * s50 = (1/b)^(1/r) (the Jaccard where catch probability crosses
    * ~50%) and the catch probability 1 − (1 − s^r)^b at the caller's
    * target similarity. Driver-side closed-form math over ≤ log₂(n)
    * rows; floats emitted float4 (pow — libm convention). */
  def lshPlan(spark: org.apache.spark.sql.SparkSession,
              numHashes: Int, targetJaccard: Double): DataFrame = {
    require(numHashes >= 2 && targetJaccard > 0 && targetJaccard < 1,
      s"bad numHashes=$numHashes / target=$targetJaccard")
    import spark.implicits._
    (1 to numHashes).filter(numHashes % _ == 0).map { b =>
      val r = numHashes / b
      val s50 = math.pow(1.0 / b, 1.0 / r)
      val pAtT = 1.0 - math.pow(1.0 - math.pow(targetJaccard, r), b.toDouble)
      (b.toLong, r.toLong, s50.toFloat, pAtT.toFloat)
    }.toDF("bands", "rows_per_band", "s50", "p_at_target")
  }

  /** Drop all but the min-id member of each near-dup component. */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                   aCol: String = "a_id", bCol: String = "b_id",
                   maxIter: Int = 50): DataFrame =
    df.join(dupGroups(df, idCol, pairs, aCol, bCol, maxIter)
        .filter(col("id") === col("component")).select("id"),
      df(idCol).cast("long") === col("id"), "left_semi")

  /** Embedding-cosine near-dup pairs under a distance threshold. The
    * `a_id < b_id` prune is part of the join condition so distances are
    * computed for half the cross product, not filtered afterwards.
    *
    * BRUTE-FORCE ORACLE FACE: broadcasts the whole corpus and plans a
    * nested-loop join — correct at verification scale, never the 100 TB
    * plan. The scale path is [[Ivf.join]] (cluster-blocked, no
    * broadcast), oracle-proved equal at exhaustive probing by
    * `ivf_join_exact` with `ivf_join_recall` measuring the nprobe dial. */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  maxCosineDistance: Double): DataFrame = {
    // r15 (guide §1.2): per-row norms hoisted out of the per-pair cosine
    // kernel; `cosineFromParts` is bit-identical to the fused kernel
    import graft.plans.{DistanceExpressions => DE}
    val l = df.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      DE.normSq(col(vecCol)).as("a_nsq"))
    val r = df.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
      DE.normSq(col(vecCol)).as("b_nsq"))
    l.join(broadcast(r), col("a_id") < col("b_id"))
      .withColumn("cosine_distance", DE.cosineFromParts(
        DE.dot(col("a_vec"), col("b_vec")), col("a_nsq"), col("b_nsq")))
      .filter(col("cosine_distance") <= maxCosineDistance)
      .select("a_id", "b_id", "cosine_distance")
  }

  /**
   * Duplicated-SPAN removal — the word-n-gram form of exact substring
   * dedup (Lee et al. 2021, "Deduplicating Training Data Makes Language
   * Models Better": repeated ≥k-token substrings are memorization fuel
   * and should be cut from the corpus, not just whole-doc deduped).
   * Suffix arrays don't distribute; the Spark-shaped equivalent is:
   *
   *  1. word n-grams with their start positions (one `posexplode`, no
   *     self-join — the gram list is built per-row with native
   *     `transform`/`slice`);
   *  2. grams verbatim in ≥ `minDocs` DISTINCT docs are flagged (one
   *     shuffle on the gram key, map-side partial distinct);
   *  3. every token covered by a flagged gram occurrence is dropped and
   *     the doc rebuilt in order (ordered `array_sort(collect_list)`
   *     rebuild, the [[lineDedup]] pattern at token granularity).
   *
   * `hashGrams=true` shuffles 8-byte xxhash64 keys instead of ~n-word
   * gram strings — the 100 TB dial (identical output modulo 2⁻⁶⁴
   * collisions; `SpanDedupSpec` pins parity). Tokenization is the
   * corpus-wide `[a-z0-9]+` rule, so the oracle can replay everything.
   *
   * Returns (idCol, clean_text, removed_tokens, total_tokens) for EVERY
   * input row — tokenless docs come back with empty text and zero
   * counts.
   *
   * EAGER: executes at call time and returns a materialized
   * (localCheckpoint'ed) result — the internal token/gram projections
   * are cached and must be released before returning (the AeFixpoint
   * contract, r15). Callers composing plans get a checkpoint scan, not
   * a lazy lineage (ADVICE r15 documentation ask).
   */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                n: Int = 8, minDocs: Long = 2,
                hashGrams: Boolean = false): DataFrame = {
    require(n >= 2, s"n-gram width must be >= 2: $n")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    // r15 (guide §1.2 / §5): tokenize ONCE and build grams ONCE. The
    // token lists feed the position stream AND the gram stream, and the
    // gram stream feeds BOTH the document-frequency aggregate and the
    // coverage join — uncached, that lineage re-ran the regexp
    // tokenizer three times and the slice+concat gram builder twice
    // over the full corpus. Results are identical; only the pass count
    // changes. Both caches released before returning (result
    // localCheckpoint'ed — the minhashLshPairs contract).
    val toks = df.select(col(idCol),
      expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)").as("__ts"))
      .persist()
    def gramKey(c: Column): Column = if (hashGrams) xxhash64(c) else c
    val grams = toks.filter(size(col("__ts")) >= n)
      .select(col(idCol), posexplode(
        expr(s"transform(sequence(0, size(__ts) - $n), i -> concat_ws(' ', slice(__ts, i + 1, $n)))"))
        .as(Seq("__pos", "__gram")))
      .select(col(idCol), col("__pos"), gramKey(col("__gram")).as("__gk"))
      .persist()
    try {
      val flagged = grams.groupBy("__gk")
        .agg(countDistinct(col(idCol)).as("__df"))
        .filter(col("__df") >= minDocs)
        .select("__gk")
      val covered = grams.join(flagged, "__gk")
        .select(col(idCol), explode(expr(s"sequence(__pos, __pos + ${n - 1})")).as("__p"))
        .distinct()
      // r15 (guide §2.3 "shuffle fewer bytes"): the rebuild used to
      // posexplode EVERY token into a (id, pos, token) row stream,
      // left-join the covered positions, and re-assemble each doc with
      // a collect_list + array_sort — one corpus-scale exploded shuffle
      // plus a per-doc sort. The covered POSITIONS aggregate to one
      // small list per affected doc instead, and the doc rebuilds from
      // its cached token ARRAY with order-preserving array_except
      // (positions are distinct; sequence order is kept), so the only
      // corpus-scale payload moved is the compact token arrays. Output
      // is identical: same surviving tokens in position order, removed
      // = |distinct covered positions|, total = |tokens|.
      val covAgg = covered.groupBy(col(idCol))
        .agg(collect_list(col("__p")).as("__cov_ps"))
      val rebuilt = toks.join(covAgg, Seq(idCol), "left")
        .select(col(idCol),
          expr("""CASE WHEN __ts IS NULL OR size(__ts) = 0 THEN ''
                  ELSE concat_ws(' ', transform(
                    array_except(sequence(0, size(__ts) - 1),
                                 coalesce(__cov_ps, array())),
                    i -> element_at(__ts, i + 1))) END""").as("clean_text"),
          expr("CAST(coalesce(size(__cov_ps), 0) AS BIGINT)").as("removed_tokens"),
          expr("CAST(CASE WHEN __ts IS NULL THEN 0 ELSE size(__ts) END AS BIGINT)")
            .as("total_tokens"))
      df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
          coalesce(col("total_tokens"), lit(0L)).as("total_tokens"))
        .localCheckpoint(true)
    } finally {
      grams.unpersist(); toks.unpersist()
    }
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC dedup at
   * corpus scale: assign every embedding to its nearest centroid, then
   * generate near-dup pairs WITHIN clusters only, close them into
   * components, keep the min-id member of each. The cluster blocking is
   * the whole point: pair generation costs Σ|Cᵢ|² instead of |D|², and
   * the pair join shuffles on the cluster key — at 100 TB the centroids
   * (k ≪ |D|) broadcast, the corpus never does.
   *
   * `centroids` is a SMALL (cid, cvec) frame — in production the
   * [[graft.ml.KmeansFixpoint]] / MLlib KMeans centers; the oracle query
   * pins the algebra with fixed seed centroids instead, so assignment,
   * blocking, closure and keeper choice are all hash-checked without
   * depending on a trained artifact.
   *
   * Ties in the nearest-centroid argmin break to the smallest cid
   * (lexicographic `min(struct(dist, cid))` — the oracle's
   * `ORDER BY cd, cid`), so assignment is deterministic even on
   * duplicate vectors.
   *
   * Skew guard: within-cluster pair generation is Σ|Cᵢ|², so ONE giant
   * cluster (a degenerate clustering, an all-zeros embedding glut)
   * silently degenerates toward all-pairs. Clusters above
   * `maxClusterSize` therefore either fail loudly (`onOversize =
   * "error"`, the default — the fix is more/better centroids) or are
   * salted into ⌈|C|/cap⌉ hash sub-blocks (`onOversize = "split"`);
   * the split path bounds every block's pair cost at cap² but MISSES
   * cross-block pairs inside the oversized cluster — an explicit
   * recall-for-cost dial, stated here because nothing downstream can
   * detect it. The guard itself is one count aggregate on the cluster
   * key; only the (rare) oversized cluster ids reach the driver.
   */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, cidCol: String, cvecCol: String,
               maxCosineDistance: Double, maxIter: Int = 50,
               maxClusterSize: Long = 100000L,
               onOversize: String = "error"): DataFrame = {
    require(onOversize == "error" || onOversize == "split",
      s"onOversize must be error|split: $onOversize")
    require(maxClusterSize >= 2, s"maxClusterSize must be >= 2: $maxClusterSize")
    val e = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val c = centroids.select(col(cidCol).cast("long").as("cid"), col(cvecCol).as("cvec"))
    // r15 (guide §1.2): hoist each side's squared norm out of the
    // per-(row × centroid) cosine kernel — `normSq` once per corpus row
    // and once per centroid, dot-only per pair; the combine step
    // (`cosineFromParts`) is bit-identical to the fused kernel, so the
    // argmin — and the oracle hash — are unchanged.
    import graft.plans.{DistanceExpressions => DE}
    // materialize the (id, cluster) assignment ONCE: the guard count,
    // the pair join, and the final keeper join all read it, and without
    // the checkpoint each action would re-execute the corpus×centroid
    // argmin scan from lineage (the dominant cost) — three times
    // r15: LAZY checkpoint — the oversized-guard aggregate right below
    // is the first action and materializes it, so assignment costs ONE
    // job instead of checkpoint-then-count (the connectedComponents
    // device)
    val assigned = e.withColumn("__nsq", DE.normSq(col("vec")))
      .crossJoin(broadcast(c.withColumn("__cnsq", DE.normSq(col("cvec")))))
      .withColumn("cd", DE.cosineFromParts(
        DE.dot(col("vec"), col("cvec")), col("__nsq"), col("__cnsq")))
      .groupBy("id").agg(min(struct(col("cd"), col("cid"))).as("m"))
      .select(col("id"), col("m.cid").as("cluster"))
      .localCheckpoint(false)
    val clustered = e.join(assigned, "id")
    val oversized = assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxClusterSize).collect()
    if (oversized.nonEmpty && onOversize == "error") {
      val worst = oversized.map(r => s"${r.getLong(0)}(${r.getLong(1)})")
        .take(10).mkString(", ")
      throw new IllegalArgumentException(
        s"semDedup: ${oversized.length} cluster(s) exceed maxClusterSize=" +
          s"$maxClusterSize — pair cost is quadratic per cluster: [$worst]. " +
          "Refit with more centroids, raise maxClusterSize, or pass " +
          "onOversize=\"split\" (bounded cost, misses cross-block pairs)")
    }
    val blocked =
      if (oversized.isEmpty) clustered.withColumn("salt", lit(0))
      else {
        val spark = df.sparkSession
        import spark.implicits._
        val saltDf = oversized.map { r =>
          (r.getLong(0),
            ((r.getLong(1) + maxClusterSize - 1) / maxClusterSize).toInt)
        }.toSeq.toDF("cluster", "nsalt")
        clustered.join(broadcast(saltDf), Seq("cluster"), "left")
          .withColumn("salt",
            pmod(xxhash64(col("id")), coalesce(col("nsalt"), lit(1)))
              .cast("int"))
          .drop("nsalt")
      }
    // same hoist on the within-cluster pair stage: norms once per row
    // BEFORE the self-join, dot-only per pair (the a<b filter already
    // precedes the kernel here)
    val sided = blocked.withColumn("__nsq", DE.normSq(col("vec")))
    val pairs = sided
      .select(col("id").as("a_id"), col("vec").as("a_vec"),
        col("__nsq").as("a_nsq"), col("cluster"), col("salt"))
      .join(sided.select(col("id").as("b_id"), col("vec").as("b_vec"),
          col("__nsq").as("b_nsq"), col("cluster"), col("salt")),
        Seq("cluster", "salt"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cd", DE.cosineFromParts(
        DE.dot(col("a_vec"), col("b_vec")), col("a_nsq"), col("b_nsq")))
      .filter(col("cd") <= maxCosineDistance)
      .select("a_id", "b_id")
    val comp = dupGroups(df, idCol, pairs, maxIter = maxIter)
    assigned.join(comp, "id")
      .select(col("id"), col("cluster"), col("component"),
        (col("id") === col("component")).as("keeper"))
  }
}
