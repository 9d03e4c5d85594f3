package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Quantization => Q}
import graft.operators.Pq

class QuantizationSpec extends AnyFunSuite {

  private val v = Array(0.5f, -1.0f, 0.25f, 0.0f, 0.9f, -0.3f)

  test("int8 round-trip error bounded by scale step (quantization.c:41-140)") {
    val codes = Q.toInt8(v)
    assert(codes(1) == -127) // -1.0 is max-abs -> -127
    val deq = Q.int8ToVector(codes).map(_ * 1.0f) // maxabs = 1
    v.zip(deq).foreach { case (o, d) => assert(math.abs(o - d) <= 1.0f / 127 + 1e-6) }
    assert(Q.toInt8(Array(0f, 0f)).forall(_ == 0))
  }

  test("uint8 min-max round-trip (quantization.c:1355-1404)") {
    val codes = Q.toUint8(v)
    val mn = v.min; val mx = v.max
    val deq = Q.uint8ToVector(codes).map(x => mn + x * (mx - mn))
    v.zip(deq).foreach { case (o, d) => assert(math.abs(o - d) <= (mx - mn) / 255 + 1e-6) }
    assert(Q.toUint8(Array(3f, 3f)).forall(_ == 0)) // degenerate range
  }

  test("fp16 truncating encode + exact decode (quantization.c:141-217)") {
    // exactly representable halves survive the round trip
    val exact = Array(1.0f, -2.5f, 0.09375f, 0f, 65504f)
    assert(Q.fp16ToVector(Q.toFp16(exact)).toSeq == exact.toSeq)
    // truncation, not rounding: 1.0004983 is past the rounding midpoint
    // (1 + 2^-11) so round-to-nearest would give 1.0009766, but the
    // reference truncates the mantissa -> exactly 1.0
    assert(Q.fp16ToFloat(Q.floatToFp16(1.0004983f)) == 1.0f)
    // subnormal float32 flushes to signed zero on encode
    assert(Q.floatToFp16(1e-8f) == 0)
    // fp16 subnormal decode path: smallest subnormal half = 2^-24
    assert(Q.fp16ToFloat(0x0001.toShort) == 5.9604645e-8f)
  }

  test("binary: sign bit, ±1 decode, popcount hamming (quantization.c:285-431)") {
    val a = Q.toBinary(Array(1f, -1f, 0.5f, 0f))  // bits 1,0,1,0
    assert(Q.binaryToVector(a, 4).toSeq == Seq(1f, -1f, 1f, -1f))
    val b = Q.toBinary(Array(1f, 1f, -1f, 0f))    // bits 1,1,0,0
    assert(Q.binaryHamming(a, b) == 2)
  }

  test("ternary threshold max_abs/3 (quantization.c:1496-1560)") {
    val deq = Q.ternaryToVector(Q.toTernary(Array(0.9f, -0.9f, 0.2f, 0.4f)), 4)
    // threshold 0.3: 0.9 -> +1, -0.9 -> -1, 0.2 -> 0, 0.4 -> +1
    assert(deq.toSeq == Seq(1f, -1f, 0f, 1f))
  }

  test("int4 nibble packing, [-8,7] clamp (quantization.c:1575-1693)") {
    val deq = Q.int4ToVector(Q.toInt4(Array(0.7f, -0.7f, 0.1f, 0f)), 4)
    assert(deq(0) == 1.0f && deq(1) == -1.0f) // ±max_abs -> ±7/7
    assert(math.abs(deq(2) - 1.0f / 7) < 1e-6)
    assert(deq(3) == 0f)
  }

  test("fp8 e4m3/e5m2: truncation, saturation, signed decode (ml_quantization_fp8.c:62-160)") {
    assert(Q.fp8E4M3ToFloat(Q.floatToFp8E4M3(1.5f)) == 1.5f)
    assert(Q.fp8E4M3ToFloat(Q.floatToFp8E4M3(-0.25f)) == -0.25f) // reference's uint8 bug would flip this
    assert(Q.floatToFp8E4M3(1e6f) == 0x7E.toByte) // finite overflow saturates to +448
    assert(Q.fp8E4M3ToFloat(0x7E.toByte) == 448.0f)
    assert(Q.floatToFp8E4M3(1e-9f) == 0)          // underflow -> 0
    assert(Q.fp8E5M2ToFloat(Q.floatToFp8E5M2(3.0f)) == 3.0f)
    assert(Q.fp8E5M2ToFloat(Q.floatToFp8E5M2(-0.125f)) == -0.125f)
  }

  test("fp8/fp16 non-finite inputs keep their nature instead of becoming plausible numbers") {
    // e4m3 (OCP): S.1111.111 is NaN; NaN and ±Inf land there, round-trip NaN
    assert(Q.fp8E4M3ToFloat(Q.floatToFp8E4M3(Float.NaN)).isNaN)
    assert(Q.fp8E4M3ToFloat(Q.floatToFp8E4M3(Float.PositiveInfinity)).isNaN)
    // e5m2 (IEEE-shaped): Inf stays Inf with sign, NaN stays NaN
    assert(Q.fp8E5M2ToFloat(Q.floatToFp8E5M2(Float.PositiveInfinity)) == Float.PositiveInfinity)
    assert(Q.fp8E5M2ToFloat(Q.floatToFp8E5M2(Float.NegativeInfinity)) == Float.NegativeInfinity)
    assert(Q.fp8E5M2ToFloat(Q.floatToFp8E5M2(Float.NaN)).isNaN)
    assert(Q.fp8E5M2ToFloat(Q.floatToFp8E5M2(1e30f)) == Float.PositiveInfinity) // overflow -> Inf
    // fp16: NaN encodes as fp16 NaN, not Infinity; Inf still Inf
    assert(Q.fp16ToFloat(Q.floatToFp16(Float.NaN)).isNaN)
    assert(Q.fp16ToFloat(Q.floatToFp16(Float.PositiveInfinity)) == Float.PositiveInfinity)
  }

  test("packed decoders validate dim against encoded capacity") {
    val two = Array[Byte](0x0F, 0x01)
    intercept[IllegalArgumentException](Q.binaryToVector(two, 17))  // capacity 16
    intercept[IllegalArgumentException](Q.binaryToVector(two, -1))
    intercept[IllegalArgumentException](Q.ternaryToVector(two, 9))  // capacity 8
    intercept[IllegalArgumentException](Q.int4ToVector(two, 5))     // capacity 4
    assert(Q.binaryToVector(two, 16).length == 16)
  }

  test("ranged int8 quantize/dequantize (vector_quantization.c:203-330)") {
    val min = Array(0f, -1f); val max = Array(1f, 1f)
    val codes = Q.rangedInt8(Array(0.5f, 0f), min, max)
    assert(codes(0) == 64 && codes(1) == 64) // (0.5-0)*127, (0+1)*63.5
    val deq = Q.rangedDequantize(codes, min, max)
    assert(math.abs(deq(0) - 0.504f) < 0.01 && math.abs(deq(1) - 0.008f) < 0.02)
  }

  test("analyze reports sane metrics (quantize_analyze_*, neurondb--1.0.sql:573-605)") {
    val r8 = Q.analyze(v, "int8")
    assert(r8.compressionRatio == 4.0 && r8.mse < 1e-4 && r8.maxError < 0.01)
    val r1 = Q.analyze(v, "binary")
    assert(r1.compressionRatio == 32.0 && r1.mse > r8.mse)
    val json = r8.toJson
    assert(json.contains("\"mse\"") && json.contains("\"compression_ratio\":4.00"))
  }

  test("auto_quantize dispatch + unknown method errors (neurondb--1.0.sql:6838-6869)") {
    assert(Q.autoQuantize(v, "int8").toSeq == Q.toInt8(v).toSeq)
    assert(Q.autoQuantize(v, "fp16").length == v.length * 2)
    intercept[IllegalArgumentException](Q.autoQuantize(v, "bogus"))
  }

  test("PQ: encode/ADC recovers near-exact ordering on separable data") {
    // codebook trained directly (no spark): two clear clusters per subspace
    val data = Array(
      Array(0f, 0f, 10f, 10f), Array(0.1f, 0f, 10f, 10.1f),
      Array(10f, 10f, 0f, 0f), Array(10.1f, 10f, 0.1f, 0f))
    val cb = Pq.PqCodebook(2, 2, Array(
      Array(Array(0f, 0f), Array(10f, 10f)),
      Array(Array(10f, 10f), Array(0f, 0f))))
    val codes = data.map(cb.encode)
    assert(codes(0).toSeq == Seq[Byte](0, 0) && codes(2).toSeq == Seq[Byte](1, 1))
    val table = cb.adcTable(Array(0f, 0f, 10f, 10f))
    val dists = codes.map(cb.adcDistance(table, _))
    assert(dists(0) == 0.0 && dists(1) == 0.0) // same cells as query
    assert(dists(2) > 10 && dists(3) > 10)
  }

  test("PQ: codebookFrom slices full-dim centroids per subspace") {
    val cb = Pq.codebookFrom(Array(Array(0f, 0f, 10f, 10f), Array(10f, 10f, 0f, 0f)), m = 2)
    assert(cb.m == 2 && cb.subDim == 2)
    assert(cb.codebooks(0)(1).toSeq == Seq(10f, 10f))
    assert(cb.codebooks(1)(1).toSeq == Seq(0f, 0f))
    // encoding a centroid recovers its own codeword in every subspace
    assert(cb.encode(Array(10f, 10f, 0f, 0f)).toSeq == Seq[Byte](1, 1))
    intercept[IllegalArgumentException](Pq.codebookFrom(Array(Array(1f, 2f, 3f)), m = 2))
  }

  test("PQ: encode codes and ADC table bits are pinned") {
    // 256 codewords per subspace, the first 16 on an integer grid and
    // repeated (exact ties), the rest random; queries hit grid points,
    // random points, NaN and ±Inf
    val rnd = new scala.util.Random(21)
    val (m, subDim) = (4, 3)
    val books = Array.tabulate(m) { _ =>
      val grid = Array.fill(16)(Array.fill(subDim)((rnd.nextInt(5) - 2).toFloat))
      grid ++ grid.map(_.clone()) ++ Array.fill(224)(Array.fill(subDim)(rnd.nextGaussian().toFloat * 2f))
    }
    val cb = Pq.PqCodebook(m, subDim, books)
    val queries = Array.fill(40)(Array.fill(m * subDim)((rnd.nextInt(5) - 2).toFloat)) ++
      Array.fill(40)(Array.fill(m * subDim)(rnd.nextGaussian().toFloat * 2f)) ++
      Seq(Array.fill(m * subDim)(Float.NaN), Array.tabulate(m * subDim)(i =>
        if (i % 2 == 0) Float.PositiveInfinity else Float.NegativeInfinity))
    val lines = queries.map { q =>
      cb.encode(q).map(_ & 0xff).mkString(",") + " " + cb.adcTable(q).map(_.map(d =>
        java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))).mkString(",")).mkString(";")
    }
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(sha == "c2ad6219b2ee54ca145a49d4325d8a89d31136d25e6a72af07441cbcd87b92ec", s"PQ codes and tables changed: sha $sha")
  }

  test("PQ rejects codebooks that cannot fit a byte code") {
    intercept[IllegalArgumentException](
      Pq.codebookFrom(Array.fill(257)(Array(1f, 2f)), m = 1))
  }

  test("OPQ rotation is applied as matrix product") {
    val identity = Array(Array(1f, 0f), Array(0f, 1f))
    assert(Pq.applyOpqRotation(Array(3f, 4f), identity).toSeq == Seq(3f, 4f))
    val swap = Array(Array(0f, 1f), Array(1f, 0f))
    assert(Pq.applyOpqRotation(Array(3f, 4f), swap).toSeq == Seq(4f, 3f))
  }
}
