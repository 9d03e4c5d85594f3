package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private val fingerprints: Seq[(String, Long => String)] = Seq(
    "knn_point" -> (s => KnnPoint.inputs(s)._3),
    "knn_batch" -> (s => KnnBatch.inputs(s)._2),
    "curate" -> (s => Curate.inputs(s)._2))

  for ((w, fp) <- fingerprints) {
    test(s"$w: the same seed gives the same input fingerprint") {
      assert(fp(7L) == fp(7L))
    }
    test(s"$w: another seed gives another input fingerprint") {
      assert(fp(7L) != fp(8L))
    }
  }

  test("curate plants its structure") {
    val (c, _) = Curate.inputs(3L)
    assert(c.docs.length == Curate.NDocs)
    assert(c.exactGroups.nonEmpty && c.nearFamilies.nonEmpty && c.contaminated.nonEmpty)
    c.exactGroups.foreach(g => assert(g.map(id => c.docs(id.toInt)._2).distinct.length == 1))
    assert(c.docs.exists(d => c.boilerplate.exists(b => d._2.contains(b))))
  }

  test("a percentile is reported only with at least ten samples beyond it") {
    val xs200 = (1 to 200).map(_.toDouble)
    assert(Stats.beyond(xs200, 95) == 10)
    assert(Stats.tail(xs200, 95).contains(190.0))
    val xs199 = (1 to 199).map(_.toDouble)
    assert(Stats.beyond(xs199, 95) < 10)
    assert(Stats.tail(xs199, 95).isEmpty)
    assert(Stats.tail(xs199, 90).exists(p => Stats.beyond(xs199, 90) >= 10 && p == 180.0))
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
  }
}
