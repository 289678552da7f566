package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GroundTruthSpec extends AnyFunSuite {

  private val mix = Gen.Mixture(seed = 7L, dim = 8, centres = 4, spread = 0.5)

  private def truthOf(n: Int): GroundTruth = {
    val gt = new GroundTruth(8)
    (0 until n).foreach(i => gt.add(i.toLong, mix.vector(i.toLong)))
    gt
  }

  test("brute-force top-k equals a full sort by distance") {
    val gt = truthOf(3000) // past the initial capacity, so growth is covered
    assert(gt.size == 3000)
    (0 until 5).foreach { qi =>
      val q = mix.query(qi.toLong)
      val sorted = (0 until 3000).map(i => (i.toLong, GroundTruth.distance(mix.vector(i.toLong), q)))
        .sortBy(_._2)
      val got = gt.topK(q, 10)
      assert(got.map(_._1).toSeq == sorted.take(10).map(_._1))
      got.zip(sorted.take(10)).foreach { case (a, b) => assert(math.abs(a._2 - b._2) < 1e-9) }
    }
  }

  test("the keep predicate restricts the candidates") {
    val gt = truthOf(500)
    val q = mix.query(1L)
    val got = gt.topK(q, 5, id => mix.label(id) == 2)
    assert(got.length == 5)
    assert(got.forall { case (id, _) => mix.label(id) == 2 })
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted)
    // fewer rows than k: all of them
    assert(gt.topK(q, 10, _ < 3).map(_._1).toSet == Set(0L, 1L, 2L))
  }

  test("recall counts the truth ids found") {
    assert(GroundTruth.recall(Seq(1L, 2L, 3L), Seq(1L, 2L, 4L, 5L)) == 0.5)
    assert(GroundTruth.recall(Nil, Seq(1L)) == 0.0)
    assert(GroundTruth.recall(Seq(1L), Nil) == 1.0)
  }

  test("float distances compare at float precision") {
    assert(GroundTruth.close(10.00001, 10.0))
    assert(!GroundTruth.close(10.01, 10.0))
  }
}
