package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val docs = Gen.Docs(seed = 3L)

  private def words(id: Long) = docs.text(id).split(' ').toSeq

  test("each block plants a base, a near-duplicate, an exact copy and unique documents") {
    (0L until 50L).foreach { b =>
      val base = b * 10
      assert(docs.text(base + 2) == docs.text(base))
      val (w0, w1) = (words(base), words(base + 1))
      assert(w0.length == w1.length && w0.length >= 30 && w0.length <= 60)
      assert(w0.zip(w1).count { case (a, c) => a != c } == 2)
      assert(words(base + 9).length == 12)
      val uniques = (3L to 9L).map(i => docs.text(base + i))
      assert(uniques.distinct.size == uniques.size)
      assert(!uniques.contains(docs.text(base)))
    }
  }

  test("rows depend on the id alone") {
    val again = Gen.Docs(seed = 3L)
    assert((0L until 200L).forall(i => again.text(i) == docs.text(i)))
    assert(Gen.Docs(seed = 4L).text(0L) != docs.text(0L))
    val m1 = Gen.Mixture(1L, 16, 8, 0.5)
    val m2 = Gen.Mixture(1L, 16, 8, 0.5)
    // any visiting order gives the same rows
    val forward = (0L until 100L).map(m1.vector(_).toSeq)
    val backward = (99L to 0L by -1L).map(m2.vector(_).toSeq).reverse
    assert(forward == backward)
    assert(m1.query(0L).toSeq != m1.vector(0L).toSeq)
    assert((0L until 1000L).map(m1.label).toSet == Set(0, 1, 2, 3))
  }

  test("BM25 queries use three distinct frequent words") {
    (0L until 50L).foreach { i =>
      val ws = docs.query(i).split(' ')
      assert(ws.length == 3 && ws.distinct.length == 3)
      assert(ws.forall(w => w.drop(1).toInt < 200))
    }
  }
}
