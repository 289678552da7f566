package perfbench

import org.scalatest.funsuite.AnyFunSuite

class Bm25ReferenceSpec extends AnyFunSuite {

  // N = 3 documents, 6 tokens, so avgdl = 2; "a" and "c" each have df = 2,
  // so both have idf (3 - 2 + 0.5) / (2 + 0.5) = 0.6
  private val ref = new Bm25Reference(Seq(1L -> "a b", 2L -> " a  a c ", 3L -> "c"), Set("a", "c"))

  test("scores follow the rational-idf formula, rounded per term") {
    // doc 1: tf 1, dl 2 -> 0.6 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 1)) = 0.6
    // doc 2: tf 2, dl 3 -> 0.6 * 4.4 / (2 + 1.2 * (0.25 + 0.75 * 1.5))
    assert(ref.ranking("a") == Seq(2L -> 723287671L, 1L -> 600000000L))
  }

  test("multi-term scores sum the terms; documents without a term are left out") {
    assert(ref.ranking("c a a") == Seq(2L -> (723287671L + 498113208L), 3L -> 754285714L,
      1L -> 600000000L))
    assert(ref.ranking("b") == Nil) // "b" is not a tracked term
    assert(ref.ranking("z") == Nil)
  }

  test("ties rank by id") {
    val tied = new Bm25Reference(Seq(5L -> "x y", 4L -> "x y", 6L -> "y y"), Set("x"))
    assert(tied.ranking("x").map(_._1) == Seq(4L, 5L))
  }
}
