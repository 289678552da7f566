package perfbench

/** Exact top-k in plain Scala over vectors regenerated from their ids —
  * the reference every engine answer is checked against. It shares no code
  * with the engine.
  */
final class GroundTruth(val dim: Int) {
  private var ids = new Array[Long](1024)
  private var flat = new Array[Float](1024 * dim)
  private var n = 0

  def size: Int = n

  def add(id: Long, v: Array[Float]): Unit = {
    require(v.length == dim, s"vector of dim ${v.length}, expected $dim")
    if (n == ids.length) {
      ids = java.util.Arrays.copyOf(ids, n * 2)
      flat = java.util.Arrays.copyOf(flat, n * 2 * dim)
    }
    ids(n) = id
    System.arraycopy(v, 0, flat, n * dim, dim)
    n += 1
  }

  private def sqDist(q: Array[Float], row: Int): Double = {
    var s = 0.0
    val off = row * dim
    var j = 0
    while (j < dim) {
      val d = q(j).toDouble - flat(off + j)
      s += d * d
      j += 1
    }
    s
  }

  /** The k nearest rows passing `keep`, as (id, L2 distance) ascending. */
  def topK(q: Array[Float], k: Int, keep: Long => Boolean = _ => true): Array[(Long, Double)] = {
    // max-heap on distance holding the best k seen so far
    val heap = new java.util.PriorityQueue[(Long, Double)](
      k + 1, (a: (Long, Double), b: (Long, Double)) => java.lang.Double.compare(b._2, a._2))
    var r = 0
    while (r < n) {
      if (keep(ids(r))) {
        val d = sqDist(q, r)
        if (heap.size < k) heap.add((ids(r), d))
        else if (d < heap.peek()._2) { heap.poll(); heap.add((ids(r), d)) }
      }
      r += 1
    }
    val out = new Array[(Long, Double)](heap.size)
    var i = out.length - 1
    while (!heap.isEmpty) { val (id, d) = heap.poll(); out(i) = (id, math.sqrt(d)); i -= 1 }
    out
  }
}

object GroundTruth {

  def distance(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j).toDouble - b(j); s += d * d; j += 1 }
    math.sqrt(s)
  }

  /** Share of `truth` ids present in `got`. */
  def recall(got: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0 else truth.count(got.toSet).toDouble / truth.length

  /** Engine distances are float; compare at float precision. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-4 * math.max(1.0, math.abs(b))
}
