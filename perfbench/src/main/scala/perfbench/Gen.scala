package perfbench

/** Seeded generators. Every row is a pure function of (seed, id), so the
  * data is identical under any partitioning or write order, and the
  * benchmark can regenerate any row outside the engine to check answers.
  */
object Gen {

  /** splitmix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def mix(a: Long, b: Long): Long = mix(mix(a) ^ b)
  def mix(a: Long, b: Long, c: Long): Long = mix(mix(a, b) ^ c)

  /** Small splitmix64 stream; enough quality for synthetic data. */
  final class Rng(seed: Long) {
    private var state = seed
    def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; mix(state) }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
    def nextGaussian(): Double = {
      // Box-Muller; 1 - u keeps the log argument in (0, 1]
      val u = 1.0 - nextDouble()
      val v = nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
    }
  }

  private val CorpusSalt = 1L
  private val QuerySalt = 2L
  private val CentreSalt = 3L
  private val LabelSalt = 4L
  private val DocSalt = 5L

  /** Gaussian mixture in `dim` dimensions: `centres` unit-variance centres,
    * each point its centre plus N(0, spread²) noise per coordinate. The
    * spread sets how much cells overlap, and so what recall a given
    * nprobe reaches.
    */
  final case class Mixture(seed: Long, dim: Int, centres: Int, spread: Double) {
    private val centre: Array[Array[Double]] = Array.tabulate(centres) { c =>
      val r = new Rng(mix(seed, CentreSalt, c.toLong))
      Array.fill(dim)(r.nextGaussian())
    }

    private def draw(r: Rng): Array[Float] = {
      val c = centre(r.nextInt(centres))
      Array.tabulate(dim)(j => (c(j) + spread * r.nextGaussian()).toFloat)
    }

    /** Corpus row `id`. */
    def vector(id: Long): Array[Float] = draw(new Rng(mix(seed, CorpusSalt, id)))

    /** Query `i`: a fresh draw from the same mixture, never a corpus row. */
    def query(i: Long): Array[Float] = draw(new Rng(mix(seed, QuerySalt, i)))

    /** Residual-filter label of corpus row `id`, uniform in [0, 4). */
    def label(id: Long): Int = java.lang.Math.floorMod(mix(seed, LabelSalt, id), 4L).toInt
  }

  /** Documents with planted duplicates. Ids come in blocks of ten:
    * position 0 is a base document, 1 a near-duplicate of it with two word
    * substitutions, 2 an exact copy of it, and 3-9 unique documents, of
    * which position 9 is too short to pass the quality filter.
    */
  final case class Docs(seed: Long, vocab: Int = 4000) {
    // Zipf(0.7) over the vocabulary: frequent words recur across documents
    // (BM25 has postings to rank) without repeating inside one document
    // often enough to trip the quality filter's n-gram rule
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1.0, 0.7))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }

    private def word(rank: Int): String = "w" + rank

    private def drawWord(r: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }

    private def words(r: Rng, n: Int): Array[Int] = Array.fill(n)(drawWord(r))

    private def baseWords(block: Long): Array[Int] = {
      val r = new Rng(mix(seed, DocSalt, block))
      words(r, 30 + r.nextInt(31))
    }

    def text(id: Long): String = {
      val block = id / 10
      val ws = (id % 10).toInt match {
        case 0 | 2 => baseWords(block)
        case 1 =>
          val w = baseWords(block).clone()
          val r = new Rng(mix(seed, DocSalt + 1, block))
          // two distinct positions, each replaced by a word outside the vocab
          // so the substitution always changes the document
          val p1 = r.nextInt(w.length)
          val p2 = (p1 + 1 + r.nextInt(w.length - 1)) % w.length
          w(p1) = vocab + r.nextInt(vocab)
          w(p2) = vocab + r.nextInt(vocab)
          w
        case 9 =>
          words(new Rng(mix(seed, DocSalt + 2, id)), 12)
        case _ =>
          val r = new Rng(mix(seed, DocSalt + 2, id))
          words(r, 30 + r.nextInt(31))
      }
      ws.iterator.map(word).mkString(" ")
    }

    /** BM25 query `i`: three distinct words from the 200 most frequent. */
    def query(i: Long): String = {
      val r = new Rng(mix(seed, DocSalt + 3, i))
      Iterator.continually(r.nextInt(200)).distinct.take(3).map(word).mkString(" ")
    }
  }
}
