package perfbench

/** Plain-Scala BM25 over whitespace tokens, for checking the engine's
  * rankings. It follows the formula `graft.ops.Lexical` documents, with
  * none of its code: the rational idf `(N - df + 0.5) / (df + 0.5)`,
  * Lucene's k1 = 1.2 and b = 0.75, and each term's contribution rounded to
  * an integer in units of 1e-9 before the terms are summed (`score_e9`).
  * Corpus statistics cover every document in `docs`; term frequencies are
  * kept for the `terms` the queries can use.
  */
final class Bm25Reference(docs: Iterable[(Long, String)], terms: Set[String],
    k1: Double = 1.2, b: Double = 0.75) {

  private def tokens(s: String): Array[String] = s.trim.split("\\s+").filter(_.nonEmpty)

  /** (id, doc length, tf of each query term it contains) */
  private val rows: Array[(Long, Long, Map[String, Long])] = docs.iterator.map { case (id, text) =>
    val ws = tokens(text)
    (id, ws.length.toLong, ws.iterator.filter(terms).toSeq.groupBy(identity).map {
      case (t, occ) => t -> occ.size.toLong
    })
  }.toArray

  private val n: Long = rows.length.toLong
  private val sumdl: Long = rows.iterator.map(_._2).sum
  private val df: Map[String, Long] =
    rows.iterator.flatMap(_._3.keys).toSeq.groupBy(identity).map { case (t, o) => t -> o.size.toLong }

  private def contribution(t: String, tf: Long, dl: Long): Long = {
    val d = df(t)
    val idf = (n - d + 0.5) / (d + 0.5)
    val num = tf * (k1 + 1)
    val den = tf + k1 * ((1 - b) + b * (dl / (sumdl / n.toDouble)))
    math.round(idf * (num / den) * 1e9)
  }

  /** Every document sharing a term with `query`, with its `score_e9`,
    * best first, ties broken by id.
    */
  def ranking(query: String): Seq[(Long, Long)] = {
    val qt = tokens(query).distinct
    rows.iterator.flatMap { case (id, dl, tf) =>
      val hit = qt.filter(tf.contains)
      if (hit.isEmpty) None else Some(id -> hit.map(t => contribution(t, tf(t), dl)).sum)
    }.toSeq.sortBy { case (id, s) => (-s, id) }
  }
}
