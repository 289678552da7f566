package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.{Dedup, Lexical, TextAnalysis}

/** Batch curation: each step is one pass of exact dedup, MinHash near-dup
  * clustering, quality filtering, a postings build over the survivors and
  * a batch of BM25 queries against it. The window is exactly one pass,
  * after one full warm-up pass, so what is timed does not depend on how
  * many passes the window would hold.
  */
final class CurateWorkload(seed: Long) extends Workload {
  import CurateWorkload._

  val Docs = 10000L
  val Queries = 50
  val K = 10
  val Buckets = 4

  val classes = Seq("dedup", "postings", "bm25")
  private val gen = Gen.Docs(seed)

  private var root = ""
  private var docsDir = ""
  private var pass = 0
  private var queries: DataFrame = _

  private val passes = ArrayBuffer.empty[Pass]
  private val passWalls = ArrayBuffer.empty[Double]

  override val windowSteps = Some(1)

  def setup(h: Harness, dir: String): Unit = {
    import h.spark.implicits._
    root = dir
    docsDir = s"$dir/docs"
    val g = gen // the closure must not capture the workload
    h.spark.range(0, Docs, 1, 4)
      .map(id => (id.longValue, g.text(id)))
      .toDF("id", "text")
      .write.parquet(docsDir)
    queries = (0 until Queries).map(i => (i, gen.query(i.toLong))).toDF("qid", "qtext")
  }

  /** A first pass is markedly slower than the next (JIT, code generation),
    * so warm-up is a full pass over the same corpus.
    */
  def warmup(h: Harness): Unit = step(h)

  def step(h: Harness): Unit = {
    pass += 1
    val out = s"$root/pass-$pass"
    val prefix = s"curate_p$pass"
    val survivors = s"$out/survivors"
    val dedupOp = h.op("dedup") { id =>
      val docs = h.spark.read.parquet(docsDir)
      val firsts = h.call("ops", "exact")(Dedup.exact(docs, col("text"), col("id")))
      val unique = docs.join(firsts, docs("id") === firsts("doc_id"), "left_semi")
      val pairs = h.call("ops", "minhashNearDupPairs")(
        Dedup.minhashNearDupPairs(unique, "id", "text"))
      val clusters = h.call("ops", "connectedComponents")(
        Dedup.connectedComponents(pairs, "doc_a", "doc_b"))
      val kept = h.call("ops", "keepRepresentatives")(
        Dedup.keepRepresentatives(unique, "id", clusters))
      h.call("ops", "qualityKeep")(
        kept.where(TextAnalysis.qualityKeep(col("text"))).write.parquet(survivors))
      clusters.unpersist()
      id
    }
    val snapshot = h.op("postings") { id =>
      (id, h.call("ops", "writePostings")(
        Lexical.writePostings(h.spark.read.parquet(survivors), "id", "text", prefix, Buckets)))
    }
    val hits = snapshot.flatMap { case (_, snap) =>
      h.op("bm25") { id =>
        val rows = h.call("ops", "bm25BulkTopK")(
          Lexical.bm25BulkTopK(h.spark, snap, queries, "qid", "qtext", K).collect())
        (id, rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq)
      }
    }
    // outside the ops: keep what the checks need, then drop the pass's output
    if (h.recording) for (d <- dedupOp; (pid, _) <- snapshot; hs <- hits) {
      import h.spark.implicits._
      val ids = h.spark.read.parquet(survivors).select("id").as[Long].collect().toSet
      val postingsBytes = Seq("postings", "df", "dl", "stats")
        .map(t => h.bytesUnder(s"${h.args.root}/warehouse/${prefix}_$t")).sum
      passes += Pass((d, ids), hs, h.bytesUnder(survivors), postingsBytes)
      passWalls += h.ops.takeRight(3).map(o => o.end - o.start).sum / 1e3
      h.check(pid, postingsBytes > 0, "postings tables empty")
    }
    Seq("postings", "df", "dl", "stats").foreach(t => h.spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    h.deleteTree(out)
  }

  private val recalls = ArrayBuffer.empty[Double]

  def verify(h: Harness): Unit = passes.foreach { p =>
    val (dedupId, ids) = p.ids
    val blocks = Docs / 10
    var baseKept = 0
    var nearDupRemoved = 0
    (0L until blocks).foreach { b =>
      val base = b * 10
      if (ids.contains(base)) {
        baseKept += 1
        if (!ids.contains(base + 1)) nearDupRemoved += 1
        h.check(dedupId, !ids.contains(base + 2), s"exact copy ${base + 2} survives beside its base")
      }
      h.check(dedupId, !ids.contains(base + 9), s"short document ${base + 9} passed quality")
    }
    h.check(dedupId, baseKept > blocks / 2, s"only $baseKept of $blocks bases survive")
    recalls += nearDupRemoved.toDouble / math.max(1, baseKept)

    // the rows come back unordered: rank them, then compare with a plain
    // BM25 over the survivors' regenerated text, score by score
    val (bm25Id, rows) = p.hits
    val byQuery = rows.groupBy(_._1)
    val texts = (0 until Queries).map(q => gen.query(q.toLong))
    val ref = new Bm25Reference(ids.toSeq.sorted.map(id => id -> gen.text(id)),
      texts.flatMap(_.split(' ')).toSet)
    (0 until Queries).foreach { qid =>
      val got = byQuery.getOrElse(qid, Nil).map(r => (r._2, r._3)).sortBy { case (d, s) => (-s, d) }
      val want = ref.ranking(texts(qid)).take(K)
      val wantScore = want.toMap
      h.check(bm25Id, got.size == K, s"query $qid returned ${got.size} rows")
      h.check(bm25Id, got.map(_._1).distinct.size == got.size, s"query $qid repeats a document")
      got.zip(want).zipWithIndex.foreach { case (((doc, score), (wdoc, wscore)), rank) =>
        h.check(bm25Id, ids.contains(doc), s"query $qid returned non-survivor $doc")
        // a tie may order two documents either way, so a rank holds when
        // its score matches, and a document when its own score does
        h.check(bm25Id, near(score, wscore),
          s"query $qid rank ${rank + 1}: $doc scores $score, reference $wdoc scores $wscore")
        wantScore.get(doc).foreach(w =>
          h.check(bm25Id, near(score, w), s"query $qid: $doc scores $score, reference $w"))
      }
    }
  }

  /** Each of a query's terms rounds its contribution once. */
  private def near(a: Long, b: Long): Boolean = math.abs(a - b) <= 3

  def endToEnd(h: Harness): Map[String, Double] =
    Map(
      "throughput_per_s" -> Docs / Stats.median(passWalls.toSeq),
      "quality" -> recalls.sum / math.max(1, recalls.size),
      "index_bytes_per_data_byte" ->
        passes.map(_.postingsBytes).sum.toDouble / math.max(1L, passes.map(_.survivorBytes).sum))

  def perLayer(h: Harness, l: Layers): Map[String, Double] = Map.empty
}

object CurateWorkload {
  /** What the checks need from one pass: survivor ids (with the dedup op's
    * id), BM25 hits (with the bm25 op's id) and artifact sizes.
    */
  final case class Pass(ids: (String, Set[Long]), hits: (String, Seq[(Int, Long, Long)]),
      survivorBytes: Long, postingsBytes: Long)
}
