package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col

import graft.ivf.{IndexManager, IndexStore, IvfBuilder, VectorTopK}
import graft.plans.VectorTopKRule

/** Pieces shared by the two ANN workloads. */
object Ann {
  val Dim = 128
  val Centres = 64
  /** Per-coordinate noise around unit-variance centres. With each
    * workload's nprobe it puts recall@k inside 0.85-0.97 at the default √n
    * cells, where a change that trades quality for speed shows.
    */
  val Spread = 0.6
  val K = 10

  def writeVectors(spark: SparkSession, mix: Gen.Mixture, from: Long, until: Long,
      files: Int, dir: String): Unit = {
    import spark.implicits._
    spark.range(from, until, 1, files)
      .map(id => (id.longValue, mix.label(id), mix.vector(id)))
      .toDF("id", "label", "embedding")
      .write.mode("append").parquet(dir)
  }

  def literal(q: Array[Float]): String = q.map(x => s"${x}F").mkString("array(", ",", ")")

  /** The filter-free (or label-filtered) SQL top-k the rule rewrites. */
  def topkSql(view: String, q: Array[Float], k: Int, label: Option[Int]): String = {
    val lit = literal(q)
    s"SELECT id, array_distance(embedding, $lit) AS dist FROM $view" +
      label.fold("")(l => s" WHERE label = $l") +
      s" ORDER BY array_distance(embedding, $lit) LIMIT $k"
  }

  /** Sum of SQLMetric `name` over an executed plan, adaptive stages and
    * subqueries included.
    */
  def planMetric(plan: SparkPlan, name: String): Long = {
    val own = plan.metrics.get(name).map(_.value).getOrElse(0L)
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case p => p.children ++ p.subqueries
    }
    own + kids.map(planMetric(_, name)).sum
  }

  /** What one SQL top-k returned, and what planning it cost. */
  final case class SqlAnswer(
      rows: Array[(Long, Double)], planMs: Double, analysisMs: Double, optimizerMs: Double,
      rewritten: Boolean, embeddingsFetched: Long)

  /** Plans (forcing the executed plan) and then runs `sql`. */
  def runSql(h: Harness, sql: String): SqlAnswer = {
    val df: DataFrame = h.spark.sql(sql)
    val (_, planS) = Harness.timeS(h.call("plans", "plan")(df.queryExecution.executedPlan))
    val phases = df.queryExecution.tracker.phases
    def phaseMs(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val rows = h.call("ivf", "execute")(df.collect())
      .map(r => (r.getLong(0), r.getFloat(1).toDouble))
    SqlAnswer(rows, planS * 1e3, phaseMs("analysis"), phaseMs("optimization"),
      graft.Graft.tierResolution(df).isDefined,
      planMetric(df.queryExecution.executedPlan, "embeddingsFetched"))
  }

  /** File-local row ordinal -> id, per data file under `dir`. */
  def idsByFile(spark: SparkSession, dir: String): Map[String, Array[Long]] = {
    import spark.implicits._
    spark.read.parquet(dir)
      .select(col("_metadata.file_path"), col("_metadata.row_index"), col("id"))
      .as[(String, Long, Long)].collect()
      .groupBy(r => IndexStore.canonicalPath(r._1))
      .map { case (f, rs) => f -> rs.sortBy(_._2).map(_._3) }
  }

  /** Ids of the rows an nprobe probe of `q` ranks, over `files`. Read after
    * the window, so these index loads stay out of the cache counters.
    */
  def candidateIds(store: IndexStore, files: Map[String, Array[Long]], q: Array[Float],
      nprobe: Int): Seq[Long] =
    files.toSeq.flatMap { case (f, ids) =>
      IndexManager.loadIndex(store, f, "embedding").candidateRows(q, nprobe).map(ri => ids(ri))
    }

  /** Checks a top-k answer's size, order and distances. The engine ranks
    * only the rows in the probed cells, so when fewer than k of them pass
    * the query's filter, it returns all of them: `available` counts them.
    */
  def checkTopK(h: Harness, id: String, got: Seq[(Long, Double)], k: Int,
      vec: Long => Array[Float], q: Array[Float], available: => Int): Unit = {
    h.check(id, got.size == k || got.size == math.min(k, available),
      s"${got.size} rows, expected $k or every one of $available candidates")
    h.check(id, got.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) <= p(1)),
      "distances not ascending")
    got.foreach { case (rid, d) =>
      val truth = GroundTruth.distance(vec(rid), q)
      h.check(id, GroundTruth.close(d, truth), s"row $rid: distance $d, recomputed $truth")
    }
  }

  /** One query may legitimately miss most of its neighbours at a low
    * nprobe; a run whose mean recall falls below one half is broken.
    */
  def checkRecall(h: Harness, ids: Seq[String], recalls: Seq[Double]): Unit =
    if (recalls.nonEmpty) {
      val mean = recalls.sum / recalls.size
      ids.foreach(id => h.check(id, mean >= 0.5, s"mean recall $mean"))
    }

  /** Counter deltas of the engine's caches over the window. */
  final class CacheCounters {
    private def read(): Seq[Long] = {
      val (ph, pm) = VectorTopKRule.planCacheStats
      val (dh, dm) = IndexManager.decodedCacheStats
      val (mh, mm) = IndexStore.probeCacheStats
      Seq(ph, pm, dh, dm, mh, mm)
    }
    private var begin = read()
    private var delta = Seq.fill(6)(0L)
    def start(): Unit = begin = read()
    def stop(): Unit = delta = read().zip(begin).map { case (a, b) => a - b }
    private def rate(h: Long, m: Long) = if (h + m == 0) 0.0 else h.toDouble / (h + m)
    def metrics: Map[String, Double] = Map(
      "plans.plan_cache_hit_rate" -> rate(delta(0), delta(1)),
      "ivf.decoded_cache_hit_rate" -> rate(delta(2), delta(3)),
      "ivf.probe_memo_hit_rate" -> rate(delta(4), delta(5)))
  }

  /** Job-covered and driver-only parts of timed intervals, medians over
    * the intervals: the build split into distributed work and the rest.
    */
  def buildSplit(l: Layers, builds: Seq[(Double, Double)]): (Double, Double) = {
    val splits = builds.map { case (s, e) =>
      val jobs = l.allJobs.filter(j => s <= j.start && j.start <= e).map(j => (j.start, j.end))
      val driver = Stats.uncovered(s, e, jobs)
      ((e - s - driver) / 1e3, driver / 1e3)
    }
    if (splits.isEmpty) (0.0, 0.0)
    else (Stats.median(splits.map(_._1)), Stats.median(splits.map(_._2)))
  }
}

/** Read-only ANN serving over a static indexed corpus. */
final class ServeWorkload(seed: Long) extends Workload {
  import Ann._
  import ServeWorkload._

  /** Rows, written in arrival (id) order over [[Files]] files. */
  val N = 50000L
  /** 2 of the √n ≈ 224 cells, about 3.5 per mixture centre. */
  val Nprobe = 2
  val Files = 8
  val SearchK = 100
  /** Hot query vectors. With a fixed label each, they make 2 × [[Hot]] SQL
    * plans, well inside the 64-entry plan cache even with fresh plans
    * passing through; warm-up plans every one of them once.
    */
  val Hot = 4

  val classes = Seq("topk", "topk_filtered", "search")
  private val mix = Gen.Mixture(seed, Dim, Centres, Spread)
  private val rng = new Gen.Rng(Gen.mix(seed, 77L))
  private var fresh = 1000L

  private var dataDir = ""
  private var store: IndexStore = _
  private val buildTimes = ArrayBuffer.empty[Double]
  private val buildIntervals = ArrayBuffer.empty[(Double, Double)]
  private var dataBytes = 0L
  private var indexBytes = 0L
  private val counters = new CacheCounters

  private val reqs = ArrayBuffer.empty[Req]

  def setup(h: Harness, dir: String): Unit = {
    dataDir = s"$dir/corpus"
    store = new IndexStore(s"$dir/index")
    writeVectors(h.spark, mix, 0L, N, Files, dataDir)
    val b0 = h.tracer.nowMs()
    val (_, buildS) = Harness.timeS(
      IvfBuilder.build(h.spark, dataDir, IvfBuilder.Config("embedding"), store))
    buildTimes += buildS
    buildIntervals += ((b0, h.tracer.nowMs()))
    h.spark.conf.set(VectorTopKRule.IndexDirKey, store.dir)
    h.spark.conf.set(VectorTopKRule.NprobeKey, Nprobe.toString)
    h.spark.read.parquet(dataDir).createOrReplaceTempView("vecs")
    dataBytes = h.bytesUnder(dataDir)
    indexBytes = h.bytesUnder(store.dir)
  }

  private lazy val truth: GroundTruth = {
    val gt = new GroundTruth(Dim)
    var id = 0L
    while (id < N) { gt.add(id, mix.vector(id)); id += 1 }
    gt
  }

  private var sent = 0L

  /** The mix is a fixed cycle, so every window holds the same share of
    * each class and of hot requests: classes cycle topk, topk_filtered,
    * topk, search (50/25/25%) and every fifth request repeats a hot vector
    * (20%). Vectors and labels are drawn from the seed.
    */
  private def nextRequest(): (String, Long, Option[Int]) = {
    val cls = Seq("topk", "topk_filtered", "topk", "search")((sent % 4).toInt)
    val qIdx = if (sent % 5 == 4) rng.nextInt(Hot).toLong else { fresh += 1; fresh }
    sent += 1
    (cls, qIdx, labelOf(cls, qIdx))
  }

  private def labelOf(cls: String, qIdx: Long): Option[Int] =
    if (cls != "topk_filtered") None
    else if (qIdx < Hot) Some((qIdx % 4).toInt)
    else Some(rng.nextInt(4))

  private def request(h: Harness): Unit = {
    val (cls, qIdx, label) = nextRequest()
    request(h, cls, qIdx, label)
  }

  private def request(h: Harness, cls: String, qIdx: Long, label: Option[Int]): Unit = {
    val q = mix.query(qIdx)
    h.op(cls) { id =>
      if (cls == "search") {
        val res = h.call("ivf", "search")(VectorTopK.search(
          h.spark, dataDir, "embedding", q.toSeq, SearchK,
          VectorTopK.Options(nprobe = Nprobe), store).collect())
        Req(id, cls, qIdx, None, res.map(r => (r.row_idx, r.distance.toDouble)).toSeq, None)
      } else {
        val a = runSql(h, topkSql("vecs", q, K, label))
        Req(id, cls, qIdx, label, a.rows.toSeq, Some(a))
      }
    }.foreach(r => if (h.recording) reqs += r)
  }

  /** Plans every hot SQL request once (search has no plan to cache, so
    * two of those only warm its code path).
    */
  def warmup(h: Harness): Unit =
    for (cls <- classes; qIdx <- 0L until (if (cls == "search") 2L else Hot))
      request(h, cls, qIdx, labelOf(cls, qIdx))

  def step(h: Harness): Unit = {
    if (reqs.isEmpty) counters.start()
    request(h)
    counters.stop()
  }

  private val recalls = ArrayBuffer.empty[Double]

  def verify(h: Harness): Unit = {
    val byFile = idsByFile(h.spark, dataDir)
    reqs.foreach { r =>
      val q = mix.query(r.qIdx)
      if (r.cls == "search") {
        // row_idx is file-local: the row is the file whose row at that
        // ordinal lies at the reported distance
        val ids = r.got.flatMap { case (ri, d) =>
          val hit = byFile.valuesIterator
            .filter(a => ri >= 0 && ri < a.length)
            .map(a => a(ri.toInt))
            .find(id => GroundTruth.close(d, GroundTruth.distance(mix.vector(id), q)))
          h.check(r.id, hit.isDefined, s"row_idx $ri at distance $d matches no row")
          hit.map(id => (id, d))
        }
        checkTopK(h, r.id, ids, SearchK, mix.vector, q,
          candidateIds(store, byFile, q, Nprobe).size)
        recalls += GroundTruth.recall(ids.map(_._1), truth.topK(q, SearchK).map(_._1).toSeq)
      } else {
        val keep: Long => Boolean = r.label.fold((_: Long) => true)(l => id => mix.label(id) == l)
        checkTopK(h, r.id, r.got, K, mix.vector, q,
          candidateIds(store, byFile, q, Nprobe).count(keep))
        r.label.foreach(l => h.check(r.id, r.got.forall(g => mix.label(g._1) == l), "label filter"))
        recalls += GroundTruth.recall(r.got.map(_._1), truth.topK(q, K, keep).map(_._1).toSeq)
      }
    }
    checkRecall(h, reqs.map(_.id).toSeq, recalls.toSeq)
  }

  def endToEnd(h: Harness): Map[String, Double] = Map(
    "throughput_per_s" -> h.ops.size / h.windowS,
    "quality" -> recalls.sum / math.max(1, recalls.size),
    "index_bytes_per_data_byte" -> indexBytes.toDouble / dataBytes)

  def perLayer(h: Harness, l: Layers): Map[String, Double] = {
    val sql = reqs.flatMap(_.plan)
    val n = math.max(1, sql.size)
    val byFile = idsByFile(h.spark, dataDir)
    val cands = reqs.map(r => candidateIds(store, byFile, mix.query(r.qIdx), Nprobe).size.toLong)
    val returned = reqs.map(_.got.size.toLong)
    val (jobS, driverS) = buildSplit(l, buildIntervals.toSeq)
    counters.metrics ++ Map(
      "plans.plan_ms_per_query" -> sql.map(_.planMs).sum / n,
      "plans.analysis_ms" -> sql.map(_.analysisMs).sum / n,
      "plans.optimizer_ms" -> sql.map(_.optimizerMs).sum / n,
      "plans.rewrite_rate" -> sql.count(_.rewritten).toDouble / n,
      "plans.candidate_rows_per_query" -> cands.sum.toDouble / math.max(1, cands.size),
      "plans.embeddings_fetched_per_query" -> sql.map(_.embeddingsFetched).sum.toDouble / n,
      "ivf.useful_ratio" -> returned.sum.toDouble / math.max(1L, cands.sum),
      "ivf.sidecar_bytes_written" -> indexBytes.toDouble,
      "ivf.build_s" -> Stats.median(buildTimes.toSeq),
      "ivf.build_job_s" -> jobS,
      "ivf.build_driver_s" -> driverS)
  }
}

object ServeWorkload {
  /** One served request and its answer; `plan` is set for SQL requests. */
  final case class Req(id: String, cls: String, qIdx: Long, label: Option[Int],
      got: Seq[(Long, Double)], plan: Option[Ann.SqlAnswer])
}
