package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.types._

import graft.ivf.IndexStore
import graft.plans.VectorTopKRule
import graft.streaming.IndexIngest

/** Streaming appends beside reads: each step lands a batch, ingests it
  * (incremental index maintenance), reads one appended row back, then runs
  * steady top-k queries over the grown table.
  */
final class IngestWorkload(seed: Long) extends Workload {
  import Ann._
  import IngestWorkload._

  val Base = 30000L
  val Batch = 3000L
  /** 2 of the √30k ≈ 174 cells the base trains: recall near 0.97, where
    * 1 cell gives about 0.7.
    */
  val Nprobe = 2
  val SteadyPerStep = 2

  val classes = Seq("append", "fresh_topk", "topk")
  private val mix = Gen.Mixture(seed, Dim, Centres, Spread)
  private val rng = new Gen.Rng(Gen.mix(seed, 78L))
  private var fresh = 1000L

  private var landing = ""
  private var table = ""
  private var checkpoint = ""
  private var store: IndexStore = _
  private var nextId = 0L
  private var appendedInWindow = 0L
  private var indexBytesAtStart = 0L
  private var dataBytesAtStart = 0L
  private val buildTimes = ArrayBuffer.empty[Double]
  private val buildIntervals = ArrayBuffer.empty[(Double, Double)]
  private val counters = new CacheCounters

  private val reads = ArrayBuffer.empty[Read]
  private val appends = ArrayBuffer.empty[(String, Long)]

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("label", IntegerType),
    StructField("embedding", ArrayType(FloatType))))

  private def ingest(h: Harness): Long =
    IndexIngest.ingest(h.spark, h.spark.readStream.schema(schema).parquet(landing),
      table, "embedding", store, checkpointDir = Some(checkpoint))

  def setup(h: Harness, dir: String): Unit = {
    landing = s"$dir/landing"
    table = s"$dir/table"
    checkpoint = s"$dir/checkpoint"
    store = new IndexStore(s"$dir/index")
    writeVectors(h.spark, mix, 0L, Base, 1, landing)
    val b0 = h.tracer.nowMs()
    val (_, buildS) = Harness.timeS(ingest(h))
    buildTimes += buildS
    buildIntervals += ((b0, h.tracer.nowMs()))
    h.spark.conf.set(VectorTopKRule.IndexDirKey, store.dir)
    h.spark.conf.set(VectorTopKRule.NprobeKey, Nprobe.toString)
    nextId = Base
  }

  private def sql(h: Harness, q: Array[Float]): SqlAnswer = {
    h.spark.read.parquet(table).createOrReplaceTempView("vecs")
    runSql(h, topkSql("vecs", q, K, None))
  }

  def warmup(h: Harness): Unit = step(h)

  def step(h: Harness): Unit = {
    if (h.recording && appends.isEmpty) {
      counters.start()
      indexBytesAtStart = h.bytesUnder(store.dir)
      dataBytesAtStart = h.bytesUnder(table)
    }
    val from = nextId
    // the producer lands the batch; only the ingest call is the append op
    writeVectors(h.spark, mix, from, from + Batch, 1, landing)
    nextId = from + Batch
    h.op("append")(_ => h.call("streaming", "ingest")(ingest(h)))
      .foreach(n => if (h.recording) { appends += ((h.ops.last.id, n)); appendedInWindow += Batch })
    val probe = from + rng.nextInt(Batch.toInt)
    h.op("fresh_topk")(id => (id, sql(h, mix.vector(probe)))).foreach { case (id, a) =>
      if (h.recording) reads += Read(id, -1, probe, nextId, a)
    }
    (1 to SteadyPerStep).foreach { _ =>
      fresh += 1
      val qIdx = fresh
      h.op("topk")(id => (id, sql(h, mix.query(qIdx)))).foreach { case (id, a) =>
        if (h.recording) reads += Read(id, qIdx, -1, nextId, a)
      }
    }
    counters.stop()
  }

  private def query(r: Read): Array[Float] =
    if (r.probe >= 0) mix.vector(r.probe) else mix.query(r.qIdx)

  /** Rows the read ranks: each append lands its own files, so a read saw
    * exactly the files whose rows were all visible then.
    */
  private def candidates(byFile: Map[String, Array[Long]], r: Read): Seq[Long] =
    candidateIds(store, byFile.filter(_._2.forall(_ < r.rowsVisible)), query(r), Nprobe)

  private val recalls = ArrayBuffer.empty[Double]

  def verify(h: Harness): Unit = {
    appends.foreach { case (id, batches) =>
      h.check(id, batches >= 1, s"ingest processed $batches batches")
    }
    appends.lastOption.foreach { case (id, _) =>
      val rows = h.spark.read.parquet(table).count()
      h.check(id, rows == nextId, s"table holds $rows rows, $nextId landed")
    }
    lazy val truth = {
      val gt = new GroundTruth(Dim)
      var id = 0L
      while (id < nextId) { gt.add(id, mix.vector(id)); id += 1 }
      gt
    }
    val byFile = idsByFile(h.spark, table)
    reads.foreach { r =>
      val q = query(r)
      checkTopK(h, r.id, r.answer.rows.toSeq, K, mix.vector, q, candidates(byFile, r).size)
      // read-your-writes: an appended row is its own exact nearest neighbour
      if (r.probe >= 0) h.check(r.id, r.answer.rows.headOption.exists(_._1 == r.probe),
        s"appended row ${r.probe} not at rank 1")
      recalls += GroundTruth.recall(r.answer.rows.map(_._1).toSeq,
        truth.topK(q, K, _ < r.rowsVisible).map(_._1).toSeq)
    }
    checkRecall(h, reads.map(_.id).toSeq, recalls.toSeq)
  }

  def endToEnd(h: Harness): Map[String, Double] = Map(
    "throughput_per_s" -> appendedInWindow / h.windowS,
    "quality" -> recalls.sum / math.max(1, recalls.size),
    // what the window's appends added, so the ratio does not depend on
    // how many steps the window held
    "index_bytes_per_data_byte" -> (h.bytesUnder(store.dir) - indexBytesAtStart).toDouble /
      (h.bytesUnder(table) - dataBytesAtStart))

  def perLayer(h: Harness, l: Layers): Map[String, Double] = {
    val sql = reads.map(_.answer)
    val n = math.max(1, sql.size)
    val appendOps = h.ops.filter(_.cls == "append")
    val nApp = math.max(1, appendOps.size)
    val triggers = l.allTriggers.filter(t =>
      appendOps.exists(o => o.start - 1 <= t.start && t.start <= o.end + 1))
    def phase(k: String) =
      triggers.map(_.durations.getOrElse(k, 0L)).sum.toDouble / math.max(1, triggers.size)
    val jobOp = l.jobOps(h.ops.toSeq)
    val byFile = idsByFile(h.spark, table)
    val cands = reads.map(r => candidates(byFile, r).size.toLong)
    val (jobS, driverS) = buildSplit(l, buildIntervals.toSeq)
    counters.metrics ++ Map(
      "plans.plan_ms_per_query" -> sql.map(_.planMs).sum / n,
      "plans.analysis_ms" -> sql.map(_.analysisMs).sum / n,
      "plans.optimizer_ms" -> sql.map(_.optimizerMs).sum / n,
      "plans.rewrite_rate" -> sql.count(_.rewritten).toDouble / n,
      "plans.candidate_rows_per_query" -> cands.sum.toDouble / n,
      "plans.embeddings_fetched_per_query" -> sql.map(_.embeddingsFetched).sum.toDouble / n,
      "ivf.useful_ratio" -> sql.map(_.rows.length.toLong).sum.toDouble / math.max(1L, cands.sum),
      "ivf.sidecar_bytes_written" -> (h.bytesUnder(store.dir) - indexBytesAtStart).toDouble,
      "ivf.build_s" -> Stats.median(buildTimes.toSeq),
      "ivf.build_job_s" -> jobS,
      "ivf.build_driver_s" -> driverS,
      "streaming.triggers_per_append" -> triggers.size.toDouble / nApp,
      "streaming.jobs_per_append" -> jobOp.values.count(_.cls == "append").toDouble / nApp,
      "streaming.addBatch_ms" -> phase("addBatch"),
      "streaming.walCommit_ms" -> phase("walCommit"),
      "streaming.latestOffset_ms" -> phase("latestOffset"),
      "streaming.commitOffsets_ms" -> phase("commitOffsets"))
  }
}

object IngestWorkload {
  /** One read: a fresh-row probe (`probe` >= 0) or a steady query
    * (`qIdx` >= 0), with the rows visible when it ran.
    */
  final case class Read(id: String, qIdx: Long, probe: Long, rowsVisible: Long,
      answer: Ann.SqlAnswer)
}
