package graft.plans

import java.nio.file.Files

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ivf.{IndexManager, IndexStore, IvfBuilder, VectorTopK}

/** The in-task candidate filter behind every float SQL top-k: one job,
  * exact at exhaustive nprobe however the scan splits files, and the
  * reference's round-robin `max_candidates` row set under a cap.
  */
class IvfCandidateFilterSpec extends SparkSpec {

  private val dim = 8
  private val query = Array.tabulate(dim)(i => 0.3f + 0.05f * i)
  private def vecLit: String = query.map(x => s"${x}F").mkString("array(", ",", ")")

  private lazy val storeDir = Files.createTempDirectory("graft-candfilter-store").toString

  /** `rows` random vectors in `files` files, sidecar-indexed with 6 cells. */
  private def fixture(rows: Int, files: Int, seed: Int, rowGroupBytes: Option[Int] = None): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val dir = Files.createTempDirectory("graft-candfilter-data").toString
    val df = (0 until rows).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat()), i % 4))
      .toDF("id", "vec", "label")
      .select(col("id"), col("vec").cast("array<float>").as("vec"), col("label"))
      .repartition(files)
    rowGroupBytes
      .fold(df.write)(b => df.write.option("parquet.block.size", b.toString))
      .mode("overwrite").parquet(dir)
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(6)),
      new IndexStore(storeDir))
    dir
  }

  private lazy val multiFile = fixture(rows = 300, files = 3, seed = 5)

  private def withRule[T](nprobe: Int, confs: (String, String)*)(body: => T): T = {
    graft.Graft.install(spark)
    val all = Seq(VectorTopKRule.IndexDirKey -> storeDir,
      VectorTopKRule.NprobeKey -> nprobe.toString) ++ confs
    val saved = all.map { case (key, _) => key -> spark.conf.getOption(key) }
    all.foreach { case (key, v) => spark.conf.set(key, v) }
    try body
    finally saved.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  private def topk(view: String, k: Int, where: String = "", cosine: Boolean = false): DataFrame = {
    val order =
      if (cosine) s"array_cosine_similarity(vec, $vecLit) DESC"
      else s"array_distance(vec, $vecLit)"
    spark.sql(s"SELECT id FROM $view $where ORDER BY $order LIMIT $k")
  }

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq

  /** The same query with the rewrite off. */
  private def brute(df: => DataFrame): Seq[Long] = {
    spark.conf.set(VectorTopKRule.EnabledKey, "false")
    try ids(df) finally spark.conf.set(VectorTopKRule.EnabledKey, "true")
  }

  private def assertInTask(df: DataFrame): Unit = {
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("IvfCandidateFilter") && !optimized.contains("LeftSemi"), optimized)
  }

  test("a rewritten float top-k runs as exactly one Spark job, filter-free and filtered") {
    spark.read.parquet(multiFile).createOrReplaceTempView("candfilter_jobs")
    withRule(nprobe = 6) {
      for {
        where <- Seq("", "WHERE label >= 2")
        cosine <- Seq(false, true)
      } {
        val (got, jobs) = JobCount.of(spark.sparkContext) {
          val df = topk("candfilter_jobs", 10, where, cosine)
          assertInTask(df)
          ids(df)
        }
        assert(jobs == 1, s"'$where' cosine=$cosine ran $jobs jobs")
        assert(got == brute(topk("candfilter_jobs", 10, where, cosine)), s"'$where' cosine=$cosine")
      }
    }
  }

  test("a file split across several tasks returns the brute-force rows at exhaustive nprobe") {
    // one file of ~10 row groups, read in ~8 KiB splits
    val dir = fixture(rows = 1000, files = 1, seed = 9, rowGroupBytes = Some(2048))
    assert(spark.read.parquet(dir).inputFiles.length == 1)
    spark.read.parquet(dir).createOrReplaceTempView("candfilter_split")
    val split = Seq("spark.sql.files.maxPartitionBytes" -> "8192",
      "spark.sql.files.openCostInBytes" -> "0")
    withRule(nprobe = 6, split: _*) {
      assert(spark.read.parquet(dir).rdd.getNumPartitions > 1, "fixture file is not split")
      for {
        where <- Seq("", "WHERE label >= 2")
        cosine <- Seq(false, true)
      } {
        val df = topk("candfilter_split", 20, where, cosine)
        assertInTask(df)
        assert(ids(df) == brute(topk("candfilter_split", 20, where, cosine)),
          s"'$where' cosine=$cosine")
      }
      // every split tests the same per-file candidate set, so each row is
      // counted once across tasks and the file is probed once per task
      val df = topk("candfilter_split", 20)
      df.collect()
      val exec = df.queryExecution.executedPlan.collectFirst {
        case e: IvfCandidateFilterExec => e
      }.getOrElse(fail(df.queryExecution.executedPlan.toString))
      assert(exec.metrics("candidateRows").value == 1000L)
      assert(exec.metrics("filesScanned").value > 1L)
    }
    // a cap keeps the same rows however the file is split
    val capped = VectorTopKRule.MaxCandidatesKey -> "37"
    val whole = withRule(nprobe = 3, capped)(ids(topk("candfilter_split", 100)).sorted)
    val parts = withRule(nprobe = 3, (capped +: split): _*)(ids(topk("candfilter_split", 100)).sorted)
    assert(whole.length == 37)
    assert(parts == whole)
  }

  test("the capped row set equals the round-robin set, for L2 and for cosine") {
    spark.read.parquet(multiFile).createOrReplaceTempView("candfilter_cap")
    val store = new IndexStore(storeDir)
    val files = IndexManager.listFiles(spark, multiFile)
    assert(files.length == 3)
    val idOf: Map[(String, Long), Long] = spark.read.parquet(multiFile)
      .select(col("_metadata.file_path"), col("_metadata.row_index"), col("id"))
      .collect()
      .map(r => (IndexStore.canonicalPath(r.getString(0)), r.getLong(1)) -> r.getLong(2))
      .toMap
    val (nprobe, cap) = (3, 40)
    Seq(false, true).foreach { cosine =>
      // the reference's CandidateCursor over each file's probe-order list
      val perFile = files.map { f =>
        val index = IndexManager.loadIndex(store, f, "vec")
        f -> (if (cosine) index.candidateRowsCosine(query, nprobe)
              else index.candidateRows(query, nprobe))
      }
      val expected = VectorTopK.capRoundRobin(perFile, cap)
        .flatMap { case (f, ords) => ords.map(o => idOf((f, o.toLong))) }
        .sorted
      assert(expected.length == cap)
      withRule(nprobe, VectorTopKRule.MaxCandidatesKey -> cap.toString) {
        val df = topk("candfilter_cap", 1000, cosine = cosine)
        assertInTask(df)
        assert(ids(df).sorted == expected, s"cosine=$cosine")
      }
    }
  }
}
