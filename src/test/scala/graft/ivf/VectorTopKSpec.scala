package graft.ivf

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** End-to-end replication of the reference's own e2e tests
  * (`/root/reference/src/df_vector/tests.rs:16-241`): 6-row 2-d fixtures with
  * pinned expected ids, run with an exhaustive probe so ANN == exact.
  */
class VectorTopKSpec extends SparkSpec {

  private def writeFixture(vecs: Seq[Seq[Float]]): String = {
    val dir = Files.createTempDirectory("graft-fixture").toString
    val df = spark.createDataFrame(
      vecs.zipWithIndex.map { case (v, i) => (i, v) })
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def tmpStore = new IndexStore(
    Files.createTempDirectory("graft-store").toString)

  // Fixture 1: tests.rs:31-39; WHERE id >= 2 LIMIT 2 → ids [5, 2] (tests.rs:99)
  test("reference fixture 1: filter id >= 2, top-2 → ids [5, 2]") {
    val path = writeFixture(Seq(
      Seq(0f, 0f), Seq(1f, 0f), Seq(0f, 2f), Seq(5f, 5f), Seq(2f, 2f), Seq(0.1f, 0.1f)))
    val store = tmpStore
    val build = IvfBuilder.build(spark, path,
      IvfBuilder.Config("vec", nClusters = Some(3)), store)
    assert(build.numRows == 6)
    val result = VectorTopK
      .indexed(spark, path, "vec", Seq(0f, 0f), 2,
        VectorTopK.Options(nprobe = 64), // exhaustive, like the reference test
        filter = Some(col("id") >= 2), store = store)
      .select("id")
      .collect()
      .map(_.getInt(0))
    assert(result.toSet == Set(5, 2))
  }

  // Fixture 2: tests.rs:166-174; WHERE id >= 3 LIMIT 2 → ids [3, 4] (tests.rs:235)
  test("reference fixture 2: post-filter composes with pruning → ids [3, 4]") {
    val path = writeFixture(Seq(
      Seq(0f, 0f), Seq(0.05f, 0.05f), Seq(0.2f, 0.2f),
      Seq(1f, 1f), Seq(1.1f, 1.1f), Seq(1.4f, 1.4f)))
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(3)), store)
    val result = VectorTopK
      .indexed(spark, path, "vec", Seq(0f, 0f), 2,
        VectorTopK.Options(nprobe = 64),
        filter = Some(col("id") >= 3), store = store)
      .select("id")
      .collect()
      .map(_.getInt(0))
    assert(result.toSet == Set(3, 4))
  }

  test("exhaustive probe equals brute force on random data") {
    val rnd = new scala.util.Random(123)
    val vecs = Seq.fill(80)(Seq.fill(8)(rnd.nextFloat()))
    val path = writeFixture(vecs)
    val store = tmpStore
    val build = IvfBuilder.build(spark, path, IvfBuilder.Config("vec"), store)
    val query = Seq.fill(8)(0.5f)
    val brute = VectorTopK
      .bruteForce(spark.read.parquet(path), "vec", query, 10)
      .select("id").collect().map(_.getInt(0)).toSeq
    val indexed = VectorTopK
      .indexed(spark, path, "vec", query, 10,
        VectorTopK.Options(nprobe = build.nClusters), store = store)
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(indexed.sorted == brute.sorted)
  }

  test("restrictive probe returns a subset of candidates (ANN semantics)") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(100)(Seq.fill(4)(rnd.nextFloat() * 10))
    val path = writeFixture(vecs)
    val store = tmpStore
    IvfBuilder.build(spark, path,
      IvfBuilder.Config("vec", nClusters = Some(10)), store)
    val res = VectorTopK
      .indexed(spark, path, "vec", Seq(5f, 5f, 5f, 5f), 5,
        VectorTopK.Options(nprobe = 2), store = store)
      .collect()
    assert(res.length == 5) // enough candidates in 2 cells for k=5
  }

  test("multi-file table: per-file indexes, global top-k equals brute force") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(99)
    val dir = Files.createTempDirectory("graft-multi").toString
    val df = spark.createDataFrame(
      (0 until 300).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat()))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    df.repartition(3).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val build = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(6)), store)
    assert(build.files.size == 3) // one index per data file
    assert(build.numRows == 300)
    val query = Seq.fill(8)(0.3f)
    val brute = VectorTopK
      .bruteForce(spark.read.parquet(dir), "vec", query, 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    val indexed = VectorTopK
      .indexed(spark, dir, "vec", query, 10,
        VectorTopK.Options(nprobe = build.nClusters), store = store)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(indexed.sorted == brute.sorted)
    // recall harness: exhaustive probe has recall 1.0
    val r = Recall.atK(spark, dir, "vec", "id", query, 10, build.nClusters, store)
    assert(r.recall == 1.0)
    assert(r.candidates == 300)
    // restrictive probe: recall in (0, 1], fewer candidates than rows
    val r2 = Recall.atK(spark, dir, "vec", "id", query, 10, 1, store)
    assert(r2.candidates < 300)
    assert(r2.recall > 0.0 && r2.recall <= 1.0)
    // angular twin: exhaustive cosine probe is exact too
    val rc = Recall.cosineAtK(spark, dir, "vec", "id", query, 10, build.nClusters, store)
    assert(rc.recall == 1.0)
    val rc2 = Recall.cosineAtK(spark, dir, "vec", "id", query, 10, 1, store)
    assert(rc2.candidates < 300)
    assert(rc2.recall >= 0.0 && rc2.recall <= 1.0)
  }

  test("search returns (row_idx, sqrt'd distance) equal to brute force at exhaustive probe") {
    val rnd = new scala.util.Random(31)
    val vecs = Seq.fill(60)(Seq.fill(6)(rnd.nextFloat()))
    val path = writeFixture(vecs)
    val store = tmpStore
    val build = IvfBuilder.build(spark, path, IvfBuilder.Config("vec"), store)
    val query = Seq.fill(6)(0.5f)
    val res = VectorTopK.search(spark, path, "vec", query, 10,
      VectorTopK.Options(nprobe = build.nClusters), store = store).collect()
    assert(res.length == 10)
    assert(res.map(_.distance).toSeq == res.map(_.distance).sorted.toSeq)
    // expected via the same float kernel + sqrt (reference sqrt's the
    // squared-L2 heap key, search.rs:129-141) — bit-identical computation
    val expected = vecs.zipWithIndex.map { case (v, i) =>
      (i.toLong, math.sqrt(graft.functions.VectorKernels
        .squaredL2(v.toArray, query.toArray).toDouble).toFloat)
    }.sortBy { case (id, d) => (d, id) }.take(10)
    assert(res.map(r => (r.row_idx, r.distance)).toSet == expected.toSet)
  }

  test("indexed path surfaces reference fetch metrics (post-filter)") {
    val path = writeFixture(Seq(
      Seq(0f, 0f), Seq(0.05f, 0.05f), Seq(0.2f, 0.2f),
      Seq(1f, 1f), Seq(1.1f, 1.1f), Seq(1.4f, 1.4f)))
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(3)), store)
    val df = VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f), 2,
      VectorTopK.Options(nprobe = 64),
      filter = Some(col("id") >= 3), store = store)
    df.collect()
    // flatten across AQE wrappers and query-stage boundaries
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: allNodes(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        p +: allNodes(r.child)
      case _ => p +: p.children.flatMap(allNodes)
    }
    val nodes = allNodes(df.queryExecution.executedPlan)
    val metered = nodes.collectFirst { case m: graft.plans.MeteredFetchExec => m }
    assert(metered.isDefined, df.queryExecution.executedPlan.toString)
    // reference snapshot parity (filter id >= 3 over 6 candidate rows):
    // embeddings_fetched = 3 post-filter rows
    assert(metered.get.metrics("embeddingsFetched").value == 3L)
    assert(metered.get.metrics("batchesFetched").value >= 1L)
    val candFilter = nodes.collectFirst { case c: graft.plans.IvfCandidateFilterExec => c }
    assert(candFilter.isDefined, df.queryExecution.executedPlan.toString)
    assert(candFilter.get.metrics("candidateRows").value == 6L)
    assert(candFilter.get.metrics("filesScanned").value == 1L)
  }

  test("listFiles runs no Spark job, and search runs exactly one") {
    val path = writeFixture(Seq(Seq(0f, 0f), Seq(1f, 0f), Seq(0f, 2f), Seq(5f, 5f)))
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    val sc = spark.sparkContext
    val (files, listJobs) = org.apache.spark.graft.JobCount.of(sc)(IndexManager.listFiles(spark, path))
    assert(listJobs == 0)
    assert(files == spark.read.parquet(path).inputFiles.toSeq.map(IndexStore.canonicalPath).sorted)
    val (res, searchJobs) = org.apache.spark.graft.JobCount.of(sc) {
      VectorTopK.search(spark, path, "vec", Seq(0f, 0f), 2,
        VectorTopK.Options(nprobe = 2), store = store).collect()
    }
    assert(searchJobs == 1)
    assert(res.map(_.row_idx).toSeq == Seq(0L, 1L))
  }

  test("incremental extend indexes only new files with the shared centroids") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val dir = Files.createTempDirectory("graft-extend").toString
    def batch(ids: Range) = spark.createDataFrame(
      ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat()))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    batch(0 until 200).repartition(2).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val first = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(5)), store)
    assert(first.files.size == 2)
    // new data arrives in the append-only table
    batch(200 until 300).coalesce(1).write.mode("append").parquet(dir)
    val ext = IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store)
    // only the new file was assigned/written, with the ORIGINAL centroids
    assert(ext.files.size == 1 && ext.files.values.sum == 100)
    assert(ext.centroids.toSeq == first.centroids.toSeq)
    assert(ext.nClusters == first.nClusters)
    // all three files now indexed; exhaustive search equals brute force
    val files = IndexManager.listFiles(spark, dir)
    assert(files.size == 3 && files.forall(f => store.exists(f, "vec")))
    val query = Seq.fill(8)(0.4f)
    val brute = VectorTopK.bruteForce(spark.read.parquet(dir), "vec", query, 12)
      .select("id").collect().map(_.getLong(0)).toSeq
    val indexed = VectorTopK.indexed(spark, dir, "vec", query, 12,
      VectorTopK.Options(nprobe = first.nClusters), store = store)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(indexed.sorted == brute.sorted)
    // extend with nothing new is a no-op summary
    val noop = IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store)
    assert(noop.files.isEmpty && noop.nClusters == first.nClusters)
  }

  test("IVF-SQ8: codes sidecar + quantized search recover brute force exactly") {
    val rnd = new scala.util.Random(53)
    val dir = Files.createTempDirectory("graft-sq8ivf").toString
    // values in [-1, 1) — inside the SQ8 grid, so quantization only coarsens
    spark.createDataFrame(
      (0 until 300).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val built = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(5)), store)

    // quantized search without codes fails fast, naming the missing piece
    val noCodes = intercept[IllegalArgumentException] {
      VectorTopK.searchQuantized(spark, dir, "vec", Seq.fill(8)(0f), 5, store = store)
    }
    assert(noCodes.getMessage.contains("SQ8 sidecar"))

    val counts = Sq8Sidecar.build(spark, dir, "vec", store)
    assert(counts.values.sum == 300L && counts.size == 3)
    // sidecar headers carry the real shape
    counts.keys.foreach { f =>
      val (dim, n) = Sq8Sidecar.readHeader(store.codesPath(f, "vec"))
      assert(dim == 8 && n.toLong == counts(f))
    }

    val query = Seq.fill(8)(0.3f)
    // exhaustive probe + covering oversample (k·oversample >= corpus) → the
    // coarse cut prunes nothing and the float re-rank is exact brute force
    val brute = VectorTopK.bruteForce(spark.read.parquet(dir), "vec", query, 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    val exact = VectorTopK.indexedQuantized(spark, dir, "vec", query, 10,
      VectorTopK.Options(nprobe = built.nClusters), oversample = 30, store = store)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(exact.sorted == brute.sorted)

    // searchQuantized (ordinal, distance) rows equal the float-path search
    // exactly — same kernel, same winners at exhaustive probe
    val sq = VectorTopK.searchQuantized(spark, dir, "vec", query, 10,
      VectorTopK.Options(nprobe = built.nClusters), oversample = 30, store = store)
      .collect().map(r => (r.row_idx, r.distance)).toSet
    val viaFloats = VectorTopK.search(spark, dir, "vec", query, 10,
      VectorTopK.Options(nprobe = built.nClusters), store = store)
      .collect().map(r => (r.row_idx, r.distance)).toSet
    assert(sq == viaFloats)

    // tight oversample stays ANN: k rows out, all from the candidate set
    val ann = VectorTopK.searchQuantized(spark, dir, "vec", query, 10,
      VectorTopK.Options(nprobe = 2), oversample = 1, store = store)
      .collect()
    assert(ann.length == 10)

    // appended file: ensure() scans and encodes ONLY the new file, extend
    // indexes it, and the quantized pipeline stays exact over all four
    spark.createDataFrame(
      (300 until 350).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("append").parquet(dir)
    IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store)
    val before = counts.keys.map(f => store.codesPath(f, "vec") ->
      Files.getLastModifiedTime(java.nio.file.Paths.get(store.codesPath(f, "vec")))).toMap
    Sq8Sidecar.ensure(spark, dir, "vec", store)
    val files4 = IndexManager.listFiles(spark, dir)
    assert(files4.size == 4 && files4.forall(f => store.existsCodes(f, "vec")))
    // pre-existing sidecars untouched (incremental, not a rebuild)
    before.foreach { case (p, t) =>
      assert(Files.getLastModifiedTime(java.nio.file.Paths.get(p)) == t)
    }
    val brute4 = VectorTopK.bruteForce(spark.read.parquet(dir), "vec", query, 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    val exact4 = VectorTopK.indexedQuantized(spark, dir, "vec", query, 10,
      VectorTopK.Options(nprobe = built.nClusters), oversample = 35, store = store)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(exact4.sorted == brute4.sorted)
  }

  test("extendOrRetrain extends in-distribution, retrains on drifted appends") {
    val rnd = new scala.util.Random(137)
    val dir = Files.createTempDirectory("graft-drift").toString
    def uniform(ids: Range) = spark.createDataFrame(
      ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat()))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    uniform(0 until 200).repartition(2).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val first = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(4)), store)

    // trained histogram comes from the stored lists and covers every row
    val counts = IvfBuilder.indexedCellCounts(
      spark, IndexManager.listFiles(spark, dir), "vec", store)
    assert(counts.length == 4 && counts.sum == 200L)

    // same-distribution append: low TV, extend path, centroids untouched
    uniform(200 until 300).coalesce(1).write.mode("append").parquet(dir)
    val ext = IvfBuilder.extendOrRetrain(spark, dir, IvfBuilder.Config("vec"), store)
    assert(!ext.retrained && ext.drift >= 0 && ext.drift < 0.25, s"drift=${ext.drift}")
    assert(ext.build.centroids.toSeq == first.centroids.toSeq)
    assert(ext.build.files.size == 1 && ext.build.files.values.sum == 100)

    // shifted append far outside [0,1)^8: one cell swallows everything,
    // TV blows past the threshold, the whole table retrains
    spark.createDataFrame(
      (300 until 400).map(i => (i.toLong, Seq.fill(8)(10f + (i % 3) * 0.1f))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("append").parquet(dir)
    val ret = IvfBuilder.extendOrRetrain(spark, dir, IvfBuilder.Config("vec"), store)
    assert(ret.retrained && ret.drift > 0.25, s"drift=${ret.drift}")
    assert(ret.build.centroids.toSeq != first.centroids.toSeq)
    assert(ret.build.files.values.sum == 400L) // full rebuild covers the table
    // retrain warm-starts Lloyd from the drifted centroids: k is preserved,
    // positions refresh
    assert(ret.build.nClusters == first.nClusters)

    // retrained index still answers exactly at exhaustive probe
    val query = Seq.fill(8)(0.4f)
    val brute = VectorTopK.bruteForce(spark.read.parquet(dir), "vec", query, 12)
      .select("id").collect().map(_.getLong(0)).toSeq
    val indexed = VectorTopK.indexed(spark, dir, "vec", query, 12,
      VectorTopK.Options(nprobe = ret.build.nClusters), store = store)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(indexed.sorted == brute.sorted)
  }

  test("totalVariation: identical is 0, disjoint is 1") {
    assert(IvfBuilder.totalVariation(Array(5L, 5L), Array(50L, 50L)) == 0.0)
    assert(IvfBuilder.totalVariation(Array(10L, 0L), Array(0L, 7L)) == 1.0)
  }

  test("distortion signal retrains a translated blob that TV cannot see") {
    val rnd = new scala.util.Random(53)
    val dir = Files.createTempDirectory("graft-distort").toString
    // two well-separated clusters at 0 and 10, balanced
    def blob(ids: Range, center: Float) = spark.createDataFrame(
      ids.map(i => (i.toLong, Seq.fill(8)(center + rnd.nextFloat()))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    blob(0 until 100, 0f).unionByName(blob(100 until 200, 10f))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val first = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(2)), store)

    // translated append: half at -20 (assigns to the 0-cell), half at +30
    // (assigns to the 10-cell) — the histogram stays balanced 50/50, so TV
    // is near zero; every distance blows past the learned radii, so the
    // OUTLIER signal is the only one that can catch it
    blob(200 until 250, -20f).unionByName(blob(250 until 300, 30f))
      .coalesce(1).write.mode("append").parquet(dir)
    val ret = IvfBuilder.extendOrRetrain(spark, dir, IvfBuilder.Config("vec"), store)
    assert(ret.drift <= 0.25, s"fixture must keep TV low, got ${ret.drift}")
    assert(ret.outlierFraction > 0.9, s"outlierFraction=${ret.outlierFraction}")
    assert(ret.retrained, "distortion signal must force the retrain")
    assert(ret.build.centroids.toSeq != first.centroids.toSeq)

    // in-band append afterwards: the DISTORTION signal must stay quiet (the
    // new rows sit inside the learned radius envelope). TV is NOT asserted:
    // with k=2 centroids over four blob positions, where the retrain lands
    // them varies with the sampled rows (the sample sort key includes
    // run-unique file paths), and a single-blob append legitimately
    // concentrates the histogram when its blob shares a cell with few
    // others — that is the TV signal working, not a defect.
    blob(300 until 330, 10f).coalesce(1).write.mode("append").parquet(dir)
    val ext = IvfBuilder.extendOrRetrain(spark, dir, IvfBuilder.Config("vec"), store)
    assert(
      ext.outlierFraction >= 0 && ext.outlierFraction <= 0.5,
      s"distortion signal should be quiet for an in-band append, " +
        s"got outlierFraction=${ext.outlierFraction} (drift=${ext.drift})")
  }

  test("extend ignores footer indexes built for a DIFFERENT column") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val dir = Files.createTempDirectory("graft-extend-col").toString
    spark.createDataFrame(
      (0 until 60).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat()), Seq.fill(4)(rnd.nextFloat()))))
      .toDF("id", "vec", "vec2")
      .select(col("id"),
        col("vec").cast("array<float>").as("vec"),
        col("vec2").cast("array<float>").as("vec2"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // embed a footer index for vec2 ONLY — with a column-ignorant check,
    // extend(vec) would classify the file as indexed, never index `vec`,
    // and loadIndex on it would fail
    IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec2", nClusters = Some(3)), tmpStore, embed = true)
    val store = tmpStore
    val ext = IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec", nClusters = Some(3)), store)
    assert(ext.files.values.sum == 60, "all rows must get a vec index")
    val files = IndexManager.listFiles(spark, dir)
    assert(files.forall(f => store.exists(f, "vec")))
  }

  test("autoBroadcastJoinThreshold=-1 disables the candidate broadcast") {
    // the filtered path selects candidates in-task, so it has no candidate
    // join to broadcast at all — and must not force one when the user opted
    // out; the no-filter two-phase path only ever broadcasts the k winners
    // (bounded), tested below
    val vecs = Seq(Seq(0f, 0f), Seq(1f, 0f), Seq(0f, 2f), Seq(5f, 5f))
    val path = writeFixture(vecs)
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f), 2,
        VectorTopK.Options(nprobe = 64),
        filter = Some(org.apache.spark.sql.functions.col("id") >= 0), store = store)
      val ids = df.select("id").collect().map(_.getInt(0)).toSet
      assert(ids == Set(0, 1))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"user disabled auto-broadcast; plan must not force one:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("two-phase fetch reads ONLY the files holding the k winners") {
    import spark.implicits._
    // two well-separated blobs written to separate files: the winners for a
    // blob-0 query all live in one file, and the payload scan must not
    // touch the other — the file-level pruning that keeps phase-2 IO
    // bounded by k files instead of the table
    val dir = java.nio.file.Files.createTempDirectory("graft-2phase").toString
    (0 until 50).map(i => (i.toLong, Seq(0f + i * 1e-3f, 0f)))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("append").parquet(dir)
    (50 until 100).map(i => (i.toLong, Seq(100f + i * 1e-3f, 100f)))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("append").parquet(dir)
    val store = tmpStore
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    assert(spark.read.parquet(dir).inputFiles.length == 2)

    val df = VectorTopK.indexed(spark, dir, "vec", Seq(0f, 0f), 3,
      VectorTopK.Options(nprobe = 64), store = store)
    val ids = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 2L))
    // the fetched plan scans exactly one file — the winners' file
    assert(df.inputFiles.length == 1, df.inputFiles.mkString(", "))
    // and the join build side is the broadcast k-row winner set
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"))
  }

  test("two-phase fetch keeps Hive-style partition columns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-2phase-part").toString
    (0 until 60).map(i => (i.toLong, Seq(i * 0.01f, 0f), if (i % 2 == 0) "a" else "b"))
      .toDF("id", "vec", "part")
      .select(col("id"), col("vec").cast("array<float>").as("vec"), col("part"))
      .repartition(2)
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val store = tmpStore
    val build = IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    val df = VectorTopK.indexed(spark, dir, "vec", Seq(0f, 0f), 4,
      VectorTopK.Options(nprobe = build.nClusters), store = store)
    // the leaf-file-pruned payload read must still infer the partition
    // column (basePath anchoring) — id 0,1,2,3 span both partitions
    val got = df.select("id", "part").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((0L, "a"), (1L, "b"), (2L, "a"), (3L, "b")), got.toString)
  }

  test("query dim mismatch fails fast") {
    val path = writeFixture(Seq(Seq(0f, 0f), Seq(1f, 1f)))
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(1)), store)
    assertThrows[IllegalArgumentException] {
      VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f, 0f), 1,
        VectorTopK.Options(nprobe = 1), store = store)
    }
  }

  test("edge cases: k > n, candidate cap, option validation, index reuse") {
    val vecs = Seq(Seq(0f, 0f), Seq(1f, 1f), Seq(2f, 2f))
    val path = writeFixture(vecs)
    val store = tmpStore
    val build = IvfBuilder.build(spark, path,
      IvfBuilder.Config("vec", nClusters = Some(2)), store)
    // k > n returns all rows
    val all = VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f), 99,
      VectorTopK.Options(nprobe = 2), store = store).collect()
    assert(all.length == 3)
    // maxCandidates caps the fetched rows end to end
    val capped = VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f), 99,
      VectorTopK.Options(nprobe = 2, maxCandidates = Some(2)), store = store).collect()
    assert(capped.length == 2)
    // invalid options fail fast
    assertThrows[IllegalArgumentException](VectorTopK.Options(nprobe = 0))
    assertThrows[IllegalArgumentException](
      VectorTopK.Options(nprobe = 1, maxCandidates = Some(0)))
    // ensure() reuses existing sidecars without rebuilding
    val ti = IndexManager.ensure(spark, path, "vec", store = store)
    assert(ti.nClusters == build.nClusters && ti.dim == 2)
  }

  test("index build rejects invalid input") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bad").toString
    // inconsistent dims
    Seq((0, Seq(1f, 2f)), (1, Seq(1f))).toDF("id", "vec")
      .write.mode("overwrite").parquet(dir)
    assertThrows[IllegalArgumentException] {
      IvfBuilder.build(spark, dir, IvfBuilder.Config("vec"), tmpStore)
    }
    // n_clusters > n rows
    val dir2 = Files.createTempDirectory("graft-bad2").toString
    Seq((0, Seq(1f, 2f))).toDF("id", "vec").write.mode("overwrite").parquet(dir2)
    assertThrows[IllegalArgumentException] {
      IvfBuilder.build(spark, dir2, IvfBuilder.Config("vec", nClusters = Some(5)), tmpStore)
    }
  }

  test("indexedCosine orders rows by cosine similarity, not L2 distance") {
    // varying norms so the two metrics DISAGREE: for query (1, 0),
    // (10, 0) is the cosine winner (cos = 1.0, L2 = 9) while (0.9, 0.1)
    // is the L2 winner (L2 ~ 0.14, cos ~ 0.994) — the head row tells us
    // which metric ordered the output
    val path = writeFixture(Seq(
      Seq(10.0f, 0.0f),   // id 0: cosine rank 1
      Seq(0.9f, 0.1f),    // id 1: L2 rank 1, cosine rank 2
      Seq(0.0f, 5.0f),    // id 2: orthogonal
      Seq(-3.0f, 0.0f)))  // id 3: opposite
    val store = tmpStore
    val build = IvfBuilder.build(
      spark, path, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    val q = Seq(1.0f, 0.0f)
    val got = VectorTopK
      .indexedCosine(spark, path, "vec", q, 2,
        VectorTopK.Options(nprobe = build.nClusters), store = store)
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 1), s"expected cosine order [0, 1], got $got")
    // and the SearchResult twin agrees (distance = 1 - cos ascending)
    val sr = VectorTopK
      .searchCosine(spark, path, "vec", q, 2,
        VectorTopK.Options(nprobe = build.nClusters), store = store)
      .collect()
    assert(sr.map(_.row_idx).toSeq == Seq(0L, 1L))
    assert(sr(0).distance < sr(1).distance)
    // the QUANTIZED angular twins must order their payload the same way —
    // they used to hand the winner feed to the L2 re-rank (review r11:
    // right winner SET, wrong head row on non-unit-norm data)
    graft.ivf.Sq8Sidecar.ensure(spark, path, "vec", store)
    val gotSq8 = VectorTopK
      .indexedQuantizedCosine(spark, path, "vec", q, 2,
        VectorTopK.Options(nprobe = build.nClusters), oversample = 4, store = store)
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(gotSq8 == Seq(0, 1), s"sq8 twin: expected cosine order [0, 1], got $gotSq8")
    graft.ivf.PqSidecar.ensure(spark, path, "vec", m = 2, store = store)
    val gotPq = VectorTopK
      .indexedPqCosine(spark, path, "vec", q, 2,
        VectorTopK.Options(nprobe = build.nClusters), oversample = 4, store = store)
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(gotPq == Seq(0, 1), s"pq twin: expected cosine order [0, 1], got $gotPq")
  }
}
