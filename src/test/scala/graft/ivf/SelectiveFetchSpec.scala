package graft.ivf

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class SelectiveFetchSpec extends SparkSpec {
  import spark.implicits._

  private def oneFile(dir: String): String = {
    val f = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(f.length == 1)
    f.head.getAbsolutePath
  }

  test("reads exactly the requested ordinals across multiple row groups") {
    val dir = Files.createTempDirectory("graft-selfetch").toString
    val vecs = (0 until 300).map(i => (i.toLong, Seq.fill(8)(i.toFloat / 10)))
    vecs.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("overwrite")
      // tiny row groups so group skipping is exercised
      .option("parquet.block.size", "4096")
      .parquet(dir)
    val file = oneFile(dir)
    val footer = org.apache.parquet.hadoop.ParquetFileReader
      .open(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration()))
    val nGroups = try footer.getFooter.getBlocks.size finally footer.close()
    assert(nGroups > 1, s"fixture produced only $nGroups row group(s)")

    val wanted = Array(0, 7, 13, 150, 151, 299)
    val got = SelectiveFetch.embeddings(file, "vec", wanted)
    assert(got.map(_._1) == wanted.map(_.toLong).toSeq)
    got.foreach { case (ri, v) =>
      assert(v.toSeq == Seq.fill(8)(ri.toFloat / 10))
    }
    // unordered + duplicate input normalizes
    val got2 = SelectiveFetch.embeddings(file, "vec", Array(299, 13, 13, 0))
    assert(got2.map(_._1) == Seq(0L, 13L, 299L))
  }

  test("skips null vectors and null elements; downcasts double columns") {
    val dir = Files.createTempDirectory("graft-selfetch-null").toString
    val rows: Seq[(Long, Option[Seq[Option[Double]]])] = Seq(
      (0L, Some(Seq(Some(1.5), Some(2.5)))),
      (1L, None), // null vector
      (2L, Some(Seq(Some(3.5), None))), // null element
      (3L, Some(Seq(Some(4.5), Some(5.5)))))
    rows.toDF("id", "vec").coalesce(1).write.mode("overwrite").parquet(dir)
    val file = oneFile(dir)
    val got = SelectiveFetch.embeddings(file, "vec", Array(0, 1, 2, 3))
    assert(got.map(_._1) == Seq(0L, 3L))
    assert(got.head._2.toSeq == Seq(1.5f, 2.5f))
    assert(got(1)._2.toSeq == Seq(4.5f, 5.5f))
  }

  test("decodes only candidate rows: empty, ragged, null and long neighbours") {
    val dir = Files.createTempDirectory("graft-selfetch-ragged").toString
    val long = Seq.tabulate(40)(i => Some(i.toFloat))
    val rows: Seq[(Long, Option[Seq[Option[Float]]])] = Seq(
      (0L, Some(Seq(Some(1f), Some(2f)))),
      (1L, Some(Seq())), // empty list
      (2L, Some(Seq(Some(3f), Some(4f), Some(5f)))), // another length
      (3L, None),
      (4L, Some(Seq(Some(6f), None))),
      (5L, Some(long)), // longer than the decode buffer starts
      (6L, Some(Seq(Some(7f), Some(8f)))))
    rows.toDF("id", "vec").coalesce(1).write.mode("overwrite").parquet(dir)
    val file = oneFile(dir)
    def fetch(ords: Int*) =
      SelectiveFetch.embeddings(file, "vec", ords.toArray).map { case (ri, v) => ri -> v.toSeq }
    // skipped neighbours of every shape leave the value stream in step
    assert(fetch(2, 6) == Seq(2L -> Seq(3f, 4f, 5f), 6L -> Seq(7f, 8f)))
    assert(fetch(5) == Seq(5L -> long.map(_.get)))
    // empty lists, null vectors and null elements yield no row
    assert(fetch(0 until 7: _*).map(_._1) == Seq(0L, 2L, 5L, 6L))
    assert(fetch(1, 3, 4).isEmpty)
  }

  test("decodes every page layout: v1/v2 pages, plain/dictionary, each codec, with and " +
      "without the offset index") {
    val rnd = new scala.util.Random(7)
    // repeated small values keep dictionaries; random ones overflow them
    val rows: Seq[(Long, Option[Seq[Option[Float]]])] = (0 until 3000).map { i =>
      val vec =
        if (i % 97 == 0) None
        else if (i % 89 == 0) Some(Seq())
        else if (i % 83 == 0) Some(Seq(Some(1f), None))
        else Some(Seq.fill(1 + i % 37)(Some(if (i < 1500) (i % 7).toFloat else rnd.nextFloat())))
      (i.toLong, vec)
    }
    val valid = rows.collect { case (id, Some(v)) if v.nonEmpty && v.forall(_.isDefined) =>
      id -> v.map(_.get) }.toMap
    val wanted = (0 until 3000).filter(_ => rnd.nextInt(5) == 0).toArray
    val expected = wanted.toSeq.flatMap(i => valid.get(i.toLong).map(i.toLong -> _))
    for (v2 <- Seq(false, true); dictionary <- Seq(true, false);
         codec <- Seq("snappy", "uncompressed", "zstd", "gzip")) {
      val dir = Files.createTempDirectory("graft-selfetch-layout").toString
      rows.toDF("id", "vec").coalesce(1).write.mode("overwrite")
        .option("compression", codec)
        .option("parquet.writer.version", if (v2) "PARQUET_2_0" else "PARQUET_1_0")
        .option("parquet.enable.dictionary", dictionary.toString)
        .option("parquet.page.size", "2048")
        .option("parquet.block.size", "16384")
        .parquet(dir)
      val file = oneFile(dir)
      for (pageIndex <- Seq(true, false)) {
        val got = SelectiveFetch.embeddings(file, "vec", wanted, pageIndex)
          .map { case (ri, v) => ri -> v.toSeq }
        assert(got == expected, s"v2=$v2 dictionary=$dictionary codec=$codec pageIndex=$pageIndex")
      }
    }
  }

  test("page-granular selection over 1-row-page files (rewriteWithIndex layout)") {
    val in = Files.createTempDirectory("graft-pg-in").toString
    val outDir = Files.createTempDirectory("graft-pg-out").toString
    val vecs = (0 until 120).map(i => (i.toLong, Seq.fill(6)(i.toFloat)))
    vecs.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("overwrite").parquet(in)
    // 1 row per page + embedded index, the reference's point-read layout
    IvfBuilder.rewriteWithIndex(spark, in, outDir,
      IvfBuilder.Config("vec", nClusters = Some(4)), numFiles = Some(1))
    val file = oneFile(outDir)
    // sanity: the rewritten file really has many pages (offset index present)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader
      .open(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration()))
    try {
      val block = rdr.getFooter.getBlocks.get(0)
      val chunk = block.getColumns.asScala
        .find(_.getPath.toDotString.startsWith("vec")).get
      val oi = rdr.readOffsetIndex(chunk)
      assert(oi != null && oi.getPageCount > 10, s"pages=${if (oi == null) -1 else oi.getPageCount}")
    } finally rdr.close()
    // rewrite preserves row order here (single input file, single output);
    // fetch sparse ordinals and verify content
    val rows = spark.read.parquet(outDir)
      .select(col("id"), col("vec"), col("_metadata.row_index").as("ri"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getSeq[Float](1))).toMap
    val wanted = Array(3, 57, 119)
    val got = SelectiveFetch.embeddings(file, "vec", wanted)
    assert(got.map(_._1) == wanted.map(_.toLong).toSeq)
    got.foreach { case (ri, v) => assert(v.toSeq == rows(ri)._2) }
  }

  test("search works against a footer-embedded index (no sidecar)") {
    val dir = Files.createTempDirectory("graft-selfetch-embed").toString
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 80).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat())))
    spark.createDataFrame(vecs).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // embed the index INSIDE the parquet footer region (reference layout);
    // point the search at an EMPTY sidecar store so only the footer serves
    val buildStore = new IndexStore(Files.createTempDirectory("graft-embed-b").toString)
    val build = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(4)), buildStore, embed = true)
    val emptyStore = new IndexStore(Files.createTempDirectory("graft-embed-e").toString)
    val query = Seq.fill(4)(0.5f)
    val res = VectorTopK.search(spark, dir, "vec", query, 10,
      VectorTopK.Options(nprobe = build.nClusters), store = emptyStore).collect()
    assert(res.length == 10)
    val expected = vecs.map { case (id, v) =>
      (id, math.sqrt(graft.functions.VectorKernels
        .squaredL2(v.toArray, query.toArray).toDouble).toFloat)
    }.sortBy { case (id, d) => (d, id) }.take(10)
    assert(res.map(r => (r.row_idx, r.distance)).toSet == expected.toSet)
  }

  test("search over the selective path honors maxCandidates fairness") {
    val dir = Files.createTempDirectory("graft-selfetch-search").toString
    val rnd = new scala.util.Random(5)
    spark.createDataFrame((0 until 200).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat()))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(2).write.mode("overwrite").parquet(dir)
    val store = new IndexStore(Files.createTempDirectory("graft-selfetch-store").toString)
    val build = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(4)), store)
    val res = VectorTopK.search(spark, dir, "vec", Seq.fill(4)(0.5f), 50,
      VectorTopK.Options(nprobe = build.nClusters, maxCandidates = Some(40)),
      store = store).collect()
    // capped fetch bounds the result set: at most 40 candidates survive
    assert(res.length <= 40 && res.nonEmpty)
    assert(res.map(_.distance).toSeq == res.map(_.distance).sorted.toSeq)
  }
}
