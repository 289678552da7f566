package graft.ivf

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.functions.VectorKernels
import graft.ivf.VectorTopK.{Options, Tier}

/** Every coarse tier × metric × result shape of [[VectorTopK]] against
  * brute force, at exhaustive nprobe and covering oversample — where each
  * combination is exact by construction.
  */
class VectorTopKTierSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val k = 10

  /** 300 rows in 3 files; norms vary per row, so L2 and cosine rank
    * differently; values stay inside the SQ8 grid [-1, 1).
    */
  private lazy val fixture = {
    val rnd = new scala.util.Random(4242)
    val rows = (0 until 300).map { i =>
      val scale = 0.2f + 0.8f * rnd.nextFloat()
      (i.toLong, Seq.fill(dim)((rnd.nextFloat() * 2f - 1f) * scale))
    }
    val dir = Files.createTempDirectory("graft-tiers").toString
    rows.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    val store = new IndexStore(Files.createTempDirectory("graft-tiers-store").toString)
    val build = IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(5)), store)
    Sq8Sidecar.build(spark, dir, "vec", store)
    PqSidecar.build(spark, dir, "vec", m = 4, store)
    PqSidecar.build(spark, dir, "vec", m = 4, store, residual = true)
    (rows, dir, store, build.nClusters)
  }

  private val query = Seq(0.3f, -0.2f, 0.1f, 0.4f, -0.5f, 0.2f, 0.0f, 0.3f)
  private val covering = (300 + k - 1) / k

  private val tiers: Seq[(String, Tier)] = Seq(
    "Float" -> Tier.Float,
    "Sq8" -> Tier.Sq8(covering),
    "Pq" -> Tier.Pq(covering),
    "Pq(residual)" -> Tier.Pq(covering, residual = true))

  /** Brute `(id, distance)` through the same kernels as the refine:
    * true L2, or 1 − cos; ascending either way.
    */
  private def brute(rows: Seq[(Long, Seq[Float])], cosine: Boolean): Seq[(Long, Float)] = {
    val q = query.toArray
    rows.map { case (id, v) =>
      val d =
        if (cosine) 1.0f - VectorKernels.cosine(v.toArray, q)
        else math.sqrt(VectorKernels.squaredL2(v.toArray, q).toDouble).toFloat
      (id, d)
    }.sortBy(_._2).take(k)
  }

  for ((tierName, tier) <- tiers; cosine <- Seq(false, true)) {
    val metric = if (cosine) "cosine" else "L2"

    test(s"search equals brute force: tier $tierName, $metric") {
      val (rows, dir, store, nClusters) = fixture
      val got = VectorTopK.search(spark, dir, "vec", query, k,
        Options(nprobe = nClusters, tier = tier, cosine = cosine), store).collect()
      // row_idx is file-local, so the distances carry the contract
      assert(got.map(_.distance).toSeq == brute(rows, cosine).map(_._2))
    }

    test(s"indexed equals brute force: tier $tierName, $metric") {
      val (rows, dir, store, nClusters) = fixture
      val got = VectorTopK.indexed(spark, dir, "vec", query, k,
        Options(nprobe = nClusters, tier = tier, cosine = cosine), store = store)
        .select("id").as[Long].collect().toSeq
      assert(got == brute(rows, cosine).map(_._1))
    }
  }

  test("a filtered indexed top-k ranks in the query's metric") {
    val (rows, dir, store, nClusters) = fixture
    for (cosine <- Seq(false, true)) {
      val got = VectorTopK.indexed(spark, dir, "vec", query, k,
        Options(nprobe = nClusters, cosine = cosine),
        filter = Some(col("id") % 2 === 0), store = store)
        .select("id").as[Long].collect().toSeq
      assert(got == brute(rows.filter(_._1 % 2 == 0), cosine).map(_._1), s"cosine=$cosine")
    }
  }

  test("a fairness cap and a residual filter are refused on a quantized tier") {
    val (_, dir, store, _) = fixture
    Seq(Tier.Sq8(), Tier.Pq(), Tier.Pq(residual = true)).foreach { tier =>
      val cap = intercept[IllegalArgumentException](Options(maxCandidates = Some(5), tier = tier))
      assert(cap.getMessage.contains("Float tier only"))
      val filtered = intercept[IllegalArgumentException] {
        VectorTopK.indexed(spark, dir, "vec", query, k, Options(tier = tier),
          filter = Some(col("id") > 3), store = store)
      }
      assert(filtered.getMessage.contains("Float tier only"))
    }
    assert(Options(maxCandidates = Some(5)).tier == Tier.Float)
    assertThrows[IllegalArgumentException](Tier.Sq8(0))
    assertThrows[IllegalArgumentException](Tier.Pq(0))
  }
}
