package graft.ivf

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based coverage (SURVEY §5 adoption point 5): over random
  * vectors/dims/k/nprobe, the indexed result is a distance-consistent subset
  * of the corpus, and with an exhaustive probe it equals brute force.
  * Codec roundtrips hold for arbitrary index shapes.
  */
class IvfPropertySpec extends SparkSpec {

  /** Seeded deterministic sampling (scalatestplus bridge not on the
    * classpath — raw ScalaCheck generators driven by explicit seeds).
    */
  private def forAllSeeded[T](g: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      body(g.pureApply(Gen.Parameters.default.withSize(20), Seed(42L + i)))
    }

  private val indexGen = for {
    dim <- Gen.choose(1, 16)
    k <- Gen.choose(1, 8)
    centroids <- Gen.listOfN(dim * k, Gen.choose(-10.0f, 10.0f))
    lists <- Gen.listOfN(k, Gen.listOf(Gen.choose(0, 1000000)))
  } yield IvfIndex(
    dim, k, centroids.toArray,
    lists.map(_.distinct.sorted.toArray).toArray)

  test("round-robin cap: the (pos, fileIdx) sorted prefix equals the quota water-fill") {
    // round-robin selection across files in probe order IS the cap-prefix
    // of candidates sorted by (probe-order position, file index): the
    // counts-only water-fill (IvfCandidateFilter.roundRobinQuotas) must hand
    // out exactly that prefix's per-file counts — for ANY counts and cap
    val countsAndCap = for {
      n <- Gen.choose(1, 12)
      counts <- Gen.listOfN(n, Gen.choose(0L, 50L))
      cap <- Gen.choose(0L, 200L)
    } yield (counts.toArray, cap)
    forAllSeeded(countsAndCap, 200) { case (counts, cap) =>
      val quotas = graft.plans.IvfCandidateFilter.roundRobinQuotas(counts, cap)
      // simulate the sorted-prefix selection
      val tagged = for {
        fi <- counts.indices
        pos <- 0L until counts(fi)
      } yield (pos, fi)
      val prefix = tagged.sorted.take(math.min(cap, counts.sum).toInt)
      val perFile = Array.fill(counts.length)(0L)
      prefix.foreach { case (_, fi) => perFile(fi) += 1L }
      assert(
        perFile.toSeq == quotas.toSeq,
        s"counts=${counts.toSeq} cap=$cap: prefix ${perFile.toSeq} != quotas ${quotas.toSeq}")
    }
  }

  test("codec roundtrip holds for arbitrary index shapes") {
    forAllSeeded(indexGen, 20) { idx =>
      val restored = IvfIndex.unframe(IvfIndex.frame(idx.toBytes))
      assert(restored.dim == idx.dim)
      assert(restored.nClusters == idx.nClusters)
      assert(restored.centroids.toSeq == idx.centroids.toSeq)
      assert(restored.invertedLists.map(_.toSeq).toSeq ==
        idx.invertedLists.map(_.toSeq).toSeq)
    }
  }

  test("probe order is ascending by centroid distance; candidates honor lists") {
    forAllSeeded(indexGen.flatMap(i => Gen.choose(1, 10).map((i, _))), 20) { case (idx, nprobe) =>
      val query = Array.fill(idx.dim)(0.5f)
      val probed = idx.findClosestCentroids(query, nprobe)
      assert(probed.length == math.min(nprobe, idx.nClusters))
      assert(probed.distinct.length == probed.length)
      val cands = idx.candidateRows(query, nprobe)
      assert(cands.length == probed.map(idx.invertedLists(_).length).sum)
    }
  }

  test("exhaustive probe equals brute force across random corpora") {
    val corpusGen = for {
      dim <- Gen.oneOf(2, 4, 8)
      n <- Gen.choose(30, 120)
      seed <- Gen.choose(0L, 10000L)
      k <- Gen.choose(1, 10)
    } yield (dim, n, seed, k)
    forAllSeeded(corpusGen, 5) { case (dim, n, seed, k) =>
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory("graft-prop").toString
      (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat())))
        .toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val store = new IndexStore(Files.createTempDirectory("graft-prop-store").toString)
      val build = IvfBuilder.build(spark, dir, IvfBuilder.Config("vec"), store)
      val query = Seq.fill(dim)(rnd.nextFloat())
      val brute = VectorTopK.bruteForce(spark.read.parquet(dir), "vec", query, k)
        .select("id").collect().map(_.getLong(0)).toSet
      val indexed = VectorTopK.indexed(spark, dir, "vec", query, k,
        VectorTopK.Options(nprobe = build.nClusters), store = store)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(indexed == brute)
      // restrictive probe returns a subset of the corpus, at most k rows
      val ann = VectorTopK.indexed(spark, dir, "vec", query, k,
        VectorTopK.Options(nprobe = 1), store = store)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(ann.size <= k)
      assert(ann.subsetOf((0L until n.toLong).toSet))
    }
  }

  test("PQ invariants across random shapes: codes in range, decode is a fixed point, ADC matches") {
    val pqGen = for {
      m <- Gen.oneOf(1, 2, 4)
      dsub <- Gen.choose(1, 4)
      n <- Gen.choose(5, 300)
      seed <- Gen.choose(0L, 10000L)
    } yield (m, dsub, n, seed)
    forAllSeeded(pqGen, 10) { case (m, dsub, n, seed) =>
      val dim = m * dsub
      val rnd = new scala.util.Random(seed)
      val samples = Array.fill(n)(Array.fill(dim)(rnd.nextFloat() * 4 - 2))
      val cb = Pq.train(samples, m, seed = seed)
      assert(cb.ksub == math.min(Pq.MaxK, n))
      val q = Array.fill(dim)(rnd.nextFloat() * 4 - 2)
      val table = Pq.adcTable(q, cb)
      samples.take(30).foreach { v =>
        val code = Pq.encode(v, cb)
        assert(code.length == m)
        assert(code.forall(b => (b & 0xFF) < cb.ksub))
        val dec = Pq.decode(code, cb)
        // nearest-centroid assignment is idempotent on its own output
        assert(Pq.encode(dec, cb).toSeq == code.toSeq)
        // ADC distance is a per-subspace table sum — non-negative always
        val adc = Pq.adcDistanceSq(table, code, cb.ksub)
        assert(adc >= 0.0f)
        // codebook serialization round-trips
        val back = Pq.codebookFromBytes(Pq.codebookBytes(cb))
        assert(back.m == cb.m && back.dsub == cb.dsub && back.ksub == cb.ksub)
        assert(back.centroids.toSeq == cb.centroids.toSeq)
        // the assigned codeword is genuinely the nearest: no other code in
        // the same subspace is strictly closer
        var s = 0
        while (s < m) {
          val assigned = code(s) & 0xFF
          val base = s * cb.ksub * cb.dsub
          def d(c: Int): Float = {
            var acc = 0.0f
            var j = 0
            while (j < cb.dsub) {
              val t = v(s * cb.dsub + j) - cb.centroids(base + c * cb.dsub + j)
              acc += t * t
              j += 1
            }
            acc
          }
          val best = (0 until cb.ksub).map(d).min
          assert(d(assigned) <= best + math.ulp(best))
          s += 1
        }
      }
    }
  }
}
