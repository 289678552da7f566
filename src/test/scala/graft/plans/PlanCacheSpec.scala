package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ivf.{IndexStore, IvfBuilder}

/** The rewritten-plan cache (round-12 verdict item #2): a repeat top-k plan
  * over an unchanged table must be served from the cache (flat in file
  * count), stay exact, and invalidate on any rename-landed change to the
  * data dir or sidecar store — the same staleness contract as
  * `IndexStore.memoizedTableProbe`.
  */
class PlanCacheSpec extends SparkSpec {

  private lazy val storeDir = Files.createTempDirectory("graft-plancache-store").toString
  private lazy val dataDir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dir = Files.createTempDirectory("graft-plancache-data").toString
    (0 until 300).map(i => (i.toLong, Seq.fill(6)(rnd.nextFloat()), i % 3))
      .toDF("id", "vec", "label")
      .select(col("id"), col("vec").cast("array<float>").as("vec"), col("label"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(6)), new IndexStore(storeDir))
    dir
  }

  private def withRule[T](body: => T): T = {
    graft.Graft.install(spark)
    spark.conf.set(VectorTopKRule.IndexDirKey, storeDir)
    spark.conf.set(VectorTopKRule.NprobeKey, "6") // exhaustive → exact
    try body
    finally {
      spark.conf.set(VectorTopKRule.EnabledKey, "true")
      spark.conf.unset(VectorTopKRule.NprobeKey)
    }
  }

  private def topk(k: Int = 5, q: String = "0.5F"): DataFrame =
    spark.sql(
      s"""SELECT id FROM plancache_vecs
         |ORDER BY array_distance(vec, array(${Seq.fill(6)(q).mkString(",")})) ASC
         |LIMIT $k""".stripMargin)

  private def register(): Unit =
    spark.read.parquet(dataDir).createOrReplaceTempView("plancache_vecs")

  /** The top-k rewrite grafts the candidate filter, the range rewrite a
    * semi-join.
    */
  private def fired(df: DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan.toString
    p.contains("IvfCandidateFilter") || p.contains("LeftSemi")
  }

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq

  test("repeat plan is served from the cache and stays exact") {
    register()
    withRule {
      VectorTopKRule.clearPlanCache()
      val first = topk()
      assert(fired(first))
      val firstIds = ids(first)
      val (h0, _) = VectorTopKRule.planCacheStats
      val second = topk()
      second.queryExecution.optimizedPlan // force planning (it's lazy)
      val (h1, _) = VectorTopKRule.planCacheStats
      assert(h1 == h0 + 1, s"repeat plan missed the cache (hits $h0 -> $h1)")
      assert(fired(second))
      // tier tags survive the cached serve
      val tiers = second.queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
          s.getTagValue(VectorTopKRule.TierTag)
      }.flatten
      assert(tiers == Seq("float"), tiers.toString)
      assert(ids(second) == firstIds)
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      assert(ids(topk()) == firstIds)
    }
  }

  test("different query vector, k, or nprobe each build a distinct entry") {
    register()
    withRule {
      VectorTopKRule.clearPlanCache()
      topk().queryExecution.optimizedPlan // prime
      val (h0, m0) = VectorTopKRule.planCacheStats
      topk(q = "0.1F").queryExecution.optimizedPlan
      topk(k = 3).queryExecution.optimizedPlan
      spark.conf.set(VectorTopKRule.NprobeKey, "2")
      topk().queryExecution.optimizedPlan
      spark.conf.set(VectorTopKRule.NprobeKey, "6")
      val (h1, m1) = VectorTopKRule.planCacheStats
      assert(h1 == h0, s"a changed input hit a stale entry (hits $h0 -> $h1)")
      assert(m1 == m0 + 3)
      // and each now-cached shape serves on repeat
      topk(q = "0.1F").queryExecution.optimizedPlan
      topk(k = 3).queryExecution.optimizedPlan
      val (h2, _) = VectorTopKRule.planCacheStats
      assert(h2 == h1 + 2)
    }
  }

  test("a data-dir change invalidates: new unindexed file stops the rewrite") {
    register()
    withRule {
      VectorTopKRule.clearPlanCache()
      assert(fired(topk()))
      // land a NEW parquet file (no sidecar) in the table dir by rename
      import spark.implicits._
      val extraDir = Files.createTempDirectory("graft-plancache-extra").toString
      Seq((9999L, Seq.fill(6)(0.9f), 0)).toDF("id", "vec", "label")
        .select(col("id"), col("vec").cast("array<float>").as("vec"), col("label"))
        .coalesce(1).write.mode("overwrite").parquet(extraDir)
      val part = new java.io.File(extraDir).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = java.nio.file.Paths.get(dataDir, "part-extra.parquet")
      Files.move(part.toPath, target)
      try {
        register() // re-list the table
        val df = topk()
        assert(!fired(df),
          "stale cached rewrite served for a table with an unindexed new file:\n" +
            df.queryExecution.optimizedPlan.toString)
      } finally {
        Files.delete(target)
        register()
      }
    }
  }

  test("a sidecar-store change invalidates instead of serving stale plans") {
    register()
    withRule {
      VectorTopKRule.clearPlanCache()
      val before = ids(topk())
      assert(fired(topk()))
      // rebuild the index (atomic-rename into the store dir bumps its mtime)
      IvfBuilder.build(spark, dataDir,
        IvfBuilder.Config("vec", nClusters = Some(3)), new IndexStore(storeDir))
      val (h0, m0) = VectorTopKRule.planCacheStats
      val df = topk()
      df.queryExecution.optimizedPlan // force planning (it's lazy)
      val (h1, m1) = VectorTopKRule.planCacheStats
      assert(h1 == h0 && m1 == m0 + 1,
        s"store rebuild did not invalidate (hits $h0->$h1, misses $m0->$m1)")
      assert(fired(df))
      assert(ids(df) == before) // exhaustive probe → exact under either k-means
      // restore the 6-cluster index for the other tests
      IvfBuilder.build(spark, dataDir,
        IvfBuilder.Config("vec", nClusters = Some(6)), new IndexStore(storeDir))
    }
  }

  test("range rewrite repeat plans are served from the cache and stay exact") {
    register()
    withRule {
      spark.conf.set(VectorTopKRule.RangeMaxSelectivityKey, "1.0")
      try {
        VectorTopKRule.clearPlanCache()
        def range() = spark.sql(
          s"""SELECT id FROM plancache_vecs
             |WHERE array_distance(vec, array(${Seq.fill(6)("0.5F").mkString(",")})) < 0.6
             |""".stripMargin)
        val first = range()
        assert(fired(first), first.queryExecution.optimizedPlan.toString)
        val want = ids(first).sorted
        val (h0, _) = VectorTopKRule.planCacheStats
        val second = range()
        second.queryExecution.optimizedPlan
        val (h1, _) = VectorTopKRule.planCacheStats
        assert(h1 == h0 + 1, s"repeat range plan missed the cache ($h0 -> $h1)")
        assert(ids(second).sorted == want)
        spark.conf.set(VectorTopKRule.EnabledKey, "false")
        assert(ids(range()).sorted == want)
      } finally spark.conf.unset(VectorTopKRule.RangeMaxSelectivityKey)
    }
  }

  test("DSv2 parquet repeat plans are also served from the cache, exactly") {
    withRule {
      val prev = spark.conf.get("spark.sql.sources.useV1SourceList")
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      try {
        register()
        VectorTopKRule.clearPlanCache()
        val first = topk()
        assert(fired(first), first.queryExecution.optimizedPlan.toString)
        val want = ids(first)
        val (h0, _) = VectorTopKRule.planCacheStats
        val second = topk()
        second.queryExecution.optimizedPlan
        val (h1, _) = VectorTopKRule.planCacheStats
        assert(h1 == h0 + 1, s"DSv2 repeat plan missed the cache ($h0 -> $h1)")
        assert(ids(second) == want)
        spark.conf.set(VectorTopKRule.EnabledKey, "false")
        assert(ids(topk()) == want)
      } finally {
        spark.conf.set("spark.sql.sources.useV1SourceList", prev)
        register()
      }
    }
  }

  test("concurrent planning of the same query is safe and exact") {
    register()
    withRule {
      VectorTopKRule.clearPlanCache()
      val want = ids(topk()) // also primes the cache
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val tasks = (0 until 16).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
            override def call(): Seq[Long] = ids(topk())
          })
        }
        tasks.foreach(t => assert(t.get(120, java.util.concurrent.TimeUnit.SECONDS) == want))
      } finally pool.shutdownNow()
    }
  }

  test("self-join of two identical top-k subqueries stays correct") {
    register()
    withRule {
      VectorTopKRule.clearPlanCache()
      topk().queryExecution.optimizedPlan // prime the cache
      def selfJoin() = spark.sql(
        s"""SELECT a.id FROM
           |  (SELECT id FROM plancache_vecs
           |   ORDER BY array_distance(vec, array(${Seq.fill(6)("0.5F").mkString(",")})) ASC
           |   LIMIT 5) a
           |JOIN
           |  (SELECT id FROM plancache_vecs
           |   ORDER BY array_distance(vec, array(${Seq.fill(6)("0.5F").mkString(",")})) ASC
           |   LIMIT 5) b
           |ON a.id = b.id""".stripMargin)
      val joined = selfJoin()
      val got = ids(joined).sorted
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val want = ids(selfJoin()).sorted
      assert(got == want, s"self-join diverged: $got vs $want")
    }
  }

  test("the cache entry does not alias the building query's live subtree") {
    register()
    withRule {
      VectorTopKRule.clearPlanCache()
      val first = topk()
      assert(fired(first))
      // poison every node of the LIVE optimized tree with a foreign tag:
      // TreeNode tags survive clone(), so if the cache had stored the same
      // instance the builder embedded (instead of a detached copy), the
      // next serve's clone would carry the poison into a fresh query
      val poison = new org.apache.spark.sql.catalyst.trees.TreeNodeTag[String](
        "plancache-spec-poison")
      first.queryExecution.optimizedPlan.foreach(_.setTagValue(poison, "leaked"))
      val (h0, _) = VectorTopKRule.planCacheStats
      val second = topk()
      val leaked = second.queryExecution.optimizedPlan.collect {
        case p if p.getTagValue(poison).isDefined => p
      }
      val (h1, _) = VectorTopKRule.planCacheStats
      assert(h1 == h0 + 1, "repeat plan must be a cache hit for this pin to bite")
      assert(leaked.isEmpty,
        "cached plan aliases the building query's mutable TreeNode state")
    }
  }

  test("conf boundary: broadcast threshold is keyed; other non-graft confs serve (pinned staleness)") {
    register()
    withRule {
      VectorTopKRule.clearPlanCache()
      val firstIds = ids(topk())
      val (h0, m0) = VectorTopKRule.planCacheStats
      // autoBroadcastJoinThreshold IS part of the cache key: changing it
      // mid-session must rebuild (the broadcast-vs-shuffle choice for the
      // candidate feed depends on it), not serve the old subtree
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1048576")
        topk().queryExecution.optimizedPlan
        val (h1, m1) = VectorTopKRule.planCacheStats
        assert(h1 == h0 && m1 == m0 + 1,
          "an autoBroadcastJoinThreshold change must be a keyed MISS")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      // the PINNED CONTRACT for every other plan-affecting non-graft conf
      // (AQE flags, parquet pushdown toggles, ...): the key does NOT
      // enumerate them — a mid-session change serves the subtree optimized
      // under the old conf (documented staleness, VectorTopKRule scaladoc).
      // The serve must still be a hit AND exact, because the graft's
      // correctness never depended on those confs
      val savedP = spark.conf.get("spark.sql.parquet.filterPushdown")
      try {
        spark.conf.set("spark.sql.parquet.filterPushdown", "false")
        val (hb, _) = VectorTopKRule.planCacheStats
        val served = topk()
        served.queryExecution.optimizedPlan
        val (h2, _) = VectorTopKRule.planCacheStats
        assert(h2 == hb + 1,
          "a non-keyed conf change must still serve from the cache")
        assert(ids(served) == firstIds, "served plan must stay exact")
      } finally spark.conf.set("spark.sql.parquet.filterPushdown", savedP)
    }
  }
}
