package graft.ivf

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{array_distance, float_vector}

/** Top-k vector search: brute-force and IVF-index-accelerated paths.
  *
  * Mirrors the reference's `TopkBuilder` / `VectorTopKExec` pipeline
  * (`/root/reference/src/ivf/search.rs:47-142`, `src/df_vector/exec.rs`)
  * as a Spark plan, with one entry point per result shape — [[search]]
  * (`SearchResult` rows) and [[indexed]] (payload rows) — and the metric
  * and coarse-ranking tier chosen in [[Options]], like the reference's one
  * options struct (`src/df_vector/options.rs:3-19`):
  *
  *  - brute force = `orderBy(array_distance).limit(k)` — Spark plans this as
  *    `TakeOrderedAndProjectExec`, a per-partition bounded heap + driver
  *    merge, i.e. exactly the reference's heap re-rank, but distributed;
  *  - indexed, no residual filter = TWO-PHASE (the reference's access
  *    plan): phase 1 probes per-file indexes executor-side and ranks
  *    candidates — on their floats read by `SelectiveFetch` (the `Float`
  *    tier), or on SQ8/PQ code sidecars with an exact float refine of the
  *    `k·oversample` survivors ([[quantizedWinners]]); phase 2 materializes
  *    the k winners eagerly (the reference TopkBuilder's shape) and fetches
  *    their payload rows from ONLY the files that hold them — payload IO is
  *    ≤ k files of the projected columns, not a table scan;
  *  - indexed with a residual filter = one pass: the scan re-read under
  *    [[graft.plans.IvfCandidateFilter]], which probes each file's index
  *    inside the scan task (the reference's per-scan-file
  *    `VectorIndexScanExec` shape) → residual filter → metered fetch →
  *    heap top-k, all in one Spark job. Candidate pruning composes with
  *    later filters in post-filter order, matching the reference's
  *    semantics (`src/df_vector/tests.rs:151-241`): a restrictive filter
  *    may return fewer than k rows. The SQL rewrite
  *    ([[graft.plans.VectorTopKRule]]) runs every float top-k this way.
  *    The scan reads only the narrow columns; the candidate filter
  *    fetches the float vectors of the passing rows (`SelectiveFetch`), so
  *    a winner-first split would save nothing.
  *
  * Scale: the driver only peeks index HEADERS (dim/k, a ~26-byte read per
  * file) for validation; probing — footer reads and posting-list decodes —
  * happens on executors.
  */
object VectorTopK {

  /** Coarse-ranking tier: what phase 1 reads to rank candidates. */
  sealed trait Tier
  object Tier {
    /** Full-precision floats, read selectively (exact at exhaustive nprobe). */
    case object Float extends Tier

    /** int8 scalar-quantized codes ([[Sq8Sidecar]], `dim` bytes per
      * candidate); the `k·oversample` best by code distance are refined on
      * their floats.
      */
    final case class Sq8(oversample: Int = 4) extends Tier {
      require(oversample >= 1, "oversample must be >= 1")
    }

    /** Product-quantized codes ([[PqSidecar]], `m` bytes per candidate)
      * ranked by ADC; `residual` reads the IVF-ADC variant whose codes
      * quantize `vec − cellCentroid`. The `k·oversample` best are refined
      * on their floats.
      */
    final case class Pq(oversample: Int = 8, residual: Boolean = false) extends Tier {
      require(oversample >= 1, "oversample must be >= 1")
    }
  }

  /** Reference defaults (the reference's `src/df_vector/options.rs:3-19`),
    * plus what the reference picks by method: `tier` (coarse ranking) and
    * `cosine` (angular metric — cells probed by centroid cosine, results
    * ordered most-similar first, `distance` = 1 − cos).
    *
    * Exact when `nprobe >= nClusters` and, for a quantized tier,
    * `k·oversample` covers the candidate volume (every candidate survives
    * coarse ranking and the refine is exact float space); otherwise
    * approximate with recall governed by (nprobe, oversample). Angular
    * recall below exhaustive nprobe is best over indexes built on
    * unit-normalized embeddings, where angular and L2 cells coincide.
    */
  final case class Options(
      nprobe: Int = 5,
      maxCandidates: Option[Int] = None,
      tier: Tier = Tier.Float,
      cosine: Boolean = false) {
    require(nprobe > 0, "nprobe must be > 0")
    maxCandidates.foreach(m => require(m > 0, "max_candidates must be > 0"))
    // the quantized tiers already bound refine IO by k·oversample
    require(
      maxCandidates.isEmpty || tier == Tier.Float,
      s"max_candidates (the fairness cap) applies to the Float tier only, got $tier")
  }

  /** Programmatic search row, the reference's `SearchResult`
    * (`/root/reference/src/ivf/search.rs:40-45`): file-local row ordinal +
    * true (sqrt'd) L2 distance, or 1 − cos under `Options.cosine`.
    */
  final case class SearchResult(row_idx: Long, distance: Float)

  def distanceCol(column: String, query: Seq[Float]): Column =
    array_distance(col(column), float_vector(query))

  /** Best-first ordering in the query's metric: distance ascending, or
    * cosine similarity descending; nulls last either way.
    */
  private def rankOrder(column: String, query: Seq[Float], cosine: Boolean): Column =
    if (cosine)
      graft.functions.array_cosine_similarity(col(column), float_vector(query)).desc_nulls_last
    else distanceCol(column, query).asc_nulls_last

  /** Exact brute-force top-k; `NULLS LAST` reproduces the reference's
    * skip-null/skip-mismatched-dim semantics under `LIMIT k`.
    */
  def bruteForce(df: DataFrame, column: String, query: Seq[Float], k: Int): DataFrame =
    df.orderBy(rankOrder(column, query, cosine = false)).limit(k)

  /** Round-robin fairness cap across files so one file cannot starve the
    * others (reference `CandidateCursor`: `src/df_vector/access.rs:193-243`).
    * Used when the per-file lists are already materialized;
    * [[graft.plans.IvfCandidateFilter.roundRobinQuotas]] is the counts-only
    * twin used by the distributed paths.
    */
  def capRoundRobin(
      perFile: Seq[(String, Array[Int])], cap: Int): Seq[(String, Array[Int])] = {
    val cursors = perFile.map(_ => 0).toArray
    val out = perFile.map(_ => Vector.newBuilder[Int]).toArray
    var taken = 0
    var progressed = true
    while (taken < cap && progressed) {
      progressed = false
      var i = 0
      while (i < perFile.length && taken < cap) {
        val (_, cands) = perFile(i)
        if (cursors(i) < cands.length) {
          out(i) += cands(cursors(i))
          cursors(i) += 1
          taken += 1
          progressed = true
        }
        i += 1
      }
    }
    perFile.zipWithIndex.map { case ((file, _), i) => (file, out(i).result().toArray) }
  }

  private def listed(spark: SparkSession, path: String): Seq[String] = {
    val files = IndexManager.listFiles(spark, path)
    require(files.nonEmpty, s"no parquet files under $path")
    files
  }

  /** Driver-side validation, header-peek only (O(files) tiny reads): every
    * file has an index of the query's dim, and passes the tier's `sidecar`
    * check. Memoized on the table's dir identity, so repeat calls over an
    * unchanged table validate in O(1) stats
    * ([[IndexStore.memoizedTableProbe]]); a throwing validation is never
    * cached, so error paths re-check every time.
    */
  private def validateIndexed(
      files: Seq[String],
      column: String,
      dim: Int,
      store: IndexStore,
      tag: String = "float",
      sidecar: String => Unit = _ => ()): Unit =
    IndexStore.memoizedTableProbe(s"validate-$tag-$dim", column, files, store.dir) {
      files.foreach { file =>
        val (indexDim, _) = IndexManager.cachedPeekStrict(store, file, column)
          .getOrElse(throw new IllegalStateException(
            s"no IVF index for file $file column '$column' — build one with IvfBuilder"))
        require(indexDim == dim, s"query dim $dim != index dim $indexDim for $file")
        sidecar(file)
      }
    }

  /** The table re-read restricted to IVF candidate rows by the in-task
    * [[graft.plans.IvfCandidateFilter]] — the plan-integrated fetch behind
    * the filtered [[indexed]].
    */
  private def candidateScan(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      options: Options,
      store: IndexStore): DataFrame = {
    val files = listed(spark, path)
    validateIndexed(files, column, query.length, store)
    graft.Graft.installStrategy(spark)
    import graft.plans.IvfCandidateFilter
    IvfCandidateFilter
      .over(IvfCandidateFilter.keyed(spark.read.parquet(path)), graft.plans.CandidateProbe(
        column, query, options.nprobe, store.dir, options.cosine,
        options.maxCandidates, files))
      .drop(IvfCandidateFilter.FileCol, IvfCandidateFilter.RowIndexCol)
  }

  /** Estimated bytes per (path, ordinal) key row, for broadcast sizing. */
  private def keyRowBytes(files: Seq[String]): Long =
    files.headOption.map(_.length.toLong).getOrElse(64L) + 32L

  /** Wrap in the fetch-metering node (`embeddings_fetched` /
    * `batches_fetched` SQLMetrics, post-filter like the reference).
    * Installs the planner strategy first (idempotent): a MeteredFetch node
    * in a session where no candidate-scan path ran yet would otherwise hit
    * "No plan for MeteredFetch" at planning time — the order-dependent
    * zq6 Verify failure.
    */
  private def meterFetch(spark: SparkSession, df: DataFrame): DataFrame = {
    graft.Graft.installStrategy(spark)
    org.apache.spark.sql.graft.Bridge.ofRows(
      spark, graft.plans.MeteredFetch(df.queryExecution.analyzed))
  }

  /** Payload fetch for an ALREADY-MATERIALIZED winner set: reads ONLY the
    * files that hold winners (file-level pruning — payload IO is bounded
    * by ≤ k files, not the table; the lazy semi-join alternative streams a
    * column-pruned scan of EVERY file, which at 100 TB is a full pass of
    * the projected columns per query). The winner list is k rows by
    * contract, so collecting it is bounded — the same eager phase split
    * the reference's TopkBuilder makes.
    */
  private def fetchWinnersPayload(
      spark: SparkSession,
      path: String,
      winners: Array[(String, Long)]): DataFrame = {
    if (winners.isEmpty) return spark.read.parquet(path).limit(0)
    import spark.implicits._
    val files = winners.map(_._1).distinct.toSeq
    val winnerDf = winners.toSeq.toDF("_file", "_ri")
    // basePath anchors partition-column inference to the TABLE root: a
    // leaf-file read without it would silently drop Hive-style partition
    // columns (and diverge from the empty-winners branch's root-read
    // schema). Spark requires basePath to be a DIRECTORY — a single-file
    // table (footer-embedded layouts) has no partition columns to lose,
    // so it reads plain.
    val isDir =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).isDirectory
      } catch { case _: Exception => false }
    val reader = if (isDir) spark.read.option("basePath", path) else spark.read
    reader.parquet(files: _*)
      .withColumn("_file", col("_metadata.file_path"))
      .withColumn("_ri", col("_metadata.row_index"))
      .join(broadcast(winnerDf), Seq("_file", "_ri"), "left_semi")
      .drop("_file", "_ri")
  }

  /** Shared eager phase-2: rank the winner feed, keep k, fetch their
    * payload rows from only their files, re-rank exactly.
    */
  private def winnersThenFetch(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      k: Int,
      winnerFeed: DataFrame,
      cosine: Boolean): DataFrame = {
    val winners = winnerFeed
      .orderBy(col("_dist").asc_nulls_last)
      .limit(k)
      .select(col("_file"), col("_ri"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val fetched = fetchWinnersPayload(spark, path, winners)
    // final re-rank must use the QUERY's metric: an angular winner set
    // ordered by L2 would hand callers the wrong head row on
    // non-unit-norm data (the SQL path never hits this — its own Sort
    // stays above the rewritten leaf)
    meterFetch(spark, fetched).orderBy(rankOrder(column, query, cosine)).limit(k)
  }

  /** Index-accelerated top-k over a Parquet table: full payload rows,
    * best first in the query's metric (`Options.cosine`).
    *
    * Filter-free queries run phase 1 EAGERLY (the reference TopkBuilder's
    * shape) on the winner feed of `Options.tier`: the k winners are
    * materialized at call time so the payload scan can be pruned to only
    * their files — see [[fetchWinnersPayload]].
    * Consequence: the returned DataFrame is a SNAPSHOT of the winners at
    * construction time — re-executing it after the table grows replays the
    * frozen winner set (construct a fresh query to re-probe), and
    * construction itself launches the phase-1 jobs. The filtered variant
    * stays fully lazy (its candidate filter re-probes per execution), and
    * so does the SQL rewrite (`ORDER BY array_distance(…) LIMIT k`), whose
    * in-task candidate filter probes on every execution.
    *
    * @param filter residual predicate applied AFTER candidate pruning
    *               (post-filter semantics, like the reference); served on
    *               the `Float` tier only.
    */
  def indexed(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      k: Int,
      options: Options = Options(),
      filter: Option[Column] = None,
      store: IndexStore = IndexStore.default): DataFrame = {
    require(k > 0, "k must be > 0")
    filter match {
      case Some(residual) =>
        require(
          options.tier == Tier.Float,
          s"a residual filter runs on the Float tier only, got ${options.tier}")
        // post-filter semantics: the residual prunes candidates BEFORE the
        // top-k, so full candidate rows must be fetched — one-phase plan
        val scan = candidateScan(spark, path, column, query, options, store)
        meterFetch(spark, scan.where(residual))
          .orderBy(rankOrder(column, query, options.cosine)).limit(k)
      case None =>
        // two-phase (the reference's access plan): phase 1 ranks candidates
        // reading ONLY the embedding column (or codes) of candidate rows —
        // IO proportional to candidates; phase 2 fetches full payload rows
        // for just the k winners from ONLY their files.
        winnersThenFetch(
          spark, path, column, query, k,
          winnerFeed(spark, listed(spark, path), column, query, k, options, store),
          options.cosine)
    }
  }

  /** Programmatic search returning the reference's `SearchResult` shape —
    * (file-local row ordinal, true L2 distance), distance ascending
    * (`/root/reference/src/ivf/search.rs:129-141`; the reference sqrt's the
    * squared-L2 heap key before returning, as `array_distance` does).
    * Under `Options.cosine`, `distance` is `1 − cos(vec, query)`, still
    * ascending (most similar first) — the API twin of the SQL path's
    * `ORDER BY array_cosine_similarity(col, lit) DESC LIMIT k`.
    *
    * This is the reference's Rust-API pipeline end to end, distributed:
    * each executor task probes its files' indexes and SELECTIVELY reads
    * only the embedding column (or, on a quantized tier, the codes) of only
    * the candidate rows ([[SelectiveFetch]]) — IO proportional to
    * candidates, not file size — then `orderBy(distance).limit(k)`
    * bounded-heap merges across files. For multi-file tables `row_idx` is
    * file-local, like the reference's per-file API; use [[indexed]] when
    * full rows are needed.
    */
  def search(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      k: Int,
      options: Options = Options(),
      store: IndexStore = IndexStore.default): Dataset[SearchResult] = {
    require(k > 0, "k must be > 0")
    import spark.implicits._
    winnerFeed(spark, listed(spark, path), column, query, k, options, store)
      .select(col("_ri").as("row_idx"), col("_dist").as("distance"))
      .orderBy(col("distance").asc_nulls_last)
      .limit(k)
      .as[SearchResult]
  }

  /** Phase 1 of `Options.tier` as a lazy `(_file, _ri, _dist)` feed with
    * exact distances in the query's metric.
    */
  private def winnerFeed(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      query: Seq[Float],
      k: Int,
      options: Options,
      store: IndexStore): DataFrame =
    options.tier match {
      case Tier.Float => searchByFiles(spark, files, column, query, options, store)
      case _ => quantizedWinners(spark, files, column, query, k, options, store)
    }

  /** The float probe + selective-read pipeline as a lazy DataFrame of
    * `(_file, _ri, _dist)`: each executor task probes its files' indexes
    * and reads ONLY the embedding column of only the row groups holding
    * candidates ([[SelectiveFetch]]) — the `Float` phase 1 of [[search]]
    * and the two-phase [[indexed]].
    *
    * `Options.cosine` switches to the angular metric: cells are probed by
    * centroid cosine ([[IvfIndex.findClosestCentroidsCosine]]) and `_dist`
    * is `1 − cos(vec, query)` — ascending-sortable, so the same
    * `orderBy(_dist).limit(k)` winner selection serves both metrics
    * (descending cosine ≡ ascending 1 − cos).
    */
  private[graft] def searchByFiles(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      query: Seq[Float],
      options: Options,
      store: IndexStore): DataFrame = {
    import spark.implicits._
    require(files.nonEmpty, "no parquet files to search")
    val q = query.toArray
    validateIndexed(files, column, q.length, store)
    val sc = spark.sparkContext
    val slices = math.max(1, math.min(files.size, sc.defaultParallelism))
    val colName = column
    val nprobe = options.nprobe
    val angular = options.cosine
    // fairness cap, as in the SQL rewrite's candidate filter
    val quotas = graft.plans.IvfCandidateFilter.quotas(sc, graft.plans.CandidateProbe(
      column, query, nprobe, store.dir, angular, options.maxCandidates, files))
    val withQuota = files.map(f => (f, quotas.fold(Long.MaxValue)(_(f))))
    val results = sc.parallelize(withQuota, slices).flatMap { case (file, quota) =>
      val index = IndexManager.loadIndex(store, file, colName)
      require(
        index.dim == q.length,
        s"query dim ${q.length} != index dim ${index.dim} for $file")
      // cap takes the probe-order (centroid-order) prefix, like the
      // reference's CandidateCursor, then fetch reads ordinal-ascending
      val cands =
        if (angular) index.candidateRowsCosine(q, nprobe)
        else index.candidateRows(q, nprobe)
      val n = math.min(quota, cands.length.toLong).toInt
      val capped = java.util.Arrays.copyOfRange(cands, 0, n)
      SelectiveFetch.embeddings(file, colName, capped).iterator.collect {
        case (ri, vec) if vec.length == q.length => (file, ri, exactDist(vec, q, angular))
      }
    }
    spark.createDataset(results).toDF("_file", "_ri", "_dist")
  }

  /** True L2 distance, or `1 − cos` when `angular`. */
  private def exactDist(vec: Array[Float], q: Array[Float], angular: Boolean): Float =
    if (angular) 1.0f - graft.functions.VectorKernels.cosine(vec, q)
    else math.sqrt(graft.functions.VectorKernels.squaredL2(vec, q).toDouble).toFloat

  /** Brute `(_file, _ri, _dist)` over the whole table in ONE vectorized
    * scan pass, distances through [[graft.functions.VectorKernels]] — the
    * kernel-identical full-scan twin of [[rangeWinners]], used when the
    * selectivity bailout says scanning beats point reads.
    */
  private def bruteDistances(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float]): DataFrame = {
    import spark.implicits._
    val q = query.toArray
    spark.read.parquet(path)
      .select(
        col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_ri"),
        col(column).cast("array<float>").as("_vec"))
      .as[(String, Long, Array[Float])]
      .flatMap { case (f, ri, vec) =>
        if (vec != null && vec.length == q.length)
          Iterator.single((f, ri, exactDist(vec, q, angular = false)))
        else Iterator.empty
      }
      .toDF("_file", "_ri", "_dist")
  }

  /** RANGE search winner feed `(_file, _ri, _dist)`: all rows with
    * `array_distance(vec, query) < radius`, served from the IVF index with
    * EXACT per-cell pruning — cell i is read only when the triangle
    * inequality admits an in-range member
    * (`d(q, c_i) <= radius + maxMemberRadius_i`, see
    * [[IvfIndex.rangeProbeCells]]), so IO scales with the in-range
    * neighborhood, not the table. Unlike top-k, range pruning is LOSSLESS:
    * the result equals the brute filter for any radius, no nprobe knob.
    * Files without a radius sidecar (reference-built indexes) degrade to
    * probing every cell of that file — still exact; run
    * [[IvfBuilder.ensureRadii]] to backfill.
    */
  private def rangeWinners(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      radius: Float,
      store: IndexStore): DataFrame = {
    import spark.implicits._
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val files = listed(spark, path)
    val q = query.toArray
    validateIndexed(files, column, q.length, store)
    val sc = spark.sparkContext
    val slices = math.max(1, math.min(files.size, sc.defaultParallelism))
    val colName = column
    val r = radius
    val results = sc.parallelize(files, slices).flatMap { file =>
      val index = IndexManager.loadIndex(store, file, colName)
      val radii = IndexManager.validRadii(store, file, colName, index)
      val cells = index.rangeProbeCells(q, r, radii)
      val cands = cells.flatMap(index.invertedLists)
      java.util.Arrays.sort(cands)
      SelectiveFetch.embeddings(file, colName, cands).iterator.flatMap {
        case (ri, vec) if vec.length == q.length =>
          val d = exactDist(vec, q, angular = false)
          if (d < r) Iterator.single((file, ri, d)) else Iterator.empty
        case _ => Iterator.empty
      }
    }
    spark.createDataset(results).toDF("_file", "_ri", "_dist")
  }

  /** Range CANDIDATE feed for the SQL rewrite: `(_file, _ri)` of every
    * member of every cell the triangle-inequality bound admits — a pure
    * posting-list projection with NO embedding reads (the rewritten plan's
    * untouched Filter recomputes the exact predicate on fetched rows via
    * the codegen'd distance expression, so the feed only needs to be a
    * superset of the in-range rows, which lossless cell pruning guarantees).
    */
  private[graft] def rangeCandidatesByFiles(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      query: Seq[Float],
      radius: Float,
      store: IndexStore): DataFrame = {
    import spark.implicits._
    require(files.nonEmpty, "no parquet files to search")
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val q = query.toArray
    val sc = spark.sparkContext
    val slices = math.max(1, math.min(files.size, sc.defaultParallelism))
    val colName = column
    val r = radius
    val results = sc.parallelize(files, slices).flatMap { file =>
      val index = IndexManager.loadIndex(store, file, colName)
      val radii = IndexManager.validRadii(store, file, colName, index)
      index.rangeProbeCells(q, r, radii).iterator.flatMap { c =>
        index.invertedLists(c).iterator.map(ri => (file, ri.toLong))
      }
    }
    spark.createDataset(results).toDF("_file", "_ri")
  }

  /** Sampled estimate of the range query's (candidate rows, total rows)
    * across the table — shared by the SQL rewrite's selectivity bailout
    * (`VectorTopKRule.buildRangePrunedLeaf`) and the API paths: up to
    * [[RangeEstimateSampleFiles]] evenly-spaced files' indexes are probed
    * driver-side (cheap: decoded indexes come from the LRU) and scaled to
    * the file count. A single-file estimate misjudges CLUSTERED layouts,
    * where one file holds the whole in-range blob and the rest hold none
    * (measured in the round-6 scale probe); spacing the sample across the
    * sorted file list averages blob-holding and empty files.
    */
  private val RangeEstimateSampleFiles = 4
  private def estimateRangeCandidates(
      files: Seq[String],
      column: String,
      query: Array[Float],
      radius: Float,
      store: IndexStore): (Long, Long) = {
    // ceil, not floor: floor turns e.g. 5-7 files into step 1 (a prefix
    // sample that never sees the tail, exactly the bias this sampling is
    // meant to avoid on clustered layouts)
    val step = math.max(
      1, (files.size + RangeEstimateSampleFiles - 1) / RangeEstimateSampleFiles)
    val sampled = files.indices.by(step).map(files).take(RangeEstimateSampleFiles)
    var cand = 0L
    var total = 0L
    var seen = 0
    sampled.foreach { f =>
      // through the decoded-index LRU — repeated estimates are free
      scala.util.Try(IndexManager.loadIndex(store, f, column)).toOption.foreach { idx =>
        val radii = IndexManager.validRadii(store, f, column, idx)
        cand += idx.rangeProbeCells(query, radius, radii)
          .map(idx.invertedLists(_).length.toLong).sum
        total += idx.numRows
        seen += 1
      }
    }
    if (seen == 0) (0L, 0L)
    else ((cand * files.size) / seen, (total * files.size) / seen)
  }

  /** The range query's sampled candidate estimate and the two plan choices
    * both range paths (this API and `VectorTopKRule.buildRangePrunedLeaf`)
    * make from it, computed ONCE per call:
    *
    *  - `bail` is true when the estimated candidate fraction exceeds
    *    `spark.graft.ivf.rangeMaxSelectivity` (default 0.05) — a
    *    barely-pruning radius makes the vectorized full scan cheaper than
    *    point-read fetch, the classic index-vs-scan crossover (measured at
    *    sf0.1: a ~10%-in-range radius with cell-wide spread ran 0.31 s
    *    pruned vs 0.14 s brute, BENCHNOTES round-5);
    *  - `broadcastKeys`: even below the bailout a broad radius can make the
    *    key set too large to broadcast safely, so the keys broadcast only
    *    when their estimated size is at most half of
    *    `spark.sql.autoBroadcastJoinThreshold`.
    */
  private[graft] final case class RangeEstimate(
      candidates: Long, bail: Boolean, broadcastKeys: Boolean) {
    def keySide(keys: DataFrame): DataFrame = if (broadcastKeys) broadcast(keys) else keys
  }

  private[graft] def rangeEstimate(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      query: Array[Float],
      radius: Float,
      store: IndexStore): RangeEstimate = {
    val (est, total) =
      estimateRangeCandidates(files, column, query, radius, store)
    val maxSel = spark.conf
      .getOption(graft.plans.VectorTopKRule.RangeMaxSelectivityKey)
      .getOrElse(graft.plans.VectorTopKRule.RangeMaxSelectivityDefault).toDouble
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    RangeEstimate(
      est,
      bail = total > 0 && est.toDouble / total > maxSel,
      broadcastKeys = threshold >= 0 && est * keyRowBytes(files) * 2 <= threshold)
  }

  /** Programmatic range search ([[SearchResult]] rows, distance ascending):
    * every vector strictly within `radius` (true L2) of `query` — the
    * radius-predicate analog of [[search]], exact at any radius. A radius
    * whose estimated candidate fraction exceeds
    * `spark.graft.ivf.rangeMaxSelectivity` is served by the vectorized
    * full scan instead of point reads (same answer, cheaper plan).
    */
  def rangeSearch(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      radius: Float,
      store: IndexStore = IndexStore.default): Dataset[SearchResult] = {
    import spark.implicits._
    val files = listed(spark, path)
    val winners =
      if (rangeEstimate(spark, files, column, query.toArray, radius, store).bail) {
        // brute twin through the SAME kernel as the pruned path so both
        // branches agree bit-for-bit at the radius boundary
        bruteDistances(spark, path, column, query)
          .where(col("_dist") < lit(radius))
      } else rangeWinners(spark, path, column, query, radius, store)
    winners
      .select(col("_ri").as("row_idx"), col("_dist").as("distance"))
      .orderBy(col("distance").asc_nulls_last, col("row_idx"))
      .as[SearchResult]
  }

  /** Plan-integrated range search: full payload rows whose vector is
    * strictly within `radius` of `query` — equivalent to
    * `df.where(array_distance(col, query) < radius)` but reading only the
    * cells the triangle-inequality bound admits, then only the winners'
    * payload rows (the two-phase shape: in-range IO, not table IO).
    *
    * Selectivity: point-read pruning wins when the radius is SELECTIVE (a
    * small, localized in-range neighborhood). Past
    * `spark.graft.ivf.rangeMaxSelectivity` (default 0.05, same estimate and
    * default as the SQL rewrite, [[rangeEstimate]]) this falls back to the vectorized full
    * scan with the codegen'd predicate — identical rows, cheaper plan.
    */
  def rangeRows(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      radius: Float,
      store: IndexStore = IndexStore.default): DataFrame = {
    val files = listed(spark, path)
    val range = rangeEstimate(spark, files, column, query.toArray, radius, store)
    if (range.bail)
      return spark.read.parquet(path).where(distanceCol(column, query) < lit(radius))
    val winners = rangeWinners(spark, path, column, query, radius, store)
      .select(col("_file"), col("_ri"))
    val fetched = spark.read.parquet(path)
      .withColumn("_file", col("_metadata.file_path"))
      .withColumn("_ri", col("_metadata.row_index"))
      .join(range.keySide(winners), Seq("_file", "_ri"), "left_semi")
      .drop("_file", "_ri")
    meterFetch(spark, fetched)
  }

  /** Bounded max-heap of the `keep` smallest (key, ordinal) pairs, ties
    * broken toward the lower ordinal (deterministic, like coarseTopK's id
    * tie-break) — each task's coarse cut, so no full candidate list leaves
    * a task.
    */
  private final class KeepHeap(keep: Int) {
    private val heap = new java.util.PriorityQueue[(Double, Int)](
      math.max(1, math.min(keep, 1024)),
      (a: (Double, Int), b: (Double, Int)) => {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else Integer.compare(b._2, a._2)
      })

    def push(d: Double, ri: Int): Unit =
      if (heap.size < keep) heap.add((d, ri)): Unit
      else {
        val worst = heap.peek()
        if (d < worst._1 || (d == worst._1 && ri < worst._2)) {
          heap.poll(); heap.add((d, ri)): Unit
        }
      }

    def drain(file: String): Iterator[(String, Long, Double)] =
      Iterator.continually(heap.poll()).takeWhile(_ != null)
        .map { case (d, ri) => (file, ri.toLong, d) }
  }

  /** Quantized phase 1+2 (`Options.tier` = [[Tier.Sq8]] or [[Tier.Pq]]) as
    * a lazy `(_file, _ri, _dist)` feed of the `k·oversample` refine
    * survivors with EXACT distances:
    *
    *  1. coarse — each executor task probes its files' indexes and ranks
    *     candidates on the tier's code sidecar (point reads of `dim` bytes
    *     per candidate for SQ8, `m` bytes for PQ — 32× under floats at
    *     m = dim/8), keeping its `k·oversample` best in a [[KeepHeap]];
    *     the global cut orders by (key, file, ordinal);
    *  2. refine — the surviving (file, ordinal) pairs regroup per file and
    *     only THEIR full-precision floats are read ([[SelectiveFetch]]),
    *     emitting exact distances in the query's metric.
    *
    * Float IO is `k·oversample` rows regardless of candidate volume — the
    * IVF-SQ8 / IVF-PQ (faiss `IndexIVFScalarQuantizer` / `IndexIVFPQ`)
    * asymptotic. The SQL rewrite calls this with the scan's file set when
    * `spark.graft.ivf.tier` resolves to sq8, pq or pqr.
    */
  private[graft] def quantizedWinners(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      query: Seq[Float],
      k: Int,
      options: Options,
      store: IndexStore): DataFrame = {
    import spark.implicits._
    require(k > 0, "k must be > 0")
    require(files.nonEmpty, "no parquet files to search")
    val q = query.toArray
    val (oversample, tag, sidecar, coarse) = options.tier match {
      case Tier.Sq8(os) =>
        (os, "sq8",
          (file: String) => require(
            Sq8Sidecar.usable(store, file, column),
            s"no usable SQ8 sidecar for file $file column '$column' (absent, stale " +
              "binding, or damaged) — build one with Sq8Sidecar.ensure"),
          sq8Coarse(store, column, q, options))
      case Tier.Pq(os, residual) =>
        (os, s"pq-$residual",
          // existsPq (not usable()): a PRESENT sidecar from a dead centroid
          // epoch must reach the reader's specific stale-epoch refusal
          // (rebuilt via ensure), not a generic absent message
          (file: String) => require(
            store.existsPq(file, column, residual),
            s"no ${if (residual) "residual " else ""}PQ sidecar for file $file column " +
              s"'$column' — build one with PqSidecar.build"),
          pqCoarse(store, column, q, options, residual))
      case Tier.Float =>
        throw new IllegalArgumentException("quantizedWinners serves the Sq8 and Pq tiers")
    }
    validateIndexed(files, column, q.length, store, tag, sidecar)
    val sc = spark.sparkContext
    val slices = math.max(1, math.min(files.size, sc.defaultParallelism))
    val colName = column
    val angular = options.cosine
    val keep = math.min(k.toLong * oversample, Int.MaxValue.toLong).toInt

    val perFile = sc.parallelize(files, slices).flatMap { file =>
      val heap = new KeepHeap(keep)
      coarse(file, IndexManager.loadIndex(store, file, colName), heap)
      heap.drain(file)
    }
    val survivors = spark.createDataset(perFile).toDF("_file", "_ri", "_key")
      .orderBy(col("_key"), col("_file"), col("_ri"))
      .limit(keep)
      .as[(String, Long, Double)]

    // refine: re-group survivors per file, selectively read ONLY their
    // floats, emit exact distances in the query's metric (1 − cos for
    // angular, like the float winner feed)
    val refined = survivors
      .groupByKey(_._1)
      .flatMapGroups { (file, rows) =>
        val ordinals = rows.map(_._2.toInt).toArray.sorted
        SelectiveFetch.embeddings(file, colName, ordinals).iterator.collect {
          case (ri, vec) if vec.length == q.length => (file, ri, exactDist(vec, q, angular))
        }
      }
    refined.toDF("_file", "_ri", "_dist")
  }

  /** SQ8 coarse scorer: integer code-space L2 read from the [[Sq8Sidecar]]
    * (exact in a Double far below 2^53), or the code-grid 1 − cos for
    * angular queries — coarse either way; the float refine restores the
    * exact metric.
    */
  private def sq8Coarse(
      store: IndexStore,
      column: String,
      q: Array[Float],
      options: Options): (String, IvfIndex, KeepHeap) => Unit = {
    val (nprobe, angular) = (options.nprobe, options.cosine)
    val qCodes = graft.functions.Sq8.encode(q)
    (file, index, heap) => {
      // candidateRows concatenates per-cell posting lists — not globally
      // ascending at nprobe > 1. readRows requires ascending ordinals (its
      // bounds check and run-coalescing depend on it), and the heap is
      // order-independent, so sorting here is free of semantic effect.
      val cands =
        if (angular) index.candidateRowsCosine(q, nprobe)
        else index.candidateRows(q, nprobe)
      java.util.Arrays.sort(cands)
      val codes = Sq8Sidecar.readRows(store.codesPath(file, column), cands)
      var i = 0
      while (i < cands.length) {
        if (codes(i).length == qCodes.length)
          heap.push(
            if (angular) graft.functions.Sq8.angularDist(qCodes, codes(i))
            else graft.functions.Sq8.distanceSq(qCodes, codes(i)).toDouble,
            cands(i))
        i += 1
      }
    }
  }

  /** PQ coarse scorer: ADC (one `m × ksub` exact query-to-centroid table,
    * then `m` byte lookups per candidate). Keys are the Float ADC values
    * widened to Double, which keeps their order and ties.
    */
  private def pqCoarse(
      store: IndexStore,
      column: String,
      q: Array[Float],
      options: Options,
      wantResidual: Boolean): (String, IvfIndex, KeepHeap) => Unit = {
    val (nprobe, angular) = (options.nprobe, options.cosine)
    val qNorm = math.sqrt(graft.functions.VectorKernels.dot(q, q).toDouble)
    (file, index, heap) => {
      // code-space 1 − cos from per-(subspace, entry) tables: dot(q, x̂) and
      // ‖x̂‖² are EXACT sums over the code (subspaces partition coordinates),
      // so the only approximation is x̂ itself — coarse ranking, the float
      // refine restores the true metric
      def angularKey(dot: Double, normSq: Double): Float =
        if (qNorm == 0.0 || normSq <= 0.0) 2.0f
        else (1.0 - dot / (qNorm * math.sqrt(normSq))).toFloat
      // open-once reader: the residual branch reads per probed cell, so
      // reopening per cell would be nprobe redundant opens per task; the
      // codebook comes from the process-wide digest-keyed LRU, so a
      // multi-file table decodes it once per JVM and every other file
      // costs a 36-byte header read
      val reader = new PqSidecar.Reader(store.pqPath(file, column, wantResidual))
      try {
        val header = reader.header
        require(
          header.residual == wantResidual,
          s"PQ sidecar variant mismatch for $file (flags=${header.flags})")
        // refuse-don't-guess: residual codes quantize vec − cellCentroid, so a
        // retrain that moved the centroids makes them garbage under the new
        // ADC tables — a digest mismatch is a hard error, never a recall drop
        if (wantResidual) require(
          header.centroidDigest == index.centroidDigest,
          s"stale residual PQ sidecar for $file: codes were encoded under " +
            s"centroid epoch ${header.centroidDigest} but the index is now " +
            s"${index.centroidDigest} (retrained since encode) — rebuild with " +
            "PqSidecar.ensure")
        val cb = reader.codebook
        require(
          cb.dim == q.length,
          s"query dim ${q.length} != PQ codebook dim ${cb.dim} for $file")
        if (header.residual) {
          // IVF-ADC: codes quantize vec − cellCentroid, so the ADC table is
          // per probed cell, built from query − cellCentroid (exact identity
          // ‖q − x‖² = ‖(q − c) − (x − c)‖² — no approximation added); each
          // posting list is ascending, so the per-cell read still coalesces
          val dim = index.dim
          val normT = if (angular) Pq.normTable(cb) else null
          val dotT = if (angular) Pq.dotTable(q, cb) else null
          val cells =
            if (angular) index.findClosestCentroidsCosine(q, nprobe)
            else index.findClosestCentroids(q, nprobe)
          cells.foreach { cell =>
            val ords = index.invertedLists(cell)
            if (ords.nonEmpty) {
              val codes = reader.rows(ords)
              val cent = java.util.Arrays
                .copyOfRange(index.centroids, cell * dim, (cell + 1) * dim)
              if (angular) {
                // x̂ = cell + r̂: dot(q, x̂) = dot(q, cell) + Σ dotT[code];
                // ‖x̂‖² = ‖cell‖² + 2·Σ crossT[code] + Σ normT[code]
                val qDotCell = graft.functions.VectorKernels.dot(q, cent).toDouble
                val cellNormSq = graft.functions.VectorKernels.dot(cent, cent).toDouble
                val crossT = Pq.dotTable(cent, cb)
                var i = 0
                while (i < ords.length) {
                  val dot = qDotCell + Pq.adcDistanceSq(dotT, codes(i), cb.ksub)
                  val n2 = cellNormSq +
                    2.0 * Pq.adcDistanceSq(crossT, codes(i), cb.ksub) +
                    Pq.adcDistanceSq(normT, codes(i), cb.ksub)
                  heap.push(angularKey(dot, n2), ords(i))
                  i += 1
                }
              } else {
                val table = Pq.adcTable(Pq.residual(q, cent), cb)
                var i = 0
                while (i < ords.length) {
                  heap.push(Pq.adcDistanceSq(table, codes(i), cb.ksub), ords(i))
                  i += 1
                }
              }
            }
          }
        } else {
          val cands =
            if (angular) index.candidateRowsCosine(q, nprobe)
            else index.candidateRows(q, nprobe)
          java.util.Arrays.sort(cands)
          val codes = reader.rows(cands)
          if (angular) {
            val dotT = Pq.dotTable(q, cb)
            val normT = Pq.normTable(cb)
            var i = 0
            while (i < cands.length) {
              val dot = Pq.adcDistanceSq(dotT, codes(i), cb.ksub).toDouble
              val n2 = Pq.adcDistanceSq(normT, codes(i), cb.ksub).toDouble
              heap.push(angularKey(dot, n2), cands(i))
              i += 1
            }
          } else {
            val table = Pq.adcTable(q, cb)
            var i = 0
            while (i < cands.length) {
              heap.push(Pq.adcDistanceSq(table, codes(i), cb.ksub), cands(i))
              i += 1
            }
          }
        }
      } finally reader.close()
    }
  }

}
