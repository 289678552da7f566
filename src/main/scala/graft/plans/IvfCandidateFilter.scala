package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, GenericInternalRow, JoinedRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ivf.{IndexManager, IndexStore, SelectiveFetch}

/** In-task IVF candidate generation — the Spark analog of the reference's
  * `VectorIndexScanExec` (`src/df_vector/index_exec.rs`), fused into the
  * scan that fetches the rows: a filter over a file re-read that carries
  * each row's (file path, row ordinal) key, passing only the rows in the
  * cells the file's index probes for the query.
  *
  * Each task loads the index of every file it reads (the decoded LRU of
  * [[IndexManager.loadIndex]], with its staleness and binding checks),
  * probes once into a bitmap, and tests rows against it — so candidate
  * generation and fetch are one pass in one job, with no candidate feed,
  * join, or broadcast, and nothing per file on the driver. A file split
  * across tasks is probed once per task (`filesScanned` counts probes);
  * every split tests the same bitmap, so the union is exactly the file's
  * candidate set.
  *
  * A float vector column (`vector`) is not read by the scan below at all:
  * the node fetches it for the passing rows only, with [[SelectiveFetch]],
  * and appends it to each row — the reference's `read_embeddings_for_rows`
  * step. The scan then reads the narrow payload columns of every row and
  * the wide vector column of candidate rows only. A double vector column
  * stays in the scan (the fetch reads floats).
  *
  * `maxCandidates` is the reference's `max_candidates` fairness cap: an
  * execution-time job counts each file's candidates, [[roundRobinQuotas]]
  * turns the counts into per-file quotas over `probe.files` (the scan's
  * canonical sorted list), and each file keeps the probe-order prefix of
  * its quota, like the reference's `CandidateCursor`. Without a cap,
  * `probe.files` is unused.
  *
  * Membership is a pure function of (file, row ordinal), so the filter
  * commutes with any residual predicate: post-filter semantics hold
  * wherever the optimizer leaves it. SQLMetrics mirror the reference's
  * `files_scanned` / `candidate_rows` (`index_exec.rs:197-220`).
  */
final case class IvfCandidateFilter(
    fileAttr: Attribute,
    rowIndexAttr: Attribute,
    probe: CandidateProbe,
    vector: Option[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ vector
  override def producedAttributes: AttributeSet = AttributeSet(vector.toSeq)
  override def maxRows: Option[Long] = child.maxRows
  override def simpleString(maxFields: Int): String = probe.describe("IvfCandidateFilter")
  override protected def withNewChildInternal(c: LogicalPlan): IvfCandidateFilter =
    copy(child = c)
}

/** What [[IvfCandidateFilter]] probes: the indexed column, the query, the
  * index store, and the optional cap with the file order its quotas use.
  */
final case class CandidateProbe(
    column: String,
    query: Seq[Float],
    nprobe: Int,
    indexDir: String,
    cosine: Boolean,
    maxCandidates: Option[Int],
    files: Seq[String]) {
  def describe(name: String): String =
    s"$name [column=$column, dim=${query.length}, nprobe=$nprobe" +
      maxCandidates.fold("")(c => s", maxCandidates=$c, files=${files.size}") +
      (if (cosine) ", metric=cosine" else "") + "]"
}

object IvfCandidateFilter {
  /** Key columns [[over]] reads: `_metadata.file_path` / `row_index`. */
  val FileCol = "__file"
  val RowIndexCol = "__ri"

  /** `df`, a V1 parquet read, with its rows' [[FileCol]] / [[RowIndexCol]]. */
  def keyed(df: DataFrame): DataFrame =
    df.withColumn(FileCol, col("_metadata.file_path"))
      .withColumn(RowIndexCol, col("_metadata.row_index"))

  /** `df` (which must carry [[FileCol]] and [[RowIndexCol]]) filtered to
    * its IVF candidate rows, columns in their order; planned by
    * [[GraftStrategy]].
    */
  def over(df: DataFrame, probe: CandidateProbe): DataFrame = {
    val plan = df.queryExecution.analyzed
    def attr(name: String): Attribute = plan.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"candidate filter input lacks $name"))
    val vector = Some(attr(probe.column)).filter(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    val child = vector.fold(plan)(v => Project(plan.output.filterNot(_ == v), plan))
    Bridge.ofRows(df.sparkSession, Project(plan.output,
      IvfCandidateFilter(attr(FileCol), attr(RowIndexCol), probe, vector, child)))
  }

  /** Rows a task holds at once between candidate test and vector fetch. */
  private[plans] val FetchBatch = 4096

  /** The cap's per-file quotas over `probe.files`, None without a cap: one
    * job counts every file's candidates, the driver water-fills them with
    * [[roundRobinQuotas]] (O(files) memory).
    */
  def quotas(sc: SparkContext, probe: CandidateProbe): Option[Map[String, Long]] =
    probe.maxCandidates.map { cap =>
      val store = new IndexStore(probe.indexDir)
      val (colName, np, cos) = (probe.column, probe.nprobe, probe.cosine)
      val q = probe.query.toArray
      val files = probe.files
      val slices = math.max(1, math.min(files.size, sc.defaultParallelism))
      val counts = sc
        .parallelize(files.zipWithIndex, slices)
        .map { case (f, i) =>
          (i, IndexManager.loadIndex(store, f, colName).candidateCount(q, np, cos))
        }
        .collect()
        .sortBy(_._1)
        .map(_._2)
      files.zip(roundRobinQuotas(counts, cap.toLong)).toMap
    }

  /** Per-file quotas with the reference's round-robin fairness across files
    * (`src/df_vector/access.rs:193-243`), computed from
    * candidate COUNTS only — the distributed twin of
    * [[graft.ivf.VectorTopK.capRoundRobin]], which needs the materialized
    * per-file candidate lists.
    *
    * Closed-form water-fill, O(files log files) regardless of cap (a
    * 1-per-round simulation would be O(cap × files)): after L complete
    * rounds every file holds min(count, L); find the largest affordable L
    * by walking the sorted counts, then hand the remainder out one each to
    * the first unsaturated files in index order — exactly the state the
    * round-robin loop ends in.
    */
  def roundRobinQuotas(counts: Array[Long], cap: Long): Array[Long] = {
    require(cap >= 0, s"cap must be >= 0, got $cap")
    val n = counts.length
    if (n == 0) return Array.emptyLongArray
    val total = counts.sum
    if (cap >= total) return counts.clone()
    val sorted = counts.sorted
    var j = 0 // sorted files below j saturate at level L
    var satSum = 0L
    var level = 0L
    var found = false
    while (!found && j < n) {
      val lCand = (cap - satSum) / (n - j)
      if (lCand < sorted(j)) { level = lCand; found = true }
      else { satSum += sorted(j); j += 1 }
    }
    // cap < total guarantees `found`; hand out the partial-round remainder
    var rem = cap - (satSum + level * (n - j))
    val quotas = counts.map(c => math.min(c, level))
    var i = 0
    while (rem > 0 && i < n) {
      if (counts(i) > level) { quotas(i) += 1; rem -= 1 }
      i += 1
    }
    quotas
  }
}

final case class IvfCandidateFilterExec(
    fileAttr: Attribute,
    rowIndexAttr: Attribute,
    probe: CandidateProbe,
    vector: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ vector
  override def producedAttributes: AttributeSet = AttributeSet(vector.toSeq)
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override def outputOrdering: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] =
    child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "filesScanned" -> SQLMetrics.createMetric(sparkContext, "files scanned"),
    "candidateRows" -> SQLMetrics.createMetric(sparkContext, "candidate rows"))

  override def simpleString(maxFields: Int): String =
    probe.describe("IvfCandidateFilterExec")

  protected override def doExecute(): RDD[InternalRow] = {
    val filesScanned = longMetric("filesScanned")
    val candidateRows = longMetric("candidateRows")
    val store = new IndexStore(probe.indexDir)
    val (colName, np, cos) = (probe.column, probe.nprobe, probe.cosine)
    val q = probe.query.toArray
    val quotas = IvfCandidateFilter.quotas(sparkContext, probe)
    val fileOrd = child.output.indexWhere(_.exprId == fileAttr.exprId)
    val riOrd = child.output.indexWhere(_.exprId == rowIndexAttr.exprId)
    require(fileOrd >= 0 && riOrd >= 0, s"candidate filter keys missing from ${child.output}")

    // a function value, not a method: the task closure must not capture
    // this plan node
    val membersOf = (file: String) => {
      val index = IndexManager.loadIndex(store, file, colName)
      require(
        index.dim == q.length,
        s"query dim ${q.length} != index dim ${index.dim} for $file")
      filesScanned.add(1L)
      // angular queries probe by centroid cosine — at nprobe >= nClusters
      // both orders emit every row, which is what the exactness gate uses
      val cands = if (cos) index.candidateRowsCosine(q, np) else index.candidateRows(q, np)
      // a cap keeps the probe-order (centroid-order) prefix; a file absent
      // from the planned list had no share of it
      val n = quotas.fold(cands.length)(m =>
        math.min(m.getOrElse(file, 0L), cands.length.toLong).toInt)
      val members = new java.util.BitSet()
      var j = 0
      while (j < n) { members.set(cands(j)); j += 1 }
      members
    }

    val fetch = vector.isDefined
    val types = output.map(_.dataType).toArray
    child.execute().mapPartitions { rows =>
      val in = rows.buffered
      // a task's rows arrive file by file; the map covers a file whose
      // splits are not adjacent within one task
      val probed = scala.collection.mutable.HashMap.empty[UTF8String, java.util.BitSet]
      val toUnsafe = if (fetch) UnsafeProjection.create(types) else null
      val withVector = new JoinedRow
      val vectorRow = new GenericInternalRow(1)
      // the next passing rows of one file, at most FetchBatch, with their
      // vectors when the node fetches them
      def batch(): Iterator[InternalRow] = {
        // the row's bytes are reused by the scan: key on a copy
        val file = in.head.getUTF8String(fileOrd).clone()
        val members = probed.getOrElseUpdate(file, membersOf(file.toString))
        val kept = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        while (in.hasNext && kept.size < IvfCandidateFilter.FetchBatch &&
            in.head.getUTF8String(fileOrd) == file) {
          val row = in.next()
          val ri = row.getLong(riOrd)
          if (ri <= Int.MaxValue && members.get(ri.toInt)) kept += row.copy()
        }
        candidateRows.add(kept.size.toLong)
        if (!fetch) kept.iterator
        else {
          val vectors = SelectiveFetch.embeddings(
            file.toString, colName, kept.map(_.getLong(riOrd).toInt).toArray).toMap
          // a row without a readable vector is skipped, like every fetch
          kept.iterator.flatMap(row => vectors.get(row.getLong(riOrd)).map { v =>
            vectorRow.update(0, UnsafeArrayData.fromPrimitiveArray(v))
            toUnsafe(withVector(row, vectorRow))
          })
        }
      }
      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!out.hasNext && in.hasNext) out = batch()
          out.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          out.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): IvfCandidateFilterExec =
    copy(child = c)
}

/** Pass-through meter over the candidate FETCH side: counts the rows (and
  * per-task streams) that actually reach the top-k re-rank after candidate
  * pruning and residual filtering — the reference's `embeddings_fetched` /
  * `batches_fetched` counters (`src/df_vector/exec.rs:405-427`;
  * post-filter semantics per the committed snapshot counters,
  * `src/df_vector/snapshots/...filter_plan_tree.snap`). A "batch" here is
  * one task's row stream — Spark's unit of fetch parallelism — since the
  * columnar batches of the scan are not observable above the candidate
  * filter.
  */
final case class MeteredFetch(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): MeteredFetch =
    copy(child = c)
}

final case class MeteredFetchExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override def outputOrdering: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] =
    child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "embeddingsFetched" -> SQLMetrics.createMetric(sparkContext, "embeddings fetched"),
    "batchesFetched" -> SQLMetrics.createMetric(sparkContext, "batches fetched"))

  protected override def doExecute(): RDD[InternalRow] = {
    val rows = longMetric("embeddingsFetched")
    val batches = longMetric("batchesFetched")
    child.execute().mapPartitions { it =>
      batches.add(1L)
      it.map { r => rows.add(1L); r }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): MeteredFetchExec =
    copy(child = c)
}

/** Plans [[IvfCandidateFilter]] / [[MeteredFetch]]; injected via
  * `Graft.install` / `GraftExtensions` (the reference registers its exec
  * through its session builder the same way, `src/df_vector/session.rs`).
  */
object GraftStrategy extends SparkStrategy {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[SparkPlan] =
    plan match {
      case IvfCandidateFilter(fileAttr, rowIndexAttr, probe, vector, child) =>
        IvfCandidateFilterExec(fileAttr, rowIndexAttr, probe, vector, planLater(child)) :: Nil
      case MeteredFetch(child) =>
        MeteredFetchExec(planLater(child)) :: Nil
      case _ => Nil
    }
}
