package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructType}

import graft.functions.{ArrayCosineSimilarity, ArrayDistance, ArraySquaredL2}
import graft.ivf.IndexStore

/** SQL-transparent IVF acceleration: rewrites
  * `ORDER BY array_distance(col, literal-vector) ASC LIMIT k` over a single
  * indexed Parquet relation so the scan only reads IVF candidate rows.
  *
  * This is the Spark analog of the reference's
  * `VectorTopKPhysicalOptimizerRule` (`/root/reference/src/df_vector/
  * physical.rs:20-196`), re-expressed as a logical rewrite: the parquet
  * leaf is replaced by a V1 re-read keyed by `(file, row ordinal)` under an
  * [[IvfCandidateFilter]], which probes each file's index inside the scan
  * task and passes only candidate rows; the original Filter/Project chain
  * plus Sort+Limit stay untouched above it. A float top-k — L2 or cosine,
  * filter-free or filtered, capped or not — is therefore one scan in one
  * Spark job (a `maxCandidates` cap adds its execution-time counts job),
  * with no candidate feed, join, or broadcast. Catalyst plans the
  * Sort+Limit as `TakeOrderedAndProjectExec` (bounded heap — the
  * reference's exact re-rank), and residual predicates see candidate rows
  * only (the reference's post-filter semantics,
  * `src/df_vector/exec.rs`/`tests.rs:151-241`). The quantized tiers
  * ([[TierKey]]) keep a broadcast semi-join against their refined winner
  * feed, and the range rewrite a semi-join against its cell feed.
  *
  * Guard matrix mirrors `physical.rs:134-177`: single sort expression,
  * ascending, `array_distance(col, literal)` in either argument order with
  * casts stripped, exactly one parquet relation beneath with only
  * Filter/Project in between, no OFFSET (a plan with offset has a different
  * shape and never matches), every scan file indexed for the sorted column.
  *
  * Results are ANN for `nprobe < nClusters` — identical to the reference's
  * contract; set `spark.graft.ivf.nprobe >= nClusters` for exact top-k.
  */
case class VectorTopKRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import VectorTopKRule._

  private def conf(key: String, default: String): String =
    spark.conf.getOption(key).getOrElse(default)

  /** Scopes plan-cache entries to THIS session: the cache is JVM-global
    * while cached subtrees embed relations bound to the building session
    * and were optimized under its non-graft confs (which the key does not
    * enumerate) — serving them to a sibling `newSession()` would run one
    * session's plan under another's state. Entries of dropped sessions
    * age out of the LRU.
    *
    * The non-graft-conf CONTRACT (spec-pinned in PlanCacheSpec "conf
    * boundary"): `spark.sql.autoBroadcastJoinThreshold` is part of the
    * cache key (it decides the range feed's broadcast-vs-shuffle shape);
    * every OTHER plan-affecting non-graft conf (AQE flags, parquet
    * pushdown toggles, …) is consciously NOT keyed — a mid-session change
    * serves the subtree optimized under the old conf. That staleness is
    * perf-only, never correctness: the grafted subtree's results do not
    * depend on those confs. Fix if it ever bites: fingerprint a conf epoch
    * into the key.
    */
  private lazy val sessionKey: String = VectorTopKRule.sessionKeyFor(spark)

  /** Serve a cached rewrite: present, dir-identity still valid, not yet
    * embedded in this tree (duplicate internal exprIds under a self-join),
    * rebindable to this leaf's attribute ids.
    */
  private def serveCachedRewrite(
      cacheKey: String,
      leaf: ParquetLeaf,
      served: scala.collection.mutable.Set[String]): Option[(LogicalPlan, String, String)] =
    VectorTopKRule.planCacheGet(cacheKey).flatMap { c =>
      if (!served.contains(cacheKey) && !c.identity.contains("absent") &&
          IndexStore.identityOf(c.dirs) == c.identity)
        aliasOutput(leaf, c.plan.clone()).map { p =>
          served += cacheKey
          VectorTopKRule.planCacheHits.incrementAndGet()
          (p, c.tier, c.reason)
        }
      else None
    }

  /** TOCTOU-disciplined insert: cache only when the dir-identity snapshot
    * taken BEFORE the build still holds after it (the same discipline as
    * IndexStore.memoizedEntry — a build racing a concurrent store write
    * must not pin its answer under the pre-write identity).
    */
  private def cacheRewriteIfUnchanged(
      cacheKey: String,
      dirs: Seq[String],
      idBefore: String,
      pruned: LogicalPlan,
      tier: String,
      reason: String,
      served: scala.collection.mutable.Set[String]): Unit =
    if (!idBefore.contains("absent") && IndexStore.identityOf(dirs) == idBefore) {
      // store a DETACHED clone: the `pruned` instance is about to be embedded
      // in the live query's tree, and TreeNode state (tags, statsCache) is
      // mutable — if the cache held the same instance, per-query mutation of
      // the live subtree would bleed into every future serve (serves already
      // hand out `c.plan.clone()`; the builder's own copy must be just as
      // isolated)
      VectorTopKRule.planCachePut(
        cacheKey,
        VectorTopKRule.CachedRewrite(dirs, idBefore, pruned.clone(), tier, reason))
      served += cacheKey
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf(EnabledKey, "true") != "true") return plan
    // guards the rewritten-plan cache against serving ONE cached subtree
    // twice into THIS tree (a self-join of two identical top-k subqueries
    // would then carry duplicate internal exprIds) — the second occurrence
    // rebuilds instead
    val served = scala.collection.mutable.HashSet.empty[String]
    plan.transformDown {
      case limit @ Limit(IntegerLiteral(k), lchild) =>
        // column pruning may leave Projects between the limit and the sort
        val (projects, sortCandidate) = peelProjects(lchild)
        sortCandidate match {
          case sort @ Sort(Seq(order), true, child, _)
              if sort.getTagValue(RewrittenTag).isEmpty =>
            tryRewrite(k, order, child, served) match {
              case Some((newChild, tier, tierReason)) =>
                val newSort = sort.copy(child = newChild)
                newSort.setTagValue(RewrittenTag, ())
                newSort.setTagValue(TierTag, tier)
                newSort.setTagValue(TierReasonTag, tierReason)
                val rebuilt = projects.foldRight(newSort: LogicalPlan) {
                  (pr, acc) => pr.copy(child = acc)
                }
                limit match {
                  case gl @ GlobalLimit(_, ll @ LocalLimit(_, _)) =>
                    gl.copy(child = ll.copy(child = rebuilt))
                  case other => other
                }
              case None => limit
            }
          case _ => limit
        }
      // RANGE shape: `WHERE array_distance(col, literal) < radius` (any
      // conjunct position, either comparison orientation, squared form
      // accepted). The ORIGINAL Filter stays — the semi-join only prunes
      // cells the triangle-inequality bound proves empty, the filter still
      // applies the exact predicate to every fetched row. Lossless, so the
      // rewrite needs no exactness knob at all.
      case f @ Filter(cond, fchild)
          if conf(RangeEnabledKey, "true") == "true" &&
            f.getTagValue(RangeRewrittenTag).isEmpty =>
        val res = for {
          (attr, query, radius) <- extractRangePredicate(cond)
          leaf <- findSingleParquetLeaf(fchild)
          column <- leaf.output.find(_.exprId == attr.exprId).map(_.name)
          rewritten <- buildRangePrunedLeaf(leaf, column, query, radius, served)
        } yield {
          val nf = f.copy(child = fchild.transformUp {
            case l if l.eq(leaf.node) => rewritten
          })
          nf.setTagValue(RangeRewrittenTag, ())
          nf: LogicalPlan
        }
        res.getOrElse(f)
    }
  }

  private def peelProjects(p: LogicalPlan): (Seq[Project], LogicalPlan) = p match {
    case pr @ Project(_, c) =>
      val (ps, leaf) = peelProjects(c)
      (pr +: ps, leaf)
    case other => (Nil, other)
  }

  /** Strip Cast/TryCast wrappers (reference `strip_wrappers`,
    * physical.rs:216-229).
    */
  private def stripCast(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCast(c)
    case other => other
  }

  /** Extract (vector attribute, query literal, is-cosine) from a distance
    * or cosine-similarity sort key, accepting both argument orders
    * (physical.rs:198-243).
    */
  private def extractDistanceArgs(e: Expression): Option[(Attribute, Array[Float], Boolean)] = {
    def lit2vec(l: Expression): Option[Array[Float]] = stripCast(l) match {
      case Literal(data: ArrayData, ArrayType(FloatType, _)) =>
        Option(data).map(_.toFloatArray())
      case Literal(data: ArrayData, ArrayType(DoubleType, _)) =>
        Option(data).map(_.toDoubleArray().map(_.toFloat))
      case _ => None
    }
    def attr(a: Expression): Option[Attribute] = stripCast(a) match {
      case ar: Attribute => Some(ar)
      case _ => None
    }
    val args = stripCast(e) match {
      case ArrayDistance(l, r) => Some((l, r, false))
      case ArraySquaredL2(l, r) => Some((l, r, false))
      case ArrayCosineSimilarity(l, r) => Some((l, r, true))
      case _ => None
    }
    args.flatMap { case (l, r, cos) =>
      (attr(l), lit2vec(r)) match {
        case (Some(a), Some(v)) => Some((a, v, cos))
        case _ =>
          (attr(r), lit2vec(l)) match {
            case (Some(a), Some(v)) => Some((a, v, cos))
            case _ => None
          }
      }
    }
  }

  /** A matched parquet scan leaf, abstracted over Spark's two file-source
    * code paths (V1 `LogicalRelation(HadoopFsRelation)` — the default — and
    * DSv2 `DataSourceV2ScanRelation(ParquetScan)` when
    * `spark.sql.sources.useV1SourceList` excludes parquet).
    */
  private case class ParquetLeaf(
      node: LogicalPlan,
      output: Seq[Attribute],
      dataSchema: StructType,
      rootPaths: Seq[String],
      inputFiles: Seq[String])

  /** Only Filter/Project may sit between the sort input and the scan
    * (the reference additionally allows its repartition node, which has no
    * logical analog here). A DSv2 scan with CONSUMED partition filters is
    * not matched: the pruned file set would have to be reproduced, and
    * replacing the leaf with a fresh read would silently widen it.
    */
  private def findSingleParquetLeaf(plan: LogicalPlan): Option[ParquetLeaf] =
    plan match {
      case Filter(_, c) => findSingleParquetLeaf(c)
      case Project(_, c) => findSingleParquetLeaf(c)
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation
              if fs.fileFormat.getClass.getSimpleName.startsWith("Parquet") =>
            Some(ParquetLeaf(
              lr, lr.output, fs.dataSchema,
              fs.location.rootPaths.map(_.toString), fs.location.inputFiles.toSeq))
          case _ => None
        }
      case sr: DataSourceV2ScanRelation =>
        sr.scan match {
          case ps: ParquetScan if ps.partitionFilters.isEmpty =>
            Some(ParquetLeaf(
              sr, sr.output, ps.dataSchema,
              ps.fileIndex.rootPaths.map(_.toString), ps.fileIndex.inputFiles.toSeq))
          case _ => None
        }
      case _ => None
    }

  /** True when only row-preserving Projects sit between the sort input and
    * the scan — the precondition for a quantized tier's k-winner feed: a
    * Filter below the top-k must see full candidate rows, a Project never
    * drops rows. (A DSv2 ParquetScan keeps its data filters as a logical
    * Filter above the scan — parquet pushdown is best-effort — so a
    * filterless chain over either leaf really is row-complete.)
    */
  private def filterFree(plan: LogicalPlan): Boolean = plan match {
    case Project(_, c) => filterFree(c)
    case _: LogicalRelation => true
    // defense in depth: if a future Spark ever consumed data filters into
    // the scan (no Filter node left), treating the chain as row-complete
    // would drop them — require the scan itself to be filterless too
    case sr: DataSourceV2ScanRelation =>
      sr.scan match {
        case ps: ParquetScan => ps.dataFilters.isEmpty
        case _ => false
      }
    case _ => false
  }

  private def tryRewrite(
      k: Int, order: SortOrder, child: LogicalPlan,
      served: scala.collection.mutable.Set[String]): Option[(LogicalPlan, String, String)] = {
    for {
      (attr, query, cosine) <- extractDistanceArgs(order.child)
      // L2 accelerates ASC (nearest first), cosine DESC (most similar
      // first) — the opposite direction has a different meaning (farthest
      // first) that an IVF probe cannot serve.
      // order.nullOrdering is deliberately NOT guarded: a plain ASC sort
      // defaults to NULLS FIRST, which would diverge from the null-skipping
      // candidate feed — except the rule only fires when EVERY scan file is
      // indexed, and IvfBuilder.validate refuses null vectors, null
      // elements, and mismatched dims at build time (the binding stamp
      // keeps that invariant against file swaps), so the sort key is never
      // null on any table this rule can touch
      _ <- if (order.direction == (if (cosine) Descending else Ascending)) Some(())
           else None
      leaf <- findSingleParquetLeaf(child)
      // the sorted attribute must be a physical column of the scan
      column <- leaf.output.find(_.exprId == attr.exprId).map(_.name)
      (rewritten, tier, reason) <- buildPrunedLeaf(leaf, column, query, k, filterFree(child), cosine, served)
    } yield (MeteredFetch(child.transformUp {
      case l if l.eq(leaf.node) => rewritten
    }), tier, reason)
  }

  /** Header-peek every file's index (cheap, driver-side) and graft the
    * candidate-restricted re-read in place of the bare relation, aliasing
    * output back to the original attribute ids so the untouched parent
    * operators still resolve. Probing itself happens executor-side inside
    * [[IvfCandidateFilterExec]].
    */
  private def buildPrunedLeaf(
      leaf: ParquetLeaf,
      column: String,
      query: Array[Float],
      k: Int,
      filterFree: Boolean,
      cosine: Boolean = false,
      served: scala.collection.mutable.Set[String] =
        scala.collection.mutable.HashSet.empty): Option[(LogicalPlan, String, String)] = {
    val storeDir = conf(IndexDirKey, IndexStore.default.dir)
    // ── rewritten-plan cache (round-12 verdict item #2) ──────────────────
    // The probe memo made repeat-plan IO O(1), but CONSTRUCTING the grafted
    // subtree stayed O(F): canonicalize+sort F paths, slice F-element
    // parallelize feeds, re-list the V1 re-read, re-optimize the subtree —
    // measured 0.36 s at 8k files, extrapolating ~4 s CPU per plan at 100k
    // files (PlanLatencyProbe). The reference keeps ALL per-file work
    // execution-side (`/root/reference/src/df_vector/index_exec.rs:96-143`);
    // plan time must not scale with the file list. So the finished pre-alias
    // subtree is cached keyed by everything it was built from — root paths,
    // file-list count + unordered content hash, schema, output columns,
    // query vector digest, k, metric, and every consumed conf — and
    // validated like memoizedTableProbe: the stat identity of the sidecar
    // store dir + each data parent dir (every write here lands by atomic
    // rename, which bumps the parent dir's mtime). A hit costs those stats
    // plus a clone — flat in F. Re-aliasing to THIS query's attribute ids
    // happens per serve; `served` keeps one tree from embedding the same
    // cached subtree twice (duplicate internal exprIds under a self-join).
    val cacheKey = VectorTopKRule.rewriteCacheKey(
      leaf.rootPaths, leaf.inputFiles, leaf.dataSchema, leaf.output.map(_.name),
      column, query, k, cosine, filterFree,
      sessionKey +: Seq(NprobeKey, MaxCandidatesKey, TierKey, StorageProfileKey,
        OversampleKey, FilteredTierKey).map(kk => conf(kk, "")) :+
        storeDir :+ spark.sessionState.conf.autoBroadcastJoinThreshold.toString)
    serveCachedRewrite(cacheKey, leaf, served).foreach(r => return Some(r))
    VectorTopKRule.planCacheMisses.incrementAndGet()
    // canonical form matches `_metadata.file_path`, which candidate
    // selection keys on
    val files = VectorTopKRule.internedFileList(leaf.rootPaths, leaf.inputFiles)
    if (files.isEmpty) return None
    // identity snapshot BEFORE the build; cached only if unchanged after —
    // the same TOCTOU discipline as IndexStore.memoizedEntry
    val cacheDirs = IndexStore.tableDirs(files, storeDir)
    val idBefore = IndexStore.identityOf(cacheDirs)
    val store = new IndexStore(storeDir)
    val nprobe = conf(NprobeKey, "5").toInt
    val maxCandidates = conf(MaxCandidatesKey, "").toIntOption

    // any unindexed file, dim mismatch, or unreadable header: no rewrite
    // table-level dir-identity memo over the per-file dim peeks: a repeat
    // plan against an unchanged table answers in O(1) stats (see
    // IndexStore.memoizedTableProbe); per-file peeks run on invalidation
    if (!IndexStore.memoizedTableProbe(
        s"table-peek-dim-${query.length}", column, files, store.dir)(
        IndexStore.forallFiles(files)(file =>
          graft.ivf.IndexManager.cachedPeek(store, file, column)
            .exists(_._1 == query.length))))
      return None
    val (feed, tierReason) =
      if (filterFree) tierFeed(files, column, query, k, nprobe, store, cosine)
      else filteredTierFeed(files, column, query, k, nprobe, store, cosine)
    val (restrict, tier) = feed match {
      case Some((phase1, tierUsed)) =>
        // quantized tiers: the feed's survivors carry exact refined
        // distances. Filter-free, the k best ARE the result set; under a
        // FILTER (opt-in, see filteredTierFeed) the whole k·oversample
        // survivor set grafts and the untouched Filter re-applies its
        // predicate to the fetched rows — post-filter semantics by
        // construction (the reference's composition seam,
        // `src/df_vector/access.rs:65-105`). What the tier
        // narrows is the candidate set handed to the filter, so a selective
        // predicate can return fewer than k rows. Exactness gate: exhaustive
        // nprobe + covering oversample make the feed every candidate row
        // (vq24/vq25). Either way the feed holds at most k·oversample
        // (file, ordinal) rows — broadcast-safe.
        val keys = if (filterFree) phase1.orderBy(col("_dist").asc_nulls_last).limit(k) else phase1
        (semiJoin(broadcast(keys.select(col("_file").as("__file"), col("_ri").as("__ri")))),
          tierUsed)
      case None =>
        // float: the candidate filter probes each file's index inside the
        // scan task, so the whole top-k is one job; the re-read scans the
        // narrow columns and the filter fetches the vectors of candidate
        // rows only. Cosine queries probe cells by centroid cosine, so the
        // angular top-k's candidates are the angular neighborhood; the
        // untouched Filter + Sort above re-rank exactly
        val probe = CandidateProbe(
          column, query.toIndexedSeq, nprobe, store.dir, cosine, maxCandidates, files)
        ((df: DataFrame) => IvfCandidateFilter.over(df, probe), "float")
    }
    val pruned = graftSubtree(leaf, restrict)
    aliasOutput(leaf, pruned).map { p =>
      cacheRewriteIfUnchanged(cacheKey, cacheDirs, idBefore, pruned, tier, tierReason, served)
      (p, tier, tierReason)
    }
  }

  /** [[tierFeed]] gated for the FILTERED (one-phase) shape: engages only
    * under the explicit `spark.graft.ivf.filteredTier=true` opt-in and
    * without a candidate cap, because here the tier narrows the row set the
    * residual Filter gets to see (an approximation knob, not just a coarse-
    * ranking speedup — see the call site). None = exact float fallback.
    */
  private def filteredTierFeed(
      files: Seq[String],
      column: String,
      query: Array[Float],
      k: Int,
      nprobe: Int,
      store: IndexStore,
      cosine: Boolean): (Option[(org.apache.spark.sql.DataFrame, String)], String) =
    if (conf(FilteredTierKey, "false") != "true")
      (None, s"requested=${conf(TierKey, "float").trim.toLowerCase} resolved=float " +
        s"(filtered shape without the $FilteredTierKey opt-in runs the exact float feed)")
    else tierFeed(files, column, query, k, nprobe, store, cosine)

  /** The quantized phase-1 winner feed for `spark.graft.ivf.tier` ∈
    * {sq8, pq, pqr}, or None to use the float feed. Falls back to float
    * (None) when ANY file lacks a usable code sidecar (absent, stale
    * data-file binding, or — for the residual variant — a dead centroid
    * epoch), or when a candidate cap is set (the fairness cap is a
    * float-feed construct). ANGULAR queries ride every tier: sq8 ranks by
    * code-grid integer dot/norms, pq/pqr by per-(subspace, entry)
    * dot/norm/cross tables (`Pq.dotTable`/`normTable` — exact
    * reconstruction cosine of x̂), all over the angular cell probe with an
    * exact 1 − cos float refine. Unknown tier names are refused loudly —
    * a typo silently running float would defeat the point of asking for a
    * tier.
    *
    * The feed's `k·oversample` survivors carry EXACT refined distances, so
    * the winner selection and the untouched Sort above rank consistently;
    * the tier governs COARSE ranking IO only (dim bytes/candidate for sq8,
    * m bytes for pq vs 4·dim for float). Reference seam:
    * `/root/reference/src/df_vector/physical.rs:134-177` (same guard
    * matrix, different candidate feed).
    */
  private def tierFeed(
      files: Seq[String],
      column: String,
      query: Array[Float],
      k: Int,
      nprobe: Int,
      store: IndexStore,
      cosine: Boolean): (Option[(org.apache.spark.sql.DataFrame, String)], String) = {
    val requested = conf(TierKey, "float").trim.toLowerCase
    require(
      Set("float", "sq8", "pq", "pqr", "auto").contains(requested),
      s"$TierKey must be one of float|sq8|pq|pqr|auto, got '$requested'")
    // every exit records WHY the tier resolved the way it did (the second
    // tuple slot → TierReasonTag): a cold profile silently running float
    // because no sidecar covers the scan is a misconfiguration the user
    // must be able to SEE, not infer from timings (review r11 item #6)
    def silent(reason: String): (None.type, String) = {
      val msg = s"requested=$requested resolved=float ($reason)"
      if (requested != "float") logInfo(s"graft tier resolution: $msg")
      (None, msg)
    }
    if (requested == "float") return silent("exact float feed is the default")
    if (conf(MaxCandidatesKey, "").toIntOption.nonEmpty)
      return silent("maxCandidates fairness cap is a float-feed construct")
    // availability probes open sidecar headers per FILE — memoized per
    // planning invocation so the auto resolution chain and the dispatch
    // arms below share one probe per tier instead of re-opening every
    // sidecar twice (review r11: up to ~3x redundant header IO per plan
    // on multi-file tables)
    // outer layer: the table-level dir-identity memo collapses repeat
    // plans over an unchanged table to O(1) stats regardless of file count
    // (IndexStore.memoizedTableProbe; the per-file probes beneath are
    // themselves memoized for the recompute path)
    val availMemo = scala.collection.mutable.HashMap.empty[String, Boolean]
    def allPqUsable(residual: Boolean): Boolean =
      availMemo.getOrElseUpdate(s"pq-$residual",
        IndexStore.memoizedTableProbe(
          s"table-pq-usable-$residual", column, files, store.dir)(
          IndexStore.forallFiles(files)(f =>
            graft.ivf.PqSidecar.usable(store, f, column, residual))))
    def allSq8Codes(): Boolean =
      availMemo.getOrElseUpdate("sq8",
        IndexStore.memoizedTableProbe(
          "table-sq8-usable", column, files, store.dir)(
          IndexStore.forallFiles(files)(graft.ivf.Sq8Sidecar.usable(store, _, column))))
    val tier =
      if (requested != "auto") requested
      else {
        // auto: encode the MEASURED envelope (TierIoProbe, BENCHNOTES
        // r10/r11) — on a warm local page cache float selective wins
        // everywhere, so auto only leaves float when the table is
        // DECLARED cold (remote/bandwidth-capped storage, where coarse
        // bytes/query rule: pq 44 MB < sq8 74 MB < float 115 MB on the
        // point-read layout). Cold-ness is a storage property the engine
        // can't sniff per query, hence a conf, not a guess; which tiers
        // are AVAILABLE is sniffed from the sidecar store, best first
        // (pqr ranks residuals — strictly better codes than pq on
        // clustered data — then pq, then sq8), falling back to float
        // when nothing usable covers every scan file.
        val profile = conf(StorageProfileKey, "warm").trim.toLowerCase
        require(
          Set("warm", "cold").contains(profile),
          s"$StorageProfileKey must be warm|cold, got '$profile'")
        if (profile != "cold")
          return silent(s"profile=$profile — warm storage prefers float selective reads")
        else if (allPqUsable(residual = true)) "pqr"
        else if (allPqUsable(residual = false)) "pq"
        else if (allSq8Codes()) "sq8"
        else return silent(
          s"profile=cold but no usable quantized sidecar covers all ${files.size} " +
            "scan files — build PqSidecar/Sq8Sidecar (or check binding staleness)")
      }
    val oversample = conf(OversampleKey, if (tier == "sq8") "4" else "8").toInt
    val opts = graft.ivf.VectorTopK.Options(nprobe)
    val resolved = s"requested=$requested resolved=$tier"
    tier match {
      case "sq8" if allSq8Codes() =>
        (Some((graft.ivf.VectorTopK.quantizedWinnersByFiles(
          spark, files, column, query.toIndexedSeq, k, opts, oversample, store,
          cosine), tier)), resolved)
      case "pq" | "pqr" =>
        val residual = tier == "pqr"
        if (allPqUsable(residual))
          (Some((graft.ivf.VectorTopK.pqWinnersByFiles(
            spark, files, column, query.toIndexedSeq, k, opts, oversample, store,
            residual, cosine), tier)), resolved)
        else silent(
          s"requested $tier sidecar absent/stale on some of ${files.size} scan files")
      case _ => silent(
        s"requested $tier sidecar absent/stale on some of ${files.size} scan files")
    }
  }

  /** Extract `(vector attribute, query literal, true-L2 radius)` from a
    * range predicate conjunct: `array_distance(col, lit) < r` (or `<=`, or
    * the flipped `r > dist` forms); the squared kernel bounds on `sqrt(r)`.
    * Only the FIRST matching conjunct is used — one semi-join prunes, the
    * untouched Filter applies everything (including that conjunct) exactly.
    */
  private def extractRangePredicate(
      cond: Expression): Option[(Attribute, Array[Float], Float)] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    def radiusOf(l: Literal): Option[Double] = l match {
      case Literal(v: Float, FloatType) => Some(v.toDouble)
      case Literal(v: Double, DoubleType) => Some(v)
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => Some(v.toDouble)
      case Literal(v: Int, _) => Some(v.toDouble)
      case Literal(v: Long, _) => Some(v.toDouble)
      case _ => None
    }
    def distArgs(d: Expression): Option[(Attribute, Array[Float], Boolean)] =
      stripCast(d) match {
        case ArrayDistance(_, _) | ArraySquaredL2(_, _) =>
          extractDistanceArgs(d).map { case (a, v, _) =>
            (a, v, stripCast(d).isInstanceOf[ArraySquaredL2])
          }
        case _ => None
      }
    def combine(
        d: Expression, lit: Literal): Option[(Attribute, Array[Float], Float)] =
      for {
        (attr, query, squared) <- distArgs(d)
        r <- radiusOf(lit)
        if r >= 0 && !r.isNaN && !r.isInfinite
      } yield {
        val trueL2 = if (squared) math.sqrt(r) else r
        // round UP so the probe bound never undercuts the predicate
        (attr, query, Math.nextUp(trueL2.toFloat))
      }
    split(cond).view.flatMap {
      case LessThan(d, l: Literal) => combine(d, l)
      case LessThanOrEqual(d, l: Literal) => combine(d, l)
      case GreaterThan(l: Literal, d) => combine(d, l)
      case GreaterThanOrEqual(l: Literal, d) => combine(d, l)
      case _ => None
    }.headOption
  }

  /** Range analog of [[buildPrunedLeaf]]: the candidate feed is every
    * member of every cell the triangle-inequality bound admits
    * ([[graft.ivf.IvfIndex.rangeProbeCells]]) — a pure posting-list
    * projection, NO embedding reads in the feed at all; the untouched
    * Filter above recomputes the exact predicate on the fetched rows via
    * the codegen'd distance expression.
    */
  private def buildRangePrunedLeaf(
      leaf: ParquetLeaf,
      column: String,
      query: Array[Float],
      radius: Float,
      served: scala.collection.mutable.Set[String] =
        scala.collection.mutable.HashSet.empty): Option[LogicalPlan] = {
    val storeDir = conf(IndexDirKey, IndexStore.default.dir)
    // same rewritten-plan cache as the top-k shape (the range feed has the
    // identical O(F) construction costs); radius rides in the conf slot.
    // A range rewrite carries no tier, so tier/reason are unused markers.
    val cacheKey = VectorTopKRule.rewriteCacheKey(
      leaf.rootPaths, leaf.inputFiles, leaf.dataSchema, leaf.output.map(_.name),
      column, query, k = -1, cosine = false, filterFree = false,
      Seq(sessionKey, "range", radius.toString,
        conf(RangeMaxSelectivityKey, RangeMaxSelectivityDefault),
        storeDir, spark.sessionState.conf.autoBroadcastJoinThreshold.toString))
    serveCachedRewrite(cacheKey, leaf, served).foreach { case (p, _, _) => return Some(p) }
    VectorTopKRule.planCacheMisses.incrementAndGet()
    val files = VectorTopKRule.internedFileList(leaf.rootPaths, leaf.inputFiles)
    if (files.isEmpty) return None
    val cacheDirs = IndexStore.tableDirs(files, storeDir)
    val idBefore = IndexStore.identityOf(cacheDirs)
    val store = new IndexStore(storeDir)
    // table-level dir-identity memo over the per-file dim peeks: a repeat
    // plan against an unchanged table answers in O(1) stats (see
    // IndexStore.memoizedTableProbe); per-file peeks run on invalidation
    if (!IndexStore.memoizedTableProbe(
        s"table-peek-dim-${query.length}", column, files, store.dir)(
        IndexStore.forallFiles(files)(file =>
          graft.ivf.IndexManager.cachedPeek(store, file, column)
            .exists(_._1 == query.length))))
      return None
    val candDf = graft.ivf.VectorTopK
      .rangeCandidatesByFiles(spark, files, column, query.toIndexedSeq, radius, store)
      .toDF("__file", "__ri")
    // sampled-files estimate (shared with the API paths) drives (a) the
    // selectivity bailout — when the radius bound keeps most cells, the
    // vectorized full scan beats the point-read fetch (index-vs-scan
    // crossover; measured at sf0.1: a ~10%-selective radius runs 0.2 s
    // brute vs 0.3-0.4 s pruned when pruning keeps most cells, BENCHNOTES
    // round-5) and (b) the broadcast-vs-shuffle choice
    val (est, totalEst) = graft.ivf.VectorTopK
      .estimateRangeCandidates(files, column, query, radius, store)
    val maxSelectivity = conf(RangeMaxSelectivityKey, RangeMaxSelectivityDefault).toDouble
    if (totalEst > 0 && est.toDouble / totalEst > maxSelectivity) return None
    val estBytes = est * graft.ivf.VectorTopK.keyRowBytes(files)
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val candSide =
      if (threshold >= 0 && estBytes * 2 <= threshold) broadcast(candDf) else candDf
    val pruned = graftSubtree(leaf, semiJoin(candSide))
    aliasOutput(leaf, pruned).map { p =>
      cacheRewriteIfUnchanged(cacheKey, cacheDirs, idBefore, pruned, "float", "range", served)
      p
    }
  }

  /** Restricts the keyed re-read to the `(__file, __ri)` rows of `keys`. */
  private def semiJoin(keys: DataFrame): DataFrame => DataFrame =
    _.join(keys, Seq(IvfCandidateFilter.FileCol, IvfCandidateFilter.RowIndexCol), "left_semi")

  /** The pre-alias grafted subtree — the V1 re-read keyed by `(__file,
    * __ri)`, restricted to candidate rows by `restrict` (the in-task
    * [[IvfCandidateFilter]] or a semi-join against a key feed), re-optimized:
    * everything that depends only on the scanned table + candidate
    * selection (not this query's attribute ids), and therefore what the
    * rewritten-plan cache stores; [[aliasOutput]] rebinds per query.
    */
  private def graftSubtree(
      leaf: ParquetLeaf,
      restrict: DataFrame => DataFrame): LogicalPlan = {
    val paths = leaf.rootPaths
    // candidate selection keys on `_metadata.file_path`/`row_index`, which
    // only the V1 file relation exposes — pin the INTERNAL subtree to the
    // V1 source path even when the session routes parquet to DSv2 (the
    // V1-vs-V2 choice is made eagerly inside DataFrameReader.load, so the
    // override can be scoped to exactly that call)
    val v1Key = "spark.sql.sources.useV1SourceList"
    // the set/read/restore dance must not interleave across threads
    // optimizing concurrently on the same session: thread B reading A's
    // transient value and "restoring" it later would leave the session
    // permanently V1-pinned — serialize the critical section
    val scan = VectorTopKRule.v1PinLock.synchronized {
      val prevV1 = spark.conf.get(v1Key)
      val hasParquet = prevV1.split(",").exists(_.trim.equalsIgnoreCase("parquet"))
      if (hasParquet) spark.read.schema(leaf.dataSchema).parquet(paths: _*)
      else {
        spark.conf.set(v1Key, if (prevV1.trim.isEmpty) "parquet" else s"$prevV1,parquet")
        try spark.read.schema(leaf.dataSchema).parquet(paths: _*)
        finally spark.conf.set(v1Key, prevV1)
      }
    }
    val base = IvfCandidateFilter.keyed(scan)
    // narrow to the leaf's (possibly column-pruned, for DSv2) output before
    // the restriction so the standalone optimize below can push the pruning
    // into the scan — the outer plan is not re-optimized after this rule
    val needed = leaf.output.map(_.name)
    val narrowed =
      if (needed.forall(base.columns.contains))
        base.select(needed.map(col) ++
          Seq(col(IvfCandidateFilter.FileCol), col(IvfCandidateFilter.RowIndexCol)): _*)
      else base
    val pruned = restrict(narrowed).drop(IvfCandidateFilter.FileCol, IvfCandidateFilter.RowIndexCol)
    // This rule runs in extraOptimizations, AFTER the main optimizer
    // batches — optimize the injected subtree explicitly so hint
    // elimination, pushdown, and pruning still apply inside it. (Our own
    // rule sees no Limit+Sort in the subtree, so this cannot recurse.)
    spark.sessionState.optimizer.execute(pruned.queryExecution.analyzed)
  }

  /** Rebind a grafted subtree's output to the original leaf's attribute
    * ids so the untouched parent operators still resolve.
    */
  private def aliasOutput(
      leaf: ParquetLeaf, prunedPlan: LogicalPlan): Option[LogicalPlan] = {
    val byName = prunedPlan.output.map(a => a.name -> a).toMap
    val aliases = leaf.output.map { old =>
      byName.get(old.name) match {
        case Some(na) => Alias(na, old.name)(exprId = old.exprId)
        case None => return None
      }
    }
    Some(Project(aliases, prunedPlan))
  }
}

object VectorTopKRule {
  val EnabledKey = "spark.graft.ivf.enabled"
  val NprobeKey = "spark.graft.ivf.nprobe"
  val MaxCandidatesKey = "spark.graft.ivf.maxCandidates"
  val IndexDirKey = "spark.graft.ivf.indexDir"

  /** Coarse-ranking tier: `float` (default) ranks every candidate row of
    * the in-task [[IvfCandidateFilter]]; `sq8` / `pq` / `pqr` rank on the
    * code sidecars (int8 scalar / product / residual-product quantization)
    * and exact-refine `k·oversample` survivors — same SQL, byte-
    * proportional coarse IO. `auto` resolves per query from the measured
    * envelope: float under the default warm [[StorageProfileKey]], the
    * best usable quantized tier (pqr > pq > sq8, by sidecar availability
    * across the scan's files) when the profile is `cold`. Falls back to
    * float per-query when a scan file lacks a usable sidecar; unknown
    * values are refused.
    */
  val TierKey = "spark.graft.ivf.tier"

  /** Storage-latency profile consulted by `tier=auto`: `warm` (default,
    * local NVMe / hot page cache — float selective measured fastest
    * everywhere in this regime) or `cold` (remote / bandwidth-capped
    * object storage — the quantized tiers' byte-proportional coarse reads
    * win; TierIoProbe r11: pq 44 MB, sq8 74 MB, float 115 MB per query on
    * the 1-row-page by-cell layout). A storage property the deployment
    * declares once — not sniffable per query.
    */
  val StorageProfileKey = "spark.graft.ivf.storageProfile"

  /** Refine width for the quantized tiers (`k·oversample` survivors get
    * exact float re-ranking); defaults: 4 for sq8, 8 for pq/pqr — the
    * programmatic APIs' defaults.
    */
  val OversampleKey = "spark.graft.ivf.oversample"

  /** Opt-in: let a non-`float` [[TierKey]] serve FILTERED top-k queries
    * too (`WHERE … ORDER BY dist LIMIT k`). The k·oversample coarse-ranked,
    * exact-refined survivors become the semi-join feed; the untouched
    * Filter and Sort then apply exact semantics to those rows. Off by
    * default because under a filter the tier caps how many candidate rows
    * the predicate gets to see — k·oversample nearest instead of every
    * probed-cell member — so a selective predicate can return fewer than k
    * rows; raise [[OversampleKey]] for filter headroom. With exhaustive
    * nprobe and covering oversample the feed holds every candidate and the
    * result is exact (the vq24/vq25 gate).
    */
  val FilteredTierKey = "spark.graft.ivf.filteredTier"

  /** Range-predicate rewrite master switch (lossless, so there is no
    * exactness knob — this exists only to isolate plans when debugging).
    */
  val RangeEnabledKey = "spark.graft.ivf.rangeEnabled"

  /** Bail out of the range rewrite when the estimated candidate fraction
    * exceeds this (first-file estimate): a barely-pruning radius makes the
    * vectorized full scan cheaper than point-read fetch — the classic
    * index-vs-scan selectivity crossover.
    */
  val RangeMaxSelectivityKey = "spark.graft.ivf.rangeMaxSelectivity"

  /** Default crossover, set from measurement, not theory: on the 5M × 256
    * scale probe a range whose RESULT was 1.6% of the corpus (candidate
    * fraction ~8%) ran 26× SLOWER pruned than scanned (32.7 s vs 1.2 s,
    * round-9 BENCHNOTES) — local-storage scan bandwidth beats scattered
    * page reads until the candidate set is genuinely tiny. Pruning must
    * clear that bar before it is allowed to fire; raise the conf on
    * high-latency remote storage where point reads regain ground.
    */
  val RangeMaxSelectivityDefault = "0.05"

  /** Prevents re-matching the rewritten Sort on later rule iterations. */
  private[plans] val RewrittenTag = TreeNodeTag[Unit]("graft.ivf.rewritten")

  /** Which coarse tier the rewrite actually used for this Sort ("float",
    * "sq8", "pq", "pqr") — observable on the optimized plan, so specs and
    * users can confirm a requested tier really engaged (vs fell back).
    */
  val TierTag = TreeNodeTag[String]("graft.ivf.tierUsed")

  /** WHY the tier resolved as it did — requested tier, profile, and the
    * availability outcome (e.g. `requested=auto profile=cold resolved=float
    * (no usable quantized sidecar covers all 16 scan files …)`). Set on the
    * same rewritten Sort as [[TierTag]]; silent-float resolutions are also
    * logInfo'd, so a misconfigured cold profile is visible in the driver
    * log instead of only as float-feed timings (round-11 verdict item #6).
    */
  val TierReasonTag = TreeNodeTag[String]("graft.ivf.tierReason")

  /** Prevents re-matching a rewritten range Filter. */
  private[plans] val RangeRewrittenTag = TreeNodeTag[Unit]("graft.ivf.rangeRewritten")

  /** Serializes the useV1SourceList set/read/restore in [[graftSubtree]]
    * (process-wide: runtime confs are session-scoped but cloned sessions
    * share the underlying SQLConf in some paths — one lock is cheap).
    */
  private[plans] val v1PinLock = new Object

  // ── rewritten-plan cache (flat warm-plan latency; round-12 item #2) ────
  // Keyed by everything the grafted subtree was built from; validated on
  // every hit against the stat identity of the sidecar store dir + data
  // parent dirs (same scheme and staleness posture as
  // IndexStore.memoizedTableProbe — atomic-rename writes bump dir mtimes;
  // an in-place content overwrite is caught execution-side by binding
  // stamps). Entries hold finished pre-alias LOGICAL subtrees; serving one
  // costs dir stats + a clone + re-aliasing, independent of file count.
  // Known tradeoff: the key enumerates the graft confs + the broadcast
  // threshold + a session identity, NOT every Spark optimizer conf — a
  // user toggling e.g. spark.sql.optimizer.excludedRules mid-session can
  // be served a subtree optimized under the previous setting (the
  // OUTER plan always reflects current confs; only the injected subtree's
  // internal optimization is pinned). Disable via EnabledKey or
  // clearPlanCache() when experimenting with optimizer confs.
  private[plans] final case class CachedRewrite(
      dirs: Seq[String], identity: String, plan: LogicalPlan,
      tier: String, reason: String)

  /** Bounds driver memory: each entry pins a plan subtree whose feed
    * captures the table's canonicalized file list — INTERNED per table
    * ([[internedFileList]]), so 64 entries over K tables hold K lists
    * (~10 MB per 100k-file table), not 64.
    */
  private val PlanCacheCap = 64

  /** One canonical sorted file list per table content: every cached plan
    * (and every cache-miss rebuild) for the same unchanged table shares
    * ONE Seq instance instead of re-canonicalizing, re-sorting, and
    * capturing a private copy in its feed closures. Keyed by root paths +
    * count + the same unordered content mix as the plan-cache key; a
    * changed file set changes the key, and the plan cache's dir-identity
    * validation backstops staleness downstream.
    */
  private val fileListCache =
    new java.util.LinkedHashMap[String, Seq[String]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[String]]): Boolean = size() > 16
    }
  private[plans] def internedFileList(
      rootPaths: Seq[String], inputFiles: Seq[String]): Seq[String] = {
    val key = rootPaths.mkString(",") + " " + inputFiles.length + " " +
      unorderedMix(inputFiles)
    fileListCache.synchronized {
      Option(fileListCache.get(key)).getOrElse {
        val v = inputFiles.map(graft.ivf.IndexStore.canonicalPath).sorted
        fileListCache.put(key, v)
        v
      }
    }
  }

  /** Two independent single-pass unordered mixes over a path list — no
    * sort, no canonicalization; shared by the plan-cache key and the
    * file-list intern key.
    */
  private def unorderedMix(files: Seq[String]): String = {
    var hx = 0L; var hs = 0L
    files.foreach { f =>
      var m = f.hashCode.toLong * 0x9E3779B97F4A7C15L
      m ^= (m >>> 29)
      hx ^= m; hs += m
    }
    s"$hx:$hs"
  }
  private val planCache =
    new java.util.LinkedHashMap[String, CachedRewrite](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CachedRewrite]): Boolean =
        size() > PlanCacheCap
    }
  /** Stable per-session identity for cache keys (weak: dropped sessions
    * don't stay reachable through the identity map; their cache entries
    * age out of the LRU).
    */
  private val sessionKeys =
    new java.util.WeakHashMap[SparkSession, String]()
  private[plans] def sessionKeyFor(s: SparkSession): String =
    sessionKeys.synchronized {
      Option(sessionKeys.get(s)).getOrElse {
        val k = java.util.UUID.randomUUID().toString
        sessionKeys.put(s, k)
        k
      }
    }

  private[plans] def planCacheGet(k: String): Option[CachedRewrite] =
    planCache.synchronized(Option(planCache.get(k)))
  private[plans] def planCachePut(k: String, v: CachedRewrite): Unit =
    planCache.synchronized(planCache.put(k, v)): Unit
  private[plans] val planCacheHits = new java.util.concurrent.atomic.AtomicLong
  private[plans] val planCacheMisses = new java.util.concurrent.atomic.AtomicLong

  /** (hits, misses) of the rewritten-plan cache since JVM start. */
  def planCacheStats: (Long, Long) = (planCacheHits.get(), planCacheMisses.get())

  /** Test hook — identity keys self-invalidate in production. */
  private[graft] def clearPlanCache(): Unit = planCache.synchronized(planCache.clear())

  /** Cache key over every rewrite input. The file list enters as count +
    * two independent unordered single-pass mixes (no sort, no per-path
    * canonicalization — key construction must stay cheap in F); the query
    * vector and schema enter as a SHA-1 digest.
    */
  private[plans] def rewriteCacheKey(
      rootPaths: Seq[String], inputFiles: Seq[String], schema: StructType,
      outputNames: Seq[String], column: String, query: Array[Float],
      k: Int, cosine: Boolean, filterFree: Boolean, confs: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val qb = java.nio.ByteBuffer.allocate(4 * query.length)
    query.foreach(qb.putFloat)
    md.update(qb.array())
    md.update(schema.catalogString.getBytes("UTF-8"))
    val qDigest = md.digest().map("%02x".format(_)).mkString
    (Seq("topk", rootPaths.mkString(","), outputNames.mkString(","), column,
      k.toString, cosine.toString, filterFree.toString, qDigest,
      inputFiles.length.toString, unorderedMix(inputFiles)) ++ confs)
      .mkString("\u0000")
  }

  /** Runtime installation on an existing session (no extensions config
    * needed): appends to `spark.experimental.extraOptimizations`.
    */
  def install(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[VectorTopKRule])) {
      spark.experimental.extraOptimizations = existing :+ VectorTopKRule(spark)
    }
  }
}
