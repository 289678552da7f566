package graft.ivf

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Process-wide cache of built IVF indexes, keyed by (table path, column).
  * `ensure` builds with the reference's default parameters on first use and
  * reuses sidecars across sessions/runs (they are seeded-deterministic, so
  * reuse is safe).
  */
object IndexManager {

  final case class TableIndex(
      path: String,
      column: String,
      dim: Int,
      nClusters: Int,
      files: Seq[String])

  private val cache = TrieMap.empty[(String, String), TableIndex]

  private val ListingSchema = StructType(Seq(StructField("_", LongType)))

  /** Enumerate data files from the driver-side file index, canonical form
    * matching `_metadata.file_path` and the store keys, sorted. The reader
    * gets a placeholder schema: without one, Spark runs a schema-inference
    * job over the footers, and only the file list is wanted here.
    */
  def listFiles(spark: SparkSession, path: String): Seq[String] =
    spark.read.schema(ListingSchema).parquet(path).inputFiles.toSeq
      .map(IndexStore.canonicalPath)
      .sorted

  /** Decoded-index LRU (per JVM, so per executor in cluster mode): probe
    * paths call [[loadIndex]] once per (task, file), and without a cache
    * every repeated query re-reads and re-decodes the same sidecar —
    * decode cost × tasks × queries. Decoded indexes are immutable, and the
    * cache is bounded by a BYTE budget (posting lists are 4 bytes/row, so
    * counting entries would under-bound large files). Entries are keyed by
    * the BACKING file's (path, mtime,
    * length): a rebuilt sidecar (retrain, streaming ingest) or an in-place
    * footer re-embed changes both and reads as a miss, never a stale hit.
    */
  // the cache bound is BYTES, not entries: an entry's dominant cost is its
  // posting lists (4 bytes per row of the file), so a count bound would
  // let a few million-row files pin gigabytes while a byte budget keeps
  // the worst case explicit (default 256 MiB per JVM)
  private val MaxDecodedBytes =
    sys.props.getOrElse("graft.index.cacheBytes", (256L << 20).toString).toLong
  private def indexBytes(i: IvfIndex): Long =
    4L * i.centroids.length +
      i.invertedLists.iterator.map(l => 4L * l.length + 16L).sum
  // column is part of the key even though a sidecar path already encodes
  // it — a FOOTER-embedded file can hold indexes for several columns under
  // one backing path, and those must not alias. fileKey (inode identity)
  // guards the mtime-granularity hole: every sidecar write is
  // temp + atomic-rename, so a same-length rewrite within one timestamp
  // tick still changes the inode and reads as a miss.
  private final case class CacheKey(
      path: String, column: String, fileKey: String, mtime: Long, length: Long,
      dataFileKey: String, dataMtime: Long, dataLength: Long)
  private val decodedCache =
    new java.util.LinkedHashMap[CacheKey, IvfIndex](64, 0.75f, true)
  private var cachedBytes = 0L
  private val hits = new java.util.concurrent.atomic.AtomicLong
  private val misses = new java.util.concurrent.atomic.AtomicLong

  /** (hits, misses) since JVM start — surfaced so benches/specs can see the
    * cache working; executor-side numbers are per-executor.
    */
  def decodedCacheStats: (Long, Long) = (hits.get(), misses.get())

  /** Identity of the bytes [[loadIndex]] would decode: the sidecar when one
    * exists, else the data file itself (footer-embedded index — in-place
    * re-embeds rewrite the file, moving mtime and usually length).
    */
  private def cacheKey(store: IndexStore, file: String, column: String): Option[CacheKey] = {
    val sidecar = java.nio.file.Paths.get(store.indexPath(file, column))
    val dataPath = java.nio.file.Paths.get(
      IndexStore.canonicalPath(file).stripPrefix("file:"))
    val backing =
      if (java.nio.file.Files.exists(sidecar)) sidecar else dataPath
    try {
      def attrsOf(p: java.nio.file.Path) = java.nio.file.Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes])
      val attrs = attrsOf(backing)
      // the DATA file's identity is part of the key even on the sidecar
      // path: a data file replaced at an unchanged path (sidecar untouched)
      // must read as a miss so decode() re-checks the sidecar binding and
      // refuses, instead of a stale decoded index serving the old ordinals
      val dataAttrs = if (backing eq dataPath) attrs else attrsOf(dataPath)
      Some(CacheKey(
        backing.toString, column, String.valueOf(attrs.fileKey()),
        attrs.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS), attrs.size,
        String.valueOf(dataAttrs.fileKey()),
        dataAttrs.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS),
        dataAttrs.size))
    } catch { case _: Exception => None }
  }

  /** The planner's per-file header peek — sidecar first, footer-embedded
    * second — memoized store-level ([[IndexStore.memoizedProbe]]): the
    * rewrite rule peeks EVERY scan file per planned query, and without the
    * memo that is O(files) driver opens per plan on every query against
    * the same table. Identity covers the index sidecar, its .meta binding,
    * and the data file (the footer path). Never throws: an unreadable
    * header reads as None, like the rule's original Try wrapper.
    */
  def cachedPeek(
      store: IndexStore, file: String, column: String): Option[(Int, Int)] =
    IndexStore.memoizedProbe(
      "peek:" + store.dir, file, column,
      Seq(
        store.indexPath(file, column),
        store.indexPath(file, column).stripSuffix(".pqvec") + ".meta",
        file)) {
      scala.util.Try(
        store.peek(file, column).orElse(ParquetFooterIndex.peek(file, column)))
        .toOption.flatten
    }

  /** [[cachedPeek]] with ERROR FIDELITY for the must-be-indexed validation
    * paths (VectorTopK's searchByFiles/quantized/pq feeds): a memoized
    * None re-probes UNCACHED and un-swallowed, so a real IO failure
    * (EACCES on the index dir, a truncated sidecar) surfaces as itself
    * instead of the misleading "no IVF index — build one" (which would
    * send an operator rebuilding indexes to paper over a permissions
    * problem). The re-probe only runs on the about-to-throw path, so the
    * memo still eliminates the per-file opens for every healthy query
    * (round-12 review).
    */
  def cachedPeekStrict(
      store: IndexStore, file: String, column: String): Option[(Int, Int)] =
    cachedPeek(store, file, column).orElse(
      store.peek(file, column).orElse(ParquetFooterIndex.peek(file, column)))

  /** Sidecar first, footer-embedded second (the order the driver peeks in);
    * shared by the executor-side probe paths. Decoded results are served
    * from the per-JVM LRU above.
    */
  def loadIndex(store: IndexStore, file: String, column: String): IvfIndex = {
    def decode(): IvfIndex =
      store.load(file, column)
        .orElse(ParquetFooterIndex.load(file, column))
        .getOrElse(throw new IllegalStateException(
          s"no IVF index for file $file column '$column' — build one with IvfBuilder"))
    cacheKey(store, file, column) match {
      case None => decode() // unstattable backing file: let decode() report
      case Some(key) =>
        val cached = decodedCache.synchronized(decodedCache.get(key))
        if (cached != null) { hits.incrementAndGet(); cached }
        else {
          // decode OUTSIDE the lock: concurrent first-touch of one file may
          // decode twice, but never serializes unrelated files behind IO
          val idx = decode()
          misses.incrementAndGet()
          decodedCache.synchronized {
            val old = decodedCache.put(key, idx)
            if (old != null) cachedBytes -= indexBytes(old)
            cachedBytes += indexBytes(idx)
            // evict eldest (LRU order) until under budget; never the entry
            // just inserted — a single over-budget index still gets served
            val it = decodedCache.entrySet().iterator()
            while (cachedBytes > MaxDecodedBytes && it.hasNext) {
              val e = it.next()
              if (e.getKey != key) {
                cachedBytes -= indexBytes(e.getValue)
                it.remove()
              }
            }
          }
          idx
        }
    }
  }

  /** `ensure` + the table's shared centroid matrix (every per-file index
    * of a table carries the same centroids by construction, so the first
    * file's copy is authoritative) — the entry point for cell-bucketing
    * callers (sq2/cp-style cell joins, batch ANN).
    */
  def ensureWithCentroids(
      spark: SparkSession,
      path: String,
      column: String,
      store: IndexStore = IndexStore.default): (TableIndex, Array[Float]) = {
    val ti = ensure(spark, path, column, store = store)
    (ti, loadIndex(store, ti.files.head, column).centroids)
  }

  /** Per-cell index statistics as a DataFrame — the operational
    * introspection surface (what the reference exposes through its CLI
    * stats): one row per (file, cell) with the posting-list size, the
    * stored radius bound (NaN when the radius sidecar is absent or from a
    * dead centroid epoch), and the file's centroid digest. Distributed:
    * each task describes its own files' indexes; the driver never holds
    * more than the returned rows.
    *
    * Quick health reads: cell-size skew (`max(size)/avg(size)` per file),
    * dead cells (`size = 0`), epoch splits (`countDistinct(centroid_digest)
    * > 1` means mixed index generations — rebuild before residual-PQ use).
    */
  def describeIndex(
      spark: SparkSession,
      path: String,
      column: String,
      store: IndexStore = IndexStore.default): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val files = listFiles(spark, path)
    require(files.nonEmpty, s"no parquet files under $path")
    // driver-side header peeks, like every other multi-file entry point —
    // a missing index is a clean immediate error, not a task stacktrace
    files.foreach { f =>
      require(
        store.peek(f, column).orElse(ParquetFooterIndex.peek(f, column)).isDefined,
        s"no IVF index for file $f column '$column' — build one with IvfBuilder")
    }
    val colName = column
    val slices = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext
      .parallelize(files, slices)
      .flatMap { f =>
        val idx = loadIndex(store, f, colName)
        val radii = validRadii(store, f, colName, idx)
        (0 until idx.nClusters).iterator.map { c =>
          (f, c, idx.invertedLists(c).length.toLong,
            radii.fold(Float.NaN)(_(c)), idx.centroidDigest)
        }
      }
      .toDF("file", "cell", "size", "radius", "centroid_digest")
  }

  /** The radius sidecar iff it is valid for THIS index: present, stamped
    * with the index's centroid epoch, and sized to its cell count — the
    * single definition of "usable radii" shared by range pruning, the
    * selectivity estimate, the drift signal, and [[describeIndex]].
    */
  def validRadii(
      store: IndexStore,
      file: String,
      column: String,
      idx: IvfIndex): Option[Array[Float]] =
    store.loadRadii(file, column, idx.centroidDigest).filter(_.length == idx.nClusters)

  def ensure(
      spark: SparkSession,
      path: String,
      column: String,
      nClusters: Option[Int] = None,
      store: IndexStore = IndexStore.default): TableIndex = {
    // freshness check on every call: a grown (append-only) table must not
    // be served the cached file list forever — re-list (one driver file
    // listing, the same cost the uncached path pays) and recompute when it
    // moved; the cache still saves the per-file header peeks / the build
    val files = listFiles(spark, path)
    cache.get((path, column)).filter(_.files == files).getOrElse {
      val built = {
        // header peeks only — O(files) tiny reads, no posting-list decode
        val peeks = files.map(f => store.peek(f, column))
        if (nClusters.isEmpty && peeks.forall(_.isDefined)) {
          val (dim, k) = peeks.head.get
          TableIndex(path, column, dim, k, files)
        } else if (nClusters.isEmpty && peeks.exists(_.isDefined)) {
          // append-only table grew: index just the new files, shared centroids
          val result = IvfBuilder.extend(spark, path, IvfBuilder.Config(column), store)
          TableIndex(path, column, result.dim, result.nClusters, files)
        } else {
          val result = IvfBuilder.build(
            spark, path, IvfBuilder.Config(column, nClusters), store)
          TableIndex(path, column, result.dim, result.nClusters, files)
        }
      }
      cache.put((path, column), built)
      built
    }
  }
}
