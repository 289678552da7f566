package graft.ivf

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest

/** Sidecar persistence for per-data-file IVF indexes.
  *
  * The reference embeds the index inside the Parquet file footer region
  * (`/root/reference/src/ivf/parquet.rs:536-611`); we support that layout on
  * the read path (see [[ParquetFooterIndex]]) but default to sidecars so the
  * (possibly read-only / remote) data files are never mutated. Sidecar bytes
  * use the identical framing (magic + u64 length + payload), so a sidecar is
  * byte-for-byte what the reference would have appended.
  *
  * Keyed by (data file path, embedding column): `<sha1>.pqvec` + `<sha1>.meta`.
  * Writes are atomic (temp + rename) so speculative/retried executor tasks
  * are safe.
  *
  * Every sidecar is BOUND to the data file's content: `write` stamps the
  * `.meta` with the data file's (length, footer-region digest), and every
  * read path (`load`/`peek`/`exists`/`centroidDigest`, the codes and radii
  * sidecars) refuses when the stamp no longer matches — a data file
  * replaced AT THE SAME PATH (hand-swapped, external compaction output
  * copied over an input name) reads as "no index" instead of silently
  * serving the old file's row ordinals. The reference is structurally
  * immune because its index lives inside the file and a rewrite destroys
  * it (`/root/reference/src/ivf/parquet.rs:536-611`); sidecars need this
  * stamp to get the same refuse-don't-guess posture. [[IvfBuilder.extend]]
  * then self-heals: a stale-bound file classifies as unindexed and is
  * re-indexed (and re-stamped) under the table's shared centroids.
  *
  * Known window: the stamp is captured at sidecar-WRITE time, after the
  * indexing job already scanned the file — a data file replaced between
  * that scan and the write binds the new content to ordinals built from
  * the old (the in-flight-mutation caveat every external-compaction
  * workflow carries; don't rewrite files while an indexing job reads
  * them). Any replacement AFTER the write is fully covered.
  */
final class IndexStore(val dir: String) extends Serializable {

  private def key(dataFile: String, column: String): String = {
    val md = MessageDigest.getInstance("SHA-1")
    md.update(IndexStore.canonicalPath(dataFile).getBytes("UTF-8"))
    md.update(0.toByte)
    md.update(column.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  def indexPath(dataFile: String, column: String): String =
    s"$dir/${key(dataFile, column)}.pqvec"

  def write(dataFile: String, column: String, index: IvfIndex): String = {
    new File(dir).mkdirs()
    val target = Paths.get(indexPath(dataFile, column))
    val tmp = Paths.get(target.toString + s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, IvfIndex.frame(index.toBytes))
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    val (len, digest) = IndexStore.dataStamp(dataFile).getOrElse(throw new IllegalStateException(
      s"cannot stat data file $dataFile to bind its index sidecar — refusing to " +
        "write an unbound sidecar (a later file replacement would read as stale ordinals)"))
    val meta = s"""{"file": ${jsonStr(dataFile)}, "column": ${jsonStr(column)}, """ +
      s""""dataLen": $len, "dataDigest": $digest}"""
    // atomic like the .pqvec itself: a crash mid-write must leave either
    // the old stamp or the new one, never a truncated .meta a concurrent
    // reader would misparse (it would read as unbound → spurious rebuild)
    val metaTarget = Paths.get(target.toString.stripSuffix(".pqvec") + ".meta")
    val metaTmp = Paths.get(metaTarget.toString + s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(metaTmp, meta.getBytes("UTF-8"))
    Files.move(metaTmp, metaTarget,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    target.toString
  }

  /** True iff the sidecar family for (dataFile, column) is bound to the
    * CURRENT content of the data file: the `.meta` stamp (written by
    * [[write]]) matches the file's present (length, footer digest). False
    * for a replaced/rewritten data file, a missing or legacy stamp-less
    * `.meta`, or an unstattable data file — all of which must read as "no
    * sidecar" rather than risk serving another file's row ordinals.
    */
  def bound(dataFile: String, column: String): Boolean = {
    val metaPath = Paths.get(indexPath(dataFile, column).stripSuffix(".pqvec") + ".meta")
    if (!Files.exists(metaPath)) return false
    val meta = try new String(Files.readAllBytes(metaPath), "UTF-8") catch {
      case _: Exception => return false
    }
    (IndexStore.MetaLenRe.findFirstMatchIn(meta), IndexStore.MetaDigestRe.findFirstMatchIn(meta)) match {
      case (Some(lm), Some(dm)) =>
        IndexStore.dataStamp(dataFile).contains((lm.group(1).toLong, dm.group(1).toLong))
      case _ => false
    }
  }

  def load(dataFile: String, column: String): Option[IvfIndex] = {
    val p = Paths.get(indexPath(dataFile, column))
    if (Files.exists(p) && bound(dataFile, column))
      Some(IvfIndex.unframe(Files.readAllBytes(p)))
    else None
  }

  /** Cheap (dim, nClusters) peek — reads only the framed header, so the
    * driver can validate an arbitrarily large file list without decoding
    * posting lists (those are probed executor-side).
    */
  def peek(dataFile: String, column: String): Option[(Int, Int)] = {
    val p = Paths.get(indexPath(dataFile, column))
    if (!Files.exists(p) || !bound(dataFile, column)) return None
    val ch = java.nio.channels.FileChannel.open(p)
    try {
      val buf = java.nio.ByteBuffer.allocate(IvfIndex.Magic.length + 16)
      while (buf.hasRemaining && ch.read(buf) >= 0) {}
      if (buf.hasRemaining) return None
      buf.flip()
      val magic = new Array[Byte](IvfIndex.Magic.length)
      buf.get(magic)
      if (!magic.sameElements(IvfIndex.Magic)) return None
      buf.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.getLong // payload length
      Some((buf.getInt, buf.getInt))
    } finally ch.close()
  }

  def exists(dataFile: String, column: String): Boolean =
    Files.exists(Paths.get(indexPath(dataFile, column))) && bound(dataFile, column)

  /** SQ8 code-sidecar path for (data file, column) — same key scheme as the
    * index sidecar, `.sq8` extension (see [[Sq8Sidecar]] for the codec).
    */
  def codesPath(dataFile: String, column: String): String =
    s"$dir/${key(dataFile, column)}.sq8"

  // codes/radii sidecars map rows BY ORDINAL onto the data file, so they
  // share the index sidecar's binding: a stale stamp hides them all at once
  def existsCodes(dataFile: String, column: String): Boolean =
    Files.exists(Paths.get(codesPath(dataFile, column))) && bound(dataFile, column)

  /** Per-cell radius sidecar for (data file, column): cell i's value is the
    * max TRUE L2 distance from centroid i to its members — the triangle-
    * inequality bound behind exact index-pruned RANGE search
    * ([[graft.ivf.VectorTopK.rangeSearch]] / [[graft.ivf.VectorTopK.rangeRows]]
    * and the SQL range rewrite). Tiny (4 bytes/cell) and
    * OPTIONAL: readers without it fall back to probing every cell, which is
    * still exact. The bounds are a function of the centroid set, so the
    * header carries the index's [[IvfIndex.centroidDigest]]; a reader that
    * finds a different digest (an index rebuilt out-of-band, e.g. by the
    * reference engine after `ensureRadii`) treats the sidecar as ABSENT —
    * exact fallback instead of wrong pruning.
    * Format: magic `GQR2` + centroidDigest:i64 LE + nClusters:i32 LE +
    * f32 LE × k. (Old `GQR1` files lack the digest and read as absent.)
    */
  def radiiPath(dataFile: String, column: String): String =
    s"$dir/${key(dataFile, column)}.radii"

  def writeRadii(
      dataFile: String, column: String, radii: Array[Float], centroidDigest: Long): Unit = {
    new File(dir).mkdirs()
    val buf = java.nio.ByteBuffer
      .allocate(4 + 8 + 4 + 4 * radii.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(IndexStore.RadiiMagic)
    buf.putLong(centroidDigest)
    buf.putInt(radii.length)
    radii.foreach(buf.putFloat)
    val target = Paths.get(radiiPath(dataFile, column))
    val tmp = Paths.get(target.toString + s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, buf.array())
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Radii iff present AND stamped with `expectedDigest` (the CURRENT
    * index's centroid fingerprint) — a mismatch means the index was rebuilt
    * after the radii were computed, and the caller must prune with no bound
    * (probe every cell: slower, still exact).
    */
  def loadRadii(
      dataFile: String, column: String, expectedDigest: Long): Option[Array[Float]] = {
    val p = Paths.get(radiiPath(dataFile, column))
    if (!Files.exists(p) || !bound(dataFile, column)) return None
    val bytes = Files.readAllBytes(p)
    if (bytes.length < 16) return None
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    buf.get(magic)
    if (!magic.sameElements(IndexStore.RadiiMagic)) return None
    if (buf.getLong != expectedDigest) return None
    val k = buf.getInt
    if (k < 0 || bytes.length < 16 + 4 * k) return None
    val radii = new Array[Float](k)
    var i = 0
    while (i < k) { radii(i) = buf.getFloat; i += 1 }
    Some(radii)
  }

  def existsRadii(dataFile: String, column: String): Boolean =
    Files.exists(Paths.get(radiiPath(dataFile, column))) && bound(dataFile, column)

  /** PQ code-sidecar path for (data file, column) — `.pq` extension, or
    * `.pqr` for the residual (IVF-ADC) variant so both codebooks can
    * coexist for one column (see [[PqSidecar]] for the codec).
    */
  def pqPath(dataFile: String, column: String, residual: Boolean = false): String =
    s"$dir/${key(dataFile, column)}.${if (residual) "pqr" else "pq"}"

  def existsPq(dataFile: String, column: String, residual: Boolean = false): Boolean =
    Files.exists(Paths.get(pqPath(dataFile, column, residual))) && bound(dataFile, column)

  def deletePq(dataFile: String, column: String, residual: Boolean): Unit =
    Files.deleteIfExists(Paths.get(pqPath(dataFile, column, residual))): Unit

  /** Centroid fingerprint of the stored index, decoding ONLY the framed
    * header + centroid matrix (no posting lists) — O(d·k) per file, cheap
    * enough for driver-side epoch checks over a long file list.
    */
  def centroidDigest(dataFile: String, column: String): Option[Long] = {
    val p = Paths.get(indexPath(dataFile, column))
    if (!Files.exists(p) || !bound(dataFile, column)) return None
    val ch = java.nio.channels.FileChannel.open(p)
    try {
      val head = java.nio.ByteBuffer
        .allocate(IvfIndex.Magic.length + 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      while (head.hasRemaining && ch.read(head) >= 0) {}
      if (head.hasRemaining) return None
      head.flip()
      val magic = new Array[Byte](IvfIndex.Magic.length)
      head.get(magic)
      if (!magic.sameElements(IvfIndex.Magic)) return None
      head.getLong // payload length
      val dim = head.getInt
      val k = head.getInt
      if (dim <= 0 || k <= 0) return None
      // long-math shape check: a corrupt header with dim*k > ~536M would
      // overflow 4*dim*k to a negative allocate size and THROW instead of
      // reading as corruption; the centroid matrix also can't exceed what
      // the file actually holds past the header
      val centBytes = 4L * dim * k
      if (centBytes > Int.MaxValue ||
        centBytes > ch.size() - (IvfIndex.Magic.length + 16)) return None
      val cents = java.nio.ByteBuffer
        .allocate(centBytes.toInt)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var pos = (IvfIndex.Magic.length + 16).toLong
      while (cents.hasRemaining) {
        val n = ch.read(cents, pos)
        if (n < 0) return None
        pos += n
      }
      cents.flip()
      val arr = new Array[Float](dim * k)
      var i = 0
      while (i < arr.length) { arr(i) = cents.getFloat; i += 1 }
      Some(IvfIndex.centroidDigest(dim, k, arr))
    } finally ch.close()
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object IndexStore {
  private[ivf] val RadiiMagic: Array[Byte] = "GQR2".getBytes("US-ASCII")

  // ── driver-side availability-probe memo ────────────────────────────────
  // Planning probes (tier=auto sidecar `usable()`, the rule's per-file
  // header peeks) each OPEN and read sidecar/meta/footer bytes; on a
  // 100k-file table that is 100k driver round-trips PER PLANNED QUERY on
  // remote storage. The memo turns every repeat probe into stat calls
  // only: results are keyed by (probe kind, data file, column) and
  // validated against the identity (inode fileKey, mtime, length) of every
  // file the probe's answer depends on — the IndexManager.loadIndex LRU
  // pattern. Any sidecar rebuild, data-file replacement, or .meta rebind
  // is a temp+atomic-rename (new inode), so a stale hit cannot be served
  // even within one mtime tick. Process-wide; cleared wholesale past the
  // cap via the same approximate-counter scheme as stampMemo.
  private val ProbeMemoCap = 1000000
  private val probeMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, Any)]
  private val probeMemoCount = new java.util.concurrent.atomic.AtomicLong(0)
  private val probeHits = new java.util.concurrent.atomic.AtomicLong
  private val probeMisses = new java.util.concurrent.atomic.AtomicLong

  /** (hits, misses) of the availability-probe memo since JVM start — a
    * second planned query over an unchanged F-file table shows F hits per
    * probe kind, 0 misses.
    */
  def probeCacheStats: (Long, Long) = (probeHits.get(), probeMisses.get())

  /** Test hook: drop all memoized probe results (never needed in
    * production — identity keys self-invalidate).
    */
  private[graft] def clearProbeMemo(): Unit = {
    probeMemo.clear(); probeMemoCount.set(0)
  }

  /** Stat-derived identity of one dependency file: inode + mtime(ns) +
    * length, or "absent" when unstattable. Building the identity never
    * opens the file.
    */
  private[graft] def fileIdentity(path: String): String =
    try {
      val a = Files.readAttributes(
        Paths.get(canonicalPath(path).stripPrefix("file:")),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      s"${a.fileKey()}:${a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)}:${a.size}"
    } catch { case _: Exception => "absent" }

  /** Memoize a driver-side probe whose result is a pure function of the
    * listed dependency files' CONTENT. `identityPaths` must cover every
    * file the probe reads (or whose absence it reports on); a change to
    * any of them — including appearing/disappearing — invalidates the
    * entry. Costs |identityPaths| stats per call instead of the probe's
    * opens+reads.
    */
  /** The shared lookup/miss/cache body of both memo layers. The identity is
    * snapshotted BEFORE compute and re-derived AFTER: a result is cached
    * only when both snapshots agree, so a probe racing a concurrent write
    * (e.g. `usable()` stat-ing an absent sidecar, the build's rename
    * landing, compute then answering true) can never file the post-write
    * answer under the pre-write identity — the TOCTOU that would let a
    * later delete RESTORE the pre-write identity and pin the stale answer
    * (round-12 review). A lost race just means that one probe isn't cached.
    */
  private def memoizedEntry[T](
      key: (String, String), id: String, reId: => String)(compute: => T): T =
    probeMemo.get(key) match {
      case Some((cachedId, v)) if cachedId == id =>
        probeHits.incrementAndGet()
        v.asInstanceOf[T]
      case _ =>
        val v = compute
        probeMisses.incrementAndGet()
        if (reId == id) {
          if (probeMemoCount.incrementAndGet() > ProbeMemoCap) {
            probeMemo.clear(); probeMemoCount.set(0)
          }
          probeMemo.put(key, (id, v))
        }
        v
    }

  private[graft] def memoizedProbe[T](
      kind: String,
      dataFile: String,
      column: String,
      identityPaths: Seq[String])(compute: => T): T = {
    val key = (kind + "\u0000" + canonicalPath(dataFile), column)
    def idNow: String = identityPaths.map(fileIdentity).mkString("|")
    memoizedEntry(key, idNow, idNow)(compute)
  }

  /** FNV-1a over the file list — the table-probe key component (the list
    * is pre-sorted by every caller, so equal sets hash equal).
    */
  private def filesHash(files: Seq[String]): Long = {
    var h = 0xcbf29ce484222325L
    files.foreach { f =>
      var i = 0
      while (i < f.length) {
        h ^= f.charAt(i) & 0xFFFFL
        h *= 0x100000001b3L
        i += 1
      }
      h ^= 0xFFL; h *= 0x100000001b3L
    }
    h
  }

  /** TABLE-level probe memo — the O(1)-stats fast path above
    * [[memoizedProbe]]: an all-files availability question ("every scan
    * file has a usable pq sidecar", "every file is indexed at dim d") is
    * validated against the identity of the DIRECTORIES involved — the
    * sidecar store dir plus each distinct parent dir of the data files —
    * instead of per-file stats. Every write in this engine lands by
    * temp + atomic-rename, and POSIX rename/create/delete updates the
    * parent directory's mtime, so any sidecar build/rebuild/removal or
    * data-file add/replace-by-rename invalidates the entry and the
    * recompute falls through to the per-file layer. The one gap —
    * an external tool overwriting a file's CONTENT in place (no directory
    * entry change) — cannot make this memo produce silent wrongness:
    * execution-side binding stamps still refuse the swapped file loudly;
    * only the plan-time availability answer is stale until any rename
    * touches the dir. Filesystems without stat-able directories (object
    * stores) yield an "absent" dir identity, which BYPASSES this layer
    * entirely (per-file probes, still memoized individually).
    */
  /** Bounded daemon pool for driver-side availability probes — sized for
    * IO-latency hiding (header peeks are one small pread each), not CPU.
    */
  private lazy val probePool = java.util.concurrent.Executors.newFixedThreadPool(
    16,
    (r: Runnable) => {
      val t = new Thread(r, "graft-probe")
      t.setDaemon(true)
      t
    })

  /** Parallel ∀ over a file list for cold availability probes: each probe
    * opens one sidecar header, so a sequential walk costs ~0.3 ms × F of
    * serialized IO latency — the r13 cold-plan residual (2.75 s at 8192
    * files, ~33 s extrapolated at 100k). Short-circuits on the first
    * false (in-flight tasks drain); exceptions from `pred` propagate
    * un-wrapped so IO-error fidelity survives (EACCES surfaces as
    * EACCES) — UNLESS some file definitively answered false, in which
    * case false wins regardless of file order (under parallelism there
    * is no "first" anymore). That is sound for an availability probe: a
    * definitive false routes the caller to the rebuild/fallback path,
    * which is correct whether or not another file also had an IO error;
    * the validations that MUST surface IO errors per-file use
    * `cachedPeekStrict`, not this probe. Sequential below a small size —
    * pool overhead beats the win there, and specs probing single files
    * keep their stack traces.
    */
  private[graft] def forallFiles(files: Seq[String])(pred: String => Boolean): Boolean =
    if (files.lengthCompare(32) <= 0) files.forall(pred)
    else {
      val ok = new java.util.concurrent.atomic.AtomicBoolean(true)
      val futures = files.map { f =>
        probePool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = if (ok.get() && !pred(f)) ok.set(false)
        })
      }
      // drain with a short-circuit: once any task established `false`, the
      // answer is known — cancel the outstanding tasks (queued ones never
      // run; in-flight ones finish their single pread) and return without
      // paying the full queue drain. Exceptions only surface when NO
      // definitive false was observed, matching the sequential forall's
      // behavior (it would have short-circuited to false before reaching
      // the throwing file).
      var firstErr: Throwable = null
      futures.foreach { fu =>
        if (!ok.get()) fu.cancel(false)
        else
          try fu.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstErr == null) firstErr = Option(e.getCause).getOrElse(e)
          }
      }
      if (!ok.get()) false
      else if (firstErr != null) throw firstErr
      else true
    }

  /** The directory set whose identity a table-level memo validates against:
    * the sidecar store dir plus each distinct parent dir of the data files
    * (see [[memoizedTableProbe]] for why directory mtimes cover every
    * rename-landed change). Shared with the rule's rewritten-plan cache.
    */
  private[graft] def tableDirs(files: Seq[String], storeDir: String): Seq[String] =
    storeDir +: files.iterator.map { f =>
      val local = canonicalPath(f).stripPrefix("file:")
      val cut = local.lastIndexOf('/')
      if (cut > 0) local.substring(0, cut) else local
    }.distinct.toSeq

  /** Combined stat identity of a path set (see [[fileIdentity]]). */
  private[graft] def identityOf(paths: Seq[String]): String =
    paths.map(fileIdentity).mkString("|")

  private[graft] def memoizedTableProbe[T](
      kind: String,
      column: String,
      files: Seq[String],
      storeDir: String)(compute: => T): T = {
    val dirs = tableDirs(files, storeDir)
    def idNow: String = identityOf(dirs)
    val id = idNow
    if (id.contains("absent"))
      return compute // un-stat-able dirs: never trust a dir-level identity
    val key = (s"$kind:$storeDir:${filesHash(files)}:${files.size}", column)
    memoizedEntry(key, id, idNow)(compute)
  }

  private[ivf] val MetaLenRe = """"dataLen":\s*(-?\d+)""".r
  private[ivf] val MetaDigestRe = """"dataDigest":\s*(-?\d+)""".r

  // digest memo keyed by the file's full identity (path, inode, mtime,
  // length) — a replaced file changes the key, so a stale digest can never
  // be served; bounds repeated binding checks (per task, per query) to one
  // tail read per distinct file version per JVM. Cleared wholesale past
  // 1M entries (~150 MB of keys) so a long-lived ingest JVM that touches
  // millions of file VERSIONS doesn't grow it unboundedly — a clear only
  // costs re-reading 64 KiB tails on the next touch
  private val StampMemoCap = 1000000
  private val stampMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long, Long), Long]
  // TrieMap.size walks the whole trie (O(entries)) — never call it on the
  // per-lookup hot path. An approximate insert counter (racy increments are
  // fine; the cap is a heuristic, not an invariant) gates the clear instead.
  private val stampMemoCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Content stamp of a data file: (length, digest of the file's TAIL).
    * The tail (last ≤64 KiB) covers the parquet footer — row-group
    * metadata, column stats, offsets, created-by — which changes under any
    * content rewrite even when the byte length happens to match, and reads
    * in one cheap pread (no full-file hash at 100 TB). None when the file
    * cannot be statted/read.
    */
  def dataStamp(dataFile: String): Option[(Long, Long)] = {
    val local = Paths.get(canonicalPath(dataFile).stripPrefix("file:"))
    try {
      val attrs = Files.readAttributes(
        local, classOf[java.nio.file.attribute.BasicFileAttributes])
      val key = (local.toString, String.valueOf(attrs.fileKey()),
        attrs.lastModifiedTime.toMillis, attrs.size)
      val digest = stampMemo.get(key).getOrElse {
        if (stampMemoCount.incrementAndGet() > StampMemoCap) {
          stampMemo.clear(); stampMemoCount.set(0)
        }
        stampMemo.getOrElseUpdate(key, {
        val len = attrs.size
        val tail = math.min(len, 65536L).toInt
        val ch = java.nio.channels.FileChannel.open(local)
        try {
          val buf = java.nio.ByteBuffer.allocate(tail)
          var pos = len - tail
          while (buf.hasRemaining) {
            val n = ch.read(buf, pos)
            if (n < 0) throw new java.io.EOFException(local.toString)
            pos += n
          }
          val md = MessageDigest.getInstance("SHA-1")
          md.update(buf.array(), 0, tail)
          java.nio.ByteBuffer.wrap(md.digest()).getLong
        } finally ch.close()
        })
      }
      Some((attrs.size, digest))
    } catch { case _: Exception => None }
  }

  /** Default writable cache dir (testdata is read-only). */
  def default: IndexStore =
    new IndexStore(sys.env.getOrElse("GRAFT_INDEX_DIR", "/root/repo/.graft/index"))

  /** Spark renders local file URIs in two shapes depending on the API
    * (`_metadata.file_path` → `file:/p`, `FileIndex.inputFiles` →
    * `file:///p`). Canonicalize to the `_metadata` shape so store keys and
    * join keys agree no matter which side produced the path.
    */
  def canonicalPath(s: String): String = {
    val uri = try new java.net.URI(s) catch { case _: Exception => return s }
    if (uri.getScheme == "file") "file:" + uri.getPath else s
  }
}
