package graft.ivf

import java.io.{Closeable, DataInputStream, EOFException, InputStream}
import java.net.URI
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.bytes.{ByteBufferInputStream, BytesInput}
import org.apache.parquet.column.{ColumnDescriptor, ValuesType}
import org.apache.parquet.column.values.ValuesReader
import org.apache.parquet.format.{Encoding, PageHeader, PageType, Util}
import org.apache.parquet.hadoop.{CodecFactory, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.OffsetIndex
import org.apache.parquet.io.{InputFile, LocalInputFile}
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.xerial.snappy.Snappy

/** Selective single-column vector fetch — the Spark-side analog of the
  * reference's `read_embeddings_for_rows` (`/root/reference/src/ivf/
  * search.rs:155-244`): given a file and a set of candidate row ordinals,
  * read ONLY the embedding column, ONLY the row groups that contain
  * candidates, and — when the file carries an offset index — ONLY the
  * PAGES whose row span holds a candidate (the reference's `RowSelection`
  * shape, `src/df_vector/access.rs:107-159`). Over
  * `IvfBuilder.rewriteWithIndex` output (1 row per page) this is true
  * point-read IO; over standard files it degrades gracefully to reading the
  * chunk's pages in turn.
  *
  * Pages are decoded here rather than through parquet-mr's record reader:
  * bodies land in per-thread buffers that are reused from call to call, the
  * repetition/definition levels are walked in place, and only candidate
  * rows' values are copied out — so a fetch allocates little beyond its
  * result, whatever the page size. Snappy and uncompressed pages decompress
  * without copies; other codecs and value encodings go through parquet-mr.
  *
  * Null vectors, empty lists, null elements, and dim-mismatched rows yield
  * no output row (the engine-wide skip-don't-error semantics). f64
  * embedding columns are downcast to f32, like the reference
  * (`src/ivf/parquet.rs:287-291`).
  */
object SelectiveFetch {

  private def toLocal(file: String): String =
    Try(new URI(file)).toOption match {
      case Some(u) if u.getScheme == "file" => u.getPath
      case _ => file
    }

  /** Leaf column descriptor of an `array<float/double>` column written in
    * the standard 3-level LIST layout.
    */
  private def leaf(schema: MessageType, column: String): ColumnDescriptor = {
    val fieldIdx = schema.getFieldIndex(column)
    require(fieldIdx >= 0, s"column '$column' not in schema")
    val cols = new MessageType(schema.getName, schema.getType(fieldIdx)).getColumns.asScala
    require(
      cols.size == 1,
      s"column '$column' is not a single-leaf list column (leaves: ${cols.size})")
    val tpe = cols.head.getPrimitiveType.getPrimitiveTypeName
    require(tpe == PrimitiveTypeName.FLOAT || tpe == PrimitiveTypeName.DOUBLE,
      s"column '$column' holds $tpe, not float or double")
    cols.head
  }

  /** One Hadoop conf for every fetch in this JVM: building one loads the
    * default resources, too slow to repeat per file. Only read here.
    */
  private lazy val hadoopConf = new Configuration()

  /** Footer read options, built once: each builder loads a fresh Hadoop
    * conf, XML resources and all.
    */
  private lazy val readOptions = ParquetReadOptions.builder().build()

  /** Page bodies and decompressed pages, reused by every fetch on a thread.
    * A buffer past [[RetainBytes]] is handed out once and not kept.
    */
  private final class Buffers {
    private val kept = Array(new Array[Byte](0), new Array[Byte](0))
    def apply(slot: Int, n: Int): Array[Byte] =
      if (n <= kept(slot).length) kept(slot)
      else if (n > RetainBytes) new Array[Byte](n)
      else { kept(slot) = new Array[Byte](math.max(n, 2 * kept(slot).length)); kept(slot) }
  }
  private val RetainBytes = 16 << 20
  private val buffers = ThreadLocal.withInitial[Buffers](() => new Buffers)

  /** Read the vectors at `ordinals` (file-absolute row ordinals, any order)
    * from `file`'s `column`. Returns (ordinal, vector) pairs, ordinal
    * ascending; rows whose vector is null/contains nulls are omitted.
    */
  def embeddings(
      file: String, column: String, ordinals: Array[Int]): Seq[(Long, Array[Float])] =
    embeddings(file, column, ordinals, pageIndex = true)

  /** `pageIndex = false` ignores the offset index: pages are walked in turn. */
  private[ivf] def embeddings(file: String, column: String, ordinals: Array[Int],
      pageIndex: Boolean): Seq[(Long, Array[Float])] = {
    if (ordinals.isEmpty) return Seq.empty
    val sorted = ordinals.distinct.sorted
    val out = new ArrayBuffer[(Long, Array[Float])](sorted.length)
    val source = new Source(new Path(toLocal(file)))
    try {
      val reader = ParquetFileReader.open(source.input, readOptions)
      try {
        val desc = leaf(reader.getFooter.getFileMetaData.getSchema, column)
        val decoder = new ChunkDecoder(source, desc, sorted, out)
        try {
          var groupStart = 0L // first file-absolute ordinal of the current group
          var ci = 0 // cursor into sorted ordinals
          reader.getFooter.getBlocks.asScala.zipWithIndex.foreach { case (block, blockIdx) =>
            val groupEnd = groupStart + block.getRowCount
            val lo = ci
            while (ci < sorted.length && sorted(ci) < groupEnd) ci += 1
            // groups without candidates are never touched at all
            if (ci > lo) {
              val chunk = block.getColumns.asScala
                .find(c => c.getPath.toArray.sameElements(desc.getPath))
                .getOrElse(throw new IllegalStateException(
                  s"column chunk for '$column' missing in row group $blockIdx of $file"))
              decoder.chunk(chunk,
                if (pageIndex) Try(reader.readOffsetIndex(chunk)).getOrElse(null) else null,
                groupStart, block.getRowCount, lo, ci)
            }
            groupStart = groupEnd
          }
        } finally decoder.release()
      } finally reader.close()
    } finally source.close()
    out.toSeq
  }

  /** One file, for the footer reader and for positioned reads: local
    * files through plain channels (no checksum layer, no stream buffers),
    * others through their Hadoop file system.
    */
  private final class Source(path: Path) extends Closeable {
    private val fs = path.getFileSystem(hadoopConf)
    private val local = fs match {
      case l: LocalFileSystem => Some(l.pathToFile(path).toPath)
      case _ => None
    }
    val input: InputFile =
      local.fold[InputFile](HadoopInputFile.fromPath(path, hadoopConf))(new LocalInputFile(_))
    private val channel = local.map(FileChannel.open(_, StandardOpenOption.READ)).orNull
    private val stream: FSDataInputStream = if (channel == null) fs.open(path) else null
    val length: Long = input.getLength
    def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit =
      if (channel == null) stream.readFully(pos, b, off, len)
      else {
        val bb = ByteBuffer.wrap(b, off, len)
        while (bb.hasRemaining)
          if (channel.read(bb, pos + bb.position() - off) < 0)
            throw new EOFException(s"$path ends before byte ${pos + len}")
      }
    override def close(): Unit = if (channel != null) channel.close() else stream.close()
  }

  /** Sequential reader over a [[Source]] from a seek point, buffered
    * through a small window: page headers are parsed off it, page bodies
    * copied out of it.
    */
  private final class PageStream(src: Source) extends InputStream {
    private val win = new Array[Byte](4096)
    private var base = 0L // file offset of win(0)
    private var n = 0
    private var i = 0
    def seek(p: Long): Unit = { base = p; n = 0; i = 0 }
    def pos: Long = base + i
    private def fill(): Unit = {
      base += n; i = 0
      n = math.min(win.length.toLong, src.length - base).toInt
      if (n <= 0) { n = 0; throw new EOFException("page header runs past the file end") }
      src.readFully(base, win, 0, n)
    }
    override def read(): Int = {
      if (i == n) fill()
      i += 1
      win(i - 1) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (i == n) fill()
      val k = math.min(len, n - i)
      System.arraycopy(win, i, b, off, k)
      i += k
      k
    }
    /** The next `len` bytes into `dst`, advancing past them. */
    def body(dst: Array[Byte], len: Int): Unit = {
      val k = math.min(len, n - i)
      System.arraycopy(win, i, dst, 0, k)
      if (k < len) src.readFully(pos + k, dst, k, len - k)
      seek(pos + len)
    }
  }

  /** Allocation-free decoder of Parquet's RLE / bit-packing hybrid (levels
    * and dictionary ids) over a byte range.
    */
  private final class Hybrid {
    private var d: Array[Byte] = _
    private var p = 0
    private var end = 0
    private var width = 0
    private var mask = 0L
    private var rle = 0 // values left in the current RLE run
    private var value = 0
    private var packed = 0 // values left in the current bit-packed run
    private var packStart = 0
    private var bit = 0
    def reset(data: Array[Byte], from: Int, until: Int, bitWidth: Int): Unit = {
      d = data; p = from; end = until; width = bitWidth
      mask = (1L << bitWidth) - 1; rle = 0; packed = 0
    }
    /** Values left in the current run when it is an RLE run, else 0. */
    def run(): Int = {
      if (rle == 0 && packed == 0) header()
      rle
    }
    def runValue: Int = value
    def drop(n: Int): Unit = rle -= n
    def next(): Int = {
      if (rle == 0 && packed == 0) header()
      if (rle > 0) { rle -= 1; value }
      else {
        val start = packStart + (bit >>> 3)
        val shift = bit & 7
        var acc = 0L
        var k = 0
        while (8 * k < shift + width) { acc |= (d(start + k) & 0xffL) << (8 * k); k += 1 }
        packed -= 1; bit += width
        ((acc >>> shift) & mask).toInt
      }
    }
    private def header(): Unit = {
      if (p >= end) throw new IllegalStateException("RLE/bit-packed run data exhausted")
      var h = 0
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) { b = d(p) & 0xff; p += 1; h |= (b & 0x7f) << shift; shift += 7 }
      if ((h & 1) == 0) {
        rle = h >>> 1; value = 0
        var k = 0
        while (k < (width + 7) / 8) { value |= (d(p) & 0xff) << (8 * k); p += 1; k += 1 }
      } else {
        packed = (h >>> 1) * 8; packStart = p; bit = 0
        p += (h >>> 1) * width
      }
    }
  }

  /** Walks a column chunk's pages, copying out the values of the candidate
    * records `sorted(lo until hi)` of each row group into `out`.
    */
  private final class ChunkDecoder(
      src: Source,
      desc: ColumnDescriptor,
      sorted: Array[Int],
      out: ArrayBuffer[(Long, Array[Float])]) {
    private val in = new PageStream(src)
    private val bufs = buffers.get()
    private val isDouble = desc.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.DOUBLE
    private val maxRep = desc.getMaxRepetitionLevel
    private val maxDef = desc.getMaxDefinitionLevel
    private val rep = new Hybrid
    private val defs = new Hybrid
    private val ids = new Hybrid
    private var codecs: CodecFactory = _
    private var codec: CompressionCodecName = _

    // value stream of the current page
    private var plain: ByteBuffer = _ // PLAIN values, else null
    private var plainAt = 0
    private var dict: Array[Float] = _
    private var other: ValuesReader = _ // any other encoding, through parquet-mr
    private var skipN = 0 // present values passed over since the last read

    // the record being assembled
    private var nextRow = 0L
    private var row = -1L
    private var wanted = false
    private var valid = false
    private var len = 0
    private var vec = new Array[Float](16)
    private var cj = 0
    private var hi = 0
    private var done = false

    def release(): Unit = if (codecs != null) codecs.release()

    def chunk(meta: ColumnChunkMetaData, offsets: OffsetIndex, groupStart: Long,
        rows: Long, lo: Int, until: Int): Unit = {
      codec = meta.getCodec; dict = null; cj = lo; hi = until; done = false
      in.seek(meta.getStartingPos)
      if (offsets == null) {
        nextRow = groupStart
        val end = meta.getStartingPos + meta.getTotalSize
        while (!done && in.pos < end) page()
      } else {
        // a dictionary page sits before the first data page
        while (in.pos < offsets.getOffset(0)) page()
        var pg = 0
        while (!done && pg < offsets.getPageCount) {
          val first = groupStart + offsets.getFirstRowIndex(pg)
          val last = groupStart + offsets.getLastRowIndex(pg, rows)
          while (cj < hi && sorted(cj) < first) cj += 1
          if (cj < hi && sorted(cj) <= last) {
            finish()
            in.seek(offsets.getOffset(pg)); nextRow = first
            page()
          }
          pg += 1
        }
      }
      finish()
    }

    private def body(h: PageHeader): Array[Byte] = {
      val raw = bufs(0, h.getCompressed_page_size)
      in.body(raw, h.getCompressed_page_size)
      raw
    }

    /** `raw(off until off + len)` decompressed: (bytes, offset of byte 0). */
    private def decompress(raw: Array[Byte], off: Int, len: Int, size: Int): (Array[Byte], Int) =
      codec match {
        case CompressionCodecName.UNCOMPRESSED => (raw, off)
        case CompressionCodecName.SNAPPY =>
          val dst = bufs(1, size)
          Snappy.uncompress(raw, off, len, dst, 0)
          (dst, 0)
        case c =>
          if (codecs == null) codecs = new CodecFactory(hadoopConf, 0)
          val dst = bufs(1, size)
          new DataInputStream(codecs.getDecompressor(c)
            .decompress(BytesInput.from(raw, off, len), size).toInputStream).readFully(dst, 0, size)
          (dst, 0)
      }

    private def leInt(d: Array[Byte], at: Int): Int =
      (d(at) & 0xff) | (d(at + 1) & 0xff) << 8 | (d(at + 2) & 0xff) << 16 | (d(at + 3) & 0xff) << 24

    private def width(max: Int): Int = 32 - Integer.numberOfLeadingZeros(max)

    private def page(): Unit = {
      val h = Util.readPageHeader(in)
      h.getType match {
        case PageType.DICTIONARY_PAGE =>
          val (d, o) = decompress(body(h), 0, h.getCompressed_page_size, h.getUncompressed_page_size)
          val bb = ByteBuffer.wrap(d).order(ByteOrder.LITTLE_ENDIAN)
          dict = Array.tabulate(h.getDictionary_page_header.getNum_values)(k =>
            if (isDouble) bb.getDouble(o + 8 * k).toFloat else bb.getFloat(o + 4 * k))
        case PageType.DATA_PAGE =>
          val dh = h.getData_page_header
          val (d, o) = decompress(body(h), 0, h.getCompressed_page_size, h.getUncompressed_page_size)
          var p = o
          if (maxRep > 0) {
            require(dh.getRepetition_level_encoding == Encoding.RLE, "BIT_PACKED levels")
            val n = leInt(d, p); rep.reset(d, p + 4, p + 4 + n, width(maxRep)); p += 4 + n
          }
          if (maxDef > 0) {
            require(dh.getDefinition_level_encoding == Encoding.RLE, "BIT_PACKED levels")
            val n = leInt(d, p); defs.reset(d, p + 4, p + 4 + n, width(maxDef)); p += 4 + n
          }
          values(dh.getEncoding, d, p, o + h.getUncompressed_page_size, dh.getNum_values)
          levels(dh.getNum_values)
        case PageType.DATA_PAGE_V2 =>
          // levels are stored uncompressed ahead of the values
          val v2 = h.getData_page_header_v2
          val (rl, dl) = (v2.getRepetition_levels_byte_length, v2.getDefinition_levels_byte_length)
          val raw = body(h)
          rep.reset(raw, 0, rl, width(maxRep))
          defs.reset(raw, rl, rl + dl, width(maxDef))
          val size = h.getUncompressed_page_size - rl - dl
          val (d, o) =
            if (v2.isIs_compressed) decompress(raw, rl + dl, h.getCompressed_page_size - rl - dl, size)
            else (raw, rl + dl)
          values(v2.getEncoding, d, o, o + size, v2.getNum_values)
          levels(v2.getNum_values)
        case _ => in.seek(in.pos + h.getCompressed_page_size)
      }
    }

    private def values(enc: Encoding, d: Array[Byte], from: Int, until: Int, count: Int): Unit = {
      plain = null; other = null; skipN = 0; plainAt = from
      enc match {
        case Encoding.PLAIN => plain = ByteBuffer.wrap(d).order(ByteOrder.LITTLE_ENDIAN)
        case Encoding.PLAIN_DICTIONARY | Encoding.RLE_DICTIONARY =>
          require(dict != null, "dictionary-encoded page without a dictionary page")
          ids.reset(d, from + 1, until, d(from) & 0xff)
        case e =>
          other = org.apache.parquet.column.Encoding.valueOf(e.name)
            .getValuesReader(desc, ValuesType.VALUES)
          other.initFromPage(count, ByteBufferInputStream.wrap(ByteBuffer.wrap(d, from, until - from)))
      }
    }

    private def value(): Float = {
      val v =
        if (plain != null) {
          plainAt += skipN * (if (isDouble) 8 else 4)
          val x = if (isDouble) plain.getDouble(plainAt).toFloat else plain.getFloat(plainAt)
          plainAt += (if (isDouble) 8 else 4)
          x
        } else if (other == null) {
          while (skipN > 0) { ids.next(); skipN -= 1 }
          dict(ids.next())
        } else {
          if (skipN > 0) other.skip(skipN)
          if (isDouble) other.readDouble().toFloat else other.readFloat()
        }
      skipN = 0
      v
    }

    /** One record starts at each repetition level 0; a record is emitted
      * when the next one starts (or the chunk ends) and it was wanted and
      * every level in it reached a present element.
      */
    private def levels(count: Int): Unit = {
      var k = 0
      while (k < count && !done) {
        val n = continuing(count - k)
        if (n > 0) {
          rep.drop(n); defs.drop(n); k += n
          if (!wanted) skipN += n
          else {
            if (len + n > vec.length) vec = java.util.Arrays.copyOf(vec, math.max(len + n, 2 * len))
            var j = 0
            while (j < n) { vec(len) = value(); len += 1; j += 1 }
          }
        } else {
          level(if (maxRep > 0) rep.next() else 0, if (maxDef > 0) defs.next() else 0)
          k += 1
        }
      }
    }

    /** How many of the next (at most `left`) levels are present elements
      * continuing the current record inside RLE runs of both level streams:
      * a stretch taken whole, so a vector costs a few runs, not a level each.
      */
    private def continuing(left: Int): Int =
      if (row < 0 || maxRep == 0 || maxDef == 0) 0
      else {
        val rr = rep.run()
        val dr = defs.run()
        if (rr == 0 || dr == 0 || rep.runValue == 0 || defs.runValue != maxDef) 0
        else math.min(math.min(rr, dr), left)
      }

    private def level(r: Int, dl: Int): Unit = {
      if (r == 0) {
        finish()
        row = nextRow; nextRow += 1
        while (cj < hi && sorted(cj) < row) cj += 1
        wanted = cj < hi && sorted(cj) == row
        valid = true; len = 0
        done = !wanted && cj >= hi
      }
      if (dl == maxDef) {
        if (wanted) {
          if (len == vec.length) vec = java.util.Arrays.copyOf(vec, 2 * len)
          vec(len) = value(); len += 1
        } else skipN += 1
      } else valid = false // null list, empty list, or null element
    }

    private def finish(): Unit = {
      if (row >= 0 && wanted && valid) out += ((row, java.util.Arrays.copyOf(vec, len)))
      row = -1; wanted = false
    }
  }
}
