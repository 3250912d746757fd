package graft.format

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import Meta._

/** Reads a graft file: footer discovery + per-buffer page decode into
  * Spark `WritableColumnVector`s (the vectorized scan path).
  *
  * The footer is UNTRUSTED: every offset/size/index is bounds-checked
  * before use, mirroring the reference's adversarial read contract
  * (`src/read.zig:829-875,756-788,102-125`) — a hostile file must produce
  * a clean `OliveFormatException`, never a crash or over-read.
  */
final class GraftFileReader private (in: FSDataInputStream, fileLen: Long, val footer: Footer)
    extends AutoCloseable {

  private val dataStart = MagicHead.length.toLong

  def close(): Unit = in.close()

  def tableNames: Seq[String] = footer.chunks.flatMap(_.tables.map(_.name)).distinct

  /** Raw bytes of one logical buffer (all pages decompressed + joined). */
  def readBuffer(bm: BufferMeta): Array[Byte] = {
    // 1 GiB per-buffer cap (the reference's maxInt(u32)/4, `read.zig:853`):
    // bounds allocation BEFORE decompressing, so a tiny hostile file can't
    // claim a multi-GB decompression bomb
    if (bm.rawSize > (1L << 30))
      throw new OliveFormatException(s"buffer too large: ${bm.rawSize}")
    val out = new Array[Byte](bm.rawSize.toInt)
    var at = 0
    bm.pages.foreach { p =>
      if (at + p.rawSize > out.length)
        throw new OliveFormatException("page raw sizes overflow buffer")
      val raw = decompressPage(bm, p)
      System.arraycopy(raw, 0, out, at, p.rawSize)
      at += p.rawSize
    }
    if (at != out.length) throw new OliveFormatException("buffer short read")
    out
  }

  /** Opt-in decompressed-page LRU for repeated range decodes over one
    * chunk: merge-on-read delete vectors split a kept range into many
    * tiny live sub-ranges, and without a cache EVERY 6-row sub-range
    * re-reads and re-decompresses its ~1 MiB covering page (plus the
    * chunk-global dicts) — O(deleted) page decodes instead of O(pages).
    * Disabled by default: a plain scan visits each page once, and the
    * cache would only hold memory. Byte-bounded, access-ordered. */
  private var pageCache: java.util.LinkedHashMap[(BufferMeta, Long), Array[Byte]] = null
  private var pageCacheBytes = 0L
  private var pageCacheCap = 0L
  def enablePageCache(maxBytes: Long = 8L << 20): Unit = if (pageCache == null) {
    pageCacheCap = maxBytes
    pageCache = new java.util.LinkedHashMap[(BufferMeta, Long), Array[Byte]](64, 0.75f, true)
  }

  /** Read + checksum + decompress one page (through the cache when
    * enabled). `pagesRead` counts actual decompressions only. */
  private def decompressPage(bm: BufferMeta, p: PageMeta): Array[Byte] = {
    if (p.offset < 0 || p.compSize < 0 ||
        p.offset + p.compSize > footer.dataSectionSize)
      throw new OliveFormatException("page outside data section")
    val key = if (pageCache != null) (bm, p.offset) else null
    if (key != null) {
      val hit = pageCache.get(key)
      if (hit != null) return hit
    }
    val comp = new Array[Byte](p.compSize)
    in.readFully(dataStart + p.offset, comp)
    verifyPage(p, comp)
    val raw = Codec.decompress(bm.codec, comp, 0, p.compSize, p.rawSize)
    pagesReadCount += 1
    if (key != null && p.rawSize <= pageCacheCap) {
      pageCache.put(key, raw)
      pageCacheBytes += p.rawSize
      val it = pageCache.entrySet().iterator()
      while (pageCacheBytes > pageCacheCap && it.hasNext) {
        pageCacheBytes -= it.next().getValue.length
        it.remove()
      }
    }
    raw
  }

  /** v5 page checksum, verified BEFORE decompress: a flipped payload
    * that would still inflate to the right size refuses loudly here.
    * v4 files carry no page hashes — read-compat skips the check. */
  private def verifyPage(p: PageMeta, comp: Array[Byte]): Unit =
    if (footer.version >= 5 && Meta.xxh64(comp, 0, comp.length) != p.hash)
      throw new OliveFormatException(
        s"page checksum mismatch at offset ${p.offset} (corrupt data page)")

  /** Pages decompressed so far (observability for page-skipping tests). */
  private var pagesReadCount = 0L
  def pagesRead: Long = pagesReadCount

  /** Bytes [byte0, byte1) of a logical buffer, touching ONLY the pages
    * that overlap the range — the reference records `row_index_ends` per
    * page but never exploits them (`src/header.zig:41-45`); this is that
    * index put to work (page coverage tracked by cumulative rawSize,
    * which the footer parser already validated to sum exactly).
    * Returns (bytes, byteOffsetOfFirstDecodedPage): the caller rebases
    * its element arithmetic by the second component. A range spanning
    * the whole buffer is [[readBuffer]]: every page, the empty page of a
    * zero-byte buffer included, so a whole-chunk decode verifies it. */
  def readBufferRange(bm: BufferMeta, byte0: Long, byte1: Long): (Array[Byte], Long) = {
    if (byte0 < 0 || byte1 < byte0 || byte1 > bm.rawSize)
      throw new OliveFormatException(s"buffer range [$byte0,$byte1) outside ${bm.rawSize}")
    if (byte0 == 0 && byte1 == bm.rawSize) return (readBuffer(bm), 0L)
    var cum = 0L
    var firstStart = -1L
    var need = 0L
    // pass 1: find overlapping pages and the allocation size
    bm.pages.foreach { p =>
      val start = cum
      val end = cum + p.rawSize
      if (end > byte0 && start < byte1) {
        if (firstStart < 0) firstStart = start
        need += p.rawSize
      }
      cum = end
    }
    if (firstStart < 0) firstStart = byte0 // empty range
    if (need > (1L << 30))
      throw new OliveFormatException(s"buffer range too large: $need")
    val out = new Array[Byte](need.toInt)
    var at = 0
    cum = 0L
    bm.pages.foreach { p =>
      val start = cum
      val end = cum + p.rawSize
      if (end > byte0 && start < byte1) {
        val raw = decompressPage(bm, p)
        System.arraycopy(raw, 0, out, at, p.rawSize)
        at += p.rawSize
      }
      cum = end
    }
    (out, firstStart)
  }

  /** Claimed element count implied by a column's own buffer metadata, or
    * -1 if the type stores no per-element evidence. Checked BEFORE any
    * vector allocation so a lying footer can't force a huge reserve. */
  private def impliedCount(meta: ColMeta, dt: DataType): Long = (meta, dt) match {
    case (PrimitiveMeta(_, v), BooleanType) => v.rawSize * 8 // bitmap: upper bound
    case (PrimitiveMeta(_, v), ByteType) => v.rawSize
    case (PrimitiveMeta(_, v), ShortType) => v.rawSize / 2
    case (PrimitiveMeta(_, v), IntegerType | DateType | FloatType | _: YearMonthIntervalType) => v.rawSize / 4
    case (PrimitiveMeta(_, v), LongType | TimestampType | TimestampNTZType | DoubleType | _: DayTimeIntervalType) => v.rawSize / 8
    case (PrimitiveMeta(_, v), d: DecimalType) => v.rawSize / (if (d.precision <= 18) 8 else 16)
    case (PrimitiveMeta(_, v), CalendarIntervalType) => v.rawSize / 16
    case (DictIdxMeta(_, _, idx), _) => idx.rawSize / 4
    case (ForMeta(_, _, width, values), _) => values.rawSize / width
    case (UnsignedMeta(_, logical, values), _) => values.rawSize / Logical.elemSize(logical)
    case (PrimDictMeta(_, _, idxW, _, indices), _) => indices.rawSize / idxW
    case (DeltaMeta(_, _, width, deltas, _), _) => deltas.rawSize / width
    // bit-pack: floor(packedBits / bits) overshoots true n by at most 7
    // (pad rounding) — a LOOSE upper bound, see [[looseCount]]
    case (BitPackMeta(_, _, bits, values), _) =>
      math.max(0L, values.rawSize - 8) * 8 / bits
    case (ScaledMeta(_, _, inner), FloatType | DoubleType) =>
      impliedCount(inner, LongType) // inner is the scaled i64 stream
    case (UnsignedPackedMeta(_, _, inner), _) =>
      impliedCount(inner, LongType) // inner is the widened i64 stream
    // REE: runs only lower-bound the element count — no exact evidence
    case (BinDictMeta(_, _, w, _, _, idx), _) => idx.rawSize / w
    case (BinaryMeta(_, off, _), _) => off.rawSize / 4 - 1
    case (ListMeta(_, off, _), _) => off.rawSize / 4 - 1
    case (MapMeta(_, off, _, _), _) => off.rawSize / 4 - 1
    case (StructMeta(_, children), st: StructType) if children.size == st.size =>
      // a struct's own evidence is the strongest child evidence: every
      // child must hold one slot per struct row. Loose-count children
      // (bool bitmaps, bit-packed) are EXCLUDED — they only bound the
      // count from above, not the exact count checkCount needs
      children.zip(st.fields).map { case (c, f) =>
        if (looseCount(c, f.dataType)) -1L else impliedCount(c, f.dataType)
      }.filter(_ >= 0).minOption.getOrElse(-1L)
    case _ => -1L
  }

  /** Hard per-column element cap used when a nested child carries no
    * per-element buffer evidence of its own: bounds what a lying footer
    * can make us allocate to < 2^28 slots (the chunk row cap; list/map
    * offsets are u32-buffer-bounded anyway — this guards the claimed END
    * offset, which feeds child allocation sizes). */
  private final val MaxElems: Long = 1L << 28

  /** Encodings whose buffer evidence is an UPPER BOUND within +7 of the
    * true count, not exact: bool bitmaps and bit-packed streams round up
    * to byte/pad boundaries. Their counts check loosely in [[checkCount]]
    * and must NOT feed a struct's exact-evidence minimum. */
  private def looseCount(meta: ColMeta, dt: DataType): Boolean = meta match {
    case _: BitPackMeta => true
    case ScaledMeta(_, _, inner) => inner.isInstanceOf[BitPackMeta]
    case UnsignedPackedMeta(_, _, inner) => inner.isInstanceOf[BitPackMeta]
    case _ => dt == BooleanType
  }

  /** Offsets buffer size for offset-bearing metas, -1 otherwise: lets
    * [[checkCount]] accept the i64 (`graft.largeOffsets`) dialect, whose
    * buffer is (n+1)*8 where [[impliedCount]]'s default guess is i32. */
  private def offsetsRawSize(meta: ColMeta): Long = meta match {
    case BinaryMeta(_, off, _) => off.rawSize
    case ListMeta(_, off, _) => off.rawSize
    case MapMeta(_, off, _, _) => off.rawSize
    case _ => -1L
  }

  private def checkCount(meta: ColMeta, dt: DataType, n: Long, what: String): Unit = (meta, dt) match {
    // struct children each hold exactly n slots (null structs keep
    // children aligned): check every child directly so offset-bearing
    // children get the i64-dialect escape below — a min-over-children
    // here would mistake a wide child's (n+1)*8 buffer for 2n+1 rows
    case (StructMeta(_, children), st: StructType) if children.size == st.size =>
      children.zip(st.fields).foreach { case (c, f) =>
        checkCount(c, f.dataType, n, s"$what.${f.name}") }
    case _ =>
      val implied = impliedCount(meta, dt)
      val oraw = offsetsRawSize(meta)
      val ok = implied < 0 ||
        (looseCount(meta, dt) && implied >= n && implied < n + 8L) ||
        implied == n ||
        (oraw >= 0 && oraw == (n + 1) * 8L)
      if (!ok) throw new OliveFormatException(
        s"$what claims $n elements but buffers imply $implied")
  }

  /** Decode one table of one chunk into a ColumnarBatch holding exactly
    * the `required` columns (column pruning: unneeded column subtrees are
    * never read from disk — their pages are simply skipped). The whole
    * chunk is the row range [0, numRows) of [[decodeTableRange]]. */
  def decodeTable(chunk: ChunkMeta, table: TableMeta, required: StructType): ColumnarBatch =
    decodeTableRange(chunk, table, required, 0, table.numRows)

  /** Decode rows [row0, row1) of a table, touching only the pages that
    * overlap the range — the sub-chunk read the reference's per-page
    * `row_index_ends` was designed for but never used. Drives pushed
    * LIMITs (prefix ranges) and selective point/tail lookups: a 128Ki-row
    * chunk with 1 MiB pages serves a tail read from its last page(s),
    * not a full-chunk decode. */
  def decodeTableRange(chunk: ChunkMeta, table: TableMeta, required: StructType,
      row0: Int, row1: Int): ColumnarBatch = {
    val total = table.numRows
    if (total < 0 || total > (1 << 28))
      throw new OliveFormatException(s"chunk row count $total out of range")
    if (row0 < 0 || row1 < row0 || row1 > total)
      throw new OliveFormatException(s"row range [$row0,$row1) outside $total")
    val n = row1 - row0
    // validate the claimed row count against every required column's own
    // buffer evidence BEFORE any vector allocation: a lying numRows must
    // raise OliveFormatException, not OOM the executor on reserve()
    required.fields.foreach { f =>
      val cidx = Evolution.fileFieldIndex(table.schema, f)
      if (cidx >= 0)
        checkCount(table.columns(cidx), table.schema.fields(cidx).dataType, total,
          s"column ${f.name}")
    }
    lazy val dict20 = readBuffer(chunk.dict20.data)
    lazy val dict32 = readBuffer(chunk.dict32.data)
    val vectors: Array[ColumnVector] = required.fields.map { f =>
      val vec = new OnHeapColumnVector(math.max(n, 1), f.dataType)
      // resolve through the rename chain: a file written before an
      // ALTER ... RENAME stores this column under a prior name
      val idx = Evolution.fileFieldIndex(table.schema, f)
      if (idx >= 0) {
        val fileDt = table.schema.fields(idx).dataType
        if (fileDt != f.dataType && Evolution.widens(fileDt, f.dataType)) {
          // schema-evolution WIDEN (int→long etc.): decode at the file's
          // physical width, then promote into the requested vector
          val tmp = new OnHeapColumnVector(math.max(n, 1), fileDt)
          try {
            decodeColRange(tmp, table.columns(idx), fileDt, fileDt,
              row0, row1, total.toLong, chunk, dict20 _, dict32 _)
            widenCopy(tmp, vec, fileDt, f.dataType, n)
          } finally tmp.close()
        } else decodeColRange(vec, table.columns(idx), fileDt, f.dataType,
          row0, row1, total.toLong, chunk, dict20 _, dict32 _)
      } else if (f.nullable) {
        // schema drift: an older file predates this column — read nulls,
        // the same contract parquet gives evolving datasets
        vec.putNulls(0, n)
      } else throw new OliveFormatException(
        s"non-nullable column ${f.name} missing from file table ${table.name}")
      vec
    }.toArray
    new ColumnarBatch(vectors, n)
  }

  /** Row-by-row promotion for a schema-evolution widened column (the
    * file stores the pre-ALTER narrower type). Nulls carry over. */
  private def widenCopy(src: OnHeapColumnVector, dst: WritableColumnVector,
      from: DataType, to: DataType, n: Int): Unit = {
    def loop(put: Int => Unit): Unit = {
      var i = 0
      while (i < n) { if (src.isNullAt(i)) dst.putNull(i) else put(i); i += 1 }
    }
    (from, to) match {
      case (ByteType, ShortType) => loop(i => dst.putShort(i, src.getByte(i)))
      case (ByteType, IntegerType) => loop(i => dst.putInt(i, src.getByte(i)))
      case (ByteType, LongType) => loop(i => dst.putLong(i, src.getByte(i)))
      case (ShortType, IntegerType) => loop(i => dst.putInt(i, src.getShort(i)))
      case (ShortType, LongType) => loop(i => dst.putLong(i, src.getShort(i)))
      case (IntegerType, LongType) => loop(i => dst.putLong(i, src.getInt(i)))
      case (FloatType, DoubleType) => loop(i => dst.putDouble(i, src.getFloat(i)))
      case (f: DecimalType, t: DecimalType) => loop { i =>
        // exact rescale: widens() admits only grown integer digits and
        // scale, so changePrecision can neither round nor overflow
        val d = src.getDecimal(i, f.precision, f.scale)
        if (!d.changePrecision(t.precision, t.scale))
          throw new OliveFormatException(
            s"decimal widen overflow: $d to (${t.precision},${t.scale})")
        dst.putDecimal(i, d, t.precision)
      }
      case other => throw new OliveFormatException(s"unsupported widen $other")
    }
  }

  /** Offsets entry width for a buffer holding `n`+1 entries: 4 (i32,
    * the default) or 8 (the `graft.largeOffsets` i64 dialect — olive's
    * large_binary/large_list, ref `src/read.zig:719-754`, which the
    * reference likewise reads by unifying both widths). */
  private def offsetsWidth(rawSize: Long, n: Long): Int =
    if (rawSize == (n + 1) * 4L) 4
    else if (rawSize == (n + 1) * 8L) 8
    else throw new OliveFormatException(
      s"offsets buffer $rawSize matches neither i32 nor i64 for ${n + 1} entries")

  private def fillPrimitive(vec: WritableColumnVector, bytes: Array[Byte],
      dt: DataType, n: Int): Unit = {
    def needLen(want: Long): Unit =
      if (bytes.length < want)
        throw new OliveFormatException(s"values buffer ${bytes.length} < $want")
    dt match {
      case ByteType => needLen(n); vec.putBytes(0, n, bytes, 0)
      case ShortType => needLen(n * 2L); vec.putShorts(0, n, bytes, 0)
      case IntegerType | DateType | _: YearMonthIntervalType =>
        needLen(n * 4L); vec.putInts(0, n, bytes, 0)
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        needLen(n * 8L); vec.putLongs(0, n, bytes, 0)
      case FloatType => needLen(n * 4L); vec.putFloats(0, n, bytes, 0)
      case DoubleType => needLen(n * 8L); vec.putDoubles(0, n, bytes, 0)
      case d: DecimalType if d.precision <= 9 =>
        // Spark backs p <= 9 decimal vectors with INTs (is32BitDecimalType):
        // putLongs would Platform.copyMemory into a null longData base
        // (SIGSEGV, not an exception) — write per-value ints instead
        needLen(n * 8L)
        val bb = Bytes.le(bytes)
        var i = 0
        while (i < n) { vec.putInt(i, bb.getLong(i * 8).toInt); i += 1 }
      case d: DecimalType if d.precision <= 18 =>
        needLen(n * 8L); vec.putLongs(0, n, bytes, 0)
      case d: DecimalType =>
        needLen(n * 16L)
        var i = 0
        while (i < n) {
          if (!vec.isNullAt(i)) {
            val be = new Array[Byte](16)
            var j = 0
            while (j < 16) { be(j) = bytes(i * 16 + 15 - j); j += 1 }
            val dec = org.apache.spark.sql.types.Decimal(
              new java.math.BigDecimal(new java.math.BigInteger(be), d.scale), d.precision, d.scale)
            vec.putDecimal(i, dec, d.precision)
          }
          i += 1
        }
      case CalendarIntervalType =>
        needLen(n * 16L)
        val bb = Bytes.le(bytes)
        val months = vec.getChild(0)
        val days = vec.getChild(1)
        val micros = vec.getChild(2)
        months.reserve(math.max(n, 1)); days.reserve(math.max(n, 1)); micros.reserve(math.max(n, 1))
        var i = 0
        while (i < n) {
          months.putInt(i, bb.getInt(i * 16))
          days.putInt(i, bb.getInt(i * 16 + 4))
          micros.putLong(i, bb.getLong(i * 16 + 8))
          i += 1
        }
      case other =>
        throw new OliveFormatException(s"primitive meta does not match type $other")
    }
  }

  /** Expand run-end-encoded (ends, values) into plain bytes for elements
    * [e0, e1). Runs are few by construction (the writer only picks REE
    * when they at least halve the column), so both buffers load whole;
    * only the expansion is range-bounded. */
  private def expandRee(endsBuf: BufferMeta, valsBuf: BufferMeta,
      dt: DataType, e0: Long, e1: Long): Array[Byte] = {
    val es = fixedElemSize(dt, "REE")
    val endBytes = readBuffer(endsBuf)
    if (endBytes.length % 4 != 0) throw new OliveFormatException("REE ends not i32-aligned")
    val runs = endBytes.length / 4
    val vals = readBuffer(valsBuf)
    if (vals.length != runs.toLong * es)
      throw new OliveFormatException(s"REE values ${vals.length} != $runs runs * $es")
    val eb = Bytes.le(endBytes)
    val n = (e1 - e0).toInt
    val out = new Array[Byte](n * es)
    var run = 0
    var prevEnd = 0L
    var at = 0
    while (run < runs && at < n) {
      val end = eb.getInt(run * 4).toLong
      if (end <= prevEnd) throw new OliveFormatException(s"REE ends not increasing at $run")
      // rows [prevEnd, end) carry vals[run]; intersect with [e0, e1)
      val lo = math.max(prevEnd, e0)
      val hi = math.min(end, e1)
      var r = lo
      while (r < hi) {
        System.arraycopy(vals, run * es, out, at * es, es)
        at += 1
        r += 1
      }
      prevEnd = end
      run += 1
    }
    if (at != n)
      throw new OliveFormatException(s"REE runs cover ${prevEnd} rows, need ${e1}")
    out
  }

  /** Expand per-column primitive-dictionary (entries, narrow indices)
    * into plain bytes for `n` rows starting at the given index bytes. */
  private def expandPrimDict(numEntries: Int, idxW: Byte, entries: Array[Byte],
      idxBytes: Array[Byte], dt: DataType, n: Int): Array[Byte] = {
    val es = fixedElemSize(dt, "prim dict")
    if (numEntries <= 0 || entries.length != numEntries.toLong * es)
      throw new OliveFormatException(
        s"prim dict entries ${entries.length} != $numEntries * $es")
    if (idxBytes.length < n.toLong * idxW)
      throw new OliveFormatException(s"prim dict indices ${idxBytes.length} < ${n.toLong * idxW}")
    val bb = Bytes.le(idxBytes)
    val out = new Array[Byte](n * es)
    var i = 0
    while (i < n) {
      val id = idxW match {
        case 1 => bb.get(i) & 0xff
        case 2 => bb.getShort(i * 2) & 0xffff
        case 4 => bb.getInt(i * 4)
        case w => throw new OliveFormatException(s"bad prim dict index width $w")
      }
      if (id < 0 || id >= numEntries)
        throw new OliveFormatException(s"prim dict index $id out of $numEntries")
      System.arraycopy(entries, id * es, out, i * es, es)
      i += 1
    }
    out
  }

  /** Value width of an integral-only encoding (FOR, bit-pack, delta). */
  private def integralElemSize(dt: DataType, what: String): Int = dt match {
    case IntegerType | DateType | _: YearMonthIntervalType => 4
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType => 8
    case d: DecimalType if d.precision <= 18 => 8 // unscaled i64
    case other => throw new OliveFormatException(s"$what on non-integral $other")
  }

  /** Page-resuming delta expansion [e0, e1): restart the prefix sum at
    * the last page whose end is at-or-before e0 ([[Meta.DeltaMeta]]
    * `pageBases`, footer v5) so a mid-range read decompresses only the
    * pages overlapping [that base, e1) — sorted long keys, the natural
    * delta targets, keep page-granular selective reads like every other
    * encoding. Files without bases replay [0, e1) (still never pages
    * past e1). */
  private def expandDeltaFrom(m: DeltaMeta, dt: DataType, e0: Long, e1: Long): Array[Byte] = {
    var start = 0L
    var base = 0L
    if (m.pageBases.size == m.deltas.pages.size) {
      var pi = 0
      // hostile footers: rowEnd must strictly advance for the resume to
      // be meaningful; a non-monotonic page list degrades to start=0
      while (pi < m.pageBases.size && m.deltas.pages(pi).rowEnd <= e0 &&
          m.deltas.pages(pi).rowEnd > start) {
        start = m.deltas.pages(pi).rowEnd.toLong
        base = m.pageBases(pi)
        pi += 1
      }
    }
    if (start <= 0L)
      return expandDelta(m.first, m.width, readElems(m.deltas, 0, e1, m.width), dt, e0, e1)
    val es = integralElemSize(dt, "delta encoding")
    val bytes = readElems(m.deltas, start, e1, m.width)
    val bb = Bytes.le(bytes)
    val out = new Array[Byte]((e1 - e0).toInt * es)
    val ob = Bytes.le(out)
    var v = base // value of element (start - 1)
    var i = start
    while (i < e1) {
      val at = (i - start).toInt
      val z = m.width match {
        case 1 => bb.get(at) & 0xffL
        case 2 => bb.getShort(at * 2) & 0xffffL
        case 4 => bb.getInt(at * 4) & 0xffffffffL
        case w => throw new OliveFormatException(s"bad delta width $w")
      }
      v += (z >>> 1) ^ -(z & 1) // un-zigzag; i >= 1 here, so always applied
      if (i >= e0) {
        val o = (i - e0).toInt
        if (es == 4) ob.putInt(o * 4, v.toInt) else ob.putLong(o * 8, v)
      }
      i += 1
    }
    out
  }

  /** Cumulative-sum expansion of zigzag deltas: emit elements [e0, e1).
    * Needs the delta stream from the start (prefix sums); callers bound
    * the load to [0, e1) pages. */
  private def expandDelta(first: Long, width: Byte, deltaBytes: Array[Byte],
      dt: DataType, e0: Long, e1: Long): Array[Byte] = {
    val es = integralElemSize(dt, "delta encoding")
    if (deltaBytes.length < e1 * width)
      throw new OliveFormatException(s"delta buffer ${deltaBytes.length} < ${e1 * width}")
    val bb = Bytes.le(deltaBytes)
    val n = (e1 - e0).toInt
    val out = new Array[Byte](n * es)
    val ob = Bytes.le(out)
    var v = first
    var i = 0L
    while (i < e1) {
      val z = width match {
        case 1 => (bb.get(i.toInt) & 0xffL)
        case 2 => (bb.getShort(i.toInt * 2) & 0xffffL)
        case 4 => (bb.getInt(i.toInt * 4) & 0xffffffffL)
        case w => throw new OliveFormatException(s"bad delta width $w")
      }
      val d = (z >>> 1) ^ -(z & 1) // un-zigzag
      if (i == 0L) v = first else v += d
      if (i >= e0) {
        val at = (i - e0).toInt
        if (es == 4) ob.putInt(at * 4, v.toInt) else ob.putLong(at * 8, v)
      }
      i += 1
    }
    out
  }

  /** Expand FOR (frame-of-reference) narrow unsigned deltas into
    * `elemSize`-wide little-endian values: out[i] = base + narrow[i]. */
  private def expandFor(base: Long, width: Byte, narrow: Array[Byte],
      n: Int, elemSize: Int): Array[Byte] = {
    if (narrow.length < n.toLong * width)
      throw new OliveFormatException(s"FOR buffer ${narrow.length} < ${n.toLong * width}")
    val nb = Bytes.le(narrow)
    val wide = new Array[Byte](n * elemSize)
    val wb = Bytes.le(wide)
    var i = 0
    while (i < n) {
      val d = width match {
        case 1 => nb.get(i) & 0xffL
        case 2 => nb.getShort(i * 2) & 0xffffL
        case 4 => nb.getInt(i * 4) & 0xffffffffL
        case w => throw new OliveFormatException(s"bad FOR width $w")
      }
      val v = base + d
      if (elemSize == 4) wb.putInt(i * 4, v.toInt) else wb.putLong(i * 8, v)
      i += 1
    }
    wide
  }

  /** Unpack `bits`-wide unsigned deltas [e0, e1) of an LSB-first
    * bitstream (the writer guarantees 8 pad bytes at stream end, so every
    * element loads as one whole word) into `elemSize`-wide LE values:
    * out[i] = base + delta[e0+i]. */
  private def expandBitPack(base: Long, bits: Byte, bm: BufferMeta,
      e0: Long, e1: Long, elemSize: Int): Array[Byte] = {
    val n = (e1 - e0).toInt
    if (bits < 1 || bits > 56)
      throw new OliveFormatException(s"bad bit-pack width $bits")
    val needEnd = (e1 * bits + 7) / 8 + 8
    if (needEnd > bm.rawSize)
      throw new OliveFormatException(s"bit-pack buffer ${bm.rawSize} < $needEnd")
    val b0 = (e0 * bits) >> 3
    val (bytes, start) = readBufferRange(bm, b0, needEnd)
    val bb = Bytes.le(bytes)
    val mask = (1L << bits) - 1
    val wide = new Array[Byte](n * elemSize)
    val wb = Bytes.le(wide)
    var i = 0
    while (i < n) {
      val bitPos = (e0 + i) * bits - start * 8
      val word = bb.getLong((bitPos >> 3).toInt)
      val v = base + ((word >>> (bitPos & 7).toInt) & mask)
      if (elemSize == 4) wb.putInt(i * 4, v.toInt) else wb.putLong(i * 8, v)
      i += 1
    }
    wide
  }

  /** Scaled i64 stream [e0, e1) of a [[ScaledMeta]] column's inner
    * encoding, as little-endian 8-byte values (see [[expandRee]] etc. —
    * the same expansions FOR/delta/dict/REE use, re-aimed at a byte
    * stream instead of a vector). */
  private def scaledLongs(inner: ColMeta, e0: Long, e1: Long): Array[Byte] = {
    val n = (e1 - e0).toInt
    inner match {
      case PrimitiveMeta(None, values) => readElems(values, e0, e1, 8)
      case ForMeta(None, base, width, values) =>
        expandFor(base, width, readElems(values, e0, e1, width), n, 8)
      case BitPackMeta(None, base, bits, values) =>
        expandBitPack(base, bits, values, e0, e1, 8)
      case ReeMeta(None, ends, vals) => expandRee(ends, vals, LongType, e0, e1)
      case PrimDictMeta(None, numEntries, idxW, entriesBuf, idxBuf) =>
        expandPrimDict(numEntries, idxW, readBuffer(entriesBuf),
          readElems(idxBuf, e0, e1, idxW), LongType, n)
      case dm @ DeltaMeta(None, _, _, _, _) =>
        expandDeltaFrom(dm, LongType, e0, e1)
      case _ => throw new OliveFormatException("bad scaled inner encoding")
    }
  }

  /** [[fillScaled]] fused with [[expandBitPack]] over elements [e0, e1):
    * same checks, same arithmetic (unpack then the exact long → double
    * divide), one loop, no intermediate 8n-byte buffer. */
  private def fillScaledBitPack(vec: WritableColumnVector, exponent: Byte, base: Long,
      bits: Byte, bm: BufferMeta, e0: Long, e1: Long, toFloat: Boolean): Unit = {
    if (exponent < 0 || exponent > 18)
      throw new OliveFormatException(s"bad scale exponent $exponent")
    if (bits < 1 || bits > 56)
      throw new OliveFormatException(s"bad bit-pack width $bits")
    val n = (e1 - e0).toInt
    val needEnd = (e1 * bits + 7) / 8 + 8
    if (needEnd > bm.rawSize)
      throw new OliveFormatException(s"bit-pack buffer ${bm.rawSize} < $needEnd")
    val (bytes, start) = readBufferRange(bm, (e0 * bits) >> 3, needEnd)
    val bb = Bytes.le(bytes)
    val mask = (1L << bits) - 1
    val pow = Pow10(exponent.toInt)
    var i = 0
    if (toFloat) {
      while (i < n) {
        val bitPos = (e0 + i) * bits - start * 8
        val word = bb.getLong((bitPos >> 3).toInt)
        vec.putFloat(i,
          ((base + ((word >>> (bitPos & 7).toInt) & mask)).toDouble / pow).toFloat)
        i += 1
      }
    } else {
      while (i < n) {
        val bitPos = (e0 + i) * bits - start * 8
        val word = bb.getLong((bitPos >> 3).toInt)
        vec.putDouble(i,
          (base + ((word >>> (bitPos & 7).toInt) & mask)).toDouble / pow)
        i += 1
      }
    }
  }

  /** Fill a float/double vector from a [[ScaledMeta]] column: the exact
    * inverse of the writer's verification arithmetic (long → double
    * divide [→ float]), so round-trips are bit-exact. */
  private def fillScaled(vec: WritableColumnVector, dt: DataType, exponent: Byte,
      bytes: Array[Byte], n: Int): Unit = {
    if (bytes.length < n.toLong * 8)
      throw new OliveFormatException(s"scaled buffer ${bytes.length} < ${n.toLong * 8}")
    if (exponent < 0 || exponent > 18)
      throw new OliveFormatException(s"bad scale exponent $exponent")
    val pow = Pow10(exponent.toInt) // literal table, never math.pow (1-ulp drift)
    val bb = Bytes.le(bytes)
    var i = 0
    dt match {
      case DoubleType =>
        while (i < n) { vec.putDouble(i, bb.getLong(i * 8).toDouble / pow); i += 1 }
      case FloatType =>
        while (i < n) { vec.putFloat(i, (bb.getLong(i * 8).toDouble / pow).toFloat); i += 1 }
      case other => throw new OliveFormatException(s"scaled encoding on non-float $other")
    }
  }

  /** Write one u64 raw-bits value as Decimal(20,0) — shared by the
    * narrow and packed unsigned decode paths. */
  private def putU64Decimal(vec: WritableColumnVector, i: Int, raw: Long): Unit = {
    val dec = org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal(new java.math.BigInteger(
        java.lang.Long.toUnsignedString(raw))), 20, 0)
    vec.putDecimal(i, dec, 20)
  }

  /** Fill an unsigned-widened vector from the PACKED representation's
    * i64 stream (see [[Meta.UnsignedPackedMeta]]): each 8-byte value is
    * the numeric u8..u64 value (u64 = raw bits). Values outside the
    * logical domain prove a lying footer (the writer range-checks every
    * value) and fail like any other adversarial input — the documented
    * "a graft file can never hold an out-of-range u8" invariant. */
  private def fillUnsignedWide(vec: WritableColumnVector, logical: Byte,
      bytes: Array[Byte], n: Int): Unit = {
    if (bytes.length < n.toLong * 8)
      throw new OliveFormatException(s"packed unsigned buffer ${bytes.length} < ${n.toLong * 8}")
    val bb = Bytes.le(bytes)
    def domain(v: Long, max: Long): Long =
      if (v < 0 || v > max) throw new OliveFormatException(
        s"value $v outside ${Logical.name(logical)} domain") else v
    var i = 0
    logical match {
      case Logical.U8 =>
        while (i < n) { vec.putShort(i, domain(bb.getLong(i * 8), 0xffL).toShort); i += 1 }
      case Logical.U16 =>
        while (i < n) { vec.putInt(i, domain(bb.getLong(i * 8), 0xffffL).toInt); i += 1 }
      case Logical.U32 =>
        while (i < n) { vec.putLong(i, domain(bb.getLong(i * 8), 0xffffffffL)); i += 1 }
      case Logical.U64 =>
        while (i < n) {
          if (!vec.isNullAt(i)) putU64Decimal(vec, i, bb.getLong(i * 8))
          i += 1
        }
      case other => throw new OliveFormatException(s"bad packed unsigned code $other")
    }
  }

  /** Unsigned `w`-byte dictionary index at position i. */
  private def dictIdxAt(bb: java.nio.ByteBuffer, i: Int, w: Int): Int = w match {
    case 1 => bb.get(i) & 0xff
    case 2 => bb.getShort(i * 2) & 0xffff
    case 4 => bb.getInt(i * 4)
    case _ => throw new OliveFormatException(s"bad dict index width $w")
  }

  /** Value width of a fixed-width encoding ([[fillPrimitive]]'s layouts). */
  private def fixedElemSize(dt: DataType, what: String): Int = dt match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType | DateType | FloatType | _: YearMonthIntervalType => 4
    case LongType | TimestampType | TimestampNTZType | DoubleType | _: DayTimeIntervalType => 8
    case d: DecimalType => if (d.precision <= 18) 8 else 16
    case CalendarIntervalType => 16
    case other => throw new OliveFormatException(s"$what on unsupported type $other")
  }

  /** Exact bytes for elements [e0, e1) of `es`-byte values. */
  private def readElems(bm: BufferMeta, e0: Long, e1: Long, es: Int): Array[Byte] = {
    val b0 = e0 * es
    val b1 = e1 * es
    val (bytes, start) = readBufferRange(bm, b0, b1)
    if (start > b0 || start + bytes.length < b1)
      throw new OliveFormatException(s"range read [$b0,$b1) got [$start,${start + bytes.length})")
    if (start == b0 && bytes.length == (b1 - b0)) bytes
    else java.util.Arrays.copyOfRange(bytes, (b0 - start).toInt, (b1 - start).toInt)
  }

  /** Offsets entries e0..e1 INCLUSIVE, monotonicity-checked, entry 0
    * (when read) rebased to 0. `total` is the column's full row count —
    * it disambiguates the i32/i64 entry width ([[offsetsWidth]]). */
  private def readOffsetsRange(bm: BufferMeta, e0: Long, e1: Long, maxEnd: Long,
      total: Long): Array[Int] = {
    val w = offsetsWidth(bm.rawSize, total)
    if ((e1 + 1) * w > bm.rawSize)
      throw new OliveFormatException(s"offsets range $e1 outside buffer ${bm.rawSize}")
    val bytes = readElems(bm, e0, e1 + 1, w)
    val bb = Bytes.le(bytes)
    val out = new Array[Int]((e1 - e0 + 1).toInt)
    var i = 0
    var prev = if (e0 == 0) 0L else Long.MinValue
    while (i < out.length) {
      val o = if (w == 4) bb.getInt(i * 4).toLong else bb.getLong(i * 8)
      if (o < prev || o < 0) throw new OliveFormatException(s"offsets not monotonic at ${e0 + i}")
      if (o > Int.MaxValue) throw new OliveFormatException(
        s"offset $o exceeds the JVM 2 GiB buffer cap")
      out(i) = o.toInt
      prev = o
      i += 1
    }
    if (e0 == 0 && out(0) != 0) throw new OliveFormatException("offsets not rebased to 0")
    if (out(out.length - 1) > maxEnd)
      throw new OliveFormatException(s"offsets end ${out(out.length - 1)} > data $maxEnd")
    out
  }

  /** One offsets entry (the `idx`-th of `total`+1), width-inferred. */
  private def offsetEntryAt(bm: BufferMeta, idx: Long, total: Long): Long = {
    val w = offsetsWidth(bm.rawSize, total)
    val bb = Bytes.le(readElems(bm, idx, idx + 1, w))
    if (w == 4) bb.getInt(0).toLong else bb.getLong(0)
  }

  private def applyValidityRange(vec: WritableColumnVector, v: Option[BufferMeta],
      e0: Long, e1: Long): Unit =
    v.foreach { bm =>
      val b0 = e0 >> 3
      val b1 = (e1 + 7) >> 3
      if (bm.rawSize < b1)
        throw new OliveFormatException(s"validity bitmap too short: ${bm.rawSize} for $e1 rows")
      val (bits, start) = readBufferRange(bm, b0, b1)
      var i = 0L
      val n = e1 - e0
      while (i < n) {
        val bit = e0 + i
        val idx = (bit >> 3) - start
        if ((bits(idx.toInt) & (1 << (bit & 7).toInt)) == 0) vec.putNull(i.toInt)
        i += 1
      }
    }

  /** Offsets entries e0..e1 of a list/map column with `total` rows, and
    * its full child count: the last entry. That count sizes child
    * allocations, so it is bounded by the children's own buffer evidence
    * `childEv` (-1 = none) and by [[MaxElems]]. A range that ends at the
    * last row takes it from the entries just read, so a whole-chunk decode
    * reads each offsets page once. */
  private def readNestedOffsets(bm: BufferMeta, e0: Long, e1: Long, total: Long,
      childEv: Long, what: String): (Array[Int], Long) = {
    val bound = if (childEv >= 0) math.min(childEv, MaxElems) else MaxElems
    if (e1 == total) {
      val offs = readOffsetsRange(bm, e0, e1, bound, total)
      (offs, offs(offs.length - 1).toLong)
    } else {
      val last = offsetEntryAt(bm, total, total)
      if (last < 0 || last > bound)
        throw new OliveFormatException(s"$what total $last out of bounds")
      (readOffsetsRange(bm, e0, e1, last, total), last)
    }
  }

  /** Decode elements [e0, e1) of a column whose full element count is
    * `total`, into vec[0, e1-e0). `fileDt` is the type the FILE stores
    * (drives layout/width); `dt` is what the scan requests. They differ
    * only under nested schema pruning, where a requested struct holds a
    * SUBSET of the file struct's fields — matched by name below. */
  private def decodeColRange(vec: WritableColumnVector, meta: ColMeta, fileDt: DataType,
      dt: DataType, e0: Long, e1: Long, total: Long, chunk: ChunkMeta,
      dict20: () => Array[Byte], dict32: () => Array[Byte]): Unit = {
    checkCount(meta, fileDt, total, s"column of $fileDt") // before any allocation
    val n = (e1 - e0).toInt
    vec.reserve(math.max(n, 1))
    applyValidityRange(vec, meta.validity, e0, e1)
    (meta, dt) match {
      case (PrimitiveMeta(_, values), BooleanType) =>
        val (bits, start) = readBufferRange(values, e0 >> 3, (e1 + 7) >> 3)
        var i = 0
        while (i < n) {
          val bit = e0 + i
          val idx = ((bit >> 3) - start).toInt
          vec.putBoolean(i, (bits(idx) & (1 << (bit & 7).toInt)) != 0)
          i += 1
        }
      case (PrimitiveMeta(_, values), BinaryType) =>
        // fixed-size binary: the width is only derivable from the FULL
        // element count (an empty column, total 0, has none to derive)
        if (total > 0 && values.rawSize % total != 0)
          throw new OliveFormatException(s"fixed binary buffer ${values.rawSize} % $total != 0")
        val w = if (total > 0) (values.rawSize / total).toInt else 0
        val bytes = readElems(values, e0, e1, w)
        var i = 0
        while (i < n) { vec.putByteArray(i, bytes, i * w, w); i += 1 }
      case (PrimitiveMeta(_, values), _) =>
        fillPrimitive(vec, readElems(values, e0, e1, fixedElemSize(dt, "primitive meta")), dt, n)
      case (ForMeta(_, base, width, values), _) =>
        // expand unsigned narrow deltas back to the logical width, then
        // take the same bulk little-endian fill path as plain primitives
        fillPrimitive(vec, expandFor(base, width, readElems(values, e0, e1, width), n,
          integralElemSize(dt, "FOR encoding")), dt, n)
      case (BitPackMeta(_, base, bits, values), _) =>
        fillPrimitive(vec, expandBitPack(base, bits, values, e0, e1,
          integralElemSize(dt, "bit-pack encoding")), dt, n)
      case (ReeMeta(_, endsBuf, valsBuf), _) =>
        fillPrimitive(vec, expandRee(endsBuf, valsBuf, dt, e0, e1), dt, n)
      case (PrimDictMeta(_, numEntries, idxW, entriesBuf, idxBuf), _) =>
        // entries are chunk-shared (load whole); indices range-read
        fillPrimitive(vec,
          expandPrimDict(numEntries, idxW, readBuffer(entriesBuf),
            readElems(idxBuf, e0, e1, idxW), dt, n),
          dt, n)
      case (dm: DeltaMeta, _) =>
        // prefix sums resume at the nearest page base (footer v5)
        fillPrimitive(vec, expandDeltaFrom(dm, dt, e0, e1), dt, n)
      case (ScaledMeta(_, exponent, BitPackMeta(None, base, bits, values)), DoubleType) =>
        // fused fast path: ALP-scaled decimals over bit-packed ints are
        // the hottest decode in a lineitem scan (stack-sampled); unpack
        // and divide in ONE loop
        fillScaledBitPack(vec, exponent, base, bits, values, e0, e1, toFloat = false)
      case (ScaledMeta(_, exponent, BitPackMeta(None, base, bits, values)), FloatType) =>
        fillScaledBitPack(vec, exponent, base, bits, values, e0, e1, toFloat = true)
      case (ScaledMeta(_, exponent, inner), _) =>
        fillScaled(vec, dt, exponent, scaledLongs(inner, e0, e1), n)
      case (UnsignedPackedMeta(_, logical, inner), _) =>
        if (dt != Logical.sparkType(logical))
          throw new OliveFormatException(
            s"${Logical.name(logical)} column requires ${Logical.sparkType(logical)}, scan asked $dt")
        fillUnsignedWide(vec, logical, scaledLongs(inner, e0, e1), n)
      case (UnsignedMeta(_, logical, values), _) =>
        // narrow unsigned/half storage → widened Spark type (Logical)
        if (dt != Logical.sparkType(logical))
          throw new OliveFormatException(
            s"${Logical.name(logical)} column requires ${Logical.sparkType(logical)}, scan asked $dt")
        val bb = Bytes.le(readElems(values, e0, e1, Logical.elemSize(logical)))
        var i = 0
        logical match {
          case Logical.U8 =>
            while (i < n) { vec.putShort(i, (bb.get(i) & 0xff).toShort); i += 1 }
          case Logical.U16 =>
            while (i < n) { vec.putInt(i, bb.getShort(i * 2) & 0xffff); i += 1 }
          case Logical.U32 =>
            while (i < n) { vec.putLong(i, bb.getInt(i * 4) & 0xffffffffL); i += 1 }
          case Logical.U64 =>
            while (i < n) {
              if (!vec.isNullAt(i)) putU64Decimal(vec, i, bb.getLong(i * 8))
              i += 1
            }
          case Logical.F16 =>
            while (i < n) { vec.putFloat(i, Half.toFloat(bb.getShort(i * 2))); i += 1 }
          case other => throw new OliveFormatException(s"bad logical code $other")
        }
      case (DictIdxMeta(_, w, idxBuf), BinaryType) =>
        val dictMeta = if (w == 20) chunk.dict20 else chunk.dict32
        val dict = if (w == 20) dict20() else dict32()
        if (idxBuf.rawSize != total * 4)
          throw new OliveFormatException(s"dict index buffer ${idxBuf.rawSize} != ${total * 4}")
        val bb = Bytes.le(readElems(idxBuf, e0, e1, 4))
        // dictionary-backed decode: the child data is the dict itself
        // (ONE copy of the dict per chunk), each row just records
        // (idx*w, w) — no per-row value copying, 4x+ cheaper than
        // expanding 20/32-byte values per row.
        val child = vec.arrayData()
        child.reserve(dict.length)
        child.putBytes(0, dict.length, dict, 0)
        var i = 0
        while (i < n) {
          if (!vec.isNullAt(i)) {
            val idx = bb.getInt(i * 4)
            // unsigned bounds check, like the reference (`src/read.zig:756-788`)
            if (idx < 0 || idx >= dictMeta.numEntries)
              throw new OliveFormatException(s"dict index $idx out of ${dictMeta.numEntries}")
            vec.putArray(i, idx * w, w)
          } else vec.putArray(i, 0, 0)
          i += 1
        }
      case (BinDictMeta(_, numEntries, idxW, dOffBuf, dDataBuf, idxBuf), StringType | BinaryType) =>
        // the dictionary is chunk-shared: load it whole; only the row
        // indices are range-read
        val dictData = readBuffer(dDataBuf)
        val dictOffs = readOffsetsRange(dOffBuf, 0, numEntries, dictData.length, numEntries)
        if (idxBuf.rawSize != total * idxW)
          throw new OliveFormatException(s"dict index buffer ${idxBuf.rawSize} != ${total * idxW}")
        val bb = Bytes.le(readElems(idxBuf, e0, e1, idxW))
        // dictionary-backed: child data is the dict, rows are (offset, len)
        val child = vec.arrayData()
        child.reserve(dictData.length)
        child.putBytes(0, dictData.length, dictData, 0)
        var i = 0
        while (i < n) {
          if (!vec.isNullAt(i)) {
            val idx = dictIdxAt(bb, i, idxW)
            if (idx < 0 || idx >= numEntries)
              throw new OliveFormatException(s"string dict index $idx out of $numEntries")
            vec.putArray(i, dictOffs(idx), dictOffs(idx + 1) - dictOffs(idx))
          } else vec.putArray(i, 0, 0)
          i += 1
        }
      case (BinaryMeta(_, offBuf, dataBuf), StringType | BinaryType) =>
        val offs = readOffsetsRange(offBuf, e0, e1, dataBuf.rawSize, total)
        val d0 = offs(0).toLong
        val d1 = offs(n).toLong
        val (data, dStart) = readBufferRange(dataBuf, d0, d1)
        if (dStart > d0)
          throw new OliveFormatException("var-width data range short read")
        // bulk path: one memcpy of the covering pages into the child,
        // then per-row (offset, length) bookkeeping rebased to them
        val child = vec.arrayData()
        child.reserve(data.length)
        child.putBytes(0, data.length, data, 0)
        var i = 0
        while (i < n) {
          val s = (offs(i) - dStart).toInt
          if (!vec.isNullAt(i)) vec.putArray(i, s, offs(i + 1) - offs(i))
          else vec.putArray(i, s, 0)
          i += 1
        }
      case (ListMeta(_, offBuf, childMeta), ArrayType(et, _)) =>
        val fileEt = fileDt match {
          case ArrayType(fe, _) => fe
          case other => throw new OliveFormatException(s"file type $other for requested array")
        }
        // the exact child total lets evidence-free children (fixed binary
        // under structs) derive their widths
        val (offs, childTotal) = readNestedOffsets(offBuf, e0, e1, total,
          impliedCount(childMeta, fileEt), "list child")
        decodeColRange(vec.getChild(0), childMeta, fileEt, et, offs(0), offs(n), childTotal,
          chunk, dict20, dict32)
        var i = 0
        while (i < n) { vec.putArray(i, offs(i) - offs(0), offs(i + 1) - offs(i)); i += 1 }
      case (StructMeta(_, children), st: StructType) =>
        val fileSt = fileDt match {
          case fs: StructType => fs
          case other => throw new OliveFormatException(s"file type $other for requested struct")
        }
        if (children.size != fileSt.size)
          throw new OliveFormatException("struct children mismatch")
        // nested schema pruning requests a SUBSET of the file's fields;
        // nested DDL resolves through rename chains and widens leaves,
        // same contract as top-level decodeTableRange
        var c = 0
        while (c < st.size) {
          val f = st.fields(c)
          val idx = Evolution.fileFieldIndex(fileSt, f)
          if (idx >= 0) {
            val fdt = fileSt.fields(idx).dataType
            if (fdt != f.dataType && Evolution.widens(fdt, f.dataType)) {
              val tmp = new OnHeapColumnVector(math.max(n, 1), fdt)
              try {
                decodeColRange(tmp, children(idx), fdt, fdt, e0, e1, total,
                  chunk, dict20, dict32)
                widenCopy(tmp, vec.getChild(c), fdt, f.dataType, n)
              } finally tmp.close()
            } else decodeColRange(vec.getChild(c), children(idx), fdt,
              f.dataType, e0, e1, total, chunk, dict20, dict32)
          } else if (f.nullable) {
            vec.getChild(c).reserve(math.max(n, 1))
            vec.getChild(c).putNulls(0, n)
          } else throw new OliveFormatException(
            s"non-nullable struct field ${f.name} missing from file")
          c += 1
        }
      case (MapMeta(_, offBuf, keyMeta, valMeta), MapType(kt, vt, _)) =>
        val (fileKt, fileVt) = fileDt match {
          case MapType(fk, fv, _) => (fk, fv)
          case other => throw new OliveFormatException(s"file type $other for requested map")
        }
        val ev = Seq(impliedCount(keyMeta, fileKt), impliedCount(valMeta, fileVt))
          .filter(_ >= 0).minOption.getOrElse(-1L)
        val (offs, entryTotal) = readNestedOffsets(offBuf, e0, e1, total, ev, "map entry")
        decodeColRange(vec.getChild(0), keyMeta, fileKt, kt, offs(0), offs(n), entryTotal,
          chunk, dict20, dict32)
        decodeColRange(vec.getChild(1), valMeta, fileVt, vt, offs(0), offs(n), entryTotal,
          chunk, dict20, dict32)
        var i = 0
        while (i < n) { vec.putArray(i, offs(i) - offs(0), offs(i + 1) - offs(i)); i += 1 }
      case (m, t) =>
        throw new OliveFormatException(s"column meta ${m.getClass.getSimpleName} does not match type $t")
    }
  }
}

object GraftFileReader {
  /** Footer-open counter, for specs asserting I/O-free planning paths
    * (e.g. manifest-stats DML classification opens no carried file). */
  val opens = new java.util.concurrent.atomic.AtomicLong

  // Process-wide PARSED-footer cache. Every chunk-split task of a file
  // re-opened it and re-parsed the whole footer — a 3750-chunk file
  // under chunk-granular scan paid chunks x chunk-metas parses
  // (measured super-linear in the r16 sf1 run: q98's 4000-row-chunk
  // fixture spent most of its scan wall in Meta.read). Keyed by
  // (path, length, mtime): data files are immutable by format contract
  // (every writer lands under a fresh name; rewrites publish NEW
  // generations), so a hit is identity, and an in-place tamper (specs
  // do this) changes mtime. `Footer` is an immutable case class —
  // sharing across readers is safe. LRU bounded by total chunk metas.
  private val MaxCachedChunks = 1L << 20
  private val footerCache = new java.util.LinkedHashMap[String, Footer](32, 0.75f, true)
  private var cachedChunks = 0L

  def open(fs: FileSystem, path: Path): GraftFileReader = {
    opens.incrementAndGet()
    val st = fs.getFileStatus(path)
    val len = st.getLen
    if (len < MagicHead.length + 12)
      throw new OliveFormatException(s"file too small: $len bytes")
    val key = s"${path.toUri.getPath}@$len:${st.getModificationTime}"
    val hit = footerCache.synchronized(footerCache.get(key))
    val in = fs.open(path)
    if (hit != null) return new GraftFileReader(in, len, hit)
    try {
      val head = new Array[Byte](MagicHead.length)
      in.readFully(0, head)
      if (!java.util.Arrays.equals(head, MagicHead))
        throw new OliveFormatException("bad head magic")
      val tail = new Array[Byte](12)
      in.readFully(len - 12, tail)
      val bb = Bytes.le(tail)
      val footerLen = bb.getLong(0)
      if (!java.util.Arrays.equals(java.util.Arrays.copyOfRange(tail, 8, 12), MagicTail))
        throw new OliveFormatException("bad tail magic")
      if (footerLen < 0 || footerLen > len - MagicHead.length - 12)
        throw new OliveFormatException(s"bad footer length $footerLen")
      val footerBytes = new Array[Byte](footerLen.toInt)
      in.readFully(len - 12 - footerLen, footerBytes)
      val footer = Meta.read(footerBytes)
      if (MagicHead.length + footer.dataSectionSize != len - 12 - footerLen)
        throw new OliveFormatException("data section size mismatch")
      footerCache.synchronized {
        if (!footerCache.containsKey(key)) {
          footerCache.put(key, footer)
          cachedChunks += footer.chunks.size
          val it = footerCache.entrySet().iterator()
          while (cachedChunks > MaxCachedChunks && it.hasNext) {
            val e = it.next()
            if (e.getKey != key) { cachedChunks -= e.getValue.chunks.size; it.remove() }
          }
        }
      }
      new GraftFileReader(in, len, footer)
    } catch {
      case e: Throwable => in.close(); throw e
    }
  }
}
