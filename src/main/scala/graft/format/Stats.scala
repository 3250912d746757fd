package graft.format

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-chunk column statistics for scan pruning.
  *
  * An extension over the reference (which stores only per-page
  * `row_index_ends` and no value stats — SURVEY.md §4.1 "page-skipping
  * index"): min/max per top-level column per chunk lets the reader skip
  * whole chunks against pushed filters, the 100 TB lever where most data
  * never leaves disk.
  *
  * Encodings: integral/date/timestamp → i64 LE; float/double → f64 LE;
  * string → raw UTF-8 bytes (unsigned-lexicographic order, same as
  * Spark's UTF8String binary comparison). Strings longer than 48 bytes
  * disable stats for the column's chunk (no truncation tricks — a
  * truncated max is not an upper bound).
  */
/** `sum` (8 bytes, added in footer v3) carries the column's chunk sum for
  * SUM pushdown: wrapped-mod-2^64 long bits for integral types (wrapping
  * is associative, so per-chunk partials combine to exactly the full
  * wrapped sum Spark's non-ANSI codegen computes), f64 bits for
  * float/double. None for all-null chunks and non-summable types. */
/** `nanCount` (footer v5) makes float/double min/max servable: min/max
  * cover the non-NaN values and nanCount says how many NaNs the range
  * omits — a NaN-free chunk (the overwhelming case for quality scores
  * and embedding norms) prunes and answers footer aggregates exactly;
  * NaN-bearing chunks serve min-side proofs only (Spark and the skip
  * logic both order NaN above every value). Always 0 for other types. */
case class ColStats(nullCount: Int, min: Option[Array[Byte]], max: Option[Array[Byte]],
    sum: Option[Array[Byte]] = None, nanCount: Int = 0) {
  def hasNulls: Boolean = nullCount > 0
  override def equals(o: Any): Boolean = o match {
    case ColStats(nc, mn, mx, sm, xn) =>
      nc == nullCount && xn == nanCount &&
        mn.map(_.toSeq) == min.map(_.toSeq) && mx.map(_.toSeq) == max.map(_.toSeq) &&
        sm.map(_.toSeq) == sum.map(_.toSeq)
    case _ => false
  }
}

object Stats {
  val MaxStringStat = 48

  /** Zone-map stat collection moved to [[ColumnEncoder.statsRange]]:
    * stats are computed columnar from the encoders' buffers at
    * chunk-encode time, not per appended row. This object keeps the stat
    * byte codecs and the skip logic both sides share. */

  /** Merge per-block [[ColStats]] into the chunk-level ColStats (min of
    * mins, max of maxes, sum of sums) so the encode path scans each row
    * range ONCE — block stats are computed, chunk stats derived.
    * `hasValues(i)` = block i holds ≥1 non-null value. A value-bearing
    * block with absent min/max was "broken" (NaN, over-long string, or a
    * statless type) and poisons the merged min/max; sums merge only when
    * every value-bearing block carries one. Double block sums add in
    * block order — DETERMINISTIC for a given chunking but a different FP
    * association than a flat per-value scan, so the stored sum may
    * differ from `statsRange(0, n)` in the last ulps on fractional data.
    * That is sound: SQL double SUM is association-free (Spark's own
    * result shifts with partitioning), and any fixed association is a
    * correct pushdown answer. Long sums wrap, associative — exact. */
  def mergeColStats(dt: DataType, parts: IndexedSeq[ColStats],
      hasValues: IndexedSeq[Boolean]): ColStats = {
    val nulls = parts.iterator.map(_.nullCount).sum
    val nans = parts.iterator.map(_.nanCount).sum
    val vals = parts.indices.filter(hasValues)
    if (vals.isEmpty) return ColStats(nulls, None, None)
    def lt(a: Array[Byte], b: Array[Byte]): Boolean = dt match {
      case FloatType | DoubleType => doubleOf(a) < doubleOf(b)
      case StringType => java.util.Arrays.compareUnsigned(a, b) < 0
      case d: DecimalType if d.precision > 18 =>
        // 16-byte big-endian two's-complement unscaled (sign-extended
        // fixed width, so BigInteger order is value order)
        new java.math.BigInteger(a).compareTo(new java.math.BigInteger(b)) < 0
      case _ => longOf(a) < longOf(b) // integral/bool/ts/decimal-unscaled
    }
    // min and max merge INDEPENDENTLY: a value-bearing block missing a
    // bound poisons that SIDE only — truncated string maxima can be
    // absent (all-0xff prefix) while the minima stand, and all-NaN
    // float blocks are accounted by nanCount and contribute no bounds
    def mergeSide(get: ColStats => Option[Array[Byte]], isMin: Boolean): Option[Array[Byte]] = {
      if (vals.exists(i => get(parts(i)).isEmpty && parts(i).nanCount == 0)) return None
      vals.flatMap(i => get(parts(i))).reduceOption((a, b) =>
        if (lt(a, b) == isMin) a else b)
    }
    val mn = mergeSide(_.min, isMin = true)
    val mx = mergeSide(_.max, isMin = false)
    val sums = vals.map(parts(_).sum)
    val sum =
      if (sums.exists(_.isEmpty)) None
      else dt match {
        case FloatType | DoubleType =>
          Some(doubleBytes(sums.iterator.map(s => doubleOf(s.get)).sum))
        case StringType | _: DecimalType => None
        case _ => Some(longBytes(sums.iterator.map(s => longOf(s.get)).foldLeft(0L)(_ + _)))
      }
    ColStats(nulls, mn, mx, sum, nans)
  }

  /** Is `b` a legal min/max stat payload for a `dt` column? The footer
    * is UNTRUSTED: a wrong-width stat would crash the skip compares
    * (BigInteger on empty bytes, an 8-byte read past a 3-byte array)
    * instead of failing the clean-refusal contract — so widths are
    * checked at PARSE time, against the schema the footer itself
    * declares. */
  def statBytesOk(dt: DataType, b: Array[Byte]): Boolean = dt match {
    case StringType => b.length <= MaxStringStat
    case d: DecimalType => b.length == (if (d.precision <= 18) 8 else 16)
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType | FloatType | DoubleType =>
      b.length == 8
    case _ => true // never numerically compared (no cmp branch exists)
  }

  def longBytes(v: Long): Array[Byte] = { val b = new Bytes(8); b.putLong(v); b.toArray }
  def doubleBytes(v: Double): Array[Byte] = { val b = new Bytes(8); b.putDouble(v); b.toArray }
  def longOf(b: Array[Byte]): Long = Bytes.le(b).getLong(0)
  def doubleOf(b: Array[Byte]): Double = java.lang.Double.longBitsToDouble(Bytes.le(b).getLong(0))

  // ---- chunk skipping -------------------------------------------------------

  /** Statically-typed view of one column's chunk range for comparisons. */
  private case class Range(dt: DataType, stats: ColStats) {
    def cmpMin(v: Any): Option[Int] = stats.min.flatMap(b => cmp(b, v))
    def cmpMax(v: Any): Option[Int] = stats.max.flatMap(b => cmp(b, v))
    /** compare stat bytes to the filter literal; None = incomparable. */
    private def cmp(stat: Array[Byte], v: Any): Option[Int] = (dt, v) match {
      case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
        // a fractional literal truncated to long would make the range
        // check lie (LessThan(id, 9.5) vs min=9); Catalyst's cast
        // unwrapping means this shouldn't reach us, but stay safe
        if (n.doubleValue() != n.longValue().toDouble) None
        else Some(java.lang.Long.compare(longOf(stat), n.longValue()))
      case (DateType, dd: java.sql.Date) =>
        Some(java.lang.Long.compare(longOf(stat),
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(dd).toLong))
      case (DateType, dd: java.time.LocalDate) =>
        Some(java.lang.Long.compare(longOf(stat), dd.toEpochDay))
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(java.lang.Long.compare(longOf(stat),
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
      case (TimestampType, t: java.time.Instant) =>
        Some(java.lang.Long.compare(longOf(stat),
          org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t)))
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        Some(java.lang.Long.compare(longOf(stat),
          org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t)))
      case (FloatType | DoubleType, n: Number) =>
        // primitive == before Double.compare — Spark's own ordering
        // (SQLOrderingUtil) treats -0.0 equal to 0.0, but Double.compare
        // orders them, so a chunk whose stats are [-0.0,-0.0] would
        // wrongly prove max < 0.0 and skip EqualTo(col, 0.0)
        val sv = doubleOf(stat); val lv = n.doubleValue()
        Some(if (sv == lv) 0 else java.lang.Double.compare(sv, lv))
      case (d: DecimalType, v) =>
        // stat bytes are the unscaled value at the column's declared
        // scale (i64 for p <= 18, 16-byte big-endian for wider); rescale
        // both sides through BigDecimal for an EXACT compare (a literal
        // with more fractional digits than the scale must still order
        // correctly, never round first)
        decimalLit(v).map { l =>
          val statDec =
            if (d.precision <= 18) java.math.BigDecimal.valueOf(longOf(stat), d.scale)
            else new java.math.BigDecimal(new java.math.BigInteger(stat), d.scale)
          statDec.compareTo(l)
        }
      case (StringType, s: String) =>
        Some(java.util.Arrays.compareUnsigned(stat, UTF8String.fromString(s).getBytes))
      // raw UTF-8 bytes of a string key (driver-side DML prune literals
      // travel as bytes so invalid UTF-8 never corrupts the compare)
      case (StringType, b: Array[Byte]) =>
        Some(java.util.Arrays.compareUnsigned(stat, b))
      case (BooleanType, bl: java.lang.Boolean) =>
        Some(java.lang.Long.compare(longOf(stat), if (bl) 1L else 0L))
      case _ => None
    }
  }

  /** Filter literal -> exact BigDecimal, or None for incomparable shapes.
    * Integral literals convert via longValue — a double round-trip would
    * round above 2^53 and could prove a WRONG skip. */
  private def decimalLit(v: Any): Option[java.math.BigDecimal] = v match {
    case bd: java.math.BigDecimal => Some(bd)
    case bd: scala.math.BigDecimal => Some(bd.bigDecimal)
    case sd: org.apache.spark.sql.types.Decimal => Some(sd.toJavaBigDecimal)
    case n @ (_: java.lang.Long | _: java.lang.Integer |
              _: java.lang.Short | _: java.lang.Byte) =>
      Some(java.math.BigDecimal.valueOf(n.asInstanceOf[Number].longValue()))
    case bi: java.math.BigInteger => Some(new java.math.BigDecimal(bi))
    case n: Number if !n.doubleValue().isNaN && !n.doubleValue().isInfinite =>
      Some(new java.math.BigDecimal(n.doubleValue())) // exact binary expansion
    case _ => None
  }

  /** True iff `filter` proves the chunk can contain NO matching row.
    * Conservative: anything not understood returns false (keep chunk). */
  def canSkip(filter: Filter, schema: StructType, stats: Map[String, ColStats],
      numRows: Int = -1): Boolean = {
    def range(attr: String): Option[Range] =
      stats.get(attr).flatMap(s => leafType(schema, attr).map { dt =>
        // a NaN-bearing float/double chunk has no usable UPPER bound:
        // Spark orders NaN above every value, so the stored (non-NaN)
        // max must not prove "max < v" skips. Substituting max = NaN
        // keeps the min-side proofs (NaN is never the smallest) and
        // makes EqualTo(col, NaN) keep the chunk, all through the
        // ordinary compare (Double.compare puts NaN last).
        val st = dt match {
          case FloatType | DoubleType if s.nanCount > 0 =>
            s.copy(max = Some(doubleBytes(Double.NaN)))
          case _ => s
        }
        Range(dt, st)
      })
    // an ALL-null column satisfies no comparison (null op x is null,
    // which a filter treats as false) — skips chunks whose column is
    // entirely null even though they record no min/max, including files
    // that predate an ADD COLUMN (their synthesized stats are all-null)
    def allNull(attr: String): Boolean =
      numRows >= 0 && stats.get(attr).exists(_.nullCount == numRows)
    filter match {
      case EqualTo(a, v) => allNull(a) || range(a).exists(r =>
        r.cmpMin(v).exists(_ > 0) || r.cmpMax(v).exists(_ < 0))
      case GreaterThan(a, v) => allNull(a) || range(a).exists(_.cmpMax(v).exists(_ <= 0))
      case GreaterThanOrEqual(a, v) => allNull(a) || range(a).exists(_.cmpMax(v).exists(_ < 0))
      case LessThan(a, v) => allNull(a) || range(a).exists(_.cmpMin(v).exists(_ >= 0))
      case LessThanOrEqual(a, v) => allNull(a) || range(a).exists(_.cmpMin(v).exists(_ > 0))
      // an EMPTY In-list matches nothing, for every chunk — without this
      // an empty CDC batch's In(key, []) can never prove a skip and a
      // no-op fold degrades to a full-table rewrite
      case In(_, vs) if vs != null && vs.isEmpty => true
      case In(a, vs) if vs != null && vs.nonEmpty =>
        allNull(a) || range(a).exists(r => vs.forall(v =>
          r.cmpMin(v).exists(_ > 0) || r.cmpMax(v).exists(_ < 0)))
      case IsNull(a) => stats.get(a).exists(_.nullCount == 0)
      case org.apache.spark.sql.sources.IsNotNull(a) =>
        // an ALL-null chunk proves no row passes IsNotNull
        numRows >= 0 && stats.get(a).exists(_.nullCount == numRows)
      case And(l, r) => canSkip(l, schema, stats, numRows) || canSkip(r, schema, stats, numRows)
      case Or(l, r) => canSkip(l, schema, stats, numRows) && canSkip(r, schema, stats, numRows)
      case _ => false
    }
  }

  /** Skip proof from COLUMN ABSENCE alone: a declared column this file
    * predates reads as all-null, and null satisfies no comparison — a
    * selective filter on a recently-ADDed column prunes every pre-DDL
    * file without opening it. Conservative by shape: IsNull (matches
    * everything here), null-safe equality to null, and anything not
    * understood keep the chunk. */
  def canSkipAbsent(f: Filter, absent: Set[String]): Boolean =
    if (absent.isEmpty) false else f match {
      case EqualTo(a, v) => absent(a) && v != null
      case EqualNullSafe(a, v) => absent(a) && v != null
      case GreaterThan(a, _) => absent(a)
      case GreaterThanOrEqual(a, _) => absent(a)
      case LessThan(a, _) => absent(a)
      case LessThanOrEqual(a, _) => absent(a)
      case In(a, vs) => absent(a) && vs != null // null IN (...) is never TRUE
      case org.apache.spark.sql.sources.IsNotNull(a) => absent(a)
      case StringStartsWith(a, _) => absent(a)
      case And(l, r) => canSkipAbsent(l, absent) || canSkipAbsent(r, absent)
      case Or(l, r) => canSkipAbsent(l, absent) && canSkipAbsent(r, absent)
      case _ => false
    }

  /** Bloom-filter chunk skipping: an equality literal whose hash probes
    * miss the column's per-chunk bloom PROVES the chunk holds no match
    * (the filter shape zone maps can't serve — point lookups on unsorted
    * high-cardinality ids). Shared by the executor-side reader and the
    * driver-side DML candidate-file selection. */
  def bloomSkip(t: Meta.TableMeta, f: Filter): Boolean = {
    def bytesFor(attr: String, v: Any): Option[Array[Byte]] =
      t.schema.fields.find(_.name == attr)
        .flatMap(fl => Bloom.literalBytes(fl.dataType, v))
    f match {
      case EqualTo(a, v) => t.blooms.get(a).exists(bf =>
        bytesFor(a, v).exists(b => !Bloom.mightContain(bf.bytes, b)))
      case In(a, vs) if vs != null && vs.nonEmpty => t.blooms.get(a).exists { bf =>
        val bs = vs.map(v => bytesFor(a, v))
        bs.forall(_.isDefined) &&
          bs.forall(b => !Bloom.mightContain(bf.bytes, b.get))
      }
      case And(l, r) => bloomSkip(t, l) || bloomSkip(t, r)
      case Or(l, r) => bloomSkip(t, l) && bloomSkip(t, r)
      case _ => false
    }
  }

  /** Type of `attr` in `schema`: a top-level field, or ANY depth into
    * nested structs via the dotted name Spark's DSv2 filter translation
    * uses for nested references (`meta.inner.w`). At every level an
    * exact field whose name literally contains the dot wins — the dotted
    * descent only runs when no exact field matches, so such filters
    * simply never prune (safe). */
  def leafType(schema: StructType, attr: String): Option[DataType] =
    schema.fields.find(_.name == attr).map(_.dataType).orElse {
      val i = attr.indexOf('.')
      if (i <= 0 || i == attr.length - 1) None
      else schema.fields.find(_.name == attr.substring(0, i)).map(_.dataType).flatMap {
        case st: StructType => leafType(st, attr.substring(i + 1))
        case _ => None
      }
    }

  /** True iff `f` proves this chunk of the table holds NO matching row —
    * zone maps plus blooms, the full skip arsenal over one TableMeta.
    * Nested-leaf stats (footer v4) join the map under their dotted
    * names, so struct-field predicates prune chunks too. */
  def canSkipChunk(f: Filter, t: Meta.TableMeta): Boolean = {
    val stats = t.schema.fieldNames.zip(t.stats).toMap ++ t.nestedStats
    canSkip(f, t.schema, stats, t.numRows) || bloomSkip(t, f)
  }

  /** [[canSkipChunk]] over the DML-side [[Prune]] union: Spark filters
    * take the zone-map + bloom path; the removed-key summary skips iff
    * the chunk's integral [min,max] crosses no occupied key bucket. */
  def canSkipChunkPrune(p: Prune, t: Meta.TableMeta): Boolean = p match {
    case FilterPrune(f) => canSkipChunk(f, t)
    case kr: InKeyRange if kr.empty => true
    case kr: InKeyRange =>
      val idx = t.schema.fieldNames.indexOf(kr.attribute)
      idx >= 0 && idx < t.stats.size && {
        // types whose zone-map stat bytes are the SAME i64 encoding the
        // summary was built over (days for dates, micros for timestamps,
        // unscaled-at-matching-scale for short decimals — a scale
        // mismatch between batch and column makes the i64s incomparable,
        // so the prune simply doesn't apply)
        val comparable = t.schema.fields(idx).dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               DateType | TimestampType => kr.decimalScale < 0
          case d: DecimalType if d.precision <= 18 =>
            kr.decimalScale == d.scale
          case _ => false
        }
        val s = t.stats(idx)
        comparable && s.min.isDefined && s.max.isDefined &&
          !kr.mightIntersect(longOf(s.min.get), longOf(s.max.get))
      }
    case kb: KeyBytesRange if kb.empty => true
    case kb: KeyBytesRange =>
      val idx = t.schema.fieldNames.indexOf(kb.attribute)
      idx >= 0 && idx < t.stats.size &&
        // string bounds may be TRUNCATED (min: a prefix — a valid lower
        // bound; max: a bumped prefix — a strict upper bound; see
        // Encoders.statsRange). They are conservative PROOFS: the
        // disjointness test below stays sound, but a bound must never be
        // surfaced as a value unless it is provably exact (v6 footers,
        // length below Stats.MaxStringStat — the pushed-MIN/MAX rule)
        t.schema.fields(idx).dataType == StringType && {
          val s = t.stats(idx)
          s.min.isDefined && s.max.isDefined &&
            (java.util.Arrays.compareUnsigned(s.max.get, kb.lo) < 0 ||
              java.util.Arrays.compareUnsigned(s.min.get, kb.hi) > 0)
        }
    case kd: KeyDecimalRange if kd.empty => true
    case kd: KeyDecimalRange =>
      val idx = t.schema.fieldNames.indexOf(kd.attribute)
      idx >= 0 && idx < t.stats.size && {
        // wide-decimal zone maps store the 16-byte big-endian unscaled
        // value at the COLUMN's scale; the summary's bounds are unscaled
        // at the BATCH's scale — comparable only when the scales match
        val comparable = t.schema.fields(idx).dataType match {
          case d: DecimalType if d.precision > 18 => d.scale == kd.scale
          case _ => false
        }
        val s = t.stats(idx)
        comparable && s.min.isDefined && s.max.isDefined && {
          import java.math.BigInteger
          new BigInteger(s.max.get).compareTo(new BigInteger(kd.lo)) < 0 ||
            new BigInteger(s.min.get).compareTo(new BigInteger(kd.hi)) > 0
        }
      }
  }

  /** A driver-side file-prune predicate for file-granular DML: either an
    * exactly-translated Spark source [[Filter]] conjunct, or graft's own
    * unbounded removed-key summary (Spark's `Filter` is sealed, so the
    * summary cannot pose as one). Consumed only by
    * [[canSkipChunkPrune]] on the driver — never pushed into a scan. */
  sealed trait Prune extends Serializable
  final case class FilterPrune(f: Filter) extends Prune

  /** graft's own removed-key summaries over ONE key column, named by
    * `attribute`. A reader whose file spells that column differently
    * (a pre-RENAME file) re-targets the summary with [[withAttribute]]. */
  sealed trait KeyPrune extends Prune {
    def attribute: String
    def withAttribute(name: String): KeyPrune
  }

  /** Prune-only predicate: "column ∈ <removed-key set>" for file-granular
    * DML, summarized UNBOUNDED as a fixed-resolution bucket bitmap over
    * the keys' value range (2^16 buckets, 8 KiB) — built by a
    * distributed aggregation, never a driver key collect, so a CDC batch
    * removing millions of scattered keys still prunes file-granularly
    * instead of falling back to a full rewrite.
    *
    * A chunk whose zone-map [min,max] intersects NO occupied bucket
    * provably holds none of the removed keys. Bucket resolution only
    * costs precision (a key within bucketWidth of a chunk's range keeps
    * the chunk), never correctness. */
  final case class InKeyRange(attribute: String, base: Long, maxKey: Long,
      bucketWidth: Long, bits: Array[Long], empty: Boolean,
      decimalScale: Int = -1) extends KeyPrune {
    def withAttribute(name: String): InKeyRange = copy(attribute = name)
    private def bucketOf(v: Long): Int =
      java.lang.Long.divideUnsigned(v - base, bucketWidth).toInt
    def mightIntersect(mn: Long, mx: Long): Boolean = {
      if (empty || mx < base || mn > maxKey) return false
      val lo = bucketOf(math.max(mn, base))
      val hi = bucketOf(math.min(mx, maxKey))
      var w = lo >> 6
      val wHi = hi >> 6
      while (w <= wHi) {
        var word = bits(w)
        if (w == lo >> 6) word &= -1L << (lo & 63)
        if (w == wHi) word &= -1L >>> (63 - (hi & 63))
        if (word != 0L) return true
        w += 1
      }
      false
    }
  }

  /** Prune-only predicate for STRING key columns past the In-list cap:
    * the removed-key set summarized by its [min,max] UTF-8 byte range
    * (unsigned-lexicographic, the same total order the string zone maps
    * use). One batch-sized aggregation builds it — no driver key
    * collect, no cap — so a CDC batch removing millions of string keys
    * (URLs, document ids) still prunes file-granularly on key-clustered
    * tables. Coarser than [[InKeyRange]]'s bucket bitmap (one interval,
    * no holes), but range disjointness is the common win on clustered
    * layouts. */
  final case class KeyBytesRange(attribute: String, lo: Array[Byte],
      hi: Array[Byte], empty: Boolean) extends KeyPrune {
    def withAttribute(name: String): KeyBytesRange = copy(attribute = name)
  }

  object KeyBytesRange {
    /** Summarize a single-column STRING DataFrame of removed keys; None
      * for other types. One (min,max) aggregation job over the column
      * cast to BINARY: Spark's binary min/max compare bytes unsigned,
      * matching the zone maps' `Arrays.compareUnsigned`, and the BINARY
      * cast hands back the UTF8String's RAW bytes. (Aggregating as
      * STRING and re-encoding driver-side via getString.getBytes would
      * round-trip through java.lang.String, which substitutes U+FFFD
      * for invalid UTF-8 — possible via binary casts — so lo/hi could
      * fail to bound the true key byte range and a DELETE could
      * silently skip a chunk that still holds a removed key.) */
    def of(keys: org.apache.spark.sql.DataFrame): Option[KeyBytesRange] = {
      val f = keys.schema.fields.head
      if (f.dataType != StringType) return None
      val name = f.name
      val nn = keys.filter(keys.col(name).isNotNull)
      val b = nn.select(nn.col(name).cast(BinaryType).as("b"))
      val mm = b.groupBy()
        .agg(org.apache.spark.sql.functions.min("b"),
          org.apache.spark.sql.functions.max("b")).collect().head
      if (mm.isNullAt(0)) // no keys: every chunk is provably disjoint
        return Some(KeyBytesRange(name, Array.empty, Array.empty, empty = true))
      Some(KeyBytesRange(name, mm.getAs[Array[Byte]](0),
        mm.getAs[Array[Byte]](1), empty = false))
    }
  }

  /** Prune-only predicate for WIDE-DECIMAL (p > 18) key columns past the
    * In-list cap: the removed-key set summarized by its [min,max]
    * unscaled values at the batch's declared scale, each stored as the
    * BIG-ENDIAN two's-complement bytes the wide-decimal zone maps use.
    * One batch-sized aggregation — no driver key collect, no cap.
    * `scale` gates application exactly like [[InKeyRange.decimalScale]]:
    * unscaled values at different scales are incomparable, so a scale
    * mismatch means "no prune from this column", never a wrong skip. */
  final case class KeyDecimalRange(attribute: String, lo: Array[Byte],
      hi: Array[Byte], scale: Int, empty: Boolean) extends KeyPrune {
    def withAttribute(name: String): KeyDecimalRange = copy(attribute = name)
  }

  object KeyDecimalRange {
    /** Summarize a single-column DECIMAL(p>18) DataFrame of removed
      * keys; None for other types (p <= 18 takes [[InKeyRange]]'s finer
      * bucket bitmap). One (min,max) decimal aggregation job. */
    def of(keys: org.apache.spark.sql.DataFrame): Option[KeyDecimalRange] = {
      val f = keys.schema.fields.head
      val d = f.dataType match {
        case dt: DecimalType if dt.precision > 18 => dt
        case _ => return None
      }
      val name = f.name
      val nn = keys.filter(keys.col(name).isNotNull)
      val mm = nn.groupBy()
        .agg(org.apache.spark.sql.functions.min(name),
          org.apache.spark.sql.functions.max(name)).collect().head
      if (mm.isNullAt(0)) // no keys: every chunk is provably disjoint
        return Some(KeyDecimalRange(name, Array.empty, Array.empty, d.scale,
          empty = true))
      def unscaledBe(bd: java.math.BigDecimal): Array[Byte] =
        bd.setScale(d.scale).unscaledValue().toByteArray // minimal BE, sign OK
      Some(KeyDecimalRange(name, unscaledBe(mm.getDecimal(0)),
        unscaledBe(mm.getDecimal(1)), d.scale, empty = false))
    }
  }

  /** The exact i64 projection a key column's zone-map stats use, or None
    * for unprojectable types: integral → value, date → epoch DAYS,
    * timestamp → epoch MICROS (a plain cast would give seconds and
    * silently mis-prune), short decimal → UNSCALED value at the batch's
    * declared scale via EXACT decimal arithmetic (v * 10^scale, result
    * precision p + scale + 2 ≤ 38 for p ≤ 18, integral by construction
    * so the long cast is exact; built from plain Column ops — an
    * UnscaledValue temp function here would mutate the session's
    * function registry as a hidden side effect of DML planning). */
  private[format] def i64Proj(col: org.apache.spark.sql.Column,
      dt: DataType): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{unix_date, unix_micros}
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(col.cast("long"))
      case DateType => Some(unix_date(col).cast("long"))
      case TimestampType => Some(unix_micros(col))
      case d: DecimalType if d.precision <= 18 =>
        val shift = org.apache.spark.sql.functions.lit(
          java.math.BigDecimal.TEN.pow(d.scale))
        Some((col * shift).cast("long"))
      case _ => None
    }
  }

  object InKeyRange {
    private val Buckets = 1 << 16

    /** Summarize a single-column DataFrame of removed keys. None when
      * the column has no exact i64 projection (integral, date,
      * timestamp, decimal p≤18) — callers fall back to
      * [[KeyBytesRange]] for strings, else no prune from this column.
      * Two batch-sized jobs: (min,max) then the bitmap tree-aggregate;
      * [[Stats.keyPrune]]'s one-pass sketch skips the first. */
    def of(keys: org.apache.spark.sql.DataFrame): Option[InKeyRange] = {
      val f = keys.schema.fields.head
      val name = f.name
      val nn = keys.filter(keys.col(name).isNotNull)
      val asLong = i64Proj(nn.col(name), f.dataType)
      if (asLong.isEmpty) return None
      val scale = f.dataType match {
        case d: DecimalType => d.scale
        case _ => -1
      }
      val ks = nn.select(asLong.get.as("k"))
      val mm = ks.groupBy()
        .agg(org.apache.spark.sql.functions.min("k"),
          org.apache.spark.sql.functions.max("k")).collect().head
      if (mm.isNullAt(0)) // no keys: every chunk is provably disjoint
        return Some(InKeyRange(name, 0L, -1L, 1L, new Array[Long](Buckets / 64),
          empty = true, decimalScale = scale))
      Some(fromBounds(ks, name, mm.getLong(0), mm.getLong(1), scale))
    }

    /** Build the bucket bitmap for keys whose [min,max] is already known
      * (ONE tree-aggregate job over the projected i64 keys). */
    def fromBounds(ks: org.apache.spark.sql.DataFrame, name: String,
        mn: Long, mx: Long, scale: Int): InKeyRange = {
      val span = mx - mn // as unsigned (a full-long-range key set wraps)
      val width = java.lang.Long.divideUnsigned(span, Buckets) + 1
      import org.apache.spark.sql.Encoders
      val bits = ks.as[Long](Encoders.scalaLong).rdd.treeAggregate(
        new Array[Long](Buckets / 64))(
        (acc, v) => {
          val b = java.lang.Long.divideUnsigned(v - mn, width).toInt
          acc(b >> 6) |= 1L << (b & 63)
          acc
        },
        (a, b) => {
          var i = 0
          while (i < a.length) { a(i) |= b(i); i += 1 }
          a
        })
      InKeyRange(name, mn, mx, width, bits, empty = false, decimalScale = scale)
    }
  }

  // ---- one-pass key-prune builder ------------------------------------------

  /** Mutable per-partition key-sketch state for [[keyPrune]]'s single
    * tree-aggregate: a distinct-value set capped at `cap` entries (null
    * once exceeded — overflow is a one-way door) plus typed bounds
    * running in the SAME pass (projected i64, raw UTF-8 bytes, or wide
    * BigDecimal, per the column's summary type). */
  private final class KeySketch(cap: Int) extends Serializable {
    var set: java.util.HashSet[Any] = new java.util.HashSet[Any]()
    var rows: Long = 0L
    var minL: Long = Long.MaxValue
    var maxL: Long = Long.MinValue
    var hasBounds: Boolean = false
    var minB: Array[Byte] = null
    var maxB: Array[Byte] = null
    var minD: java.math.BigDecimal = null
    var maxD: java.math.BigDecimal = null

    def add(value: Any): Unit = {
      rows += 1
      if (set != null) {
        set.add(value)
        if (set.size > cap) set = null
      }
    }
    def boundL(v: Long): Unit = {
      if (v < minL) minL = v
      if (v > maxL) maxL = v
      hasBounds = true
    }
    def boundB(b: Array[Byte]): Unit = {
      if (minB == null || java.util.Arrays.compareUnsigned(b, minB) < 0) minB = b
      if (maxB == null || java.util.Arrays.compareUnsigned(b, maxB) > 0) maxB = b
    }
    def boundD(d: java.math.BigDecimal): Unit = {
      if (minD == null || d.compareTo(minD) < 0) minD = d
      if (maxD == null || d.compareTo(maxD) > 0) maxD = d
    }
    def merge(o: KeySketch): KeySketch = {
      if (set == null || o.set == null) set = null
      else { set.addAll(o.set); if (set.size > cap) set = null }
      rows += o.rows
      if (o.hasBounds) { boundL(o.minL); boundL(o.maxL) }
      if (o.minB != null) { boundB(o.minB); boundB(o.maxB) }
      if (o.minD != null) { boundD(o.minD); boundD(o.maxD) }
      this
    }
  }

  /** [[keyPrune]]'s result plus what the same pass learned about the
    * batch: non-null row count, and the exact distinct-key count when it
    * fit the cap (None past it). A single-key MERGE admission check
    * falls out for free — duplicates exist iff `rows > distinct`. */
  final case class KeyPruneResult(prune: Option[Prune], rows: Long,
      distinct: Option[Int])

  /** One key column's candidate-file prune for a keyed DML, built in ONE
    * pass over the batch (plus one bitmap pass only for over-cap
    * i64-projectable keys):
    *
    *  - ≤ `cap` distinct keys → an exact [[FilterPrune]] IN-list, the
    *    strongest prune (zone maps AND blooms refute it per chunk).
    *    STRING keys travel as their raw UTF-8 bytes from a BINARY cast —
    *    a driver `collect()` of the String values would substitute
    *    U+FFFD for invalid UTF-8 and the IN-list could prove a WRONG
    *    skip ([[canSkip]]/[[Bloom.literalBytes]] take byte literals).
    *  - past the cap: i64-projectable keys → [[InKeyRange]] (bounds from
    *    the same pass, one extra bitmap job); strings →
    *    [[KeyBytesRange]]; wide decimals → [[KeyDecimalRange]] — both
    *    with ZERO extra jobs.
    *
    * Replaces the distinct+limit probe / (min,max) / bitmap three-job
    * chain: the capped set rides a tree-aggregate with NO shuffle (each
    * partition's distinct set is capped at `cap`+1 before it moves), so
    * a keyed DML costs one batch pass regardless of key count. None =
    * no prune from this column (remaining conjuncts still apply). */
  def keyPrune(keys: org.apache.spark.sql.DataFrame,
      cap: Int = 1000): Option[Prune] = keyPruneFull(keys, cap).prune

  /** [[keyPrune]] exposing the pass's row/distinct counts (see
    * [[KeyPruneResult]]). */
  def keyPruneFull(keys: org.apache.spark.sql.DataFrame,
      cap: Int = 1000): KeyPruneResult = {
    val f = keys.schema.fields.head
    val name = f.name
    val kcol = keys.col(name)
    val nn = keys.filter(kcol.isNotNull)
    val proj = i64Proj(nn.col(name), f.dataType)
    val scale = f.dataType match {
      case d: DecimalType => d.scale
      case _ => -1
    }
    // mode: how the sketch reads each row. 1 = i64 projection in col 1;
    // 2 = string, raw bytes in BOTH cols (bytes are the IN-list literals
    // AND the bounds); 3 = wide decimal, value in col 0; 0 = plain
    // (IN-list only; no over-cap summary exists for the type)
    val (mode, selected) = f.dataType match {
      case _ if proj.isDefined => (1, nn.select(kcol, proj.get.as("_p")))
      case StringType => (2, nn.select(kcol.cast(BinaryType).as("_b")))
      case d: DecimalType if d.precision > 18 => (3, nn.select(kcol))
      case _ => (0, nn.select(kcol))
    }
    val sk = selected.rdd.treeAggregate(new KeySketch(cap))(
      (a, row) => {
        mode match {
          case 1 =>
            a.add(row.get(0))
            a.boundL(row.getLong(1))
          case 2 =>
            val b = row.getAs[Array[Byte]](0)
            a.add(new BytesKey(b))
            a.boundB(b)
          case 3 =>
            val d = row.getDecimal(0)
            a.add(d)
            a.boundD(d)
          case _ => a.add(plainKey(row.get(0)))
        }
        a
      },
      (a, b) => a.merge(b))
    if (sk.set != null) {
      val raw = sk.set.toArray // Array[AnyRef]
      val values: Array[Any] = raw.map {
        case b: BytesKey => b.bytes: Any
        case x => x: Any
      }
      return KeyPruneResult(
        Some(FilterPrune(org.apache.spark.sql.sources.In(name, values))),
        sk.rows, Some(raw.length))
    }
    val prune = mode match {
      case 1 => Some(InKeyRange.fromBounds(nn.select(proj.get.as("k")), name,
        sk.minL, sk.maxL, scale))
      case 2 => Some(KeyBytesRange(name, sk.minB, sk.maxB, empty = false))
      case 3 => Some(KeyDecimalRange(name,
        sk.minD.setScale(scale).unscaledValue().toByteArray,
        sk.maxD.setScale(scale).unscaledValue().toByteArray, scale,
        empty = false))
      case _ => None
    }
    KeyPruneResult(prune, sk.rows, distinct = None)
  }

  /** SQL-equality view of a plain (mode-0) key value for the distinct
    * sketch and its IN-list literals: Array[Byte] gets value equality
    * via [[BytesKey]] (identity hashing counted every BINARY row as
    * distinct, so the rows>distinct duplicate-key admission check could
    * never fire), and floating zeros normalize to +0.0 (Spark's
    * comparisons treat -0.0 = 0.0 — boxed they differ, splitting one
    * SQL group into two sketch entries). */
  private def plainKey(v: Any): Any = v match {
    case b: Array[Byte] => new BytesKey(b)
    case d: java.lang.Double if d.doubleValue() == 0.0d =>
      java.lang.Double.valueOf(0.0d)
    case f: java.lang.Float if f.floatValue() == 0.0f =>
      java.lang.Float.valueOf(0.0f)
    case x => x
  }

  /** Byte-array set key with VALUE equality (Array[Byte] hashes by
    * identity, which would make every row "distinct"). */
  private final class BytesKey(val bytes: Array[Byte]) extends Serializable {
    override def hashCode(): Int = java.util.Arrays.hashCode(bytes)
    override def equals(o: Any): Boolean = o match {
      case b: BytesKey => java.util.Arrays.equals(bytes, b.bytes)
      case _ => false
    }
  }

  // ---- manifest stats codec -------------------------------------------------
  // A file's per-chunk zone maps, serialized small enough to ride a carry
  // manifest line: DML candidate selection then prunes manifest-covered
  // files with ZERO per-file I/O (the iceberg/delta "stats in the
  // manifest" shape), and only footer-probes recent files plus the few
  // candidates min/max alone can't clear (giving blooms a second pass).
  // One JSON array entry per (chunk, table): name, numRows, schema DDL,
  // per-column {nc, mn, mx} with bytes base64'd. Blooms deliberately
  // stay in footers — they are KBs-MBs per column.

  def statsToJson(tables: Seq[Meta.TableMeta]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    val b64 = java.util.Base64.getEncoder
    tables.foreach { t =>
      val e = arr.addObject()
      e.put("t", t.name)
      e.put("n", t.numRows)
      e.put("s", t.schema.toDDL)
      val cols = e.putArray("c")
      t.stats.foreach { cs =>
        val c = cols.addObject()
        c.put("nc", cs.nullCount)
        if (cs.nanCount > 0) c.put("xn", cs.nanCount)
        cs.min.foreach(m => c.put("mn", b64.encodeToString(m)))
        cs.max.foreach(m => c.put("mx", b64.encodeToString(m)))
      }
      // nested-leaf zone maps (footer v4) ride the manifest too, so a
      // DML with a struct-field predicate classifies carried files with
      // zero per-file I/O (absent on older manifests — tolerated)
      if (t.nestedStats.nonEmpty) {
        val ns = e.putObject("ns")
        t.nestedStats.toSeq.sortBy(_._1).foreach { case (attr, cs) =>
          val c = ns.putObject(attr)
          c.put("nc", cs.nullCount)
          if (cs.nanCount > 0) c.put("xn", cs.nanCount)
          cs.min.foreach(m => c.put("mn", b64.encodeToString(m)))
          cs.max.foreach(m => c.put("mx", b64.encodeToString(m)))
        }
      }
    }
    mapper.writeValueAsString(arr)
  }

  /** Inverse of [[statsToJson]]: synthetic TableMetas carrying exactly
    * what [[canSkipChunk]]'s zone-map half consumes (no columns, no
    * blooms). Any parse failure returns None — the caller falls back to
    * the footer probe, never a wrong skip. */
  def statsFromJson(json: String): Option[Seq[Meta.TableMeta]] =
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      val b64 = java.util.Base64.getDecoder
      val out = Vector.newBuilder[Meta.TableMeta]
      node.forEach { e =>
        val schema = org.apache.spark.sql.types.StructType.fromDDL(e.get("s").asText())
        val stats = Vector.newBuilder[ColStats]
        var ci = 0
        e.get("c").forEach { c =>
          val st = ColStats(
            c.get("nc").asInt(),
            Option(c.get("mn")).map(m => b64.decode(m.asText())),
            Option(c.get("mx")).map(m => b64.decode(m.asText())),
            nanCount = Option(c.get("xn")).map(_.asInt()).getOrElse(0))
          // same width rule as the footer parse: a corrupt manifest must
          // fall back to the footer probe, never crash a skip compare
          if (ci < schema.size)
            (st.min.toSeq ++ st.max.toSeq).foreach { b =>
              if (!statBytesOk(schema.fields(ci).dataType, b))
                throw new OliveFormatException(
                  s"manifest stat width ${b.length} illegal for ${schema.fields(ci).dataType.simpleString}")
            }
          stats += st
          ci += 1
        }
        val nested = Map.newBuilder[String, ColStats]
        Option(e.get("ns")).foreach { ns =>
          ns.fields().forEachRemaining { kv =>
            val attr = kv.getKey
            val c = kv.getValue
            val st = ColStats(
              c.get("nc").asInt(),
              Option(c.get("mn")).map(m => b64.decode(m.asText())),
              Option(c.get("mx")).map(m => b64.decode(m.asText())),
              nanCount = Option(c.get("xn")).map(_.asInt()).getOrElse(0))
            leafType(schema, attr) match {
              case Some(dt) =>
                (st.min.toSeq ++ st.max.toSeq).foreach { b =>
                  if (!statBytesOk(dt, b))
                    throw new OliveFormatException(
                      s"manifest nested stat width ${b.length} illegal for ${dt.simpleString}")
                }
                nested += (attr -> st)
              case None => // unknown leaf in a stale manifest: drop it
            }
          }
        }
        out += Meta.TableMeta(e.get("t").asText(), e.get("n").asInt(), schema,
          Vector.empty, stats.result(), nestedStats = nested.result())
      }
      Some(out.result())
    } catch { case _: Exception => None }

  // ---- ANALYZE sidecar codec -------------------------------------------------
  // `CALL sys.analyze(ns)` persists table-level column statistics (NDV,
  // null count, byte lengths, numeric min/max) in a root-level sidecar;
  // the scan serves them to Spark as DSv2 columnStats when CBO is on.
  // Stats are a snapshot (stamped with the generation they were computed
  // at) — estimates tolerate staleness, pruning never consumes these.

  /** One column's ANALYZE result. `min`/`max` hold CATALYST-internal
    * numerics (Long for integral/timestamps, Int for date, Double for
    * floating) — exactly what the planner's ColumnStat expects.
    * `histogram` holds equi-height bin ENDPOINTS (n+1 doubles from an
    * approx-percentile pass over plain numeric columns); heights and
    * per-bin NDV derive at read time (rows/n, ndv/n) — the boundaries
    * carry the range-selectivity value, the per-bin ndv approximation
    * is the standard uniform split. */
  case class ColAnalysis(ndv: Long, nullCount: Long, avgLen: Option[Long],
      maxLen: Option[Long], min: Option[Any], max: Option[Any],
      histogram: Option[Seq[Double]] = None,
      sketch: Option[Array[Byte]] = None)

  /** `churnedBytes` is the DML-lifecycle half of the snapshot: every
    * row-churning rewrite (DELETE/UPDATE/MERGE, CDC fold) adds the bytes
    * of the files it rewrote. Row counts extrapolate under staleness
    * (byte ratio) and NDV merges under APPENDS (per-column HLL
    * sketches), but neither survives churn — once
    * churnedBytes/bytes crosses `spark.graft.statsChurnThreshold`
    * the scan stops serving per-column stats (a wrong NDV misleads the
    * CBO worse than no NDV). ANALYZE resets the counter. */
  /** `streamEpochs` is the streaming-ingest idempotency high-water mark
    * PER QUERY: epoch ids are monotone within one query (and a retried
    * epoch re-commits the SAME id with the same deterministic data) but
    * restart at 0 for every new checkpoint, so the mark must be keyed
    * by the query id — additive deltas (rows, null counts) apply only
    * when the committing epoch exceeds the query's own mark; replays
    * can't double-bill and concurrent/new queries aren't skipped. */
  /** `appendedBytes` is the APPEND half of the staleness signal: appends
    * never bill the churn counter (their rows are new, not rewritten),
    * but columns whose stats the append deltas cannot maintain — every
    * unsketchable type (double scores, decimals, dates) — silently age
    * as the table grows. Once appends exceed the churn threshold's
    * fraction of the table, those columns stop serving stats; sketch-
    * maintained columns keep serving (their NDV/counts/bounds stay
    * fresh by construction). ANALYZE resets the counter. */
  case class TableAnalysis(rows: Long, exact: Boolean, gen: Option[String],
      cols: Map[String, ColAnalysis], bytes: Long = 0L,
      churnedBytes: Long = 0L, streamEpochs: Map[String, Long] = Map.empty,
      appendedBytes: Long = 0L) {
    def churnFraction: Double =
      if (bytes <= 0) 0.0 else churnedBytes.toDouble / bytes
    def appendFraction: Double =
      if (bytes <= 0) 0.0 else appendedBytes.toDouble / bytes
  }

  def analysisToJson(a: TableAnalysis): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("rows", a.rows)
    root.put("exact", a.exact)
    if (a.bytes > 0) root.put("bytes", a.bytes)
    if (a.churnedBytes > 0) root.put("churn", a.churnedBytes)
    if (a.appendedBytes > 0) root.put("append", a.appendedBytes)
    if (a.streamEpochs.nonEmpty) {
      val eps = root.putObject("eps")
      a.streamEpochs.toSeq.sortBy(_._1).foreach { case (q, e) => eps.put(q, e) }
    }
    a.gen.foreach(g => root.put("gen", g))
    val cols = root.putObject("cols")
    a.cols.toSeq.sortBy(_._1).foreach { case (name, c) =>
      val o = cols.putObject(name)
      o.put("ndv", c.ndv)
      o.put("nc", c.nullCount)
      c.avgLen.foreach(v => o.put("al", v))
      c.maxLen.foreach(v => o.put("ml", v))
      def putNum(k: String, v: Any): Unit = v match {
        case l: Long => o.put(k, l)
        case i: Int => o.put(k, i.toLong)
        case d: Double => o.put(k, d)
        case f: Float => o.put(k, f.toDouble)
        case _ =>
      }
      c.min.foreach(putNum("mn", _))
      c.max.foreach(putNum("mx", _))
      c.histogram.foreach { es =>
        val arr = o.putArray("h")
        es.foreach(arr.add)
      }
      c.sketch.foreach(b =>
        o.put("sk", java.util.Base64.getEncoder.encodeToString(b)))
    }
    mapper.writeValueAsString(root)
  }

  /** Inverse of [[analysisToJson]]; any parse failure yields None (the
    * scan simply reports no column stats — never wrong ones). Numeric
    * min/max come back as Long (integral JSON) or Double. */
  def analysisFromJson(json: String): Option[TableAnalysis] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      val cols = Map.newBuilder[String, ColAnalysis]
      Option(root.get("cols")).foreach(_.fields().forEachRemaining { kv =>
        val c = kv.getValue
        def num(k: String): Option[Any] = Option(c.get(k)).map { n =>
          if (n.isIntegralNumber) n.asLong(): Any else n.asDouble(): Any
        }
        val hist = Option(c.get("h")).map { arr =>
          val b = Seq.newBuilder[Double]
          arr.forEach(n => b += n.asDouble())
          b.result()
        }.filter(_.size >= 2)
        cols += (kv.getKey -> ColAnalysis(
          c.get("ndv").asLong(), c.get("nc").asLong(),
          Option(c.get("al")).map(_.asLong()),
          Option(c.get("ml")).map(_.asLong()),
          num("mn"), num("mx"), hist,
          Option(c.get("sk")).map(n =>
            java.util.Base64.getDecoder.decode(n.asText()))))
      })
      Some(TableAnalysis(root.get("rows").asLong(),
        Option(root.get("exact")).exists(_.asBoolean()),
        Option(root.get("gen")).map(_.asText()), cols.result(),
        Option(root.get("bytes")).map(_.asLong()).getOrElse(0L),
        Option(root.get("churn")).map(_.asLong()).getOrElse(0L),
        Option(root.get("eps")).map { eps =>
          val b = Map.newBuilder[String, Long]
          eps.fields().forEachRemaining(kv => b += (kv.getKey -> kv.getValue.asLong()))
          b.result()
        }.getOrElse(Map.empty),
        Option(root.get("append")).map(_.asLong()).getOrElse(0L)))
    } catch { case _: Exception => None }
}
