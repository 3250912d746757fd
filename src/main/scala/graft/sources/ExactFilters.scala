package graft.sources

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Data filters the graft reader applies EXACTLY, row by row, after the
  * zone-map keep ranges: comparisons, IN-lists and null tests on a
  * top-level integral column. The scan builder consumes them, so Spark
  * plans no `Filter` above the scan and its generated code never embeds
  * the key: one compiled stage serves every point or range lookup, and
  * the scan outputs only the rows that match.
  *
  * `schema` holds the filtered columns (current spellings, query types,
  * rename-chain metadata), which the reader decodes first — through the
  * same rename and widening resolution as any other column — and tests
  * in the long domain, where every integral query type compares exactly.
  * A null never matches a comparison or an IN element. */
final case class ExactFilters(filters: Seq[Filter], schema: StructType) {
  def nonEmpty: Boolean = filters.nonEmpty

  /** One per-row test per filter: the column ordinal in `schema`, and the
    * value test for a non-null row (None = the row must be null). */
  @transient private lazy val tests: Array[(Int, Option[Long => Boolean])] =
    filters.map { f =>
      val (col, test) = f match {
        case IsNull(a) => (a, None)
        case IsNotNull(a) => (a, Some((_: Long) => true))
        case EqualTo(a, v) => val c = ExactFilters.long(v); (a, Some((x: Long) => x == c))
        case LessThan(a, v) => val c = ExactFilters.long(v); (a, Some((x: Long) => x < c))
        case LessThanOrEqual(a, v) => val c = ExactFilters.long(v); (a, Some((x: Long) => x <= c))
        case GreaterThan(a, v) => val c = ExactFilters.long(v); (a, Some((x: Long) => x > c))
        case GreaterThanOrEqual(a, v) => val c = ExactFilters.long(v); (a, Some((x: Long) => x >= c))
        case In(a, vs) =>
          val set = vs.iterator.filter(_ != null).map(ExactFilters.long).toArray.sorted
          (a, Some((x: Long) => java.util.Arrays.binarySearch(set, x) >= 0))
        case other => throw new IllegalArgumentException(s"not an exact filter: $other")
      }
      (schema.fieldIndex(col), test)
    }.toArray

  /** The ordinals of `cand` (ascending) whose rows pass every filter, read
    * from `cols`, a batch of `schema`'s columns indexed by those ordinals. */
  def survivors(cols: ColumnarBatch, cand: Array[Int]): Array[Int] = {
    var out = cand
    var n = cand.length
    tests.foreach { case (ci, test) =>
      val v = cols.column(ci)
      val get = ExactFilters.getter(v, schema(ci).dataType)
      val keep = new Array[Int](n)
      var k = 0
      var j = 0
      while (j < n) {
        val i = out(j)
        val pass = test match {
          case None => v.isNullAt(i)
          case Some(t) => !v.isNullAt(i) && t(get(i))
        }
        if (pass) { keep(k) = i; k += 1 }
        j += 1
      }
      out = keep
      n = k
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }
}

object ExactFilters {
  val Empty: ExactFilters = ExactFilters(Nil, new StructType())

  private def integralValue(v: Any): Boolean = v match {
    case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
         _: java.lang.Long => true
    case _ => false
  }

  private def long(v: Any): Long = v.asInstanceOf[Number].longValue()

  private def getter(v: ColumnVector, dt: DataType): Int => Long = dt match {
    case ByteType => i => v.getByte(i).toLong
    case ShortType => i => v.getShort(i).toLong
    case IntegerType => i => v.getInt(i).toLong
    case _ => i => v.getLong(i)
  }

  /** The column a filter tests, when its shape is one the reader can
    * evaluate exactly (the column's type is checked by [[select]]). */
  private def columnOf(f: Filter): Option[String] = f match {
    case EqualTo(a, v) if integralValue(v) => Some(a)
    case LessThan(a, v) if integralValue(v) => Some(a)
    case LessThanOrEqual(a, v) if integralValue(v) => Some(a)
    case GreaterThan(a, v) if integralValue(v) => Some(a)
    case GreaterThanOrEqual(a, v) if integralValue(v) => Some(a)
    case In(a, vs) if vs != null && vs.forall(v => v == null || integralValue(v)) => Some(a)
    case IsNull(a) => Some(a)
    case IsNotNull(a) => Some(a)
    case _ => None
  }

  /** The filters among `filters` the reader evaluates exactly: a supported
    * shape on a top-level `byte`/`short`/`int`/`long` column of
    * `fullSchema` that `eligible` admits (the builder excludes partition
    * and metadata columns, whose values come from the path). */
  def select(filters: Seq[Filter], fullSchema: StructType,
      eligible: String => Boolean): ExactFilters = {
    def integralCol(name: String): Option[StructField] =
      fullSchema.fields.find(_.name == name).filter(f => eligible(name) && (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }))
    val picked = filters.flatMap(f => columnOf(f).flatMap(integralCol).map(f -> _))
    ExactFilters(picked.map(_._1), StructType(picked.map(_._2).distinct))
  }
}
