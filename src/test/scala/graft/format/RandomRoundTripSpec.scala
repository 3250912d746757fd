package graft.format

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Property-based write→read round-trip over random schemas and data —
  * the Spark port of the reference's `fuzz_roundtrip` contract
  * (`src/fuzz.zig:63-151`, generators `src/fuzz_input.zig:19-90`):
  * ∀ (schema, rows, page_size, bias, chunk_rows):
  *   read(write(df)) == df.
  * Seeded, so failures reproduce. */
class RandomRoundTripSpec extends SparkSpec {

  private val MaxDepth = 3

  private def randType(r: Random, depth: Int): DataType = {
    val flat = Seq[DataType](
      BooleanType, ByteType, ShortType, IntegerType, LongType,
      FloatType, DoubleType, DecimalType(10, 2), DecimalType(38, 9),
      DecimalType(5, 2), DecimalType(9, 0), // int-backed vectors (p <= 9)
      DateType, TimestampType, TimestampNTZType, StringType, BinaryType)
    if (depth >= MaxDepth || r.nextInt(100) < 65) flat(r.nextInt(flat.size))
    else r.nextInt(3) match {
      case 0 => ArrayType(randType(r, depth + 1), containsNull = r.nextBoolean())
      case 1 => StructType((0 until 1 + r.nextInt(3)).map(i =>
        StructField(s"f$i", randType(r, depth + 1), nullable = r.nextBoolean())))
      case 2 => MapType(StringType, randType(r, depth + 1), valueContainsNull = r.nextBoolean())
    }
  }

  private def fsbField(r: Random, name: String): StructField = {
    val w = Seq(4, 16, 20, 32)(r.nextInt(4))
    StructField(name, BinaryType, nullable = r.nextBoolean(),
      new MetadataBuilder().putLong(ColumnEncoder.FixedWidthKey, w).build())
  }

  /** Olive logical types carried via metadata (u8…f16, decimal256, union). */
  private def logicalField(r: Random, name: String): StructField = {
    val lt = Seq("u8", "u16", "u32", "u64", "f16", "decimal256", "union")(r.nextInt(7))
    lt match {
      case "decimal256" => StructField(name, BinaryType, nullable = r.nextBoolean(),
        new MetadataBuilder().putString(Logical.Key, lt).putLong(Logical.ScaleKey, 10).build())
      case "union" =>
        val st = StructType(Seq(
          StructField("type_id", ByteType, nullable = false),
          StructField("b0", LongType),
          StructField("b1", StringType)))
        StructField(name, st, nullable = r.nextBoolean(), Logical.metadata(lt))
      case _ => StructField(name, Logical.sparkType(Logical.code(lt)),
        nullable = r.nextBoolean(), Logical.metadata(lt))
    }
  }

  /** Whole-column clean decimals: the only way the ALP-style Scaled
    * encoding engages (one dirty value per chunk forces fallback). */
  private def cleanDecimalField(r: Random, name: String): StructField = {
    val dt = if (r.nextBoolean()) DoubleType else FloatType
    StructField(name, dt, nullable = r.nextBoolean(),
      new MetadataBuilder().putBoolean("fuzz.clean", true).build())
  }

  private def randSchema(r: Random): StructType = {
    val n = 1 + r.nextInt(7)
    StructType((0 until n).map { i =>
      if (r.nextInt(100) < 15) fsbField(r, s"c$i")
      else if (r.nextInt(100) < 12) logicalField(r, s"c$i")
      else if (r.nextInt(100) < 10) cleanDecimalField(r, s"c$i")
      else {
        val dt = randType(r, 0)
        // offset-bearing columns sometimes draw the i64 dialect
        val md = dt match {
          case StringType | BinaryType | _: ArrayType | _: MapType if r.nextInt(100) < 20 =>
            new MetadataBuilder().putBoolean(ColumnEncoder.LargeOffsetsKey, true).build()
          case _ => Metadata.empty
        }
        StructField(s"c$i", dt, nullable = r.nextBoolean(), md)
      }
    })
  }

  private def randValue(r: Random, dt: DataType, meta: Metadata): Any = Logical.of(meta) match {
    case Some("u8") => r.nextInt(256).toShort
    case Some("u16") => r.nextInt(65536)
    case Some("u32") => r.nextLong() & 0xffffffffL
    case Some("u64") =>
      new java.math.BigDecimal(new java.math.BigInteger(64, r.self)) // [0, 2^64)
    case Some("f16") =>
      Half.toFloat(r.nextInt(0x10000).toShort) // any binary16 value, incl. ±Inf/NaN
    case Some("decimal256") =>
      val b = new Array[Byte](32); r.nextBytes(b); b
    case Some("union") =>
      val tid = r.nextInt(2)
      Row(tid.toByte,
        if (tid == 0) java.lang.Long.valueOf(r.nextLong()) else null,
        if (tid == 1) s"u${r.nextInt(100)}" else null)
    case _ => randPlainValue(r, dt, meta)
  }

  private def randPlainValue(r: Random, dt: DataType, meta: Metadata): Any = dt match {
    case BooleanType => r.nextBoolean()
    case ByteType => r.nextInt().toByte
    case ShortType => r.nextInt().toShort
    case IntegerType =>
      if (r.nextInt(8) == 0) 7 + r.nextInt(4) // tiny pool: runs after sort → REE path
      else if (r.nextInt(4) == 0) 7000 + r.nextInt(200) // narrow range → FOR path
      else if (r.nextInt(4) == 0) r.nextInt(100000) // 17-bit range → bit-pack path
      else r.nextInt()
    case LongType =>
      if (r.nextInt(8) == 0) 1000L + r.nextInt(3) // tiny pool → REE path
      else if (r.nextInt(4) == 0) 1700000000L + r.nextInt(100000)
      else if (r.nextInt(4) == 0) r.nextLong() & ((1L << 40) - 1) // 40-bit → bit-pack
      else r.nextLong()
    case FloatType if meta.contains("fuzz.clean") => (r.nextInt(100000) / 100.0).toFloat
    case DoubleType if meta.contains("fuzz.clean") => r.nextInt(2000000) / 100.0
    case FloatType => if (r.nextInt(20) == 0) Float.NaN else r.nextFloat() * 1e6f
    case DoubleType => if (r.nextInt(20) == 0) Double.NegativeInfinity else r.nextDouble() * 1e9
    case d: DecimalType =>
      // unscaled strictly within p digits so the value always fits (p, s)
      val bound = BigInt(10).pow(d.precision) - 1
      val unscaled = (BigInt(r.nextLong()).abs mod bound) * (if (r.nextBoolean()) 1 else -1)
      new java.math.BigDecimal(unscaled.bigInteger, d.scale)
    case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.nextInt(40000) - 5000))
    case TimestampType => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(r.nextInt(Int.MaxValue).toLong, r.nextInt(1000000) * 1000L))
    case TimestampNTZType => java.time.LocalDateTime.ofEpochSecond(r.nextInt(Int.MaxValue).toLong, r.nextInt(1000000) * 1000, java.time.ZoneOffset.UTC)
    case StringType =>
      if (r.nextInt(5) == 0) s"pooled-${r.nextInt(4)}" // repetitive → dict path
      else {
        val n = r.nextInt(30)
        (0 until n).map(_ => (if (r.nextBoolean()) 'a' + r.nextInt(26) else 0x4e00 + r.nextInt(100)).toChar).mkString
      }
    case BinaryType if meta.contains(ColumnEncoder.FixedWidthKey) =>
      val w = meta.getLong(ColumnEncoder.FixedWidthKey).toInt
      // small value pool => dict dedup actually exercises
      val pool = r.nextInt(5)
      val b = new Array[Byte](w); new Random(pool).nextBytes(b); b
    case BinaryType =>
      val b = new Array[Byte](r.nextInt(40)); r.nextBytes(b); b
    case ArrayType(et, cn) =>
      (0 until r.nextInt(5)).map(_ =>
        if (cn && r.nextInt(5) == 0) null else randValue(r, et, Metadata.empty))
    case st: StructType =>
      Row.fromSeq(st.fields.map(f =>
        if (f.nullable && r.nextInt(5) == 0) null else randValue(r, f.dataType, f.metadata)).toSeq)
    case MapType(_, vt, vcn) =>
      (0 until r.nextInt(4)).map(i =>
        s"k$i" -> (if (vcn && r.nextInt(5) == 0) null else randValue(r, vt, Metadata.empty))).toMap
    case other => throw new IllegalStateException(s"no generator for $other")
  }

  private def randRow(r: Random, schema: StructType): Row =
    Row.fromSeq(schema.fields.map(f =>
      if (f.nullable && r.nextInt(5) == 0) null else randValue(r, f.dataType, f.metadata)).toSeq)

  // -Dgraft.fuzz.iters=N widens the sweep for stress sessions
  private val Iters = sys.props.getOrElse("graft.fuzz.iters", "12").toInt

  for (iter <- 0 until Iters) {
    test(s"random round-trip #$iter") {
      val r = new Random(1000 + iter)
      val schema = randSchema(r)
      val nRows = r.nextInt(6) match {
        case 0 => 0
        case 1 => 1 + r.nextInt(10)
        // multi-block chunks: zone-map block stats engage (> 8192 rows)
        case 2 => 9000 + r.nextInt(11000)
        case _ => 50 + r.nextInt(250)
      }
      val drawn = (0 until nRows).map(_ => randRow(r, schema))
      // sometimes sort by the first integral column: pooled draws become
      // runs, so the REE encoding path fuzzes too
      val sortIdx = schema.fields.indexWhere(f => f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType => true
        case _ => false
      })
      val rows =
        if (sortIdx >= 0 && r.nextInt(3) == 0)
          drawn.sortBy(row => String.valueOf(row.get(sortIdx)))
        else drawn
      val df = spark.createDataFrame(rows.asJava, schema)
      val dir = Files.createTempDirectory(s"graft-fuzz$iter").toString
      val pageSize = Seq(64, 4096, 1 << 20)(r.nextInt(3))
      val bias = if (r.nextBoolean()) "balanced" else "read_optimized"
      // large draws keep chunks big enough that multi-block (zone-map)
      // chunks occur without exploding the chunk count
      val chunkRows =
        if (nRows > 2000) Seq(16384, 1 << 17)(r.nextInt(2))
        else Seq(7, 100, 1 << 17)(r.nextInt(3))
      df.coalesce(1 + r.nextInt(3)).write.format("graft")
        .option("pagesize", pageSize.toString)
        .option("bias", bias)
        .option("chunkrows", chunkRows.toString)
        .mode("append").save(dir)
      val back = spark.read.format("graft").load(dir)
      assert(back.schema.map(f => (f.name, f.dataType)) == schema.map(f => (f.name, f.dataType)),
        s"schema mismatch (seed ${1000 + iter})")
      // the widened types are only themselves THROUGH their tags: a
      // u64/f16/decimal256/union column whose metadata didn't survive
      // the round-trip would silently read back as its carrier type
      assert(back.schema.map(tagsOf) == schema.map(tagsOf),
        s"metadata tag mismatch (seed ${1000 + iter})")
      assert(canon(back) == canon(df),
        s"data mismatch (seed ${1000 + iter}, schema $schema, page $pageSize, bias $bias, chunk $chunkRows)")
    }
  }

  /** The metadata projection that must survive a round-trip: logical
    * type + scale tags and the fixed-width marker. */
  private def tagsOf(f: StructField): (String, Option[String], Option[Long], Option[Long]) = (
    f.name,
    if (f.metadata.contains(Logical.Key)) Some(f.metadata.getString(Logical.Key)) else None,
    if (f.metadata.contains(Logical.ScaleKey)) Some(f.metadata.getLong(Logical.ScaleKey)) else None,
    if (f.metadata.contains(ColumnEncoder.FixedWidthKey))
      Some(f.metadata.getLong(ColumnEncoder.FixedWidthKey)) else None)

  test("generator provably emits every widened logical type (seed-pinned)") {
    // the fuzz sweep only covers what the generator actually draws: pin
    // that u8..u64, f16, decimal256, and union ALL appear across the
    // deterministic seed range the suite runs, so none can silently
    // drop out of the mix
    val want = Set("u8", "u16", "u32", "u64", "f16", "decimal256", "union")
    val seen = scala.collection.mutable.Set[String]()
    var seed = 1000
    while (seed < 1300 && seen != want) {
      val r = new Random(seed)
      randSchema(r).fields.foreach { f =>
        if (f.metadata.contains(Logical.Key)) seen += f.metadata.getString(Logical.Key)
      }
      seed += 1
    }
    assert(seen == want, s"generator never drew ${want -- seen} in 300 seeds")
  }

  test("multi-table chunk files: random column splits round-trip per table") {
    // the reference's defining layout — several named tables written
    // into one chunk — fuzzed: random schemas split into two tables
    // (sharing one join-key-style column), each read back independently
    for (seed <- Seq(7000, 7001, 7002)) {
      val r = new Random(seed)
      var schema = randSchema(r)
      while (schema.size < 3) schema = randSchema(r)
      val names = schema.fieldNames.toVector
      val shared = names(r.nextInt(names.size))
      val rest = r.shuffle(names.filterNot(_ == shared))
      val (aCols, bCols) = rest.splitAt(math.max(1, rest.size / 2))
      val ta = (shared +: aCols).distinct
      val tb = (shared +: bCols).distinct
      val spec = s"ta:${ta.mkString(",")};tb:${tb.mkString(",")}"
      val nRows = 50 + r.nextInt(300)
      val rows = (0 until nRows).map(_ => randRow(r, schema))
      val df = spark.createDataFrame(rows.asJava, schema)
      val dir = Files.createTempDirectory(s"graft-mt$seed").toString
      df.coalesce(1 + r.nextInt(2)).write.format("graft")
        .option("tables", spec).mode("append").save(dir)
      val backA = spark.read.format("graft").option("table", "ta").load(dir)
      val backB = spark.read.format("graft").option("table", "tb").load(dir)
      assert(canon(backA) == canon(df.select(ta.head, ta.tail: _*)),
        s"seed $seed table ta diverged (spec $spec)")
      assert(canon(backB) == canon(df.select(tb.head, tb.tail: _*)),
        s"seed $seed table tb diverged (spec $spec)")
    }
  }

  test("random row-range decodes equal full-decode slices (seed-pinned)") {
    // decodeTableRange owns the subtlest reader arithmetic (per-encoding
    // element rebasing, page overlap, REE expansion windows): fuzz it
    // directly by comparing random [a, b) range decodes against slices
    // of the full decode, bit-exact, across random schemas/pagings
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.MapData
    def norm(get: (Int, DataType) => Any, i: Int, dt: DataType,
        isNull: Boolean): Any = {
      if (isNull) return null
      dt match {
        case FloatType => java.lang.Float.floatToRawIntBits(
          get(i, dt).asInstanceOf[Float])
        case DoubleType => java.lang.Double.doubleToRawLongBits(
          get(i, dt).asInstanceOf[Double])
        case BinaryType => get(i, dt).asInstanceOf[Array[Byte]].toList
        case st: StructType =>
          val r = get(i, dt).asInstanceOf[InternalRow]
          normRow(r, st)
        case ArrayType(et, _) =>
          val a = get(i, dt).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          (0 until a.numElements()).map(j =>
            norm((jj, d) => a.get(jj, d), j, et, a.isNullAt(j))).toList
        case MapType(kt, vt, _) =>
          val m = get(i, dt).asInstanceOf[MapData]
          val ks = m.keyArray(); val vs = m.valueArray()
          (0 until m.numElements()).map(j => (
            norm((jj, d) => ks.get(jj, d), j, kt, ks.isNullAt(j)),
            norm((jj, d) => vs.get(jj, d), j, vt, vs.isNullAt(j)))).toList
        case _ => get(i, dt) match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case v => v
        }
      }
    }
    def normRow(row: InternalRow, schema: StructType): List[Any] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        norm((ii, d) => row.get(ii, d), i, f.dataType, row.isNullAt(i))
      }.toList

    for (seed <- Seq(5000, 5001, 5002)) {
      val r = new Random(seed)
      val schema = randSchema(r)
      val nRows = 500 + r.nextInt(3500)
      val rows = (0 until nRows).map(_ => randRow(r, schema))
      val df = spark.createDataFrame(rows.asJava, schema)
      val dir = Files.createTempDirectory(s"graft-rangefuzz$seed").toString
      df.coalesce(1).write.format("graft")
        .option("pagesize", Seq(64, 1024, 4096)(r.nextInt(3)).toString)
        .mode("append").save(dir)
      val p = new org.apache.hadoop.fs.Path(new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".graft")).head.toString)
      val rd = GraftFileReader.open(
        p.getFileSystem(new org.apache.hadoop.conf.Configuration()), p)
      try {
        val chunk = rd.footer.chunks.head
        val table = chunk.tables.head
        val full = rd.decodeTable(chunk, table, table.schema)
        val fullRows = (0 until table.numRows).map(i =>
          normRow(full.getRow(i), table.schema))
        // ground truth: the whole chunk holds exactly the rows written,
        // so the ranges below are checked against the input, not merely
        // against the same decoder over [0, numRows)
        val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(table.schema)
        val wholeRows = (0 until table.numRows).map(i => toRow(full.getRow(i)).asInstanceOf[Row])
        full.close()
        assert(canon(spark.createDataFrame(wholeRows.asJava, table.schema)) == canon(df),
          s"seed $seed whole-chunk decode diverged from the rows written")
        (0 until 8).foreach { _ =>
          val a = r.nextInt(table.numRows)
          val b = a + 1 + r.nextInt(table.numRows - a)
          val batch = rd.decodeTableRange(chunk, table, table.schema, a, b)
          assert(batch.numRows() == b - a, s"seed $seed range [$a,$b)")
          (0 until b - a).foreach { i =>
            assert(normRow(batch.getRow(i), table.schema) == fullRows(a + i),
              s"seed $seed range [$a,$b): row ${a + i} diverged")
          }
          batch.close()
        }
      } finally rd.close()
    }
  }

  test("all widened types in one schema: tags and values round-trip bit-exact") {
    val schema = StructType(Seq(
      StructField("u", Logical.sparkType(Logical.code("u64")), nullable = true,
        Logical.metadata("u64")),
      StructField("h", Logical.sparkType(Logical.code("f16")), nullable = true,
        Logical.metadata("f16")),
      StructField("d", BinaryType, nullable = true,
        new MetadataBuilder().putString(Logical.Key, "decimal256")
          .putLong(Logical.ScaleKey, 10).build())))
    val r = new Random(42)
    val rows = (0 until 500).map { i =>
      Row(
        if (i % 7 == 0) null
        else new java.math.BigDecimal(new java.math.BigInteger(64, r.self)),
        if (i % 11 == 0) null else Half.toFloat(r.nextInt(0x10000).toShort),
        if (i % 13 == 0) null else { val b = new Array[Byte](32); r.nextBytes(b); b })
    }
    // pin the boundary values explicitly: u64 max, f16 ±Inf and a NaN bit
    // pattern, an all-0xFF (negative) decimal256
    val pinned = Seq(
      Row(new java.math.BigDecimal("18446744073709551615"), // 2^64 - 1
        Half.toFloat(0x7c00.toShort), // +Inf
        Array.fill[Byte](32)(0xFF.toByte)),
      Row(new java.math.BigDecimal(0),
        Half.toFloat(0xfc00.toShort), // -Inf
        new Array[Byte](32)))
    val df = spark.createDataFrame((rows ++ pinned).asJava, schema)
    val dir = Files.createTempDirectory("graft-widened").toString
    df.coalesce(1).write.format("graft").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema.map(tagsOf) == schema.map(tagsOf))
    assert(back.schema.map(f => (f.name, f.dataType)) == schema.map(f => (f.name, f.dataType)))
    assert(canon(back) == canon(df))
  }
}
