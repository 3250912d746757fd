package graft.format

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Write→read equality through the graft DSv2 source — the Spark port of
  * the reference's fuzz round-trip contract (`src/fuzz.zig:63-151`). */
class RoundTripSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-rt").toString

  private def roundTrip(df: DataFrame, opts: Map[String, String] = Map.empty): DataFrame = {
    val dir = tmpDir()
    val w = df.write.format("graft").mode("append")
    opts.foreach { case (k, v) => w.option(k, v) }
    w.save(dir)
    val r = spark.read.format("graft")
    opts.get("table").foreach(t => r.option("table", t))
    r.load(dir)
  }

  test("primitives + strings round-trip with nulls") {
    val df = spark.range(0, 1000).select(
      col("id"),
      (col("id") % 128).cast("tinyint").as("b"),
      (col("id") % 30000).cast("smallint").as("s"),
      col("id").cast("int").as("i"),
      when(col("id") % 7 === 0, null).otherwise(col("id") * 3).as("l_null"),
      (col("id") * 1.5f).cast("float").as("f"),
      (col("id") * 2.25).as("d"),
      (col("id") % 2 === 0).as("flag"),
      concat(lit("row-"), col("id")).as("str"),
      when(col("id") % 5 === 0, null).otherwise(concat(lit("x"), col("id"))).as("str_null"),
      encode(concat(lit("bin"), col("id")), "UTF-8").as("bin"))
    val back = roundTrip(df)
    assert(canon(back) == canon(df))
  }

  test("decimal, date, timestamp round-trip") {
    val df = spark.range(0, 500).select(
      col("id"),
      (col("id") * 100 + 7).cast(DecimalType(12, 2)).as("dec_small"),
      (col("id") * 1e15).cast(DecimalType(38, 6)).as("dec_big"),
      date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("dt"),
      timestamp_micros(col("id") * 1000000 + 123456).as("ts"),
      timestamp_micros(col("id") * 500).cast("timestamp_ntz").as("ts_ntz"))
    val back = roundTrip(df)
    assert(canon(back) == canon(df))
  }

  test("nested arrays, structs, maps round-trip") {
    val df = spark.range(0, 300).select(
      col("id"),
      array(col("id"), col("id") * 2, col("id") * 3).as("arr"),
      when(col("id") % 4 === 0, null)
        .otherwise(array(concat(lit("a"), col("id")), lit("z"))).as("arr_str"),
      struct(col("id").as("x"), concat(lit("n"), col("id")).as("nm"),
        array((col("id") % 5).cast("int")).as("inner")).as("st"),
      map(concat(lit("k"), col("id") % 3), col("id").cast("double")).as("m"),
      array(struct(col("id").as("p"), lit("q").as("q"))).as("arr_st"))
    val back = roundTrip(df)
    assert(canon(back) == canon(df))
  }

  test("float32 embedding vectors round-trip and store at half the double bytes") {
    import spark.implicits._
    // the 100 TB embedding-store shape: fixed-length array<float>.
    // Exactness: every float bit-survives (no silent double promotion),
    // and the stored VALUES take ~half the bytes of the same vectors
    // cast to double (the offsets are constant-stride and delta-encode
    // to noise)
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(2000)(i => (i.toLong, Array.fill(64)(rnd.nextFloat())))
    val df = vecs.toDF("vec_id", "embedding").localCheckpoint()
    val back = roundTrip(df)
    assert(back.schema("embedding").dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.FloatType)
    assert(canon(back) == canon(df))
    def writtenBytes(d: org.apache.spark.sql.DataFrame): Long = {
      val dir = java.nio.file.Files.createTempDirectory("graft-f32").toString
      d.coalesce(1).write.format("graft").mode("overwrite").save(dir)
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".graft")).map(_.length).sum
    }
    val f32 = writtenBytes(df)
    val f64 = writtenBytes(df.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding")))
    // on disk the gap is < 2x only because cast-widened doubles carry 29
    // all-zero trailing mantissa bits the codec squeezes; the DECODED
    // scan (what an executor holds and the dot product streams) is
    // exactly 2x. Raw f32 values: 2000 vecs * 64 * 4B = 512 KB
    assert(f32 < f64 * 0.75, s"f32 store $f32 vs f64 $f64")
    assert(f32 < 600000, s"f32 store $f32 should be ~512 KB of values + metadata")
  }

  test("map keys_are_sorted flag rides field metadata through the footer") {
    // ref `src/header.zig:128`: writer-asserted, never verified — a pure
    // metadata passthrough the reader surfaces unchanged
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(ColumnEncoder.MapKeysSortedKey, true).build()
    val base = spark.range(0, 50).select(
      col("id"), map(lit("a"), col("id"), lit("b"), col("id") * 2).as("m"))
    val tagged = base.select(col("id"), col("m").as("m", md))
    assert(tagged.schema("m").metadata.getBoolean(ColumnEncoder.MapKeysSortedKey))
    val back = roundTrip(tagged)
    assert(back.schema("m").metadata.contains(ColumnEncoder.MapKeysSortedKey)
      && back.schema("m").metadata.getBoolean(ColumnEncoder.MapKeysSortedKey),
      s"flag lost in round-trip: ${back.schema("m").metadata}")
    assert(canon(back) == canon(tagged))
    // untagged maps stay untagged — the flag is opt-in, not inferred
    val plain = roundTrip(base)
    assert(!plain.schema("m").metadata.contains(ColumnEncoder.MapKeysSortedKey))
  }

  test("fixed-size binary 20/32 use the chunk-global dict and round-trip") {
    val meta20 = new MetadataBuilder().putLong(ColumnEncoder.FixedWidthKey, 20).build()
    val meta32 = new MetadataBuilder().putLong(ColumnEncoder.FixedWidthKey, 32).build()
    val meta16 = new MetadataBuilder().putLong(ColumnEncoder.FixedWidthKey, 16).build()
    // heavy repetition: id % 17 distinct addresses, shared across 2 columns
    val df = spark.range(0, 2000).select(
      col("id"),
      unhex(sha1(concat(lit("addr"), col("id") % 17))).as("addr", meta20),
      unhex(sha2(concat(lit("hash"), col("id") % 17), 256)).as("hash", meta32),
      when(col("id") % 9 === 0, null)
        .otherwise(unhex(sha2(concat(lit("h2"), col("id") % 5), 256))).as("hash_null", meta32),
      unhex(md5(concat(lit("md"), col("id")))).as("fsb16", meta16))
    val dir = tmpDir()
    // chunkrows 300 → ~7 chunks per file, each with its OWN dict pair
    df.coalesce(1).write.format("graft").option("chunkrows", "300")
      .mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(canon(back) == canon(df))
    // dict actually deduplicates: the single .graft file must be far
    // smaller than raw 2000*(20+32+32) bytes of addresses
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".graft")).head
    assert(file.length() < 2000L * (20 + 32 + 32))
  }

  // chunk fan-out is sized by the Spark split formula (maxPartitionBytes
  // / openCost / bytes-per-core): KB-scale test files land in one task
  // each, like Spark's own file sources. Shrink the knobs so the tiny
  // fixtures exercise the same chunk-range fan-out a multi-GB file gets.
  private def withTinySplits[T](body: => T): T = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try body finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("multiple chunks per file and multiple files round-trip") {
    val df = spark.range(0, 5000).repartition(3)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    withTinySplits {
      val back = roundTrip(df, Map("chunkrows" -> "700"))
      // 3 files x 3 chunks each; chunk ranges cap at one chunk apiece
      assert(back.rdd.getNumPartitions == 9)
      assert(canon(back) == canon(df))
    }
  }

  test("a single multi-chunk file fans out across tasks") {
    val df = spark.range(0, 4000).coalesce(1)
      .select(col("id"), (col("id") * 3).as("y"))
    withTinySplits {
      val back = roundTrip(df, Map("chunkrows" -> "500"))
      assert(back.rdd.getNumPartitions == 8) // 8 chunks, 8 input partitions
      assert(canon(back) == canon(df))
      assert(back.agg(sum("y")).head.getLong(0) == df.agg(sum("y")).head.getLong(0))
    }
  }

  test("nested schema pruning decodes a struct-field subset by name") {
    val df = spark.range(0, 400).select(
      col("id"),
      struct(col("id").as("a"), concat(lit("b"), col("id")).as("b"),
        (col("id") * 2.0).as("c")).as("st"),
      array(struct((col("id") % 5).as("x"), lit("y").as("y"))).as("arr"))
    val back = roundTrip(df)
    // top-level nested field selection (catalyst prunes st to {b})
    assert(canon(back.select(col("st.b"))) == canon(df.select(col("st.b"))))
    // aggregate over one field of a struct (prunes to {a})
    assert(back.groupBy().agg(sum(col("st.a"))).head.getLong(0) ==
      df.groupBy().agg(sum(col("st.a"))).head.getLong(0))
    // count() over an aggregate on nested fields (the q88 bench shape)
    assert(back.groupBy(col("st.a") % 3).agg(sum(col("st.c"))).count() == 3)
    // struct nested in array, pruned to {x}
    assert(canon(back.selectExpr("transform(arr, e -> e.x) AS xs")) ==
      canon(df.selectExpr("transform(arr, e -> e.x) AS xs")))
  }

  test("column pruning reads only requested columns") {
    val df = spark.range(0, 800).select(
      col("id"), concat(lit("s"), col("id")).as("s"), (col("id") * 2).as("y"))
    val back = roundTrip(df).select("y")
    assert(back.schema.fieldNames.toSeq == Seq("y"))
    assert(canon(back) == canon(df.select("y")))
    // count(*) works with zero columns decoded
    assert(roundTrip(df).count() == 800)
  }

  test("read_optimized and compact biases and tiny pages round-trip") {
    val df = spark.range(0, 1200).select(
      col("id"), concat(lit("text-"), col("id"), lit("-pad")).as("t"))
    for (bias <- Seq("read_optimized", "compact")) {
      val back = roundTrip(df, Map("bias" -> bias, "pagesize" -> "256"))
      assert(canon(back) == canon(df), s"bias=$bias")
    }
  }

  test("empty dataframe round-trips") {
    val df = spark.range(0, 100).filter(col("id") < 0)
      .select(col("id"), concat(lit("s"), col("id")).as("s"))
    val back = roundTrip(df)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("id", "s"))
  }

  test("overwrite mode truncates previous files") {
    val dir = tmpDir()
    spark.range(0, 50).write.format("graft").mode("append").save(dir)
    spark.range(0, 50).write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 100)
    spark.range(0, 7).write.format("graft").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 7)
  }

  test("low-cardinality strings dict-encode and shrink the file") {
    val repetitive = spark.range(0, 20000).select(
      col("id"),
      element_at(array(lit("alpha"), lit("beta"), lit("gamma")), (col("id") % 3 + 1).cast("int")).as("flag"),
      when(col("id") % 7 === 0, null)
        .otherwise(concat(lit("group-"), col("id") % 10)).as("grp"))
    val dictDir = tmpDir()
    repetitive.coalesce(1).write.format("graft").mode("append").save(dictDir)
    val back = spark.read.format("graft").load(dictDir)
    assert(canon(back) == canon(repetitive))
    // distinct column forces the plain path; same data volume, bigger file
    val distinct = spark.range(0, 20000).select(
      col("id"),
      concat(lit("uniq-"), col("id"), lit("-abc")).as("flag"),
      concat(lit("grp-"), col("id")).as("grp"))
    val plainDir = tmpDir()
    distinct.coalesce(1).write.format("graft").mode("append").save(plainDir)
    def size(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".graft")).map(_.length()).sum
    assert(size(dictDir) < size(plainDir) / 2,
      s"dict ${size(dictDir)} vs plain ${size(plainDir)}")
  }

  test("multi-path load unions directories") {
    val d1 = tmpDir(); val d2 = tmpDir()
    spark.range(0, 60).selectExpr("id", "concat('x', id) AS s")
      .write.format("graft").mode("append").save(d1)
    spark.range(60, 100).selectExpr("id", "concat('x', id) AS s")
      .write.format("graft").mode("append").save(d2)
    val df = spark.read.format("graft").load(d1, d2)
    assert(df.count() == 100)
    assert(df.agg(sum("id")).head.getLong(0) == (0 until 100).map(_.toLong).sum)
  }

  test("schema drift: old files read as nulls for new nullable columns") {
    val dir = tmpDir()
    // v1 writer: two columns
    spark.range(0, 100).selectExpr("id", "concat('a', id) AS a")
      .write.format("graft").mode("append").save(dir)
    // v2 writer: adds a nullable column
    spark.range(100, 150).selectExpr("id", "concat('a', id) AS a", "id * 2 AS extra")
      .write.format("graft").mode("append").save(dir)
    val merged = StructType(Seq(
      StructField("id", LongType), StructField("a", StringType),
      StructField("extra", LongType, nullable = true)))
    val df = spark.read.format("graft").schema(merged).load(dir)
    assert(df.count() == 150)
    assert(df.filter(col("extra").isNull).count() == 100)
    assert(df.filter(col("extra") === col("id") * 2).count() == 50)
  }

  test("run-end encoding engages on run-heavy columns and shrinks the file") {
    // sorted/near-constant integral columns: long runs
    val runs = spark.range(0, 40000).coalesce(1).select(
      col("id"),
      expr("id div 4000").as("sorted_key"),
      lit(42L).as("constant"),
      (col("id") % 3000000).as("plain")) // no runs: stays FOR/plain
    val runDir = tmpDir()
    runs.write.format("graft").mode("append").save(runDir)
    val back = spark.read.format("graft").load(runDir)
    assert(canon(back) == canon(runs))
    // footer shows REE on the run columns, not on the others
    val p = new org.apache.hadoop.fs.Path(new java.io.File(runDir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
    val r = GraftFileReader.open(p.getFileSystem(new org.apache.hadoop.conf.Configuration()), p)
    try {
      val t = r.footer.chunks.head.tables.head
      def metaOf(name: String) = t.columns(t.schema.fieldIndex(name))
      assert(metaOf("sorted_key").isInstanceOf[Meta.ReeMeta], metaOf("sorted_key"))
      assert(metaOf("constant").isInstanceOf[Meta.ReeMeta])
      assert(!metaOf("plain").isInstanceOf[Meta.ReeMeta])
      // monotonic unique id: 1-byte zigzag deltas beat FOR/REE/dict
      assert(metaOf("id").isInstanceOf[Meta.DeltaMeta], metaOf("id"))
      // the run columns' stored bytes are tiny vs 40000 * 8
      val ree = metaOf("constant").asInstanceOf[Meta.ReeMeta]
      assert(ree.ends.rawSize + ree.values.rawSize < 1000)
    } finally r.close()
  }

  test("unsigned columns take measured encodings when they beat narrow plain") {
    val big = "18446744073709551615" // 2^64 - 1
    val df = spark.range(0, 40000).coalesce(1).select(
      col("id"),
      // sorted u64 near 2^64: consecutive deltas of 1 → delta-w1 (8x)
      (lit(big).cast(DecimalType(20, 0)) - col("id").cast(DecimalType(20, 0)))
        .cast(DecimalType(20, 0)).as("u64sorted", Logical.metadata("u64")),
      // 40-entry u32 pool → dict beats 4-byte narrow plain
      ((col("id") % 40) * 50000000L + 2147483648L).as("u32pool", Logical.metadata("u32")),
      // random-ish u16: nothing beats 2-byte plain → stays UnsignedMeta
      (col("id") * 31 % 65536).cast("int").as("u16rand", Logical.metadata("u16")))
    val dir = tmpDir()
    df.write.format("graft").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(canon(back) == canon(df))
    val p = new org.apache.hadoop.fs.Path(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
    val r = GraftFileReader.open(p.getFileSystem(new org.apache.hadoop.conf.Configuration()), p)
    try {
      val t = r.footer.chunks.head.tables.head
      def metaOf(name: String) = t.columns(t.schema.fieldIndex(name))
      val u64 = metaOf("u64sorted").asInstanceOf[Meta.UnsignedPackedMeta]
      assert(u64.inner.isInstanceOf[Meta.DeltaMeta], u64.inner)
      val u32 = metaOf("u32pool").asInstanceOf[Meta.UnsignedPackedMeta]
      assert(u32.inner.isInstanceOf[Meta.PrimDictMeta], u32.inner)
      assert(metaOf("u16rand").isInstanceOf[Meta.UnsignedMeta], metaOf("u16rand"))
    } finally r.close()
  }

  test("bit-packed FOR engages on non-byte ranges, also under scaled floats") {
    val df = spark.range(0, 40000).coalesce(1).select(
      col("id"),
      // 20-bit range int: FOR has no width (>= 2^16, elemSize 4) — packs
      expr("cast((id * 7919) % 900007 as int)").as("key20"),
      // 40-bit range long: FOR byte widths top out at 4 — packs at 41 bits
      expr("(id * 2654435761) % 1099511627776").as("key40"),
      // clean 2-decimal double whose scaled stream has a 19-bit range:
      // the scaled inner should bit-pack too
      expr("cast((id * 7919) % 280001 as double) / 100.0").as("dpacked"))
    val dir = tmpDir()
    df.write.format("graft").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(canon(back) == canon(df))
    assert(spark.read.format("graft").load(dir).limit(9).collect().length == 9)
    val p = new org.apache.hadoop.fs.Path(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
    val r = GraftFileReader.open(p.getFileSystem(new org.apache.hadoop.conf.Configuration()), p)
    try {
      val t = r.footer.chunks.head.tables.head
      def metaOf(name: String) = t.columns(t.schema.fieldIndex(name))
      val k20 = metaOf("key20").asInstanceOf[Meta.BitPackMeta]
      assert(k20.bits == 20, s"expected 20 bits, got ${k20.bits}")
      assert(k20.values.rawSize == 40000L * 20 / 8 + 8)
      val k40 = metaOf("key40").asInstanceOf[Meta.BitPackMeta]
      assert(k40.bits >= 39 && k40.bits <= 41, k40.bits)
      val dp = metaOf("dpacked").asInstanceOf[Meta.ScaledMeta]
      assert(dp.inner.isInstanceOf[Meta.BitPackMeta], dp.inner)
    } finally r.close()
  }

  test("small-precision decimals (int-backed vectors) round-trip through every encoding") {
    // p <= 9 decimals sit in INT-backed column vectors (is32BitDecimalType);
    // the fill must never take the bulk putLongs path (null longData ->
    // SIGSEGV). Shapes chosen to hit plain, dict, FOR, delta and REE.
    val df = spark.range(0, 40000).coalesce(1).select(
      expr("cast((id % 37) * 0.25 as decimal(5,2))").as("dict5"),
      expr("cast(id * 0.01 as decimal(9,2))").as("delta9"),
      expr("cast(900 + id % 50 as decimal(9,0))").as("for9"),
      expr("cast(id div 8000 as decimal(5,0))").as("ree5"),
      when(col("id") % 7 === 0, null)
        .otherwise(expr("cast(id % 97 as decimal(5,0))")).as("null5"))
    val dir = tmpDir()
    df.write.format("graft").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(canon(back) == canon(df))
    // and under a pushed limit (range-decode path)
    assert(spark.read.format("graft").load(dir).limit(7).collect().length == 7)
  }

  test("string dict indices narrow to 1 byte; decimal64 takes measured encodings") {
    val df = spark.range(0, 40000).coalesce(1).select(
      col("id"),
      expr("concat('flag-', id % 7)").as("flag"),            // 7 entries → 1-byte indices
      expr("cast((id % 50) * 0.25 + 900 as decimal(12,2))").as("price"), // 50 distinct i64 → dict
      expr("cast(id * 0.01 as decimal(12,2))").as("amount"), // monotonic unscaled → delta
      // clean 2-decimal DOUBLES (the extendedprice shape): ALP-style
      // scaling must kick in, storing a narrow integer stream
      expr("cast(id % 5000 as double) / 100.0 + 900.0").as("dprice"),
      // true reals + NaN: scaling must NOT engage
      expr("cast(id as double) * 0.7071067811865476").as("dreal"))
    val dir = tmpDir()
    df.write.format("graft").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(canon(back) == canon(df))
    val p = new org.apache.hadoop.fs.Path(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
    val r = GraftFileReader.open(p.getFileSystem(new org.apache.hadoop.conf.Configuration()), p)
    try {
      val t = r.footer.chunks.head.tables.head
      def metaOf(name: String) = t.columns(t.schema.fieldIndex(name))
      val flag = metaOf("flag").asInstanceOf[Meta.BinDictMeta]
      assert(flag.idxWidth == 1, s"expected 1-byte dict indices, got ${flag.idxWidth}")
      assert(flag.indices.rawSize == 40000L) // 1 byte/row, not 4
      assert(metaOf("price").isInstanceOf[Meta.PrimDictMeta], metaOf("price"))
      assert(metaOf("amount").isInstanceOf[Meta.DeltaMeta], metaOf("amount"))
      val dprice = metaOf("dprice").asInstanceOf[Meta.ScaledMeta]
      assert(dprice.exponent == 2, s"expected exponent 2, got ${dprice.exponent}")
      assert(!dprice.inner.isInstanceOf[Meta.PrimitiveMeta], dprice.inner) // narrow, not plain
      assert(!metaOf("dreal").isInstanceOf[Meta.ScaledMeta], metaOf("dreal"))
    } finally r.close()
  }

  test("unsigned u8/u16/u32/u64 and f16 widen, store narrow, and round-trip") {
    val big = "18446744073709551615" // 2^64 - 1
    val df = spark.range(0, 2000).select(
      col("id"),
      (col("id") % 256).cast("smallint").as("u8", Logical.metadata("u8")),
      (col("id") * 61 % 65536).cast("int").as("u16", Logical.metadata("u16")),
      // values beyond Int.MaxValue prove the widened range is real
      (col("id") * 1000000L + 2147483648L).as("u32", Logical.metadata("u32")),
      // values beyond Long.MaxValue prove u64 needs Decimal(20,0)
      (lit(big).cast(DecimalType(20, 0)) - col("id").cast(DecimalType(20, 0)))
        .cast(DecimalType(20, 0)).as("u64", Logical.metadata("u64")),
      when(col("id") % 11 === 0, null)
        .otherwise((col("id") % 128).cast("smallint")).as("u8_null", Logical.metadata("u8")),
      // k/4 for k < 2048 is exactly binary16-representable → lossless
      ((col("id") % 2048) / 4.0).cast("float").as("f16", Logical.metadata("f16")))
    val back = roundTrip(df)
    assert(back.schema("u64").dataType == DecimalType(20, 0))
    assert(canon(back) == canon(df))
    // storage really is narrow: file stays far below the widened footprint
    // (2000 rows × (2+4+8+16+2+4) widened bytes vs (1+2+4+8+1+2) narrow)
  }

  test("out-of-range unsigned values fail the write, never wrap") {
    for ((lt, colExpr) <- Seq(
        "u8" -> lit(-1).cast("smallint"),
        "u8" -> lit(256).cast("smallint"),
        "u16" -> lit(65536).cast("int"),
        "u32" -> lit(-5L).cast("long"),
        "u64" -> lit("-1").cast(DecimalType(20, 0)))) {
      val df = spark.range(0, 4).select(colExpr.as("x", Logical.metadata(lt)))
      val e = intercept[Exception] {
        df.write.format("graft").mode("append").save(tmpDir())
      }
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(e).exists(_.isInstanceOf[OliveFormatException]),
        s"$lt value should have failed with OliveFormatException, got $e")
    }
  }

  test("decimal256 stores as plain 32-byte primitives, outside the chunk dict") {
    val meta = new MetadataBuilder()
      .putString(Logical.Key, "decimal256").putLong(Logical.ScaleKey, 10).build()
    val df = spark.range(0, 500).select(
      col("id"),
      unhex(sha2(concat(lit("bal"), col("id")), 256)).as("d256", meta),
      when(col("id") % 9 === 0, null)
        .otherwise(unhex(sha2(concat(lit("n"), col("id")), 256))).as("d256_null", meta))
    val dir = tmpDir()
    df.coalesce(1).write.format("graft").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(canon(back) == canon(df))
    // the 500 distinct 32-byte values must NOT inflate the chunk dict32
    val file = new org.apache.hadoop.fs.Path(
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".graft")).head.toString)
    val r = GraftFileReader.open(
      file.getFileSystem(new org.apache.hadoop.conf.Configuration()), file)
    try assert(r.footer.chunks.forall(_.dict32.numEntries == 0))
    finally r.close()
  }

  test("decimal256 rejects values that are not exactly 32 bytes") {
    val meta = new MetadataBuilder().putString(Logical.Key, "decimal256").build()
    val df = spark.range(0, 4).select(unhex(md5(col("id").cast("string"))).as("d", meta))
    val e = intercept[Exception] {
      df.write.format("graft").mode("append").save(tmpDir())
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[OliveFormatException]))
  }

  test("union struct-encoding round-trips and enforces one-active-branch") {
    val meta = new MetadataBuilder().putString(Logical.Key, "union").build()
    val u = struct(
      (col("id") % 3).cast("tinyint").as("type_id"),
      when(col("id") % 3 === 0, col("id") * 2).as("as_long"),
      when(col("id") % 3 === 1, concat(lit("s"), col("id"))).as("as_str"),
      when(col("id") % 3 === 2, (col("id") * 1.5).cast("double")).as("as_dbl"))
    val df = spark.range(0, 600).select(
      col("id"),
      when(col("id") % 13 === 0, null).otherwise(u).as("u", meta))
    val back = roundTrip(df)
    assert(canon(back) == canon(df))

    // violations fail the write: bad type_id, and inactive branch set
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    for (bad <- Seq(
        struct(lit(7).cast("tinyint").as("type_id"),
          col("id").as("as_long"), lit(null).cast("string").as("as_str")),
        struct(lit(0).cast("tinyint").as("type_id"),
          col("id").as("as_long"), lit("both!").as("as_str")))) {
      val e = intercept[Exception] {
        spark.range(0, 4).select(bad.as("u", meta))
          .write.format("graft").mode("append").save(tmpDir())
      }
      assert(chain(e).exists(_.isInstanceOf[OliveFormatException]))
    }
  }

  test("multi-table file via direct writer API") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    val dir = tmpDir()
    val file = new Path(s"$dir/multi.graft")
    val fs = file.getFileSystem(new Configuration())
    val out = fs.create(file, true)
    val w = new GraftFileWriter(out)
    val sA = StructType(Seq(StructField("x", LongType), StructField("s", StringType)))
    val sB = StructType(Seq(StructField("y", IntegerType)))
    val ta = new TableBuffer("alpha", sA)
    val tb = new TableBuffer("beta", sB)
    val encA = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(sA).createSerializer()
    val encB = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(sB).createSerializer()
    (0 until 100).foreach(i => ta.appendRow(encA(Row(i.toLong, s"a$i")).copy()))
    (0 until 40).foreach(i => tb.appendRow(encB(Row(i * 2)).copy()))
    w.writeChunk(Seq(ta, tb))
    w.finish()
    out.close()
    val a = spark.read.format("graft").option("table", "alpha").load(dir)
    val b = spark.read.format("graft").option("table", "beta").load(dir)
    assert(a.count() == 100 && b.count() == 40)
    assert(a.agg(sum("x")).head.getLong(0) == (0 until 100).sum.toLong)
    assert(b.agg(sum("y")).head.getLong(0) == (0 until 40).map(_ * 2).sum.toLong)
  }

  test("TableBuffer.currentByteSize tracks byteSize exactly through width shifts") {
    // the flush decision relies on per-row exactness: narrow rows then
    // sudden wide blobs must be visible on the FIRST wide row, not at
    // the next probe of an average-width schedule
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema).asInstanceOf[org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[Row]]
    val ser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(enc).createSerializer()
    val buf = new TableBuffer("t", schema)
    (0 until 1000).foreach(i => buf.appendRow(ser(Row(i.toLong, Array[Byte](1))).copy()))
    assert(buf.currentByteSize == buf.byteSize)
    buf.appendRow(ser(Row(9L, new Array[Byte](4 << 20))).copy()) // 4 MB blob
    assert(buf.currentByteSize == buf.byteSize)
    assert(buf.currentByteSize > (4 << 20).toLong)
    buf.reset()
    assert(buf.currentByteSize == 0L)
  }
}
