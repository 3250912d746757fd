package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.format.ColumnEncoder

/** The graft columnar format exercised through the driver's oracle gate:
  * each query writes a test table to graft (dict-encoded, paged,
  * compressed), reads it back through the DSv2 scan, and computes an
  * aggregate whose oracle runs on the ORIGINAL parquet — so a hash match
  * proves the format round-trip is lossless, not just self-consistent.
  */
object FormatOps {

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic per-sf scratch dir for graft files (shared with the
    * other gate-query modules so every query scratches under one root). */
  private[operators] def graftDir(d: String, name: String): String =
    s"/tmp/graft_gate/${d.replaceAll("[^A-Za-z0-9.]", "_")}/$name"

  /** Idempotent-rerun cleanup through the HADOOP filesystem the graft
    * writes resolve paths with — a java.io.File delete silently no-ops
    * when fs.defaultFS is non-local, and the gate's CREATE TABLE then
    * fails "already exists" on every second run. */
  private def deleteDirQuietly(s: SparkSession, dir: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    } catch { case _: java.io.IOException => }

  private def roundTrip(s: SparkSession, df: DataFrame, dir: String): DataFrame = {
    df.write.format("graft").mode("overwrite").save(dir)
    s.read.format("graft").load(dir)
  }

  // ---- q80: lineitem through graft, then the Q1-style aggregate -----------
  private val q80: Q = (s, d) => {
    val l = roundTrip(s, Tables.lineitem(s, d), graftDir(d, "lineitem"))
    l.filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  private val q80Sql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty,
      |  round(sum(l_extendedprice), 4) AS sum_base_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '2000-01-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- q81: filter + projection over a graft scan (pruned read) -----------
  private val q81: Q = (s, d) => {
    // layout-aware write: sorting by the hot filter column clusters value
    // ranges per chunk, so the footer min/max stats actually skip chunks
    val o = roundTrip(s,
      Tables.orders(s, d).sortWithinPartitions(col("o_totalprice")),
      graftDir(d, "orders"))
    o.filter(col("o_orderstatus") === "O" && col("o_totalprice") > 250000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }
  private val q81Sql =
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |WHERE o_orderstatus = 'O' AND o_totalprice > 250000.0
      |ORDER BY o_orderkey""".stripMargin

  // ---- q82: 20/32-byte fingerprints through the chunk-global dict ---------
  private val q82: Q = (s, d) => {
    val meta20 = new MetadataBuilder().putLong(ColumnEncoder.FixedWidthKey, 20).build()
    val meta32 = new MetadataBuilder().putLong(ColumnEncoder.FixedWidthKey, 32).build()
    val docs = Tables.documents(s, d).select(
      col("doc_id"),
      col("source"),
      // heavy repetition across rows => the dict dedups on disk
      unhex(substring(sha2(col("source").cast("binary"), 256), 1, 40)).as("addr20", meta20),
      unhex(sha2(col("lang").cast("binary"), 256)).as("hash32", meta32))
    val back = roundTrip(s, docs, graftDir(d, "docs_fsb"))
    back.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("addr20")).as("n_addr"),
        countDistinct(col("hash32")).as("n_hash"),
        max(hex(col("addr20"))).as("max_addr_hex"))
      .orderBy(col("source"))
  }
  private val q82Sql =
    """SELECT source, count(*) AS n,
      |  count(DISTINCT unhex(substr(sha256(source), 1, 40))) AS n_addr,
      |  count(DISTINCT unhex(sha256(lang))) AS n_hash,
      |  upper(max(substr(sha256(source), 1, 40))) AS max_addr_hex
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- q83: array<float> embeddings through graft list columns ------------
  // written with the compact bias: zstd value buffers cover the one gate
  // query whose payload is dense float arrays
  private val q83: Q = (s, d) => {
    val dir = graftDir(d, "embeddings")
    Tables.embeddings(s, d).write.format("graft").option("bias", "compact")
      .mode("overwrite").save(dir)
    val e = s.read.format("graft").load(dir)
    e.groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        sum(size(col("embedding")).cast("long")).as("total_dims"),
        round(sum(element_at(col("embedding"), 1).cast("double")), 4).as("sum_first"))
      .orderBy(col("label"))
  }
  private val q83Sql =
    """SELECT label, count(*) AS n,
      |  CAST(sum(len(embedding)) AS BIGINT) AS total_dims,
      |  round(sum(CAST(embedding[1] AS DOUBLE)), 4) AS sum_first
      |FROM embeddings
      |GROUP BY label
      |ORDER BY label""".stripMargin

  // ---- q84: multi-table catalog namespace + catalog SQL --------------------
  // nation and region produced by DISTRIBUTED per-table writes into ONE
  // catalog namespace dir (each task appends its own file — no driver
  // collect; the reference's multi-table chunk, `chunk.zig:15-38`, maps
  // to "N named tables under one namespace", and single-FILE multi-table
  // chunks remain available through the direct writer API). Joined in SQL
  // through the GraftCatalog; oracle joins the original parquet.
  private val q84: Q = (s, d) => {
    val root = graftDir(d, "catalog")
    val ns = s"$root/tpch"
    // `tables` option: nation column-splits into TWO named tables that
    // share every file and chunk — the reference's signature multi-table
    // chunk (`src/chunk.zig:15-38`) produced by a plain distributed DSv2
    // write. The query below reconstructs nation by joining the split
    // tables back through the catalog, so the oracle proves the shared
    // file holds both halves losslessly.
    Tables.nation(s, d)
      .write.format("graft")
      .option("tables", "nation_geo:n_nationkey,n_regionkey;nation_names:n_nationkey,n_name")
      .mode("overwrite").save(ns) // overwrite sweeps the whole ns: idempotent reruns
    Tables.region(s, d).write.format("graft").option("table", "region")
      .mode("append").save(ns)
    s.conf.set("spark.sql.catalog.graft_q84", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_q84.root", root)
    s.sql("""
      SELECT r.r_name, count(*) AS n_nations
      FROM graft_q84.tpch.nation_geo g
      JOIN graft_q84.tpch.nation_names nm ON g.n_nationkey = nm.n_nationkey
      JOIN graft_q84.tpch.region r ON g.n_regionkey = r.r_regionkey
      GROUP BY r.r_name
      ORDER BY r.r_name""")
  }
  private val q84Sql =
    """SELECT r_name, count(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  // ---- q85: partitioned graft layout + partition pruning -------------------
  // ONE dynamic-partition write routes every document task-side into
  // lang=<v>/ dirs (GraftPartitionedDataWriter — no driver loop, no
  // per-value job); the read filters on the partition column, so
  // non-matching files are pruned at planning time and never scheduled.
  private val q85: Q = (s, d) => {
    val root = graftDir(d, "docs_by_lang")
    Tables.documents(s, d)
      .filter(col("lang").isin("en", "de", "fr", "es")) // 2 matching + 2 prunable
      .write.format("graft").option("partitionBy", "lang")
      .mode("overwrite").save(root)
    s.read.format("graft").load(root)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("source"))
  }
  private val q85Sql =
    """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE lang IN ('en', 'de')
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  // ---- q86: interop with Spark's built-in source formats -------------------
  // The same orders slice through csv, json and orc round-trips; each
  // format's aggregate must equal the parquet oracle — the "Spark
  // built-ins for interop" row of SURVEY §2.B.
  private val q86: Q = (s, d) => {
    val base = graftDir(d, "interop")
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
    o.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    o.write.mode("overwrite").json(s"$base/json")
    o.write.mode("overwrite").orc(s"$base/orc")
    val readers = Seq(
      "csv" -> s.read.schema(o.schema).option("header", "true").csv(s"$base/csv"),
      "json" -> s.read.schema(o.schema).json(s"$base/json"),
      "orc" -> s.read.orc(s"$base/orc"))
    readers.map { case (fmt, df) =>
      df.agg(
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 4).as("total"),
        countDistinct(col("o_custkey")).as("n_cust"))
        .withColumn("fmt", lit(fmt))
        .select(col("fmt"), col("n"), col("total"), col("n_cust"))
    }.reduce(_.union(_)).orderBy(col("fmt"))
  }
  private val q86Sql =
    """WITH a AS (SELECT count(*) AS n, round(sum(o_totalprice), 4) AS total,
      |                  count(DISTINCT o_custkey) AS n_cust FROM orders)
      |SELECT fmt, n, total, n_cust
      |FROM a CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) AS f(fmt)
      |ORDER BY fmt""".stripMargin

  // ---- q87: olive unsigned/f16 types through widened Spark columns ---------
  // u8/u16/u32/u64/f16 round-trip graft at the narrow storage width
  // (UnsignedMeta), query as Short/Int/Long/Decimal(20,0)/Float; the
  // oracle recomputes every aggregate from the original parquet, so a
  // match proves the widen→narrow→widen cycle is lossless (no wrap, no
  // precision loss). f16 payloads are chosen binary16-exact (k/4, k<2048).
  private val q87: Q = (s, d) => {
    import graft.format.Logical
    import org.apache.spark.sql.types.DecimalType
    val big = "18446744073709551615" // 2^64 - 1
    val o = Tables.orders(s, d).select(
      col("o_orderkey"),
      (col("o_orderkey") % 256).cast("smallint").as("u8", Logical.metadata("u8")),
      (col("o_orderkey") % 65536).cast("int").as("u16", Logical.metadata("u16")),
      (col("o_orderkey") + 2147483648L).as("u32", Logical.metadata("u32")),
      (lit(big).cast(DecimalType(20, 0)) - col("o_orderkey").cast(DecimalType(20, 0)))
        .cast(DecimalType(20, 0)).as("u64", Logical.metadata("u64")),
      ((col("o_orderkey") % 2048) / 4.0).cast("float").as("f16", Logical.metadata("f16")))
    val back = roundTrip(s, o, graftDir(d, "orders_unsigned"))
    back.groupBy((col("u8") % 8).cast("int").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("u16").cast("long")).as("sum_u16"),
        sum(col("u32") - 2147483648L).as("sum_u32"),
        // 2^64-1 - u64 = o_orderkey: BIGINT-safe proof the u64 survived
        max((lit(big).cast(DecimalType(21, 0)) - col("u64")).cast("long")).as("max_key"),
        round(sum(col("f16").cast("double")), 2).as("sum_f16"))
      .orderBy(col("grp"))
  }
  private val q87Sql =
    """SELECT CAST(o_orderkey % 256 % 8 AS INT) AS grp,
      |  count(*) AS n,
      |  CAST(sum(o_orderkey % 65536) AS BIGINT) AS sum_u16,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_u32,
      |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
      |  round(sum(CAST(o_orderkey % 2048 AS DOUBLE) / 4.0), 2) AS sum_f16
      |FROM orders
      |GROUP BY grp
      |ORDER BY grp""".stripMargin

  // ---- q88: olive dense/sparse unions as validated struct-encoding ---------
  // struct<type_id, branches…> with exactly one active branch (write-time
  // enforced — UnionEncoder); per-branch aggregates after a graft
  // round-trip must match the parquet oracle computing the same branches.
  private val q88: Q = (s, d) => {
    import graft.format.Logical
    val unionMeta = new MetadataBuilder().putString(Logical.Key, "union").build()
    val docs = Tables.documents(s, d).select(
      col("doc_id"),
      struct(
        (col("doc_id") % 2).cast("tinyint").as("type_id"),
        when(col("doc_id") % 2 === 0, col("n_chars").cast("long")).as("as_num"),
        when(col("doc_id") % 2 === 1, col("lang")).as("as_str")).as("u", unionMeta))
    val back = roundTrip(s, docs, graftDir(d, "docs_union"))
    back.groupBy(col("u.type_id").as("type_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("u.as_num")).as("sum_num"),
        countDistinct(col("u.as_str")).as("n_str"))
      .orderBy(col("type_id"))
  }
  private val q88Sql =
    """SELECT CAST(doc_id % 2 AS TINYINT) AS type_id, count(*) AS n,
      |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars END) AS BIGINT) AS sum_num,
      |  count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_str
      |FROM documents
      |GROUP BY type_id
      |ORDER BY type_id""".stripMargin

  // ---- q89: COUNT/MIN/MAX answered from footer metadata --------------------
  // The aggregate pushes into the graft scan (SupportsPushDownAggregates):
  // partial rows come from footer numRows + chunk min/max stats, ZERO data
  // pages decompressed — the metadata-only path a 100 TB `SELECT count(*)`
  // should take. The oracle recomputes from the original parquet.
  private val q89: Q = (s, d) => {
    val o = roundTrip(s, Tables.orders(s, d), graftDir(d, "orders_agg"))
    o.selectExpr(
      "count(*) AS n",
      "min(o_orderkey) AS min_key", "max(o_orderkey) AS max_key",
      "min(o_custkey) AS min_cust", "max(o_custkey) AS max_cust")
  }
  private val q89Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(o_orderkey) AS BIGINT) AS min_key, CAST(max(o_orderkey) AS BIGINT) AS max_key,
      |  CAST(min(o_custkey) AS BIGINT) AS min_cust, CAST(max(o_custkey) AS BIGINT) AS max_cust
      |FROM orders""".stripMargin

  // ---- q90: star join with runtime (DPP) partition pruning -----------------
  // documents partitioned by lang; a tiny dimension keeps only the EMEA
  // languages. The runtime IN-filter from the dimension reaches the graft
  // scan (SupportsRuntimeFiltering) and drops the other partitions at
  // execution time — the oracle just recomputes the join from parquet.
  private val q90: Q = (s, d) => {
    import s.implicits._
    val root = graftDir(d, "docs_dpp")
    Tables.documents(s, d).filter(col("lang").isin("en", "de", "fr", "es"))
      .write.format("graft").option("partitionBy", "lang")
      .mode("overwrite").save(root)
    val dim = Seq(("de", "emea"), ("fr", "emea"), ("en", "amer"), ("es", "amer"))
      .toDF("lang", "region").filter(col("region") === "emea")
    s.read.format("graft").load(root)
      .join(dim, Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }
  private val q90Sql =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE lang IN ('de', 'fr')
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Offline compaction — the 100 TB small-files maintenance operator:
    * rewrite a graft dir's many task-sized files into `targetFiles`,
    * preserving schema, hive partition layout, and any write options
    * (bloom columns, bias, chunkrows).
    *
    * ATOMIC for readers, via a generation pointer: the compacted data is
    * written FULLY into a fresh `gen-NNNNN` subdirectory beside the live
    * one, then `.graft-gen` is replaced by a single atomic rename
    * (FileContext + Rename.OVERWRITE). A concurrent reader resolves the
    * pointer once per scan and sees the old generation or the new one,
    * never a mid-swap mixture — and the superseded generation is NOT
    * deleted here (it is invisible but intact, so in-flight queries that
    * planned against it keep reading it); a LATER compact run reclaims
    * it once the last swap is at least `graceMs` old (< 0 = resolve
    * `spark.graft.graceMs` from the session conf, default 15 min — see
    * [[graft.sources.Generations.rewrite]]). Offline means no
    * concurrent WRITERS; readers are safe throughout. Crash anywhere:
    * the pointer still names a complete generation (a half-written gen
    * dir is unreferenced garbage the next run removes unconditionally).
    * Content is provably preserved: q92 gates the post-compaction
    * aggregate against the parquet oracle. */
  def compact(s: SparkSession, dir: String, targetFiles: Int,
      writeOptions: Map[String, String] = Map.empty,
      graceMs: Long = -1L): Unit =
    graft.sources.Generations.rewrite(s, dir, (_, df) => df,
      Some(targetFiles), writeOptions, graceMs, rowChurning = false)

  /** Size-targeted compaction — the knob an operator actually reasons
    * in at 100 TB ("~1 GiB files"), resolved against the LIVE listing's
    * compressed bytes: targetFiles = ceil(totalBytes / targetBytes),
    * min 1. A table smaller than one target lands in a single file. */
  def compactToSize(s: SparkSession, dir: String, targetBytes: Long,
      writeOptions: Map[String, String] = Map.empty,
      graceMs: Long = -1L): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val total = graft.sources.GraftDataSource
      .listPartitionedSized(s.sparkContext.hadoopConfiguration, dir)
      .map(_._2).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes)
    compact(s, dir, math.min(n, Int.MaxValue.toLong).toInt, writeOptions, graceMs)
  }

  /** Audit ONE decoded chunk against its footer's zone-map claims: null
    * counts exact; numeric/decimal bounds EQUAL the true extremes (they
    * are attained values by construction); float bounds cover the
    * non-NaN values with the NaN count exact (v5+); string bounds are
    * valid conservative proofs (min ≤ every value ≤ max) and, under the
    * v6 sub-cap convention, exact when short. An unsound bound is the
    * worst corruption class — a skip PROOF that silently drops rows —
    * so verify_table re-derives every claim from the decoded data.
    * Chunk-level, top-level columns (nested leaves decode-verify via
    * the full decode; their stats feed the same merge paths). Returns
    * the first violation's description. */
  private def auditChunkStats(t: graft.format.Meta.TableMeta,
      batch: org.apache.spark.sql.vectorized.ColumnarBatch,
      footerVersion: Int): Option[String] = {
    import org.apache.spark.sql.types._
    import graft.format.Stats
    val n = batch.numRows()
    t.schema.fields.zipWithIndex.iterator.flatMap { case (f, i) =>
      if (i >= t.stats.size) Iterator.empty else {
        val st = t.stats(i)
        val v = batch.column(i)
        var nulls = 0
        var j = 0
        while (j < n) { if (v.isNullAt(j)) nulls += 1; j += 1 }
        def bad(msg: String) = Iterator.single(s"stats audit ${f.name}: $msg")
        if (nulls != st.nullCount)
          bad(s"footer nullCount ${st.nullCount} != decoded $nulls")
        else if (st.min.isEmpty && st.max.isEmpty) Iterator.empty // statless: always legal
        else f.dataType match {
          case ByteType | ShortType | IntegerType | LongType | DateType |
               TimestampType | TimestampNTZType | BooleanType =>
            var mn = Long.MaxValue; var mx = Long.MinValue; var seen = false
            var k = 0
            while (k < n) {
              if (!v.isNullAt(k)) {
                val x = f.dataType match {
                  case ByteType => v.getByte(k).toLong
                  case ShortType => v.getShort(k).toLong
                  case IntegerType | DateType => v.getInt(k).toLong
                  case BooleanType => if (v.getBoolean(k)) 1L else 0L
                  case _ => v.getLong(k)
                }
                seen = true; if (x < mn) mn = x; if (x > mx) mx = x
              }
              k += 1
            }
            if (!seen) bad("bounds present on an all-null column")
            else if (st.min.map(Stats.longOf).exists(_ != mn) ||
                     st.max.map(Stats.longOf).exists(_ != mx))
              bad(s"footer bounds [${st.min.map(Stats.longOf)}, ${st.max.map(Stats.longOf)}] " +
                s"!= decoded [$mn, $mx]")
            else Iterator.empty
          case FloatType | DoubleType =>
            var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
            var nans = 0; var seen = false
            var k = 0
            while (k < n) {
              if (!v.isNullAt(k)) {
                val x = if (f.dataType == FloatType) v.getFloat(k).toDouble else v.getDouble(k)
                if (x != x) nans += 1
                else { seen = true; if (x < mn) mn = x; if (x > mx) mx = x }
              }
              k += 1
            }
            if (footerVersion >= 5 && nans != st.nanCount)
              bad(s"footer nanCount ${st.nanCount} != decoded $nans")
            else if (!seen) bad("bounds present on an all-NaN/null column")
            else if (st.min.map(Stats.doubleOf).exists(_ != mn) ||
                     st.max.map(Stats.doubleOf).exists(_ != mx))
              bad(s"footer float bounds != decoded [$mn, $mx]")
            else Iterator.empty
          case StringType =>
            val cap = Stats.MaxStringStat
            var mnB: Array[Byte] = null; var mxB: Array[Byte] = null
            var k = 0
            while (k < n) {
              if (!v.isNullAt(k)) {
                val b = v.getUTF8String(k).getBytes
                if (mnB == null || java.util.Arrays.compareUnsigned(b, mnB) < 0) mnB = b
                if (mxB == null || java.util.Arrays.compareUnsigned(b, mxB) > 0) mxB = b
              }
              k += 1
            }
            if (mnB == null) bad("bounds present on an all-null string column")
            else {
              val minOk = st.min.forall { lo =>
                java.util.Arrays.compareUnsigned(lo, mnB) <= 0 &&
                  (footerVersion < 6 || lo.length >= cap ||
                    java.util.Arrays.equals(lo, mnB)) // v6 sub-cap = exact
              }
              val maxOk = st.max.forall { hi =>
                java.util.Arrays.compareUnsigned(hi, mxB) >= 0 &&
                  (footerVersion < 6 || hi.length >= cap ||
                    java.util.Arrays.equals(hi, mxB))
              }
              if (!minOk || !maxOk) bad("string bound is not a valid (or v6-exact) proof")
              else Iterator.empty
            }
          case d: DecimalType =>
            var mn: java.math.BigInteger = null; var mx: java.math.BigInteger = null
            var k = 0
            while (k < n) {
              if (!v.isNullAt(k)) {
                val u = v.getDecimal(k, d.precision, d.scale)
                  .toJavaBigDecimal.unscaledValue()
                if (mn == null || u.compareTo(mn) < 0) mn = u
                if (mx == null || u.compareTo(mx) > 0) mx = u
              }
              k += 1
            }
            def stored(b: Array[Byte]) =
              if (d.precision <= 18) java.math.BigInteger.valueOf(Stats.longOf(b))
              else new java.math.BigInteger(b)
            if (mn == null) bad("bounds present on an all-null decimal column")
            else if (st.min.map(stored).exists(_.compareTo(mn) != 0) ||
                     st.max.map(stored).exists(_.compareTo(mx) != 0))
              bad(s"footer decimal bounds != decoded [$mn, $mx]")
            else Iterator.empty
          case _ => Iterator.empty // binary/nested: no servable chunk bounds
        }
      }
    }.toSeq.headOption
  }

  /** Full-integrity walk of a namespace's live files (SQL surface:
    * `CALL sys.verify_table(ns [, table])`): every file's head magic,
    * footer checksum, structural bounds, and EVERY data page's xxhash64
    * verify, every chunk fully decodes, and every chunk's ZONE-MAP
    * CLAIMS re-derive from the decoded data ([[auditChunkStats]] — an
    * unsound bound is a skip proof that silently drops rows, the worst
    * corruption class) — the operational answer to "is this 100 TB
    * table clean after the storage incident". Runs DISTRIBUTED (one
    * task per file batch); the driver holds only one row per file. A
    * `table` filter restricts the decode to that table's chunks
    * (shared-namespace files still footer-verify). */
  def verifyTable(s: SparkSession, dir: String,
      table: Option[String] = None): Seq[(String, Boolean, Int, Long, Option[String])] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      s.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(dir)
    // live delete vectors ride along: each file's blob is decoded and
    // bounds-checked against the file's ACTUAL row count in the same
    // task — an unsound DV is a skip proof that silently drops or
    // resurrects rows, the same corruption class as a lying zone map
    val dvByUri = graft.sources.GraftDataSource
      .liveDvs(s.sparkContext.hadoopConfiguration, dir, table)
      .map { case (k, (p, n)) => k -> (p.toString, n) }
    val files = graft.sources.GraftDataSource
      .listPartitionedSized(s.sparkContext.hadoopConfiguration, dir)
      .map { case (p, _, _) =>
        (graft.sources.GraftDataSource.relativePath(root, p), p.toString,
          dvByUri.get(p.toUri.getPath)) }
    import s.implicits._
    s.createDataset(files).repartition(math.max(1,
        math.min(files.size, s.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        it.flatMap { case (rel, full, dv) =>
          val p = new org.apache.hadoop.fs.Path(full)
          // the data file's row and its DV's row report INDEPENDENTLY: a
          // healthy file under a corrupt sidecar (or vice versa) must name
          // the broken artifact, not smear both
          var fileRows = -1L // decoded row count, for the DV bound check
          val fileRow = try {
            val r = graft.format.GraftFileReader.open(p.getFileSystem(conf.value), p)
            try {
              var chunks = 0
              var rows = 0L
              var statErr: Option[String] = None
              r.footer.chunks.foreach { c =>
                c.tables.filter(t => table.forall(_ == t.name)).foreach { t =>
                  val b = r.decodeTable(c, t, t.schema)
                  try {
                    rows += b.numRows(); chunks += 1
                    if (statErr.isEmpty)
                      statErr = auditChunkStats(t, b, r.footer.version)
                  } finally b.close()
                }
              }
              fileRows = rows
              statErr match {
                case Some(e) => (rel, false, chunks, rows, Some(e))
                case None => (rel, true, chunks, rows, None: Option[String])
              }
            } finally r.close()
          } catch {
            case e: Exception => (rel, false, 0, 0L, Option(e.getMessage))
          }
          // one report row PER DV BLOB: re-derive every claim a reader
          // would trust — checksum, strictly-increasing positions (no
          // dups), every position inside the file's ACTUAL row count,
          // cardinality equal to the manifest's deletedRows (the number
          // COUNT(*) pushdown subtracts) — so a corrupt sidecar fails
          // this audit as loudly as a corrupt data page
          val dvRow = dv.map { case (dvPath, card) =>
            val dvRel = try {
              graft.sources.GraftDataSource.relativePath(
                new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.fs.Path(dvPath))
            } catch { case _: Exception => dvPath }
            try {
              val dp = new org.apache.hadoop.fs.Path(dvPath)
              val dfs = dp.getFileSystem(conf.value)
              val st = dfs.getFileStatus(dp)
              val bytes = new Array[Byte](st.getLen.toInt)
              val in = dfs.open(dp)
              try in.readFully(0, bytes) finally in.close()
              // fileRows < 0 = the data file didn't decode; validate the
              // blob's internal invariants unbounded rather than skip
              val pos = graft.format.Dv.decode(bytes, fileRows)
              if (pos.length != card)
                (dvRel, false, 0, pos.length.toLong,
                  Some(s"delete vector holds ${pos.length} positions but the " +
                    s"manifest claims $card — pushed COUNT(*) would be wrong"))
              else if (fileRows < 0)
                (dvRel, false, 0, pos.length.toLong,
                  Some(s"data file $rel unreadable; DV positions not bounds-checked"))
              else (dvRel, true, 0, pos.length.toLong, None: Option[String])
            } catch {
              case e: Exception => (dvRel, false, 0, 0L, Option(e.getMessage))
            }
          }
          Iterator(fileRow) ++ dvRow.iterator
        }
      }.collect().toSeq.sortBy(_._1)
  }

  /** `ANALYZE TABLE` for a graft dir (SQL surface: `CALL sys.analyze(ns
    * [, exact])`): one aggregation pass computes per-column NDV (exact
    * `count(DISTINCT)` or an HLL sketch — sketch is the 100 TB default,
    * one scan, no expand), null counts, string/binary byte lengths, and
    * numeric min/max, then persists them in a root-level sidecar the
    * scan serves to Spark's CBO as DSv2 columnStats. Returns the rows
    * the procedure surfaces. Complex-typed columns are skipped (no
    * ColumnStat consumer exists for them). */
  def analyzeTable(s: SparkSession, dir: String, table: String = "data",
      exact: Boolean = false): Seq[(String, graft.format.Stats.ColAnalysis)] = {
    import org.apache.spark.sql.types._
    // the NAMED table's rows — a multi-table namespace dir must not
    // blend siblings into one sidecar (the sidecar is per-table)
    val df = s.read.format("graft").option("table", table).load(dir)
    // a typo'd dir/table would otherwise persist a rows=0, zero-column
    // sidecar that silently poisons CBO estimates for the real table
    require(df.schema.nonEmpty,
      s"ANALYZE: no table '$table' found under $dir")
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
    def analyzable(dt: DataType): Boolean = dt match {
      case _: StructType | _: ArrayType | _: MapType => false
      case _ => true
    }
    def ranged(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val fields = df.schema.fields.filter(f => analyzable(f.dataType)).toSeq
    val exprs = Seq(count(lit(1)).as("__rows")) ++ fields.zipWithIndex.flatMap {
      case (f, i) =>
        val c = col(s"`${f.name}`")
        // int/long/string/binary columns also persist an HLL sketch —
        // the mergeable form of NDV that keeps the sidecar fresh across
        // appends (writer tasks union their deltas in at commit). In
        // sketch mode the NDV itself comes from it (one estimator, not
        // two that disagree); exact mode still counts distinct.
        val sk =
          if (graft.sources.ColSketcher.sketchable(f.dataType))
            Seq(hll_sketch_agg(c, lit(graft.sources.ColSketcher.LgK)).as(s"sk$i"))
          else Seq.empty
        // exact NDVs run as SEPARATE single-distinct passes below:
        // several count_distinct columns in ONE Aggregate trigger the
        // distinct-rewrite's Expand (every input row crosses the
        // shuffle once PER distinct column — the r16 sf1 run measured
        // q135's 3-column exact analyze at 52 s; split passes, each a
        // plain two-phase distinct over a pruned 1-column scan, read
        // 3-4x cheaper). approx_count_distinct is a sketch aggregate —
        // no Expand — so it stays in the one big pass.
        val base = Seq(count(c).as(s"c$i")) ++ (if (!exact && sk.isEmpty) Seq(
          approx_count_distinct(c).as(s"d$i"))
        else Seq.empty) ++ sk
        val lens = f.dataType match {
          case StringType => Seq(avg(octet_length(c)).as(s"a$i"),
            max(octet_length(c)).as(s"l$i"))
          case BinaryType => Seq(avg(length(c)).as(s"a$i"), max(length(c)).as(s"l$i"))
          case _ => Seq.empty
        }
        val range = if (ranged(f.dataType)) Seq(min(c).as(s"mn$i"), max(c).as(s"mx$i"))
          else Seq.empty
        base ++ lens ++ range
    }
    val row = df.agg(exprs.head, exprs.tail: _*).head()
    // exact mode: one single-distinct pass per column (see `base` above
    // for why these don't ride the big aggregate) — each scan prunes to
    // its one column, and a lone count_distinct plans as a plain
    // two-phase distinct with no Expand
    // the passes are independent one-column jobs; submit a few at a time
    // from a small pool so one pass's straggler tail back-fills with the
    // next pass's tasks instead of idling the cluster (2-3 in flight is
    // the guide's number: enough to fill the tail, not enough to fight)
    val exactNdv: Map[Int, Long] =
      if (!exact) Map.empty
      else {
        // daemon threads + shutdownNow on failure: a failed column pass
        // must abort the queued passes promptly, not let them burn the
        // cluster to completion behind a propagating exception (and
        // non-daemon workers would pin a dying JVM)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3,
          r => { val t = new Thread(r, "graft-exact-ndv"); t.setDaemon(true); t })
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          val futs = fields.zipWithIndex.map { case (f, i) =>
            scala.concurrent.Future {
              i -> df.agg(count_distinct(col(s"`${f.name}`")).as("d")).head().getLong(0)
            }
          }
          try scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(futs),
            scala.concurrent.duration.Duration.Inf).toMap
          catch { case e: Throwable => pool.shutdownNow(); throw e }
        } finally pool.shutdown()
      }
    def at(name: String): Option[Any] =
      row.schema.fieldNames.indexOf(name) match {
        case -1 => None
        case idx if row.isNullAt(idx) => None
        case idx => Some(row.get(idx))
      }
    val rows = row.getLong(row.fieldIndex("__rows"))
    // equi-height histogram boundaries, one extra approx-percentile pass
    // covering every eligible column at once. Endpoints live in the
    // domain catalyst's estimation compares literals in: plain doubles
    // for numerics, CATALYST-INTERNAL units for date (epoch days) and
    // timestamp (epoch micros) — a seconds-domain timestamp histogram
    // would mis-estimate every range by 10^6.
    val HistBins = 32
    def histExpr(f: StructField): Option[org.apache.spark.sql.Column] = {
      val c = col(s"`${f.name}`")
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType => Some(c.cast("double"))
        case DateType => Some(datediff(c, lit("1970-01-01").cast("date")).cast("double"))
        case TimestampType => Some(unix_micros(c).cast("double"))
        case _ => None // TimestampNTZ: internal micros aren't reachable tz-free
      }
    }
    val histCols = fields.zipWithIndex.flatMap { case (f, i) =>
      histExpr(f).map(e => (e, i))
    }
    val histograms: Map[Int, Seq[Double]] =
      if (histCols.isEmpty || rows == 0) Map.empty
      else {
        val pcts = lit((0 to HistBins).map(_.toDouble / HistBins).toArray)
        val hExprs = histCols.map { case (e, i) =>
          percentile_approx(e, pcts, lit(10000)).as(s"h$i")
        }
        val hrow = df.agg(hExprs.head, hExprs.tail: _*).head()
        histCols.flatMap { case (_, i) =>
          val idx = hrow.fieldIndex(s"h$i")
          if (hrow.isNullAt(idx)) None
          else Some(i -> hrow.getSeq[Double](idx).toSeq)
        }.toMap
      }
    val cols = fields.zipWithIndex.map { case (f, i) =>
      val nonNull = at(s"c$i").map(_.asInstanceOf[Long]).getOrElse(0L)
      val toCat = conv.createToCatalystConverter(f.dataType)
      def catNum(v: Any): Option[Any] = toCat(v) match {
        case l: java.lang.Long => Some(l.longValue(): Any)
        case i2: java.lang.Integer => Some(i2.intValue().toLong: Any)
        case sh: java.lang.Short => Some(sh.longValue(): Any)
        case b: java.lang.Byte => Some(b.longValue(): Any)
        case d2: java.lang.Double => Some(d2.doubleValue(): Any)
        case fl: java.lang.Float => Some(fl.doubleValue(): Any)
        case _ => None
      }
      val sketch = at(s"sk$i").map(_.asInstanceOf[Array[Byte]])
      val ndv = exactNdv.get(i)
        .orElse(at(s"d$i").map(_.asInstanceOf[Long]))
        .orElse(sketch.map(b => math.round(
          org.apache.datasketches.hll.HllSketch.heapify(b).getEstimate)))
        .getOrElse(0L)
      f.name -> graft.format.Stats.ColAnalysis(
        ndv = ndv,
        nullCount = rows - nonNull,
        avgLen = at(s"a$i").map(v => math.round(v.asInstanceOf[Double])),
        maxLen = at(s"l$i").map(_.asInstanceOf[Number].longValue()),
        min = at(s"mn$i").flatMap(catNum),
        max = at(s"mx$i").flatMap(catNum),
        histogram = histograms.get(i),
        sketch = sketch)
    }
    val conf = s.sparkContext.hadoopConfiguration
    // on-disk bytes at analyze time anchor staleness extrapolation: a
    // scan whose listing has grown scales the row estimate by the byte
    // ratio instead of serving the stale absolute count
    val bytes = graft.sources.GraftDataSource
      .listPartitionedSized(conf, dir).map(_._2).sum
    val analysis = graft.format.Stats.TableAnalysis(rows, exact,
      graft.sources.GraftDataSource.readGenPointer(conf, dir), cols.toMap, bytes)
    graft.sources.GraftDataSource.writeColStats(conf, dir, table, analysis)
    cols
  }

  /** `VACUUM`: reclaim superseded generations and stale staging WITHOUT
    * creating a new generation — the explicit end of time-travel
    * retention for a table that is no longer being rewritten. See
    * [[graft.sources.Generations.vacuum]] for the grace rules.
    *
    * Also the end of CHANGE-FEED retention: capture files under
    * `_changes` older than `changesRetentionMs` (session conf
    * `spark.graft.changesRetentionMs`, default 7 days — a change log
    * outlives generation grace by design) are reclaimed here, bounding
    * the otherwise append-forever capture log. Safe for streams: the
    * micro-batch source's offsets are a checkpoint-persisted log of file
    * PATHS, so reclaiming consumed files never re-maps offsets, a
    * resumed consumer just tails newcomers; a consumer lagging past the
    * horizon fails LOUDLY on the missing file (never a silent skip) —
    * the same contract as Delta's CDF retention. Size retention to your
    * slowest consumer. */
  def vacuum(s: SparkSession, dir: String, graceMs: Long = -1L,
      changesRetentionMs: Long = -1L): Unit = {
    // parse EVERY conf before the first destructive call: the generation
    // sweep is irreversible, and a malformed retention value failing
    // after it would leave the vacuum half-applied
    val retention =
      if (changesRetentionMs >= 0) changesRetentionMs
      else s.conf.getOption("spark.graft.changesRetentionMs").map { v =>
        v.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"spark.graft.changesRetentionMs must be a millisecond count, got '$v'"))
      }.getOrElse(7L * 24 * 3600 * 1000)
    graft.sources.Generations.vacuum(s, dir, graceMs)
    val ch = new org.apache.hadoop.fs.Path(s"$dir/$ChangesSubdir")
    val fs = ch.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(ch)) {
      val cutoff = System.currentTimeMillis() - retention
      fs.listStatus(ch).foreach { st =>
        if (st.isFile && st.getPath.getName.endsWith(".graft") &&
            st.getModificationTime < cutoff)
          fs.delete(st.getPath, false)
      }
    }
  }

  /** `DESCRIBE HISTORY`: the table's generations as a DataFrame — one
    * row per generation still on disk with its index, live flag, birth
    * timestamp (`.swap-ts`), idempotency tag (`.rewrite-tag`), file
    * count and bytes. Metadata-only (a directory listing plus two tiny
    * marker reads per generation, never data); superseded generations
    * appear until the sweep reclaims them, which is exactly the
    * time-travel horizon a `VERSION AS OF` reader wants to see. */
  def history(s: SparkSession, dir: String): DataFrame = {
    val rows = graft.sources.Generations
      .historyRows(s.sparkContext.hadoopConfiguration, dir)
      .map { case (i, live, birth, tag, n, b) =>
        (i, live, birth.map(new java.sql.Timestamp(_)), tag, n, b)
      }
    import s.implicits._
    rows.toDF("generation", "is_live", "birth", "tag", "n_files", "bytes")
  }

  /** `RESTORE TABLE … TO VERSION AS OF n`: roll the table back to a
    * still-present generation by swinging the pointer — one atomic
    * rename, NO data copied or rewritten. The abandoned newer
    * generations become published-but-unswapped garbage a later sweep
    * reclaims after the grace window (exactly the crash-between-
    * publish-and-swap shape the sweep already handles), and the next
    * rewrite allocates PAST them, so restore never collides with the
    * rolled-back future. Fails loudly when the generation was already
    * vacuumed — a restore that silently resurrects nothing would be a
    * data-loss bug. */
  def restore(s: SparkSession, dir: String, generation: Int): Unit =
    graft.sources.Generations.restore(s, dir, generation)

  // ---- q92: compaction preserves content ------------------------------------
  // orders written as MANY tiny files (32 tasks x 2k-row chunks), then
  // compacted to 4; the aggregate + oracle prove losslessness, the file
  // counts are asserted in CompactionSpec.
  private val q92: Q = (s, d) => {
    val dir = graftDir(d, "orders_compact")
    // fixture: the many-tiny-files seed write (scales with sf);
    // engine: the compaction itself + the post-compaction read
    FixtureClock.time {
      Tables.orders(s, d).repartition(32)
        .write.format("graft").option("chunkrows", "2000")
        .mode("overwrite").save(dir)
    }
    compact(s, dir, targetFiles = 4, writeOptions = Map("chunkrows" -> "131072"))
    s.read.format("graft").load(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      .orderBy(col("o_orderstatus"))
  }
  private val q92Sql =
    """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS total
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---- q91: point lookups through bloom filters + zone maps ----------------
  // documents written clustered by doc_id with a bloom on the (high-
  // cardinality) source column: the id-range filter prunes via block zone
  // maps, the source equality via per-chunk blooms — the two index layers
  // a 100 TB find-by-id query lives on. Oracle recomputes from parquet.
  private val q91: Q = (s, d) => {
    val dir = graftDir(d, "docs_lookup")
    Tables.documents(s, d).sortWithinPartitions(col("doc_id"))
      .write.format("graft")
      .option("bloom", "source,doc_id")
      .mode("overwrite").save(dir)
    s.read.format("graft").load(dir)
      .filter(col("doc_id").between(1000, 1063) && col("source") =!= "nosuch-source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"))
  }
  private val q91Sql =
    """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE doc_id BETWEEN 1000 AND 1063 AND source <> 'nosuch-source'
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- q93: time travel across compaction generations -----------------------
  // gen-1 is frozen holding ONLY even orderkeys before the odd rows ever
  // land: write evens -> compact (gen-1) -> compact again (gen-2
  // supersedes and freezes gen-1) -> append odds (live gen-2 only).
  // `option("generation", "1")` (the DSv2 path behind SQL `VERSION AS
  // OF`) must surface exactly the even half, which the oracle states
  // from parquet; the default read's full view is gated by q92.
  private val q93: Q = (s, d) => {
    val dir = graftDir(d, "orders_tt")
    val o = Tables.orders(s, d)
    // fixture: building the generation history (write evens, compact
    // twice, append odds — all scale with sf); engine: the time-travel
    // read of frozen gen-1
    FixtureClock.time {
      o.filter(col("o_orderkey") % 2 === 0)
        .repartition(8).write.format("graft").mode("overwrite").save(dir)
      compact(s, dir, targetFiles = 2)
      compact(s, dir, targetFiles = 2) // gen-2: freezes gen-1
      o.filter(col("o_orderkey") % 2 === 1)
        .repartition(4).write.format("graft").mode("append").save(dir)
    }
    s.read.format("graft").option("generation", "1").load(dir)
      .agg(count(lit(1)).as("n_even"), sum(col("o_orderkey")).as("sum_key"))
  }
  private val q93Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_even,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin

  // ---- q94: catalog schema evolution end-to-end ----------------------------
  // CREATE TABLE -> INSERT (narrow) -> ALTER TABLE ADD COLUMN -> INSERT
  // (wide) -> one query over the MIXED-schema files: pre-ALTER rows read
  // the added column as null. The oracle derives the same result from
  // parquet, so the null-fill for schema-drifted files is hash-gated,
  // not just spec'd.
  private val q94: Q = (s, d) => {
    val root = graftDir(d, "evolve_cat")
    deleteDirQuietly(s, root) // idempotent reruns
    s.conf.set("spark.sql.catalog.graft_evq", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_evq.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_evq.db")
    s.sql("CREATE TABLE graft_evq.db.docs (doc_id BIGINT, lang STRING)")
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .createOrReplaceTempView("q94_docs_src")
    s.sql("INSERT INTO graft_evq.db.docs SELECT doc_id, lang FROM q94_docs_src WHERE doc_id % 2 = 0")
    s.sql("ALTER TABLE graft_evq.db.docs ADD COLUMN flag BIGINT")
    s.sql("INSERT INTO graft_evq.db.docs SELECT doc_id, lang, doc_id % 7 FROM q94_docs_src WHERE doc_id % 2 = 1")
    s.sql("""SELECT lang, count(*) AS n,
      CAST(sum(coalesce(flag, -1)) AS BIGINT) AS flag_sum
      FROM graft_evq.db.docs GROUP BY lang ORDER BY lang""")
  }
  private val q94Sql =
    """SELECT lang, count(*) AS n,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN doc_id % 7 ELSE -1 END) AS BIGINT) AS flag_sum
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---- q132: RENAME + WIDEN evolution end-to-end ---------------------------
  // CREATE -> INSERT (old name, INT flag) -> RENAME COLUMN + widen flag
  // to BIGINT -> INSERT (new name, long-range flags) -> one query over
  // the MIXED files: pre-DDL files must serve the renamed column and
  // promote their int flags; the oracle recomputes from parquet, so the
  // rename-chain mapping and the widen promotion are hash-gated.
  private val q132: Q = (s, d) => {
    val root = graftDir(d, "evolve_rw")
    deleteDirQuietly(s, root) // idempotent reruns
    s.conf.set("spark.sql.catalog.graft_evrw", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_evrw.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_evrw.db")
    s.sql("CREATE TABLE graft_evrw.db.docs (doc_id BIGINT, lang STRING, flag INT)")
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .createOrReplaceTempView("q132_src")
    s.sql("""INSERT INTO graft_evrw.db.docs
      SELECT doc_id, lang, CAST(doc_id % 7 AS INT) FROM q132_src WHERE doc_id % 2 = 0""")
    s.sql("ALTER TABLE graft_evrw.db.docs RENAME COLUMN lang TO language")
    s.sql("ALTER TABLE graft_evrw.db.docs ALTER COLUMN flag TYPE BIGINT")
    s.sql("""INSERT INTO graft_evrw.db.docs
      SELECT doc_id, lang, doc_id % 7 + 34359738368 FROM q132_src WHERE doc_id % 2 = 1""")
    s.sql("""SELECT language, count(*) AS n, CAST(sum(flag) AS BIGINT) AS flag_sum
      FROM graft_evrw.db.docs GROUP BY language ORDER BY language""")
  }
  private val q132Sql =
    """SELECT lang AS language, count(*) AS n,
      |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN doc_id % 7
      |                ELSE doc_id % 7 + 34359738368 END) AS BIGINT) AS flag_sum
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q133: DROP COLUMN + time travel --------------------------------------
  // CREATE -> INSERT -> compact (freezes a generation) -> DROP COLUMN ->
  // live reads hide the column while VERSION AS OF the frozen generation
  // still serves it; one query joins both views so the tombstone AND the
  // time-travel resurrection are hash-gated together.
  private val q133: Q = (s, d) => {
    val root = graftDir(d, "evolve_drop")
    deleteDirQuietly(s, root) // idempotent reruns
    s.conf.set("spark.sql.catalog.graft_evdr", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_evdr.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_evdr.db")
    s.sql("CREATE TABLE graft_evdr.db.docs (doc_id BIGINT, lang STRING, source STRING)")
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"))
      .createOrReplaceTempView("q133_src")
    s.sql("INSERT INTO graft_evdr.db.docs SELECT doc_id, lang, source FROM q133_src")
    compact(s, s"$root/db", targetFiles = 2)
    val gen = graft.sources.GraftDataSource
      .readGenPointer(s.sparkContext.hadoopConfiguration, s"$root/db")
      .flatMap(graft.sources.GraftDataSource.genIndex).getOrElse(
        throw new IllegalStateException("compact left no generation"))
    s.sql("ALTER TABLE graft_evdr.db.docs DROP COLUMN source")
    s.sql(s"""SELECT l.lang AS lang, l.n_live, t.n_sources
      FROM (SELECT lang, count(*) AS n_live FROM graft_evdr.db.docs GROUP BY lang) l
      JOIN (SELECT lang, count(DISTINCT source) AS n_sources
            FROM graft_evdr.db.docs VERSION AS OF $gen GROUP BY lang) t
        ON l.lang = t.lang
      ORDER BY lang""")
  }
  private val q133Sql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_live,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q137: NESTED + positional DDL over mixed files ----------------------
  // The q51 shape: documents carrying a typed metadata STRUCT. Pre-DDL
  // files are written, then the struct's leaves are renamed
  // (meta.source→origin), widened (meta.chars INT→BIGINT), and a new
  // leaf lands at a POSITION (meta.flag AFTER origin); post-DDL files
  // mix in. One aggregate over the mixed files hash-gates the whole
  // nested-evolution read path: rename-chain resolution, per-leaf widen
  // promotion, and null-fill for the late leaf.
  private val q137: Q = (s, d) => {
    val root = graftDir(d, "evolve_nested")
    deleteDirQuietly(s, root) // idempotent reruns
    s.conf.set("spark.sql.catalog.graft_evn", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_evn.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_evn.db")
    s.sql("CREATE TABLE graft_evn.db.docs (doc_id BIGINT, " +
      "meta STRUCT<source: STRING, chars: INT>)")
    Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      .createOrReplaceTempView("q137_src")
    s.sql("""INSERT INTO graft_evn.db.docs
      SELECT doc_id, named_struct('source', source, 'chars', CAST(n_chars AS INT))
      FROM q137_src WHERE doc_id % 2 = 0""")
    s.sql("ALTER TABLE graft_evn.db.docs RENAME COLUMN meta.source TO origin")
    s.sql("ALTER TABLE graft_evn.db.docs ALTER COLUMN meta.chars TYPE BIGINT")
    s.sql("ALTER TABLE graft_evn.db.docs ADD COLUMN meta.flag INT AFTER origin")
    s.sql("""INSERT INTO graft_evn.db.docs
      SELECT doc_id, named_struct('origin', source,
        'flag', CAST(doc_id % 5 AS INT), 'chars', n_chars)
      FROM q137_src WHERE doc_id % 2 = 1""")
    s.sql("""SELECT meta.origin AS origin, count(*) AS n,
      CAST(sum(meta.chars) AS BIGINT) AS chars_sum,
      CAST(sum(coalesce(meta.flag, -1)) AS BIGINT) AS flag_sum
      FROM graft_evn.db.docs GROUP BY meta.origin ORDER BY origin""")
  }
  private val q137Sql =
    """SELECT source AS origin, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN doc_id % 5 ELSE -1 END) AS BIGINT) AS flag_sum
      |FROM documents GROUP BY source ORDER BY origin""".stripMargin

  /** `UPDATE t SET c = expr, … WHERE p` via copy-on-write generation
    * rewrite ([[graft.sources.Generations.rewrite]]): one new generation
    * holds the table with matching rows' SET columns replaced; the
    * pointer swap is atomic and the pre-update generation stays
    * time-travel readable. SQL UPDATE semantics: every SET expression
    * sees the ORIGINAL row (all replacements are one projection, not a
    * fold), a NULL WHERE leaves the row unchanged, and each new value is
    * cast back to the column's declared type so the table schema never
    * drifts. Offline/single-writer, like compaction. */
  /** Subdir holding write-time change capture (the Delta-CDF idea mapped
    * to graft): DML ops with `captureChanges=true` append their change
    * set — full rows plus a `_change_type` column with the Delta-CDF
    * vocabulary (`insert`, `update_preimage`, `update_postimage`,
    * `delete`) — to `<dir>/_changes` as an ordinary graft table BEFORE
    * the rewrite swaps. Pre-images are what let a consumer SUBTRACT a
    * row's old contribution, which turns the feed into an incremental
    * view maintenance substrate (q114). The subdir is invisible to the main table's scans (the
    * lister only descends `k=v` partition dirs) and immune to the
    * generation sweep (no `=`, not a `gen-*`). Downstream pipelines
    * tail it INCREMENTALLY with the existing graft streaming source
    * (`readStream.format("graft").load(dir + "/_changes")`) — no 100 TB
    * diff; [[changesBetween]] stays the retrospective fallback.
    * Capture is proportional to the CHANGE SET (the delete predicate's
    * matches, the upsert batch), never the table. Crash window: changes
    * land before the pointer swap, so a failure between the two
    * over-captures (at-least-once) rather than losing changes. */
  val ChangesSubdir = "_changes"

  /** Append one DML's change set, stamped with `_commit_version` — a
    * strictly-increasing commit number from a DEDICATED counter
    * ([[nextCommitVersion]]; the Delta-CDF `_commit_version` idea). The
    * version is what makes change CONSUMERS order-robust: a capture
    * append is multiple files, and a stream trigger racing the append
    * can list HALF of them — one DML's change set then spans two
    * micro-batches, in whatever order the listing saw the files. A fold
    * that keys removals on `update_preimage` rows loses data under that
    * split (postimage applied in batch N, preimage DELETES the key in
    * batch N+1 — found by `CdcFoldFuzzSpec`); [[applyCdcBatch]] uses the
    * version + change kind instead and converges under any split.
    *
    * Why NOT the generation index the DML is about to publish (the
    * original stamp): (a) a `sys.restore` swings the pointer BACK while
    * higher-numbered generations survive, so subsequent DMLs would
    * re-issue versions already in the feed and the fold's per-key
    * highest-version winner could pick a stale pre-restore change; (b)
    * the rewrite allocates `maxSurvivingIdx+1` (not pointer+1), and an
    * optimistic-concurrency rebase can move the index again between
    * capture and publish. A counter that only ever increments is immune
    * to all three. */
  private def captureTo(s: SparkSession, dir: String, rows: DataFrame): Unit = {
    val next = nextCommitVersion(s, dir)
    rows.withColumn("_commit_version", lit(next))
      .write.format("graft").option("table", "changes")
      .mode("append").save(s"$dir/$ChangesSubdir")
  }

  /** The change feed's commit counter: marker files `v-NNNNNNNNNNNN`
    * under `_changes/_seq`, allocated by exclusive create (the same
    * atomic create-no-overwrite every marker publish here uses) — a CAS
    * counter with no lock service, and one `restore` NEVER rewinds
    * (generation pointers swing back; this directory only grows).
    *
    * Allocation: list → next = max+1 → create-exclusive; a lost race
    * re-lists and retries. The max marker is never deleted, so a fresh
    * listing always yields a correct floor; markers far below the max
    * are pruned only once STALE by mtime (the repo-wide `graceMs`
    * contract) so a writer that listed long ago cannot resurrect a
    * pruned low version inside the window. Seeding on a feed captured by
    * the pre-counter scheme (live pointer + 1) starts past BOTH that
    * scheme's next value and the feed's own max `_commit_version`, so
    * new versions never sort below stamped ones. */
  private def nextCommitVersion(s: SparkSession, dir: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    val seqDir = new org.apache.hadoop.fs.Path(s"$dir/$ChangesSubdir/_seq")
    val fs = seqDir.getFileSystem(conf)
    def markers(): Seq[(Long, Long)] = // (version, mtime)
      try fs.listStatus(seqDir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v-")) n.drop(2).toLongOption.map((_, st.getModificationTime))
        else None
      } catch { case _: java.io.IOException => Seq.empty }
    var floor: Long = markers().map(_._1).maxOption.getOrElse {
      val ptr = graft.sources.GraftDataSource.readGenPointer(conf, dir)
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      val inFeed: Long =
        try {
          val ch = s.read.format("graft").option("table", "changes")
            .load(s"$dir/$ChangesSubdir")
          if (!ch.columns.contains("_commit_version")) 0L
          else {
            val r = ch.agg(max(col("_commit_version"))).collect().head
            if (r.isNullAt(0)) 0L else r.getLong(0)
          }
        } catch { case _: Exception => 0L } // no feed yet
      math.max(ptr, inFeed)
    }
    var attempt = 0
    while (attempt < 64) {
      val next = floor + 1
      try {
        val out = graft.sources.AtomicPublish.createStream(conf,
          new org.apache.hadoop.fs.Path(seqDir, f"v-$next%012d"), overwrite = false)
        try out.write('1'.toByte) finally out.close()
        // prune the tail: below a 16-marker window AND stale by mtime
        val cutoff = System.currentTimeMillis() - 15 * 60 * 1000L
        markers().foreach { case (v, mt) =>
          if (v < next - 16 && mt < cutoff)
            try fs.delete(new org.apache.hadoop.fs.Path(seqDir, f"v-$v%012d"), false)
            catch { case _: java.io.IOException => }
        }
        return next
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          floor = markers().map(_._1).maxOption.getOrElse(next)
          attempt += 1
      }
    }
    throw new graft.format.OliveFormatException(
      s"commit-version allocation for $dir lost 64 races; giving up")
  }

  /** Canonical, order-robust CDC apply: fold one change-feed micro-batch
    * into a replica table kept in sync purely from changes (the q118
    * shape, packaged). Semantics: per key, the HIGHEST-`_commit_version`
    * non-preimage change wins — `delete` removes the key,
    * `insert`/`update_postimage` replace it. Pre-images are deliberately
    * IGNORED: they exist for aggregate maintenance (subtracting an old
    * contribution, q114 — order-independent math), and keying a
    * replica's removals on them is wrong the moment a capture append's
    * files split across micro-batches (see [[captureTo]]). Under any
    * such split this fold converges: a postimage-only half applies the
    * new row; a preimage-only half is a no-op; a stale lower-version
    * change never overwrites a higher one folded earlier in the same
    * batch. Feeds captured before versioning (no `_commit_version`
    * column) fold with a constant version — correct for the
    * one-DML-per-batch case they were written under.
    *
    * File-granular: removals prune candidate files through
    * [[graft.format.Stats.keyPrune]]'s typed summaries, so a batch
    * touches O(batch + overlapping files) of a 100 TB replica, and the
    * `idempotencyKey` (pass the micro-batch id) makes retried
    * foreachBatch invocations exactly-once. */
  def applyCdcBatch(s: SparkSession, replicaDir: String, table: String,
      batch: DataFrame, keys: Seq[String],
      idempotencyKey: Option[String] = None): Unit = {
    require(keys.nonEmpty, "applyCdcBatch needs key columns")
    val eff0 = batch.filter(col("_change_type") =!= "update_preimage")
    val eff = if (eff0.columns.contains("_commit_version")) eff0
      else eff0.withColumn("_commit_version", lit(0L))
    // per-key winner as ONE hash aggregate (max_by), not a row_number
    // window: the window shape exchanges AND sorts the full change batch
    // (wide rows) per fold; max_by partial-aggregates map-side and never
    // sorts. Ordering is the window's (_commit_version desc,
    // _change_type asc) restated as a max: higher version wins, ties
    // (unreachable per the capture contract — one DML = one version =
    // one non-preimage change type per key — but kept faithful) go to
    // the asc-least change type via the inverted rank.
    val tieRank = when(col("_change_type") === "delete", 3)
      .when(col("_change_type") === "insert", 2).otherwise(1)
    val last = eff
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(eff.columns.map(col).toSeq: _*),
        struct(col("_commit_version"), tieRank.as("_tb"))).as("_w"))
      .select(col("_w.*"))
    val touched = last.select(keys.map(col): _*)
    val adds = last.filter(col("_change_type") =!= "delete")
      .drop("_change_type", "_commit_version")
    // ONE map-only pass per key serves BOTH the candidate-file prune and
    // the empty-batch check (profiled: a small commit's wall is Spark
    // JOB COUNT, not metadata — the separate `isEmpty` probe was a whole
    // job per micro-batch). Pruning on eff instead of `touched` is
    // sound AND equally tight: row_number keeps every key, so the two
    // key SETS are identical — but eff skips the window shuffle. An
    // empty batch (or a preimage-only split half) must stay a TRUE
    // no-op — without that, every empty trigger would churn a full
    // carry generation of the replica. rows==0 on every key means no
    // row carries a non-null key; only that rare shape (empty, or
    // all-null-key inserts) pays the exact isEmpty probe.
    val krs = keys.map(k =>
      graft.format.Stats.keyPruneFull(eff0.select(col(k))))
    if (krs.forall(_.rows == 0) && eff0.isEmpty) return
    val prune = {
      val fs = krs.flatMap(_.prune)
      Some(fs).filter(_.nonEmpty)
    }
    graft.sources.Generations.rewriteTable(s, replicaDir, table,
      t => t.join(touched, keys, "left_anti")
        .unionByName(adds.select(t.columns.map(col).toSeq: _*)),
      prune, alwaysWrite = true, idempotencyKey = idempotencyKey)
    ()
  }

  /** Streaming change data feed: `readStream` over the write-time
    * capture log, making incremental consumers streaming-native —
    * downstream pipelines `changeFeedStream(...).writeStream...` and
    * each DML's change set arrives as a micro-batch of post-image rows
    * plus `_change_type`, discovered by the existing graft streaming
    * source's file tailing.
    *
    * Deliberately NOT a per-pointer-swap `changesBetween` diff inside a
    * source: a diff is two full scans plus a shuffle-join PER SWAP (at
    * 100 TB, petabyte-scale re-reads to recover kilobytes of change),
    * and a DSv2 source cannot run a join during partition planning
    * anyway without collecting to the driver. Capture-at-write is the
    * Delta-CDF shape: cost proportional to the change set, and the
    * stream is plain append-only file tailing. [[changesBetween]]
    * remains the retrospective fallback for tables written without
    * capture. Requires the capture log to exist (one captured DML).
    * `startingOffsets = "latest"` attaches past the existing log — only
    * changes captured AFTER the stream starts are emitted (history is
    * the batch reader's job, not a replay).
    *
    * Backpressure: a consumer that falls behind a bursty writer would
    * otherwise get the whole backlog as ONE first micro-batch.
    * `maxFilesPerTrigger` / `maxBytesPerTrigger` (the standard Spark
    * file-source admission contract) drain it in bounded batches —
    * bytes is a soft cap (admit until the running total exceeds it,
    * always at least one file), both compose, exactly-once is preserved
    * across restarts because offsets index the same durable file log. */
  def changeFeedStream(s: SparkSession, dir: String,
      startingOffsets: String = "earliest",
      maxFilesPerTrigger: Option[Int] = None,
      maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    val r = s.readStream.format("graft").option("table", "changes")
      .option("startingOffsets", startingOffsets)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    maxBytesPerTrigger.foreach(n => r.option("maxBytesPerTrigger", n.toString))
    r.load(s"$dir/$ChangesSubdir")
  }

  private def readTable(s: SparkSession, dir: String, table: String): DataFrame =
    s.read.format("graft").option("table", table).load(dir)

  /** One key column's candidate-file prune predicate for a keyed DML:
    * [[graft.format.Stats.keyPrune]]'s one-pass sketch. Small batches
    * (≤1000 distinct values) yield an EXACT IN-list — the strongest
    * prune, since both zone maps AND blooms can refute it per chunk,
    * which matters on tables NOT clustered by the key. Past the cap the
    * unbounded typed summaries take over (integral/date/ts/decimal
    * bitmap, string byte range, wide-decimal unscaled range), so a
    * million-key CDC fold still prunes file-granularly on clustered
    * tables instead of silently degrading to a full rewrite. */
  private def keyPrune(batch: DataFrame, k: String): Option[graft.format.Stats.Prune] =
    graft.format.Stats.keyPrune(batch.select(col(k)))

  def updateWhere(s: SparkSession, dir: String, table: String,
      set: Map[String, org.apache.spark.sql.Column],
      where: org.apache.spark.sql.Column,
      captureChanges: Boolean = false): Unit = {
    def project(df: DataFrame, cond: org.apache.spark.sql.Column): DataFrame = {
      val unknown = set.keySet -- df.columns.toSet
      require(unknown.isEmpty, s"UPDATE SET on unknown columns: ${unknown.mkString(",")}")
      df.select(df.schema.fields.map { f =>
        set.get(f.name)
          .map(v => when(cond, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name))
          .getOrElse(col(f.name))
      }.toSeq: _*)
    }
    if (captureChanges) {
      // pre- AND post-image per touched row (the Delta-CDF vocabulary):
      // downstream consumers can invert the old contribution and add the
      // new one — what incremental view maintenance (q114) needs. One
      // filtered scan feeds both sides of the union.
      val pre = readTable(s, dir, table)
      val cond = coalesce(where, lit(false))
      val touched = pre.filter(cond)
      captureTo(s, dir, touched.withColumn("_change_type", lit("update_preimage"))
        .unionByName(project(touched, cond)
          .withColumn("_change_type", lit("update_postimage"))))
    }
    // a misspelled table name must fail loudly, never "update zero rows".
    // File-granular COW: files whose zone maps/blooms prove the WHERE
    // matches nothing are carried by reference, not copied
    val prune = graft.sources.Generations.pruneFiltersFor(readTable(s, dir, table), where)
    val touched = graft.sources.Generations.rewriteTable(s, dir, table,
      df => project(df, coalesce(where, lit(false))), prune, alwaysWrite = false)
    require(touched, s"table '$table' not found in $dir; nothing was updated")
  }

  /** Keyed upsert (`MERGE … WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *`): source rows REPLACE target rows sharing
    * their key and new-key rows append, in one copy-on-write generation.
    * The target side anti-joins the source's distinct keys — at scale
    * that is one shuffle of the (small) CDC batch against the table, and
    * AQE broadcasts the key set when it fits. Source must carry every
    * target column (extra columns are dropped).
    *
    * Key semantics follow SQL MERGE: a null key never matches (null =
    * null is unknown), so a null-key source row INSERTS and any existing
    * null-key target rows survive — the change capture classifies it
    * `insert`, mirroring what the rewrite actually does. The batch must
    * be key-unique (MERGE's "multiple source rows matched" error): with
    * duplicates, "replace the row for this key" has no deterministic
    * meaning, so the batch is validated (one small job, sized by the CDC
    * batch, early-exits on the first duplicate) and refused loudly. */
  def upsert(s: SparkSession, dir: String, table: String,
      source: DataFrame, keys: Seq[String],
      captureChanges: Boolean = false): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    // Materialize the batch ONCE before anything reads it: the dup
    // check, the change capture, the prune-key collect and the rewrite's
    // anti-join/union would otherwise each re-evaluate `source`,
    // and a non-deterministic or concurrently-changing source could
    // surface a key in the rewrite that the prune collect never saw —
    // that key's file gets carried (never anti-joined) while the new
    // row still inserts: silent duplicate keys. localCheckpoint severs
    // the lineage, so every consumer below reads the same frozen rows
    // (Delta materializes its MERGE source for exactly this reason).
    val batch = source.localCheckpoint()
    try upsertChecked(s, dir, table, batch, keys, captureChanges)
    // release the checkpoint's storage blocks NOW — a long-lived CDC
    // session upserting in a loop would otherwise accumulate dead
    // MEMORY_AND_DISK blocks until driver GC notices (Dataset.unpersist
    // only serves CacheManager entries, so walk to the RDD itself)
    finally try batch.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ =>
    } catch { case _: Exception => }
  }

  private def upsertChecked(s: SparkSession, dir: String, table: String,
      batch: DataFrame, keys: Seq[String], captureChanges: Boolean): Unit = {
    // ONE capped job serves both MERGE validation and candidate-file
    // pruning: per-key-tuple counts, collected while the distinct key
    // set fits the prune cap (the common CDC-batch case). Null-key rows
    // are exempt from the dup check: they match no target row, so
    // several of them are independent inserts, not an ambiguous
    // "replace" — and the anti-join below can never match them either,
    // so their values don't belong in the prune.
    val cap = 1000
    // string keys group (and later prune) through a BINARY cast: a
    // driver collect() of String values substitutes U+FFFD for invalid
    // UTF-8, and an IN-list built from those corrupted literals could
    // prove a WRONG chunk skip (the fold then carries a file still
    // holding the true key's row). Byte literals compare exactly
    // (Stats.canSkip / Bloom.literalBytes take them directly).
    val keyExprs = keys.map { k =>
      batch.schema(k).dataType match {
        case org.apache.spark.sql.types.StringType => col(k).cast("binary").as(k)
        case _ => col(k)
      }
    }
    def dupRefusal(): Nothing = {
      // failure path only: re-derive ONE offending key for the message
      val r = batch.filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keyExprs: _*)
        .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).limit(1).collect().head
      val shown = r.toSeq.init.map {
        case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
        case v => v
      }
      throw new IllegalArgumentException(
        s"upsert batch has multiple rows for key ${shown.mkString("[", ",", "]")}" +
          s" — dedupe the batch to one row per (${keys.mkString(",")}) first")
    }
    // Single-key admission + pruning in ONE shuffle-free pass: the prune
    // sketch's (rows, distinct) answers the MERGE dup check directly for
    // small batches; only over-cap batches pay the full dup groupBy.
    // Multi-key upserts keep the tuple-grouped path (the dup check is on
    // the key TUPLE, which per-column sketches can't see).
    var multiKeyGrouped: Option[Array[org.apache.spark.sql.Row]] = None
    val singleKeyPrune: Option[graft.format.Stats.KeyPruneResult] =
      if (keys.size == 1) // raw column: keyPruneFull does its own string cast
        Some(graft.format.Stats.keyPruneFull(batch.select(col(keys.head))))
      else None
    singleKeyPrune match {
      case Some(res) =>
        val hasDup = res.distinct match {
          case Some(d) => res.rows > d
          case None => batch.filter(col(keys.head).isNotNull)
            .groupBy(keyExprs: _*)
            .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
            .limit(1).collect().nonEmpty
        }
        if (hasDup) dupRefusal()
      case None =>
        val grouped = batch.filter(keys.map(col(_).isNotNull).reduce(_ && _))
          .groupBy(keyExprs: _*)
          .agg(count(lit(1)).as("_n")).limit(cap + 1).collect()
        val smallKeySet = grouped.length <= cap
        val dup =
          if (smallKeySet) grouped.exists(_.getLong(keys.length) > 1)
          else batch.filter(keys.map(col(_).isNotNull).reduce(_ && _))
            .groupBy(keyExprs: _*)
            .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
            .limit(1).collect().nonEmpty
        if (dup) dupRefusal()
        multiKeyGrouped = if (smallKeySet) Some(grouped) else None
    }
    if (captureChanges) {
      // ONE keyed semi-probe of the table serves the whole capture: the
      // pre-images of replaced rows (Delta-CDF vocabulary, so consumers
      // can subtract the old contribution) — batch-sized shuffle, AQE
      // broadcasts the key set. The insert-vs-update split then derives
      // from the pre-images THEMSELVES (a key has a pre-image iff it
      // matched), pinned batch-sized via localCheckpoint so the union
      // below doesn't re-evaluate the table scan subtree twice — the
      // old shape paid a second full column-pruned scan (+ distinct)
      // just to classify, which at 100 TB doubles the capture's read.
      val pre = readTable(s, dir, table)
      val preImages = pre.join(batch.select(keys.map(col): _*).distinct(),
          keys, "left_semi")
        .withColumn("_change_type", lit("update_preimage"))
        .localCheckpoint()
      try {
        val matched = preImages.select(keys.map(col): _*).distinct()
          .withColumn("_matched", lit(1))
        val marked = batch.select(pre.columns.map(col).toSeq: _*)
          .join(matched, keys, "left")
          .withColumn("_change_type",
            when(col("_matched").isNotNull, "update_postimage").otherwise("insert"))
          .drop("_matched")
        captureTo(s, dir, marked.unionByName(preImages))
      } finally try preImages.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        case _ =>
      } catch { case _: Exception => }
    }
    // File-granular COW: only files whose zone maps/blooms admit one of
    // the batch's keys can hold a row the anti-join removes — the rest
    // carry by reference. Single-key: the admission pass's own prune.
    // Multi-key small batches reuse the validation collect's key tuples
    // (exact IN-lists per column, zero extra jobs); past the cap the
    // per-column sketches run.
    val keyFilters: Option[Seq[graft.format.Stats.Prune]] = {
      val fs: Seq[graft.format.Stats.Prune] = singleKeyPrune match {
        case Some(res) => res.prune.toSeq
        case None => multiKeyGrouped match {
          case Some(grouped) => keys.zipWithIndex.map { case (k, i) =>
            // binary-cast string keys arrive as Array[Byte], on which
            // Seq.distinct is reference equality — dedup through
            // value-equal ByteBuffer keys or the IN-list carries one
            // literal per duplicate row (redundant zone-map/bloom probes)
            val deduped: Array[Any] = grouped.map(_.get(i)).map {
              case b: Array[Byte] => java.nio.ByteBuffer.wrap(b): Any
              case v => v: Any
            }.distinct.map {
              case bb: java.nio.ByteBuffer => bb.array(): Any
              case v => v
            }.toArray
            graft.format.Stats.FilterPrune(
              org.apache.spark.sql.sources.In(k, deduped))
          }
          case None => keys.flatMap(k => keyPrune(batch, k)) // per-column caps intact
        }
      }
      Some(fs).filter(_.nonEmpty)
    }
    val touched = graft.sources.Generations.rewriteTable(s, dir, table,
      df => df.join(batch.select(keys.map(col): _*).distinct(), keys, "left_anti")
        .unionByName(batch.select(df.columns.map(col).toSeq: _*)),
      keyFilters, alwaysWrite = true)
    require(touched, s"table '$table' not found in $dir; nothing was upserted")
  }

  /** The other canonical change-feed consumer (pairing [[applyCdcBatch]]
    * for replicas): fold one micro-batch into a maintained GROUPED
    * AGGREGATE view — per group a row count plus SUMs of value
    * expressions. Insert/update_postimage rows ADD their contribution;
    * delete/update_preimage rows SUBTRACT it. The math is commutative,
    * so this fold is batch-split-tolerant BY NATURE (no versioning
    * needed, unlike replica maintenance): a pre/post pair split across
    * two micro-batches contributes −old in one and +new in the other,
    * in either order, and converges. Output columns follow the VIEW's
    * own schema order and types (each sum coalesced and cast back to
    * the declared column type, so exact decimal money stays exact);
    * groups whose count reaches zero drop out. Exactly-once per
    * micro-batch via `idempotencyKey` (pass the batch id). Per batch
    * the work is one batch-sized aggregate plus a copy-on-write rewrite
    * of the view (rows = number of groups), never a table rescan. */
  def applyCdcAggregate(s: SparkSession, viewDir: String, batch: DataFrame,
      groupCols: Seq[String], countCol: String,
      sums: Map[String, org.apache.spark.sql.Column],
      idempotencyKey: Option[String] = None): Unit = {
    require(groupCols.nonEmpty, "applyCdcAggregate needs group columns")
    val sgn = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .when(col("_change_type").isin("delete", "update_preimage"), -1L)
      .otherwise(0L)
    val deltaAggs = sum(col("_sgn")).as(s"_d_$countCol") +:
      sums.toSeq.map { case (n, c) => sum(col("_sgn") * c).as(s"_d_$n") }
    val delta = batch.withColumn("_sgn", sgn)
      .groupBy(groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    graft.sources.Generations.rewrite(s, viewDir, (_, v) => {
      val types = v.schema.fields.map(f => f.name -> f.dataType).toMap
      Seq(countCol).++(sums.keys).foreach { n =>
        require(types.contains(n), s"view at $viewDir lacks column $n") }
      v.schema.fields.foreach { f =>
        if (!groupCols.contains(f.name) && f.name != countCol && !sums.contains(f.name))
          throw new IllegalArgumentException(
            s"view column ${f.name} is neither a group column, the count, nor a maintained sum")
      }
      // merge as UNION + one hash aggregate, not a full_outer join: the
      // join shuffles BOTH tiny sides into a sort-merge (outer joins
      // don't broadcast-hash), three stages per micro-batch — profiled
      // as the fold commit's dominant fixed cost. A union aggregates in
      // ONE shuffle with map-side partials, and sum-over-present-rows
      // is exactly the old coalesce(view,0)+coalesce(delta,0) algebra
      // (sum skips nulls; the final coalesce restates the all-null
      // group as 0, matching the join's coalesce-to-0 on both sides).
      val shaped = v.select(v.schema.fields.map(f => col(f.name)).toSeq: _*)
        .unionByName(delta.select(v.schema.fields.map { f =>
          f.name match {
            case g if groupCols.contains(g) => col(g)
            case n => col(s"_d_$n").cast(f.dataType).as(n)
          }
        }.toSeq: _*))
      val aggs = v.schema.fields.filterNot(f => groupCols.contains(f.name)).map(f =>
        coalesce(sum(col(f.name)), lit(0).cast(f.dataType)).cast(f.dataType).as(f.name))
      shaped.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail.toSeq: _*)
        .select(v.schema.fields.map(f => col(f.name)).toSeq: _*)
        .filter(col(countCol) > 0)
    }, idempotencyKey = idempotencyKey)
    ()
  }

  /** Row-level DELETE by an arbitrary [[org.apache.spark.sql.Column]]
    * predicate through the same copy-on-write generation machinery as
    * SQL `DELETE FROM` — the path-based twin of the catalog's
    * `SupportsDelete`, for predicates that don't translate to V2
    * filters. A null predicate result means "don't delete" (the row is
    * kept), matching SQL DELETE's three-valued WHERE. */
  def deleteWhere(s: SparkSession, dir: String, table: String,
      where: org.apache.spark.sql.Column,
      captureChanges: Boolean = false): Unit = {
    if (captureChanges)
      captureTo(s, dir, readTable(s, dir, table)
        .filter(coalesce(where, lit(false)))
        .withColumn("_change_type", lit("delete")))
    val prune = graft.sources.Generations.pruneFiltersFor(readTable(s, dir, table), where)
    val touched = graft.sources.Generations.rewriteTable(s, dir, table,
      df => df.filter(!coalesce(where, lit(false))), prune, alwaysWrite = false)
    require(touched, s"table '$table' not found in $dir; nothing was deleted")
  }

  /** Write-time data expectations (the quality gate a 100 TB ingest
    * needs IN the write, not as a later audit): each named expectation
    * is a boolean [[org.apache.spark.sql.Column]]; a row violates it
    * when the predicate is false OR null. Returns per-expectation
    * violation counts.
    *
    *  - `onViolation="drop"` — ONE pass: the counters ride the write job
    *    itself as [[org.apache.spark.sql.Observation]] metrics (a
    *    CollectMetrics node above the quarantine filter sees every input
    *    row), violating rows are dropped, passing rows land. No second
    *    scan of the input.
    *  - `onViolation="fail"` — validate-first: one counting job; nothing
    *    is written unless every expectation holds (two passes by
    *    necessity — failing AFTER landing bad data would not be a gate).
    *    The input is persisted across the two passes so the rows the
    *    gate validated are EXACTLY the rows that land — a
    *    non-deterministic or concurrently-changing input cannot sneak
    *    violating rows in between the count and the write. The table
    *    itself still assumes a single writer (as all generation writes
    *    do); persistence pins the INPUT, not the target.
    */
  def writeWithExpectations(s: SparkSession, df: DataFrame, dir: String,
      expectations: Map[String, org.apache.spark.sql.Column],
      onViolation: String = "drop",
      writeOptions: Map[String, String] = Map.empty,
      persistContract: Boolean = false): Map[String, Long] = {
    require(expectations.nonEmpty, "need at least one expectation")
    require(onViolation == "drop" || onViolation == "fail",
      s"onViolation must be drop|fail, got $onViolation")
    val result = writeWithExpectations0(s, df, dir, expectations, onViolation, writeOptions)
    // contract publishes only after the data landed under it
    if (persistContract) publishContract(s, dir, expectations)
    result
  }

  private def writeWithExpectations0(s: SparkSession, df: DataFrame, dir: String,
      expectations: Map[String, org.apache.spark.sql.Column],
      onViolation: String,
      writeOptions: Map[String, String]): Map[String, Long] = {
    val names = expectations.keys.toSeq
    def violated(c: org.apache.spark.sql.Column) = !coalesce(c, lit(false))
    val counters = names.map(n => count(when(violated(expectations(n)), 1)).as(n))
    val passesAll = expectations.values.map(c => coalesce(c, lit(false))).reduce(_ && _)
    def save(data: DataFrame): Unit = {
      val w = data.write.format("graft").mode("append")
      writeOptions.foreach { case (k, v) => w.option(k, v) }
      w.save(dir)
    }
    if (onViolation == "fail") {
      // pin the validated rows: count and write must see one input
      val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val row = pinned.agg(counters.head, counters.tail: _*).head()
        val counts = names.zipWithIndex.map { case (n, i) => n -> row.getLong(i) }.toMap
        if (counts.values.exists(_ > 0))
          throw new graft.format.OliveFormatException(
            s"expectations violated, nothing written: " +
              counts.filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(", "))
        save(pinned)
        counts
      } finally pinned.unpersist()
    } else {
      val obs = org.apache.spark.sql.Observation()
      save(df.observe(obs, counters.head, counters.tail: _*).filter(passesAll))
      names.map(n => n -> obs.get(n).asInstanceOf[Long]).toMap
    }
  }

  /** Expectations persisted WITH the table (`.expectations` marker, one
    * `name\tSQL` line per expectation): the one-shot argument to
    * [[writeWithExpectations]] becomes a standing DATA CONTRACT that
    * every later [[appendWithContract]] ingest re-enforces — the
    * contract travels with the data, not with the job that first wrote
    * it. Predicates round-trip as SQL text (the Catalyst expression's
    * `.sql`, re-parsed with `expr`), so any engine session can load and
    * re-apply them — the spec proves the round-trip behaviorally. */
  val ExpectationsName = ".expectations"

  /** Persist `expectations` as `dir`'s standing contract (atomic
    * tmp+rename publish, same protocol as every graft marker). The
    * predicates are ANALYZED against the table before publishing — a
    * contract referencing a column the table doesn't have refuses here,
    * not at the first ingest; the analyzed expressions' SQL is what
    * lands on disk. Requires the table to exist. */
  def publishContract(s: SparkSession, dir: String,
      expectations: Map[String, org.apache.spark.sql.Column]): Unit = {
    require(expectations.nonEmpty, "a contract needs at least one expectation")
    val ordered = expectations.toSeq.sortBy(_._1)
    val analyzed = (s.read.format("graft").load(dir)
      .select(ordered.map(_._2): _*)
      .queryExecution.analyzed match {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
        // an aggregate/window "expectation" analyzes to a different node;
        // a blind cast here read as an opaque ClassCastException — name
        // the contract rule that isn't row-level instead
        case other => throw new IllegalArgumentException(
          s"expectations must be per-ROW boolean predicates; " +
            s"${ordered.map(_._1).mkString(",")} analyzed to ${other.nodeName} " +
            "(aggregates/windows cannot gate individual rows)")
      }).projectList
      .map {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child.sql
        case e => e.sql
      }
    val lines = ordered.map(_._1).zip(analyzed).map { case (n, sql) =>
      require(!n.contains("\t") && !n.contains("\n"), s"bad expectation name: $n")
      // the SQL itself may contain the framing chars (a string literal
      // with an embedded newline breaks the one-line-per-expectation
      // format in two) — escape on publish, unescape on load
      s"$n\t${escapeMarker(sql)}"
    }
    graft.sources.AtomicPublish.text(s.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(dir, ExpectationsName),
      lines.mkString("\n"))
  }

  private def escapeMarker(x: String): String =
    x.replace("\\", "\\\\").replace("\t", "\\t")
      .replace("\n", "\\n").replace("\r", "\\r")

  private def unescapeMarker(x: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < x.length) {
      val c = x.charAt(i)
      if (c == '\\' && i + 1 < x.length) {
        x.charAt(i + 1) match {
          case 'n' => b.append('\n')
          case 't' => b.append('\t')
          case 'r' => b.append('\r')
          case '\\' => b.append('\\')
          case o => b.append('\\').append(o)
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** The standing contract's raw (name, SQL) pairs — validated framing
    * and uniqueness, SQL unescaped but not parsed (the SQL surface:
    * `CALL sys.contract`). Empty when no contract exists. */
  def contractSql(conf: org.apache.hadoop.conf.Configuration, dir: String)
      : Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(dir, ExpectationsName)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val entries = text.split("\n").filter(_.nonEmpty).toSeq.map { line =>
        line.split("\t", 2) match {
          case Array(n, sql) => n -> unescapeMarker(sql)
          case _ => throw new graft.format.OliveFormatException(
            s"corrupt $ExpectationsName line at $dir: '$line'")
        }
      }
      // a duplicated name (botched merge, manual edit) must not quietly
      // keep only the LAST predicate — that reads as a weaker contract
      val dups = entries.groupBy(_._1).filter(_._2.size > 1).keys
      if (dups.nonEmpty) throw new graft.format.OliveFormatException(
        s"corrupt $ExpectationsName at $dir: duplicate expectation(s) ${dups.mkString(", ")}")
      entries
    }
  }

  /** The standing contract persisted at `dir`, empty when none. */
  def tableContract(s: SparkSession, dir: String): Map[String, org.apache.spark.sql.Column] =
    contractSql(s.sparkContext.hadoopConfiguration, dir).map { case (n, sql) =>
      try n -> expr(sql)
      catch {
        case e: Exception => throw new graft.format.OliveFormatException(
          s"corrupt expectation '$n' in $ExpectationsName at $dir: ${e.getMessage}", e)
      }
    }.toMap

  /** Audit the LIVE table against its standing contract: one aggregate
    * pass over the data, per-expectation violation counts back — the
    * on-demand data-quality check for a table whose contract was
    * published after some data had already landed (or whose writers
    * bypassed `appendWithContract`). Refuses without a contract. */
  def auditContract(s: SparkSession, dir: String): Seq[(String, Long)] = {
    val contract = tableContract(s, dir)
    require(contract.nonEmpty, s"no $ExpectationsName contract at $dir — nothing to audit")
    val names = contract.keys.toSeq.sorted
    val counters = names.map(n =>
      count(when(!coalesce(contract(n), lit(false)), 1)).as(n))
    val row = s.read.format("graft").load(dir)
      .agg(counters.head, counters.tail: _*).head()
    names.zipWithIndex.map { case (n, i) => n -> row.getLong(i) }
  }

  /** Append under the table's standing contract: loads the persisted
    * expectations and runs the same one-pass Observation-counted
    * quarantine (or fail-first gate) as [[writeWithExpectations]].
    * Refuses when no contract exists — silently skipping validation on
    * a typo'd path would defeat the contract's purpose. */
  def appendWithContract(s: SparkSession, df: DataFrame, dir: String,
      onViolation: String = "drop",
      writeOptions: Map[String, String] = Map.empty): Map[String, Long] = {
    val contract = tableContract(s, dir)
    require(contract.nonEmpty, s"no $ExpectationsName contract at $dir — " +
      "publish one with publishContract/writeWithExpectations(persistContract=true)")
    writeWithExpectations(s, df, dir, contract, onViolation, writeOptions)
  }

  /** Change data feed between two generations of a graft table: every
    * key classified `insert` / `update` / `delete` from `fromGen` to
    * `toGen` (None = live). This is what makes a 100 TB table's
    * downstream pipelines INCREMENTAL — reprocess the changed keys, not
    * the table.
    *
    * Scale shape: each side is projected to (keys, 8-byte content
    * digest) BEFORE the full-outer join, so the diff shuffles key+digest
    * pairs, never rows; unchanged keys (the overwhelming majority) are
    * dropped immediately after the join. Columns added by schema
    * evolution between the two generations are excluded from the digest
    * (an old row is "unchanged" until its values change), and the digest
    * itself never crosses the API — only the classification does. */
  def changesBetween(s: SparkSession, dir: String, fromGen: Int,
      toGen: Option[Int], keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "changesBetween needs key columns")
    changesFileGranular(s, dir, fromGen, toGen, keys)
      .getOrElse(changesFull(s, dir, fromGen, toGen, keys))
  }

  /** Files the last [[changesBetween]] fast path SKIPPED as provably
    * unchanged (same root-relative path + size + delete vector in both
    * generations) — the observability hook the spec and gate assert on. */
  private[graft] val cdfFilesSkipped = new java.util.concurrent.atomic.AtomicLong

  /** File-granular incremental diff. Generations carry their untouched
    * files BY REFERENCE at flattened root-relative paths, so a file
    * present under the same rel path in both generations is the same
    * immutable bytes — its rows cannot contribute a change (keys are
    * unique per the CDC contract, and a key's row lives in exactly one
    * file per generation). The diff therefore classifies files instead
    * of rows:
    *   - unchanged (same rel path + size + same DV): SKIPPED outright;
    *   - removed (in `from` only): its live rows are delete candidates;
    *   - added (in `to` only): its live rows are insert candidates;
    *   - DV-grown (same file, delete vector grew): exactly the newly
    *     deleted positions are delete candidates, selected by a
    *     broadcast semi-join on the (_file, _pos) row ids.
    * The usual digest join then runs over the candidate rows only — an
    * update is a key in both the removed and added sets. A 1-file DML
    * against a 10^6-file table diffs ONE file, not the table; a pure
    * MoR delete reads only the files whose vectors grew. Returns None
    * (→ full diff) for shapes the classification can't prove: no
    * generation pointer, a DV that SHRANK without its file changing
    * (restore), or any resolution error. */
  private def changesFileGranular(s: SparkSession, dir: String, fromGen: Int,
      toGen: Option[Int], keys: Seq[String]): Option[DataFrame] = try {
    if (!s.conf.get("spark.graft.cdf.fileGranular", "true").toBoolean) return None
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val fromName = f"gen-$fromGen%05d"
    val toName = toGen.map(g => f"gen-$g%05d").orElse(
      graft.sources.GraftDataSource.readGenPointer(conf, dir)).getOrElse(return None)
    def side(genName: String): (Map[String, (org.apache.hadoop.fs.Path, Long)],
        Map[String, String]) = {
      val genDir = new org.apache.hadoop.fs.Path(root, genName)
      if (!fs.exists(new org.apache.hadoop.fs.Path(genDir,
          graft.sources.GraftDataSource.SwapTsName))) throw new IllegalStateException(
        s"$genName not addressable")
      val listed = graft.sources.GraftDataSource
        .listGenerationSized(conf, dir, genName)
        .map { case (p, size, _) =>
          graft.sources.GraftDataSource.relativePath(root, p) -> (p, size) }.toMap
      val dvs = graft.sources.GraftDataSource.readDvManifest(fs, genDir)
        .map { case (_, rel, dvRel, _) => rel -> dvRel }.toMap
      (listed, dvs)
    }
    val (aFiles, aDvs) = side(fromName)
    val (bFiles, bDvs) = side(toName)
    def readDv(rel: String): Array[Long] = {
      val p = new org.apache.hadoop.fs.Path(root, rel)
      val st = fs.getFileStatus(p)
      val bytes = new Array[Byte](st.getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, bytes) finally in.close()
      graft.format.Dv.decode(bytes)
    }
    val removed = Seq.newBuilder[String]
    val dvCompare = Seq.newBuilder[(String, Option[String], String)]
    var skipped = 0L
    aFiles.foreach { case (rel, (_, aSize)) =>
      bFiles.get(rel) match {
        case None => removed += rel
        case Some((_, bSize)) =>
          if (aSize != bSize) throw new IllegalStateException(s"$rel size drifted")
          // @unchecked: the checker can't see through guards, but the
          // first case's x == y catches (None, None), so every input
          // has a case
          ((aDvs.get(rel), bDvs.get(rel)): @unchecked) match {
            case (x, y) if x == y => skipped += 1 // same blob (or none): unchanged
            case (a, Some(b)) => dvCompare += ((rel, a, b))
            case (Some(_), None) =>
              throw new IllegalStateException(s"$rel lost its delete vector")
          }
      }
    }
    // blob reads in the shared pool: a wide delete wave's classification
    // costs one parallel sweep, not one sequential read per grown file
    val grown = Seq.newBuilder[(String, Array[Long])] // rel -> newly-deleted
    graft.sources.GraftDataSource.inParallel(dvCompare.result()) {
      case (rel, aBlob, bBlob) =>
        val db = readDv(bBlob)
        aBlob match {
          case None => (rel, db)
          case Some(a) =>
            val da = readDv(a)
            val bSet = db.toSet
            if (!da.forall(bSet.contains)) // DV shrank in place: restore shape
              throw new IllegalStateException(s"$rel delete vector shrank")
            (rel, db.filterNot(da.toSet.contains))
        }
    }.foreach { case (rel, fresh) =>
      if (fresh.isEmpty) skipped += 1 else grown += ((rel, fresh))
    }
    val added = bFiles.keysIterator.filterNot(aFiles.contains).toSeq
    val removedList = removed.result()
    val grownList = grown.result()
    // the (_file,_pos) pair set broadcasts from the driver: a delete wave
    // past this cap is cheaper as a plain full diff than as a giant
    // broadcast (the DVs were already driver-decoded, same memory class)
    if (grownList.iterator.map(_._2.length.toLong).sum > (4L << 20))
      throw new IllegalStateException("too many newly-deleted rows for the pair join")
    cdfFilesSkipped.addAndGet(skipped)
    def readGenFiltered(gen: String, rels: Seq[String],
        files: Map[String, (org.apache.hadoop.fs.Path, Long)],
        withIds: Boolean): DataFrame = {
      val r = s.read.format("graft")
        .option("generation", gen.stripPrefix("gen-").toInt.toString)
        .option("fileFilter", rels.map(files(_)._1.toString).mkString("\n"))
        .load(dir)
      if (withIds) r.select(col("*"), col("_file"), col("_pos")) else r
    }
    import s.implicits._
    val beforeRemoved: Option[DataFrame] =
      if (removedList.isEmpty) None
      else Some(readGenFiltered(fromName, removedList, aFiles, withIds = false))
    val beforeGrown: Option[DataFrame] =
      if (grownList.isEmpty) None
      else {
        val pairs = grownList.flatMap { case (rel, dels) =>
          val fileStr = aFiles(rel)._1.toString
          dels.map(p => (fileStr, p))
        }
        val pairDf = pairs.toDF("_cdf_file", "_cdf_pos")
        val g = readGenFiltered(fromName, grownList.map(_._1), aFiles, withIds = true)
        Some(g.join(broadcast(pairDf),
            g("_file") === pairDf("_cdf_file") && g("_pos") === pairDf("_cdf_pos"),
            "left_semi")
          .drop("_file", "_pos"))
      }
    val before = (beforeRemoved, beforeGrown) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    // an EMPTY candidate side still needs the right schema for the
    // digest join — an always-false filter over the pinned read gives
    // Catalyst a zero-row relation without scanning anything
    def emptyLike(gen: String): DataFrame =
      s.read.format("graft").option("generation", gen.stripPrefix("gen-").toInt.toString)
        .load(dir).where(lit(false))
    val after =
      if (added.isEmpty) emptyLike(toName)
      else readGenFiltered(toName, added, bFiles, withIds = false)
    Some(digestDiff(before.getOrElse(emptyLike(fromName)), after, keys))
  } catch {
    case scala.util.control.NonFatal(e) =>
      if (java.lang.Boolean.getBoolean("graft.cdf.debug")) e.printStackTrace()
      None
  }

  private def changesFull(s: SparkSession, dir: String, fromGen: Int,
      toGen: Option[Int], keys: Seq[String]): DataFrame = {
    def readGen(g: Option[Int]): DataFrame = {
      val r = s.read.format("graft")
      g.fold(r)(n => r.option("generation", n.toString)).load(dir)
    }
    digestDiff(readGen(Some(fromGen)), readGen(toGen), keys)
  }

  private def digestDiff(before: DataFrame, after: DataFrame,
      keys: Seq[String]): DataFrame = {
    val common = before.columns.toSet.intersect(after.columns.toSet)
    require(keys.forall(common.contains),
      s"key columns ${keys.filterNot(common.contains).mkString(",")} absent from a generation")
    val nonKey = common.toSeq.filterNot(keys.contains).sorted
    // Content digest straight over the columns. Three subtleties the
    // naive xxhash64(cols…) gets wrong:
    //  - multi-arg hash SKIPS null children, so (null, x) would collide
    //    with (x, null); each column therefore hashes into its own slot,
    //    nulls taking a fixed sentinel (a real value colliding with the
    //    sentinel is a ~2^-64 event, the same tolerance as the digest
    //    join itself — an undetected collision reads as "unchanged");
    //  - the same null-skipping applies INSIDE structs and arrays, where
    //    a per-column slot can't see it — struct<a,b> (null,'x') vs
    //    ('x',null) hash identically. Nested types therefore digest via
    //    to_json, which keeps field names and null positions. The flat
    //    fast path (the overwhelming majority of columns) still pays no
    //    string materialization;
    //  - MapType has no deterministic order (and is rejected by hash
    //    functions outright), so maps digest as their key-sorted entry
    //    array through the same to_json path. Maps nested deeper inside
    //    structs keep to_json's insertion order — same tolerance as the
    //    original all-to_json digest.
    def digested(df: DataFrame, as: String): DataFrame = {
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      val dt = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val slots = nonKey.map { n =>
        val c = dt(n) match {
          case _: MapType => to_json(array_sort(map_entries(col(n))))
          case _: StructType | _: ArrayType => to_json(col(n))
          case _ => col(n)
        }
        coalesce(xxhash64(c), lit(0x9e3779b97f4a7c15L))
      }
      // a table whose EVERY common column is a key (pure key-set /
      // membership table) has no content to digest: a constant digest is
      // exactly right (a present key can only be "unchanged"), and
      // insert/delete classification still works through the full-outer
      // join — zero-arg xxhash64() would fail Spark's arity check
      val digest = if (slots.isEmpty) lit(0L) else xxhash64(slots: _*)
      df.select(keys.map(col) :+ digest.as(as): _*)
    }
    digested(before, "_hb").join(digested(after, "_ha"), keys, "full_outer")
      .withColumn("change_type",
        when(col("_hb").isNull, "insert")
          .when(col("_ha").isNull, "delete")
          .when(col("_hb") =!= col("_ha"), "update"))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  // ---- q108: change data feed across generations -----------------------------
  // gen-1 freezes the baseline; an upsert (updates on %13 keys, inserts
  // on %17 keys shifted out of the key range) makes gen-2; a delete of
  // %19==3 keys makes gen-3. changesBetween(gen-1, live) must classify
  // every key exactly — the oracle restates the set algebra from
  // parquet (a %13 key later deleted is a DELETE, not an update; an
  // inserted key later deleted never appears at all).
  private val q108: Q = (s, d) => {
    val dir = graftDir(d, "orders_cdf")
    // fixture: the multi-commit history the diff walks — seed, compact,
    // upsert, delete. The ENGINE under test is changesBetween below;
    // Bench reports the split as fixture_s (FixtureClock)
    FixtureClock.time {
      Tables.orders(s, d).repartition(8)
        .write.format("graft").mode("overwrite").save(dir)
      compact(s, dir, targetFiles = 2) // gen-1: frozen baseline
      val o = Tables.orders(s, d)
      val updates = o.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      val inserts = o.filter(col("o_orderkey") % 17 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L))
      upsert(s, dir, "data", updates.unionByName(inserts), Seq("o_orderkey"))
      deleteWhere(s, dir, "data", col("o_orderkey") % 19 === 3)
    }
    changesBetween(s, dir, fromGen = 1, toGen = None, keys = Seq("o_orderkey"))
      .groupBy(col("change_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("change_type"))
  }
  private val q108Sql =
    """WITH ks AS (SELECT o_orderkey AS k FROM orders)
      |SELECT 'delete' AS change_type, count(*) AS n FROM ks WHERE k % 19 = 3
      |UNION ALL
      |SELECT 'insert' AS change_type, count(*) AS n FROM ks
      |WHERE k % 17 = 0 AND (k + 900000000) % 19 <> 3
      |UNION ALL
      |SELECT 'update' AS change_type, count(*) AS n FROM ks
      |WHERE k % 13 = 0 AND k % 19 <> 3
      |ORDER BY change_type""".stripMargin

  // ---- q160: file-granular incremental diff — changes without a table scan --
  // q108's semantics with the fast path REQUIRED to engage: the history
  // is range-clustered and the DML scoped, so most files survive by
  // reference with identical delete vectors and the diff classifies
  // them UNCHANGED without reading a row — the `changes between` call
  // on a 10^6-file table costs the changed files, not two table scans
  // plus a shuffle join. Gate-asserted via the skipped-files counter
  // (zero skips = the classification degenerated to a full diff =
  // hash-fails through `files_skipped_gt0`); the per-type counts and
  // key sums are oracle-stated set algebra.
  private val q160: Q = (s, d) => {
    val root = graftDir(d, "orders_inc_diff")
    // fixture: cleanup + catalog + the bulk range-clustered seed + the
    // cut probe on the source parquet (the r16 convention, q108/q161);
    // the tracked engine side is the scoped DML history + the diff
    val maxKey = FixtureClock.time {
      deleteDirQuietly(s, root)
      s.conf.set("spark.sql.catalog.graft_inc", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_inc.root", root)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_inc.db")
      s.sql("CREATE TABLE graft_inc.db.orders " +
        "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) USING graft")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .writeTo("graft_inc.db.orders").append()
      Tables.orders(s, d).agg(max(col("o_orderkey"))).head.getLong(0)
    }
    val dir = s"$root/db"
    // anchor gen-1 with a 1-key COW delete: one file rewritten, seven
    // carried — the key-range clustering the scoped DML below relies on
    s.sql("DELETE FROM graft_inc.db.orders WHERE o_orderkey = 1")
    val cut = maxKey / 4
    // MoR delete scoped to the low quarter: DVs grow on ~2 files only
    s.conf.set("spark.graft.deleteMode", "merge-on-read")
    try s.sql("DELETE FROM graft_inc.db.orders " +
      s"WHERE o_orderkey % 23 = 4 AND o_orderkey < $cut")
    finally s.conf.set("spark.graft.deleteMode", "copy-on-write")
    // COW update scoped to a tiny key range: one file rewritten
    s.sql("UPDATE graft_inc.db.orders SET o_totalprice = o_totalprice + 5.0 " +
      "WHERE o_orderkey < 40")
    val before = cdfFilesSkipped.get()
    val diff = changesBetween(s, dir, fromGen = 1, toGen = None,
      keys = Seq("o_orderkey"))
    val out = diff.groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("change_type"))
    val rows = out.collect() // force the diff so the counter moves
    require(cdfFilesSkipped.get() > before,
      "q160: the file-granular diff classified no file as unchanged")
    import s.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), true))
      .toSeq.toDF("change_type", "n", "key_sum", "files_skipped_gt0")
      .orderBy(col("change_type"))
  }
  private val q160Sql =
    """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
      |del AS (SELECT o_orderkey AS k FROM orders, m
      |        -- integer floor division, matching the gate's Long cut
      |        WHERE o_orderkey % 23 = 4 AND o_orderkey < (mx // 4)
      |          AND o_orderkey <> 1),
      |upd AS (SELECT o_orderkey AS k FROM orders
      |        WHERE o_orderkey < 40 AND o_orderkey <> 1
      |          AND NOT (o_orderkey % 23 = 4)) -- cut >= 40 at every SF
      |SELECT 'delete' AS change_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS key_sum, true AS files_skipped_gt0 FROM del
      |UNION ALL
      |SELECT 'update', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT), true FROM upd
      |ORDER BY change_type""".stripMargin

  // ---- q161: materialize_dvs — the targeted end of the MoR lifecycle --------
  // Delete cheap (vectors), read with subtraction, then CALL
  // sys.materialize_dvs to rewrite ONLY the files whose vector passes
  // min_fraction — the hot 1% gets cleaned without compaction's full
  // rewrite, and once no vector remains the footer-served aggregate
  // path provably returns (plan-asserted). Survivor aggregates are
  // oracle-stated; the lifecycle booleans ride the row so a stuck
  // vector or a dead pushdown hash-fails.
  private val q161: Q = (s, d) => {
    val root = graftDir(d, "mor_materialize")
    // fixture: bulk range-partitioned seed + the cut probe on the source
    // parquet; engine: MoR deletes + both materialize passes
    FixtureClock.time {
      deleteDirQuietly(s, root)
      s.conf.set("spark.sql.catalog.graft_mat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_mat.root", root)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_mat.db")
      s.sql("CREATE TABLE graft_mat.db.orders " +
        "(o_orderkey BIGINT, o_totalprice DOUBLE) USING graft")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .repartitionByRange(4, col("o_orderkey"))
        .writeTo("graft_mat.db.orders").append()
    }
    val dir = s"$root/db"
    val conf = s.sparkContext.hadoopConfiguration
    val maxKey = FixtureClock.time {
      Tables.orders(s, d).agg(max(col("o_orderkey"))).head.getLong(0) }
    val cut = maxKey / 4
    s.conf.set("spark.graft.deleteMode", "merge-on-read")
    try {
      s.sql(s"DELETE FROM graft_mat.db.orders WHERE o_orderkey < $cut AND o_orderkey % 2 = 0")
      s.sql("DELETE FROM graft_mat.db.orders WHERE o_orderkey % 97 = 3")
    } finally s.conf.set("spark.graft.deleteMode", "copy-on-write")
    def dvEntries(): Seq[Long] = {
      val resolved = graft.sources.GraftDataSource.resolveDataDir(conf, dir)
      graft.sources.GraftDataSource.readDvManifest(
        new org.apache.hadoop.fs.Path(resolved).getFileSystem(conf),
        new org.apache.hadoop.fs.Path(resolved)).map(_._4)
    }
    require(dvEntries().nonEmpty, "q161: the deletes must leave vectors")
    // targeted pass: only the heavily-deleted low-range file(s) qualify
    // threshold with wide margins on both sides: the heavy file's live
    // fraction is ~50% of its range (sample-drifted boundaries included),
    // the light files' ~1% — 0.15 can't flap on either
    val pass1 = s.sql("CALL graft_mat.sys.materialize_dvs(ns => 'db', " +
      "table => 'orders', min_fraction => 0.15)").collect()
    require(pass1.nonEmpty && dvEntries().nonEmpty,
      "q161: the targeted pass must rewrite some files and carry the light ones")
    // full pass: every remaining vector materializes
    s.sql("CALL graft_mat.sys.materialize_dvs(ns => 'db', table => 'orders')")
    val cleared = dvEntries().isEmpty
    require(cleared, "q161: min_fraction 0 must clear every vector")
    val plan = s.table("graft_mat.db.orders").groupBy().agg(max(col("o_orderkey")))
      .queryExecution.executedPlan.toString
    val pushdownBack = plan.contains("pushedAggs=[Graft")
    require(pushdownBack, s"q161: footer aggregates must return after materialize:\n$plan")
    s.table("graft_mat.db.orders")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        min(col("o_orderkey")).as("key_min"),
        max(col("o_orderkey")).as("key_max"),
        round(sum(col("o_totalprice")), 2).as("price_sum"))
      .withColumn("dv_cleared", lit(cleared))
      .withColumn("pushdown_back", lit(pushdownBack))
  }
  private val q161Sql =
    """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
      |live AS (
      |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders, m
      |  WHERE NOT (o_orderkey < (mx // 4) AND o_orderkey % 2 = 0)
      |    AND NOT (o_orderkey % 97 = 3))
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS key_sum,
      |  CAST(min(k) AS BIGINT) AS key_min,
      |  CAST(max(k) AS BIGINT) AS key_max,
      |  round(sum(p), 2) AS price_sum,
      |  true AS dv_cleared,
      |  true AS pushdown_back
      |FROM live""".stripMargin

  // ---- q113: streaming change data feed --------------------------------------
  // The incremental-pipeline story end-to-end: a baseline table takes a
  // captured upsert, THEN a change-feed stream starts (batch 0 = the
  // upsert's capture), THEN a captured delete lands while the stream
  // runs and must arrive as a LATER micro-batch — foreachBatch relays
  // every change row into a second graft table. The gate aggregates the
  // relayed log per change type with key SUMS, so the oracle (the same
  // %13/%17/%19 set algebra as q108 restated from parquet) pins the
  // exact key sets that flowed through the stream, not just counts.
  // Unlike q108's retrospective diff, updates here include %13 keys
  // later deleted (the capture log is a journal, not a net diff), and
  // each update appears TWICE — pre-image and post-image, the Delta-CDF
  // vocabulary — with identical key sums. The oracle states exactly
  // that.
  private val q113: Q = (s, d) => {
    val dir = graftDir(d, "orders_cdf_stream")
    val sinkDir = graftDir(d, "orders_cdf_collected")
    val ck = graftDir(d, "orders_cdf_ck")
    val hconf = s.sparkContext.hadoopConfiguration
    // fixture: cleanup + the bulk seed; everything CDC (capture commits,
    // relay, final agg) is the tracked engine side
    FixtureClock.time {
      Seq(dir, sinkDir, ck).foreach { p => // idempotent re-run
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).delete(hp, true)
      }
      Tables.orders(s, d).repartition(8)
        .write.format("graft").mode("overwrite").save(dir)
    }
    val o = Tables.orders(s, d)
    val updates = o.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
    val inserts = o.filter(col("o_orderkey") % 17 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L))
    upsert(s, dir, "data", updates.unionByName(inserts), Seq("o_orderkey"),
      captureChanges = true)
    // relay through the NATIVE graft sink, not foreachBatch+append:
    // deterministic per-(epoch, partition) file names make a retried
    // epoch overwrite its own output — exactly-once relay where a plain
    // append would duplicate rows under foreachBatch's at-least-once
    val q = changeFeedStream(s, dir)
      .writeStream.format("graft")
      .option("path", sinkDir)
      .option("checkpointLocation", ck)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable() // batch 0: the upsert's change set
      deleteWhere(s, dir, "data", col("o_orderkey") % 19 === 3,
        captureChanges = true)
      q.processAllAvailable() // a later batch: the delete's change set
    } finally q.stop()
    s.read.format("graft").load(sinkDir)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("change_type"))
  }
  private val q113Sql =
    """WITH ks AS (SELECT o_orderkey AS k FROM orders),
      |post AS (
      |  SELECT k FROM ks
      |  UNION ALL
      |  SELECT k + 900000000 FROM ks WHERE k % 17 = 0)
      |SELECT 'delete' AS change_type, count(*) AS n,
      |  CAST(sum(k) AS BIGINT) AS key_sum FROM post WHERE k % 19 = 3
      |UNION ALL
      |SELECT 'insert' AS change_type, count(*) AS n,
      |  CAST(sum(k + 900000000) AS BIGINT) AS key_sum FROM ks WHERE k % 17 = 0
      |UNION ALL
      |SELECT 'update_postimage' AS change_type, count(*) AS n,
      |  CAST(sum(k) AS BIGINT) AS key_sum FROM ks WHERE k % 13 = 0
      |UNION ALL
      |SELECT 'update_preimage' AS change_type, count(*) AS n,
      |  CAST(sum(k) AS BIGINT) AS key_sum FROM ks WHERE k % 13 = 0
      |ORDER BY change_type""".stripMargin

  // ---- q114: incremental view maintenance over the change feed ---------------
  // THE 100 TB use of a change feed: a grouped aggregate (count + sum
  // per priority) is seeded ONCE from the baseline, then maintained
  // purely from change rows — insert/update_postimage ADD a row's
  // contribution, update_preimage/delete SUBTRACT it; after the whole
  // DML sequence the view must equal a from-scratch recompute (which is
  // what the oracle states from parquet) without ever rescanning the
  // table. Per micro-batch the work is: one batch-sized aggregate plus
  // a copy-on-write rewrite of the view (rows = number of groups).
  // Money is exact end-to-end: every per-row price casts to
  // DECIMAL(18,2) before any sum, so +x then -x cancels to the cent and
  // the incremental total is bit-equal to the recompute, not
  // FP-approximately equal. The fold is EXACTLY-once under foreachBatch's
  // at-least-once contract: each batch's rewrite carries the batchId as
  // an idempotency key stamped into the generation (rides the atomic
  // publish rename), so a replayed batch whose generation already
  // swapped is a no-op (IdempotentRewriteSpec proves the replay path).
  private val q114: Q = (s, d) => {
    val dir = graftDir(d, "orders_ivm")
    val viewDir = graftDir(d, "orders_ivm_view")
    val ck = graftDir(d, "orders_ivm_ck")
    val hconf = s.sparkContext.hadoopConfiguration
    val money = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    // fixture: cleanup + bulk seed + the one-time view seed scan; the
    // tracked engine side is the capture commits and incremental folds
    FixtureClock.time {
      Seq(dir, viewDir, ck).foreach { p => // idempotent re-run
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).delete(hp, true)
      }
      Tables.orders(s, d).repartition(8)
        .write.format("graft").mode("overwrite").save(dir)
      // seed: the LAST full scan this view ever needs
      s.read.format("graft").load(dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast("decimal(20,2)").as("total"))
        .write.format("graft").mode("overwrite").save(viewDir)
    }
    val o = Tables.orders(s, d)
    val updates = o.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val inserts = o.filter(col("o_orderkey") % 17 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L))
    upsert(s, dir, "data", updates.unionByName(inserts), Seq("o_orderkey"),
      captureChanges = true)
    val q = changeFeedStream(s, dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        // the canonical aggregate fold: signed contributions per group,
        // exact decimal money, exactly-once via the batch id
        applyCdcAggregate(b.sparkSession, viewDir, b, Seq("o_orderpriority"),
          "n", Map("total" -> money(col("o_totalprice"))),
          idempotencyKey = Some(s"q114-$batchId"))
      }.start()
    try {
      q.processAllAvailable() // fold the upsert's change set
      deleteWhere(s, dir, "data", col("o_orderkey") % 19 === 3,
        captureChanges = true)
      q.processAllAvailable() // fold the delete's change set
    } finally q.stop()
    s.read.format("graft").load(viewDir)
      .select(col("o_orderpriority"), col("n"),
        col("total").cast("double").as("total"))
      .orderBy(col("o_orderpriority"))
  }
  private val q114Sql =
    """WITH o AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
      |upd AS (SELECT o_orderkey, o_orderpriority, o_totalprice + 1000.0 AS o_totalprice
      |        FROM o WHERE o_orderkey % 13 = 0),
      |ins AS (SELECT o_orderkey + 900000000 AS o_orderkey, o_orderpriority, o_totalprice
      |        FROM o WHERE o_orderkey % 17 = 0),
      |post AS (
      |  SELECT * FROM o WHERE o_orderkey % 13 <> 0
      |  UNION ALL SELECT * FROM upd
      |  UNION ALL SELECT * FROM ins),
      |fin AS (SELECT * FROM post WHERE o_orderkey % 19 <> 3)
      |SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM fin GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- q118: CDC replica — a downstream table kept in sync by the feed -------
  // The other canonical change-feed consumer besides aggregates (q114):
  // a full REPLICA table seeded once from a snapshot, then maintained
  // purely from change rows through [[applyCdcBatch]] — per key the
  // highest-`_commit_version` non-preimage change wins, so the fold is
  // correct under multi-DML micro-batches AND under a capture append
  // split across batches (the CdcFoldFuzzSpec-found race). One
  // copy-on-write rewrite per batch, work ∝ replica rewrite + batch,
  // the source is never re-read; exactly-once via the batchId
  // idempotency key. The gate compares the replica (count, key sum,
  // money sum per priority) against the oracle's restatement of the
  // FINAL source table — proving the replica converged to the source.
  private val q118: Q = (s, d) => {
    val dir = graftDir(d, "orders_cdc_src")
    val repl = graftDir(d, "orders_cdc_replica")
    val ck = graftDir(d, "orders_cdc_rck")
    val hconf = s.sparkContext.hadoopConfiguration
    // fixture: cleanup + the two bulk seeds (source + replica snapshot);
    // the tracked engine side is the capture commits and replica folds
    FixtureClock.time {
      Seq(dir, repl, ck).foreach { p => // idempotent re-run
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).delete(hp, true)
      }
      Tables.orders(s, d).repartition(8)
        .write.format("graft").mode("overwrite").save(dir)
      // seed the replica from the baseline snapshot — the only bulk copy
      s.read.format("graft").load(dir).repartition(8)
        .write.format("graft").mode("overwrite").save(repl)
    }
    val o = Tables.orders(s, d)
    val updates = o.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val inserts = o.filter(col("o_orderkey") % 17 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L))
    upsert(s, dir, "data", updates.unionByName(inserts), Seq("o_orderkey"),
      captureChanges = true)
    val q = changeFeedStream(s, dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        // the canonical order-robust fold: per key the highest
        // `_commit_version` non-preimage change wins, removals prune
        // candidate files through the typed key summaries — per-batch
        // cost is O(batch + touched files), not O(replica), and a
        // capture append split across micro-batches still converges
        // (see applyCdcBatch)
        applyCdcBatch(b.sparkSession, repl, "data", b, Seq("o_orderkey"),
          idempotencyKey = Some(s"q118-$batchId"))
      }.start()
    try {
      q.processAllAvailable()
      deleteWhere(s, dir, "data", col("o_orderkey") % 19 === 3,
        captureChanges = true)
      q.processAllAvailable()
    } finally q.stop()
    s.read.format("graft").load(repl)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy(col("o_orderpriority"))
  }
  private val q118Sql =
    """WITH o AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
      |upd AS (SELECT o_orderkey, o_orderpriority, o_totalprice + 1000.0 AS o_totalprice
      |        FROM o WHERE o_orderkey % 13 = 0),
      |ins AS (SELECT o_orderkey + 900000000 AS o_orderkey, o_orderpriority, o_totalprice
      |        FROM o WHERE o_orderkey % 17 = 0),
      |post AS (
      |  SELECT * FROM o WHERE o_orderkey % 13 <> 0
      |  UNION ALL SELECT * FROM upd
      |  UNION ALL SELECT * FROM ins),
      |fin AS (SELECT * FROM post WHERE o_orderkey % 19 <> 3)
      |SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM fin GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- q124: SQL maintenance cycle through CALL procedures --------------------
  // The operational story as the driver's gate sees it: a baseline table
  // is compacted via `CALL sys.compact`, mutated by a row-level UPDATE
  // (new generation), rolled back via `CALL sys.restore`, and swept via
  // `CALL sys.vacuum(0)` — after which the live data must equal the
  // ORIGINAL baseline exactly (the oracle restates it straight from
  // parquet). Proves the whole pointer-machinery round trip — compact,
  // COW update, rollback, retention — is reachable and correct from
  // pure SQL, and that an aggressive vacuum never touches live data.
  private val q124: Q = (s, d) => {
    val root = graftDir(d, "proc_root")
    val dir = s"$root/db"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
    s.conf.set("spark.sql.catalog.graft_m", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_m.root", root)
    try {
      // fixture: the seed write; engine: the full maintenance cycle
      // (compact, COW update, restore, vacuum) + the final read
      FixtureClock.time {
        Tables.orders(s, d).repartition(4)
          .write.format("graft").mode("overwrite").save(dir)
      }
      s.sql("CALL graft_m.sys.compact('db', 2)") // gen-1 baseline
      updateWhere(s, dir, "data",
        Map("o_totalprice" -> (col("o_totalprice") + lit(1000.0))),
        col("o_orderkey") % 13 === 0)            // gen-2: the mistake
      s.sql("CALL graft_m.sys.restore('db', 1)") // roll it back
      s.sql("CALL graft_m.sys.vacuum('db', 0)")  // sweep everything dead
      s.read.format("graft").load(dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("o_orderpriority"))
    } finally {
      // both conf keys; the CatalogManager's cached instance stays
      // registered either way, which is fine here because the root is
      // deterministic per sfDir (a re-run re-resolves identically)
      s.conf.unset("spark.sql.catalog.graft_m")
      s.conf.unset("spark.sql.catalog.graft_m.root")
    }
  }
  private val q124Sql =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- q111: write-time expectations gate ------------------------------------
  // Ingest documents under two expectations (drop mode): rows whose
  // n_chars < 60 or whose doc_id is a multiple of 97 are quarantined in
  // the SAME job that writes the survivors (Observation counters above
  // the filter). The oracle restates the surviving set from parquet, so
  // the gate proves both the filter semantics and that ONLY passing rows
  // landed; the counter values themselves are asserted in
  // ExpectationsSpec.
  private val q111: Q = (s, d) => {
    val dir = graftDir(d, "docs_expect")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    writeWithExpectations(s, Tables.documents(s, d), dir, Map(
      "min_length" -> (col("n_chars") >= 60),
      "id_ok" -> (col("doc_id") % 97 =!= 0)))
    s.read.format("graft").load(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("lang"))
  }
  private val q111Sql =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE n_chars >= 60 AND doc_id % 97 <> 0
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Z-order (Morton) clustering rewrite — the multi-column pruning
    * path. A lexicographic sort gives zone maps one selective column;
    * interleaving the bits of per-column bucket indices gives every
    * clustered column a bounded value range per chunk, so a filter on
    * ANY of them skips chunks (the Delta/Iceberg OPTIMIZE ZORDER idea).
    *
    * Two binning modes pick the per-column bucket index:
    *   - `uniform` (default): 256 equal divisions of [min, max] via
    *     `width_bucket` — bounds come from one aggregate that graft
    *     scans answer from footer metadata alone, so the whole rewrite
    *     is two jobs with no extra data pass. Heavily skewed columns
    *     cluster less evenly (99% of a zipfian column can land in one
    *     bucket, and that column stops contributing pruning bits) but
    *     never incorrectly — the key only orders rows.
    *   - `quantile`: 255 approxQuantile boundaries (ε=0.001) put ~equal
    *     ROW MASS in every bucket regardless of the value distribution
    *     — the skew-robust mode, at the cost of one extra column-pruned
    *     pass over the cluster columns. Binning is a codegen'd binary
    *     search ([[graft.functions.QuantileBucket]]); the boundary
    *     arrays are ≤255 doubles per column on the driver, size-bounded
    *     at any table scale.
    * ONE column degenerates to exact lexicographic range clustering
    * (repartitionByRange + in-partition sort — no binning, no
    * quantization: the single-column case needs no z-curve and a plain
    * sort gives strictly tighter zone maps than 256 buckets would).
    * Numeric/date columns only for z-order (2–4 of them); a single
    * sort column may be any orderable type. */
  def cluster(s: SparkSession, dir: String, table: String, cols: Seq[String],
      targetFiles: Int, writeOptions: Map[String, String] = Map.empty,
      binning: String = "uniform"): Unit = {
    require(cols.nonEmpty && cols.size <= 4,
      s"cluster wants 1-4 columns, got ${cols.size}")
    require(binning == "uniform" || binning == "quantile",
      s"binning must be 'uniform' or 'quantile', got '$binning'")
    // a bucketed table's layout marker re-shapes every rewrite by the
    // bucket column (shapedWriter) — it would silently UNDO the z-order
    // while the clustering record still claimed it. Bucketing and
    // z-ordering prescribe conflicting physical layouts; refuse.
    require(graft.sources.GraftDataSource.readBucketMarker(
        s.sparkContext.hadoopConfiguration, dir, table).isEmpty,
      s"table '$table' is bucketed — its layout marker re-shapes every " +
        "rewrite by the bucket column, which would undo the z-order; " +
        "cluster a non-bucketed table, or drop the bucket layout first")
    var touched = false
    // quantile binning registers an internal temp function; deregister it
    // once the rewrite (which analyzes the plan eagerly) is done so the
    // session registry is left exactly as we found it. Pairing is exact:
    // the closure may never register (single column, table not matched),
    // and may register MORE than once (a retrying rewrite path replaying
    // the transform) — count every acquire and release the same number,
    // so the refcount in QuantileBucket returns to where it started and
    // CONCURRENT cluster() calls never drop the function under each other
    var bucketRegs = 0
    try {
    graft.sources.Generations.rewrite(s, dir, (name, df) =>
      if (name != table) df
      else {
        touched = true
        val (shaped, reg) = clusterShape(s, df, cols, binning, targetFiles)
        if (reg) bucketRegs += 1
        shaped
      }, targetFiles = None, writeOptions = writeOptions, rowChurning = false,
      // record the clustering INSIDE the staging dir so it publishes
      // atomically with the generation it describes — written after the
      // data, counted from the staging's own output (every live file at
      // birth is the rewrite's), so a concurrent append or compact can
      // neither inflate the recorded count nor steal the record into a
      // generation this rewrite never produced (see
      // GraftDataSource.ClusterSpecName)
      beforePublish = Some { (conf, staging) =>
        // `touched` is set by the transform, which ran during the table
        // writes above this hook; an unknown table publishes NO claim
        // (the require below then fails the call loudly)
        if (touched) {
          val fs = staging.getFileSystem(conf)
          writeClusterSpec(conf, staging, cols, binning, table,
            clusterFileNames(fs, staging))
        }
      })
    } finally {
      while (bucketRegs > 0) { graft.functions.QuantileBucket.deregister(s); bucketRegs -= 1 }
    }
    require(touched, s"table '$table' not found in $dir; nothing was clustered")
  }

  /** The z-key shaping shared by the full [[cluster]] rewrite and the
    * incremental merge ([[clusterIncremental]]): single column → exact
    * range sort; 2-4 columns → Morton interleave of per-column bucket
    * indices (uniform width_bucket or codegen'd quantile binning).
    * Returns (shaped df, whether QuantileBucket was registered — the
    * CALLER deregisters after its consuming plan executed). */
  private def clusterShape(s: SparkSession, df: DataFrame, cols: Seq[String],
      binning: String, targetFiles: Int): (DataFrame, Boolean) = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"cluster on unknown columns: ${missing.mkString(",")}")
    if (cols.size == 1) {
      // single column: exact sort clustering, no z-curve needed
      (df.repartitionByRange(targetFiles, col(cols.head))
        .sortWithinPartitions(col(cols.head)), false)
    } else {
      val n = cols.size
      var registered = false
      val buckets = if (binning == "quantile") {
        // one column-pruned pass for all boundary arrays; nulls are
        // ignored by approxQuantile and bucket to 0 via the coalesce.
        //
        // Scale guard (caught by the r16 sf1 run, where the naive shape
        // spun for >10 min): boundaries only feed 256-way BINNING, so
        //  - accuracy is ONE BUCKET WIDTH (1/256), not 0.001 — the
        //    Greenwald-Khanna summary size scales with 1/eps, and the
        //    driver merges one summary PER PARTITION sequentially;
        //  - the pass runs on a bounded deterministic sample (≤4M rows,
        //    seed 42) — a 4M sample pins each boundary's rank to well
        //    inside one bucket width at any table size, so the tiling is
        //    statistically identical while the pass stays O(sample);
        //  - the sampled projection coalesces to ≤64 partitions so a
        //    chunk-granular scan (thousands of splits) hands the driver
        //    64 summaries to merge, not thousands.
        // Pruning and correctness are unaffected: bins only need to be
        // sorted and roughly even — every file still covers a bounded
        // key range, and the rewrite reorders rows, never changes them.
        graft.functions.QuantileBucket.register(s)
        registered = true
        val casted = cols.map(c => col(c).cast("double").as(c))
        val probs = (1 until 256).map(_.toDouble / 256).toArray
        val sampleCap = 4L << 20
        val rows = df.count()
        val src0 = df.select(casted: _*)
        val src = (if (rows > sampleCap)
          src0.sample(withReplacement = false, sampleCap.toDouble / rows, 42L)
          else src0).coalesce(64)
        val qs = src.stat.approxQuantile(cols.toArray, probs, 1.0 / 256)
        cols.zipWithIndex.map { case (c, i) =>
          // collapse tied quantiles (constant/low-cardinality runs) and
          // drop NaN boundaries: a shorter sorted array bins coarser,
          // an EMPTY one (all-null/empty/all-NaN column) degrades to a
          // constant bucket — no pruning bits from that column, never
          // a wrong order
          val bs = qs(i).filter(!_.isNaN).distinct.sorted
          if (bs.isEmpty) lit(0L)
          else coalesce(
            graft.functions.QuantileBucket.bucket(
              col(c).cast("double"), typedLit(bs.toSeq)),
            lit(0L))
        }
      } else {
        // one metadata-answerable job for all bounds
        val aggs = cols.flatMap(c =>
          Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
        val bounds = df.agg(aggs.head, aggs.tail: _*).head()
        cols.zipWithIndex.map { case (c, i) =>
          // an empty table or all-null column has NULL bounds (a bare
          // getDouble would NPE mid-rewrite); NaN bounds poison the
          // interpolated width_bucket SQL (the literal parses as a
          // COLUMN reference) and NaN == NaN is false so the flat-range
          // guard misses — both degrade to a constant bucket: the
          // column simply contributes no z-order bits, everything else
          // still clusters
          if (bounds.isNullAt(2 * i) || bounds.isNullAt(2 * i + 1)) lit(0L)
          else {
            val (lo, hi) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
            if (lo.isNaN || hi.isNaN || lo.isInfinite || hi.isInfinite || lo == hi) lit(0L)
            else least(expr(s"width_bucket(CAST(`$c` AS DOUBLE), $lo, $hi, 256)") - 1L, lit(255L))
          }
        }
      }
      // interleave: bit k of bucket i lands at position k*n + i
      val z = (0 until 8).flatMap { k =>
        buckets.zipWithIndex.map { case (b, i) =>
          shiftleft(shiftright(b, k).bitwiseAND(lit(1L)), k * n + i)
        }
      }.reduce(_ + _)
      (df.withColumn("__z", z)
        .repartitionByRange(targetFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z"), registered)
    }
  }

  /** Names of every staged `.graft` file — the clustered-set membership
    * list the incremental recluster diffs the live listing against. */
  private def clusterFileNames(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path): Seq[String] = {
    val names = Seq.newBuilder[String]
    val it = fs.listFiles(staging, true)
    while (it.hasNext) {
      val n = it.next().getPath.getName
      if (n.endsWith(".graft")) names += n
    }
    names.result().sorted
  }

  private def writeClusterSpec(conf: org.apache.hadoop.conf.Configuration,
      staging: org.apache.hadoop.fs.Path, cols: Seq[String], binning: String,
      table: String, names: Seq[String]): Unit =
    graft.sources.AtomicPublish.text(conf,
      new org.apache.hadoop.fs.Path(staging,
        graft.sources.GraftDataSource.ClusterSpecName),
      // a single column is an exact sort — recording the binning
      // mode would name machinery that never ran. Lines 5+ are the
      // member file NAMES (newer records only): what lets an
      // incremental recluster identify drift without any per-file I/O.
      // An EMPTY member list still writes its sentinel line ("-", never
      // a legal file name) — a 4-line record means pre-name-tracking
      // vintage, and an empty-table cluster must not read as that
      s"${cols.mkString(",")}\n${if (cols.size == 1) "sort" else binning}" +
        s"\n${names.size}\n$table" +
        (if (names.isEmpty) "\n-" else names.mkString("\n", "\n", "")))

  /** Incremental reclustering for `state=partial` (`CALL sys.cluster(...,
    * incremental => true)`): recluster ONLY the files that postdate the
    * recorded clustering rewrite, carry the still-clustered originals by
    * reference — cost ∝ drift, not table size. Drift membership comes
    * from the record's file-name list (zero per-file I/O to detect); the
    * drift rows are z/range-shaped among THEMSELVES and appended as new
    * tiling files. The result is two interleaved sorted tilings rather
    * than one global order — every file still covers a bounded key
    * range, so zone-map pruning holds; a periodic FULL recluster
    * restores the single tiling when overlap accumulates. Returns the
    * number of drift files reclustered (0 = nothing to do). Refuses on a
    * record written before name tracking (run one full cluster first). */
  def clusterIncremental(s: SparkSession, dir: String, table: String): Int = {
    val conf = s.sparkContext.hadoopConfiguration
    // ONE record read: header + members from the same bytes (two reads
    // could pair them across a concurrent publish)
    val (spec, members0) = graft.sources.GraftDataSource.readClusterRecord(conf, dir)
      .getOrElse(throw new IllegalArgumentException(
        s"no clustering record on $dir — run a full sys.cluster first"))
    val (colsCsv, binning0, _, recTable) = spec
    require(recTable == table,
      s"clustering record on $dir names table '$recTable', not '$table'")
    val members = members0
      .getOrElse(throw new IllegalArgumentException(
        s"the clustering record on $dir predates incremental support " +
          "(no member file list) — run one full sys.cluster to refresh it"))
    val cols = colsCsv.split(',').toSeq
    val binning = if (binning0 == "sort") "uniform" else binning0
    require(graft.sources.GraftDataSource.readBucketMarker(conf, dir, table).isEmpty,
      s"table '$table' is bucketed — clustering and bucketing prescribe " +
        "conflicting layouts (same refusal as the full cluster)")
    var drift = 0
    var regs = 0
    try {
      drift = graft.sources.Generations.rewriteFiles(s, dir, table,
        p => !members.contains(p.getName),
        (df, nDrift) => {
          val (shaped, r) = clusterShape(s, df, cols, binning, math.max(nDrift, 1))
          if (r) regs += 1
          shaped
        },
        beforePublish = (conf2, staging, carriedNames) => {
          val fs = staging.getFileSystem(conf2)
          // new record: carried members that are still live + the drift
          // replacements this rewrite just staged — the count equals the
          // post-publish listing, so DESCRIBE reports 'clustered' again
          writeClusterSpec(conf2, staging, cols, binning0, table,
            (carriedNames ++ clusterFileNames(fs, staging)).sorted)
        }).size
    } finally {
      while (regs > 0) { graft.functions.QuantileBucket.deregister(s); regs -= 1 }
    }
    drift
  }

  // ---- q98: z-order clustering preserves content, prunes both dims ----------
  // orders written small-chunked, clustered on (o_custkey, o_totalprice);
  // the OR filter needs BOTH columns' zone maps (an OR skips a chunk only
  // when each branch is provably disjoint). The oracle recomputes from
  // parquet: clustering is pure reordering, any row lost or duplicated
  // by the rewrite hash-fails. ClusterSpec asserts the actual pruning.
  private val q98: Q = (s, d) => {
    val dir = graftDir(d, "orders_zorder")
    // fixture: the 16-way seed write (scales with sf); engine: the
    // z-order cluster() rewrite + the pruned scan it enables
    FixtureClock.time {
      Tables.orders(s, d).repartition(16)
        .write.format("graft").option("chunkrows", "4000")
        .mode("overwrite").save(dir)
    }
    cluster(s, dir, "data", Seq("o_custkey", "o_totalprice"),
      targetFiles = 4, writeOptions = Map("chunkrows" -> "4000"),
      binning = "quantile")
    s.read.format("graft").load(dir)
      .filter(col("o_custkey") < 500 || col("o_totalprice") > 400000.0)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      .orderBy(col("o_orderstatus"))
  }
  private val q98Sql =
    """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS total
      |FROM orders
      |WHERE o_custkey < 500 OR o_totalprice > 400000.0
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---- q99: SUM pushdown answered from footer sums ---------------------------
  // count(*) + sum over a graft scan with no filter: both resolve from
  // footer metadata (numRows + the v3 per-chunk sums), zero data pages
  // read — at 100 TB this is the difference between a metadata round and
  // a full-table scan. l_quantity is integer-valued, so the double sum
  // is order-independent and matches DuckDB bit-exactly.
  private val q99: Q = (s, d) => {
    val dir = graftDir(d, "lineitem_sumpd")
    Tables.lineitem(s, d).select(col("l_quantity"), col("l_orderkey"))
      .write.format("graft").mode("overwrite").save(dir)
    s.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
  }
  private val q99Sql =
    """SELECT count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem""".stripMargin

  // ---- q95: SQL DELETE FROM through the catalog -----------------------------
  // CTAS the orders table into the catalog, DELETE a predicate slice
  // (copy-on-write generation + atomic pointer swap, SupportsDelete),
  // then aggregate what remains; the oracle computes the complement
  // from parquet, so the row-level delete itself is hash-gated.
  private val q95: Q = (s, d) => {
    val root = graftDir(d, "dml_cat")
    // fixture: catalog setup + the CTAS seed (scales with sf);
    // engine: the DELETE rewrite + the post-delete aggregate
    FixtureClock.time {
      deleteDirQuietly(s, root) // idempotent reruns
      s.conf.set("spark.sql.catalog.graft_dml", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_dml.root", root)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_dml.db")
      Tables.orders(s, d).createOrReplaceTempView("q95_orders_src")
      s.sql("CREATE TABLE graft_dml.db.orders_t AS SELECT * FROM q95_orders_src")
    }
    s.sql("""DELETE FROM graft_dml.db.orders_t
      WHERE o_orderstatus = 'F' AND o_totalprice < 150000.0""")
    s.sql("""SELECT o_orderstatus, count(*) AS n,
      round(sum(o_totalprice), 4) AS total
      FROM graft_dml.db.orders_t GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }
  private val q95Sql =
    """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS total
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 150000.0)
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---- q135: ANALYZE through the SQL procedure (exact oracle) ---------------
  // `CALL sys.analyze(ns, exact => true)` over a lineitem projection; the
  // oracle recomputes every NDV and null count with DuckDB's own
  // count(DISTINCT) on the source parquet, so a hash match proves the
  // one-pass multi-distinct aggregation AND the procedure surface. The
  // sketch mode (the 100 TB default) is spec-gated for bounded error.
  private val q135: Q = (s, d) => {
    val root = graftDir(d, "analyze")
    // fixture: the lineitem-projection seed write (scales with sf);
    // engine: the exact ANALYZE passes
    FixtureClock.time {
      deleteDirQuietly(s, root)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .write.format("graft").mode("overwrite").save(s"$root/t")
    }
    s.conf.set("spark.sql.catalog.graft_an", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_an.root", root)
    s.sql("CALL graft_an.sys.analyze(ns => 't', exact => true)")
      .select(col("col_name"), col("ndv"), col("null_count"))
      .orderBy(col("col_name"))
  }
  private val q135Sql =
    """SELECT * FROM (
      |  SELECT 'l_orderkey' AS col_name, count(DISTINCT l_orderkey) AS ndv,
      |         count(*) - count(l_orderkey) AS null_count FROM lineitem
      |  UNION ALL
      |  SELECT 'l_quantity', count(DISTINCT l_quantity),
      |         count(*) - count(l_quantity) FROM lineitem
      |  UNION ALL
      |  SELECT 'l_returnflag', count(DISTINCT l_returnflag),
      |         count(*) - count(l_returnflag) FROM lineitem
      |) ORDER BY col_name""".stripMargin

  // ---- q138: ANALYZE staleness lifecycle through the SQL surface ------------
  // The DML lifecycle the CBO snapshot needs: ANALYZE → DESCRIBE shows
  // `fresh` and the scan serves column stats; a SQL UPDATE churning every
  // row crosses the churn threshold → DESCRIBE shows `stale` and the scan
  // goes stats-dark (a churned NDV misleads join planning worse than no
  // NDV); re-ANALYZE → `fresh` again. The phase/state rows are the
  // contract; the row counts tie each phase to the real table. Plan
  // introspection inside the gate asserts the serve/dark transitions.
  private val q138: Q = (s, d) => {
    val root = graftDir(d, "stats_churn")
    deleteDirQuietly(s, root)
    s.conf.set("spark.sql.catalog.graft_sc", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_sc.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_sc.db")
    Tables.orders(s, d).createOrReplaceTempView("q138_src")
    // a quarter of orders: the gate's subject is the LIFECYCLE (analyze →
    // churn → stale → re-analyze), which two exact ANALYZE passes and a
    // full-table UPDATE exercise identically at any size
    s.sql("""CREATE TABLE graft_sc.db.t AS
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM q138_src
      WHERE o_orderkey % 4 = 0""")
    def state(): String = s.sql("DESCRIBE TABLE EXTENDED graft_sc.db.t")
      .filter(col("col_name") === "Table Properties")
      .select(regexp_extract(col("data_type"), "stats\\.state=([a-z]+)", 1))
      .head().getString(0)
    def servesColStats(): Boolean = {
      val prev = s.conf.get("spark.sql.cbo.enabled", "false")
      try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.table("graft_sc.db.t").filter(col("o_orderstatus") === "O")
          .queryExecution.optimizedPlan.collectFirst {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.stats.attributeStats.nonEmpty
          }.getOrElse(false)
      } finally s.conf.set("spark.sql.cbo.enabled", prev)
    }
    def phase(name: String): (String, String, Long) =
      (name, state(), s.table("graft_sc.db.t").count())
    s.sql("CALL graft_sc.sys.analyze(ns => 'db', exact => true, table => 't')")
    require(servesColStats(), "q138: fresh ANALYZE must serve column stats")
    val p1 = phase("analyzed")
    s.sql("UPDATE graft_sc.db.t SET o_totalprice = o_totalprice * 1.1")
    require(!servesColStats(), "q138: 100%-churned stats must go dark")
    val p2 = phase("churned")
    s.sql("CALL graft_sc.sys.analyze(ns => 'db', exact => true, table => 't')")
    require(servesColStats(), "q138: re-ANALYZE must serve again")
    val p3 = phase("reanalyzed")
    import s.implicits._
    Seq(p1, p2, p3).toDF("phase", "state", "n_rows").orderBy("phase")
  }
  private val q138Sql =
    """WITH s AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 4 = 0)
      |SELECT 'analyzed' AS phase, 'fresh' AS state, n AS n_rows FROM s
      |UNION ALL
      |SELECT 'churned', 'stale', n FROM s
      |UNION ALL
      |SELECT 'reanalyzed', 'fresh', n FROM s
      |ORDER BY phase""".stripMargin

  // ---- q139: histogram-driven CBO — the plan FLIP, not just the serve -------
  // A skewed derived column over orders (99% of values below 97, 1%
  // spread to ~10^6): filtering above the knee selects ~1% of rows, but
  // uniform (hi−lo)/(max−min) estimation says ~99%. With the ANALYZE
  // histogram served the filtered side broadcasts; with histograms off
  // the same join plans sort-merge — both asserted from the physical
  // plan, threshold scaled to the SF so the flip holds at every size.
  // The returned aggregate is identical either way (oracle-gated): the
  // flip is pure strategy.
  private val q139: Q = (s, d) => {
    val factDir = graftDir(d, "hist_cbo")
    deleteDirQuietly(s, factDir)
    Tables.orders(s, d).selectExpr("o_orderkey AS k",
      """CASE WHEN o_orderkey % 100 = 0 THEN 1000 + (o_orderkey % 997) * 1000
         ELSE o_orderkey % 97 END AS v""")
      .write.format("graft").mode("overwrite").save(factDir)
    analyzeTable(s, factDir, exact = true)
    val n = s.read.format("graft").load(factDir).count()
    def plan() = {
      val fact = s.read.format("graft").load(factDir).filter(col("v") >= 1000L)
      fact.join(Tables.lineitem(s, d), col("k") === col("l_orderkey"))
        .groupBy((col("v") % 7).as("g"))
        .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 4).as("qty"))
        .orderBy(col("g"))
    }
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.graft.cbo.histograms").map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      // between the histogram estimate (~n/32 rows × 24 B) and the
      // uniform one (~n × 24 B), with ≥5× margin each way at every SF
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", (n * 4).toString)
      s.conf.set("spark.graft.cbo.histograms", "true")
      val bhj = plan().queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      require(bhj.nonEmpty, "q139: histogram estimate must broadcast the filtered side")
      s.conf.set("spark.graft.cbo.histograms", "false")
      val p2 = plan().queryExecution.sparkPlan
      require(p2.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.isEmpty, "q139: uniform estimate must NOT broadcast")
      s.conf.set("spark.graft.cbo.histograms", "true")
      plan()
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
  private val q139Sql =
    """WITH fact AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 100 = 0 THEN 1000 + (o_orderkey % 997) * 1000
      |    ELSE o_orderkey % 97 END AS v
      |  FROM orders)
      |SELECT v % 7 AS g, count(*) AS n_rows, round(sum(l_quantity), 4) AS qty
      |FROM fact JOIN lineitem ON k = l_orderkey
      |WHERE v >= 1000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q141: pushdown SURVIVES a rename — pruning + footer aggregates -------
  // Mixed pre/post-rename files over a DML-maintained, range-clustered
  // table: a selective filter on the RENAMED key must still schedule
  // only the files the (old-name) manifest zone maps allow, and
  // MIN/MAX/COUNT on the renamed column must still answer from footers —
  // both asserted from the physical plan inside the gate. Without
  // per-file rename-chain resolution every rename silently turns pruned
  // scans into full scans until a rewrite heals the names. Oracle
  // recomputes the aggregate from the source parquet.
  private val q141: Q = (s, d) => {
    val root = graftDir(d, "rename_prune")
    deleteDirQuietly(s, root)
    s.conf.set("spark.sql.catalog.graft_rp", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_rp.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_rp.db")
    s.sql("CREATE TABLE graft_rp.db.t (k BIGINT, tp DOUBLE) USING graft")
    val src = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").cast("double").as("tp"))
    src.filter(col("k") % 2 === 0)
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .writeTo("graft_rp.db.t").append()
    // a tiny DML writes the stats-carrying manifest over the 8 files
    updateWhere(s, s"$root/db", "t",
      set = Map("tp" -> col("tp")), where = col("k") === 2L)
    s.sql("ALTER TABLE graft_rp.db.t RENAME COLUMN k TO okey")
    src.filter(col("k") % 2 === 1).withColumnRenamed("k", "okey")
      .writeTo("graft_rp.db.t").append()
    val t = s.table("graft_rp.db.t")
    val keyMax = t.agg(max(col("okey"))).head().getLong(0)
    // plan assert 1: the selective renamed-key filter prunes carried
    // pre-rename files via their old-name zone maps
    val sel = t.filter(col("okey") === keyMax)
    val scheduled = sel.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case p: graft.sources.GraftInputPartition => Seq(p.file)
          case p: graft.sources.GraftPackedPartition => p.files.map(_._1)
        }.flatten
    }.flatten.distinct
    require(scheduled.size <= 3,
      s"q141: rename must not disable file pruning (scheduled ${scheduled.size})")
    // plan assert 2: footer aggregates keep answering across the rename
    val agg = s.sql("SELECT min(okey), max(okey), count(okey) FROM graft_rp.db.t")
    require(agg.queryExecution.executedPlan.toString.contains("pushedAggs="),
      "q141: rename must not decline footer aggregates")
    s.sql("""SELECT CAST(count(*) AS BIGINT) AS n,
      min(okey) AS mn, max(okey) AS mx,
      CAST(sum(CASE WHEN okey < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      round(sum(tp), 4) AS total
      FROM graft_rp.db.t""")
  }
  private val q141Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  min(o_orderkey) AS mn, max(o_orderkey) AS mx,
      |  CAST(sum(CASE WHEN o_orderkey < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  round(sum(o_totalprice), 4) AS total
      |FROM orders""".stripMargin

  // ---- q142: decimal widening over mixed files (exact money math) -----------
  // Pre-widen files store DECIMAL(12,2) as unscaled i64; the ALTER grows
  // digits AND scale to DECIMAL(24,4) (post-widen files store 16-byte
  // binary); one exact SUM over the mixed physical forms hash-gates the
  // promotion path — any rounding in the rescale, or a wrong unscaled
  // interpretation on either side of the i64/binary boundary, shifts the
  // 4-decimal total. DuckDB recomputes in its own exact decimal domain.
  // The decimal inputs are string-assembled from integer digits, never
  // cast from the DOUBLE o_totalprice: DOUBLE->DECIMAL rounding at a
  // scale finer than the source's 2 decimals exposes the binary
  // representation error and is engine/version-dependent (the r12
  // driver-vs-local hash split); string->DECIMAL parsing is exact in
  // every engine.
  // The OUTPUT carries no DECIMAL-typed cell either (the r13 driver
  // hash disagreed on DECIMAL canonicalization even when both engines
  // agreed cell-for-cell): every column is BIGINT. Per-row amt*10000 is
  // integral and fits i64 at any SF; the exact total's unscaled value
  // does NOT (sf0.1 sum ~8e19 overflows, and Bench runs every gate at
  // sf0.1 under ANSI), so the sum is pinned by count + min/max unscaled
  // + two independent modular residues — sum(u%p)%p == (sum u)%p, each
  // partial < 1.5e15 at sf1, overflow-free, and any rescale error in
  // the widen path shifts both residues.
  private val q142: Q = (s, d) => {
    val root = graftDir(d, "decimal_widen")
    deleteDirQuietly(s, root)
    s.conf.set("spark.sql.catalog.graft_dw", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_dw.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_dw.db")
    s.sql("CREATE TABLE graft_dw.db.t (k BIGINT, amt DECIMAL(12,2)) USING graft")
    Tables.orders(s, d).createOrReplaceTempView("q142_src")
    s.sql("""INSERT INTO graft_dw.db.t
      SELECT o_orderkey,
        CAST(concat(CAST(o_orderkey AS STRING), '.',
                    lpad(CAST(o_orderkey % 97 AS STRING), 2, '0')) AS DECIMAL(12,2))
      FROM q142_src WHERE o_orderkey % 2 = 0""")
    s.sql("ALTER TABLE graft_dw.db.t ALTER COLUMN amt TYPE DECIMAL(24,4)")
    s.sql("""INSERT INTO graft_dw.db.t
      SELECT o_orderkey,
        CAST(concat(CAST(o_orderkey AS STRING), '.',
                    lpad(CAST(o_orderkey % 9973 AS STRING), 4, '0')) AS DECIMAL(24,4))
          + CAST(111111111111.1111 AS DECIMAL(24,4))
      FROM q142_src WHERE o_orderkey % 2 = 1""")
    s.sql("""SELECT CAST(count(*) AS BIGINT) AS n,
      CAST(min(u) AS BIGINT) AS mn_u,
      CAST(max(u) AS BIGINT) AS mx_u,
      CAST(sum(u % 1000000007) % 1000000007 AS BIGINT) AS tot_m1,
      CAST(sum(u % 998244353) % 998244353 AS BIGINT) AS tot_m2
      FROM (SELECT CAST(amt * 10000 AS BIGINT) AS u FROM graft_dw.db.t)""")
  }
  private val q142Sql =
    """WITH t AS (
      |  SELECT CASE WHEN o_orderkey % 2 = 0
      |    THEN CAST(CAST(concat(CAST(o_orderkey AS STRING), '.',
      |           lpad(CAST(o_orderkey % 97 AS STRING), 2, '0')) AS DECIMAL(12,2)) AS DECIMAL(24,4))
      |    ELSE CAST(concat(CAST(o_orderkey AS STRING), '.',
      |           lpad(CAST(o_orderkey % 9973 AS STRING), 4, '0')) AS DECIMAL(24,4))
      |         + CAST(111111111111.1111 AS DECIMAL(24,4))
      |  END AS amt FROM orders),
      |u AS (SELECT CAST(amt * 10000 AS BIGINT) AS u FROM t)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(u) AS BIGINT) AS mn_u,
      |  CAST(max(u) AS BIGINT) AS mx_u,
      |  CAST(sum(u % 1000000007) % 1000000007 AS BIGINT) AS tot_m1,
      |  CAST(sum(u % 998244353) % 998244353 AS BIGINT) AS tot_m2
      |FROM u""".stripMargin

  // ---- q143: ADD COLUMN absence pruning — the pre-DDL tail unschedules ------
  // Files written before an ADD COLUMN provably read the new column as
  // all-null, so a comparison filter on it must not schedule them AT ALL
  // (asserted from the physical plan's input partitions): on a 100 TB
  // table a filter on a freshly added column scans only the post-DDL
  // slice, not the archive. Rows oracle-gated.
  private val q143: Q = (s, d) => {
    val root = graftDir(d, "add_prune")
    deleteDirQuietly(s, root)
    s.conf.set("spark.sql.catalog.graft_ap", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_ap.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ap.db")
    s.sql("CREATE TABLE graft_ap.db.t (k BIGINT, tp DOUBLE) USING graft")
    val src = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("tp"))
    src.filter(col("k") % 2 === 0)
      .repartitionByRange(6, col("k")).sortWithinPartitions("k")
      .writeTo("graft_ap.db.t").append()
    // a tiny DML writes the stats-carrying manifest: PLANNING-time
    // pruning consumes per-file schemas from it (plain appends leave
    // no manifest; executor-side absence skips would still engage, but
    // the point here is zero tasks for the pre-DDL tail)
    updateWhere(s, s"$root/db", "t",
      set = Map("tp" -> col("tp")), where = col("k") === 2L)
    s.sql("ALTER TABLE graft_ap.db.t ADD COLUMN batch_tag BIGINT")
    src.filter(col("k") % 2 === 1)
      .withColumn("batch_tag", col("k") % 5).repartition(2)
      .writeTo("graft_ap.db.t").append()
    val sel = s.table("graft_ap.db.t").filter(col("batch_tag") === 3L)
    val scheduled = sel.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case p: graft.sources.GraftInputPartition => Seq(p.file)
          case p: graft.sources.GraftPackedPartition => p.files.map(_._1)
        }.flatten
    }.flatten.distinct
    // ≤3 distinct FILES (chunk splits of a big file are one file, many
    // partitions — the sf1 run caught the partition-count version of
    // this assert): the two post-ADD files plus the one file the
    // manifest-creating DML itself rewrote
    require(scheduled.size <= 3,
      s"q143: pre-ADD files must unschedule on a new-column comparison " +
        s"(scheduled ${scheduled.size})")
    s.table("graft_ap.db.t")
      .groupBy(col("batch_tag"))
      .agg(count(lit(1)).as("n"), round(sum(col("tp")), 4).as("total"))
      .orderBy(col("batch_tag"))
  }
  private val q143Sql =
    """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey % 5 END AS batch_tag,
      |  CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 4) AS total
      |FROM orders
      |GROUP BY 1 ORDER BY batch_tag""".stripMargin

  // ---- q145: double zone maps (NaN-accounted, footer v5) --------------------
  // A quality-score DOUBLE is exactly the column an LLM-pipeline user
  // filters, and pre-v5 float/double stats dropped on any NaN, so the
  // type was excluded from pruning and footer aggregates entirely.
  // Score-clustered documents + a manifest-creating DML: a selective
  // score filter must schedule only the files the double zone maps
  // allow (plan-asserted), and MIN/MAX/COUNT on the score must answer
  // from footers (plan-asserted). The score derives from exact integer
  // arithmetic over n_chars/doc_id so every IEEE double is identical in
  // DuckDB; min/max are exact values (no sum-of-doubles in the hash).
  private val q145: Q = (s, d) => {
    val dir = graftDir(d, "float_prune")
    Tables.documents(s, d)
      .select(col("doc_id"),
        (col("n_chars").cast("double") +
          (col("doc_id") % 997).cast("double") / lit(1000.0)).as("score"))
      .repartitionByRange(8, col("score")).sortWithinPartitions("score")
      .write.format("graft").mode("overwrite").save(dir)
    val g0 = s.read.format("graft").load(dir)
    val mnScore = g0.agg(min(col("score"))).head().getDouble(0)
    // single-key DML on the cluster column writes the stats manifest
    updateWhere(s, dir, "data",
      set = Map("score" -> col("score")), where = col("score") === mnScore)
    val g = s.read.format("graft").load(dir)
    val mxScore = g.agg(max(col("score"))).head().getDouble(0)
    val sel = g.filter(col("score") === mxScore)
    val files = sel.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case p: graft.sources.GraftInputPartition => Seq(p.file)
          case p: graft.sources.GraftPackedPartition => p.files.map(_._1)
        }.flatten
    }.flatten.distinct.size
    require(files <= 2,
      s"q145: double zone maps must prune files at planning (scheduled $files)")
    val agg = g.agg(min(col("score")), max(col("score")), count(col("score")))
    require(agg.queryExecution.executedPlan.toString.contains("pushedAggs="),
      "q145: double MIN/MAX must answer from footers")
    s.read.format("graft").load(dir).agg(
      count(lit(1)).cast("long").as("n"),
      min(col("score")).as("mn"),
      max(col("score")).as("mx"),
      sum(when(col("score") >= 400.0, 1L).otherwise(0L)).cast("long").as("n_hi"))
  }
  private val q145Sql =
    """WITH t AS (
      |  SELECT CAST(n_chars AS DOUBLE) +
      |         CAST(doc_id % 997 AS DOUBLE) / 1000.0 AS score
      |  FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  min(score) AS mn, max(score) AS mx,
      |  CAST(sum(CASE WHEN score >= 400.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
      |FROM t""".stripMargin

  // ---- q146: pushed top-k on a DOUBLE score ---------------------------------
  // "Top-k documents by quality score" — the canonical LLM-curation
  // query. Pushed ORDER BY DESC LIMIT admits float/double since footer
  // v5 (IEEE-sortable long domain + NaN accounting, TopNSpec); the gate
  // plan-asserts the pushdown and hash-gates the rows. Scores are
  // exact-integer-derived doubles and UNIQUE per document (ties under
  // LIMIT are engine-nondeterministic).
  private val q146: Q = (s, d) => {
    val dir = graftDir(d, "score_topk")
    Tables.documents(s, d)
      .select(col("doc_id"),
        (col("n_chars") * lit(1000000L) + col("doc_id")).cast("double").as("score"))
      .repartitionByRange(4, col("score")).sortWithinPartitions("score")
      .write.format("graft").mode("overwrite").save(dir)
    val top = s.read.format("graft").load(dir)
      .orderBy(col("score").desc).limit(20)
    val scanDesc = top.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.getOrElse("")
    require(scanDesc.contains("pushedTopN=[score DESC k=20]"),
      s"q146: double top-k must push ($scanDesc)")
    top
  }
  private val q146Sql =
    """SELECT doc_id,
      |  CAST(n_chars * 1000000 + doc_id AS DOUBLE) AS score
      |FROM documents
      |ORDER BY score DESC
      |LIMIT 20""".stripMargin

  // ---- q147: truncated string bounds prune LONG-text files ------------------
  // Document text routinely exceeds the 48-byte stat cap; pre-r13 that
  // dropped the whole column's zone maps and every text predicate read
  // the full corpus. Parquet-style truncated bounds (prefix = lower
  // bound, bumped prefix = strict upper) keep the proofs: a selective
  // equality on text-clustered files schedules only the files whose
  // truncated ranges admit it — plan-asserted, rows oracle-gated (both
  // engines compare strings as binary/memcmp on this ASCII corpus).
  private val q147: Q = (s, d) => {
    val dir = graftDir(d, "longstr_prune")
    Tables.documents(s, d).select(col("doc_id"), col("text"), col("n_chars"))
      .repartitionByRange(8, col("text")).sortWithinPartitions("text")
      .write.format("graft").mode("overwrite").save(dir)
    val g0 = s.read.format("graft").load(dir)
    val mnText = g0.agg(min(col("text"))).head().getString(0)
    // single-key DML on the cluster column writes the stats manifest
    updateWhere(s, dir, "data",
      set = Map("text" -> col("text")), where = col("text") === mnText)
    val g = s.read.format("graft").load(dir)
    val mxText = g.agg(max(col("text"))).head().getString(0)
    val sel = g.filter(col("text") === mxText)
    val files = sel.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case p: graft.sources.GraftInputPartition => Seq(p.file)
          case p: graft.sources.GraftPackedPartition => p.files.map(_._1)
        }.flatten
    }.flatten.distinct.size
    require(files <= 3,
      s"q147: truncated text bounds must prune files at planning (scheduled $files)")
    sel.select(col("doc_id"), col("n_chars")).orderBy(col("doc_id"))
  }
  private val q147Sql =
    """SELECT doc_id, n_chars
      |FROM documents
      |WHERE text = (SELECT max(text) FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---- q148: sys.verify_table — end-to-end integrity walk -------------------
  // Page + footer checksums (footer v5) make every bit flip DETECTABLE;
  // the procedure makes them OPERABLE: a distributed walk that verifies
  // head magic, footer checksum, every data page's xxhash64, and a full
  // decode per chunk. The gate proves both directions — a clean table
  // verifies whole, and one flipped byte in one file surfaces as exactly
  // one ok=false row. Closed-form oracle (file counts controlled by the
  // gate, rows by the source table).
  private val q148: Q = (s, d) => {
    val root = graftDir(d, "verify_table")
    deleteDirQuietly(s, root)
    s.conf.set("spark.sql.catalog.graft_vt", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_vt.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_vt.db")
    s.sql("CREATE TABLE graft_vt.db.docs (doc_id BIGINT, text STRING) USING graft")
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .repartition(4).writeTo("graft_vt.db.docs").append()
    def run() = s.sql("CALL graft_vt.sys.verify_table(ns => 'db', table => 'docs')")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
        sum(col("rows")).as("n_rows")).head()
    val clean = run()
    require(clean.getLong(0) == 4L && clean.getLong(1) == 4L,
      s"q148: clean table must verify whole ($clean)")
    // one flipped bit in one file: detection is the whole point
    val f = new java.io.File(s"$root/db").listFiles()
      .filter(_.getName.endsWith(".graft")).sortBy(_.getName).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x20).toByte
    java.nio.file.Files.write(f.toPath, bytes)
    val post = run()
    import s.implicits._
    Seq(("clean", clean.getLong(0), clean.getLong(1), Some(clean.getLong(2))),
      ("corrupt", post.getLong(0), post.getLong(1), None: Option[Long]))
      .toDF("phase", "n_files", "n_ok", "n_rows")
      .orderBy(col("phase"))
  }
  private val q148Sql =
    """SELECT 'clean' AS phase, CAST(4 AS BIGINT) AS n_files,
      |  CAST(4 AS BIGINT) AS n_ok,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows
      |UNION ALL
      |SELECT 'corrupt', CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(NULL AS BIGINT)
      |ORDER BY phase""".stripMargin

  // ---- q149: GROUP BY a partition column answers from footers ---------------
  // "Docs per language" over a lang-partitioned corpus — the canonical
  // dataset-composition query. Grouping pushes when every group column
  // is PROVEN partition-only (path-valued on every live file), so the
  // whole GROUP BY reads zero data pages: one partial row per file from
  // footer counts/bounds, Spark re-groups. Plan-asserted, hash-gated.
  private val q149: Q = (s, d) => {
    val dir = graftDir(d, "group_pushdown")
    Tables.documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"))
      .write.format("graft").option("partitionBy", "lang")
      .mode("overwrite").save(dir)
    val g = s.read.format("graft").load(dir)
    val df = g.groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      min(col("doc_id")).as("mn"),
      max(col("doc_id")).as("mx"),
      max(col("n_chars")).as("mx_chars"))
    require(df.queryExecution.executedPlan.toString.contains("pushedAggs="),
      "q149: partition-column grouping must answer from footers")
    df.orderBy(col("lang"))
  }
  private val q149Sql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |  min(doc_id) AS mn, max(doc_id) AS mx, max(n_chars) AS mx_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---- q150: aggregates push under a CONSUMED partition filter --------------
  // `count(*) WHERE lang = 'en'` over a lang-partitioned corpus — the
  // flagship 100 TB metadata query. Exactly-evaluable partition filters
  // CONSUME at push time (a file-level drop against the path value IS
  // the row-level filter), so no residual blocks the aggregate pushdown
  // and the whole answer is a footer walk of one partition's files.
  private val q150: Q = (s, d) => {
    val dir = graftDir(d, "part_filter_agg")
    Tables.documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"))
      .write.format("graft").option("partitionBy", "lang")
      .mode("overwrite").save(dir)
    val g = s.read.format("graft").load(dir)
    val df = g.filter(col("lang") === "en").agg(
      count(lit(1)).as("n"),
      min(col("doc_id")).as("mn"),
      max(col("doc_id")).as("mx"),
      max(col("n_chars")).as("mx_chars"))
    require(df.queryExecution.executedPlan.toString.contains("pushedAggs="),
      "q150: the consumed partition filter must not block aggregate pushdown")
    df
  }
  private val q150Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  min(doc_id) AS mn, max(doc_id) AS mx, max(n_chars) AS mx_chars
      |FROM documents
      |WHERE lang = 'en'""".stripMargin

  // ---- q151: string MIN/MAX answers from footers when bounds are exact ------
  // `min(lang)/max(source)` are dataset-card one-liners. Since footer v6
  // a stored string bound SHORTER than the 48-byte stat cap is provably
  // the exact extreme (truncated mins are full-cap prefixes, bumped
  // maxima 0x00-pad back to the cap), so short-string columns answer
  // entirely from footers; the `text` column's over-cap values degrade
  // to a one-column decode PER CHUNK — never a wrong value, never a
  // refusal, and a mixed-age table stays partially footer-answered.
  // Plan-asserted, hash-gated.
  private val q151: Q = (s, d) => {
    val dir = graftDir(d, "str_minmax")
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"), col("text"))
      .repartition(4)
      .write.format("graft").mode("overwrite").save(dir)
    val g = s.read.format("graft").load(dir)
    val df = g.agg(
      min(col("lang")).as("mn_lang"), max(col("lang")).as("mx_lang"),
      min(col("source")).as("mn_src"), max(col("source")).as("mx_src"),
      min(col("text")).as("mn_text"), max(col("text")).as("mx_text"),
      count(lit(1)).as("n"))
    require(df.queryExecution.executedPlan.toString.contains("pushedAggs="),
      "q151: string MIN/MAX must push to footer stats")
    df
  }
  private val q151Sql =
    """SELECT min(lang) AS mn_lang, max(lang) AS mx_lang,
      |  min(source) AS mn_src, max(source) AS mx_src,
      |  min(text) AS mn_text, max(text) AS mx_text,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM documents""".stripMargin

  // ---- q154: decimal MIN/MAX answers from footers across a widen DDL --------
  // `min/max(price)` money queries: chunk stats store the EXACT
  // unscaled extreme at each FILE's own decimal type — i64 for p<=18,
  // 16-byte big-endian past it — and the pushed reader rescales
  // pre-widen bounds to the query scale exactly (10^Δ on the unscaled
  // integer). The fixture mixes both physical forms through the same
  // ALTER as q142, so a wrong unscaled interpretation on EITHER side
  // of the i64/16-byte boundary, or a rescale error, shifts the
  // output. Output is BIGINT-only (unscaled at 10^-4), per the q142
  // lesson: no DECIMAL-typed cell reaches the driver's hash.
  private val q154: Q = (s, d) => {
    val root = graftDir(d, "decimal_minmax")
    deleteDirQuietly(s, root)
    s.conf.set("spark.sql.catalog.graft_dm", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_dm.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_dm.db")
    s.sql("CREATE TABLE graft_dm.db.t (k BIGINT, amt DECIMAL(12,2)) USING graft")
    Tables.orders(s, d).createOrReplaceTempView("q154_src")
    s.sql("""INSERT INTO graft_dm.db.t
      SELECT o_orderkey,
        CAST(concat(CAST(o_orderkey AS STRING), '.',
                    lpad(CAST(o_orderkey % 97 AS STRING), 2, '0')) AS DECIMAL(12,2))
      FROM q154_src WHERE o_orderkey % 2 = 0""")
    s.sql("ALTER TABLE graft_dm.db.t ALTER COLUMN amt TYPE DECIMAL(24,4)")
    s.sql("""INSERT INTO graft_dm.db.t
      SELECT o_orderkey,
        CAST(concat(CAST(o_orderkey AS STRING), '.',
                    lpad(CAST(o_orderkey % 9973 AS STRING), 4, '0')) AS DECIMAL(24,4))
          + CAST(111111111111.1111 AS DECIMAL(24,4))
      FROM q154_src WHERE o_orderkey % 2 = 1""")
    val df = s.sql("""SELECT
      CAST(min(amt) * 10000 AS BIGINT) AS mn_u,
      CAST(max(amt) * 10000 AS BIGINT) AS mx_u,
      CAST(count(amt) AS BIGINT) AS n
      FROM graft_dm.db.t""")
    require(df.queryExecution.executedPlan.toString.contains("pushedAggs="),
      "q154: decimal MIN/MAX must answer from footer stats")
    df
  }
  private val q154Sql =
    """WITH t AS (
      |  SELECT CASE WHEN o_orderkey % 2 = 0
      |    THEN CAST(CAST(concat(CAST(o_orderkey AS STRING), '.',
      |           lpad(CAST(o_orderkey % 97 AS STRING), 2, '0')) AS DECIMAL(12,2)) AS DECIMAL(24,4))
      |    ELSE CAST(concat(CAST(o_orderkey AS STRING), '.',
      |           lpad(CAST(o_orderkey % 9973 AS STRING), 4, '0')) AS DECIMAL(24,4))
      |         + CAST(111111111111.1111 AS DECIMAL(24,4))
      |  END AS amt FROM orders)
      |SELECT CAST(min(amt) * 10000 AS BIGINT) AS mn_u,
      |  CAST(max(amt) * 10000 AS BIGINT) AS mx_u,
      |  CAST(count(amt) AS BIGINT) AS n
      |FROM t""".stripMargin

  // ---- q155: decimal top-k pushdown — "most expensive orders" ---------------
  // ORDER BY price DESC LIMIT k on a money column: the TopNSkipper
  // compares unscaled longs at the QUERY scale (p<=18 gated at push
  // time), rescaling pre-widen chunk bounds exactly or declining that
  // chunk's skip. The fixture widens DECIMAL(12,2)->(18,4) and plants
  // the top values in the post-widen half, so the pre-widen chunks'
  // rescaled bounds must prove them skippable. BIGINT-only output.
  private val q155: Q = (s, d) => {
    val root = graftDir(d, "decimal_topk")
    deleteDirQuietly(s, root)
    s.conf.set("spark.sql.catalog.graft_dt", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_dt.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_dt.db")
    s.sql("CREATE TABLE graft_dt.db.t (k BIGINT, amt DECIMAL(12,2)) USING graft")
    Tables.orders(s, d).createOrReplaceTempView("q155_src")
    s.sql("""INSERT INTO graft_dt.db.t
      SELECT o_orderkey,
        CAST(concat(CAST(o_orderkey AS STRING), '.',
                    lpad(CAST(o_orderkey % 97 AS STRING), 2, '0')) AS DECIMAL(12,2))
      FROM q155_src WHERE o_orderkey % 2 = 0""")
    s.sql("ALTER TABLE graft_dt.db.t ALTER COLUMN amt TYPE DECIMAL(18,4)")
    s.sql("""INSERT INTO graft_dt.db.t
      SELECT o_orderkey,
        CAST(concat(CAST(o_orderkey AS STRING), '.',
                    lpad(CAST(o_orderkey % 9973 AS STRING), 4, '0')) AS DECIMAL(18,4))
          + CAST(9999999.1111 AS DECIMAL(18,4))
      FROM q155_src WHERE o_orderkey % 2 = 1""")
    val df = s.sql("""SELECT k, CAST(amt * 10000 AS BIGINT) AS u
      FROM graft_dt.db.t ORDER BY amt DESC LIMIT 10""")
    require(df.queryExecution.executedPlan.toString.contains("pushedTopN="),
      "q155: decimal ORDER BY ... LIMIT must push top-k")
    df
  }
  private val q155Sql =
    """WITH t AS (
      |  SELECT o_orderkey AS k, CASE WHEN o_orderkey % 2 = 0
      |    THEN CAST(CAST(concat(CAST(o_orderkey AS STRING), '.',
      |           lpad(CAST(o_orderkey % 97 AS STRING), 2, '0')) AS DECIMAL(12,2)) AS DECIMAL(18,4))
      |    ELSE CAST(concat(CAST(o_orderkey AS STRING), '.',
      |           lpad(CAST(o_orderkey % 9973 AS STRING), 4, '0')) AS DECIMAL(18,4))
      |         + CAST(9999999.1111 AS DECIMAL(18,4))
      |  END AS amt FROM orders)
      |SELECT k, CAST(amt * 10000 AS BIGINT) AS u
      |FROM t ORDER BY amt DESC LIMIT 10""".stripMargin

  // ---- q156: tie-broken top-k pushes — ORDER BY score DESC, id LIMIT k ------
  // The canonical DETERMINISTIC curation sort (every q40-family query
  // tiebreaks on an id). Multi-key sorts now push: the LEADING key
  // drives chunk/block skipping with STRICT-inequality proofs (a chunk
  // tying the k-th leading value may still win on the tiebreak and must
  // decode; one strictly beyond it is out regardless), Spark re-sorts
  // the delivered superset with the full key list. The fixture's score
  // has heavy ties (50 distinct values over the corpus) and is
  // score-clustered so the skipper has proofs to work with.
  private val q156: Q = (s, d) => {
    val dir = graftDir(d, "tiebreak_topk")
    Tables.documents(s, d)
      .select(col("doc_id"), (col("n_chars") % 50).as("score"), col("lang"))
      .orderBy(col("score"))
      .write.format("graft").option("chunkrows", "500").mode("overwrite").save(dir)
    val g = s.read.format("graft").load(dir)
    val df = g.orderBy(col("score").desc, col("doc_id")).limit(12)
    require(df.queryExecution.executedPlan.toString.contains("pushedTopN="),
      "q156: a tie-broken ORDER BY ... LIMIT must push top-k on the leading key")
    df
  }
  private val q156Sql =
    """SELECT doc_id, CAST(n_chars % 50 AS BIGINT) AS score, lang
      |FROM documents
      |ORDER BY score DESC, doc_id
      |LIMIT 12""".stripMargin

  // ---- q157: merge-on-read DELETE — delete vectors, zero file rewrites ------
  // Two SQL DELETEs under `spark.graft.deleteMode = merge-on-read`: the
  // matching rows' (_file, _pos) ids flow to position-delete writers and
  // the commit publishes kilobyte delete-vector sidecars; every data
  // file is REQUIRED byte-identical afterwards (the 100 TB point — a
  // sparse delete must not rewrite terabytes). The second DELETE proves
  // DV merging (one blob per file, union of positions). Survivor
  // aggregates are oracle-gated against DuckDB computing the same
  // double-NOT set algebra from parquet; `no_rewrite` rides the row so
  // a silent fallback to copy-on-write hash-fails, not just slows down.
  private val q157: Q = (s, d) => {
    val root = graftDir(d, "mor_delete")
    // fixture: the bulk seed scales with sf by construction (writing the
    // 10x table costs 10x); the tracked engine side is the MoR DML
    FixtureClock.time {
      deleteDirQuietly(s, root)
      s.conf.set("spark.sql.catalog.graft_mor", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_mor.root", root)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_mor.db")
      s.sql("CREATE TABLE graft_mor.db.orders " +
        "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) USING graft")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(4).writeTo("graft_mor.db.orders").append()
    }
    val conf = s.sparkContext.hadoopConfiguration
    def fileState(): Map[String, Long] =
      graft.sources.GraftDataSource.listPartitionedSized(conf, s"$root/db")
        .map { case (p, size, _) => p.getName -> size }.toMap
    val before = fileState()
    s.conf.set("spark.graft.deleteMode", "merge-on-read")
    try {
      s.sql("DELETE FROM graft_mor.db.orders WHERE o_orderkey % 7 = 3")
      s.sql("DELETE FROM graft_mor.db.orders WHERE o_custkey % 5 = 1")
    } finally s.conf.set("spark.graft.deleteMode", "copy-on-write")
    val noRewrite = fileState() == before
    require(noRewrite, "q157: merge-on-read DELETE rewrote or dropped data files")
    val resolved = graft.sources.GraftDataSource.resolveDataDir(conf, s"$root/db")
    val dvs = graft.sources.GraftDataSource.readDvManifest(
      new org.apache.hadoop.fs.Path(resolved).getFileSystem(conf),
      new org.apache.hadoop.fs.Path(resolved))
    require(dvs.nonEmpty && dvs.map(_._2).distinct.size == dvs.size,
      s"q157: expected one merged delete vector per touched file, got $dvs")
    s.table("graft_mor.db.orders")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        min(col("o_orderkey")).as("key_min"),
        max(col("o_orderkey")).as("key_max"),
        round(sum(col("o_totalprice")), 2).as("price_sum"))
      .withColumn("no_rewrite", lit(noRewrite))
  }
  private val q157Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(min(o_orderkey) AS BIGINT) AS key_min,
      |  CAST(max(o_orderkey) AS BIGINT) AS key_max,
      |  round(sum(o_totalprice), 2) AS price_sum,
      |  true AS no_rewrite
      |FROM orders
      |WHERE NOT (o_orderkey % 7 = 3) AND NOT (o_custkey % 5 = 1)""".stripMargin

  // ---- q158: merge-on-read UPDATE + MERGE — delete+insert, one commit -------
  // UPDATE and MERGE under merge-on-read arrive as delete(old id) +
  // insert(new row): position-delete sidecars for the old rows, ordinary
  // data files for the replacements, ONE generation commit. The gate
  // REQUIRES every pre-existing data file byte-identical afterwards (new
  // files may only be ADDED) and the total DV cardinality equal to the
  // closed-form updated+deleted count — both oracle-stated — then emits
  // survivor aggregates DuckDB restates from parquet with the same
  // update/delete/insert set algebra.
  private val q158: Q = (s, d) => {
    val root = graftDir(d, "mor_upsert")
    deleteDirQuietly(s, root)
    s.conf.set("spark.sql.catalog.graft_moru", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_moru.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_moru.db")
    s.sql("CREATE TABLE graft_moru.db.orders " +
      "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) USING graft")
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(4).writeTo("graft_moru.db.orders").append()
    val conf = s.sparkContext.hadoopConfiguration
    def fileState(): Map[String, Long] =
      graft.sources.GraftDataSource.listPartitionedSized(conf, s"$root/db")
        .map { case (p, size, _) => p.getName -> size }.toMap
    val before = fileState()
    val batch = Tables.orders(s, d).where(col("o_orderkey") % 103 === 5)
      .select(col("o_orderkey").as("k"), lit("d").as("op"))
      .unionByName(Tables.orders(s, d).where(col("o_orderkey") % 107 === 9)
        .select((col("o_orderkey") + 100000000L).as("k"), lit("i").as("op")))
    batch.createOrReplaceTempView("graft_moru_batch")
    Seq("updateMode", "mergeMode").foreach(k =>
      s.conf.set(s"spark.graft.$k", "merge-on-read"))
    try {
      s.sql("UPDATE graft_moru.db.orders SET o_totalprice = o_totalprice * 1.1, " +
        "o_custkey = -1 WHERE o_orderkey % 101 = 7")
      s.sql("""MERGE INTO graft_moru.db.orders t USING graft_moru_batch b
        |ON t.o_orderkey = b.k
        |WHEN MATCHED AND b.op = 'd' THEN DELETE
        |WHEN NOT MATCHED AND b.op = 'i' THEN
        |  INSERT (o_orderkey, o_custkey, o_totalprice) VALUES (b.k, -2, 1.0)
        |""".stripMargin)
    } finally Seq("updateMode", "mergeMode").foreach(k =>
      s.conf.set(s"spark.graft.$k", "copy-on-write"))
    val after = fileState()
    val noRewrite = before.forall { case (n, sz) => after.get(n).contains(sz) }
    require(noRewrite && after.size > before.size,
      "q158: MoR UPDATE/MERGE must add replacement files, never rewrite originals")
    val resolved = graft.sources.GraftDataSource.resolveDataDir(conf, s"$root/db")
    val dvRows = graft.sources.GraftDataSource.readDvManifest(
      new org.apache.hadoop.fs.Path(resolved).getFileSystem(conf),
      new org.apache.hadoop.fs.Path(resolved)).map(_._4).sum
    s.table("graft_moru.db.orders")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(when(col("o_custkey") === -1, 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("o_custkey") === -2, 1L).otherwise(0L)).as("n_inserted"),
        round(sum(col("o_totalprice")), 2).as("price_sum"))
      .withColumn("no_rewrite", lit(noRewrite))
      .withColumn("dv_rows", lit(dvRows))
  }
  private val q158Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 101 = 7 THEN -1 ELSE o_custkey END AS c,
      |    CASE WHEN o_orderkey % 101 = 7 THEN o_totalprice * 1.1
      |         ELSE o_totalprice END AS p
      |  FROM orders),
      |merged AS (
      |  SELECT k, c, p FROM base WHERE NOT (k % 103 = 5)
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, CAST(-2 AS BIGINT), CAST(1.0 AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 107 = 9)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS key_sum,
      |  CAST(sum(CASE WHEN c = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
      |  CAST(sum(CASE WHEN c = -2 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
      |  round(sum(p), 2) AS price_sum,
      |  true AS no_rewrite,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 101 = 7) +
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 103 = 5)
      |    AS dv_rows
      |FROM merged""".stripMargin

  // ---- q159: merge-on-read CDC fold — 4 sequential MoR commits, 0 rewrites --
  // The continuous-ingest shape: UPDATE, insert-MERGE, DELETE, then an
  // UPDATE that hits rows living in files a PREVIOUS MoR commit created —
  // four generations, DVs accreting on original AND MoR-created files,
  // and not one pre-existing file rewritten at any step (per-batch write
  // cost stays O(batch) however large the table). The oracle restates
  // the whole fold as a CTE chain over parquet.
  private val q159: Q = (s, d) => {
    val root = graftDir(d, "mor_cdc")
    // fixture: bulk seed (scales with sf); engine: the 4-step MoR fold
    FixtureClock.time {
      deleteDirQuietly(s, root)
      s.conf.set("spark.sql.catalog.graft_cdc9", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cdc9.root", root)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cdc9.db")
      s.sql("CREATE TABLE graft_cdc9.db.t " +
        "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) USING graft")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(4).writeTo("graft_cdc9.db.t").append()
    }
    val conf = s.sparkContext.hadoopConfiguration
    def fileState(): Map[String, Long] =
      graft.sources.GraftDataSource.listPartitionedSized(conf, s"$root/db")
        .map { case (p, size, _) => p.getName -> size }.toMap
    val before = fileState()
    Tables.orders(s, d).where(col("o_orderkey") % 23 === 1)
      .select((col("o_orderkey") + 200000000L).as("k"))
      .createOrReplaceTempView("graft_cdc9_inserts")
    Seq("deleteMode", "updateMode", "mergeMode").foreach(k =>
      s.conf.set(s"spark.graft.$k", "merge-on-read"))
    val steps = Seq(
      "UPDATE graft_cdc9.db.t SET o_totalprice = o_totalprice + 1.0, " +
        "o_custkey = -1 WHERE o_orderkey % 11 = 0",
      """MERGE INTO graft_cdc9.db.t t USING graft_cdc9_inserts b
        |ON t.o_orderkey = b.k
        |WHEN NOT MATCHED THEN
        |  INSERT (o_orderkey, o_custkey, o_totalprice) VALUES (b.k, -2, 2.0)""".stripMargin,
      "DELETE FROM graft_cdc9.db.t WHERE o_orderkey % 13 = 2",
      "UPDATE graft_cdc9.db.t SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_custkey = -2 AND o_orderkey % 5 = 0")
    val intact = try {
      steps.forall { stmt =>
        s.sql(stmt)
        // after EVERY commit: every file that predates the fold is still
        // live and byte-identical — the no-rewrite invariant holds at
        // each step, not just at the end
        val now = fileState()
        before.forall { case (n, sz) => now.get(n).contains(sz) }
      }
    } finally Seq("deleteMode", "updateMode", "mergeMode").foreach(k =>
      s.conf.set(s"spark.graft.$k", "copy-on-write"))
    require(intact, "q159: a MoR commit rewrote or dropped a pre-existing file")
    val resolved = graft.sources.GraftDataSource.resolveDataDir(conf, s"$root/db")
    val dvs = graft.sources.GraftDataSource.readDvManifest(
      new org.apache.hadoop.fs.Path(resolved).getFileSystem(conf),
      new org.apache.hadoop.fs.Path(resolved))
    // DVs must have landed on files CREATED BY the fold itself (steps 3/4
    // delete/update rows living in step 1/2's replacement files) — the
    // accreting-generations path, not just first-generation deletes
    val dvOnNew = dvs.exists { case (_, rel, _, _) =>
      !before.contains(new org.apache.hadoop.fs.Path(rel).getName)
    }
    require(dvOnNew, s"q159: expected delete vectors on MoR-created files, got $dvs")
    s.table("graft_cdc9.db.t")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(when(col("o_custkey") === -1, 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("o_custkey") === -2, 1L).otherwise(0L)).as("n_inserted"),
        round(sum(col("o_totalprice")), 2).as("price_sum"))
      .withColumn("originals_intact", lit(intact))
      .withColumn("dv_on_new_files", lit(dvOnNew))
  }
  private val q159Sql =
    """WITH s1 AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 11 = 0 THEN -1 ELSE o_custkey END AS c,
      |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS p
      |  FROM orders),
      |s2 AS (
      |  SELECT * FROM s1
      |  UNION ALL
      |  SELECT o_orderkey + 200000000, CAST(-2 AS BIGINT), CAST(2.0 AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 23 = 1),
      |s3 AS (SELECT * FROM s2 WHERE NOT (k % 13 = 2)),
      |s4 AS (SELECT k, c,
      |  CASE WHEN c = -2 AND k % 5 = 0 THEN p * 2 ELSE p END AS p FROM s3)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS key_sum,
      |  CAST(sum(CASE WHEN c = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
      |  CAST(sum(CASE WHEN c = -2 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
      |  round(sum(p), 2) AS price_sum,
      |  true AS originals_intact,
      |  true AS dv_on_new_files
      |FROM s4""".stripMargin

  // ---- q136: planning-time file pruning from manifest zone maps -------------
  // A DML-maintained, range-clustered orders table: a selective key
  // filter must schedule only the files the carry manifest's zone maps
  // allow — asserted on the physical plan's input-partition count, with
  // the rows oracle-gated. At 10^5 carried files this is the difference
  // between one task and a cluster-wide wave of "nothing here" probes.
  private val q136: Q = (s, d) => {
    val dir = graftDir(d, "plan_prune")
    Tables.orders(s, d).repartitionByRange(8, col("o_orderkey"))
      .write.format("graft").mode("overwrite").save(dir)
    // a tiny single-key DML creates the stats-carrying manifest
    updateWhere(s, dir, "data",
      set = Map("o_totalprice" -> col("o_totalprice")),
      where = col("o_orderkey") === 1L)
    val g = s.read.format("graft").load(dir)
    val keyMax = g.agg(max(col("o_orderkey"))).head().getLong(0)
    val sel = g.filter(col("o_orderkey") === keyMax)
    // distinct FILES, not partitions: a kept multi-chunk file legitimately
    // splits into per-chunk tasks at larger scale factors
    val files = sel.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case p: graft.sources.GraftInputPartition => Seq(p.file)
          case p: graft.sources.GraftPackedPartition => p.files.map(_._1)
        }.flatten
    }.flatten.distinct.size
    if (files > 2)
      throw new IllegalStateException(
        s"manifest planning prune regressed: $files files scheduled for a " +
          "single-key filter over 8 range-clustered files")
    sel.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }
  private val q136Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---- q162: a maintenance rewrite's OWN output planning-prunes -------------
  // q136's planning prune needed a DML to create the stats manifest;
  // here NO DML ever touches the table — the clustering rewrite itself
  // covers its output, so the operation that PRODUCES the canonical
  // 100 TB layout also buys planning-time file pruning. Shuffled write,
  // single-column cluster (exact range sort), single-key filter: the
  // plan must schedule ≤2 of 8 files with zero per-file I/O.
  private val q162: Q = (s, d) => {
    val dir = graftDir(d, "rewrite_prune")
    // fixture: the shuffled seed write; engine: the clustering rewrite
    // + the planning-prune assertion read
    FixtureClock.time {
      Tables.orders(s, d).repartition(8) // shuffled: every file spans the keys
        .write.format("graft").mode("overwrite").save(dir)
    }
    cluster(s, dir, "data", Seq("o_orderkey"), targetFiles = 8)
    val g = s.read.format("graft").load(dir)
    val keyMax = g.agg(max(col("o_orderkey"))).head().getLong(0)
    val sel = g.filter(col("o_orderkey") === keyMax)
    val files = sel.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case p: graft.sources.GraftInputPartition => Seq(p.file)
          case p: graft.sources.GraftPackedPartition => p.files.map(_._1)
        }.flatten
    }.flatten.distinct.size
    if (files > 2)
      throw new IllegalStateException(
        s"rewrite self-manifest prune regressed: $files files scheduled for " +
          "a single-key filter over 8 freshly range-clustered files (no DML ran)")
    sel.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }
  private val q162Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---- q163: exact counts from footers under live delete vectors ------------
  // The most common sanity query in a DML-heavy pipeline — `SELECT
  // count(*)` between a merge-on-read DELETE and the next compaction —
  // must NOT scan: per file, live rows = footer numRows − the `.dvs`
  // manifest's recorded cardinality, both already in planning metadata.
  // COUNT(col) rides the same walk when the manifest PROVES the column
  // null-free in every DV'd file (live non-null = rows − deleted);
  // MIN/MAX/SUM — and COUNT of any column whose null-freedom is NOT
  // provable — keep declining (the attaining row may be deleted;
  // deleted null-ness and values are unrecorded). Both directions are
  // asserted: the pushes must hold AND an over-broad future bound push
  // fails the gate rather than serving stale extremes. The counts are
  // hash-gated against DuckDB restating the delete predicate over
  // parquet; `agg_pushed` and `mm_unpushed` ride the row so a silent
  // regression to a scan (or a silently-pushed bound) hash-fails
  // instead of just slowing.
  private val q163: Q = (s, d) => {
    val root = graftDir(d, "mor_count")
    deleteDirQuietly(s, root)
    s.conf.set("spark.sql.catalog.graft_morc", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_morc.root", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_morc.db")
    s.sql("CREATE TABLE graft_morc.db.orders " +
      "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) USING graft")
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(4).writeTo("graft_morc.db.orders").append()
    s.conf.set("spark.graft.deleteMode", "merge-on-read")
    try s.sql("DELETE FROM graft_morc.db.orders WHERE o_orderkey % 7 = 3")
    finally s.conf.set("spark.graft.deleteMode", "copy-on-write")
    // DVs must be live (not materialized) for the claim to mean anything
    val conf = s.sparkContext.hadoopConfiguration
    require(graft.sources.GraftDataSource.liveDvs(conf, s"$root/db", Some("orders")).nonEmpty,
      "q163: expected live delete vectors after the MoR DELETE")
    val cnt = s.table("graft_morc.db.orders")
      .agg(count(lit(1)).as("n_rows"),
        // COUNT(col) rides the same footer walk when the manifest PROVES
        // the column null-free in every DV'd file (it is: o_custkey has
        // nullCount 0 everywhere) — live non-null = rows − deleted
        count(col("o_custkey")).as("n_custkeys"))
    val aggPushed = cnt.queryExecution.executedPlan.toString.contains("pushedAggs=")
    require(aggPushed,
      "q163: COUNT(*) + provable COUNT(col) under live DVs must answer " +
        "from footer rows − DV cardinality")
    val mm = s.table("graft_morc.db.orders")
      .agg(min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"))
    val mmUnpushed = !mm.queryExecution.executedPlan.toString.contains("pushedAggs=")
    require(mmUnpushed,
      "q163: MIN/MAX must keep declining under live DVs (attaining row may be deleted)")
    cnt.crossJoin(mm) // mm is 1 row, computed by the DV-applying scan
      .withColumn("agg_pushed", lit(aggPushed))
      .withColumn("mm_unpushed", lit(mmUnpushed))
  }
  private val q163Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(o_custkey) AS BIGINT) AS n_custkeys,
      |  CAST(min(o_orderkey) AS BIGINT) AS mn,
      |  CAST(max(o_orderkey) AS BIGINT) AS mx,
      |  true AS agg_pushed, true AS mm_unpushed
      |FROM orders
      |WHERE NOT (o_orderkey % 7 = 3)""".stripMargin

  // ---- q164: incremental recluster — cost ∝ drift, prune restored -----------
  // The maintenance loop a 100 TB clustered table actually lives in:
  // cluster once, ingest drifts the claim to 'partial', and the repair
  // must NOT be another full rewrite. `sys.cluster(incremental => true)`
  // reclusters ONLY the files that postdate the record (membership from
  // the record's file-name list — zero per-file I/O to detect drift).
  // Gate asserts the clustered originals survive BYTE-IDENTICAL (the
  // cost∝drift claim, required in-gate) and that a single-key filter
  // over the merged layout still schedules ≤2 of the 9 files at
  // planning time (the q162 prune shape, now spanning both tilings).
  // Output is the filtered rows plus the drift/no-rewrite facts, all
  // oracle-stated.
  private val q164: Q = (s, d) => {
    val dir = graftDir(d, "inc_cluster")
    Tables.orders(s, d).repartition(8) // shuffled: every file spans the keys
      .write.format("graft").mode("overwrite").save(dir)
    cluster(s, dir, "data", Seq("o_orderkey"), targetFiles = 8)
    val conf = s.sparkContext.hadoopConfiguration
    def fileState(): Map[String, Long] =
      graft.sources.GraftDataSource.listPartitionedSized(conf, dir)
        .map { case (p, size, _) => p.getName -> size }.toMap
    val clustered = fileState()
    val g0 = s.read.format("graft").load(dir)
    val keyMax = g0.agg(max(col("o_orderkey"))).head().getLong(0)
    // drift: ~10% new HIGH keys (monotonic-id ingest), shuffled
    Tables.orders(s, d).limit(2000)
      .withColumn("o_orderkey", col("o_orderkey") + keyMax + 1)
      .coalesce(1).write.format("graft").mode("append").save(dir)
    val drift = clusterIncremental(s, dir, "data")
    require(drift == 1, s"q164: expected exactly 1 drift file reclustered, got $drift")
    val after = fileState()
    val noRewrite = clustered.forall { case (n, sz) => after.get(n).contains(sz) }
    require(noRewrite, "q164: incremental recluster rewrote clustered originals")
    val g = s.read.format("graft").load(dir)
    val sel = g.filter(col("o_orderkey") === keyMax)
    val files = sel.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case p: graft.sources.GraftInputPartition => Seq(p.file)
          case p: graft.sources.GraftPackedPartition => p.files.map(_._1)
        }.flatten
    }.flatten.distinct.size
    require(files <= 2,
      s"q164: $files files scheduled for a single-key filter after the " +
        "incremental recluster — the merged layout stopped pruning")
    sel.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("drift_files", lit(drift.toLong))
      .withColumn("no_rewrite", lit(noRewrite))
      .orderBy(col("o_orderkey"))
  }
  private val q164Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  CAST(1 AS BIGINT) AS drift_files, true AS no_rewrite
      |FROM orders
      |WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---- q165: bucket-preserving MoR UPDATE — the SPJ claim survives ----------
  // orders and customer are bucketed on the join key; a merge-on-read
  // UPDATE touching ~6% of rows then writes DV sidecars PLUS replacement
  // files that the delta write clustered by the bucket key and routed
  // through the bucketed writer — so they land bucket-TAGGED and the
  // storage-partitioned join still plans ZERO exchanges with delete
  // vectors live. At 100 TB this is the daily keyed-upsert stream on a
  // bucketed fact table: O(changed rows) written, the shuffle-free join
  // intact. Riders: `no_rewrite` (originals byte-identical — a silent
  // COW fallback hash-fails), `tagged` (every fresh file proves the
  // layout), `spj_free` (the probe join planned 0 shuffles). The oracle
  // restates the UPDATE algebra over parquet and joins in DuckDB.
  private val q165: Q = (s0, d) => {
    val root = graftDir(d, "mor_bucket")
    // fixture: the two bucketed bulk seeds (scale with sf); engine: the
    // bucket-preserving MoR UPDATE and the exchange-free probe join
    FixtureClock.time {
      deleteDirQuietly(s0, root)
      s0.conf.set("spark.sql.catalog.graft_morb", "graft.sources.GraftCatalog")
      s0.conf.set("spark.sql.catalog.graft_morb.root", root)
      // one namespace per table: the key-grouped claim requires each table
      // to own its directory (same fixture shape as q100)
      s0.sql("CREATE NAMESPACE IF NOT EXISTS graft_morb.o")
      s0.sql("CREATE NAMESPACE IF NOT EXISTS graft_morb.c")
      s0.sql("CREATE TABLE graft_morb.o.orders (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DOUBLE) USING graft " +
        "PARTITIONED BY (bucket(8, o_custkey))")
      s0.sql("CREATE TABLE graft_morb.c.customer (c_custkey BIGINT, " +
        "c_mktsegment STRING) USING graft PARTITIONED BY (bucket(8, c_custkey))")
      Tables.orders(s0, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(8, col("o_custkey")).writeTo("graft_morb.o.orders").append()
      Tables.customer(s0, d).select(col("c_custkey"), col("c_mktsegment"))
        .repartition(8, col("c_custkey")).writeTo("graft_morb.c.customer").append()
    }
    val conf = s0.sparkContext.hadoopConfiguration
    def fileState(): Map[String, Long] =
      graft.sources.GraftDataSource.listPartitionedSized(conf, s"$root/o")
        .map { case (p, size, _) => p.getName -> size }.toMap
    val before = fileState()
    s0.conf.set("spark.graft.updateMode", "merge-on-read")
    try {
      s0.sql("UPDATE graft_morb.o.orders SET o_totalprice = o_totalprice * 1.1 " +
        "WHERE o_orderkey % 17 = 3")
    } finally s0.conf.set("spark.graft.updateMode", "copy-on-write")
    val after = fileState()
    val noRewrite = before.forall { case (n, sz) => after.get(n).contains(sz) } &&
      after.size > before.size
    require(noRewrite,
      "q165: bucketed MoR UPDATE must add replacement files, never rewrite originals")
    val tag = graft.sources.GraftBucket.layoutTag("orders", "o_custkey", 8, None)
    val freshFiles = after.keySet -- before.keySet
    val tagged = freshFiles.forall(
      graft.sources.GraftDataSource.bucketOf(_, 8, tag).isDefined)
    require(tagged, s"q165: untagged replacement files break the layout claim: " +
      s"${freshFiles.filterNot(graft.sources.GraftDataSource.bucketOf(_, 8, tag).isDefined)}")
    val resolved = graft.sources.GraftDataSource.resolveDataDir(conf, s"$root/o")
    require(graft.sources.GraftDataSource.readDvManifest(
        new org.apache.hadoop.fs.Path(resolved).getFileSystem(conf),
        new org.apache.hadoop.fs.Path(resolved)).nonEmpty,
      "q165: the UPDATE must leave delete vectors")
    // probe join in a child session (AQE off => the plan is final):
    // key-grouped scan on both sides, zero exchanges, DVs + replacement
    // files live
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.graft_morb", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_morb.root", root)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val probe = s.sql("""SELECT o.o_custkey, o.o_totalprice, c.c_mktsegment
      |FROM graft_morb.o.orders o
      |JOIN graft_morb.c.customer c ON o.o_custkey = c.c_custkey""".stripMargin)
    val exchanges = probe.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    if (exchanges != 0)
      throw new IllegalStateException(
        s"q165: SPJ regressed after bucketed MoR UPDATE — $exchanges shuffle(s) in\n" +
          probe.queryExecution.executedPlan)
    s0.table("graft_morb.o.orders")
      .join(s0.table("graft_morb.c.customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("price_sum"))
      .orderBy(col("c_mktsegment"))
      .withColumn("no_rewrite", lit(noRewrite))
      .withColumn("tagged", lit(tagged))
      .withColumn("spj_free", lit(exchanges == 0))
  }
  private val q165Sql =
    """WITH upd AS (
      |  SELECT o_custkey,
      |    CASE WHEN o_orderkey % 17 = 3 THEN o_totalprice * 1.1
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders)
      |SELECT c_mktsegment, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS price_sum,
      |  true AS no_rewrite, true AS tagged, true AS spj_free
      |FROM upd JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---- q96: UPDATE via copy-on-write rewrite --------------------------------
  // 10% price increase on open orders; the oracle recomputes the same
  // CASE from parquet. Both sides multiply the identical doubles, so a
  // hash match proves the rewrite touched exactly the matching rows.
  private val q96: Q = (s, d) => {
    val dir = graftDir(d, "orders_update")
    // fixture: the seed write; engine: the COW UPDATE + read-back
    FixtureClock.time {
      Tables.orders(s, d).repartition(8)
        .write.format("graft").mode("overwrite").save(dir)
    }
    updateWhere(s, dir, table = "data", // the untabled write path's default name
      set = Map("o_totalprice" -> (col("o_totalprice") * 1.1)),
      where = col("o_orderstatus") === "O")
    s.read.format("graft").load(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      .orderBy(col("o_orderstatus"))
  }
  private val q96Sql =
    """SELECT o_orderstatus, count(*) AS n,
      |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
      |                 ELSE o_totalprice END), 4) AS total
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---- q97: keyed upsert (MERGE-style CDC batch) -----------------------------
  // Target: customers missing every key % 3 == 0. CDC batch: every even
  // key with +1000 balance. After the upsert, even keys carry the new
  // balance (inserted OR updated), odd non-%3 keys are untouched — the
  // oracle states exactly that set algebra from parquet.
  private val q97: Q = (s, d) => {
    val dir = graftDir(d, "customer_upsert")
    val c = Tables.customer(s, d)
    // fixture: the target seed write; engine: the keyed upsert + read
    FixtureClock.time {
      c.filter(col("c_custkey") % 3 =!= 0).repartition(8)
        .write.format("graft").mode("overwrite").save(dir)
    }
    val cdc = c.filter(col("c_custkey") % 2 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
    upsert(s, dir, table = "data", source = cdc, keys = Seq("c_custkey"))
    s.read.format("graft").load(dir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 4).as("total_bal"))
      .orderBy(col("c_mktsegment"))
  }
  private val q97Sql =
    """SELECT c_mktsegment, count(*) AS n, round(sum(bal), 4) AS total_bal
      |FROM (
      |  SELECT c_mktsegment, c_acctbal + 1000.0 AS bal
      |  FROM customer WHERE c_custkey % 2 = 0
      |  UNION ALL
      |  SELECT c_mktsegment, c_acctbal AS bal
      |  FROM customer WHERE c_custkey % 2 <> 0 AND c_custkey % 3 <> 0
      |)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---- q96b: literal SQL UPDATE through DSv2 row-level operations -----------
  // Same math as q96, but driven by the SQL statement itself:
  // RewriteUpdateTable plans a group-based ReplaceData over
  // GraftRowLevelOperation — candidate files pruned by zone maps/blooms,
  // untouched files carried by reference into the new generation. The
  // oracle is q96's: a hash match proves SQL UPDATE touched exactly the
  // matching rows.
  private val q96b: Q = (s, d) => {
    val root = graftDir(d, "dml_sql_update")
    // fixture: catalog setup + CTAS seed; engine: the SQL UPDATE + read
    FixtureClock.time {
      deleteDirQuietly(s, root)
      s.conf.set("spark.sql.catalog.graft_squ", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_squ.root", root)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_squ.db")
      Tables.orders(s, d).createOrReplaceTempView("q96b_orders_src")
      s.sql("CREATE TABLE graft_squ.db.orders_t AS SELECT * FROM q96b_orders_src")
    }
    s.sql("""UPDATE graft_squ.db.orders_t
      SET o_totalprice = o_totalprice * 1.1
      WHERE o_orderstatus = 'O'""")
    s.sql("""SELECT o_orderstatus, count(*) AS n,
      round(sum(o_totalprice), 4) AS total
      FROM graft_squ.db.orders_t GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  // ---- q97b: literal SQL MERGE INTO (group-based COW) ------------------------
  // q97's upsert semantics written as the MERGE statement:
  // RewriteMergeIntoTable joins the target's candidate files with the
  // source and ReplaceData writes the merged rows; matched keys update,
  // unmatched insert. Oracle = q97's set algebra over parquet.
  private val q97b: Q = (s, d) => {
    val root = graftDir(d, "dml_sql_merge")
    val c = Tables.customer(s, d)
    // fixture: catalog setup + CTAS target seed; engine: the MERGE + read
    FixtureClock.time {
      deleteDirQuietly(s, root)
      s.conf.set("spark.sql.catalog.graft_smg", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_smg.root", root)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_smg.db")
      c.filter(col("c_custkey") % 3 =!= 0).createOrReplaceTempView("q97b_target_src")
      s.sql("CREATE TABLE graft_smg.db.cust_t AS SELECT * FROM q97b_target_src")
    }
    c.filter(col("c_custkey") % 2 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      .createOrReplaceTempView("q97b_cdc")
    s.sql("""MERGE INTO graft_smg.db.cust_t t USING q97b_cdc s
      ON t.c_custkey = s.c_custkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    s.sql("""SELECT c_mktsegment, count(*) AS n,
      round(sum(c_acctbal), 4) AS total_bal
      FROM graft_smg.db.cust_t GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  // ---- q100: bucketed tables + storage-partitioned join ---------------------
  // lineitem and orders are written BUCKETED on their join key (the write
  // routes rows to per-bucket files with the same murmur3 the catalog's
  // V2 `bucket` function exposes); the scan then reports key-grouped
  // partitioning and Spark plans the join with ZERO shuffles on either
  // side — at 100 TB the single biggest cost in a fact-fact join. The
  // query asserts the plan really is exchange-free (AQE off in a child
  // session so the plan is final at planning time), and the oracle joins
  // the original parquet, so both the claim and the results are gated.
  private val q100: Q = (s0, d) => {
    val root = graftDir(d, "spj")
    val buckets = 16
    // repartition by the bucket column first: Spark's hash partitioning
    // and GraftBucket.id are the same murmur3(seed 42) mod n, so each
    // write task holds exactly ONE bucket -> n files total, not n*tasks
    // sortWithinPartitions on top of the bucket repartition: each bucket
    // file is written key-sorted (validated by the writer), so the scan
    // also reports per-partition ordering and the merge join below runs
    // with no sort either
    // fixture: seeding the two bucketed tables (the one-time layout cost
    // a real deployment amortizes over every later join) — the ENGINE
    // under test is the exchange-free SPJ join below; Bench reports the
    // split as fixture_s (FixtureClock). At sf1 the unwrapped seed was
    // ~85% of the gate's wall and its page-cache churn dominated the
    // board's cold-start variance.
    FixtureClock.time {
      Tables.lineitem(s0, d)
        .select(col("l_orderkey"), col("l_quantity"))
        .repartition(buckets, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.format("graft").option("table", "lineitem")
        .option("bucketBy", s"l_orderkey:$buckets").option("sortBy", "l_orderkey")
        .mode("overwrite").save(s"$root/li")
      Tables.orders(s0, d)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .repartition(buckets, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.format("graft").option("table", "orders")
        .option("bucketBy", s"o_orderkey:$buckets").option("sortBy", "o_orderkey")
        .mode("overwrite").save(s"$root/ord")
    }
    val s = s0.newSession() // child session: SPJ confs stay out of the caller
    s.conf.set("spark.sql.catalog.graft_spj", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_spj.root", root)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.sorting.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // group on the join key too: the aggregation rides the same
    // key-grouped distribution, so the whole sub-plan has no exchange
    val agg = s.sql("""
      SELECT l.l_orderkey, count(*) AS n_items, sum(l.l_quantity) AS qty,
             max(o.o_orderstatus) AS status
      FROM graft_spj.li.lineitem l
      JOIN graft_spj.ord.orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_orderkey
      HAVING count(*) >= 5""")
    val exchanges = agg.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    if (exchanges != 0)
      throw new IllegalStateException(
        s"storage-partitioned join regressed: $exchanges shuffle(s) in\n" +
          agg.queryExecution.executedPlan)
    val sorts = agg.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.SortExec => e
    }.size
    if (sorts != 0)
      throw new IllegalStateException(
        s"sorted-bucket merge join regressed: $sorts SortExec in\n" +
          agg.queryExecution.executedPlan)
    agg.orderBy(col("l_orderkey")) // deterministic output (one range exchange)
  }
  private val q100Sql =
    """SELECT l_orderkey, count(*) AS n_items, sum(l_quantity) AS qty,
      |  max(o_orderstatus) AS status
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_orderkey
      |HAVING count(*) >= 5
      |ORDER BY l_orderkey""".stripMargin

  // ---- q102: top-k pushdown over a time-clustered table ---------------------
  // "Latest 20 events" — THE dashboard query over an append-mostly 100 TB
  // event table. Events are written range-clustered by the monotonic
  // event_id (a unique key, so the top-k is deterministic and single-key
  // pushable); the scan receives the pushed ORDER BY ... LIMIT and skips
  // every chunk whose footer max can't beat the k-th id already seen —
  // one tail chunk decoded, not the table (TopNSpec proves the skip
  // counts; here the plan is asserted and the rows are oracle-gated).
  private val q102: Q = (s, d) => {
    val dir = graftDir(d, "events_topn")
    Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .repartitionByRange(4, col("event_id"))
      .sortWithinPartitions(col("event_id"))
      .write.format("graft").mode("overwrite").save(dir)
    val g = s.read.format("graft").load(dir)
    val top = g.orderBy(col("event_id").desc).limit(20)
    val scanDesc = top.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan.description()
    }.mkString("\n")
    if (!scanDesc.contains("pushedTopN=[event_id DESC k=20]"))
      throw new IllegalStateException(s"top-k pushdown regressed: $scanDesc")
    top.select(col("event_id"), col("user_id"),
      col("ts").cast("long").as("ts_sec"), col("value"))
      .orderBy(col("event_id").desc)
  }
  private val q102Sql =
    """SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
      |FROM events
      |ORDER BY event_id DESC
      |LIMIT 20""".stripMargin

  val queries: Map[String, Q] = Map(
    "q124_sql_maintenance" -> q124,
    "q118_cdc_replica" -> q118,
    "q114_incremental_view" -> q114,
    "q113_change_feed_stream" -> q113,
    "q111_expectations" -> q111,
    "q108_changes_between" -> q108,
    "q102_topn_pushdown" -> q102,
    "q100_spj_join" -> q100,
    "q99_sum_pushdown" -> q99,
    "q98_zorder" -> q98,
    "q95_delete" -> q95,
    "q96_update" -> q96,
    "q135_analyze" -> q135,
    "q136_plan_prune" -> q136,
    "q96b_sql_update" -> q96b,
    "q97_upsert" -> q97,
    "q97b_sql_merge" -> q97b,
    "q94_schema_evolution" -> q94,
    "q132_rename_widen" -> q132,
    "q133_drop_timetravel" -> q133,
    "q137_nested_ddl" -> q137,
    "q138_stats_churn" -> q138,
    "q139_histogram_cbo" -> q139,
    "q141_rename_prune" -> q141,
    "q142_decimal_widen" -> q142,
    "q143_add_column_prune" -> q143,
    "q145_float_prune" -> q145,
    "q146_score_topk" -> q146,
    "q147_longstr_prune" -> q147,
    "q148_verify_table" -> q148,
    "q149_group_pushdown" -> q149,
    "q150_part_filter_agg" -> q150,
    "q151_str_minmax" -> q151,
    "q154_decimal_minmax" -> q154,
    "q155_decimal_topk" -> q155,
    "q156_tiebreak_topk" -> q156,
    "q157_mor_delete" -> q157,
    "q158_mor_upsert" -> q158,
    "q159_mor_cdc" -> q159,
    "q160_incremental_diff" -> q160,
    "q161_materialize_dvs" -> q161,
    "q162_rewrite_prune" -> q162,
    "q163_dv_count" -> q163,
    "q164_incremental_cluster" -> q164,
    "q165_mor_bucket_update" -> q165,
    "q93_time_travel" -> q93,
    "q91_graft_lookup" -> q91,
    "q92_graft_compact" -> q92,
    "q87_graft_unsigned" -> q87,
    "q88_graft_union" -> q88,
    "q89_agg_pushdown" -> q89,
    "q90_graft_dpp" -> q90,
    "q86_interop_formats" -> q86,
    "q85_graft_partitions" -> q85,
    "q84_graft_catalog" -> q84,
    "q80_graft_roundtrip" -> q80,
    "q81_graft_filter" -> q81,
    "q82_graft_dict" -> q82,
    "q83_graft_lists" -> q83)

  val oracle: Map[String, String] = Map(
    "q124_sql_maintenance" -> q124Sql,
    "q118_cdc_replica" -> q118Sql,
    "q114_incremental_view" -> q114Sql,
    "q113_change_feed_stream" -> q113Sql,
    "q111_expectations" -> q111Sql,
    "q108_changes_between" -> q108Sql,
    "q102_topn_pushdown" -> q102Sql,
    "q100_spj_join" -> q100Sql,
    "q99_sum_pushdown" -> q99Sql,
    "q98_zorder" -> q98Sql,
    "q95_delete" -> q95Sql,
    "q96_update" -> q96Sql,
    "q135_analyze" -> q135Sql,
    "q136_plan_prune" -> q136Sql,
    "q96b_sql_update" -> q96Sql,
    "q97_upsert" -> q97Sql,
    "q97b_sql_merge" -> q97Sql,
    "q94_schema_evolution" -> q94Sql,
    "q132_rename_widen" -> q132Sql,
    "q133_drop_timetravel" -> q133Sql,
    "q137_nested_ddl" -> q137Sql,
    "q138_stats_churn" -> q138Sql,
    "q139_histogram_cbo" -> q139Sql,
    "q141_rename_prune" -> q141Sql,
    "q142_decimal_widen" -> q142Sql,
    "q143_add_column_prune" -> q143Sql,
    "q145_float_prune" -> q145Sql,
    "q146_score_topk" -> q146Sql,
    "q147_longstr_prune" -> q147Sql,
    "q148_verify_table" -> q148Sql,
    "q149_group_pushdown" -> q149Sql,
    "q150_part_filter_agg" -> q150Sql,
    "q151_str_minmax" -> q151Sql,
    "q154_decimal_minmax" -> q154Sql,
    "q155_decimal_topk" -> q155Sql,
    "q156_tiebreak_topk" -> q156Sql,
    "q157_mor_delete" -> q157Sql,
    "q158_mor_upsert" -> q158Sql,
    "q159_mor_cdc" -> q159Sql,
    "q160_incremental_diff" -> q160Sql,
    "q161_materialize_dvs" -> q161Sql,
    "q162_rewrite_prune" -> q162Sql,
    "q163_dv_count" -> q163Sql,
    "q164_incremental_cluster" -> q164Sql,
    "q165_mor_bucket_update" -> q165Sql,
    "q93_time_travel" -> q93Sql,
    "q91_graft_lookup" -> q91Sql,
    "q92_graft_compact" -> q92Sql,
    "q87_graft_unsigned" -> q87Sql,
    "q88_graft_union" -> q88Sql,
    "q89_agg_pushdown" -> q89Sql,
    "q90_graft_dpp" -> q90Sql,
    "q86_interop_formats" -> q86Sql,
    "q85_graft_partitions" -> q85Sql,
    "q84_graft_catalog" -> q84Sql,
    "q80_graft_roundtrip" -> q80Sql,
    "q81_graft_filter" -> q81Sql,
    "q82_graft_dict" -> q82Sql,
    "q83_graft_lists" -> q83Sql)
}
