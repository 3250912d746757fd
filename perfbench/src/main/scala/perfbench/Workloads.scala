package perfbench

import scala.jdk.CollectionConverters._

import graft.operators.FormatOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataTypes, MetadataBuilder, StructType}

/** The lineitem-derived table shared by `scan` and `cdc`. */
object Lineitem {
  /** 8 B per long/double/timestamp, 4 per int, the byte length of each
    * string or binary value: rid + 3 keys + linenumber + 4 doubles +
    * two 1-char flags + shipdate + supp_addr(20) + order_hash(32). */
  val PlainRowBytes = 130L
  val BatchRows = 20000

  private def fixed(w: Long) =
    new MetadataBuilder().putLong(graft.format.ColumnEncoder.FixedWidthKey, w).build()

  /** The generated lineitem; its 20- and 32-byte columns are declared
    * fixed-width, so they take olive's dict20/dict32 path. Not cached: each
    * use reads the parquet file, so no copy of the inputs sits on the heap
    * in `heap_live_mb`. */
  def source(spark: SparkSession, data: String): DataFrame =
    spark.read.parquet(s"$data/lineitem.parquet")
      .withColumn("l_shipdate", col("l_shipdate").cast(DataTypes.TimestampType))
      .withColumn("supp_addr", col("supp_addr").as("supp_addr", fixed(20)))
      .withColumn("order_hash", col("order_hash").as("order_hash", fixed(32)))

  def rowHash(df: DataFrame): Column = xxhash64(df.columns.toSeq.map(col): _*)

  /** Row count and order-independent content hash. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(rowHash(df).cast("decimal(20,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** xxhash64 of every source row, indexed by rid (rids are 0 until n). */
  def hashByRid(src: DataFrame): Array[Long] = {
    val hs = src.select(col("rid"), rowHash(src)).collect()
    val out = new Array[Long](hs.length)
    hs.foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
    out
  }

  def read(spark: SparkSession, dir: String): DataFrame = spark.read.format("graft").load(dir)

  def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Range-clustered on the unique `rid` into `files` files. */
  def writeClustered(src: DataFrame, dir: String, files: Int): Unit =
    src.repartitionByRange(files, col("rid")).sortWithinPartitions("rid")
      .write.format("graft").mode("overwrite").save(dir)

  /** Rows as comparable strings, binary values in hex, doubles to 12 digits. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: Double => BigDecimal(d).round(new java.math.MathContext(12)).toString
    case f: Float => BigDecimal(f.toDouble).round(new java.math.MathContext(7)).toString
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")).sorted

  def sameRows(what: String, got: Seq[Row], want: Seq[String]): Unit = {
    val g = canon(got)
    if (g != want) throw new AssertionError(
      s"$what: ${g.size} rows differ from the expected ${want.size}; " +
        s"first difference ${g.diff(want).headOption.getOrElse("-")} vs ${want.diff(g).headOption.getOrElse("-")}")
  }

  /** Direct single-thread decode of every chunk of `files`, ms per MB on disk. */
  def decodeMsPerMb(files: Seq[String]): Double = {
    val conf = new org.apache.hadoop.conf.Configuration()
    def pass(): (Double, Long) = {
      var bytes = 0L
      val t0 = System.nanoTime()
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val fs = p.getFileSystem(conf)
        val r = graft.format.GraftFileReader.open(fs, p)
        try r.footer.chunks.foreach(ch => ch.tables.foreach(t => r.decodeTable(ch, t, t.schema).close()))
        finally r.close()
        bytes += fs.getFileStatus(p).getLen
      }
      ((System.nanoTime() - t0) / 1e6, bytes)
    }
    val passes = (1 to 3).map(_ => pass())
    Bench.median(passes.map { case (ms, b) => ms / (b / 1048576.0) })
  }

  /** Direct single-thread `TableBuffer` + `GraftFileWriter` over one batch:
    * encode ms per plain MB, encoded bytes per plain byte, and the share of
    * 20/32-byte values the chunk dictionaries absorbed. */
  def encodeLayer(batch: DataFrame): Map[String, Double] = {
    val schema = batch.schema
    val rows = batch.queryExecution.toRdd.map(_.copy()).collect()
    val plain = rows.length * PlainRowBytes
    val fixedCols = schema.fields.count(_.metadata.contains(graft.format.ColumnEncoder.FixedWidthKey))
    def encode(): (Double, Array[Byte]) = {
      val t0 = System.nanoTime()
      val buf = new graft.format.TableBuffer("data", schema)
      rows.foreach(buf.appendRow)
      val out = new java.io.ByteArrayOutputStream()
      val w = new graft.format.GraftFileWriter(out)
      w.writeChunk(Seq(buf))
      w.finish()
      ((System.nanoTime() - t0) / 1e6, out.toByteArray)
    }
    val runs = (1 to 3).map(_ => encode())
    val bytes = runs.last._2
    // the file ends in [footer][footer length: i64 LE]["OLV1"]
    val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 12, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong.toInt
    val footer = graft.format.Meta.read(
      java.util.Arrays.copyOfRange(bytes, bytes.length - 12 - footerLen, bytes.length - 12))
    val entries = footer.chunks.map(c => c.dict20.numEntries + c.dict32.numEntries).sum
    Map("format.encode_ms_per_mb" -> Bench.median(runs.map(_._1)) / (plain / 1048576.0),
      "format.bytes_per_user_byte" -> bytes.length.toDouble / plain,
      "format.dict_hit_frac" -> (1.0 - entries.toDouble / (rows.length.toLong * fixedCols)))
  }

  def graftFiles(dir: String): Seq[String] =
    TableFiles.list(dir).map(_._1).filter(_.endsWith(".graft"))
}

/** Five query shapes over one clustered table; reads only. Point, range
  * and full-decode results are checked against the source rows' hashes;
  * the 1-column aggregate and the group-by against the same query over
  * the source frame, run once. */
final class ScanWorkload(spark: SparkSession, data: String, work: String, seed: Long, cpus: Int)
    extends Workload {
  import Lineitem._
  private val dir = s"$work/tables/scan"
  private val rng = new scala.util.Random(seed)
  private var src: DataFrame = _
  private var hashes: Array[Long] = Array.empty
  private def n = hashes.length
  private val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
  private val RangeRows = 2500
  // Pruned shapes are the majority. In latency order the 2,500-row ranges
  // fill the middle and the full decodes the top, so neither the median
  // nor the tail (the 11th-slowest of the 91 ops of seven rounds, the 4th
  // fastest of 14 full decodes) sits on a jump between two shapes.
  private val mix = Seq("full", "full", "group_by", "group_by", "one_col", "one_col",
    "point", "point") ++ Seq.fill(5)("range")
  private var deck: Seq[String] = Nil

  override def tableDir: Option[String] = Some(dir)
  val roundSize: Int = mix.size
  val roundSeconds = 1.45
  // the range and point paths speed up by a third over the first four
  // rounds (JIT of the decode path and of each query's generated code)
  override def warmupRounds: Int = 4

  def load(): Unit = {
    src = source(spark, data)
    hashes = hashByRid(src)
  }

  def setup(): Unit = {
    deleteDir(spark, dir)
    writeClustered(src, dir, 2 * cpus)
  }

  private lazy val total = hashSum(0, n)

  private def hashSum(a: Int, w: Int): BigDecimal = {
    var s = BigDecimal(0)
    var k = a
    while (k < a + w) { s += hashes(k); k += 1 }
    s
  }

  private def expectRow(got: Row, c: Long, h: BigDecimal): Unit =
    if (got.getLong(0) != c || BigDecimal(got.getDecimal(1)) != h)
      throw new AssertionError(s"(rows, hash) (${got.getLong(0)}, ${got.getDecimal(1)}), source ($c, $h)")

  def op(i: Int): Op = {
    if (i % roundSize == 0) deck = rng.shuffle(mix)
    val kind = deck(i % roundSize)
    val w = kind match {
      case "range" => RangeRows
      case "point" => 1
      case _ => 0
    }
    val a = if (w > 0) rng.nextInt(n - w) else 0
    val q: DataFrame => DataFrame = kind match {
      case "full" => t => t.agg(count(lit(1)), sum(rowHash(t).cast("decimal(20,0)")))
      case "one_col" => t => t.agg(sum(col("l_quantity")))
      case "range" => t =>
        val f = t.filter(col("rid").between(a, a + w - 1))
        f.agg(count(lit(1)), sum(rowHash(f).cast("decimal(20,0)")))
      case "point" => t => t.filter(col("rid") === a).select(rowHash(t))
      case "group_by" => t => t.groupBy(col("supp_addr")).agg(count(lit(1)), sum(col("l_quantity")))
    }
    val rows = if (w > 0) w.toLong else n.toLong
    Op(kind, rows, rows * PlainRowBytes, () => {
      val df = q(read(spark, dir))
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan
      val planMs = (System.nanoTime() - t0) / 1e6
      val got = df.collect().toSeq
      val matched = kind match {
        case "range" => got.head.getLong(0)
        case "point" => got.size.toLong
        case _ => -1L
      }
      Outcome(got, planMs, matched)
    }, out => {
      val got = out.value.asInstanceOf[Seq[Row]]
      kind match {
        case "full" => expectRow(got.head, n, total)
        case "range" => expectRow(got.head, w, hashSum(a, w))
        case "point" =>
          if (got.map(_.getLong(0)) != Seq(hashes(a)))
            throw new AssertionError(s"point read of rid $a returned ${got.size} rows, hashes ${got.map(_.getLong(0))}")
        case _ => sameRows(kind, got, memo.getOrElseUpdate(kind, canon(q(src).collect().toSeq)))
      }
    })
  }

  override def liveUserBytes(): Long = n * PlainRowBytes

  /** Table rows times full-decode queries over the time those queries took. */
  override def rowsPerSec(recs: Seq[Rec]): Double = {
    val full = recs.filter(r => r.ok && r.kind == "full")
    n.toDouble * full.size / (full.map(_.ms).sum / 1000.0)
  }

  override def formatLayer(): Map[String, Double] =
    Map("format.decode_ms_per_mb" -> decodeMsPerMb(graftFiles(dir))) ++
      encodeLayer(src.limit(BatchRows))
}

/** Keyed commits on a clustered table: upserts, CDC batches, range
  * deletes, and a vacuum every round. A driver-side model (row hash per
  * rid) applies the same batches. */
final class CdcWorkload(spark: SparkSession, data: String, work: String, seed: Long, cpus: Int)
    extends Workload {
  import Lineitem._
  private val dir = s"$work/tables/cdc"
  private val rng = new scala.util.Random(seed)
  private var src: DataFrame = _
  private var schema: StructType = _
  private var n = 0
  private var initial: Array[Long] = Array.empty
  private var hash: Array[Long] = Array.empty
  private var present: Array[Boolean] = Array.empty
  private var nextKey = 0L
  private var version = 0L
  // one round: 2 upserts (one past the 1,000-key IN-list cap), a CDC
  // batch, a range delete, then a vacuum
  private val commits = Seq("upsert", "upsert_large", "apply_cdc", "delete_where")
  private var deck: Seq[String] = Nil
  private val Extra = 200000

  override def tableDir: Option[String] = Some(dir)
  val roundSize: Int = commits.size + 1
  val roundSeconds = 6.0

  def load(): Unit = {
    src = source(spark, data)
    schema = src.schema
    initial = hashByRid(src)
    n = initial.length
  }

  def setup(): Unit = {
    deleteDir(spark, dir)
    writeClustered(src, dir, 2 * cpus)
    hash = java.util.Arrays.copyOf(initial, n + Extra)
    present = Array.tabulate(n + Extra)(_ < n)
    nextKey = n
    version = 0L
  }

  /** Source rows for rids [a, a+m) with new values, plus `fresh` new keys. */
  private def changed(a: Long, m: Int, fresh: Int, bump: Int): Seq[Row] = {
    val base = src.filter(col("rid").between(a, a + m - 1)).collect().toSeq
    val news = base.take(fresh).map { r =>
      nextKey += 1
      Row.fromSeq(r.toSeq.updated(0, nextKey - 1))
    }
    (base ++ news).map { r =>
      val v = r.toSeq.toArray
      v(schema.fieldIndex("l_quantity")) = r.getDouble(schema.fieldIndex("l_quantity")) + bump
      v(schema.fieldIndex("l_extendedprice")) = r.getDouble(schema.fieldIndex("l_extendedprice")) + bump
      Row.fromSeq(v.toSeq)
    }
  }

  private def hashes(rows: Seq[Row], sch: StructType): Seq[(Int, Long)] = {
    val df = spark.createDataFrame(rows.asJava, sch).select(schema.fieldNames.map(col).toSeq: _*)
    df.select(col("rid"), rowHash(df)).collect().toSeq.map(r => r.getLong(0).toInt -> r.getLong(1))
  }

  /** Point read of (up to 32 of) the touched keys against the model. */
  private def pointCheck(keys: Seq[Long]): Unit = {
    val sample = if (keys.size <= 32) keys else rng.shuffle(keys).take(32)
    val t = read(spark, dir)
    val got = t.filter(col("rid").isin(sample: _*)).select(col("rid"), rowHash(t)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = sample.filter(k => present(k.toInt)).map(k => k -> hash(k.toInt)).toMap
    if (got != want) throw new AssertionError(
      s"point read of ${sample.size} touched keys: ${got.size} rows, model has ${want.size}; " +
        s"first difference ${(got.toSet diff want.toSet).headOption.orElse((want.toSet diff got.toSet).headOption)}")
  }

  def op(i: Int): Op = {
    if (i % roundSize == 0) deck = rng.shuffle(commits) :+ "vacuum"
    deck(i % roundSize) match {
      case k @ ("upsert" | "upsert_large") =>
        val m = if (k == "upsert") 1000 else 1500
        val a = (rng.nextDouble() * (n - m)).toLong
        val rows = changed(a, m - m / 20, m / 20, 1 + rng.nextInt(9))
        Op("upsert", rows.size, rows.size * PlainRowBytes, () => {
          FormatOps.upsert(spark, dir, "data", spark.createDataFrame(rows.asJava, schema), Seq("rid"))
          Outcome()
        }, _ => {
          hashes(rows, schema).foreach { case (k, h) => hash(k) = h; present(k) = true }
          pointCheck(rows.map(_.getLong(0)))
        })
      case "apply_cdc" =>
        val m = 1000
        val a = (rng.nextDouble() * (n - m)).toLong
        version += 1
        val v = version
        val rows = changed(a, m - 50, 50, 1 + rng.nextInt(9)).zipWithIndex.map { case (r, j) =>
          val kind = if (r.getLong(0) >= n) "insert" else if (j % 10 < 3) "delete" else "update_postimage"
          Row.fromSeq(r.toSeq :+ kind :+ v)
        }
        val cdcSchema = schema.add("_change_type", "string").add("_commit_version", "long")
        Op("apply_cdc", rows.size, rows.size * PlainRowBytes, () => {
          FormatOps.applyCdcBatch(spark, dir, "data", spark.createDataFrame(rows.asJava, cdcSchema), Seq("rid"))
          Outcome()
        }, _ => {
          val (dels, ups) = rows.partition(_.getString(schema.size) == "delete")
          dels.foreach(r => present(r.getLong(0).toInt) = false)
          hashes(ups, cdcSchema).foreach { case (k, h) => hash(k) = h; present(k) = true }
          pointCheck(rows.map(_.getLong(0)))
        })
      case "delete_where" =>
        val w = 200
        val a = (rng.nextDouble() * (n - w)).toLong
        val keys = (a until a + w).toSeq
        Op("delete_where", keys.count(k => present(k.toInt)), 0L, () => {
          FormatOps.deleteWhere(spark, dir, "data", col("rid").between(a, a + w - 1))
          Outcome()
        }, _ => {
          keys.foreach(k => present(k.toInt) = false)
          pointCheck(keys)
        })
      case "vacuum" =>
        Op("vacuum", 0L, 0L, () => { FormatOps.vacuum(spark, dir, graceMs = 0L); Outcome() })
    }
  }

  private def modelDigest: (Long, BigDecimal) = {
    var c = 0L
    var s = BigDecimal(0)
    var k = 0
    while (k < present.length) { if (present(k)) { c += 1; s += hash(k) }; k += 1 }
    (c, s)
  }

  override def finalChecks(): Seq[(String, () => Unit)] = Seq("cdc_model" -> (() => {
    val got = digest(read(spark, dir))
    if (got != modelDigest) throw new AssertionError(s"table (rows, hash) $got, model $modelDigest")
  }))

  override def liveUserBytes(): Long = modelDigest._1 * PlainRowBytes

  override def liveFiles(): Option[Set[String]] =
    Some(read(spark, dir).select(col("_file")).distinct().collect().map(_.getString(0)).toSet)

  override def formatLayer(): Map[String, Double] =
    Map("format.decode_ms_per_mb" -> decodeMsPerMb(liveFiles().get.toSeq.map(f =>
      new java.net.URI(f).getPath))) ++ encodeLayer(src.limit(BatchRows))
}

object LlmOpsWorkload {
  /** The LLM-pipeline gates this workload cycles through: MinHash LSH and
    * its precision (MinHash/SimHash), IVF ANN and embedding dedup
    * (VectorOps, Similarity), span dedup and its clusters (TextOps).
    * q44d_ivf_append and q107_dedup_ledger are left out: they write under a
    * fixed directory outside the benchmark's checkout. */
  val Gates: Seq[String] = Seq("q35_minhash_lsh", "q35c_lsh_precision", "q44_ivf_ann",
    "q45_embedding_dedup", "q56_span_dedup", "q59_dedup_clusters")
  private val OnEmbeddings = Set("q44_ivf_ann", "q45_embedding_dedup")
}

/** The LLM-pipeline gates in a seeded order per round, each result
  * checked against the set-up pass. */
final class LlmOpsWorkload(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  import LlmOpsWorkload.{Gates, OnEmbeddings}
  private val rng = new scala.util.Random(seed)
  private val queries = graft.SparkEntry.queries
  private val expected = scala.collection.mutable.HashMap.empty[String, Seq[String]]
  private val reference = scala.collection.mutable.HashMap.empty[String, DataFrame]
  private var inputRows = Map.empty[String, Long]
  private var deck: Seq[String] = Nil

  val roundSize: Int = Gates.size
  val roundSeconds = 8.0
  override def heapSamplesWhileMeasuring: Boolean = true

  def load(): Unit = {
    val docs = spark.read.parquet(s"$data/documents.parquet").count()
    val emb = spark.read.parquet(s"$data/embeddings.parquet").count()
    inputRows = Gates.map(g => g -> (if (OnEmbeddings(g)) emb else docs)).toMap
  }

  /** The reference pass: every gate once; its results are what later ops must match. */
  def setup(): Unit = Gates.foreach { g =>
    val df = queries(g)(spark, data)
    val rows = df.collect().toSeq
    expected(g) = Lineitem.canon(rows)
    reference(g) = spark.createDataFrame(rows.asJava, df.schema)
  }

  def op(i: Int): Op = {
    if (i % roundSize == 0) deck = rng.shuffle(Gates)
    val g = deck(i % roundSize)
    Op(g, inputRows(g), 0L, () => Outcome(queries(g)(spark, data).collect().toSeq),
      out => Lineitem.sameRows(g, out.value.asInstanceOf[Seq[Row]], expected(g)))
  }

  /** Writes the set-up results and their DuckDB oracle SQL for run.py to compare. */
  override def finalChecks(): Seq[(String, () => Unit)] = Seq("llm_reference_dump" -> (() => {
    val oracle = graft.SparkEntry.oracleSql
    Gates.foreach { g =>
      reference(g).coalesce(1).write.mode("overwrite").parquet(s"$work/llm_ref/$g")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "llm_ref", "oracle.json"),
      Json.write(Gates.flatMap(g => oracle.get(g).map(g -> _)).toMap))
  }))
}
