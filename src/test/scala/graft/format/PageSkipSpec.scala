package graft.format

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Page-level (sub-chunk) row-range decode: the reference records
  * per-page `row_index_ends` but never exploits them
  * (`src/header.zig:41-45`); graft's range reader does. */
class PageSkipSpec extends SparkSpec {

  /** One single-chunk file with many small pages per buffer. */
  private def writeSample(): Path = {
    val dir = Files.createTempDirectory("graft-pskip").toString
    spark.range(0, 20000).coalesce(1).select(
      col("id"),
      (col("id") * 3).as("y"),
      concat(lit("value-"), col("id")).as("s"))
      .write.format("graft").option("pagesize", "4096").mode("append").save(dir)
    new Path(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
  }

  test("a tail-range read decodes only the overlapping pages") {
    val p = writeSample()
    val fs = p.getFileSystem(new Configuration())

    // full decode: page count for ALL pages of the three columns
    val rFull = GraftFileReader.open(fs, p)
    val chunk = rFull.footer.chunks.head
    val table = chunk.tables.head
    val full = rFull.decodeTable(chunk, table, table.schema)
    val fullPages = rFull.pagesRead
    assert(full.numRows() == 20000)
    full.close(); rFull.close()
    assert(fullPages > 30, s"expected many small pages, got $fullPages")

    // tail range: last 100 rows
    val r = GraftFileReader.open(fs, p)
    val batch = r.decodeTableRange(chunk, table, table.schema, 19900, 20000)
    val tailPages = r.pagesRead
    assert(batch.numRows() == 100)
    val row0 = batch.getRow(0)
    assert(row0.getLong(0) == 19900L)
    assert(row0.getLong(1) == 19900L * 3)
    assert(row0.getUTF8String(2).toString == "value-19900")
    val rowLast = batch.getRow(99)
    assert(rowLast.getLong(0) == 19999L)
    assert(rowLast.getUTF8String(2).toString == "value-19999")
    batch.close(); r.close()
    // the whole point: a tail read touches a handful of pages, not all
    assert(tailPages * 5 < fullPages, s"tail read $tailPages vs full $fullPages pages")
  }

  test("mid-range reads are exact across encodings (dict, FOR, lists)") {
    val dir = Files.createTempDirectory("graft-pskip2").toString
    val df = spark.range(0, 8000).coalesce(1).select(
      col("id"),
      // FOR-narrowed (small range), per-column dict (low cardinality),
      // plain strings, and a list column
      (col("id") % 100 + 1000000).as("narrow"),
      expr("id div 1000").as("runs"), // 1000-long runs => REE storage
      concat(lit("tag"), col("id") % 7).as("tag"),
      concat(lit("uniq-"), col("id")).as("u"),
      array(col("id"), col("id") + 1).as("arr"),
      // fixed-width binary nested under a list (via a struct child with
      // metadata): the evidence-free shape range decode must still serve
      array(struct(unhex(md5(col("id").cast("string"))).as("addr",
        new MetadataBuilder().putLong(ColumnEncoder.FixedWidthKey, 16).build()))).as("arr_fsb"))
    df.write.format("graft").option("pagesize", "2048").mode("append").save(dir)
    val p = new Path(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
    val fs = p.getFileSystem(new Configuration())
    val r = GraftFileReader.open(fs, p)
    val chunk = r.footer.chunks.head
    val table = chunk.tables.head
    val batch = r.decodeTableRange(chunk, table, table.schema, 3210, 3310)
    assert(batch.numRows() == 100)
    (0 until 100).foreach { i =>
      val row = batch.getRow(i)
      val id = 3210L + i
      assert(row.getLong(0) == id)
      assert(row.getLong(1) == id % 100 + 1000000)
      assert(row.getLong(2) == id / 1000)
      assert(row.getUTF8String(3).toString == s"tag${id % 7}")
      assert(row.getUTF8String(4).toString == s"uniq-$id")
      val arr = row.getArray(5)
      assert(arr.numElements() == 2 && arr.getLong(0) == id && arr.getLong(1) == id + 1)
      val fsb = row.getArray(6).getStruct(0, 1).getBinary(0)
      assert(fsb.length == 16)
      val want = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      assert(java.util.Arrays.equals(fsb, want), s"row $id fsb mismatch")
    }
    batch.close(); r.close()

    // scaled double/float over a bit-packed stream: the fused decode arm,
    // entered at a row whose first bit is not byte-aligned
    val sDir = Files.createTempDirectory("graft-pskip2s").toString
    spark.range(0, 8000).coalesce(1).selectExpr(
      "id",
      "CAST((id * 7919) % 100003 AS DOUBLE) / 100 AS sd",
      "CAST(CAST((id * 7919) % 100003 AS DOUBLE) / 100 AS FLOAT) AS sf")
      .write.format("graft").option("pagesize", "2048").mode("append").save(sDir)
    val sp = new Path(new java.io.File(sDir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
    val sr = GraftFileReader.open(fs, sp)
    val sChunk = sr.footer.chunks.head
    val sTable = sChunk.tables.head
    val (a, b) = (3211, 3310)
    Seq("sd", "sf").foreach { c =>
      sTable.columns(sTable.schema.fieldIndex(c)) match {
        case Meta.ScaledMeta(_, _, Meta.BitPackMeta(None, _, bits, _)) =>
          assert(a.toLong * bits % 8 != 0, s"$c: range start $a is byte-aligned at $bits bits")
        case other => fail(s"precondition: $c must be scaled over bit-pack, got $other")
      }
    }
    val sBatch = sr.decodeTableRange(sChunk, sTable, sTable.schema, a, b)
    assert(sBatch.numRows() == b - a)
    (0 until b - a).foreach { i =>
      val row = sBatch.getRow(i)
      val id = a.toLong + i
      val want = ((id * 7919) % 100003).toDouble / 100
      assert(row.getLong(0) == id)
      assert(java.lang.Double.doubleToRawLongBits(row.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(want), s"row $id sd ${row.getDouble(1)} != $want")
      assert(java.lang.Float.floatToRawIntBits(row.getFloat(2)) ==
        java.lang.Float.floatToRawIntBits(want.toFloat), s"row $id sf ${row.getFloat(2)} != ${want.toFloat}")
    }
    sBatch.close(); sr.close()
  }

  test("a range whose lists are all empty decodes at the child buffer's end") {
    // rows 4000.. hold empty lists, so a range over them asks the list's
    // plain double child for the empty element range [total, total) —
    // a byte range no page overlaps, which must read as empty
    val dir = Files.createTempDirectory("graft-pskip7").toString
    spark.range(0, 5000).coalesce(1).selectExpr("id",
      "CASE WHEN id >= 4000 THEN CAST(array() AS array<double>) " +
        "ELSE array(CAST(id AS DOUBLE) / 3, CAST(id AS DOUBLE) / 7) END AS l")
      .write.format("graft").option("pagesize", "1024").mode("append").save(dir)
    val p = new Path(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
    val r = GraftFileReader.open(p.getFileSystem(new Configuration()), p)
    val chunk = r.footer.chunks.head
    val table = chunk.tables.head
    table.columns(1) match {
      case Meta.ListMeta(_, _, _: Meta.PrimitiveMeta) =>
      case other => fail(s"precondition: l's child must be plain doubles, got $other")
    }
    for ((a, b) <- Seq((4500, 5000), (4000, 4100), (3999, 4001))) {
      val batch = r.decodeTableRange(chunk, table, table.schema, a, b)
      (0 until b - a).foreach { i =>
        val id = a + i
        val l = batch.getRow(i).getArray(1)
        if (id >= 4000) assert(l.numElements() == 0, s"row $id")
        else assert(l.numElements() == 2 && l.getDouble(0) == id.toDouble / 3 &&
          l.getDouble(1) == id.toDouble / 7, s"row $id")
      }
      batch.close()
    }
    r.close()
  }

  test("pushed limits decode a page prefix, not the whole chunk") {
    val dir = Files.createTempDirectory("graft-pskip3").toString
    spark.range(0, 50000).coalesce(1)
      .select(col("id"), concat(lit("x"), col("id")).as("s"))
      .write.format("graft").option("pagesize", "4096").mode("append").save(dir)
    val got = spark.read.format("graft").load(dir).limit(5).collect()
    assert(got.length == 5)
    assert(got.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("a selective predicate on a many-page chunk decodes strictly fewer pages") {
    // the intra-chunk value-skipping path end-to-end: block zone maps
    // (8Ki-row granularity, FINER than 1 MiB pages on narrow columns)
    // intersect a pushed equality with each block's min/max; only pages
    // overlapping the surviving row ranges are decompressed
    val dir = Files.createTempDirectory("graft-pskip4").toString
    spark.range(0, 200000).coalesce(1).select(
      col("id"),
      (col("id") * 7).as("y"),
      concat(lit("doc-"), col("id")).as("s"))
      .write.format("graft").option("pagesize", "4096").mode("append").save(dir)
    val p = new Path(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
    val fs = p.getFileSystem(new Configuration())
    val schema = new StructType()
      .add("id", LongType).add("y", LongType).add("s", StringType)

    def scan(filters: Array[org.apache.spark.sql.sources.Filter])
        : (Seq[org.apache.spark.sql.catalyst.InternalRow], Map[String, Long]) = {
      val r = new graft.sources.GraftPartitionReader(fs, p, schema, None, filters, -1)
      val rows = Seq.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
      try {
        while (r.next()) {
          val b = r.get()
          val it = b.rowIterator()
          while (it.hasNext) rows += it.next().copy()
        }
        (rows.result(), r.currentMetricsValues().map(m => m.name -> m.value).toMap)
      } finally r.close()
    }

    val (allRows, fullM) = scan(Array.empty)
    assert(allRows.size == 200000)
    val fullPages = fullM("pagesRead")
    assert(fullPages > 100, s"want a many-page chunk, got $fullPages pages")

    val (hit, selM) = scan(Array(
      org.apache.spark.sql.sources.EqualTo("id", 123456L)))
    // block-granular decode over-delivers (Spark re-applies residuals);
    // the match must be present and the decode must stay block-sized
    assert(hit.exists(_.getLong(0) == 123456L))
    assert(hit.size <= Meta.BlockRows,
      s"selective scan decoded ${hit.size} rows; want <= one block")
    // 200K rows span two chunks (128Ki-row writer flush): the chunk not
    // holding the key skips WHOLE at chunk level; the kept chunk's 16
    // blocks prune to the single one covering the key
    assert(selM("skippedChunks") >= 1,
      s"chunk stats skipped ${selM("skippedChunks")} chunks; want >=1")
    assert(selM("skippedBlocks") >= 15,
      s"zone maps skipped ${selM("skippedBlocks")} blocks; want >=15 of 16")
    val selPages = selM("pagesRead")
    assert(selPages * 5 < fullPages,
      s"selective predicate read $selPages of $fullPages pages")
  }

  test("a mid-range read on a DELTA column resumes at a page base (footer v5)") {
    val dir = Files.createTempDirectory("graft-pskip6").toString
    // one lone sequential long column: consecutive deltas are all 1, so
    // delta encoding wins; 4 KiB pages make the chunk many-paged
    spark.range(0, 200000).coalesce(1).select(col("id"))
      .write.format("graft").option("pagesize", "4096").mode("append").save(dir)
    val p = new Path(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
    val fs = p.getFileSystem(new Configuration())
    val r = GraftFileReader.open(fs, p)
    val chunk = r.footer.chunks.head
    val table = chunk.tables.head
    val dm = table.columns.head match {
      case d: Meta.DeltaMeta => d
      case other => fail(s"precondition: id must delta-encode, got $other")
    }
    assert(dm.pageBases.size == dm.deltas.pages.size && dm.pageBases.size > 10,
      s"want per-page bases over many pages, got ${dm.pageBases.size}")
    // deep mid-range probe: before v5 this decompressed every page from
    // 0 to the range (prefix sums); now only the pages from the nearest
    // base load
    val batch = r.decodeTableRange(chunk, table, table.schema, 100000, 100100)
    val pages = r.pagesRead
    assert(batch.numRows() == 100)
    (0 until 100).foreach(i => assert(batch.getRow(i).getLong(0) == 100000L + i))
    batch.close(); r.close()
    assert(pages <= 3, s"delta mid-range read decompressed $pages pages (want <=3)")
  }

  test("a struct-leaf predicate prunes 8Ki-row blocks via nested zone maps") {
    // footer v4 per-block nested-leaf stats: a dotted filter (the shape
    // Spark's DSv2 translation and the DML prune emit for struct fields)
    // must decode blocks, not the whole chunk, when the leaf is clustered
    val dir = Files.createTempDirectory("graft-pskip5").toString
    spark.range(0, 120000).coalesce(1).selectExpr(
      "id",
      "named_struct('source', concat('s', CAST(id % 3 AS STRING)), 'w', CAST(id AS INT)) AS meta")
      .write.format("graft").option("pagesize", "4096").mode("append").save(dir)
    val p = new Path(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head.toString)
    val fs = p.getFileSystem(new Configuration())
    val schema = new StructType()
      .add("id", LongType)
      .add("meta", new StructType().add("source", StringType).add("w", IntegerType))

    def scan(filters: Array[org.apache.spark.sql.sources.Filter])
        : (Long, Map[String, Long]) = {
      val r = new graft.sources.GraftPartitionReader(fs, p, schema, None, filters, -1)
      var n = 0L
      try {
        while (r.next()) n += r.get().numRows()
        (n, r.currentMetricsValues().map(m => m.name -> m.value).toMap)
      } finally r.close()
    }

    val (all, _) = scan(Array.empty)
    assert(all == 120000)
    // 120K rows = one chunk of 15 blocks; the leaf equality lives in one
    val (hit, selM) = scan(Array(
      org.apache.spark.sql.sources.EqualTo("meta.w", 99999)))
    assert(hit >= 1 && hit <= Meta.BlockRows,
      s"nested block prune decoded $hit rows; want <= one block")
    assert(selM("skippedBlocks") >= 13,
      s"nested zone maps skipped ${selM("skippedBlocks")} blocks; want >=13 of 15")
  }
}
