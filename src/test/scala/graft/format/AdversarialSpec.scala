package graft.format

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Hostile-input reads must raise clean exceptions, never crash —
  * the Spark port of the reference's adversarial fuzz test
  * (`src/fuzz.zig:12-52`). */
class AdversarialSpec extends SparkSpec {

  private def writeSample(): java.io.File = {
    val dir = Files.createTempDirectory("graft-adv").toString
    // d: decimal(22,1) (Spark parses the 1.5 literal as decimal — 16-byte
    // plain layout); sd: a genuine double that takes the Scaled encoding
    spark.range(0, 500).selectExpr("id", "concat('s', id) AS s", "id * 1.5 AS d",
        "cast(id as double) * 1.5 AS sd")
      .write.format("graft").mode("append").save(dir)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".graft")).head
  }

  private def openRaw(f: java.io.File): Array[Byte] = Files.readAllBytes(f.toPath)

  /** Opens `bytes` and decodes every table in two passes: whole chunks,
    * then the middle third of each table with at least 3 rows (smaller
    * tables whole). A hostile file must fail both passes; the whole-chunk
    * failure is rethrown for the callers' checks. A range pass that
    * accepts the file, or fails other than cleanly where the whole pass
    * did, raises an AssertionError no `intercept[Exception]` can absorb. */
  private def tryOpen(bytes: Array[Byte]): Unit = {
    val tmp = Files.createTempDirectory("graft-adv2")
    val p = tmp.resolve("x.graft")
    Files.write(p, bytes)
    val hp = new Path(p.toString)
    val fs = hp.getFileSystem(new Configuration())
    def decodeAll(decode: (GraftFileReader, Meta.ChunkMeta, Meta.TableMeta) =>
        org.apache.spark.sql.vectorized.ColumnarBatch): Unit = {
      val r = GraftFileReader.open(fs, hp)
      try {
        // decode every chunk/table — corruption may hide in pages
        r.footer.chunks.foreach(c => c.tables.foreach { t =>
          val batch = decode(r, c, t)
          batch.rowIterator().forEachRemaining(row =>
            (0 until t.schema.size).foreach(i => if (!row.isNullAt(i)) row.get(i, t.schema(i).dataType)))
          batch.close()
        })
      } finally r.close()
    }
    def clean(e: Throwable) =
      e.isInstanceOf[OliveFormatException] || e.isInstanceOf[java.io.IOException]
    val whole = scala.util.Try(decodeAll((r, c, t) => r.decodeTable(c, t, t.schema)))
    val mid = scala.util.Try(decodeAll { (r, c, t) =>
      val n = t.numRows
      if (n >= 3) r.decodeTableRange(c, t, t.schema, n / 3, 2 * n / 3)
      else r.decodeTable(c, t, t.schema)
    })
    whole.failed.foreach { e =>
      mid match {
        case scala.util.Success(_) =>
          throw new AssertionError(s"range decode accepted a file whole-chunk decode refused: $e")
        case scala.util.Failure(m) if clean(e) && !clean(m) =>
          throw new AssertionError(s"range decode failed uncleanly: $m", m)
        case _ =>
      }
    }
    whole.get
  }

  test("truncated files fail cleanly") {
    val raw = openRaw(writeSample())
    for (keep <- Seq(0, 3, 10, raw.length / 2, raw.length - 5)) {
      intercept[Exception](tryOpen(java.util.Arrays.copyOf(raw, keep)))
    }
  }

  test("EVERY bit flip is DETECTED: page + footer checksums leave no silent spot") {
    // pre-v5 this asserted "fail cleanly or decode" — a flipped
    // compressed payload that still inflated to the right size decoded
    // silently WRONG. Page checksums (compressed bytes) and the footer
    // checksum close that: a full decode after any single-bit flip must
    // refuse. The only unchecked bytes are the 4-byte head magic and the
    // 12-byte tail, both validated structurally.
    val raw = openRaw(writeSample())
    val rnd = new scala.util.Random(42)
    (0 until 120).foreach { i =>
      val copy = raw.clone()
      val pos = rnd.nextInt(copy.length)
      copy(pos) = (copy(pos) ^ (1 << rnd.nextInt(8))).toByte
      val e = intercept[Exception](tryOpen(copy))
      assert(e.isInstanceOf[OliveFormatException] ||
        e.isInstanceOf[java.io.IOException],
        s"flip #$i at $pos raised unexpected ${e.getClass}: ${e.getMessage}")
    }
    // targeted: a flip deep inside a data page reports the checksum
    val dataPos = Meta.MagicHead.length + 100
    val copy = raw.clone()
    copy(dataPos) = (copy(dataPos) ^ 0x10).toByte
    val e = intercept[OliveFormatException](tryOpen(copy))
    assert(e.getMessage.contains("checksum"), e.getMessage)
  }

  test("hostile footer lengths fail cleanly") {
    val raw = openRaw(writeSample())
    for (fl <- Seq(Long.MaxValue, -1L, raw.length.toLong, 0L)) {
      val copy = raw.clone()
      val bb = Bytes.le(copy)
      bb.putLong(copy.length - 12, fl)
      intercept[Exception](tryOpen(copy))
    }
  }

  test("random garbage fails cleanly") {
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { _ =>
      val junk = new Array[Byte](rnd.nextInt(4096) + 16)
      rnd.nextBytes(junk)
      // plant the tail magic so parsing gets past the first gate sometimes
      System.arraycopy(Meta.MagicTail, 0, junk, junk.length - 4, 4)
      intercept[Exception](tryOpen(junk))
    }
  }

  test("structurally-valid but lying footers fail cleanly") {
    val f = writeSample()
    val hp = new Path(f.toString)
    val fs = hp.getFileSystem(new Configuration())
    val r = GraftFileReader.open(fs, hp)
    val footer = r.footer
    r.close()
    val raw = openRaw(f)

    def rebuild(mutated: Meta.Footer): Array[Byte] = {
      val fb = Meta.write(mutated)
      // reassemble: head+data section unchanged, swap footer bytes
      val origFooterLen = Bytes.le(raw).getLong(raw.length - 12)
      val body = raw.slice(0, raw.length - 12 - origFooterLen.toInt)
      val tail = new Bytes(12)
      tail.putLong(fb.length.toLong)
      tail.putBytes(Meta.MagicTail)
      body ++ fb ++ tail.toArray
    }

    val chunk = footer.chunks.head
    val table = chunk.tables.head
    def mutTable(t: Meta.TableMeta): Meta.Footer =
      footer.copy(chunks = Vector(chunk.copy(tables = Vector(t))))

    val liars = Seq[Meta.Footer](
      // numRows inflated: buffers are too short for the claimed rows
      mutTable(table.copy(numRows = table.numRows + 1000)),
      // page offset points past the data section
      mutTable(table.copy(columns = table.columns.updated(0,
        table.columns(0) match {
          case Meta.PrimitiveMeta(v, b) => Meta.PrimitiveMeta(v,
            b.copy(pages = b.pages.map(p => p.copy(offset = p.offset + (1L << 40)))))
          case Meta.ForMeta(v, base, w, b) => Meta.ForMeta(v, base, w,
            b.copy(pages = b.pages.map(p => p.copy(offset = p.offset + (1L << 40)))))
          case Meta.BitPackMeta(v, base, bits, b) => Meta.BitPackMeta(v, base, bits,
            b.copy(pages = b.pages.map(p => p.copy(offset = p.offset + (1L << 40)))))
          case other => fail(s"test expects a primitive/FOR/bit-pack first column, got $other")
        }))),
      // (a lying dict is legal to IGNORE here: dicts load lazily and this
      // sample has no dict columns — validation happens on first use)
      // data section size lies
      footer.copy(dataSectionSize = footer.dataSectionSize + 1))

    liars.foreach { lie =>
      intercept[Exception](tryOpen(rebuild(lie)))
    }
  }

  test("wrong-width stat bytes are refused at parse, not crashed on at skip time") {
    val f = writeSample()
    val hp = new Path(f.toString)
    val fs = hp.getFileSystem(new Configuration())
    val r = GraftFileReader.open(fs, hp)
    val footer = r.footer
    r.close()
    val raw = openRaw(f)
    def rebuild(mutated: Meta.Footer): Array[Byte] = {
      val fb = Meta.write(mutated)
      val origFooterLen = Bytes.le(raw).getLong(raw.length - 12)
      val body = raw.slice(0, raw.length - 12 - origFooterLen.toInt)
      val tail = new Bytes(12)
      tail.putLong(fb.length.toLong)
      tail.putBytes(Meta.MagicTail)
      body ++ fb ++ tail.toArray
    }
    val chunk = footer.chunks.head
    val table = chunk.tables.head
    def withStat(colName: String, st: ColStats): Meta.Footer = {
      val ci = table.schema.fieldIndex(colName)
      footer.copy(chunks = Vector(chunk.copy(tables = Vector(
        table.copy(stats = table.stats.updated(ci, st))))))
    }
    // sample schema: id long (8-byte stats), s string (<=48), d
    // decimal(22,1) (16-byte), sd double (8-byte)
    val liars = Seq(
      withStat("id", ColStats(0, Some(Array[Byte](1, 2, 3)), Some(Stats.longBytes(9)))),
      withStat("id", ColStats(0, Some(Stats.longBytes(0)), Some(Array.empty[Byte]))),
      withStat("d", ColStats(0, Some(Stats.longBytes(0)), Some(Stats.longBytes(9)))), // 8 != 16
      withStat("s", ColStats(0, Some(new Array[Byte](49)), Some(new Array[Byte](49)))),
      withStat("sd", ColStats(0, Some(Array[Byte](1)), Some(Stats.longBytes(1)))),
      withStat("id", ColStats(0, Some(Stats.longBytes(0)), Some(Stats.longBytes(9)),
        sum = Some(Array[Byte](1, 2))))) // sums are always 8 bytes
    liars.foreach { lie =>
      val e = intercept[OliveFormatException](tryOpen(rebuild(lie)))
      assert(e.getMessage.contains("stat width"), s"got: ${e.getMessage}")
    }
  }

  test("huge claimed row counts fail BEFORE allocation, not by OOM") {
    val f = writeSample()
    val hp = new Path(f.toString)
    val fs = hp.getFileSystem(new Configuration())
    val r = GraftFileReader.open(fs, hp)
    val footer = r.footer
    r.close()
    val raw = openRaw(f)
    val chunk = footer.chunks.head
    // claim 2^27 rows (passes the raw range check); column buffers imply
    // only 500 — the evidence check must fire before any vector reserve
    val lying = footer.copy(chunks = Vector(chunk.copy(tables = Vector(
      chunk.tables.head.copy(numRows = 1 << 27)))))
    val fb = Meta.write(lying)
    val origLen = Bytes.le(raw).getLong(raw.length - 12)
    val tail = new Bytes(12)
    tail.putLong(fb.length.toLong)
    tail.putBytes(Meta.MagicTail)
    val bytes = raw.slice(0, raw.length - 12 - origLen.toInt) ++ fb ++ tail.toArray
    val e = intercept[OliveFormatException](tryOpen(bytes))
    assert(e.getMessage.contains("elements"), e.getMessage)
  }

  test("lying list offsets cannot force huge child allocations") {
    import org.apache.spark.sql.types._
    // hand-build a hostile file: ONE row whose list offsets claim 2^30
    // child elements while the struct child's value buffer holds 2 longs.
    // Pre-fix this reserved gigabytes in every struct child; now the
    // offsets-vs-child-evidence bound rejects it.
    val dir = Files.createTempDirectory("graft-adv3")
    val p = dir.resolve("lie.graft")
    val out = new java.io.FileOutputStream(p.toFile)
    out.write(Meta.MagicHead)
    val sink = new PageSink(out, 1 << 20, "balanced")
    val d20 = Meta.DictMeta(20, 0, sink.writeDictData(Array.empty))
    val d32 = Meta.DictMeta(32, 0, sink.writeDictData(Array.empty))
    val off = new Bytes(8); off.putInt(0); off.putInt(1 << 30)
    val offMeta = sink.writeBuffer(off.array, 8, Codec.None, 4)
    val childVals = sink.writeBuffer(new Array[Byte](16), 16, Codec.None, 8)
    val colMeta = Meta.ListMeta(None, offMeta,
      Meta.StructMeta(None, Vector(Meta.PrimitiveMeta(None, childVals))))
    val schema = StructType(Seq(StructField("a",
      ArrayType(StructType(Seq(StructField("x", LongType)))))))
    val footer = Meta.Footer(Meta.Version, sink.position, Vector(Meta.ChunkMeta(d20, d32,
      Vector(Meta.TableMeta("data", 1, schema, Vector(colMeta),
        Vector(ColStats(0, None, None)))))))
    val fb = Meta.write(footer)
    out.write(fb)
    val tail = new Bytes(12)
    tail.putLong(fb.length.toLong)
    tail.putBytes(Meta.MagicTail)
    out.write(tail.toArray)
    out.close()
    val e = intercept[OliveFormatException](
      tryOpen(Files.readAllBytes(p)))
    assert(e.getMessage.contains("offsets end"), e.getMessage)
  }

  test("lying scaled-float metadata fails cleanly") {
    // writeSample's `d` is Decimal(22,1) (Spark parses the 1.5 literal as
    // decimal) — scaling needs a genuine double column
    val dir = Files.createTempDirectory("graft-advs").toString
    spark.range(0, 500).selectExpr("id", "cast(id as double) * 1.5 AS d")
      .coalesce(1).write.format("graft").mode("append").save(dir)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".graft")).head
    val hp = new Path(f.toString)
    val fs = hp.getFileSystem(new Configuration())
    val r = GraftFileReader.open(fs, hp)
    val footer = r.footer
    r.close()
    val raw = openRaw(f)
    val chunk = footer.chunks.head
    val table = chunk.tables.head
    // the sample's `d` column (id * 1.5: clean one-decimal doubles) must
    // have taken the scaled encoding — this pins the engagement too
    val dIdx = table.schema.fieldIndex("d")
    val scaled = table.columns(dIdx) match {
      case s: Meta.ScaledMeta => s
      case other => fail(s"expected ScaledMeta for clean-decimal doubles, got $other")
    }
    def withCol(c: Meta.ColMeta): Array[Byte] = {
      val mutated = footer.copy(chunks = Vector(chunk.copy(tables = Vector(
        table.copy(columns = table.columns.updated(dIdx, c))))))
      val fb = Meta.write(mutated)
      val origLen = Bytes.le(raw).getLong(raw.length - 12)
      val tail = new Bytes(12)
      tail.putLong(fb.length.toLong)
      tail.putBytes(Meta.MagicTail)
      raw.slice(0, raw.length - 12 - origLen.toInt) ++ fb ++ tail.toArray
    }
    // exponent outside [0, 18]: rejected at footer parse
    intercept[OliveFormatException](tryOpen(withCol(scaled.copy(exponent = 19))))
    // inner encoding outside the fixed-width whitelist: rejected at parse
    intercept[OliveFormatException](tryOpen(withCol(scaled.copy(inner = scaled))))
    // inner carrying its own validity: rejected at parse (wrapper owns it)
    val innerWithValidity = scaled.inner match {
      case m: Meta.PrimitiveMeta => m.copy(validity = Some(m.values))
      case m: Meta.ForMeta => m.copy(validity = Some(m.values))
      case m: Meta.DeltaMeta => m.copy(validity = Some(m.deltas))
      case m: Meta.ReeMeta => m.copy(validity = Some(m.values))
      case m: Meta.PrimDictMeta => m.copy(validity = Some(m.indices))
      case other => fail(s"unexpected inner $other")
    }
    intercept[OliveFormatException](tryOpen(withCol(scaled.copy(inner = innerWithValidity))))
  }

  test("a >2 GiB value fails as a clean format error, not an array wrap") {
    // the guard fires on the requested length BEFORE allocating, so the
    // test exercises the real write path without needing 2 GiB of heap
    val b = new Bytes(16)
    val e = intercept[OliveFormatException](
      b.putBytes(new Array[Byte](1), 0, Int.MaxValue - 8))
    assert(e.getMessage.contains("i32-offset format limit"))
    // cumulative overflow: a second put that crosses the cap also fails
    // cleanly (len + extra evaluated in 64-bit, no int wrap)
    val c = new Bytes(16)
    c.putBytes(new Array[Byte](1024))
    intercept[OliveFormatException](c.putBytes(new Array[Byte](1), 0, Int.MaxValue - 900))
    assert(c.size == 1024) // buffer unchanged after the refused put
  }

  test("footer codec round-trips and rejects trailing bytes") {
    val f = writeSample()
    val hp = new Path(f.toString)
    val fs = hp.getFileSystem(new Configuration())
    val r = GraftFileReader.open(fs, hp)
    val footer = r.footer
    r.close()
    val bytes = Meta.write(footer)
    val again = Meta.read(bytes)
    assert(again == footer)
    intercept[OliveFormatException](Meta.read(bytes ++ Array[Byte](0)))
    intercept[OliveFormatException](Meta.read(bytes.dropRight(1)))
  }
}
