package graft.format

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.operators.FormatOps
import graft.sources.GraftDataSource

/** File-granular copy-on-write DML: a small upsert/delete rewrites only
  * the files that can hold touched rows and carries the rest by
  * reference in the generation's `.carry` manifest — the property that
  * makes a 1-row MERGE O(touched files), not O(table), at 100 TB. */
class SelectiveRewriteSpec extends SparkSpec {
  private val conf = new Configuration()

  /** (rootRelativePath → (size, mtime)) for every live data file. */
  private def fileState(dir: String): Map[String, (Long, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    GraftDataSource.listFiles(conf, dir).map { p =>
      val st = fs.getFileStatus(p)
      GraftDataSource.relativePath(root, p) -> (st.getLen, st.getModificationTime)
    }.toMap
  }

  private def writeRangeClustered(dir: String, rows: Long = 8000, files: Int = 8): Unit = {
    // range-clustered on id so per-file zone maps cover disjoint ranges —
    // what a time/key-clustered 100 TB table looks like
    spark.range(0, rows).selectExpr("id", "id % 7 AS v", "CAST(id AS STRING) AS s")
      .repartitionByRange(files, col("id"))
      .write.format("graft").mode("overwrite").save(dir)
  }

  test("upsert touching one key range rewrites one file, carries the rest byte-identical") {
    val dir = Files.createTempDirectory("graft-selective-upsert").toString
    writeRangeClustered(dir)
    val before = fileState(dir)
    assert(before.size == 8)
    import spark.implicits._
    val batch = Seq((5L, 999L, "patched")).toDF("id", "v", "s")
    FormatOps.upsert(spark, dir, "data", batch, Seq("id"))
    // live view correct
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 8000)
    assert(live.filter(col("id") === 5).select("v").as[Long].head() == 999L)
    // the new generation carries at least 7 of the 8 original files
    val liveGen = GraftDataSource.readGenPointer(conf, dir).get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, liveGen))
    assert(carried.size >= 7, s"expected >=7 carried files, got ${carried.size}")
    // carried files are the ORIGINAL files: same path, size, mtime
    carried.foreach { case (rel, size) =>
      val (sz, mt) = before.getOrElse(rel, fail(s"carried $rel not in pre-DML state"))
      assert(sz == size, s"$rel size drifted")
      val st = new Path(dir).getFileSystem(conf).getFileStatus(new Path(dir, rel))
      assert(st.getModificationTime == mt, s"$rel was rewritten, not carried")
    }
  }

  test("delete with a range predicate prunes to the overlapping files only") {
    val dir = Files.createTempDirectory("graft-selective-delete").toString
    writeRangeClustered(dir)
    val before = fileState(dir)
    FormatOps.deleteWhere(spark, dir, "data", col("id") < 100)
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 7900)
    assert(live.agg(min("id")).head().getLong(0) == 100L)
    val liveGen = GraftDataSource.readGenPointer(conf, dir).get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, liveGen))
    assert(carried.size >= 7)
    carried.foreach { case (rel, _) => assert(before.contains(rel)) }
  }

  test("delete on a STRUCT-FIELD predicate prunes files via nested zone maps") {
    val dir = Files.createTempDirectory("graft-selective-nested").toString
    // the q51 multimodal shape, range-clustered on the struct leaf
    spark.range(0, 8000)
      .selectExpr("id",
        "named_struct('source', concat('s', CAST(id % 5 AS STRING)), 'w', CAST(id AS INT)) AS meta")
      .repartitionByRange(8, col("id"))
      .write.format("graft").mode("overwrite").save(dir)
    val before = fileState(dir)
    assert(before.size == 8)
    // meta.w < 100 lives in ONE file's leaf range
    FormatOps.deleteWhere(spark, dir, "data", col("meta.w") < 100)
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 7900)
    assert(live.agg(min(col("meta.w"))).head().getInt(0) == 100)
    val liveGen = GraftDataSource.readGenPointer(conf, dir).get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, liveGen))
    assert(carried.size >= 7,
      s"nested-leaf prune should carry >=7 of 8 files, got ${carried.size}")
    carried.foreach { case (rel, _) => assert(before.contains(rel)) }
    // a SECOND nested-predicate DML classifies the carried files from
    // the manifest's nested stats (zero footer I/O for them) — prune
    // must hold through the statsToJson/statsFromJson round-trip
    FormatOps.deleteWhere(spark, dir, "data", col("meta.w") >= 7900)
    val live2 = spark.read.format("graft").load(dir)
    assert(live2.count() == 7800)
    val gen2 = GraftDataSource.readGenPointer(conf, dir).get
    val carried2 = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, gen2))
    assert(carried2.size >= 7,
      s"manifest-carried nested stats should keep pruning, got ${carried2.size}")
  }

  test("delete on a DEPTH-2 struct predicate prunes files via nested zone maps") {
    val dir = Files.createTempDirectory("graft-selective-deep").toString
    spark.range(0, 8000)
      .selectExpr("id",
        "named_struct('inner', named_struct('w', CAST(id AS INT)), " +
          "'src', concat('s', id % 5)) AS meta")
      .repartitionByRange(8, col("id"))
      .write.format("graft").mode("overwrite").save(dir)
    val before = fileState(dir)
    assert(before.size == 8)
    FormatOps.deleteWhere(spark, dir, "data", col("meta.inner.w") < 100)
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 7900)
    assert(live.agg(min(col("meta.inner.w"))).head().getInt(0) == 100)
    val liveGen = GraftDataSource.readGenPointer(conf, dir).get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, liveGen))
    assert(carried.size >= 7,
      s"depth-2 leaf prune should carry >=7 of 8 files, got ${carried.size}")
  }

  test("a provably no-op delete creates no generation at all") {
    val dir = Files.createTempDirectory("graft-selective-noop").toString
    writeRangeClustered(dir)
    FormatOps.deleteWhere(spark, dir, "data", col("id") === -999)
    assert(GraftDataSource.readGenPointer(conf, dir).isEmpty,
      "no-op DML must not create a generation")
    assert(spark.read.format("graft").load(dir).count() == 8000)
  }

  test("sweep honors carry references; partially-swept generation refuses time travel") {
    val dir = Files.createTempDirectory("graft-selective-sweep").toString
    writeRangeClustered(dir)
    // gen-1: full physical rewrite
    FormatOps.compact(spark, dir, targetFiles = 8)
    import spark.implicits._
    spark.conf.set("spark.graft.graceMs", "0")
    try {
      // gen-2 carries most of gen-1; entry sweep (grace 0) reclaims the
      // pre-compaction loose files
      FormatOps.upsert(spark, dir, "data",
        Seq((7L, 111L, "a")).toDF("id", "v", "s"), Seq("id"))
      // gen-3 carries most of gen-2's view; its entry sweep hits gen-1,
      // whose carried files MUST survive (gen-2 still references them
      // until it is itself reclaimed... and gen-2 is below the new live
      // too — both partially swept, live files all pinned transitively)
      FormatOps.upsert(spark, dir, "data",
        Seq((4001L, 222L, "b")).toDF("id", "v", "s"), Seq("id"))
      val live = spark.read.format("graft").load(dir)
      assert(live.count() == 8000)
      assert(live.filter(col("id") === 7).select("v").as[Long].head() == 111L)
      assert(live.filter(col("id") === 4001).select("v").as[Long].head() == 222L)
      // one more fold, then prove the whole view still reads correctly
      FormatOps.deleteWhere(spark, dir, "data", col("id") >= 7000)
      val after = spark.read.format("graft").load(dir)
      assert(after.count() == 7000)
      assert(after.filter(col("id") === 7).select("v").as[Long].head() == 111L)
      // gen-1 lost its unreferenced files after its grace lapsed: time
      // travel to it must fail LOUDLY, never serve partial rows
      val fs = new Path(dir).getFileSystem(conf)
      val gen1SwapTs = new Path(new Path(dir, "gen-00001"), GraftDataSource.SwapTsName)
      if (!fs.exists(gen1SwapTs)) {
        val e = intercept[Exception] {
          spark.read.format("graft").option("generation", "1").load(dir).count()
        }
        assert(e.getMessage.contains("no longer a complete snapshot") ||
          e.getMessage.contains("not present"), e.getMessage)
      }
    } finally spark.conf.unset("spark.graft.graceMs")
  }

  test("bucketed layout survives a selective upsert (claim intact, data correct)") {
    val dir = Files.createTempDirectory("graft-selective-bucket").toString
    spark.range(0, 4000).selectExpr("id", "id % 5 AS v")
      .write.format("graft").option("bucketBy", "id:4")
      .mode("overwrite").save(dir)
    import spark.implicits._
    FormatOps.upsert(spark, dir, "data", Seq((17L, 99L)).toDF("id", "v"), Seq("id"))
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 4000)
    assert(live.filter(col("id") === 17).select("v").as[Long].head() == 99L)
    // the bucket marker must have been carried into the new generation
    assert(GraftDataSource.readBucketMarker(conf, dir, "data").isDefined,
      "bucket layout lost by selective rewrite")
  }

  test("racing readers vs selective upserts at grace 0: never wrong rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-selective-race").toString
    // conserved invariant: sum(v) stays 0 — every upsert rewrites one
    // key's v to a new value and another's to its negation
    spark.range(0, 8000).selectExpr("id", "CAST(0 AS BIGINT) AS v")
      .repartitionByRange(8, col("id"))
      .write.format("graft").mode("overwrite").save(dir)
    @volatile var wrong: Option[String] = None
    @volatile var stop = false
    val clean = new java.util.concurrent.atomic.AtomicLong
    val readers = (1 to 2).map { _ =>
      new Thread(() => {
        while (!stop && wrong.isEmpty) {
          try {
            val row = spark.read.format("graft").load(dir)
              .agg(count(lit(1)), sum(col("v"))).head()
            val (n, sv) = (row.getLong(0), row.getLong(1))
            if (n != 8000 || sv != 0L)
              wrong = Some(s"reader saw n=$n sum(v)=$sv (want 8000/0)")
          } catch { case _: Exception => clean.incrementAndGet() }
        }
      })
    }
    spark.conf.set("spark.graft.graceMs", "0")
    readers.foreach(_.start())
    try {
      (1 to 6).foreach { i =>
        // touches two distant key ranges -> two candidate files, six carried
        FormatOps.upsert(spark, dir, "data",
          Seq((i.toLong, i * 100L), (7000L + i, -i * 100L)).toDF("id", "v"),
          Seq("id"))
      }
    } finally {
      stop = true
      readers.foreach(_.join(30000))
      spark.conf.unset("spark.graft.graceMs")
    }
    assert(wrong.isEmpty, wrong.getOrElse(""))
    // final state: conserved and exact
    val fin = spark.read.format("graft").load(dir)
    assert(fin.count() == 8000)
    assert(fin.agg(sum("v")).head().getLong(0) == 0L)
    assert(fin.filter(col("id") === 6).select("v").as[Long].head() == 600L)
  }

  test("a 5000-key scattered fold still carries untouched files byte-identical") {
    // the >1000-key regression: the old capped IN-list collect silently
    // degraded large CDC batches to an UNPRUNED rewrite; the unbounded
    // InKeyRange summary must keep the fold file-granular at any batch size
    val dir = Files.createTempDirectory("graft-selective-bigbatch").toString
    spark.range(0, 16000).selectExpr("id", "id % 7 AS v", "CAST(id AS STRING) AS s")
      .repartitionByRange(16, col("id"))
      .write.format("graft").mode("overwrite").save(dir)
    val before = fileState(dir)
    assert(before.size == 16)
    // 5000 distinct keys scattered over [0, 5000): five files' ranges,
    // none of the other eleven
    val batch = spark.range(0, 5000)
      .selectExpr("id", "CAST(-1 AS BIGINT) AS v", "'patched' AS s")
    FormatOps.upsert(spark, dir, "data", batch, Seq("id"))
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 16000)
    assert(live.filter(col("v") === -1).count() == 5000)
    assert(live.filter(col("id") >= 5000 && col("v") === -1).count() == 0)
    val liveGen = GraftDataSource.readGenPointer(conf, dir).get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, liveGen))
    // 11 of 16 ranges are disjoint from the batch, minus at most one
    // whose sampled repartitionByRange boundary genuinely straddles 5000
    assert(carried.size >= 10, s"want >=10 of 16 files carried, got ${carried.size}")
    carried.foreach { case (rel, size) =>
      val (sz, mt) = before.getOrElse(rel, fail(s"carried $rel not in pre-DML state"))
      assert(sz == size, s"$rel size drifted")
      val st = new Path(dir).getFileSystem(conf).getFileStatus(new Path(dir, rel))
      assert(st.getModificationTime == mt, s"$rel was rewritten, not carried")
    }
  }

  test("InKeyRange summary: intersection answers and non-integral fallback") {
    import spark.implicits._
    val kr = Stats.InKeyRange.of(
      Seq(10L, 500L, 99999L).toDF("k")).get
    assert(kr.mightIntersect(0L, 10L))       // boundary hit
    assert(kr.mightIntersect(400L, 600L))    // interior hit
    assert(kr.mightIntersect(99999L, 99999L))
    assert(!kr.mightIntersect(Long.MinValue, 9L), "below-base range must miss")
    assert(!kr.mightIntersect(100000L, Long.MaxValue), "above-max range must miss")
    // narrow span -> bucketWidth 1: gaps between keys resolve exactly
    val fine = Stats.InKeyRange.of(Seq(10L, 500L).toDF("k")).get
    assert(fine.bucketWidth == 1L)
    assert(!fine.mightIntersect(11L, 499L), "gap between keys must miss")
    assert(fine.mightIntersect(500L, 777L))
    // empty key set: provably disjoint from everything
    val empty = Stats.InKeyRange.of(Seq.empty[Long].toDF("k")).get
    assert(empty.empty && !empty.mightIntersect(Long.MinValue, Long.MaxValue))
    // string key column: no i64 summary (callers use KeyBytesRange)
    assert(Stats.InKeyRange.of(Seq("a", "b").toDF("k")).isEmpty)
    // decimal p<=18 keys summarize over UNSCALED values at the batch's
    // scale, and the summary only applies to columns of that exact scale
    val dec = Stats.InKeyRange.of(
      Seq(BigDecimal("12.34"), BigDecimal("56.78"))
        .toDF("k").select(col("k").cast("decimal(10,2)").as("k"))).get
    assert(dec.decimalScale == 2)
    assert(dec.mightIntersect(1234L, 1234L) && !dec.mightIntersect(1235L, 5677L))
    // date keys bucket over epoch DAYS — the zone maps' own encoding
    val dk = Stats.InKeyRange.of(
      Seq(java.sql.Date.valueOf("2020-01-10")).toDF("k")).get
    val day = java.time.LocalDate.parse("2020-01-10").toEpochDay
    assert(dk.mightIntersect(day, day) && !dk.mightIntersect(day + 1, day + 400))
    // timestamp keys bucket over epoch MICROS (a seconds cast would
    // silently mis-prune by a factor of 10^6)
    val ts = java.sql.Timestamp.valueOf("2020-01-10 12:00:00")
    val tk = Stats.InKeyRange.of(Seq(ts).toDF("k")).get
    val micros = ts.getTime * 1000L
    assert(tk.mightIntersect(micros, micros))
    assert(!tk.mightIntersect(micros + 1000000L, micros + 2000000L))
    // wide span: bucketed coarsely but never wrong
    val wide = Stats.InKeyRange.of(Seq(Long.MinValue, 0L, Long.MaxValue).toDF("k")).get
    assert(wide.mightIntersect(-5L, 5L))
    assert(wide.mightIntersect(Long.MaxValue - 1, Long.MaxValue))
  }

  test("a 5000-key STRING fold carries untouched files byte-identical") {
    // the string twin of the scattered-fold case above: past the
    // In-list cap, string key columns summarize to a KeyBytesRange
    // (unsigned-lex min/max) instead of degrading to an unpruned rewrite
    val dir = Files.createTempDirectory("graft-selective-strkeys").toString
    // zero-padded keys cluster lexicographically like numerically
    spark.range(0, 16000)
      .selectExpr("format_string('k%08d', id) AS sk", "id % 7 AS v")
      .repartitionByRange(16, col("sk"))
      .write.format("graft").mode("overwrite").save(dir)
    val before = fileState(dir)
    assert(before.size == 16)
    val batch = spark.range(0, 5000)
      .selectExpr("format_string('k%08d', id) AS sk", "CAST(-1 AS BIGINT) AS v")
    FormatOps.upsert(spark, dir, "data", batch, Seq("sk"))
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 16000)
    assert(live.filter(col("v") === -1).count() == 5000)
    assert(live.filter(col("sk") >= "k00005000" && col("v") === -1).count() == 0)
    val liveGen = GraftDataSource.readGenPointer(conf, dir).get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, liveGen))
    assert(carried.size >= 10, s"want >=10 of 16 files carried, got ${carried.size}")
    carried.foreach { case (rel, size) =>
      val (sz, mt) = before.getOrElse(rel, fail(s"carried $rel not in pre-DML state"))
      assert(sz == size, s"$rel size drifted")
      val st = new Path(dir).getFileSystem(conf).getFileStatus(new Path(dir, rel))
      assert(st.getModificationTime == mt, s"$rel was rewritten, not carried")
    }
  }

  test("a 5000-key DECIMAL(38) fold carries untouched files byte-identical") {
    // wide-decimal twin of the scattered/string fold cases: past the
    // In-list cap, DECIMAL(38) key columns summarize to a KeyDecimalRange
    // (unscaled min/max at the batch's scale) instead of degrading to an
    // unpruned full rewrite. Key values are beyond i64 so only the
    // 16-byte stat path can prune them.
    val dir = Files.createTempDirectory("graft-selective-deckeys").toString
    val big = "CAST(CAST(id AS DECIMAL(18,0)) * CAST('100000000000000000000' AS DECIMAL(21,0)) AS DECIMAL(38,0))"
    spark.range(0, 16000)
      .selectExpr(s"$big AS dk", "id % 7 AS v")
      .repartitionByRange(16, col("dk"))
      .write.format("graft").mode("overwrite").save(dir)
    val before = fileState(dir)
    assert(before.size == 16)
    val batch = spark.range(0, 5000)
      .selectExpr(s"$big AS dk", "CAST(-1 AS BIGINT) AS v")
    FormatOps.upsert(spark, dir, "data", batch, Seq("dk"))
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 16000)
    assert(live.filter(col("v") === -1).count() == 5000)
    val liveGen = GraftDataSource.readGenPointer(conf, dir).get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, liveGen))
    assert(carried.size >= 10, s"want >=10 of 16 files carried, got ${carried.size}")
    carried.foreach { case (rel, size) =>
      val (sz, mt) = before.getOrElse(rel, fail(s"carried $rel not in pre-DML state"))
      assert(sz == size, s"$rel size drifted")
      val st = new Path(dir).getFileSystem(conf).getFileStatus(new Path(dir, rel))
      assert(st.getModificationTime == mt, s"$rel was rewritten, not carried")
    }
  }

  test("KeyDecimalRange: builder answers and canSkipChunkPrune soundness") {
    import spark.implicits._
    def dec38(s: String) = col("k").cast("decimal(38,4)").as("k")
    val kd = Stats.KeyDecimalRange.of(
      Seq("200000000000000000000.5", "-1.25", "7.0").toDF("k").select(dec38("k"))).get
    assert(kd.scale == 4 && !kd.empty)
    def big(s: String) = new java.math.BigDecimal(s)
    assert(new java.math.BigDecimal(new java.math.BigInteger(kd.lo), 4)
      .compareTo(big("-1.25")) == 0)
    assert(new java.math.BigDecimal(new java.math.BigInteger(kd.hi), 4)
      .compareTo(big("200000000000000000000.5")) == 0)
    // empty key set: provably disjoint from everything
    assert(Stats.KeyDecimalRange.of(
      Seq.empty[String].toDF("k").select(dec38("k"))).get.empty)
    // narrow decimals take InKeyRange's bitmap, not this summary
    assert(Stats.KeyDecimalRange.of(
      Seq(BigDecimal("1.5")).toDF("k").select(col("k").cast("decimal(10,2)").as("k"))).isEmpty)
    assert(Stats.KeyDecimalRange.of(Seq(1L).toDF("k")).isEmpty)

    // soundness against real chunk stats
    val dir = Files.createTempDirectory("graft-kdr").toString
    Seq("100000000000000000000.0000", "300000000000000000000.0000")
      .toDF("k").select(col("k").cast("decimal(38,4)").as("m"))
      .coalesce(1).write.format("graft").mode("overwrite").save(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head
    val hp = new Path(file.toString)
    val r = GraftFileReader.open(hp.getFileSystem(new Configuration()), hp)
    val t = try r.footer.chunks.head.tables.head finally r.close()
    def summaryOf(vals: String*) = Stats.KeyDecimalRange.of(
      vals.toDF("k").select(col("k").cast("decimal(38,4)").as("m"))).get
    assert(!Stats.canSkipChunkPrune(summaryOf("200000000000000000000.0"), t),
      "key inside the chunk range must keep")
    assert(Stats.canSkipChunkPrune(summaryOf("999000000000000000000.0"), t),
      "key above the chunk range must skip")
    assert(Stats.canSkipChunkPrune(summaryOf("-5.0"), t),
      "key below the chunk range must skip")
    // scale mismatch: unscaled values incomparable — must refuse to prune
    val wrongScale = Stats.KeyDecimalRange.of(
      Seq("999000000000000000000.0").toDF("k")
        .select(col("k").cast("decimal(38,6)").as("m"))).get
    assert(wrongScale.scale == 6)
    assert(!Stats.canSkipChunkPrune(wrongScale, t))
  }

  test("KeyBytesRange: builder answers and canSkipChunkPrune soundness") {
    import spark.implicits._
    val kb = Stats.KeyBytesRange.of(Seq("banana", "apple", "cherry").toDF("k")).get
    assert(new String(kb.lo, "UTF-8") == "apple" && new String(kb.hi, "UTF-8") == "cherry")
    // empty set: provably disjoint from everything
    val empty = Stats.KeyBytesRange.of(Seq.empty[String].toDF("k")).get
    assert(empty.empty)
    // non-string columns: no summary
    assert(Stats.KeyBytesRange.of(Seq(1L, 2L).toDF("k")).isEmpty)
    // soundness against real chunk stats: write one string-keyed file,
    // read its footer stats, and check skip answers both ways
    val dir = Files.createTempDirectory("graft-kbr").toString
    Seq(("mmm", 1L), ("nnn", 2L), ("ooo", 3L)).toDF("sk", "v")
      .coalesce(1).write.format("graft").mode("overwrite").save(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head
    val hp = new Path(file.toString)
    val r = GraftFileReader.open(hp.getFileSystem(new Configuration()), hp)
    val t = try r.footer.chunks.head.tables.head finally r.close()
    val inside = Stats.KeyBytesRange("sk",
      "na".getBytes("UTF-8"), "nz".getBytes("UTF-8"), empty = false)
    assert(!Stats.canSkipChunkPrune(inside, t), "range overlapping [mmm,ooo] must keep")
    val below = Stats.KeyBytesRange("sk",
      "aaa".getBytes("UTF-8"), "bbb".getBytes("UTF-8"), empty = false)
    assert(Stats.canSkipChunkPrune(below, t), "range below min must skip")
    val above = Stats.KeyBytesRange("sk",
      "ppp".getBytes("UTF-8"), "zzz".getBytes("UTF-8"), empty = false)
    assert(Stats.canSkipChunkPrune(above, t), "range above max must skip")
    // boundary containment: exact min and exact max both keep
    val atMin = Stats.KeyBytesRange("sk",
      "mmm".getBytes("UTF-8"), "mmm".getBytes("UTF-8"), empty = false)
    assert(!Stats.canSkipChunkPrune(atMin, t))
  }

  test("one-pass keyPrune: IN-lists under the cap, typed summaries past it") {
    import spark.implicits._
    // small integral batch -> exact IN-list
    Stats.keyPrune(Seq(1L, 2L, 2L, 3L).toDF("k")) match {
      case Some(Stats.FilterPrune(org.apache.spark.sql.sources.In("k", vs))) =>
        assert(vs.map(_.asInstanceOf[Long]).sorted.toSeq == Seq(1L, 2L, 3L))
      case other => fail(s"want IN-list, got $other")
    }
    // nulls match no target row: excluded from the list
    Stats.keyPrune(Seq[java.lang.Long](5L, null).toDF("k")) match {
      case Some(Stats.FilterPrune(org.apache.spark.sql.sources.In("k", vs))) =>
        assert(vs.toSeq == Seq(5L))
      case other => fail(s"want IN-list, got $other")
    }
    // empty batch -> empty IN-list (provable skip-everything)
    Stats.keyPrune(Seq.empty[Long].toDF("k")) match {
      case Some(Stats.FilterPrune(org.apache.spark.sql.sources.In("k", vs))) =>
        assert(vs.isEmpty)
      case other => fail(s"want empty IN-list, got $other")
    }
    // small STRING batch: IN-list literals are raw bytes
    Stats.keyPrune(Seq("ab", "cd").toDF("k")) match {
      case Some(Stats.FilterPrune(org.apache.spark.sql.sources.In("k", vs))) =>
        assert(vs.map(_.asInstanceOf[Array[Byte]].toSeq).toSet ==
          Set("ab".getBytes.toSeq, "cd".getBytes.toSeq))
      case other => fail(s"want byte IN-list, got $other")
    }
    // over the cap: integral -> InKeyRange with the same bounds of(
    // would compute; string -> KeyBytesRange; wide decimal -> KeyDecimalRange
    val bigLongs = spark.range(0, 3000).selectExpr("id * 7 AS k")
    Stats.keyPrune(bigLongs) match {
      case Some(kr: Stats.InKeyRange) =>
        assert(kr.base == 0L && kr.maxKey == 2999L * 7)
        assert(kr.mightIntersect(7L, 7L) && !kr.mightIntersect(21000L, 22000L))
      case other => fail(s"want InKeyRange, got $other")
    }
    val bigStrs = spark.range(0, 3000).selectExpr("format_string('s%08d', id) AS k")
    Stats.keyPrune(bigStrs) match {
      case Some(kb: Stats.KeyBytesRange) =>
        assert(new String(kb.lo, "UTF-8") == "s00000000")
        assert(new String(kb.hi, "UTF-8") == "s00002999")
      case other => fail(s"want KeyBytesRange, got $other")
    }
    val bigDecs = spark.range(0, 3000).selectExpr(
      "CAST(CAST(id AS DECIMAL(18,0)) * CAST('100000000000000000000' AS DECIMAL(21,0)) AS DECIMAL(38,0)) AS k")
    Stats.keyPrune(bigDecs) match {
      case Some(kd: Stats.KeyDecimalRange) =>
        assert(new java.math.BigDecimal(new java.math.BigInteger(kd.hi), 0)
          .compareTo(new java.math.BigDecimal("2999").multiply(
            new java.math.BigDecimal("100000000000000000000"))) == 0)
      case other => fail(s"want KeyDecimalRange, got $other")
    }
    // unsummarizable type over the cap: no prune, never a wrong one
    val bigDoubles = spark.range(0, 3000).selectExpr("CAST(id AS DOUBLE) / 3 AS k")
    assert(Stats.keyPrune(bigDoubles).isEmpty)
  }

  test("invalid-UTF-8 string keys: the IN-list prune never proves a wrong skip") {
    import spark.implicits._
    // a chunk whose string key is NOT valid UTF-8 (written via a binary
    // cast). A String-collected IN-list would hold U+FFFD-corrupted
    // literals that compare ABOVE the chunk's true max and wrongly skip
    // the file — its row would then survive the fold.
    val dir = Files.createTempDirectory("graft-badutf-fold").toString
    val raw = Array[Byte]('k'.toByte, 0xFF.toByte, 0x01)
    Seq((raw, 1L)).toDF("b", "v")
      .select(col("b").cast("string").as("sk"), col("v"))
      .coalesce(1).write.format("graft").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 1)
    // the prune literal is byte-exact
    val prune = Stats.keyPrune(
      Seq(raw).toDF("b").select(col("b").cast("string").as("sk"))).get
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head
    val hp = new Path(file.toString)
    val r = GraftFileReader.open(hp.getFileSystem(new Configuration()), hp)
    val t = try r.footer.chunks.head.tables.head finally r.close()
    assert(!Stats.canSkipChunkPrune(prune, t),
      "the file holding the key must NOT be skipped")
    // end-to-end: the delete-by-upsert path really removes the row
    val batch = Seq((raw, -1L)).toDF("b", "v")
      .select(col("b").cast("string").as("sk"), col("v"))
    FormatOps.upsert(spark, dir, "data", batch, Seq("sk"))
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 1 && live.select("v").head.getLong(0) == -1L,
      "the invalid-UTF-8-keyed row must have been replaced, not carried")
  }

  test("KeyBytesRange is byte-exact for invalid-UTF-8 string keys") {
    import spark.implicits._
    // 0xFF can appear in NO valid UTF-8 sequence; such bytes reach string
    // data via a binary->string cast. A java.lang.String round-trip
    // (getString.getBytes) would substitute U+FFFD (ef bf bd) and the
    // summary's bounds would no longer bound the true key byte range —
    // a DELETE could then skip a chunk that still holds a removed key.
    val raw = Seq(Array[Byte](0x61, 0xFF.toByte, 0x01),
      Array[Byte](0x7A, 0xFE.toByte))
    val df = raw.toDF("b").select(col("b").cast("string").as("k"))
    val kb = Stats.KeyBytesRange.of(df).get
    assert(kb.lo.toSeq == Seq[Byte](0x61, 0xFF.toByte, 0x01),
      s"lo must be the raw bytes, got ${kb.lo.toSeq}")
    assert(kb.hi.toSeq == Seq[Byte](0x7A, 0xFE.toByte),
      s"hi must be the raw bytes, got ${kb.hi.toSeq}")
  }

  test("decimal InKeyRange mutates no session function registry state") {
    import spark.implicits._
    // a user's own function named graft_unscaled must survive DML
    // planning (the summary used to createOrReplaceTempFunction that
    // name as a hidden side effect)
    spark.udf.register("graft_unscaled", (x: Long) => x + 1)
    try {
      val dec = Stats.InKeyRange.of(
        Seq(BigDecimal("12.34"), BigDecimal("-56.78")).toDF("k")
          .select(col("k").cast("decimal(10,2)").as("k"))).get
      // unscaled projection still exact, negatives included
      assert(dec.mightIntersect(1234L, 1234L))
      assert(dec.mightIntersect(-5678L, -5678L))
      assert(!dec.mightIntersect(-5677L, 1233L))
      assert(spark.sql("SELECT graft_unscaled(1)").head.getLong(0) == 2L,
        "user function was clobbered by DML planning")
    } finally spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_unscaled"))
    // max-precision boundary: p=18, s=18 exercises the widest exact
    // decimal multiply (result precision 38)
    val tiny = Stats.InKeyRange.of(
      Seq(BigDecimal("0.123456789012345678")).toDF("k")
        .select(col("k").cast("decimal(18,18)").as("k"))).get
    assert(tiny.mightIntersect(123456789012345678L, 123456789012345678L))
    assert(!tiny.mightIntersect(123456789012345679L, Long.MaxValue))
  }

  test("decimal InKeyRange prunes real chunks; scale mismatch never prunes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-decprune").toString
    Seq(BigDecimal("100.00"), BigDecimal("200.00"), BigDecimal("300.00"))
      .toDF("m").select(col("m").cast("decimal(10,2)").as("m"))
      .coalesce(1).write.format("graft").mode("overwrite").save(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).head
    val hp = new Path(file.toString)
    val r = GraftFileReader.open(hp.getFileSystem(new Configuration()), hp)
    val t = try r.footer.chunks.head.tables.head finally r.close()
    // chunk holds unscaled [10000, 30000] at scale 2
    val hit = Stats.InKeyRange.of(
      Seq(BigDecimal("200.00")).toDF("k")
        .select(col("k").cast("decimal(10,2)").as("m"))).get
    assert(!Stats.canSkipChunkPrune(hit, t), "key inside the chunk range must keep")
    val miss = Stats.InKeyRange.of(
      Seq(BigDecimal("999.99")).toDF("k")
        .select(col("k").cast("decimal(10,2)").as("m"))).get
    assert(Stats.canSkipChunkPrune(miss, t), "key outside the chunk range must skip")
    // a batch at scale 3 would compare unscaled 200000 against stats at
    // scale 2 — incomparable i64s; the prune must refuse, never misfire
    val wrongScale = Stats.InKeyRange.of(
      Seq(BigDecimal("999.999")).toDF("k")
        .select(col("k").cast("decimal(10,3)").as("m"))).get
    assert(wrongScale.decimalScale == 3)
    assert(!Stats.canSkipChunkPrune(wrongScale, t),
      "scale mismatch: summary must not apply")
    // and the plain-integral summary never applies to decimal columns
    val intKr = Stats.InKeyRange.of(Seq(999999L).toDF("m")).get
    assert(!Stats.canSkipChunkPrune(intKr, t))
  }

  test("an EMPTY upsert batch carries every file; nothing is rewritten") {
    val dir = Files.createTempDirectory("graft-selective-empty").toString
    writeRangeClustered(dir)
    val before = fileState(dir)
    import spark.implicits._
    // empty CDC batch: In(key, []) proves every file skippable — the
    // no-op fold must not degrade to a full-table rewrite
    FormatOps.upsert(spark, dir, "data",
      Seq.empty[(Long, Long, String)].toDF("id", "v", "s"), Seq("id"))
    assert(spark.read.format("graft").load(dir).count() == 8000)
    val liveGen = GraftDataSource.readGenPointer(conf, dir).get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, liveGen))
    assert(carried.size == 8, s"want all 8 files carried, got ${carried.size}")
    carried.foreach { case (rel, _) =>
      val (_, mt) = before(rel)
      val st = new Path(dir).getFileSystem(conf).getFileStatus(new Path(dir, rel))
      assert(st.getModificationTime == mt, s"$rel was rewritten for a no-op batch")
    }
  }

  test("sibling tables in a namespace dir are carried, never copied") {
    val dir = Files.createTempDirectory("graft-selective-ns").toString
    spark.range(0, 1000).selectExpr("id", "id % 3 AS a")
      .write.format("graft").option("table", "t1").mode("append").save(dir)
    spark.range(0, 500).selectExpr("id", "id % 4 AS b")
      .write.format("graft").option("table", "t2").mode("append").save(dir)
    val before = fileState(dir)
    FormatOps.deleteWhere(spark, dir, "t1", col("id") < 10)
    assert(spark.read.format("graft").option("table", "t1").load(dir).count() == 990)
    assert(spark.read.format("graft").option("table", "t2").load(dir).count() == 500)
    val liveGen = GraftDataSource.readGenPointer(conf, dir).get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, liveGen))
    // every t2 file carried by reference at its original path
    assert(carried.nonEmpty)
    carried.foreach { case (rel, _) => assert(before.contains(rel)) }
  }
}
