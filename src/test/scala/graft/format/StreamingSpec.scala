package graft.format

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** graft as a Structured Streaming source and sink. */
class StreamingSpec extends SparkSpec {

  test("graft micro-batch source discovers files across batches") {
    val dir = Files.createTempDirectory("graft-src").toString
    val ck = Files.createTempDirectory("graft-src-ck").toString
    spark.range(0, 100).selectExpr("id", "id * 2 AS y")
      .coalesce(1).write.format("graft").mode("append").save(dir)

    val stream = spark.readStream.format("graft").load(dir)
    val q = stream.writeStream.format("memory").queryName("graft_src_test")
      .option("checkpointLocation", ck).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_src_test").count() == 100)
      // second batch: new file appears, only its rows are appended
      spark.range(100, 150).selectExpr("id", "id * 2 AS y")
        .coalesce(1).write.format("graft").mode("append").save(dir)
      q.processAllAvailable()
      val got = spark.table("graft_src_test")
      assert(got.count() == 150)
      assert(got.agg(sum("id")).head.getLong(0) == (0 until 150).map(_.toLong).sum)
    } finally q.stop()
  }

  test("startingOffsets=latest skips existing files; restart resumes from checkpoint") {
    val dir = Files.createTempDirectory("graft-latest").toString
    val ck = Files.createTempDirectory("graft-latest-ck").toString
    // 100 rows of history that a latest-attaching consumer must NOT replay
    spark.range(0, 100).selectExpr("id")
      .coalesce(1).write.format("graft").mode("append").save(dir)
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def startCollector() = spark.readStream.format("graft")
      .option("startingOffsets", "latest").load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => collected.add(r.getLong(0))); ()
      }.start()
    val q = startCollector()
    try {
      q.processAllAvailable()
      assert(collected.isEmpty, "latest must not replay pre-existing files")
      spark.range(100, 120).selectExpr("id")
        .coalesce(1).write.format("graft").mode("append").save(dir)
      q.processAllAvailable()
      assert(collected.asScala.toSeq.sorted == (100L until 120L))
    } finally q.stop()
    // restart on the same checkpoint: committed offsets win over the
    // starting position — nothing replays, new files still arrive
    spark.range(120, 130).selectExpr("id")
      .coalesce(1).write.format("graft").mode("append").save(dir)
    val q2 = startCollector()
    try {
      q2.processAllAvailable()
      assert(collected.asScala.toSeq.sorted == (100L until 130L),
        "restart must deliver exactly the new files, no replay, no loss")
    } finally q2.stop()
    intercept[Exception] {
      spark.readStream.format("graft").option("startingOffsets", "bogus")
        .load(dir).writeStream.format("memory").queryName("graft_latest_bad")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-bad-ck").toString)
        .start().processAllAvailable()
    }
  }

  test("Trigger.AvailableNow drains the backlog, stops, and resumes exactly-once") {
    // the batch-job-over-a-stream shape users actually run on a
    // schedule: AvailableNow must drain everything present, terminate,
    // and a later run must deliver ONLY what arrived in between
    val dir = Files.createTempDirectory("graft-avnow").toString
    val ck = Files.createTempDirectory("graft-avnow-ck").toString
    val out = Files.createTempDirectory("graft-avnow-out").toString + "/t"
    spark.range(0, 25).selectExpr("id")
      .repartition(3).write.format("graft").mode("append").save(dir)
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "2") // several bounded batches per run
        .load(dir)
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ck).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    }
    runOnce()
    assert(spark.read.format("graft").load(out).count() == 25)
    spark.range(25, 40).selectExpr("id")
      .repartition(2).write.format("graft").mode("append").save(dir)
    runOnce()
    val got = spark.read.format("graft").load(out)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 40L), s"resume must add exactly the new rows: ${got.length}")
  }

  test("source reports backlog metrics in query progress") {
    val dir = Files.createTempDirectory("graft-srcmetrics").toString
    val ck = Files.createTempDirectory("graft-srcmetrics-ck").toString
    spark.range(0, 30).selectExpr("id")
      .repartition(3).write.format("graft").mode("append").save(dir)
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("graft_srcmetrics")
      .option("checkpointLocation", ck).outputMode("append").start()
    try {
      q.processAllAvailable()
      val progress = q.recentProgress.lastOption.getOrElse(fail("no progress"))
      val m = progress.sources.head.metrics
      assert(m.get("numFilesDiscovered").toInt == 3, s"metrics: $m")
      assert(m.get("numFilesBehindLatest").toInt == 0, s"metrics: $m")
    } finally q.stop()
  }

  test("file log is segmented: per-trigger segments, never a history rewrite") {
    val dir = Files.createTempDirectory("graft-seglog").toString
    val ck = Files.createTempDirectory("graft-seglog-ck").toString
    spark.range(0, 10).selectExpr("id")
      .coalesce(1).write.format("graft").mode("append").save(dir)
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("graft_seglog_test")
      .option("checkpointLocation", ck).outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.range(10, 20).selectExpr("id")
        .coalesce(1).write.format("graft").mode("append").save(dir)
      q.processAllAvailable()
      spark.range(20, 30).selectExpr("id")
        .coalesce(1).write.format("graft").mode("append").save(dir)
      q.processAllAvailable()
      assert(spark.table("graft_seglog_test").count() == 30)
    } finally q.stop()
    // the source's private checkpoint dir is <ck>/sources/0
    val ckFiles = new java.io.File(s"$ck/sources/0").listFiles().map(_.getName).toSet
    val segs = ckFiles.filter(_.startsWith("graft-file-log.seg-"))
    assert(segs.size == 3, s"want one segment per discovery, got $segs")
    assert(!ckFiles.contains("graft-file-log"),
      "no whole-history base log should be written by the segmented path")
  }

  test("stream fails loudly when the table is rewritten underneath it") {
    val dir = Files.createTempDirectory("graft-rewrite-under").toString
    val ck = Files.createTempDirectory("graft-rewrite-under-ck").toString
    spark.range(0, 50).selectExpr("id", "id % 5 AS g")
      .coalesce(2).write.format("graft").mode("append").save(dir)
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("graft_rw_test")
      .option("checkpointLocation", ck).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_rw_test").count() == 50)
      // a compaction republishes the table under a generation pointer:
      // re-emitting those files would duplicate all 50 delivered rows,
      // so the stream must refuse instead of silently re-reading
      graft.operators.FormatOps.compact(spark, dir, targetFiles = 1)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain(e).exists(_.getMessage != null) &&
        chain(e).exists(c => Option(c.getMessage).exists(_.contains("REWRITTEN"))),
        s"want the append-only violation surfaced, got: ${e.getMessage}")
    } finally q.stop()
  }

  test("a file named with '=' injects no phantom partition column") {
    val dir = Files.createTempDirectory("graft-eqname").toString
    val ck = Files.createTempDirectory("graft-eqname-ck").toString
    spark.range(0, 5).selectExpr("id")
      .coalesce(1).write.format("graft").mode("append").save(dir)
    // an externally-produced file whose NAME contains '=' — the batch
    // listing ignores file names for partition parsing; the stream must too
    val src = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".graft")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dir, "weird=5.graft").toPath)
    val batch = spark.read.format("graft").load(dir)
    assert(batch.columns.toSeq == Seq("id") && batch.count() == 10)
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("graft_eqname_test")
      .option("checkpointLocation", ck).outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_eqname_test")
      assert(got.columns.toSeq == Seq("id"), s"phantom column: ${got.columns.toSeq}")
      assert(got.count() == 10)
    } finally q.stop()
  }

  test("maxFilesPerTrigger rejects zero, negative, and junk") {
    val dir = Files.createTempDirectory("graft-mft").toString
    spark.range(0, 5).selectExpr("id")
      .coalesce(1).write.format("graft").mode("append").save(dir)
    def startWith(v: String) =
      spark.readStream.format("graft").option("maxFilesPerTrigger", v).load(dir)
        .writeStream.format("memory")
        .queryName(s"graft_mft_${v.replaceAll("[^a-z0-9]", "x")}")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-mft-ck").toString)
        .start()
    Seq("0", "-3", "nope").foreach { v =>
      val ex = intercept[Exception] {
        val q = startWith(v)
        try { q.processAllAvailable(); q.awaitTermination(10000) } finally q.stop()
      }
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain(ex).exists(c => Option(c.getMessage).exists(m =>
        m.contains("maxFilesPerTrigger") || m.contains("positive"))),
        s"'$v' must be rejected naming the option, got: ${ex.getMessage}")
    }
  }

  test("graft streaming sink writes readable epoch files") {
    val src = Files.createTempDirectory("graft-sink-src").toString
    val out = Files.createTempDirectory("graft-sink-out").toString
    val ck = Files.createTempDirectory("graft-sink-ck").toString
    spark.range(0, 500).selectExpr("id", "concat('v', id) AS v")
      .write.format("graft").mode("append").save(src)
    val q = spark.readStream.format("graft").load(src)
      .filter(col("id") % 2 === 0)
      .writeStream.format("graft")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.format("graft").load(out)
    assert(back.count() == 250)
    assert(canon(back) == canon(
      spark.range(0, 500).selectExpr("id", "concat('v', id) AS v").filter(col("id") % 2 === 0)))
  }

  test("streaming source over a hive-partitioned dir carries partition values") {
    val src = Files.createTempDirectory("graft-psrc").toString
    val ck = Files.createTempDirectory("graft-psrc-ck").toString
    spark.range(0, 200).selectExpr(
      "id", "element_at(array('en','de'), CAST(id % 2 + 1 AS INT)) AS lang")
      .write.format("graft").option("partitionBy", "lang").mode("overwrite").save(src)
    val q = spark.readStream.format("graft").load(src)
      .groupBy("lang").count()
      .writeStream.format("memory").queryName("psrc_counts")
      .option("checkpointLocation", ck)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("psrc_counts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("en" -> 100L, "de" -> 100L), rows)
  }

  test("maxFilesPerTrigger drains a backlog in bounded batches") {
    val src = Files.createTempDirectory("graft-mft-src").toString
    val out = Files.createTempDirectory("graft-mft-out").toString
    val ck = Files.createTempDirectory("graft-mft-ck").toString
    // 6-file backlog (one per repartition task)
    spark.range(0, 600).repartition(6)
      .write.format("graft").mode("append").save(src)
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "2").load(src)
      .writeStream.format("graft")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.format("graft").load(out).count() == 600)
    // 6 files / 2 per trigger = 3 epochs of sink output
    val epochs = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".graft"))
      .map(_.getName.split("-")(1)).distinct
    assert(epochs.length >= 3, epochs.mkString(","))
  }

  test("change-feed backlog drains in bounded batches; exactly-once across a mid-stream crash") {
    val dir = Files.createTempDirectory("graft-cfbp").toString
    val out = Files.createTempDirectory("graft-cfbp-out").toString
    val ck = Files.createTempDirectory("graft-cfbp-ck").toString
    // a 30-commit capture backlog, one file per commit (the exact shape
    // captureTo writes: table "changes", _change_type + _commit_version)
    (1 to 30).foreach { v =>
      spark.range(v * 10L, v * 10L + 10)
        .selectExpr("id AS k", "'insert' AS _change_type",
          s"CAST($v AS BIGINT) AS _commit_version")
        .coalesce(1).write.format("graft").option("table", "changes")
        .mode("append").save(s"$dir/_changes")
    }
    // first attempt: bounded admission (5 files per trigger) and a
    // consumer that CRASHES after two delivered batches — mid-backlog
    val delivered = new java.util.concurrent.atomic.AtomicInteger(0)
    val feed = graft.operators.FormatOps.changeFeedStream(
      spark, dir, maxFilesPerTrigger = Some(5))
    val q1 = feed.writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        if (delivered.incrementAndGet() > 2)
          throw new RuntimeException("simulated consumer crash")
        b.write.format("graft").option("table", "sink")
          .mode("append").save(out): Unit
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable(); q1.awaitTermination()
    }
    val partial = spark.read.format("graft").option("table", "sink").load(out).count()
    assert(partial == 100, s"2 batches x 5 files x 10 rows expected, got $partial")
    // restart from the same checkpoint: drains the REST in bounded
    // batches; the union is exactly the backlog (exactly-once, no
    // replay of the two committed epochs)
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = graft.operators.FormatOps.changeFeedStream(
        spark, dir, maxFilesPerTrigger = Some(5))
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batchSizes.synchronized { batchSizes += b.count() }
        b.write.format("graft").option("table", "sink")
          .mode("append").save(out): Unit
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    assert(batchSizes.forall(_ <= 50), s"unbounded batch: $batchSizes")
    assert(batchSizes.count(_ > 0) >= 4, s"expected >=4 bounded batches, got $batchSizes")
    val sunk = spark.read.format("graft").option("table", "sink").load(out)
    assert(sunk.count() == 300)
    assert(sunk.select(col("k")).distinct().count() == 300, "duplicated rows after restart")
  }

  test("maxBytesPerTrigger is a soft cap: bounded batches, never wedges on one big file") {
    val dir = Files.createTempDirectory("graft-bytes").toString
    val ck = Files.createTempDirectory("graft-bytes-ck").toString
    (1 to 8).foreach { v =>
      spark.range(v * 100L, v * 100L + 100).selectExpr("id AS k")
        .coalesce(1).write.format("graft").mode("append").save(dir)
    }
    val sizes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graft")).map(_.length())
    val cap = sizes.min * 2 + sizes.min / 2 // ~2.5 files per batch (soft)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", cap.toString).load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += b.count() }: Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches.sum == 800, batches)
    // soft cap admits at most 3 files (the 3rd crosses the boundary
    // only when the first two leave room) and always at least 1
    assert(batches.forall(n => n >= 100 && n <= 300), batches)
    assert(batches.count(_ > 0) >= 3, batches)
    // a single file LARGER than the cap must still be admitted alone
    val q2 = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", "1").load(dir)
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft-bytes-ck2").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(b.count() == 100): Unit
      }.start()
    try q2.processAllAvailable() finally q2.stop()
  }

  test("streaming sink writes straight into a hive-partitioned layout") {
    val src = Files.createTempDirectory("graft-psink-src").toString
    val out = Files.createTempDirectory("graft-psink-out").toString
    val ck = Files.createTempDirectory("graft-psink-ck").toString
    spark.range(0, 300).selectExpr(
      "id", "element_at(array('en','de','fr'), CAST(id % 3 + 1 AS INT)) AS lang")
      .write.format("graft").mode("append").save(src)
    val q = spark.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("path", out).option("checkpointLocation", ck)
      .option("partitionBy", "lang")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("lang=de", "lang=en", "lang=fr"), dirs.toSeq)
    val back = spark.read.format("graft").load(out)
    assert(back.count() == 300)
    val pruned = back.filter(col("lang") === "de")
    assert(pruned.count() == 100)
    assert(pruned.rdd.getNumPartitions < back.rdd.getNumPartitions)
  }

  test("sink epoch retry overwrites its own files instead of duplicating") {
    import org.apache.spark.sql.types._
    import org.apache.spark.util.SerializableConfiguration
    val out = Files.createTempDirectory("graft-sink-retry").toString
    val schema = StructType(Seq(StructField("id", LongType)))
    val factory = new graft.sources.GraftStreamingWriterFactory(out, schema, "data",
      1 << 20, "balanced", 1 << 17, Seq.empty,
      spark.sparkContext.broadcast(
        new SerializableConfiguration(new org.apache.hadoop.conf.Configuration())))
    def runAttempt(taskId: Long, rows: Range): Unit = {
      val w = factory.createWriter(partitionId = 0, taskId = taskId, epochId = 7)
      rows.foreach(i => w.write(
        org.apache.spark.sql.catalyst.InternalRow(i.toLong)))
      w.commit()
    }
    runAttempt(1, 0 until 100) // first attempt of epoch 7
    runAttempt(2, 0 until 100) // retry after presumed failure
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".graft"))
    assert(files.length == 1, files.map(_.getName).mkString(","))
    assert(spark.read.format("graft").load(out).count() == 100) // not 200
  }

  test("watermark drops late data across graft-source micro-batches") {
    import java.sql.Timestamp
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-late").toString
    val ck = Files.createTempDirectory("graft-late-ck").toString
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

    // batch 1: events in the 10:00 and 12:00 windows; max ts 12:30
    Seq((1L, ts(10, 15)), (2L, ts(10, 45)), (3L, ts(12, 30)))
      .toDF("id", "ts").coalesce(1)
      .write.format("graft").mode("append").save(dir)

    val agg = spark.readStream.format("graft").load(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("timestamp_ntz").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("graft_late_test")
      .option("checkpointLocation", ck).outputMode("append").start()
    try {
      q.processAllAvailable() // watermark after batch1: 12:30 - 1h = 11:30

      // batch 2: a LATE event for the 10:00 window (watermark already
      // past 11:00) and a fresh 14:00 event that pushes the watermark
      Seq((4L, ts(10, 50)), (5L, ts(14, 0)))
        .toDF("id", "ts").coalesce(1)
        .write.format("graft").mode("append").save(dir)
      q.processAllAvailable()
      // batch 3: push the watermark past 13:00 so the 12:00 window closes
      Seq((6L, ts(15, 30))).toDF("id", "ts").coalesce(1)
        .write.format("graft").mode("append").save(dir)
      q.processAllAvailable()

      val rows = spark.table("graft_late_test")
        .collect().map(r => r.getAs[java.time.LocalDateTime]("ws").getHour -> r.getLong(1)).toMap
      // 10:00 window closed with ONLY the 2 batch-1 events: the late
      // id=4 arrival was dropped by the watermark
      assert(rows.get(10).contains(2L), s"got $rows")
      // 12:00 window closed with its single event
      assert(rows.get(12).contains(1L), s"got $rows")
    } finally q.stop()
  }

  test("interval types round-trip") {
    val df = spark.range(0, 100).selectExpr(
      "id",
      "make_dt_interval(0, cast(id AS int), 30, 1.5) AS dti",
      "make_ym_interval(cast(id % 5 AS int), cast(id % 12 AS int)) AS ymi")
    val dir = Files.createTempDirectory("graft-iv").toString
    df.write.format("graft").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(canon(back) == canon(df))
  }

  test("calendar interval (olive month_day_nano) round-trips via writer API") {
    // Spark forbids CalendarIntervalType in DSv2 table schemas (as it
    // does for parquet), so the 16-byte (months, days, micros) wire form
    // is exercised through the direct writer/reader — the path an olive
    // interop tool would use.
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.CalendarInterval
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("iv", CalendarIntervalType, nullable = true)))
    val dir = Files.createTempDirectory("graft-cal").toString
    val p = new org.apache.hadoop.fs.Path(s"$dir/cal.graft")
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(p, true)
    val w = new GraftFileWriter(out)
    val tb = new TableBuffer("data", schema)
    (0 until 200).foreach { i =>
      val iv = if (i % 9 == 0) null else new CalendarInterval(i % 13, i % 28, i * 1000000L + 250000L)
      tb.appendRow(new GenericInternalRow(Array[Any](i.toLong, iv)))
    }
    w.writeChunk(Seq(tb))
    w.finish()
    out.close()
    val r = GraftFileReader.open(fs, p)
    try {
      val batch = r.decodeTable(r.footer.chunks.head, r.footer.chunks.head.tables.head, schema)
      assert(batch.numRows() == 200)
      (0 until 200).foreach { i =>
        val row = batch.getRow(i)
        assert(row.getLong(0) == i.toLong)
        if (i % 9 == 0) assert(row.isNullAt(1))
        else {
          val iv = row.getInterval(1)
          assert(iv.months == i % 13 && iv.days == i % 28 &&
            iv.microseconds == i * 1000000L + 250000L, s"row $i: $iv")
        }
      }
      batch.close()
    } finally r.close()
  }
}
