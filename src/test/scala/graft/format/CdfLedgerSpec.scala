package graft.format

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{FormatOps, TextOps}

/** Row-level semantics the aggregate gate queries can't pin down:
  * changesBetween's per-key classification, deleteWhere's three-valued
  * WHERE, and the dedup ledger's on-disk (not in-memory) rejection. */
class CdfLedgerSpec extends SparkSpec {

  test("changesBetween classifies every key; unchanged keys are absent") {
    val dir = Files.createTempDirectory("graft-cdf").toString
    spark.range(0, 8).selectExpr("id", "concat('v', id) AS v")
      .repartition(2).write.format("graft").mode("overwrite").save(dir)
    FormatOps.compact(spark, dir, targetFiles = 1) // gen-1 baseline
    FormatOps.upsert(spark, dir, "data",
      spark.range(0, 1).selectExpr("2 AS id", "'CHANGED' AS v")
        .unionByName(spark.range(0, 1).selectExpr("10 AS id", "'NEW' AS v")),
      Seq("id"))                                    // gen-2: update 2, insert 10
    FormatOps.deleteWhere(spark, dir, "data", col("id") === 3) // gen-3
    val live = FormatOps.changesBetween(spark, dir, fromGen = 1, toGen = None, keys = Seq("id"))
    assert(canon(live) == Seq("List(10, insert)", "List(2, update)", "List(3, delete)").sorted)
    // bounded diff: gen-1 -> gen-2 hasn't seen the delete yet
    val g2 = FormatOps.changesBetween(spark, dir, fromGen = 1, toGen = Some(2), keys = Seq("id"))
    assert(canon(g2) == Seq("List(10, insert)", "List(2, update)").sorted)
  }

  test("deleteWhere: null predicate keeps the row (SQL three-valued WHERE)") {
    val dir = Files.createTempDirectory("graft-del").toString
    spark.range(0, 4)
      .selectExpr("id", "CASE WHEN id < 2 THEN concat('x', id) ELSE NULL END AS v")
      .write.format("graft").mode("overwrite").save(dir)
    FormatOps.deleteWhere(spark, dir, "data", col("v") === "x1")
    val left = spark.read.format("graft").load(dir).select("id")
    // only id=1 matched; the NULL-v rows (predicate -> NULL) survive
    assert(canon(left) == Seq("List(0)", "List(2)", "List(3)").sorted)
    intercept[IllegalArgumentException] {
      FormatOps.deleteWhere(spark, dir, "nope", col("id") === 0)
    }
  }

  test("dedup ledger rejects cross-batch duplicates from disk, idempotently") {
    val dir = Files.createTempDirectory("graft-ledger").toString + "/ledger"
    def batch(lo: Int, hi: Int, mod: Int) =
      spark.range(lo, hi).selectExpr("id AS doc_id", s"concat('t', id % $mod) AS text")
        .withColumn("h", md5(col("text").cast("binary")))
    // batch 1: ids 0..9 over 5 distinct texts -> 5 representatives (min ids)
    val after1 = TextOps.dedupIngest(spark, dir, batch(0, 10, 5))
    assert(canon(after1.select("doc_id")) ==
      Seq(0, 1, 2, 3, 4).map(i => s"List($i)").sorted)
    // batch 2: ids 10..19 over texts t0..t9 — t0..t4 already in the
    // ledger ON DISK, so only t5..t9 (reps 15..19) survive
    val after2 = TextOps.dedupIngest(spark, dir, batch(10, 20, 10))
    assert(canon(after2.select("doc_id")) ==
      (Seq(0, 1, 2, 3, 4) ++ Seq(15, 16, 17, 18, 19)).map(i => s"List($i)").sorted)
    // replaying batch 2 adds nothing: every digest is now in the ledger
    val after3 = TextOps.dedupIngest(spark, dir, batch(10, 20, 10))
    assert(canon(after3.select("doc_id")) == canon(after2.select("doc_id")))
  }

  test("upsert refuses duplicate-key batches; null keys insert (MERGE semantics)") {
    val dir = Files.createTempDirectory("graft-ups").toString
    spark.sql("SELECT * FROM VALUES (1L, 'a'), (CAST(NULL AS BIGINT), 'oldnull') AS t(id, v)")
      .write.format("graft").mode("overwrite").save(dir)
    // two rows for key 1: "replace the row for key 1" is ambiguous
    intercept[IllegalArgumentException] {
      FormatOps.upsert(spark, dir, "data",
        spark.sql("SELECT * FROM VALUES (1L, 'x'), (1L, 'y') AS t(id, v)"), Seq("id"))
    }
    // the refused batch landed nothing
    assert(canon(spark.read.format("graft").load(dir)) ==
      Seq("List(1, a)", "List(null, oldnull)").sorted)
    // null never matches null: the old null-key row SURVIVES and the new
    // one appends — and two null-key rows in one batch are legal inserts
    FormatOps.upsert(spark, dir, "data",
      spark.sql("SELECT * FROM VALUES (CAST(NULL AS BIGINT), 'n1'), (CAST(NULL AS BIGINT), 'n2') AS t(id, v)"),
      Seq("id"))
    assert(canon(spark.read.format("graft").load(dir)) ==
      Seq("List(1, a)", "List(null, oldnull)", "List(null, n1)", "List(null, n2)").sorted)
    // an OVER-CAP batch (distinct keys > 1000, so the sketch can't see
    // the dup) with one duplicated key must still refuse through the
    // full groupBy fallback
    intercept[IllegalArgumentException] {
      FormatOps.upsert(spark, dir, "data",
        spark.range(0, 2000).selectExpr("id + 100 AS id", "'z' AS v")
          .unionAll(spark.range(0, 1).selectExpr("CAST(150 AS BIGINT) AS id", "'dup' AS v")),
        Seq("id"))
    }
    // multi-key dup refusal still works (tuple-grouped path): same
    // (a, b) tuple twice is ambiguous even though each column alone has
    // duplicates legally
    val dir2 = Files.createTempDirectory("graft-ups-mk").toString
    spark.sql("SELECT * FROM VALUES (1L, 10L, 'a') AS t(a, b, v)")
      .write.format("graft").mode("overwrite").save(dir2)
    intercept[IllegalArgumentException] {
      FormatOps.upsert(spark, dir2, "data",
        spark.sql("SELECT * FROM VALUES (1L, 10L, 'x'), (1L, 10L, 'y') AS t(a, b, v)"),
        Seq("a", "b"))
    }
    // distinct tuples sharing column values are fine
    FormatOps.upsert(spark, dir2, "data",
      spark.sql("SELECT * FROM VALUES (1L, 10L, 'x'), (1L, 11L, 'y') AS t(a, b, v)"),
      Seq("a", "b"))
    assert(canon(spark.read.format("graft").load(dir2)) ==
      Seq("List(1, 10, x)", "List(1, 11, y)").sorted)
  }

  test("changesBetween: null-position swap is an update; map key order is not a change") {
    // (null, x) -> (x, null) must NOT hash-collide into "unchanged"
    val dir = Files.createTempDirectory("graft-cdf-null").toString
    spark.sql("SELECT 1L AS id, CAST(NULL AS STRING) AS a, 'x' AS b")
      .write.format("graft").mode("overwrite").save(dir)
    FormatOps.compact(spark, dir, targetFiles = 1) // gen-1 baseline
    FormatOps.upsert(spark, dir, "data",
      spark.sql("SELECT 1L AS id, 'x' AS a, CAST(NULL AS STRING) AS b"), Seq("id"))
    assert(canon(FormatOps.changesBetween(spark, dir, 1, None, Seq("id"))) ==
      Seq("List(1, update)"))
    // null swaps NESTED inside a struct must also classify as updates
    // (plain xxhash64 over a struct skips null fields without position
    // mixing — the to_json path preserves names and null positions)
    val dirS = Files.createTempDirectory("graft-cdf-struct").toString
    spark.sql("SELECT 1L AS id, named_struct('a', CAST(NULL AS STRING), 'b', 'x') AS s")
      .write.format("graft").mode("overwrite").save(dirS)
    FormatOps.compact(spark, dirS, targetFiles = 1) // gen-1 baseline
    FormatOps.upsert(spark, dirS, "data",
      spark.sql("SELECT 1L AS id, named_struct('a', 'x', 'b', CAST(NULL AS STRING)) AS s"),
      Seq("id"))
    assert(canon(FormatOps.changesBetween(spark, dirS, 1, None, Seq("id"))) ==
      Seq("List(1, update)"),
      "struct-nested null swap must not hash-collide into 'unchanged'")
    // same map content written in a different entry order digests equal
    val dir2 = Files.createTempDirectory("graft-cdf-map").toString
    spark.sql("SELECT 1L AS id, map('k1', 1, 'k2', 2) AS m")
      .write.format("graft").mode("overwrite").save(dir2)
    FormatOps.compact(spark, dir2, targetFiles = 1) // gen-1 baseline
    FormatOps.upsert(spark, dir2, "data",
      spark.sql("SELECT 1L AS id, map('k2', 2, 'k1', 1) AS m"), Seq("id"))
    assert(FormatOps.changesBetween(spark, dir2, 1, None, Seq("id")).isEmpty,
      "map entry order alone must not classify as an update")
  }

  test("streaming ingest dedups against the persistent ledger via foreachBatch") {
    val srcDir = Files.createTempDirectory("graft-ledger-src").toString
    val ck = Files.createTempDirectory("graft-ledger-ck").toString
    val ledger = Files.createTempDirectory("graft-ledger-tbl").toString + "/ledger"
    def land(lo: Int, hi: Int, mod: Int): Unit =
      spark.range(lo, hi).selectExpr("id AS doc_id", s"concat('t', id % $mod) AS text")
        .withColumn("h", md5(col("text").cast("binary")))
        .coalesce(1).write.format("graft").mode("append").save(srcDir)
    def ledgerIds: Seq[String] =
      canon(spark.read.format("graft").load(ledger).select("doc_id"))
    land(0, 10, 5)
    val q = spark.readStream.format("graft").load(srcDir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TextOps.dedupIngest(spark, ledger, b); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(ledgerIds == Seq(0, 1, 2, 3, 4).map(i => s"List($i)").sorted)
      land(10, 20, 10) // 5 digests repeat history, 5 are new
      q.processAllAvailable()
      assert(ledgerIds ==
        (Seq(0, 1, 2, 3, 4) ++ Seq(15, 16, 17, 18, 19)).map(i => s"List($i)").sorted)
    } finally q.stop()
  }

  test("vacuum reclaims capture files past retention; resumed stream tails newcomers") {
    val dir = Files.createTempDirectory("graft-cdf-ret").toString
    val ck = Files.createTempDirectory("graft-cdf-ret-ck").toString
    spark.range(0, 20).selectExpr("id", "concat('v', id) AS v")
      .write.format("graft").mode("overwrite").save(dir)
    FormatOps.deleteWhere(spark, dir, "data", col("id") === 0, captureChanges = true)
    FormatOps.deleteWhere(spark, dir, "data", col("id") === 1, captureChanges = true)
    val chDir = new java.io.File(dir, FormatOps.ChangesSubdir)
    def captureFiles = chDir.listFiles.filter(_.getName.endsWith(".graft")).toSeq
    assert(captureFiles.size >= 2)
    // a consumer drains the existing log into a durable sink (memory
    // sink can't recover a checkpoint) and checkpoints its offsets
    val out = Files.createTempDirectory("graft-cdf-ret-out").toString
    def runConsumer(): Unit = {
      val q = FormatOps.changeFeedStream(spark, dir)
        .writeStream.format("graft").option("checkpointLocation", ck)
        .start(out)
      try { q.processAllAvailable() } finally q.stop()
    }
    runConsumer()
    assert(spark.read.format("graft").load(out).count() == 2)
    // retention 0: everything already on disk is past the horizon
    FormatOps.vacuum(spark, dir, graceMs = 0, changesRetentionMs = 0)
    assert(captureFiles.isEmpty, "capture files past retention must be reclaimed")
    // the table itself is untouched by change-log retention
    assert(spark.read.format("graft").load(dir).count() == 18)
    // new captured DML lands a fresh capture file; the RESUMED consumer
    // (same checkpoint) tails exactly the newcomer — reclaiming consumed
    // files never re-mapped its offsets, and nothing is replayed or lost
    FormatOps.deleteWhere(spark, dir, "data", col("id") === 2, captureChanges = true)
    runConsumer()
    assert(canon(spark.read.format("graft").load(out).select("id", "_change_type")) ==
      Seq("List(0, delete)", "List(1, delete)", "List(2, delete)").sorted)
  }
}
