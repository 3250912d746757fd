package graft.format

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FormatOps

/** File-granular incremental [[FormatOps.changesBetween]]: the fast path
  * classifies files (unchanged skipped outright, removed/added/DV-grown
  * read selectively) and must return EXACTLY the full diff's rows on any
  * DML history — asserted here by running both paths on mixed COW + MoR
  * sequences, plus the skip-counter proof that unchanged files really
  * were never read. */
class ChangesFastSpec extends SparkSpec {

  private def mkTable(name: String, rows: Int, parts: Int): String = {
    val root = Files.createTempDirectory(s"graft-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    spark.range(0, rows).selectExpr("id AS k", "id % 7 AS v")
      .repartitionByRange(parts, col("id")).createOrReplaceTempView(s"${name}_src")
    spark.sql(s"CREATE TABLE $name.db.t AS SELECT * FROM ${name}_src")
    // anchor generation 1 so the history is addressable — via a 1-key
    // COW delete, which rewrites ONE file and carries the rest, keeping
    // the fixture's range clustering (a compact would shuffle it away)
    spark.sql(s"DELETE FROM $name.db.t WHERE k = 0")
    s"$root/db"
  }

  private def both(dir: String, fromGen: Int): (Seq[String], Seq[String]) = {
    val fast = FormatOps.changesBetween(spark, dir, fromGen, None, Seq("k"))
    val full = FormatOps.changesFull(spark, dir, fromGen, None, Seq("k"))
    (canon(fast), canon(full))
  }

  test("fast == full across COW update, MoR delete, append, MoR merge") {
    val dir = mkTable("cdffast", 8000, 8)
    // 1: COW UPDATE rewrites one file
    spark.sql("UPDATE cdffast.db.t SET v = -1 WHERE k < 120")
    // 2: MoR DELETE grows DVs on several files
    spark.conf.set("spark.graft.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM cdffast.db.t WHERE k % 29 = 3 AND k < 2000")
    finally spark.conf.set("spark.graft.deleteMode", "copy-on-write")
    // 3: plain append (new file, no generation change)
    spark.range(100000, 100200).selectExpr("id AS k", "id % 7 AS v")
      .coalesce(1).writeTo("cdffast.db.t").append()
    // 4: MoR MERGE: update some, delete some, insert some
    spark.range(0, 90).selectExpr(
      "CASE WHEN id < 30 THEN id + 200 WHEN id < 60 THEN id + 400 ELSE id + 200000 END AS k",
      "CASE WHEN id < 30 THEN 'u' WHEN id < 60 THEN 'd' ELSE 'i' END AS op")
      .createOrReplaceTempView("cdffast_batch")
    spark.conf.set("spark.graft.mergeMode", "merge-on-read")
    try spark.sql("""MERGE INTO cdffast.db.t t USING cdffast_batch b ON t.k = b.k
      WHEN MATCHED AND b.op = 'u' THEN UPDATE SET v = -9
      WHEN MATCHED AND b.op = 'd' THEN DELETE
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (b.k, -8)""")
    finally spark.conf.set("spark.graft.mergeMode", "copy-on-write")

    val before = FormatOps.cdfFilesSkipped.get()
    val (fast, full) = both(dir, 1)
    assert(fast == full, s"fast diff diverged:\nfast=${fast.take(5)}\nfull=${full.take(5)}")
    assert(fast.nonEmpty)
    // the classification must have skipped carried-unchanged files
    assert(FormatOps.cdfFilesSkipped.get() > before,
      "fast path engaged but skipped no unchanged files")
    // classification sanity against an exact row-level simulation of the
    // fold (note the MERGE's unguarded NOT-MATCHED arm: an unmatched 'u'
    // or 'd' batch key — e.g. one the MoR delete removed — re-INSERTS)
    val fastDf = FormatOps.changesBetween(spark, dir, 1, None, Seq("k"))
    val byType = fastDf.groupBy(col("change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base: Map[Int, Long] = (1 until 8000).map(k => k -> (k % 7).toLong).toMap
    var state: Map[Int, Long] = base.map { case (k, v) =>
      k -> (if (k < 120) -1L else v) }
    state = state.filterNot { case (k, _) => k % 29 == 3 && k < 2000 }
    state ++= (100000 until 100200).map(k => k -> (k % 7).toLong)
    (200 until 230).foreach { k =>
      state += k -> (if (state.contains(k)) -9L else -8L) }
    (430 until 460).foreach { k =>
      if (state.contains(k)) state -= k else state += k -> -8L }
    (200060 until 200090).foreach(k => state += k -> -8L)
    val expected = Map(
      "insert" -> (state.keySet -- base.keySet).size.toLong,
      "delete" -> (base.keySet -- state.keySet).size.toLong,
      "update" -> base.keysIterator.count(k =>
        state.contains(k) && state(k) != base(k)).toLong)
    assert(byType == expected, s"got $byType, want $expected")
  }

  test("intermediate generations diff too, and adjacent MoR-only diffs read only DV'd files") {
    val dir = mkTable("cdfmid", 4000, 4)
    spark.conf.set("spark.graft.deleteMode", "merge-on-read")
    try {
      spark.sql("DELETE FROM cdfmid.db.t WHERE k % 31 = 1")
      spark.sql("DELETE FROM cdfmid.db.t WHERE k % 37 = 2")
    } finally spark.conf.set("spark.graft.deleteMode", "copy-on-write")
    // gen1 → gen2: only the first delete
    val conf = spark.sparkContext.hadoopConfiguration
    val live = graft.sources.GraftDataSource.readGenPointer(conf, dir).get
      .stripPrefix("gen-").toInt
    val d12 = FormatOps.changesBetween(spark, dir, 1, Some(live - 1), Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(d12.forall(_._2 == "delete"))
    assert(d12.length == (0 until 4000).count(_ % 31 == 1))
    // gen2 → live: only the second delete's NEW rows
    val d23 = FormatOps.changesBetween(spark, dir, live - 1, None, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(d23.forall(_._2 == "delete"))
    assert(d23.length ==
      (0 until 4000).count(k => k % 37 == 2 && k % 31 != 1))
    // equality with the full diff on the same window
    val (fast, full) = both(dir, 1)
    assert(fast == full)
  }

  test("CALL sys.changes_summary: the diff's SQL face, per-type counts") {
    val dir = mkTable("cdfsql", 2000, 2)
    spark.conf.set("spark.graft.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM cdfsql.db.t WHERE k % 41 = 5")
    finally spark.conf.set("spark.graft.deleteMode", "copy-on-write")
    spark.range(50000, 50070).selectExpr("id AS k", "id % 7 AS v")
      .coalesce(1).writeTo("cdfsql.db.t").append()
    val rows = spark.sql(
      "CALL cdfsql.sys.changes_summary(ns => 'db', from_gen => 1, keys => 'k')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("delete") == (0 until 2000).count(_ % 41 == 5))
    assert(rows("insert") == 70)
    assert(!rows.contains("update"))
    val _ = dir
  }

  test("restore (DV shrinks in place) falls back to the full diff, still exact") {
    val dir = mkTable("cdfres", 2000, 2)
    spark.conf.set("spark.graft.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM cdfres.db.t WHERE k % 5 = 0")
    finally spark.conf.set("spark.graft.deleteMode", "copy-on-write")
    val conf = spark.sparkContext.hadoopConfiguration
    val afterDelete = graft.sources.GraftDataSource.readGenPointer(conf, dir).get
      .stripPrefix("gen-").toInt
    // roll back to gen 1 (the pre-delete view), then delete differently:
    // the new live generation's history relative to afterDelete has a
    // file whose DV "shrank" — the fast path must refuse and fall back
    spark.sql(s"CALL cdfres.sys.restore(ns => 'db', generation => 1)")
    spark.conf.set("spark.graft.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM cdfres.db.t WHERE k % 7 = 0")
    finally spark.conf.set("spark.graft.deleteMode", "copy-on-write")
    val fast = canon(FormatOps.changesBetween(spark, dir, afterDelete, None, Seq("k")))
    val full = canon(FormatOps.changesFull(spark, dir, afterDelete, None, Seq("k")))
    assert(fast == full, "restore-shaped history must fall back, not diverge")
  }
}
