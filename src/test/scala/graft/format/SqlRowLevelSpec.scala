package graft.format

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.GraftDataSource

/** SQL UPDATE / MERGE INTO / non-pushable DELETE via DSv2 group-based
  * row-level operations ([[graft.sources.GraftRowLevelOperation]]): the
  * statement itself drives a file-granular COW rewrite — candidate files
  * replaced, everything else carried by reference. */
class SqlRowLevelSpec extends SparkSpec {
  private val conf = new Configuration()

  private def mkCatalog(name: String): String = {
    val root = Files.createTempDirectory(s"graft-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    root
  }

  test("SQL UPDATE: matching rows changed, others byte-identical carried files") {
    val root = mkCatalog("rl_upd")
    // range-clustered on k so per-file zone maps cover disjoint ranges
    spark.range(0, 8000).selectExpr("id AS k", "id % 7 AS v")
      .repartitionByRange(8, col("id"))
      .createOrReplaceTempView("rl_upd_src")
    spark.sql("CREATE TABLE rl_upd.db.t AS SELECT * FROM rl_upd_src")
    val dir = s"$root/db" // catalog tables share the namespace dir, table-tagged
    val before = GraftDataSource.listFiles(conf, dir).map { p =>
      val st = p.getFileSystem(conf).getFileStatus(p)
      GraftDataSource.relativePath(new Path(dir), p) -> (st.getLen, st.getModificationTime)
    }.toMap
    assert(before.size == 8)
    spark.sql("UPDATE rl_upd.db.t SET v = -1 WHERE k < 100")
    val t = spark.table("rl_upd.db.t")
    assert(t.count() == 8000)
    assert(t.filter(col("v") === -1).count() == 100)
    assert(t.filter(col("k") >= 100 && col("v") === -1).count() == 0)
    // zone maps prune to the single file holding k<100; 7 carried intact
    val live = GraftDataSource.readGenPointer(conf, dir).get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, live))
    assert(carried.size >= 7, s"expected >=7 carried files, got ${carried.size}")
    carried.foreach { case (rel, size) =>
      val (sz, mt) = before.getOrElse(rel, fail(s"carried $rel not in pre-UPDATE state"))
      assert(sz == size, s"$rel size drifted")
      val st = new Path(dir).getFileSystem(conf).getFileStatus(new Path(dir, rel))
      assert(st.getModificationTime == mt, s"$rel was rewritten, not carried")
    }
  }

  test("SQL MERGE INTO: update + delete + insert clauses, exact results") {
    mkCatalog("rl_mrg")
    spark.range(0, 100).selectExpr("id AS k", "concat('n', id) AS nm")
      .createOrReplaceTempView("rl_mrg_tgt")
    spark.sql("CREATE TABLE rl_mrg.db.t AS SELECT * FROM rl_mrg_tgt")
    // source: keys 90..109 → 90..99 matched, 100..109 unmatched
    spark.range(90, 110).selectExpr("id AS k", "concat('m', id) AS nm")
      .createOrReplaceTempView("rl_mrg_src")
    spark.sql("""MERGE INTO rl_mrg.db.t t USING rl_mrg_src s ON t.k = s.k
      WHEN MATCHED AND s.k % 2 = 0 THEN UPDATE SET t.nm = s.nm
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (k, nm) VALUES (s.k, s.nm)""")
    val t = spark.table("rl_mrg.db.t")
    // 0..89 untouched (90), evens of 90..98 updated (5), odds deleted,
    // 100..109 inserted (10) → 105 rows
    assert(t.count() == 105)
    assert(canon(t.filter(col("k").between(90, 99))) ==
      canon(spark.range(90, 100).filter(col("id") % 2 === 0)
        .selectExpr("id AS k", "concat('m', id) AS nm")))
    assert(canon(t.filter(col("k") >= 100)) ==
      canon(spark.range(100, 110).selectExpr("id AS k", "concat('m', id) AS nm")))
    assert(t.filter(col("k") === 0).select("nm").head().getString(0) == "n0")
  }

  test("_file metadata column: constant per file, group-by audits layout") {
    mkCatalog("rl_file")
    spark.range(0, 4000).selectExpr("id AS k", "id % 3 AS v")
      .repartitionByRange(4, col("id"))
      .createOrReplaceTempView("rl_file_src")
    spark.sql("CREATE TABLE rl_file.db.t AS SELECT * FROM rl_file_src")
    val byFile = spark.sql(
      "SELECT _file, count(*) AS n, min(k) AS lo, max(k) AS hi FROM rl_file.db.t GROUP BY _file")
      .collect()
    assert(byFile.length == 4)
    assert(byFile.map(_.getLong(1)).sum == 4000)
    // ranges are disjoint (range-clustered write) and paths are real files
    byFile.foreach { r =>
      assert(r.getString(0).endsWith(".graft"))
      assert(r.getLong(2) <= r.getLong(3))
    }
    // filtering on _file prunes to that file's rows
    val one = byFile.head
    assert(spark.table("rl_file.db.t").filter(col("_file") === one.getString(0)).count()
      == one.getLong(1))
  }

  test("MERGE with a join-shaped ON still rewrites only matched files") {
    val root = mkCatalog("rl_gf")
    spark.range(0, 8000).selectExpr("id AS k", "id % 7 AS v")
      .repartitionByRange(8, col("id"))
      .createOrReplaceTempView("rl_gf_tgt")
    spark.sql("CREATE TABLE rl_gf.db.t AS SELECT * FROM rl_gf_tgt")
    // the ON condition has no static pushdown; Spark's runtime GROUP
    // FILTER computes the matched rows' distinct _file values and
    // narrows the COW scan to them — 1 of 8 files rewritten
    spark.range(100, 105).selectExpr("id AS k", "CAST(-1 AS BIGINT) AS v")
      .createOrReplaceTempView("rl_gf_src")
    spark.sql("""MERGE INTO rl_gf.db.t t USING rl_gf_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.v = s.v""")
    val t = spark.table("rl_gf.db.t")
    assert(t.count() == 8000)
    assert(t.filter(col("v") === -1).count() == 5)
    assert(t.filter(col("v") === -1).agg(min("k"), max("k")).head() ==
      org.apache.spark.sql.Row(100L, 104L))
    val live = GraftDataSource.readGenPointer(conf, s"$root/db").get
    val carried = GraftDataSource.readCarriedRefs(
      new Path(s"$root/db").getFileSystem(conf), new Path(s"$root/db", live))
    assert(carried.size >= 7,
      s"runtime group filtering should carry >=7 of 8 files, carried ${carried.size}")
  }

  test("SQL UPDATE on a bucketed table keeps the shuffle-free layout claim") {
    val root = mkCatalog("rl_bkt")
    val dir = s"$root/db"
    spark.range(0, 4000).selectExpr("id AS k", "id % 5 AS v")
      .repartition(4, col("k"))
      .write.format("graft").option("table", "t").option("bucketBy", "k:4")
      .mode("append").save(dir)
    assert(GraftDataSource.readBucketMarker(conf, dir, "t").isDefined)
    spark.sql("UPDATE rl_bkt.db.t SET v = -1 WHERE k = 17")
    val t = spark.table("rl_bkt.db.t")
    assert(t.count() == 4000)
    assert(t.filter(col("v") === -1).count() == 1)
    // the marker survived AND every live file still carries the layout
    // tag (the provable-claim precondition) — replacement files were
    // routed through the bucketed writer by the declared distribution
    assert(GraftDataSource.readBucketMarker(conf, dir, "t").isDefined,
      "bucket marker lost by SQL UPDATE")
    val live = GraftDataSource.listFiles(conf, dir)
    assert(live.nonEmpty && live.forall(_.getName.contains(".of")),
      s"untagged files break the bucket claim: ${live.map(_.getName)}")
  }

  test("a real data column named _file is never hijacked by the metadata column") {
    val dir = Files.createTempDirectory("graft-filecol").toString
    spark.range(0, 50).selectExpr("id AS k", "concat('orig', id) AS _file")
      .write.format("graft").mode("overwrite").save(dir)
    val vals = spark.read.format("graft").load(dir)
      .select("_file").collect().map(_.getString(0))
    assert(vals.length == 50 && vals.forall(_.startsWith("orig")),
      s"stored _file values hijacked: ${vals.take(3).mkString(",")}")
  }

  test("MERGE into an EMPTY-candidate target still lands inserts") {
    mkCatalog("rl_ins")
    spark.range(0, 50).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("rl_ins_tgt")
    spark.sql("CREATE TABLE rl_ins.db.t AS SELECT * FROM rl_ins_tgt")
    spark.range(100, 105).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("rl_ins_src")
    spark.sql("""MERGE INTO rl_ins.db.t t USING rl_ins_src s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.table("rl_ins.db.t").count() == 55)
    assert(spark.table("rl_ins.db.t").agg(max("k")).head().getLong(0) == 104L)
  }

  test("racing readers vs SQL UPDATE/MERGE at grace 0: never wrong rows") {
    // the GraftCowBatchWrite commit path under the same stress the
    // FormatOps rewrites get in SelectiveRewriteSpec: readers aggregate
    // continuously while literal SQL DML swaps generations with grace 0
    // (every commit's entry sweep reclaims unreferenced files at once).
    // Conserved invariant: count stays 8000 and sum(v) stays 0 — each
    // statement writes +x to one key and -x to its partner. A reader may
    // fail CLEANLY mid-swap (retry exception); it must never see a
    // partial or mixed view.
    mkCatalog("rl_race")
    spark.range(0, 8000).selectExpr("id AS k", "CAST(0 AS BIGINT) AS v")
      .repartitionByRange(8, col("id"))
      .createOrReplaceTempView("rl_race_src")
    spark.sql("CREATE TABLE rl_race.db.t AS SELECT * FROM rl_race_src")
    @volatile var wrong: Option[String] = None
    @volatile var stop = false
    val clean = new java.util.concurrent.atomic.AtomicLong
    val readers = (1 to 2).map { _ =>
      new Thread(() => {
        while (!stop && wrong.isEmpty) {
          try {
            val row = spark.table("rl_race.db.t")
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
        val x = i * 100L
        if (i % 2 == 1)
          spark.sql(s"""UPDATE rl_race.db.t
            SET v = CASE WHEN k < 4000 THEN $x ELSE ${-x} END
            WHERE k = $i OR k = ${7000 + i}""")
        else {
          spark.sql(s"SELECT $i AS k, CAST($x AS BIGINT) AS v " +
            s"UNION ALL SELECT ${7000 + i} AS k, CAST(${-x} AS BIGINT) AS v")
            .createOrReplaceTempView("rl_race_batch")
          spark.sql("""MERGE INTO rl_race.db.t t USING rl_race_batch s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET t.v = s.v""")
        }
      }
    } finally {
      stop = true
      readers.foreach(_.join(30000))
      spark.conf.unset("spark.graft.graceMs")
    }
    assert(wrong.isEmpty, wrong.getOrElse(""))
    val fin = spark.table("rl_race.db.t")
    assert(fin.count() == 8000)
    assert(fin.agg(sum("v")).head().getLong(0) == 0L)
    assert(fin.filter(col("k") === 5).select("v").as(
      org.apache.spark.sql.Encoders.scalaLong).head() == 500L)
    assert(fin.filter(col("k") === 7006).select("v").as(
      org.apache.spark.sql.Encoders.scalaLong).head() == -600L)
  }

  test("UPDATE keeps sibling rows bit-exact through the rewrite") {
    mkCatalog("rl_bits")
    spark.range(0, 1000)
      .selectExpr("id AS k", "rand(7) AS f", "CAST(id AS DECIMAL(12,2)) * 3 AS dec",
        "concat('s', id) AS s")
      .createOrReplaceTempView("rl_bits_src")
    spark.sql("CREATE TABLE rl_bits.db.t AS SELECT * FROM rl_bits_src")
    val beforeRows = canon(spark.table("rl_bits.db.t").filter(col("k") >= 500))
    spark.sql("UPDATE rl_bits.db.t SET s = 'gone' WHERE k < 500")
    assert(canon(spark.table("rl_bits.db.t").filter(col("k") >= 500)) == beforeRows)
    assert(spark.table("rl_bits.db.t").filter(col("s") === "gone").count() == 500)
  }

}
