package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Exact data filters ([[ExactFilters]]): integral comparisons, IN-lists
  * and null tests are consumed by the scan builder and applied by the
  * reader, so no `Filter` sits above the scan. That hands Spark's LIMIT
  * and the delete paths to the reader's row selection, which these
  * cases pin:
  *   - a pushed LIMIT counts delivered (post-filter) rows, never trimming
  *     a kept range before the filter ran;
  *   - delete vectors compose with the filter, and `_pos` stays the
  *     physical slot a merge-on-read DELETE keys its vector on;
  *   - the planner gets no exact row count for a filtered scan. */
class ExactFilterSpec extends SparkSpec {

  private def mkCatalog(name: String): String = {
    val root = Files.createTempDirectory(s"graft-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    root
  }

  private def withMor[T](body: => T): T = {
    spark.conf.set("spark.graft.deleteMode", "merge-on-read")
    try body finally spark.conf.set("spark.graft.deleteMode", "copy-on-write")
  }

  private def scans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }

  private def hasFilter(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect { case f: FilterExec => f }.nonEmpty

  /** 3 files of 40,000 rows, each sorted on `k` (5 zone-map blocks per
    * file); `c` runs 0..39,999 within every file, so `c` in [30000, 30099]
    * matches 100 rows of each file's FOURTH block and nothing earlier. */
  private def writeBlocks(dir: String): Unit =
    (0 until 3).foreach { f =>
      spark.range(f * 40000L, (f + 1) * 40000L).coalesce(1)
        .selectExpr("id AS k", "CAST(id % 40000 AS INT) AS c", "id * 3 AS v")
        .write.format("graft").mode("append").save(dir)
    }

  test("filter(exact).limit(k) returns min(k, matches) rows past the first block, as parquet does") {
    val gdir = Files.createTempDirectory("graft-exactlim").toString
    val pdir = Files.createTempDirectory("graft-exactlimp").toString
    writeBlocks(gdir)
    spark.read.format("graft").load(gdir).write.mode("overwrite").parquet(pdir)
    val g = spark.read.format("graft").load(gdir)
    val p = spark.read.parquet(pdir)
    val cond = col("c").between(30000, 30099)
    val want = p.filter(cond).collect().map(_.toString).toSet
    assert(want.size == 300)

    val full = g.filter(cond)
    assert(!hasFilter(full), full.queryExecution.executedPlan.toString)
    assert(scans(full).exists(_.scan.description().contains("exactFilters=[")),
      full.queryExecution.executedPlan.toString)
    assert(full.collect().map(_.toString).toSet == want)

    Seq(1, 50, 299, 300, 1000).foreach { k =>
      val q = g.filter(cond).limit(k)
      assert(scans(q).exists(_.scan.description().contains(s"limit=$k")),
        s"limit $k was not pushed under an exact filter:\n${q.queryExecution.executedPlan}")
      val got = q.collect().map(_.toString)
      val pGot = p.filter(cond).limit(k).collect()
      assert(got.length == math.min(k, 300) && got.length == pGot.length,
        s"limit $k: graft ${got.length} rows, parquet ${pGot.length}")
      assert(got.distinct.length == got.length, s"limit $k duplicated a row")
      assert(got.forall(want.contains), s"limit $k returned a non-matching row")
    }
    // an exact IN-list and a residual conjunct under the same limit
    val mixed = g.filter(col("c").isin(30000, 30050, 39999) && (col("v") % 2 === 0)).limit(5)
    assert(hasFilter(mixed))
    assert(mixed.count() == math.min(5L,
      p.filter(col("c").isin(30000, 30050, 39999) && (col("v") % 2 === 0)).count()))
  }

  test("exact filters compose with a delete vector, under a limit too") {
    mkCatalog("exdv")
    spark.sql("CREATE TABLE exdv.db.t (k BIGINT, c INT) USING graft")
    (0 until 3).foreach { f =>
      spark.range(f * 20000L, (f + 1) * 20000L).coalesce(1)
        .selectExpr("id AS k", "CAST(id % 20000 AS INT) AS c").writeTo("exdv.db.t").append()
    }
    withMor { spark.sql("DELETE FROM exdv.db.t WHERE k % 3 = 0") }
    val live = (0L until 60000L).filter(_ % 3 != 0)
    val t = spark.table("exdv.db.t")
    val cond = col("c") >= 15000 && col("c") < 15300
    val want = live.filter(k => k % 20000 >= 15000 && k % 20000 < 15300).toSet
    assert(!hasFilter(t.filter(cond)))
    assert(t.filter(cond).collect().map(_.getLong(0)).toSet == want)
    Seq(7, 150, want.size, want.size + 10).foreach { k =>
      val got = t.filter(cond).limit(k).collect().map(_.getLong(0))
      assert(got.length == math.min(k, want.size), s"limit $k: ${got.length} rows")
      assert(got.distinct.length == got.length && got.forall(want.contains),
        s"limit $k returned a deleted, duplicated or non-matching row")
    }
    // `_pos` under the filter and the DV: the physical slot within a file
    val keys = Seq(1L, 20002L, 35000L, 59999L)
    val pos = t.filter(col("k").isin(keys: _*)).select("k", "_pos").collect()
    assert(pos.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      keys.map(k => (k, k % 20000)).toSet)
  }

  test("merge-on-read DELETE on a consumed key deletes exactly its rows") {
    val root = mkCatalog("exmor")
    spark.range(0, 30000).selectExpr("id AS k", "CAST(id % 1000 AS INT) AS c")
      .repartitionByRange(3, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("exmor_src")
    spark.sql("CREATE TABLE exmor.db.t AS SELECT * FROM exmor_src")
    var live = (0L until 30000L).toSet
    withMor {
      spark.sql("DELETE FROM exmor.db.t WHERE k = 12345")
      live -= 12345L
      spark.sql("DELETE FROM exmor.db.t WHERE k IN (5, 10007, 29999, 40000)")
      live --= Seq(5L, 10007L, 29999L)
      spark.sql("DELETE FROM exmor.db.t WHERE k >= 20010 AND k < 20030 AND c IS NOT NULL")
      live --= (20010L until 20030L)
      spark.sql("DELETE FROM exmor.db.t WHERE c = 999")
      live = live.filterNot(_ % 1000 == 999)
    }
    val dvs = GraftDataSource.readDvManifest(
      new org.apache.hadoop.fs.Path(root).getFileSystem(new org.apache.hadoop.conf.Configuration()),
      new org.apache.hadoop.fs.Path(GraftDataSource.resolveDataDir(
        new org.apache.hadoop.conf.Configuration(), s"$root/db")))
    assert(dvs.map(_._4).sum == 30000L - live.size, "deletes were not written as vectors")
    assert(spark.table("exmor.db.t").collect().map(_.getLong(0)).toSet == live)
  }

  test("a consumed data filter reports no row count; aggregates and top-k decline") {
    val dir = Files.createTempDirectory("graft-exactstats").toString
    writeBlocks(dir)
    val g = spark.read.format("graft").load(dir)
    def numRows(df: DataFrame) = scans(df).head.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().numRows()
    assert(numRows(g).isPresent, "the unfiltered scan's row count comes from the stats sidecars")
    val filtered = g.filter(col("k") > 100000L)
    assert(!hasFilter(filtered))
    assert(!numRows(filtered).isPresent, "a filtered scan must not claim the files' row count")
    val agg = g.filter(col("k") > 100000L).agg(count(lit(1)), max(col("v")))
    assert(!agg.queryExecution.executedPlan.toString.contains("pushedAggs="))
    val r = agg.head()
    assert(r.getLong(0) == 19999L && r.getLong(1) == 119999L * 3)
    val top = g.filter(col("c") < 10).orderBy(col("v").desc).limit(3)
    assert(!top.queryExecution.executedPlan.toString.contains("pushedTopN="))
    assert(top.collect().map(_.getLong(2)).toSeq == Seq(80009L * 3, 80008L * 3, 80007L * 3))
    // under CBO the filter stays Spark's, which estimates its selectivity
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try assert(hasFilter(g.filter(col("k") > 100000L)))
    finally spark.conf.unset("spark.sql.cbo.enabled")
  }
}
