package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Append-stats sidecars: plain appends stay FILE-prunable at planning
  * time (caught by the r16 sf1 run — before this, every file appended
  * since the last publish was a scheduled task for every filtered scan
  * until the next DML/compaction). */
class AppendStatsSpec extends SparkSpec {
  private def scheduledFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case p: GraftInputPartition => Seq(p.file)
          case p: GraftPackedPartition => p.files.map(_._1)
        }.flatten
    }.flatten.map(f => new org.apache.hadoop.fs.Path(f).getName).distinct

  test("a never-published plain table plans pruned from append sidecars") {
    val dir = Files.createTempDirectory("graft-apst1").toString
    spark.range(0, 8000).selectExpr("id AS k", "id % 7 AS v")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.format("graft").mode("append").save(dir)
    val t = spark.read.format("graft").load(dir)
    val sel = t.filter(col("k") === 7999)
    val sched = scheduledFiles(sel)
    assert(sched.size <= 1, s"selective filter scheduled $sched")
    assert(sel.count() == 1)
    // and a second append is covered by its own sidecar
    spark.range(8000, 16000).selectExpr("id AS k", "id % 7 AS v")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.format("graft").mode("append").save(dir)
    val sel2 = spark.read.format("graft").load(dir).filter(col("k") === 15999)
    assert(scheduledFiles(sel2).size <= 1, s"second append scheduled ${scheduledFiles(sel2)}")
    assert(sel2.count() == 1)
  }

  test("appends AFTER a publish prune alongside the carry manifest") {
    val dir = Files.createTempDirectory("graft-apst2").toString
    spark.range(0, 4000).selectExpr("id AS k", "id % 5 AS v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("graft").mode("append").save(dir)
    // a tiny DML publishes a generation whose manifest covers the 4 files
    graft.operators.FormatOps.updateWhere(spark, dir, "data",
      set = Map("v" -> col("v")), where = col("k") === 2L)
    // post-publish append: the carry manifest has never heard of these
    spark.range(4000, 8000).selectExpr("id AS k", "id % 5 AS v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("graft").mode("append").save(dir)
    val sel = spark.read.format("graft").load(dir).filter(col("k") === 7999)
    val sched = scheduledFiles(sel)
    assert(sched.size <= 1, s"post-publish append scheduled $sched")
    assert(sel.count() == 1)
  }

  test("overwrite deletes stale sidecars; fold bounds the sidecar count") {
    val dir = Files.createTempDirectory("graft-apst3").toString
    val d = new java.io.File(dir)
    def sidecars() = d.listFiles().count(_.getName.startsWith(".stats-append-"))
    spark.range(0, 100).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("append").save(dir)
    assert(sidecars() == 1)
    spark.range(0, 100).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    assert(sidecars() == 1, "overwrite must drop pre-overwrite sidecars")
    (1 to 70).foreach { i =>
      spark.range(i * 100L, i * 100L + 10).selectExpr("id AS k").coalesce(1)
        .write.format("graft").mode("append").save(dir)
    }
    assert(sidecars() < 70, s"fold never ran: ${sidecars()} sidecars")
    // fold preserved coverage: all 71 files, selective filter still prunes
    val t = spark.read.format("graft").load(dir)
    assert(t.count() == 100 + 70 * 10)
    assert(scheduledFiles(t.filter(col("k") === 7009)).size <= 1)
  }
}
