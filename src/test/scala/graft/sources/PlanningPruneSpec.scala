package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Planning-time FILE pruning from manifest zone maps: once a carry
  * manifest exists, a pushed filter drops whole files before any task is
  * scheduled, and estimateStatistics reports the post-prune size (so a
  * selectively-filtered side auto-broadcasts) plus an exact row count
  * when every kept file is manifest-covered. */
class PlanningPruneSpec extends SparkSpec {
  import spark.implicits._

  /** Range-clustered multi-file table + one DML so a stats-carrying
    * manifest exists for the carried files. */
  private def buildTable(): String = {
    val dir = Files.createTempDirectory("graft-planprune").toString
    spark.range(0, 80000)
      .selectExpr("id", "CAST(id % 97 AS INT) AS bucket",
        "concat('doc-', CAST(id AS STRING)) AS body")
      .repartitionByRange(8, col("id"))
      .write.format("graft").mode("overwrite").save(dir)
    // a tiny delete produces the carry manifest (7 carried + 1 rewritten)
    graft.operators.FormatOps.deleteWhere(spark, dir, "data", col("id") === 3L)
    dir
  }

  private def scanExec(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))

  test("a pushed filter schedules only the files its manifest stats allow") {
    val dir = buildTable()
    val full = spark.read.format("graft").load(dir)
    val allParts = scanExec(full).inputPartitions.size

    // id=70007 lives in exactly one carried file's range; only that file
    // and the manifest-uncovered rewrite output may schedule tasks
    val sel = full.filter($"id" === 70007L)
    assert(sel.count() == 1)
    val selParts = scanExec(sel).inputPartitions.size
    assert(selParts <= 2 && selParts < allParts,
      s"selective filter planned $selParts of $allParts partitions; " +
        "manifest prune should keep ~1")
  }

  test("estimateStatistics shrinks with the filter and reports exact rows") {
    val dir = buildTable()
    def v2Stats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats
      }.getOrElse(fail("no v2 scan relation"))

    val full = spark.read.format("graft").load(dir)
    val fullStats = v2Stats(full)
    val selStats = v2Stats(full.filter($"id" === 70007L))
    assert(selStats.sizeInBytes * 3 <= fullStats.sizeInBytes,
      s"filtered scan size ${selStats.sizeInBytes} not <1/3 of full ${fullStats.sizeInBytes}")

    // exact rows need EVERY kept file manifest-covered — which, since
    // publishers self-cover their output, is simply every published
    // table: the unfiltered scan reports the exact post-DML count
    assert(fullStats.rowCount.exists(_.toLong == 79999L),
      s"expected exact 79999 rows (80000 - 1 deleted), got ${fullStats.rowCount}")

    // and composed with a partition filter: one partition's carried file
    val pdir = Files.createTempDirectory("graft-planprune-part").toString
    spark.range(0, 80000)
      .selectExpr("id", "CAST(id DIV 10000 AS STRING) AS pt")
      .repartitionByRange(8, col("id"))
      .write.format("graft").partitionBy("pt").mode("overwrite").save(pdir)
    graft.operators.FormatOps.deleteWhere(spark, pdir, "data", col("id") === 3L)
    val part = spark.read.format("graft").load(pdir).filter($"pt" === "7")
    assert(part.count() == 10000)
    val partStats = v2Stats(part)
    assert(partStats.rowCount.exists(_.toLong == 10000L),
      s"expected exact 10000 rows for the carried pt=7 file, got ${partStats.rowCount}")
  }

  test("the post-prune estimate flips a join to broadcast without a hint") {
    val dir = buildTable()
    val full = spark.read.format("graft").load(dir)
    val fullSize = full.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats.sizeInBytes
    }.get
    val probe = spark.range(0, 80000).select($"id".as("pid"))
    // threshold under the full-scan estimate but over the pruned one: the
    // broadcast decision then PROVES the planner saw the post-prune size
    val threshold = (fullSize / 2).toLong.toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val wide = probe.join(full, $"id" === $"pid")
      val wideBroadcasts = wide.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
      val narrow = probe.join(full.filter($"id" >= 79000L), $"id" === $"pid")
      val narrowBroadcasts = narrow.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
      assert(narrowBroadcasts, "pruned side should sit under the threshold")
      assert(narrow.count() == 1000)
      assert(!wideBroadcasts || fullSize / 2 > 10L * 1024 * 1024,
        "full side unexpectedly broadcast under half its own estimate")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed scans prune files within groups, keeping the group count") {
    val dir = Files.createTempDirectory("graft-planprune-bkt").toString
    // 4 buckets × 2 appends = 8 files; id ranges separate per append so
    // zone maps can tell the two file sets apart within each bucket
    spark.range(0, 4000).selectExpr("id", "id % 97 AS k")
      .write.format("graft").option("bucketBy", "id:4").mode("append").save(dir)
    spark.range(100000, 104000).selectExpr("id", "id % 97 AS k")
      .write.format("graft").option("bucketBy", "id:4").mode("append").save(dir)
    graft.operators.FormatOps.deleteWhere(spark, dir, "data", col("id") === 17L)
    val prevB = spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      def bucketFiles(df: org.apache.spark.sql.DataFrame): Seq[Int] =
        scanExec(df).inputPartitions.collect {
          case p: GraftBucketedPartition => p.files.size
        }
      val full = spark.read.format("graft").load(dir)
      val allCounts = bucketFiles(full)
      // high-range filter: each group should drop its low-range file(s)
      val sel = full.filter($"id" >= 100000L)
      val selCounts = bucketFiles(sel)
      assert(selCounts.size == allCounts.size,
        s"group count must not change: ${selCounts.size} vs ${allCounts.size}")
      assert(selCounts.sum < allCounts.sum,
        s"expected within-group file pruning: $selCounts vs $allCounts")
      assert(sel.count() == 4000)
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prevB)
  }

  test("a full rewrite's own output is manifest-covered: planning prunes with zero DML") {
    val dir = Files.createTempDirectory("graft-planprune-rw").toString
    spark.range(0, 80000).selectExpr("id", "CAST(id % 97 AS INT) AS bucket")
      .repartition(8).write.format("graft").mode("overwrite").save(dir)
    // the maintenance rewrite ALONE (no DML ever touches this table) must
    // cover its output with planning stats — layout maintenance is the
    // operation that PRODUCES the canonical clustered shape, so it must
    // not plan worse than a DML-touched table
    Generations.rewrite(spark, dir,
      (_, df) => df.repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      rowChurning = false)

    val full = spark.read.format("graft").load(dir)
    // every kept file covered → exact planner row count, no footer I/O
    val rc = full.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats.rowCount
    }.flatten
    assert(rc.exists(_.toLong == 80000L),
      s"expected exact 80000 rows from the rewrite's own manifest, got $rc")

    val allParts = scanExec(full).inputPartitions.size
    assert(allParts >= 4, s"want a multi-file table, got $allParts partitions")
    val sel = full.filter($"id" === 70007L)
    assert(sel.count() == 1)
    val selParts = scanExec(sel).inputPartitions.size
    assert(selParts <= 2 && selParts < allParts,
      s"selective filter planned $selParts of $allParts partitions; " +
        "the rewrite's own manifest should keep ~1")
  }

  test("runtime DPP filters prune carried files at execution planning") {
    val dir = buildTable()
    // a COW DML must not lose rows to the new prune layer: delete via the
    // SQL row-level path on a manifest-covered table, then verify content
    graft.operators.FormatOps.deleteWhere(spark, dir, "data",
      col("id") >= 100L && col("id") < 200L)
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 79899) // 80000 - 1 (id=3) - 100
    assert(live.filter($"id" === 150L).count() == 0)
    assert(live.filter($"id" === 70007L).count() == 1)
  }
}
