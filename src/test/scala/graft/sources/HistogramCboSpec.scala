package graft.sources

import java.nio.file.Files


import graft.SparkSpec
import graft.operators.FormatOps

/** Histograms must CHANGE plans, not just exist. A skewed column (99% of
  * values under 100, 1% spread to ~10^6) makes uniform min/max range
  * estimation lie by ~30×: filtering above the knee selects ~1% of rows,
  * but (hi−lo)/(max−min) says ~99%. With the ANALYZE histogram served,
  * the filtered side estimates small enough to broadcast; with
  * histograms off (spark.graft.cbo.histograms=false) the same join
  * plans sort-merge. Both directions asserted from the physical plan. */
class HistogramCboSpec extends SparkSpec {
  import spark.implicits._

  private def joinPlan(factDir: String, dimDir: String): org.apache.spark.sql.execution.SparkPlan = {
    val fact = spark.read.format("graft").load(factDir).filter($"v" >= 1000L)
    val dim = spark.read.format("graft").load(dimDir)
    fact.join(dim, "k").groupBy($"grp").count()
      .queryExecution.sparkPlan
  }

  test("equi-height histogram flips the join: broadcast with, sort-merge without") {
    val factDir = Files.createTempDirectory("graft-histcbo-f").toString
    val dimDir = Files.createTempDirectory("graft-histcbo-d").toString
    // fact: 40k rows; v: id%100==0 → spread over [1000, ~1e6], else [0,97)
    spark.range(0, 40000).selectExpr("id AS k",
      """CASE WHEN id % 100 = 0 THEN 1000 + (id % 997) * 1000
         ELSE id % 97 END AS v""")
      .write.format("graft").mode("overwrite").save(factDir)
    // dim: bigger than every broadcast threshold in play (high-entropy
    // payload so the on-disk estimate can't compress under it)
    spark.range(0, 60000).selectExpr("id AS k", "id % 1000 AS grp",
      "md5(CAST(id AS STRING)) AS pad")
      .write.format("graft").mode("overwrite").save(dimDir)
    FormatOps.analyzeTable(spark, factDir, exact = true)

    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.graft.cbo.histograms").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // between the histogram estimate (~40000/32 rows ≈ 30 KB) and the
      // uniform estimate (~40000 rows ≈ 1 MB), with ~6× margin each way
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (200 * 1024).toString)

      spark.conf.set("spark.graft.cbo.histograms", "true")
      val withHist = joinPlan(factDir, dimDir)
      assert(withHist.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.nonEmpty, s"histogram estimate must broadcast the filtered fact:\n$withHist")

      spark.conf.set("spark.graft.cbo.histograms", "false")
      val without = joinPlan(factDir, dimDir)
      assert(without.collect {
        case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
      }.nonEmpty && without.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.isEmpty,
        s"uniform range estimate (~99% of rows) must NOT broadcast:\n$without")

      // same rows either way — the flip is pure strategy
      spark.conf.set("spark.graft.cbo.histograms", "true")
      val rowsWith = spark.read.format("graft").load(factDir)
        .filter($"v" >= 1000L)
        .join(spark.read.format("graft").load(dimDir), "k").count()
      spark.conf.set("spark.graft.cbo.histograms", "false")
      val rowsWithout = spark.read.format("graft").load(factDir)
        .filter($"v" >= 1000L)
        .join(spark.read.format("graft").load(dimDir), "k").count()
      assert(rowsWith == 400L && rowsWithout == 400L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
