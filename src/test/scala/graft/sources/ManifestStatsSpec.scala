package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.In

import graft.SparkSpec
import graft.operators.FormatOps

/** Zone-map stats riding the carry manifest: DML candidate selection
  * classifies manifest-covered files with ZERO per-file I/O — at 10^6
  * files, the difference between reading one manifest and opening a
  * million footers per DML. */
class ManifestStatsSpec extends SparkSpec {
  private val conf = new Configuration()

  private def seed(dir: String): Unit =
    spark.range(0, 8000).selectExpr("id", "id % 7 AS v", "CAST(id AS STRING) AS s")
      .repartitionByRange(8, col("id"))
      .write.format("graft").mode("overwrite").save(dir)

  test("carry manifest entries hold parseable per-chunk zone maps") {
    val dir = Files.createTempDirectory("graft-mstats").toString
    seed(dir)
    FormatOps.deleteWhere(spark, dir, "data", col("id") < 100)
    val live = GraftDataSource.readGenPointer(conf, dir).get
    val full = GraftDataSource.readCarryManifestFull(
      new Path(dir).getFileSystem(conf), new Path(dir, live))
    assert(full.size >= 7)
    full.foreach { case (rel, _, js) =>
      val metas = js.flatMap(graft.format.Stats.statsFromJson)
        .getOrElse(fail(s"carried $rel has no parseable stats"))
      assert(metas.nonEmpty && metas.forall(_.name == "data"))
      assert(metas.head.schema.fieldNames.toSeq == Seq("id", "v", "s"))
      assert(metas.head.stats.nonEmpty)
    }
  }

  test("classification reads the manifest, not the carried files' footers") {
    val dir = Files.createTempDirectory("graft-mstats-io").toString
    seed(dir)
    FormatOps.deleteWhere(spark, dir, "data", col("id") < 100) // gen-1: 1 rewritten + 7 carried w/ stats
    val listed = GraftDataSource.listPartitionedSized(conf, dir)
    assert(listed.size == 8)
    val before = graft.format.GraftFileReader.opens.get()
    // range predicate hitting ONE carried file: probe MID-file (7490..)
    // — repartitionByRange boundaries are sampled (seeded by global RDD
    // ids, so they drift ±tens with suite ordering) and a probe at a
    // nominal boundary once straddled two files
    val files = Generations.classifyForDml(conf, dir,
      (GraftDataSource.resolveDataDir(conf, dir), listed), "data",
      Some(Seq(graft.format.Stats.FilterPrune(
        In("id", (7490L until 7500L).toArray.map(_.asInstanceOf[Any]))))))
    val opened = graft.format.GraftFileReader.opens.get() - before
    val cands = files.filter(_.candidate)
    assert(cands.size == 1, s"want 1 candidate, got ${cands.map(_.path.getName)}")
    // footers opened: the live generation's own physical file (not in
    // the manifest) + the one manifest-kept candidate's bloom pass —
    // NEVER the other 6 carried files
    assert(opened <= 2, s"classification opened $opened footers (want <=2)")
  }

  test("second DML stays correct and re-carries stats end-to-end") {
    val dir = Files.createTempDirectory("graft-mstats-e2e").toString
    seed(dir)
    FormatOps.deleteWhere(spark, dir, "data", col("id") < 100)
    FormatOps.deleteWhere(spark, dir, "data", col("id") >= 7900)
    val live = spark.read.format("graft").load(dir)
    assert(live.count() == 7800)
    assert(live.agg(min("id"), max("id")).head() ==
      org.apache.spark.sql.Row(100L, 7899L))
    val gen = GraftDataSource.readGenPointer(conf, dir).get
    val full = GraftDataSource.readCarryManifestFull(
      new Path(dir).getFileSystem(conf), new Path(dir, gen))
    assert(full.size >= 7) // 6 untouched originals + gen-1's physical file
    assert(full.count(_._3.isDefined) >= 6,
      "reused carried entries must keep their stats")
  }
}
