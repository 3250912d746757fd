package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The stats sidecar: write tasks hand their freshly-written footer
  * stats to the driver through commit messages, every write commit
  * persists them as a `.stats-append-*` next to the files it landed, and
  * publishStaging builds the generation's self-covering manifest from a
  * staging's own sidecars instead of re-opening every footer it just
  * produced. */
class StagedStatsSpec extends SparkSpec {
  private val conf = new Configuration()

  private def sidecarEntries(fs: FileSystem, dir: Path): Seq[(String, Long, String)] =
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(GraftDataSource.AppendStatsPrefix))
      .flatMap(p => GraftDataSource.readStatsSidecar(fs, p))

  /** Every entry names a real file under `dir` with its exact size, and
    * its stats parse and describe `table`. */
  private def assertReal(fs: FileSystem, dir: Path, entries: Seq[(String, Long, String)],
      table: String): Unit =
    entries.foreach { case (rel, size, js) =>
      val p = new Path(dir, rel)
      assert(fs.exists(p), s"sidecar rel $rel points nowhere")
      assert(fs.getFileStatus(p).getLen == size, s"$rel size drifted")
      val metas = graft.format.Stats.statsFromJson(js)
      assert(metas.exists(_.exists(_.name == table)), s"$rel stats unparseable")
    }

  test("every write commit leaves a stats sidecar") {
    val root = Files.createTempDirectory("graft-stagedstats").toString
    val staging = new Path(root, "gen-00001.tmp-abc123")
    val fs = staging.getFileSystem(conf)
    // a claimed staging, as stage() makes one
    Generations.claimStaging(conf, staging)
    spark.range(0, 10000).selectExpr("id", "id % 5 AS v")
      .repartition(4).write.format("graft").mode("append").save(staging.toString)
    val entries = sidecarEntries(fs, staging)
    assert(entries.size == 4, s"want 4 sidecar entries, got ${entries.size}")
    assertReal(fs, staging, entries, "data")
    // a second table's write adds its entries, the first's stay
    spark.range(0, 100).selectExpr("id AS k").repartition(1)
      .write.format("graft").option("table", "aux").mode("append")
      .save(staging.toString)
    val both = sidecarEntries(fs, staging)
    assert(both.size == 5 && entries.toSet.subsetOf(both.toSet),
      s"the second write clobbered the first's entries: $both")
    assertReal(fs, staging, both.filterNot(entries.contains), "aux")

    // a plain append to a table root gets the same sidecar
    val plain = new Path(root, "plain")
    spark.range(0, 100).selectExpr("id").repartition(2)
      .write.format("graft").mode("append").save(plain.toString)
    val plainEntries = sidecarEntries(fs, plain)
    assert(plainEntries.size == 2, s"want 2 sidecar entries, got $plainEntries")
    assertReal(fs, plain, plainEntries, "data")
  }

  test("publish consumes the sidecar: manifest covered, sidecar gone, stats exact") {
    val dir = Files.createTempDirectory("graft-stagedstats-pub").toString
    spark.range(0, 20000).selectExpr("id", "id % 7 AS v")
      .repartition(4).write.format("graft").mode("overwrite").save(dir)
    Generations.rewrite(spark, dir,
      (_, df) => df.repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      rowChurning = false)
    val genDir = new Path(GraftDataSource.resolveDataDir(conf, dir))
    val fs = genDir.getFileSystem(conf)
    assert(!fs.listStatus(genDir).exists(_.getPath.getName
        .startsWith(GraftDataSource.AppendStatsPrefix)),
      "the sidecar must never publish")
    val manifest = GraftDataSource.readCarryManifestFull(fs, genDir)
    assert(manifest.size == 4 && manifest.forall(_._3.isDefined),
      s"expected 4 self-covered entries, got $manifest")
    // the manifest stats must EQUAL the footers' truth (the sidecar path
    // and the footer-read fallback must be indistinguishable)
    manifest.foreach { case (rel, _, js) =>
      val p = new Path(new Path(dir), rel)
      val r = graft.format.GraftFileReader.open(fs, p)
      val fromFooter = try r.footer.chunks.flatMap(_.tables).toSeq finally r.close()
      assert(js.contains(graft.format.Stats.statsToJson(fromFooter)),
        s"$rel manifest stats diverge from its footer")
    }
  }
}
