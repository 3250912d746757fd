package graft.format

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration

import graft.SparkSpec
import graft.sources.GraftDataSource

/** Atomic CTAS through the StagingTableCatalog path: data stages in an
  * invisible dot-dir and the table appears in ONE event at commit — a
  * failed CTAS leaves NOTHING (no marker, no stray files), and a CTAS
  * into a generation-pointered namespace publishes via one pointer swap
  * with every sibling file carried by reference. */
class StagedCtasSpec extends SparkSpec {

  private def mkCatalog(name: String): String = {
    val root = Files.createTempDirectory(s"graft-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    root
  }

  test("CTAS commits atomically; a failed CTAS leaves nothing behind") {
    val root = mkCatalog("ctas1")
    spark.sql("CREATE TABLE ctas1.db.good AS SELECT id AS k, id * 2 AS v FROM range(100)")
    assert(spark.table("ctas1.db.good").count() == 100)
    assert(spark.sql("SELECT sum(v) FROM ctas1.db.good").head.getLong(0) == 9900L)

    // a CTAS whose write JOB fails mid-flight: no marker, no table, and
    // no stray .graft bytes joined the namespace dir
    val before = new java.io.File(s"$root/db").listFiles()
      .filter(_.getName.endsWith(".graft")).map(_.getName).toSet
    spark.udf.register("ctas_boom", (x: Long) =>
      if (x > 50) throw new RuntimeException("boom") else x)
    intercept[Exception] {
      spark.sql("CREATE TABLE ctas1.db.bad AS SELECT ctas_boom(id) AS k FROM range(100)")
    }
    assert(!spark.catalog.tableExists("ctas1.db.bad"))
    intercept[Exception](spark.table("ctas1.db.bad").collect())
    val after = new java.io.File(s"$root/db").listFiles()
      .filter(_.getName.endsWith(".graft")).map(_.getName).toSet
    assert(after == before, s"failed CTAS leaked files: ${after -- before}")
    // and no stage dir left behind
    assert(!new java.io.File(s"$root/db").listFiles()
      .exists(_.getName.startsWith(".ctas-")), "stage dir not cleaned up")
  }

  test("CTAS into a generation-pointered namespace publishes atomically, siblings carried") {
    val root = mkCatalog("ctas2")
    spark.sql("CREATE TABLE ctas2.db.t1 AS SELECT id AS k, id % 5 AS v FROM range(1000)")
    val dir = s"$root/db"
    // pointer the namespace (compaction publishes gen-1)
    graft.operators.FormatOps.compact(spark, dir, targetFiles = 2)
    val conf = new Configuration()
    val gen1 = GraftDataSource.readGenPointer(conf, dir).get
    // CTAS a SECOND table into the pointered namespace
    spark.sql("CREATE TABLE ctas2.db.t2 AS SELECT id AS k, concat('s', id) AS s FROM range(50)")
    val gen2 = GraftDataSource.readGenPointer(conf, dir).get
    assert(gen2 != gen1, "CTAS into a pointered namespace must publish a new generation")
    // both tables fully readable; sibling survived the swap untouched
    assert(spark.table("ctas2.db.t1").count() == 1000)
    assert(spark.table("ctas2.db.t2").count() == 50)
    assert(spark.sql("SELECT sum(v) FROM ctas2.db.t1").head.getLong(0) ==
      (0L until 1000L).map(_ % 5).sum)
    // t1's bytes were carried by reference, not copied: the new gen's
    // carry manifest references them
    val carried = GraftDataSource.readCarryManifest(
      new org.apache.hadoop.fs.Path(dir).getFileSystem(conf),
      new org.apache.hadoop.fs.Path(dir, gen2))
    assert(carried.nonEmpty, "sibling files must carry by reference")
    // the pre-CTAS generation still time-travels
    assert(spark.read.format("graft").option("generation", gen1.replaceAll("[^0-9]", "").toInt.toString)
      .load(dir).count() == 1000)
  }

  test("RTAS is refused loudly, not silently non-atomic") {
    mkCatalog("ctas3")
    spark.sql("CREATE TABLE ctas3.db.t AS SELECT id FROM range(5)")
    val e = intercept[Exception] {
      spark.sql("REPLACE TABLE ctas3.db.t AS SELECT id FROM range(9)")
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains("REPLACE TABLE"))),
      s"got: ${e.getMessage}")
    assert(spark.table("ctas3.db.t").count() == 5, "failed RTAS must not touch the table")
  }
}
