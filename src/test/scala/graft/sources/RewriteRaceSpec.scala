package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, RowLevelOperation}
import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec
import graft.format.OliveFormatException

/** The requireTargets guard in [[Generations.rewriteFiles]] exists for
  * callers that selected their target set from metadata read BEFORE the
  * live listing (materializeDvs reads the DV manifest first). When the
  * table vanishes entirely in that window — dropped or vacuumed — the
  * refusal must still be the 're-run' concurrent-change message, not the
  * misdirecting 'table not found' (ADVICE r15).
  *
  * The publish's own guard covers every publisher: a [[Generations.Commit]]
  * names the files it replaces, and a replaced file that has left the
  * staged source view (a concurrent rewrite replaced it) refuses the
  * publish instead of carrying the replacement next to a second rewrite
  * of the same rows. */
class RewriteRaceSpec extends SparkSpec {

  private def rewriteWith(dir: String, targets: Set[String]) =
    Generations.rewriteFiles(spark, dir, "data",
      _ => true, (df, _) => df, (_, _, _) => (), requireTargets = targets)

  test("empty live view + outstanding targets refuses as concurrent change") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race_empty").toString
    val ex = intercept[OliveFormatException] {
      rewriteWith(dir, Set("/stale/gone.graft"))
    }
    assert(ex.getMessage.contains("re-run"), ex.getMessage)
  }

  test("live files but none of the table + outstanding targets refuses as concurrent change") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race_sib").toString
    import spark.implicits._
    Seq((1, "a")).toDF("id", "v").write.format("graft")
      .option("table", "sibling").mode("overwrite").save(dir)
    val ex = intercept[OliveFormatException] {
      rewriteWith(dir, Set("/stale/gone.graft"))
    }
    assert(ex.getMessage.contains("re-run"), ex.getMessage)
  }

  test("no targets on an absent table still says not found") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race_plain").toString
    import spark.implicits._
    Seq((1, "a")).toDF("id", "v").write.format("graft")
      .option("table", "sibling").mode("overwrite").save(dir)
    val ex = intercept[IllegalArgumentException] {
      rewriteWith(dir, Set.empty)
    }
    assert(ex.getMessage.contains("not found"), ex.getMessage)
  }

  test("a commit whose replaced file left the live view is refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race_gone").toString
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.format("graft")
      .option("table", "data").mode("overwrite").save(dir)
    val ex = intercept[OliveFormatException] {
      Generations.stage(spark, dir)
        .publish(Generations.Commit(replaced = Seq("gone.graft")))
    }
    assert(ex.getMessage.contains("re-run"), ex.getMessage)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(GraftDataSource.readGenPointer(conf, dir).isEmpty, "nothing may publish")
    val root = new org.apache.hadoop.fs.Path(dir)
    assert(!root.getFileSystem(conf).listStatus(root).exists(_.getPath.getName.contains(".tmp-")),
      "a refused publish leaves no staging behind")
    // a targeted rewrite whose required target is no longer live: same refusal
    val ex2 = intercept[OliveFormatException] {
      rewriteWith(dir, Set(new org.apache.hadoop.fs.Path(dir, "gone.graft").toUri.getPath))
    }
    assert(ex2.getMessage.contains("re-run"), ex2.getMessage)
    assert(spark.read.format("graft").option("table", "data").load(dir).count() == 2)
  }

  test("SQL copy-on-write refuses a candidate file a concurrent UPDATE rewrote") {
    val root = java.nio.file.Files.createTempDirectory("graft_race_cow").toString
    spark.conf.set("spark.sql.catalog.race_cow", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.race_cow.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS race_cow.db")
    spark.range(0, 8000).selectExpr("id AS k", "id % 7 AS v")
      .repartitionByRange(8, col("id")).createOrReplaceTempView("race_cow_src")
    spark.sql("CREATE TABLE race_cow.db.t AS SELECT * FROM race_cow_src")
    val dir = s"$root/db"
    val schema = spark.table("race_cow.db.t").schema
    // statement 1, an UPDATE of k = 5, plans: its scan picks the one
    // range file that can hold k = 5 (it also holds k = 6)
    val op = new GraftRowLevelOperation(dir, "t", schema, RowLevelOperation.Command.UPDATE)
    val sb = op.newScanBuilder(CaseInsensitiveStringMap.empty())
    sb.asInstanceOf[SupportsPushDownFilters].pushFilters(Array(EqualTo("k", 5L)))
    sb.build()
    val cand = op.replaced.get
    assert(cand.size == 1)
    val rows = spark.read.format("graft").option("table", "t")
      .option("fileFilter", cand.head.toString).load(dir).collect()
    // statement 2 rewrites that file and commits first
    spark.sql("UPDATE race_cow.db.t SET v = 2 WHERE k = 6")
    // statement 1 writes the candidate file's rows with k = 5 updated
    val write = new GraftCowBatchWrite(op, dir, "t", schema)
    val w = write.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }).createWriter(0, 0L)
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      w.write(InternalRow(k, if (k == 5L) 1L else r.getAs[Long]("v")))
    }
    val msg = w.commit()
    w.close()
    val ex = intercept[OliveFormatException](write.commit(Array(msg)))
    assert(ex.getMessage.contains("re-run"), ex.getMessage)
    val t = spark.table("race_cow.db.t")
    assert(t.count() == 8000, "the refused commit must not duplicate the rewritten file")
    assert(t.filter(col("k") === 6L).select("v").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(t.filter(col("k") === 5L).count() == 1)
  }
}
