package graft.format

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FormatOps

/** SQL procedure surface (Spark 4 DSv2 ProcedureCatalog):
  * `CALL cat.sys.{history,vacuum,restore}` — the maintenance story
  * without a Scala API. */
class ProcedureSpec extends SparkSpec {

  // a FRESH catalog name per invocation: Spark's CatalogManager caches
  // the instance by name for the session's life, so re-registering the
  // same name with a new root would silently keep serving the old one
  private val catalogSeq = new java.util.concurrent.atomic.AtomicInteger
  private def withCatalog(f: (String, String) => Unit): Unit = {
    val cat = s"graft_proc_${catalogSeq.incrementAndGet()}"
    val root = Files.createTempDirectory("graft-proc").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    try f(cat, root)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("CALL sys.history / sys.restore / sys.vacuum over a namespace") {
    withCatalog { (cat, root) =>
      val dir = s"$root/db"
      spark.range(0, 500).selectExpr("id", "CAST(0 AS BIGINT) AS v")
        .write.format("graft").mode("overwrite").save(dir)
      FormatOps.compact(spark, dir, targetFiles = 2) // gen-1
      graft.sources.Generations.rewrite(spark, dir,
        (_, df) => df.withColumn("v", col("v") + 1L),
        idempotencyKey = Some("b7"))                 // gen-2, tagged
      // history returns rows straight from SQL
      val h = spark.sql(s"CALL $cat.sys.history('db')").collect()
      assert(h.map(r => (r.getInt(0), r.getBoolean(1))).toSeq == Seq((1, false), (2, true)))
      assert(h.forall(_.getTimestamp(2) != null))
      assert(h.map(r => Option(r.getString(3))).toSeq == Seq(None, Some("b7")))
      // restore by SQL: content rolls back to gen-1
      spark.sql(s"CALL $cat.sys.restore('db', 1)")
      val total = spark.read.format("graft").load(dir).agg(sum("v")).head.getLong(0)
      assert(total == 0L, s"restore should roll v back to 0s, got sum $total")
      // vacuum by SQL with zero grace: only the live generation survives
      spark.sql(s"CALL $cat.sys.vacuum('db', 0)")
      val gens = new java.io.File(dir).listFiles.map(_.getName)
        .filter(_.matches("gen-\\d+")).toSeq
      assert(gens == Seq("gen-00001"), s"vacuum(0) should leave the live gen, got $gens")
      // named-argument form works too; default grace keeps everything
      spark.sql(s"CALL $cat.sys.vacuum(ns => 'db')")
      assert(spark.read.format("graft").load(dir).count() == 500)
      // OPTIMIZE by SQL: compaction to one file per table, content intact
      spark.sql(s"CALL $cat.sys.compact('db', 1)")
      val live = graft.sources.GraftDataSource
        .readGenPointer(new org.apache.hadoop.conf.Configuration(), dir).get
      assert(new java.io.File(s"$dir/$live").listFiles
        .count(_.getName.endsWith(".graft")) == 1)
      assert(spark.read.format("graft").load(dir).count() == 500)
      // size-targeted OPTIMIZE: a huge byte target collapses to one file
      spark.sql(s"CALL $cat.sys.compact_to_size('db', ${1L << 40})")
      val live2 = graft.sources.GraftDataSource
        .readGenPointer(new org.apache.hadoop.conf.Configuration(), dir).get
      assert(new java.io.File(s"$dir/$live2").listFiles
        .count(_.getName.endsWith(".graft")) == 1)
      assert(spark.read.format("graft").load(dir).count() == 500)
      intercept[Exception] { spark.sql(s"CALL $cat.sys.compact_to_size('db', 0)") }
      // unknown procedure refuses loudly, naming every registered one
      val nope = intercept[Exception] { spark.sql(s"CALL $cat.sys.nope('db')") }
      val catalog = new graft.sources.GraftCatalog()
      catalog.initialize(cat, new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("root", root)))
      // Spark wraps the catalog's refusal as the cause of its own error
      val refusal = Iterator.iterate[Throwable](nope)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      catalog.listProcedures(Array("sys")).foreach { p =>
        assert(refusal.contains(s"sys.${p.name}"), refusal)
      }
    }
  }

  test("CALL sys.contract returns the standing expectations as rows") {
    withCatalog { (cat, root) =>
      val dir = s"$root/db"
      FormatOps.writeWithExpectations(spark,
        spark.range(0, 50).selectExpr("id", "id % 7 AS v"), dir,
        Map("v_small" -> (col("v") < 6), "id_pos" -> (col("id") >= 0)),
        persistContract = true)
      val rows = spark.sql(s"CALL $cat.sys.contract('db')").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows.keySet == Set("v_small", "id_pos"))
      assert(rows("v_small").toLowerCase.contains("v"))
      // a namespace without a contract returns zero rows, not an error
      spark.range(0, 5).selectExpr("id")
        .write.format("graft").mode("overwrite").save(s"$root/bare")
      assert(spark.sql(s"CALL $cat.sys.contract('bare')").count() == 0)
      // audit: a contract-BYPASSING append lands violating rows; the
      // on-demand audit counts them exactly per expectation
      spark.range(100, 110).selectExpr("id", "CAST(9 AS BIGINT) AS v")
        .write.format("graft").mode("append").save(dir) // 10 rows with v = 9
      val audit = spark.sql(s"CALL $cat.sys.audit('db')").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(audit == Map("v_small" -> 10L, "id_pos" -> 0L),
        s"audit must count the bypassing append's violations, got $audit")
      // no contract -> loud refusal
      intercept[Exception] { spark.sql(s"CALL $cat.sys.audit('bare')") }
    }
  }

  test("ns argument validated: empty or NULL refuses, never resolves to the root") {
    withCatalog { (cat, _) =>
      intercept[Exception] { spark.sql(s"CALL $cat.sys.vacuum('', 0)") }
      intercept[Exception] { spark.sql(s"CALL $cat.sys.history(CAST(NULL AS STRING))") }
    }
  }
}
