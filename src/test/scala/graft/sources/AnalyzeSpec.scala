package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration

import graft.SparkSpec
import graft.operators.FormatOps

/** `CALL sys.analyze`: one-pass column statistics persisted in a sidecar
  * and served to Spark's CBO as DSv2 columnStats. */
class AnalyzeSpec extends SparkSpec {
  import spark.implicits._

  private def conf = new Configuration()

  private def buildTable(): String = {
    val dir = Files.createTempDirectory("graft-analyze").toString
    spark.range(0, 10000)
      .selectExpr("id",
        "CAST(id % 100 AS INT) AS bucket",
        "IF(id % 10 = 0, NULL, concat('v', CAST(id % 500 AS STRING))) AS label",
        "CAST(id AS DOUBLE) / 7.0 AS ratio")
      .repartition(4)
      .write.format("graft").mode("overwrite").save(dir)
    dir
  }

  test("exact mode: NDV, null counts, lengths, min/max all true") {
    val dir = buildTable()
    val cols = FormatOps.analyzeTable(spark, dir, exact = true).toMap
    assert(cols("id").ndv == 10000 && cols("id").nullCount == 0)
    assert(cols("id").min.contains(0L) && cols("id").max.contains(9999L))
    assert(cols("bucket").ndv == 100)
    assert(cols("bucket").min.contains(0L) && cols("bucket").max.contains(99L))
    assert(cols("label").ndv == 450 && cols("label").nullCount == 1000)
    assert(cols("label").maxLen.contains(4L)) // 'v499'
    assert(cols("ratio").ndv == 10000)
    assert(cols("ratio").max.exists {
      case d: Double => math.abs(d - 9999.0 / 7.0) < 1e-9
      case _ => false
    })
    // persisted and re-readable
    val a = GraftDataSource.readColStats(conf, dir, "data").get
    assert(a.rows == 10000 && a.exact && a.cols("label").ndv == 450)
  }

  test("sketch mode: HLL NDV within 10% on every column") {
    val dir = buildTable()
    val cols = FormatOps.analyzeTable(spark, dir, exact = false).toMap
    for ((name, truth) <- Seq("id" -> 10000L, "bucket" -> 100L, "label" -> 450L))
      assert(math.abs(cols(name).ndv - truth).toDouble / truth < 0.10,
        s"$name sketch ndv ${cols(name).ndv} vs $truth")
    assert(!GraftDataSource.readColStats(conf, dir, "data").get.exact)
  }

  test("CBO consumes the sidecar: attribute stats land in plan statistics") {
    val dir = buildTable()
    FormatOps.analyzeTable(spark, dir, exact = true)
    val prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val df = spark.read.format("graft").load(dir).filter($"bucket" === 7)
      val stats = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats
      }.get
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      assert(byName.get("bucket").exists(_.distinctCount.exists(_.toLong == 100L)),
        s"bucket NDV missing from plan stats: $byName")
      assert(byName.get("id").exists(_.nullCount.exists(_.toLong == 0L)))
      // and with CBO off the sidecar costs nothing and serves nothing
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val off = spark.read.format("graft").load(dir).filter($"bucket" === 8)
      val offStats = off.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats
      }.get
      assert(offStats.attributeStats.isEmpty)
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("histograms: analyze boundaries drive range selectivity under CBO") {
    val dir = buildTable() // id uniform over [0, 10000)
    FormatOps.analyzeTable(spark, dir, exact = true)
    val a = GraftDataSource.readColStats(conf, dir, "data").get
    val h = a.cols("id").histogram.getOrElse(fail("no histogram for id"))
    assert(h.size == 33, s"expected 33 endpoints, got ${h.size}")
    assert(h == h.sorted && h.head <= 0.0 && h.last >= 9999.0)
    // strings carry no histogram; doubles do
    assert(a.cols("label").histogram.isEmpty)
    assert(a.cols("ratio").histogram.isDefined)
    // timestamps histogram in CATALYST-INTERNAL micros, dates in days
    val tdir = Files.createTempDirectory("graft-analyze-ts").toString
    spark.range(0, 10000)
      .selectExpr("id", "timestamp_seconds(id * 3600) AS ts",
        "date_add(DATE '1970-01-01', CAST(id % 365 AS INT)) AS d")
      .write.format("graft").mode("overwrite").save(tdir)
    FormatOps.analyzeTable(spark, tdir, exact = true)
    val ta = GraftDataSource.readColStats(conf, tdir, "data").get
    val th = ta.cols("ts").histogram.getOrElse(fail("no ts histogram"))
    assert(math.abs(th.last - 9999.0 * 3600 * 1e6) < 3600 * 1e6 * 200,
      s"ts endpoints should be epoch micros, got last=${th.last}")
    val dh = ta.cols("d").histogram.getOrElse(fail("no date histogram"))
    assert(dh.head >= 0.0 && dh.last <= 365.0,
      s"date endpoints should be epoch days, got [${dh.head}, ${dh.last}]")
    val prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val df = spark.read.format("graft").load(dir).filter($"id" < 1000L)
      val est = df.queryExecution.optimizedPlan.stats.rowCount
      assert(est.exists(rc => rc.toLong > 400 && rc.toLong < 2500),
        s"range-filter estimate should be ~1000 of 10000, got $est")
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("re-analyze replaces the sidecar; corrupt sidecar degrades silently") {
    val dir = buildTable()
    FormatOps.analyzeTable(spark, dir, exact = true)
    assert(GraftDataSource.readColStats(conf, dir, "data").get.rows == 10000)
    // append then re-analyze: fresh numbers, mtime-keyed cache refreshes
    spark.range(10000, 12000)
      .selectExpr("id", "CAST(id % 100 AS INT) AS bucket",
        "concat('v', CAST(id % 500 AS STRING)) AS label",
        "CAST(id AS DOUBLE) / 7.0 AS ratio")
      .write.format("graft").mode("append").save(dir)
    // BEFORE re-analyze: the stale sidecar extrapolates by byte ratio,
    // so a grown table estimates ~12000, not the stale 10000
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val est = spark.read.format("graft").load(dir)
        .queryExecution.optimizedPlan.stats.rowCount
      assert(est.exists(rc => rc.toLong > 10500 && rc.toLong < 13500),
        s"stale sidecar should extrapolate to ~12000, got $est")
    } finally spark.conf.set("spark.sql.cbo.enabled", prevCbo)
    Thread.sleep(1100) // local-fs mtime granularity can be 1s
    FormatOps.analyzeTable(spark, dir, exact = true)
    val a2 = GraftDataSource.readColStats(conf, dir, "data").get
    assert(a2.rows == 12000 && a2.cols("id").ndv == 12000)
    assert(a2.bytes > 0)
    // corrupt sidecar: readColStats yields None, scans stay unaffected
    val p = new org.apache.hadoop.fs.Path(dir, ".colstats_data.json")
    val out = p.getFileSystem(conf).create(p, true)
    out.write("{not json".getBytes("UTF-8")); out.close()
    Thread.sleep(1100)
    assert(GraftDataSource.readColStats(conf, dir, "data").isEmpty)
    assert(spark.read.format("graft").load(dir).count() == 12000)
  }

  test("the SQL procedure surface returns the stats as rows") {
    val dir = Files.createTempDirectory("graft-analyze-proc").toString
    spark.range(0, 1000).selectExpr("id", "CAST(id % 10 AS INT) AS b")
      .write.format("graft").mode("overwrite").save(s"$dir/db/t")
    spark.conf.set("spark.sql.catalog.graft_anz", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_anz.root", dir)
    val rows = spark.sql("CALL graft_anz.sys.analyze(ns => 'db.t', exact => true)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("id") == 1000L && rows("b") == 10L)
    // DESCRIBE EXTENDED surfaces the snapshot
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft_anz.db.t.data")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val props = desc.getOrElse("Table Properties", "")
    assert(props.contains("stats.rows=1000") && props.contains("stats.ndvMode=exact"),
      s"expected analyze stats in properties, got: $props")
    // a multi-table namespace: analyze names ITS table, sidecars stay
    // per-table, sibling rows never blend
    spark.range(0, 300).selectExpr("id")
      .write.format("graft").option("table", "aux").mode("append").save(s"$dir/db/t")
    val aux = spark.sql(
      "CALL graft_anz.sys.analyze(ns => 'db.t', exact => true, table => 'aux')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(aux("id") == 300L, s"aux table ndv: $aux")
    assert(GraftDataSource.readColStats(conf, s"$dir/db/t", "aux").get.rows == 300)
    assert(GraftDataSource.readColStats(conf, s"$dir/db/t", "data").get.rows == 1000)
  }
}
