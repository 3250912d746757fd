package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FormatOps

/** Driver-side planning soak: every 100 TB claim routes through
  * `planInputPartitions` reading manifest stats, so planning must stay
  * FLAT as the file count explodes — bounded wall time, zero footer
  * opens for pruned files, one manifest parse per live view.
  *
  * The harness plants 10^4 manifest-carried entries whose zone maps
  * disprove the probe key. 9,996 of them are PHANTOMS — carried paths
  * with no file behind them — which turns "pruned files cost zero
  * opens" into a hard guarantee: if planning (or execution) ever
  * touches a pruned file, the read throws FileNotFound instead of
  * silently costing I/O. Only the live generation's one physical file
  * admits the key. */
class PlanningSoakSpec extends SparkSpec {
  private val conf = new Configuration()
  private val TotalFiles = 10000

  test("planning 10^4 carried files: bounded time, 1 scheduled, 1 parse") {
    val dir = Files.createTempDirectory("graft-soak").toString
    spark.range(0, 40000).selectExpr("id", "id % 7 AS v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("graft").mode("overwrite").save(dir)
    // keyed delete rewrites the low-range file -> gen-1 holds ONE
    // physical file (ids ~0..10k) and carries the other three by
    // reference with stats
    FormatOps.deleteWhere(spark, dir, "data", col("id") === 100L)
    val genDir = new Path(GraftDataSource.resolveDataDir(conf, dir))
    val fs = genDir.getFileSystem(conf)
    val existing = GraftDataSource.readCarryManifestFull(fs, genDir)
    // 3 carried refs + 1 self-covering entry for the DML's own output
    val carried = existing.filterNot(_._1.startsWith(genDir.getName + "/"))
    assert(carried.size == 3 && existing.size == 4 &&
      existing.forall(_._3.isDefined))
    // every CARRIED file's range sits above the probe key (50): any of
    // their stats serves as the phantom template (the self entry's range
    // covers the key and must not be the template)
    val (_, templSize, templStats) = carried.head
    // physical(1) + carried(3) + phantoms = TotalFiles in the listing
    // (the self entry dedups against the physical walk by name)
    val phantoms = (0 until TotalFiles - 1 - carried.size).map(i =>
      (f"phantom-$i%05d.graft", templSize, templStats))
    GraftDataSource.writeCarryManifest(fs, genDir, existing ++ phantoms)

    assert(GraftDataSource.listPartitionedSized(conf, dir).size == TotalFiles)

    def planOnce(): (Seq[String], Long, Long, Long) = {
      val sel = spark.read.format("graft").load(dir).filter(col("id") === 50L)
      val opens0 = graft.format.GraftFileReader.opens.get()
      val parses0 = GraftDataSource.manifestParses.get()
      val t0 = System.nanoTime()
      val scheduled = sel.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.collect {
            case p: GraftInputPartition => Seq(p.file)
            case p: GraftPackedPartition => p.files.map(_._1)
          }.flatten
      }.flatten
      val wallMs = (System.nanoTime() - t0) / 1000000L
      (scheduled,
        graft.format.GraftFileReader.opens.get() - opens0,
        GraftDataSource.manifestParses.get() - parses0,
        wallMs)
    }

    val (scheduled, opens, parses, wallMs) = planOnce()
    assert(scheduled.size == 1,
      s"want the 1 physical file scheduled, got ${scheduled.size}")
    assert(scheduled.head.contains("gen-"),
      s"the scheduled file must be the generation's own: ${scheduled.head}")
    // footer opens during planning: at most the kept file's per-chunk
    // split probe — NEVER the 9,999 pruned files
    assert(opens <= 2, s"planning opened $opens footers (want <=2)")
    assert(parses <= 1, s"planning parsed the manifest $parses times")
    // catches O(files x footer-open) planning (~minutes at 10^4 files);
    // generous for co-tenant load, an order of magnitude under failure
    assert(wallMs < 15000L, s"planning took ${wallMs}ms at 10^4 files")

    // same live view, fresh scan: the parsed-stats cache must serve
    val (scheduled2, _, parses2, wallMs2) = planOnce()
    assert(scheduled2 == scheduled)
    assert(parses2 == 0L, "second planning of the same view re-parsed the manifest")
    assert(wallMs2 < 15000L, s"cached planning took ${wallMs2}ms")

    // execution proof: phantoms were never scheduled, or this throws
    // FileNotFound; the one real file answers
    val rows = spark.read.format("graft").load(dir)
      .filter(col("id") === 50L).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 50L)

    // an unselective scan over the soak view would read phantoms — put
    // the real manifest back so later suites' temp-dir sweeps stay sane
    GraftDataSource.writeCarryManifest(fs, genDir, existing)
  }

  test("a failed parallel sweep cancels its queued probes") {
    // item 0 fails at once; every other item would sleep, then count.
    // Once the call has thrown, at most one pool's worth of the rest may
    // have started — queued probes of a failed sweep must not run on
    // behind the exception (a retrying caller would race them)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[IllegalStateException] {
      GraftDataSource.inParallel(0 until 64) { i =>
        if (i == 0) throw new IllegalStateException("probe 0 failed")
        started.incrementAndGet()
        Thread.sleep(100)
      }
    }
    assert(e.getMessage == "probe 0 failed")
    Thread.sleep(1000) // a pool left running drains all 63 in ~0.4 s
    assert(started.get <= 16, s"${started.get} probes ran after the sweep failed")
  }

  test("DML statements list the live view no more often than pinned") {
    // recursive listings and footer opens per statement on one
    // 8,000-row, 8-file catalog table: each publisher takes its source
    // view once, when it stages, and learns which tables a file holds
    // from the view's manifests
    val root = Files.createTempDirectory("graft-listings").toString
    spark.conf.set("spark.sql.catalog.soak_ls", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.soak_ls.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS soak_ls.db")
    spark.range(0, 8000).selectExpr("id AS k", "id % 7 AS v")
      .repartitionByRange(8, col("id")).createOrReplaceTempView("soak_ls_src")
    spark.sql("CREATE TABLE soak_ls.db.t AS SELECT * FROM soak_ls_src")
    // (listings, footer opens)
    def listings(stmt: => Unit): (Long, Long) = {
      val before = GraftDataSource.listingCalls.get()
      val opens0 = graft.format.GraftFileReader.opens.get()
      stmt
      (GraftDataSource.listingCalls.get() - before,
        graft.format.GraftFileReader.opens.get() - opens0)
    }
    val cowUpdate = listings(spark.sql("UPDATE soak_ls.db.t SET v = -1 WHERE k < 100"))
    // the UPDATE's generation made the namespace pointered
    val ctas = listings(spark.sql("CREATE TABLE soak_ls.db.u AS SELECT * FROM soak_ls_src"))
    val morDelete = listings {
      spark.conf.set("spark.graft.deleteMode", "merge-on-read")
      try spark.sql("DELETE FROM soak_ls.db.t WHERE k % 97 = 3")
      finally spark.conf.set("spark.graft.deleteMode", "copy-on-write")
    }
    val deleteWhere = listings(FormatOps.deleteWhere(spark, s"$root/db", "t", col("k") === 200L))
    val absent = listings(assert(!spark.catalog.tableExists("soak_ls.db.absent")))
    val show = listings(assert(spark.sql("SHOW TABLES IN soak_ls.db").count() == 2))
    val drop = listings(spark.sql("DROP TABLE soak_ls.db.u"))
    val counts = Seq("pointered CTAS" -> ctas, "COW UPDATE" -> cowUpdate,
      "MoR DELETE" -> morDelete, "FormatOps.deleteWhere" -> deleteWhere,
      "DROP TABLE" -> drop)
    info(counts.map { case (k, n) => s"$k=${n._1}" }.mkString(", "))
    // MoR DELETE: the scan's listing and the staged view, which its
    // commit reuses
    val bounds = Map("pointered CTAS" -> 4L, "COW UPDATE" -> 4L, "MoR DELETE" -> 2L,
      "FormatOps.deleteWhere" -> 4L, "DROP TABLE" -> 1L)
    counts.foreach { case (k, (n, _)) => assert(n <= bounds(k), s"$k listed $n times") }
    assert(spark.table("soak_ls.db.t").count() == 8000 - 83 - 1)

    // footer opens: (bound, the count when each path probed footers on
    // its own). Every file is covered by a manifest from its write on:
    // the CTAS that made the table keeps its stats sidecar, and the
    // pointered CTAS publishes from its own, so a statement opens only
    // the files it reads: CTAS, DROP TABLE and the catalog lookups none
    val opened = counts ++ Seq("absent tableExists" -> absent, "SHOW TABLES" -> show)
    info(opened.map { case (k, n) => s"$k=${n._2} opens" }.mkString(", "))
    val openBounds = Map("pointered CTAS" -> (0L, 32L), "COW UPDATE" -> (7L, 20L),
      "MoR DELETE" -> (24L, 32L), "FormatOps.deleteWhere" -> (4L, 4L),
      "DROP TABLE" -> (0L, 8L), "absent tableExists" -> (0L, 16L), "SHOW TABLES" -> (0L, 16L))
    opened.foreach { case (k, (_, n)) =>
      val (bound, was) = openBounds(k)
      assert(n <= bound, s"$k opened $n footers (bound $bound; $was when it probed footers itself)")
    }
  }

  test("a path-API table's schema costs one footer open, its keyed deletes few") {
    // 30 files, each covered by the write's append-stats sidecar. The
    // schema must come from a footer: the manifest's DDL spelling drops
    // the fixed-width field metadata
    import org.apache.spark.sql.types.MetadataBuilder
    val dir = Files.createTempDirectory("graft-index-opens").toString
    val fixed = new MetadataBuilder().putLong(graft.format.ColumnEncoder.FixedWidthKey, 8).build()
    spark.range(0, 30000)
      .selectExpr("id", "unhex(lpad(hex(id), 16, '0')) AS h")
      .withColumn("h", col("h").as("h", fixed))
      .repartitionByRange(30, col("id")).sortWithinPartitions("id")
      .write.format("graft").option("table", "data").mode("overwrite").save(dir)
    assert(GraftDataSource.listPartitionedSized(conf, dir).size == 30)
    def opens(stmt: => Unit): Long = {
      val before = graft.format.GraftFileReader.opens.get()
      stmt
      graft.format.GraftFileReader.opens.get() - before
    }
    var schema: org.apache.spark.sql.types.StructType = null
    val schemaOpens = opens {
      schema = spark.read.format("graft").option("table", "data").load(dir).schema
    }
    assert(schemaOpens == 1, s"load(table).schema opened $schemaOpens footers (was 30)")
    assert(schema("h").metadata.getLong(graft.format.ColumnEncoder.FixedWidthKey) == 8L,
      s"the footer's field metadata was lost: ${schema("h").metadata}")
    val first = opens(FormatOps.deleteWhere(spark, dir, "data", col("id") === 7777L))
    val again = opens(FormatOps.deleteWhere(spark, dir, "data", col("id") === 17777L))
    info(s"load(table).schema=$schemaOpens opens, deleteWhere=$first then $again opens")
    assert(first <= 8, s"the first deleteWhere opened $first footers (was 93)")
    assert(again <= 8, s"the second deleteWhere opened $again footers (was 64)")
    assert(spark.read.format("graft").option("table", "data").load(dir).count() == 30000 - 2)
    // a generation-pinned read (time travel) indexes that generation's own
    // carry manifest
    val pinnedOpens = opens {
      schema = spark.read.format("graft").option("table", "data")
        .option("generation", "1").load(dir).schema
    }
    assert(pinnedOpens == 1, s"a pinned load(table).schema opened $pinnedOpens footers")
    assert(schema("h").metadata.getLong(graft.format.ColumnEncoder.FixedWidthKey) == 8L)
  }
}
