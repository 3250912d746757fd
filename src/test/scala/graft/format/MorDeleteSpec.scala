package graft.format

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.GraftDataSource

/** Merge-on-read DELETE ([[graft.sources.GraftMorDeleteOperation]]):
  * position-delete vectors instead of file rewrites, applied by the
  * reader as range subtraction. The sibling [[SqlRowLevelSpec]] covers
  * the copy-on-write default; this spec flips
  * `spark.graft.deleteMode = merge-on-read` per test. */
class MorDeleteSpec extends SparkSpec {
  private val conf = new Configuration()

  private def mkCatalog(name: String): String = {
    val root = Files.createTempDirectory(s"graft-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    root
  }

  private def withMor[T](body: => T): T = {
    spark.conf.set("spark.graft.deleteMode", "merge-on-read")
    try body finally spark.conf.set("spark.graft.deleteMode", "copy-on-write")
  }

  private def dataFileState(dir: String): Map[String, (Long, Long)] =
    GraftDataSource.listPartitionedSized(conf, dir).map { case (p, _, _) =>
      val st = p.getFileSystem(conf).getFileStatus(p)
      GraftDataSource.relativePath(new Path(dir), p) -> (st.getLen, st.getModificationTime)
    }.toMap

  private def liveDvEntries(dir: String): Seq[(String, String, String, Long)] = {
    val resolved = GraftDataSource.resolveDataDir(conf, dir)
    GraftDataSource.readDvManifest(
      new Path(resolved).getFileSystem(conf), new Path(resolved))
  }

  test("sparse MoR DELETE: zero data files rewritten, exact survivors") {
    val root = mkCatalog("mor1")
    spark.range(0, 8000).selectExpr("id AS k", "id % 7 AS v")
      .repartitionByRange(8, col("id")).createOrReplaceTempView("mor1_src")
    spark.sql("CREATE TABLE mor1.db.t AS SELECT * FROM mor1_src")
    val dir = s"$root/db"
    val before = dataFileState(dir)
    assert(before.size == 8)

    withMor { spark.sql("DELETE FROM mor1.db.t WHERE k % 97 = 3") }

    // every pre-delete data file is still live, byte-identical, same mtime
    val after = dataFileState(dir)
    assert(after.keySet.map(new Path(_).getName) ==
      before.keySet.map(new Path(_).getName), "data file set changed")
    after.foreach { case (rel, (sz, mt)) =>
      val name = new Path(rel).getName
      val (bsz, bmt) = before.find(e => new Path(e._1).getName == name).get._2
      assert(sz == bsz && mt == bmt, s"$rel was rewritten, not DV'd")
    }
    // the delete vectors exist and account for exactly the deleted rows
    val dvs = liveDvEntries(dir)
    assert(dvs.nonEmpty, "no .dvs manifest written")
    assert(dvs.map(_._4).sum == (0 until 8000).count(_ % 97 == 3))

    val t = spark.table("mor1.db.t")
    assert(t.count() == (0 until 8000).count(_ % 97 != 3))
    assert(t.filter(col("k") % 97 === 3).count() == 0)
    // untouched rows fully intact (content check, not just counts)
    assert(t.agg(sum(col("k"))).head.getLong(0) ==
      (0 until 8000).filter(_ % 97 != 3).map(_.toLong).sum)
  }

  test("second DELETE merges into one DV per file; pushable predicates route MoR too") {
    val root = mkCatalog("mor2")
    spark.range(0, 4000).selectExpr("id AS k", "id % 5 AS v")
      .repartitionByRange(4, col("id")).createOrReplaceTempView("mor2_src")
    spark.sql("CREATE TABLE mor2.db.t AS SELECT * FROM mor2_src")
    val dir = s"$root/db"
    withMor {
      spark.sql("DELETE FROM mor2.db.t WHERE k % 11 = 0") // non-pushable
      spark.sql("DELETE FROM mor2.db.t WHERE k < 50") // pushable shape: still MoR
    }
    assert(dataFileState(dir).size == 4, "a data file was rewritten or dropped")
    val dvs = liveDvEntries(dir)
    val expectDeleted = (0 until 4000).count(k => k % 11 == 0 || k < 50)
    assert(dvs.map(_._4).sum == expectDeleted)
    // at most one DV entry per data file (merged, not stacked)
    assert(dvs.map(_._2).distinct.size == dvs.size)
    val t = spark.table("mor2.db.t")
    assert(t.count() == 4000 - expectDeleted)
    assert(t.filter(col("k") < 50 || col("k") % 11 === 0).count() == 0)
  }

  test("whole-file delete drops the file from the generation (no DV)") {
    val root = mkCatalog("mor3")
    spark.range(0, 4000).selectExpr("id AS k", "id AS v")
      .repartitionByRange(4, col("id")).createOrReplaceTempView("mor3_src")
    spark.sql("CREATE TABLE mor3.db.t AS SELECT * FROM mor3_src")
    val dir = s"$root/db"
    assert(dataFileState(dir).size == 4)
    // range boundaries are sample-derived, not exact quartiles — derive
    // one REAL file's full key range and delete exactly it
    val (lo, hi, n) = spark.table("mor3.db.t").select(col("_file"), col("k"))
      .groupBy(col("_file"))
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi"), count(lit(1)).as("n"))
      .orderBy(col("lo")).head() match {
        case r => (r.getLong(1), r.getLong(2), r.getLong(3))
      }
    withMor { spark.sql(s"DELETE FROM mor3.db.t WHERE k BETWEEN $lo AND $hi") }
    assert(dataFileState(dir).size == 3, "fully-deleted file should drop")
    assert(liveDvEntries(dir).isEmpty, "whole-file delete must not write a DV")
    assert(spark.table("mor3.db.t").count() == 4000 - n)
    assert(spark.table("mor3.db.t").agg(min(col("k"))).head.getLong(0) == hi + 1)
  }

  test("time travel reads each generation's own delete state") {
    val root = mkCatalog("mor4")
    spark.range(0, 2000).selectExpr("id AS k").repartition(2)
      .createOrReplaceTempView("mor4_src")
    spark.sql("CREATE TABLE mor4.db.t AS SELECT * FROM mor4_src")
    val dir = s"$root/db"
    // CTAS lands loose files (no generation yet) — compact to anchor a
    // time-travel-addressable pre-delete generation
    spark.sql("CALL mor4.sys.compact(ns => 'db', target_files => 2)")
    val genBefore = GraftDataSource.readGenPointer(conf, dir).get
      .stripPrefix("gen-").toInt
    withMor { spark.sql("DELETE FROM mor4.db.t WHERE k % 3 = 0") }
    assert(spark.table("mor4.db.t").count() == (0 until 2000).count(_ % 3 != 0))
    val pre = spark.sql(s"SELECT count(*) FROM mor4.db.t VERSION AS OF $genBefore")
    assert(pre.head.getLong(0) == 2000L, "pre-delete generation must see all rows")
    // and the post-delete generation is itself addressable with its DV
    val genAfter = GraftDataSource.readGenPointer(conf, dir).get
      .stripPrefix("gen-").toInt
    val post = spark.sql(s"SELECT count(*) FROM mor4.db.t VERSION AS OF $genAfter")
    assert(post.head.getLong(0) == (0 until 2000).count(_ % 3 != 0).toLong)
  }

  test("aggregates/top-k stay exact over DVs; compaction materializes and re-enables pushdown") {
    val root = mkCatalog("mor5")
    spark.range(0, 3000).selectExpr("id AS k", "cast(id % 100 as double) AS score")
      .repartitionByRange(3, col("id")).createOrReplaceTempView("mor5_src")
    spark.sql("CREATE TABLE mor5.db.t AS SELECT * FROM mor5_src")
    val dir = s"$root/db"
    withMor { spark.sql("DELETE FROM mor5.db.t WHERE k >= 2990") } // drops the max
    val t = spark.table("mor5.db.t")
    // pushed aggregate would answer 2999 from the footer; the decline +
    // scan must answer 2989
    val agg = t.agg(count(lit(1)), min(col("k")), max(col("k"))).head
    assert(agg.getLong(0) == 2990L && agg.getLong(1) == 0L && agg.getLong(2) == 2989L)
    val plan = t.groupBy().agg(max(col("k"))).queryExecution.executedPlan.toString
    assert(!plan.contains("pushedAggs=[Graft"),
      s"aggregate must not push over a DV'd view:\n$plan")
    // pushed top-k over-delivery stays sound: deleted best rows absent
    val top = t.orderBy(col("k").desc).limit(3).collect().map(_.getLong(0)).toSeq
    assert(top == Seq(2989L, 2988L, 2987L))
    // LIMIT over a DV'd chunk never serves deleted rows
    assert(t.orderBy(col("k")).limit(5).collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L))

    spark.sql("CALL mor5.sys.compact(ns => 'db', target_files => 2)")
    assert(liveDvEntries(dir).isEmpty, "compaction must materialize DVs")
    val t2 = spark.table("mor5.db.t")
    assert(t2.count() == 2990L)
    val plan2 = t2.groupBy().agg(max(col("k"))).queryExecution.executedPlan.toString
    assert(plan2.contains("pushedAggs=[Graft"),
      s"footer aggregates must re-enable after compaction:\n$plan2")
  }

  test("COW UPDATE after MoR DELETE: deleted rows stay deleted, carried files keep DVs") {
    val root = mkCatalog("mor6")
    spark.range(0, 4000).selectExpr("id AS k", "id % 7 AS v")
      .repartitionByRange(4, col("id")).createOrReplaceTempView("mor6_src")
    spark.sql("CREATE TABLE mor6.db.t AS SELECT * FROM mor6_src")
    val dir = s"$root/db"
    // per-file key ranges BEFORE any DML (range-clustered → contiguous)
    val ranges = spark.table("mor6.db.t").select(col("_file"), col("k"))
      .groupBy(col("_file")).agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      .collect().map(r => new Path(r.getString(0)).getName -> (r.getLong(1), r.getLong(2)))
      .toMap
    val before = dataFileState(dir).keySet.map(new Path(_).getName)
    withMor { spark.sql("DELETE FROM mor6.db.t WHERE k % 13 = 1") }
    val deleted = (0 until 4000).count(_ % 13 == 1)
    // UPDATE rewrites only the file(s) holding k<100; others carry WITH DVs
    spark.sql("UPDATE mor6.db.t SET v = -1 WHERE k < 100")
    val t = spark.table("mor6.db.t")
    assert(t.count() == 4000 - deleted)
    assert(t.filter(col("k") % 13 === 1).count() == 0, "DV lost through COW UPDATE")
    assert(t.filter(col("v") === -1).count() == (0 until 100).count(_ % 13 != 1))
    val dvs = liveDvEntries(dir)
    assert(dvs.nonEmpty, "carried files' DVs must survive the COW rewrite")
    // a REWRITTEN file sheds its whole DV (the replacement holds live
    // rows only); carried files keep theirs — remaining DV cardinality
    // counts exactly the deletions in files the UPDATE did not touch
    val rewritten = before -- dataFileState(dir).keySet.map(new Path(_).getName)
    val shed = rewritten.toSeq.map { f =>
      val (lo, hi) = ranges(f)
      (lo to hi).count(_ % 13 == 1)
    }.sum
    assert(rewritten.nonEmpty, "the UPDATE should have rewritten at least one file")
    assert(dvs.map(_._4).sum == deleted - shed,
      s"carried DV cardinality: expected ${deleted - shed} (=$deleted-$shed), " +
        s"got ${dvs.map(_._4).sum}")
  }

  test("_pos metadata column: dense per-file ordinals, stable under projection") {
    val root = mkCatalog("mor7")
    spark.range(0, 1000).selectExpr("id AS k").repartition(2)
      .createOrReplaceTempView("mor7_src")
    spark.sql("CREATE TABLE mor7.db.t AS SELECT * FROM mor7_src")
    val byFile = spark.table("mor7.db.t").select(col("_file"), col("_pos"))
      .collect().groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted)
    byFile.foreach { case (f, ps) =>
      assert(ps.toSeq == (0L until ps.length).toSeq, s"$f positions not dense: ${ps.take(5).mkString(",")}")
    }
    assert(byFile.values.map(_.length).sum == 1000)
    val _ = root
  }

  test("corrupt DV blob refuses loudly; verify_table flags a lying cardinality") {
    val root = mkCatalog("mor8")
    spark.range(0, 1000).selectExpr("id AS k").coalesce(1)
      .createOrReplaceTempView("mor8_src")
    spark.sql("CREATE TABLE mor8.db.t AS SELECT * FROM mor8_src")
    val dir = s"$root/db"
    withMor { spark.sql("DELETE FROM mor8.db.t WHERE k % 10 = 7") }
    val resolved = GraftDataSource.resolveDataDir(conf, dir)
    val fs = new Path(resolved).getFileSystem(conf)
    val (tbl, rel, dvRel, card) = liveDvEntries(dir).head
    assert(tbl == "t" && card == 100)
    val dvPath = new Path(dir, dvRel)
    // verify_table over the healthy state: every row ok
    val okReport = graft.operators.FormatOps.verifyTable(spark, dir, Some("t"))
    assert(okReport.forall(_._2), s"healthy table flagged: $okReport")
    // flip one payload byte → reads refuse rather than mis-subtract
    val bytes = {
      val st = fs.getFileStatus(dvPath)
      val b = new Array[Byte](st.getLen.toInt)
      val in = fs.open(dvPath); try in.readFully(0, b) finally in.close(); b
    }
    val evil = bytes.clone(); evil(6) = (evil(6) ^ 0x40).toByte
    val out = fs.create(dvPath, true); try out.write(evil) finally out.close()
    // COUNT(*) never opens the blob — it answers from footer rows minus
    // the MANIFEST cardinality, so it stays correct even now (the
    // manifest is intact; only the blob payload is flipped)
    assert(spark.table("mor8.db.t").count() == 900)
    // any query that actually reads rows must decode the blob → refuse
    val e = intercept[Exception] {
      spark.table("mor8.db.t").agg(org.apache.spark.sql.functions.sum("k")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("delete vector")), s"wrong refusal: $e")
    // verify_table emits one row PER DV blob: the flipped blob's row is
    // flagged (checksum), while the DATA file's row stays green — the
    // audit names the broken artifact
    val flippedReport = graft.operators.FormatOps.verifyTable(spark, dir, Some("t"))
    val dvRows = flippedReport.filter(_._1.contains(".dvg"))
    assert(dvRows.size == 1, s"expected one DV report row: $flippedReport")
    assert(!dvRows.head._2 && dvRows.head._5.exists(_.contains("delete vector")),
      s"corrupt DV blob not flagged: $dvRows")
    assert(flippedReport.filterNot(_._1.contains(".dvg")).forall(_._2),
      s"data file wrongly flagged for a sidecar fault: $flippedReport")
    // restore the blob; now make the MANIFEST lie instead (cardinality+1
    // — the exact number pushed COUNT(*) subtracts): verify_table must
    // flag the mismatch even though the blob itself is pristine
    val out2 = fs.create(dvPath, true); try out2.write(bytes) finally out2.close()
    assert(spark.table("mor8.db.t").count() == 900)
    assert(graft.operators.FormatOps.verifyTable(spark, dir, Some("t")).forall(_._2))
    val resolvedGen = new Path(GraftDataSource.resolveDataDir(conf, dir))
    val entries = GraftDataSource.readDvManifest(fs, resolvedGen)
    GraftDataSource.writeDvManifest(fs, resolvedGen,
      entries.map { case (t2, r2, d2, n2) => (t2, r2, d2, n2 + 1) })
    val lyingReport = graft.operators.FormatOps.verifyTable(spark, dir, Some("t"))
    val lyingDv = lyingReport.filter(_._1.contains(".dvg"))
    assert(lyingDv.size == 1 && !lyingDv.head._2 &&
      lyingDv.head._5.exists(_.contains("manifest claims")),
      s"lying manifest cardinality not flagged: $lyingReport")
    // put the truth back so later tests over this warehouse stay clean
    GraftDataSource.writeDvManifest(fs, resolvedGen, entries)
    assert(spark.table("mor8.db.t").count() == 900)
    val _ = rel
  }

  private def withMorAll[T](body: => T): T = {
    Seq("deleteMode", "updateMode", "mergeMode")
      .foreach(k => spark.conf.set(s"spark.graft.$k", "merge-on-read"))
    try body finally Seq("deleteMode", "updateMode", "mergeMode")
      .foreach(k => spark.conf.set(s"spark.graft.$k", "copy-on-write"))
  }

  test("MoR UPDATE: untouched files byte-identical, changed rows land in new files + DV") {
    val root = mkCatalog("moru")
    spark.range(0, 6000).selectExpr("id AS k", "id % 9 AS v")
      .repartitionByRange(6, col("id")).createOrReplaceTempView("moru_src")
    spark.sql("CREATE TABLE moru.db.t AS SELECT * FROM moru_src")
    val dir = s"$root/db"
    val before = dataFileState(dir)
    withMorAll { spark.sql("UPDATE moru.db.t SET v = -7 WHERE k % 531 = 2") }
    val after = dataFileState(dir)
    // every ORIGINAL file still live and byte-identical; replacement rows
    // land in NEW files (delete+insert), none of the originals rewritten
    before.foreach { case (rel, (sz, mt)) =>
      val name = new Path(rel).getName
      val hit = after.find(e => new Path(e._1).getName == name)
      assert(hit.isDefined, s"original file $rel vanished")
      assert(hit.get._2 == ((sz, mt)), s"original file $rel was rewritten")
    }
    assert(after.size > before.size, "updated rows must land in new data files")
    val touched = (0 until 6000).count(_ % 531 == 2)
    assert(liveDvEntries(dir).map(_._4).sum == touched)
    val t = spark.table("moru.db.t")
    assert(t.count() == 6000)
    assert(t.filter(col("v") === -7).count() == touched)
    assert(t.filter(col("k") % 531 === 2 && col("v") =!= -7).count() == 0)
    // untouched rows intact
    assert(t.filter(col("k") % 531 =!= 2)
      .filter(col("v") =!= col("k") % 9).count() == 0)
  }

  test("MoR MERGE: matched update + matched delete + not-matched insert in one commit") {
    val root = mkCatalog("morm")
    spark.range(0, 3000).selectExpr("id AS k", "id % 9 AS v")
      .repartitionByRange(3, col("id")).createOrReplaceTempView("morm_src")
    spark.sql("CREATE TABLE morm.db.t AS SELECT * FROM morm_src")
    val dir = s"$root/db"
    val before = dataFileState(dir)
    // batch: keys 0..49 update (v=-1), 50..99 delete, 5000..5049 insert
    spark.range(0, 150).selectExpr(
      "CASE WHEN id < 50 THEN id WHEN id < 100 THEN id ELSE id - 100 + 5000 END AS k",
      "CASE WHEN id < 50 THEN 'u' WHEN id < 100 THEN 'd' ELSE 'i' END AS op")
      .createOrReplaceTempView("morm_batch")
    withMorAll {
      spark.sql("""MERGE INTO morm.db.t t USING morm_batch b ON t.k = b.k
        WHEN MATCHED AND b.op = 'u' THEN UPDATE SET v = -1
        WHEN MATCHED AND b.op = 'd' THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (b.k, -2)""")
    }
    val after = dataFileState(dir)
    before.foreach { case (rel, (sz, mt)) =>
      val name = new Path(rel).getName
      val hit = after.find(e => new Path(e._1).getName == name)
      assert(hit.isDefined && hit.get._2 == ((sz, mt)),
        s"original file $rel rewritten or dropped by MoR MERGE")
    }
    val t = spark.table("morm.db.t")
    assert(t.count() == 3000 - 50 + 50)
    assert(t.filter(col("v") === -1).count() == 50) // updates
    assert(t.filter(col("k") >= 50 && col("k") < 100).count() == 0) // deletes
    assert(t.filter(col("v") === -2).count() == 50) // inserts
    assert(liveDvEntries(dir).map(_._4).sum == 100) // 50 updated + 50 deleted
    // untouched rows intact
    assert(t.filter(col("k") >= 100 && col("k") < 3000)
      .filter(col("v") =!= col("k") % 9).count() == 0)
    val _ = root
  }

  test("bucketed tables: MoR DELETE writes DVs; UPDATE keeps the layout through MoR") {
    val root = mkCatalog("morb")
    val dir = s"$root/db"
    spark.range(0, 2000).selectExpr("id AS k", "id % 3 AS v")
      .write.format("graft").option("table", "t").option("bucketBy", "k:4")
      .mode("overwrite").save(dir)
    spark.sql("CREATE TABLE IF NOT EXISTS morb.db.t (k BIGINT, v BIGINT) USING graft")
    val before = dataFileState(dir)
    withMorAll { spark.sql("DELETE FROM morb.db.t WHERE k % 17 = 5") }
    // a pure position delete writes NO rows, so the bucket contract is
    // untouchable: DVs appear, every bucket file stays byte-identical
    assert(liveDvEntries(dir).nonEmpty, "bucketed MoR DELETE must write delete vectors")
    assert(dataFileState(dir) == before, "bucketed MoR DELETE rewrote data files")
    assert(spark.table("morb.db.t").filter(col("k") % 17 === 5).count() == 0)
    assert(GraftDataSource.readBucketMarker(conf, dir, "t").isDefined,
      "bucket layout must survive the MoR delete")
    // UPDATE rides MoR too (r16): replacement rows route through the
    // bucketed writer and land as bucket-TAGGED files, originals stay
    // byte-identical, DV cardinality grows by the touched rows (the
    // deeper layout assertions live in MorBucketUpdateSpec)
    val dvCardBefore = liveDvEntries(dir).map(_._4).sum
    val beforeUpd = dataFileState(dir)
    withMorAll { spark.sql("UPDATE morb.db.t SET v = -1 WHERE k % 17 = 6") }
    val updated = (0 until 2000).count(_ % 17 == 6).toLong
    assert(liveDvEntries(dir).map(_._4).sum == dvCardBefore + updated,
      "bucketed UPDATE must take the MoR path (DVs for the old rows)")
    beforeUpd.foreach { case (rel, st) =>
      val name = new Path(rel).getName
      val hit = dataFileState(dir).find(e => new Path(e._1).getName == name)
      assert(hit.isDefined && hit.get._2 == st,
        s"bucketed MoR UPDATE rewrote original $rel")
    }
    assert(spark.table("morb.db.t").filter(col("v") === -1).count() == updated)
    assert(GraftDataSource.readBucketMarker(conf, dir, "t").isDefined)
  }

  test("DESCRIBE surfaces DV state; planner row estimate subtracts deleted rows") {
    val root = mkCatalog("mord")
    spark.range(0, 5000).selectExpr("id AS k").repartition(2)
      .createOrReplaceTempView("mord_src")
    spark.sql("CREATE TABLE mord.db.t AS SELECT * FROM mord_src")
    withMor { spark.sql("DELETE FROM mord.db.t WHERE k % 2 = 0") }
    val props = spark.sql("DESCRIBE TABLE EXTENDED mord.db.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val tblProps = spark.sql("SHOW TBLPROPERTIES mord.db.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val all = props ++ tblProps
    assert(all.get("deleteVectors.deletedRows").contains("2500"),
      s"DESCRIBE must surface the DV state, got: ${all.filter(_._1.startsWith("delete"))}")
    // planner cardinality: the scan's estimate must reflect the LIVE
    // 2500 rows, not the on-disk 5000 — half-deleted tables should still
    // broadcast-plan at their live size
    val rel = spark.table("mord.db.t").queryExecution.optimizedPlan
    val est = rel.stats.rowCount
    est.foreach(n => assert(n.toLong <= 2600 && n.toLong >= 1,
      s"row estimate $n ignores the 2500 deleted rows"))
    val _ = root
  }

  test("25 sequential MoR deletes: merged DVs, vacuum reclaims every superseded blob") {
    val root = mkCatalog("morv")
    spark.range(0, 4000).selectExpr("id AS k").repartition(4)
      .createOrReplaceTempView("morv_src")
    spark.sql("CREATE TABLE morv.db.t AS SELECT * FROM morv_src")
    val dir = s"$root/db"
    withMor {
      (1 to 25).foreach(i => spark.sql(s"DELETE FROM morv.db.t WHERE k % 200 = $i"))
    }
    val deleted = (0 until 4000).count(k => (1 to 25).contains(k % 200))
    def dvgFiles(): Seq[String] = {
      val fs = new Path(dir).getFileSystem(conf)
      val out = Seq.newBuilder[String]
      val it = fs.listFiles(new Path(dir), true)
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".dvg")) out += p.toString
      }
      out.result()
    }
    // every commit re-merged each touched file's vector: ONE live entry
    // per file, but 25 generations of superseded blobs still on disk
    val live = liveDvEntries(dir)
    assert(live.map(_._4).sum == deleted)
    assert(live.size <= 4)
    assert(dvgFiles().size > live.size, "expected superseded blobs before vacuum")
    spark.sql("CALL morv.sys.vacuum(ns => 'db', grace_ms => 0)")
    // only the live generation's referenced blobs survive the sweep
    val after = dvgFiles()
    assert(after.size == live.size,
      s"vacuum left ${after.size} blobs for ${live.size} live entries: $after")
    assert(spark.table("morv.db.t").count() == 4000 - deleted)
    assert(spark.table("morv.db.t")
      .filter(col("k") % 200 >= 1 && col("k") % 200 <= 25).count() == 0)
  }

  test("materialize_dvs rewrites only files past min_fraction; 0.0 clears the rest") {
    val root = mkCatalog("morm2")
    spark.range(0, 4000).selectExpr("id AS k", "id % 9 AS v")
      .repartitionByRange(4, col("id")).createOrReplaceTempView("morm2_src")
    spark.sql("CREATE TABLE morm2.db.t AS SELECT * FROM morm2_src")
    val dir = s"$root/db"
    withMor {
      // heavy deletes on the low range (≈50% of the first file), light
      // everywhere (%101)
      spark.sql("DELETE FROM morm2.db.t WHERE k < 500 AND k % 2 = 0")
      spark.sql("DELETE FROM morm2.db.t WHERE k % 101 = 7")
    }
    val totalDeleted = (0 until 4000).count(k =>
      (k < 500 && k % 2 == 0) || k % 101 == 7)
    assert(liveDvEntries(dir).map(_._4).sum == totalDeleted)
    val before = dataFileState(dir)
    // pass 1: only the heavy file qualifies at 20%
    val out1 = spark.sql(
      "CALL morm2.sys.materialize_dvs(ns => 'db', table => 't', min_fraction => 0.2)")
      .collect()
    assert(out1.length == 1, s"expected exactly the heavy file, got ${out1.toSeq}")
    val after1 = dataFileState(dir)
    // the materialized file is gone from the live view; the others carry
    assert((before.keySet -- after1.keySet).size == 1)
    val dvs1 = liveDvEntries(dir)
    assert(dvs1.nonEmpty && dvs1.map(_._4).sum ==
      totalDeleted - out1.head.getLong(1))
    assert(spark.table("morm2.db.t").count() == 4000 - totalDeleted)
    // pass 2: threshold 0 clears every remaining vector
    val out2 = spark.sql(
      "CALL morm2.sys.materialize_dvs(ns => 'db', table => 't', min_fraction => 0.0)")
      .collect()
    assert(out2.nonEmpty)
    assert(liveDvEntries(dir).isEmpty, "all DVs must be materialized")
    assert(spark.table("morm2.db.t").count() == 4000 - totalDeleted)
    // footer-served aggregates come back once no DV remains
    val plan = spark.table("morm2.db.t").groupBy().agg(max(col("k")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggs=[Graft"), s"pushdown must re-enable:\n$plan")
    // idempotent: nothing left to materialize, no generation churn
    val genBefore = GraftDataSource.readGenPointer(conf, dir)
    assert(spark.sql("CALL morm2.sys.materialize_dvs(ns => 'db', table => 't')")
      .collect().isEmpty)
    assert(GraftDataSource.readGenPointer(conf, dir) == genBefore)
  }

  test("MoR DELETE with an IN-subquery predicate (join-shaped condition)") {
    val root = mkCatalog("mors")
    spark.range(0, 3000).selectExpr("id AS k", "id % 4 AS v").repartition(3)
      .createOrReplaceTempView("mors_src")
    spark.sql("CREATE TABLE mors.db.t AS SELECT * FROM mors_src")
    spark.range(0, 100).selectExpr("id * 13 AS kk").createOrReplaceTempView("mors_keys")
    val dir = s"$root/db"
    val before = dataFileState(dir)
    withMor {
      spark.sql("DELETE FROM mors.db.t WHERE k IN (SELECT kk FROM mors_keys)")
    }
    assert(dataFileState(dir) == before, "subquery MoR DELETE rewrote data files")
    val deleted = (0 until 100).map(_ * 13).count(_ < 3000) // all 100 (max 1287)
    assert(liveDvEntries(dir).map(_._4).sum == deleted)
    assert(spark.table("mors.db.t").count() == 3000 - deleted)
    assert(spark.table("mors.db.t")
      .filter(col("k") % 13 === 0 && col("k") < 1300).count() == 0)
  }

  test("MoR DELETE after RENAME COLUMN: pre-rename files DV'd through the chain") {
    val root = mkCatalog("more")
    spark.range(0, 2000).selectExpr("id AS old_k", "id % 5 AS v").repartition(2)
      .createOrReplaceTempView("more_src")
    spark.sql("CREATE TABLE more.db.t AS SELECT * FROM more_src")
    val dir = s"$root/db"
    spark.sql("ALTER TABLE more.db.t RENAME COLUMN old_k TO k")
    val before = dataFileState(dir)
    withMor { spark.sql("DELETE FROM more.db.t WHERE k % 9 = 4") }
    // pre-rename files served through the rename chain get position
    // deletes like any other — no rewrite, exact survivors
    assert(dataFileState(dir).keySet.map(new Path(_).getName) ==
      before.keySet.map(new Path(_).getName))
    val deleted = (0 until 2000).count(_ % 9 == 4)
    assert(liveDvEntries(dir).map(_._4).sum == deleted)
    val t = spark.table("more.db.t")
    assert(t.count() == 2000 - deleted)
    assert(t.filter(col("k") % 9 === 4).count() == 0)
    assert(t.agg(sum(col("k"))).head.getLong(0) ==
      (0 until 2000).filterNot(_ % 9 == 4).map(_.toLong).sum)
  }

  test("hive-layout dirs: MoR DELETE works (sidecar only); UPDATE refuses with guidance") {
    // the catalog deliberately takes no hive partition transforms (the
    // path API's partitionBy owns that layout), so a namespace dir with
    // k=v subdirs exposes a schema WITHOUT the path columns. A row-level
    // rewrite would silently drop the partition values — both machineries
    // must refuse UPDATE/MERGE with guidance, while the MoR DELETE (which
    // writes no rows) keeps working and path readers keep their values.
    val root = mkCatalog("morp")
    val dir = s"$root/db"
    spark.range(0, 3000)
      .selectExpr("id AS k", "concat('p', id % 3) AS part", "id % 11 AS v")
      .write.format("graft").option("table", "t").option("partitionBy", "part")
      .mode("overwrite").save(dir)
    val before = dataFileState(dir)
    val deleted = (0 until 3000).count(_ % 13 == 2)
    withMor { spark.sql("DELETE FROM morp.db.t WHERE k % 13 = 2") }
    assert(dataFileState(dir).keySet == before.keySet, "MoR DELETE must not rewrite")
    assert(liveDvEntries(dir).map(_._4).sum == deleted)
    assert(spark.table("morp.db.t").count() == 3000 - deleted)
    // path readers keep partition values, with the DVs applied
    val pathRead = spark.read.format("graft").option("table", "t").load(dir)
    assert(pathRead.count() == 3000 - deleted)
    assert(pathRead.filter(col("part") =!= concat(lit("p"), col("k") % 3)).count() == 0)
    // UPDATE refuses in BOTH modes, pointing at the path-API DML
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    for (mor <- Seq(true, false)) {
      val e = intercept[Exception] {
        if (mor) withMorAll { spark.sql("UPDATE morp.db.t SET v = -1 WHERE k % 17 = 6") }
        else spark.sql("UPDATE morp.db.t SET v = -1 WHERE k % 17 = 6")
      }
      assert(messages(e).exists(_.contains("hive-partitioned")),
        s"mor=$mor: wrong refusal: $e")
    }
    // the path-API DML remains the supported mutation for this layout
    graft.operators.FormatOps.updateWhere(spark, dir, "t",
      Map("v" -> lit(-1L)), col("k") % 17 === 6)
    val after = spark.read.format("graft").option("table", "t").load(dir)
    assert(after.filter(col("v") === -1).count() ==
      (0 until 3000).count(k => k % 17 == 6 && k % 13 != 2))
    assert(after.filter(col("part") =!= concat(lit("p"), col("k") % 3)).count() == 0)
  }

  test("DELETE matching nothing publishes no generation") {
    val root = mkCatalog("mor9")
    spark.range(0, 100).selectExpr("id AS k").coalesce(1)
      .createOrReplaceTempView("mor9_src")
    spark.sql("CREATE TABLE mor9.db.t AS SELECT * FROM mor9_src")
    val dir = s"$root/db"
    val genBefore = GraftDataSource.readGenPointer(conf, dir)
    withMor { spark.sql("DELETE FROM mor9.db.t WHERE k > 1000000") }
    assert(GraftDataSource.readGenPointer(conf, dir) == genBefore,
      "empty-footprint DELETE must not churn a generation")
    assert(spark.table("mor9.db.t").count() == 100)
  }

  /** Sibling tables `t` and `u` in one namespace, 4,000 rows each, with
    * a merge-on-read DELETE of 400 rows on each: every later publish in
    * the namespace must carry both tables' delete vectors. */
  private def siblingsWithDvs(cat: String): String = {
    val root = mkCatalog(cat)
    spark.range(0, 4000).selectExpr("id AS k")
      .repartitionByRange(4, col("id")).createOrReplaceTempView(s"${cat}_src")
    spark.sql(s"CREATE TABLE $cat.db.t AS SELECT * FROM ${cat}_src")
    spark.sql(s"CREATE TABLE $cat.db.u AS SELECT * FROM ${cat}_src")
    withMor {
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
      spark.sql(s"DELETE FROM $cat.db.u WHERE k % 10 = 7")
    }
    assert(spark.table(s"$cat.db.t").count() == 3600)
    s"$root/db"
  }

  test("DROP TABLE of a sibling keeps the survivor's delete vectors") {
    val dir = siblingsWithDvs("mor10")
    spark.sql("DROP TABLE mor10.db.u")
    val t = spark.table("mor10.db.t")
    assert(t.count() == 3600, "dropping u resurrected t's deleted rows")
    assert(t.filter(col("k") % 10 === 3).count() == 0)
    // only carried files keep a delete vector: u's files left, so did theirs
    val dvs = liveDvEntries(dir)
    assert(dvs.map(_._1).toSet == Set("t"), s"u's entries carried: $dvs")
    assert(dvs.map(_._4).sum == 400)
  }

  test("CTAS into a namespace keeps its siblings' delete vectors") {
    siblingsWithDvs("mor11")
    spark.sql("CREATE TABLE mor11.db.w AS SELECT * FROM mor11_src WHERE k < 10")
    assert(spark.table("mor11.db.t").count() == 3600, "CTAS resurrected t's deleted rows")
    assert(spark.table("mor11.db.u").count() == 3600, "CTAS resurrected u's deleted rows")
    assert(spark.table("mor11.db.w").count() == 10)
  }
}
