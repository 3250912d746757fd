package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import graft.SparkSpec

/** DML candidate classification must resolve pushed predicate names
  * through rename chains, exactly like the scan (PushdownRenameSpec):
  * a keyed DELETE after `RENAME COLUMN` classifies pre-rename files by
  * their OLD-name zone maps — without the translation every pre-rename
  * file is a candidate and a 1-row DELETE rewrites the whole archive.
  * Columns a file PREDATES (post-`ADD COLUMN` predicates over the old
  * tail) read as all-null there, so a comparison predicate carries the
  * whole pre-ADD tail untouched. */
class DmlRenamePruneSpec extends SparkSpec {
  private def conf = new Configuration()

  private def carryCount(dir: String): Int = {
    val gen = GraftDataSource.readGenPointer(conf, dir).get
    GraftDataSource.readCarriedRefs(
      new Path(dir).getFileSystem(conf), new Path(dir, gen)).size
  }

  /** Table `t` of 40,000 rows (id BIGINT, v vType), range-clustered on
    * v = vOf(id) into `ranged` files. */
  private def seed(cat: String, ranged: Int = 4, vType: String = "BIGINT",
      vOf: String = "id"): String = {
    val root = Files.createTempDirectory(s"graft-dmlren-$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v $vType) USING graft")
    spark.range(0, 40000).selectExpr("id", s"$vOf AS v")
      .repartitionByRange(ranged, col("v")).sortWithinPartitions("v")
      .writeTo(s"$cat.db.t").append()
    root
  }

  test("classification resolves a renamed key through the chain per file") {
    val root = seed("graft_dr1")
    val dir = s"$root/db"
    spark.sql("ALTER TABLE graft_dr1.db.t RENAME COLUMN v TO val")
    spark.range(40000, 50000).selectExpr("id", "id AS val")
      .repartitionByRange(2, col("val")).sortWithinPartitions("val")
      .writeTo("graft_dr1.db.t").append()
    val listed = GraftDataSource.listPartitionedSized(conf, dir)
    assert(listed.size == 6, s"want 6 physical files, got ${listed.size}")
    // CURRENT-name key that lives mid-file in ONE pre-rename file: the
    // old-name zone maps must disprove it everywhere else
    val files = Generations.classifyForDml(conf, dir,
      (GraftDataSource.resolveDataDir(conf, dir), listed), "t",
      Some(Seq(graft.format.Stats.FilterPrune(EqualTo("val", 15000L)))))
    val cands = files.filter(_.candidate)
    assert(cands.size == 1,
      s"rename must not widen the candidate set: ${cands.map(_.path.getName)}")
  }

  test("keyed SQL DELETE after a rename rewrites one file, carries the rest") {
    val root = seed("graft_dr2")
    val dir = s"$root/db"
    spark.sql("ALTER TABLE graft_dr2.db.t RENAME COLUMN v TO val")
    spark.range(40000, 50000).selectExpr("id", "id AS val")
      .repartitionByRange(2, col("val")).sortWithinPartitions("val")
      .writeTo("graft_dr2.db.t").append()
    spark.sql("DELETE FROM graft_dr2.db.t WHERE val = 15000")
    val t = spark.table("graft_dr2.db.t")
    assert(t.count() == 49999L)
    assert(t.filter(col("val") === 15000L).count() == 0L)
    assert(t.filter(col("val") === 14999L).count() == 1L)
    // 6 live files; the keyed delete touches the one pre-rename file
    // whose range admits the key — 5 ride the carry manifest by reference
    assert(carryCount(dir) == 5,
      "a post-rename keyed DELETE must carry every other file by reference")
  }

  test("predicate on an added column carries the whole pre-ADD tail") {
    val root = seed("graft_dr3")
    val dir = s"$root/db"
    spark.sql("ALTER TABLE graft_dr3.db.t ADD COLUMN score BIGINT")
    spark.range(40000, 41000).selectExpr("id", "id AS v", "id % 10 AS score")
      .writeTo("graft_dr3.db.t").append()
    spark.sql("DELETE FROM graft_dr3.db.t WHERE score = 3")
    val t = spark.table("graft_dr3.db.t")
    assert(t.count() == 41000L - 100L)
    assert(t.filter(col("score") === 3L).count() == 0L)
    assert(t.filter(col("score").isNull).count() == 40000L,
      "pre-ADD rows read the new column as null and must survive the DELETE")
    // 4 pre-ADD + 1 post-ADD file: only the post-ADD file can hold
    // score=3, the pre-ADD tail is carried on absence alone
    assert(carryCount(dir) == 4,
      "files that predate the column must never be DML candidates")
  }

  test("interleaved renames and keyed DMLs stay file-granular throughout") {
    val root = seed("graft_dr4")
    val dir = s"$root/db"
    var col0 = "v"
    var expected = 40000L
    // three rounds: rename, then one keyed DELETE per round; each DML
    // must rewrite exactly one file no matter how long the chain grows
    for ((newName, key) <- Seq(("k1", 5000L), ("k2", 15000L), ("k3", 35000L))) {
      spark.sql(s"ALTER TABLE graft_dr4.db.t RENAME COLUMN $col0 TO $newName")
      col0 = newName
      val before = GraftDataSource.listPartitionedSized(conf, dir).size
      spark.sql(s"DELETE FROM graft_dr4.db.t WHERE $newName = $key")
      expected -= 1
      assert(spark.table("graft_dr4.db.t").count() == expected)
      // every live file except the one rewritten rides by reference
      assert(carryCount(dir) == before - 1,
        s"DML after rename->$newName rewrote more than one file")
    }
    val t = spark.table("graft_dr4.db.t")
    assert(t.filter(org.apache.spark.sql.functions.col("k3")
      .isin(5000L, 15000L, 35000L)).count() == 0L)
    assert(t.agg(sum("k3")).head().getLong(0) ==
      (0L until 40000L).sum - 5000L - 15000L - 35000L)
  }

  // Past the 1000-key IN-list cap a STRING key summarizes to a
  // KeyBytesRange and a DECIMAL(p>18) key to a KeyDecimalRange. On a
  // marker-carrying table both must resolve through the rename chain
  // exactly like InKeyRange; classification once had no case for them
  // and threw a MatchError.
  for ((kind, vType, vOf) <- Seq(
      ("STRING", "STRING", "format_string('k%08d', id)"),
      ("DECIMAL(38)", "DECIMAL(38,0)", "CAST(CAST(id AS DECIMAL(18,0)) * " +
        "CAST('100000000000000000000' AS DECIMAL(21,0)) AS DECIMAL(38,0))"));
      renamed <- Seq(false, true)) {
    val where = if (renamed) "after a key rename" else "on a catalog table"
    test(s"a 5000-key $kind upsert $where carries untouched files") {
      val cat = s"graft_drk_${vType.take(3).toLowerCase}_$renamed"
      val root = seed(cat, ranged = 16, vType = vType, vOf = vOf)
      val key = if (renamed) "val" else "v"
      if (renamed) spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN v TO val")
      graft.operators.FormatOps.upsert(spark, s"$root/db", "t",
        spark.range(0, 5000).selectExpr("-1L AS id", s"$vOf AS $key"), Seq(key))
      val t = spark.table(s"$cat.db.t")
      assert(t.count() == 40000L)
      assert(t.filter(col("id") === -1L).count() == 5000L)
      // keys [0, 5000) live in the first 2-3 of 16 range-clustered files
      assert(carryCount(s"$root/db") >= 12,
        s"a $kind fold must carry the files its key range misses")
    }
  }
}
