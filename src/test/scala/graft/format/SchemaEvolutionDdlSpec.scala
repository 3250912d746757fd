package graft.format

import java.nio.file.Files

import graft.SparkSpec

/** RENAME / DROP COLUMN and widening ALTER COLUMN TYPE — metadata-only
  * DDL over the declared-schema marker ([[Evolution]]): files written
  * before the DDL keep their old names/types and must keep serving the
  * evolved view, new writes use the evolved shape, tombstones block
  * data-resurrecting re-adds, and time travel still reads the pre-DDL
  * world. */
class SchemaEvolutionDdlSpec extends SparkSpec {

  private def fresh(cat: String): String = {
    val root = Files.createTempDirectory(s"graft-$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    root
  }

  test("RENAME COLUMN: pre-rename files keep serving; new writes heal; DML agrees") {
    val cat = "evoren"
    val root = fresh(cat)
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, old_name STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN old_name TO new_name")
    // schema shows only the new spelling
    assert(spark.table(s"$cat.db.t").columns.toSeq == Seq("id", "new_name"))
    // pre-rename file still serves its values under the NEW name
    assert(spark.sql(s"SELECT new_name FROM $cat.db.t WHERE id = 1")
      .collect().head.getString(0) == "a")
    // post-rename writes mix with pre-rename files seamlessly
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 'c')")
    val all = spark.sql(s"SELECT id, new_name FROM $cat.db.t ORDER BY id").collect()
    assert(all.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // filters and aggregates over the renamed column stay correct
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE new_name >= 'b'")
      .collect().head.getLong(0) == 2)
    assert(spark.sql(s"SELECT max(new_name) FROM $cat.db.t")
      .collect().head.getString(0) == "c")
    // path-API DML sees the evolved schema (marker-first inference)
    val s = spark
    import s.implicits._
    graft.operators.FormatOps.upsert(s, s"$root/db", "t",
      Seq((2L, "B!")).toDF("id", "new_name"), Seq("id"))
    assert(spark.sql(s"SELECT new_name FROM $cat.db.t WHERE id = 2")
      .collect().head.getString(0) == "B!")
    // renaming to a claimed prior spelling is refused
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN new_name TO old_name")
    }
    assert(e.getMessage.contains("already in use"))
    // a rename CHAIN still resolves the oldest files
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN new_name TO newest")
    assert(spark.sql(s"SELECT newest FROM $cat.db.t WHERE id = 1")
      .collect().head.getString(0) == "a")
  }

  test("DROP COLUMN: hidden from reads, blocks re-add, time travel still serves it") {
    val cat = "evodrop"
    val root = fresh(cat)
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, keep STRING, gone STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'k1', 'g1'), (2, 'k2', 'g2')")
    // compact so a generation exists to time-travel back to
    graft.operators.FormatOps.compact(spark, s"$root/db", 1)
    val gen = graft.sources.GraftDataSource.readGenPointer(
      spark.sparkContext.hadoopConfiguration, s"$root/db").get
      .stripPrefix("gen-").toInt
    spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN gone")
    assert(spark.table(s"$cat.db.t").columns.toSeq == Seq("id", "keep"))
    assert(spark.sql(s"SELECT * FROM $cat.db.t WHERE id = 1").columns.toSeq ==
      Seq("id", "keep"))
    // the tombstone blocks resurrection of the old files' values
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN gone STRING")
    }
    assert(e.getMessage.contains("already in use"))
    // time travel reads the PRE-DDL world, dropped column included
    val tt = spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF $gen ORDER BY id")
    assert(tt.columns.toSeq == Seq("id", "keep", "gone"))
    assert(tt.collect().map(_.getString(2)).toSeq == Seq("g1", "g2"))
    // appends after the drop write the narrow schema and read fine
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 'k3')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").collect().head.getLong(0) == 3)
  }

  test("ALTER COLUMN TYPE widens int to long; old files decode promoted") {
    val cat = "evowide"
    fresh(cat)
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v INT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10), (2, NULL), (3, -2147483648)")
    spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN v TYPE BIGINT")
    val sch = spark.table(s"$cat.db.t").schema
    assert(sch("v").dataType == org.apache.spark.sql.types.LongType)
    // pre-ALTER int files promote, nulls survive, extremes exact
    val got = spark.sql(s"SELECT id, v FROM $cat.db.t ORDER BY id").collect()
    assert(got.map(r => if (r.isNullAt(1)) null else r.getLong(1)).toSeq ==
      Seq(10L, null, Int.MinValue.toLong))
    // post-ALTER writes land as long (beyond int range) and mix with
    // the int files
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, ${1L << 40})")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.t").collect().head
      .getLong(0) == 10L + Int.MinValue + (1L << 40))
    // filters across mixed-width files
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE v > 5")
      .collect().head.getLong(0) == 2)
    // narrowing is refused (Spark's analyzer catches it before the
    // catalog; the catalog's own widens() check is the second gate)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN v TYPE INT")
    }
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("widening") || e.getMessage.contains("lossless"))
  }

  test("rename + widen compose on one column") {
    val cat = "evoboth"
    fresh(cat)
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, n INT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 7)")
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN n TO m")
    spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN m TYPE BIGINT")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (2, 8)")
    val got = spark.sql(s"SELECT id, m FROM $cat.db.t ORDER BY id").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(7L, 8L))
  }
}
