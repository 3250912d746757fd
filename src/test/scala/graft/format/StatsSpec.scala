package graft.format

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Chunk-level min/max stats: correctness of skip decisions and of query
  * results under skipping. */
class StatsSpec extends SparkSpec {

  private def writeSorted(chunkRows: Int): String = {
    val dir = Files.createTempDirectory("graft-stats").toString
    // id sorted => chunks hold disjoint id ranges => ranges are skippable
    spark.range(0, 10000).coalesce(1)
      .selectExpr("id", "concat('name', lpad(cast(id as string), 6, '0')) AS nm",
        "cast(id AS double) / 7 AS d",
        "if(id % 13 = 0, null, id * 2) AS maybe")
      .write.format("graft").option("chunkrows", chunkRows.toString)
      .mode("overwrite").save(dir)
    dir
  }

  test("footer carries per-chunk stats") {
    val dir = writeSorted(1000)
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".graft")).head
    val hp = new Path(file.toString)
    val r = GraftFileReader.open(hp.getFileSystem(new Configuration()), hp)
    try {
      assert(r.footer.chunks.size == 10)
      val t0 = r.footer.chunks.head.tables.head
      val idStats = t0.stats(0)
      assert(Stats.longOf(idStats.min.get) == 0L)
      assert(Stats.longOf(idStats.max.get) == 999L)
      assert(!idStats.hasNulls)
      assert(t0.stats(3).hasNulls) // maybe-col has nulls
      val nmStats = t0.stats(1)
      assert(new String(nmStats.min.get) == "name000000")
    } finally r.close()
  }

  test("filtered scans return identical results with chunk skipping") {
    val dir = writeSorted(500)
    val g = spark.read.format("graft").load(dir)
    val p = spark.range(0, 10000)
      .selectExpr("id", "concat('name', lpad(cast(id as string), 6, '0')) AS nm",
        "cast(id AS double) / 7 AS d",
        "if(id % 13 = 0, null, id * 2) AS maybe")
    for (cond <- Seq(
        col("id") > 9500, col("id") <= 3, col("id") === 7777,
        col("id") > 2000 && col("id") < 2100,
        col("nm") === "name004321", col("nm") < "name000100",
        col("d") > 1300.0, col("maybe").isNull, col("maybe").isNotNull,
        col("id") < -5, col("id").isin(5, 9999, 12345))) {
      val got = canon(g.filter(cond))
      val want = canon(p.filter(cond))
      assert(got == want, s"mismatch for $cond")
    }
  }

  test("skip logic is sound and effective") {
    val schema = StructType(Seq(StructField("x", LongType), StructField("s", StringType)))
    val stats = Map(
      "x" -> ColStats(0, Some(Stats.longBytes(100)), Some(Stats.longBytes(200))),
      "s" -> ColStats(1, Some("bbb".getBytes), Some("ddd".getBytes)))
    def skip(f: Filter): Boolean = Stats.canSkip(f, schema, stats)
    // must skip: provably disjoint
    assert(skip(EqualTo("x", 99L)))
    assert(skip(GreaterThan("x", 200L)))
    assert(skip(LessThan("x", 100L)))
    assert(skip(LessThanOrEqual("x", 99L)))
    assert(skip(EqualTo("s", "aaa")))
    assert(skip(In("x", Array(1L, 50L, 250L))))
    assert(skip(And(EqualTo("x", 99L), EqualTo("s", "ccc"))))
    assert(skip(Or(EqualTo("x", 99L), GreaterThan("x", 300L))))
    // must keep: possibly overlapping or not understood
    assert(!skip(EqualTo("x", 150L)))
    assert(!skip(GreaterThanOrEqual("x", 200L)))
    assert(!skip(EqualTo("s", "ccc")))
    assert(!skip(IsNull("s")))
    assert(skip(IsNull("x"))) // x has no nulls
    assert(!skip(IsNotNull("x")))
    // all-null column + known row count: IsNotNull provably empty
    val allNull = stats + ("x" -> ColStats(500, None, None))
    assert(Stats.canSkip(IsNotNull("x"), schema, allNull, numRows = 500))
    assert(!Stats.canSkip(IsNotNull("x"), schema, allNull, numRows = 600))
    assert(!Stats.canSkip(IsNotNull("x"), schema, allNull)) // unknown rows: keep
    assert(!skip(Or(EqualTo("x", 99L), EqualTo("x", 150L))))
    assert(!skip(EqualTo("unknown", 1)))
    // int-typed literal against long column still compares
    assert(skip(EqualTo("x", 5)))
  }

  test("reported statistics let small graft tables auto-broadcast") {
    val dim = Files.createTempDirectory("graft-statdim").toString
    val fact = Files.createTempDirectory("graft-statfact").toString
    spark.range(0, 50).selectExpr("id AS k", "concat('d', id) AS dv")
      .write.format("graft").mode("append").save(dim)
    spark.range(0, 20000).selectExpr("id", "id % 50 AS k")
      .write.format("graft").mode("append").save(fact)
    val joined = spark.read.format("graft").load(fact)
      .join(spark.read.format("graft").load(dim), Seq("k")) // no broadcast hint
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"), planStr)
    assert(joined.count() == 20000)
  }

  test("chunk skipping actually skips: one batch decoded for a tail range") {
    import graft.sources.GraftPartitionReader
    val dir = writeSorted(1000) // 10 chunks of disjoint id ranges
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".graft")).head
    val hp = new Path(file.toString)
    val reader = new GraftPartitionReader(
      hp.getFileSystem(new Configuration()), hp,
      StructType(Seq(StructField("id", LongType))), None,
      Array(GreaterThanOrEqual("id", 9000L)), -1)
    try {
      var batches = 0
      var rows = 0L
      while (reader.next()) { batches += 1; rows += reader.get().numRows() }
      assert(batches == 1, s"expected 1 decoded chunk, got $batches")
      assert(rows == 1000)
    } finally reader.close()
  }

  test("limit pushdown stops decoding early but agrees on results") {
    val dir = writeSorted(500)
    val g = spark.read.format("graft").load(dir)
    assert(g.limit(42).count() == 42)
    assert(g.count() == 10000)
  }
}
