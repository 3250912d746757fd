package graft.format

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Skip-correctness fuzz: every pruning layer (manifest, chunk, block,
  * page) must be INVISIBLE to results. Random data deliberately loaded
  * with the r13 stats edge cases — NaN/±Inf/-0.0 doubles, strings past
  * the 48-byte stat cap sharing long prefixes (truncated-bound bumps),
  * nulls — then random pushed filters compared row-for-row against
  * Spark over PARQUET of the same rows: same engine, same comparison
  * semantics, so any disagreement is a wrong skip (or a wrong keep
  * that dropped rows), never an engine difference. Integral columns
  * with nulls add the EXACT shapes the reader evaluates itself
  * (comparisons, IN-lists with a null element, null tests): when every
  * conjunct is exact no Spark `Filter` may sit above the scan, and one
  * must stay otherwise. */
class SkipFuzzSpec extends SparkSpec {

  private def canonRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Whether a Spark `Filter` sits above the graft scan; None when the
    * optimizer folded the scan away (a filter that is false or null). */
  private def filterAboveScan(df: DataFrame): Option[Boolean] = {
    val plan = df.queryExecution.executedPlan
    if (plan.collect { case b: BatchScanExec => b }.isEmpty) None
    else Some(plan.collect {
      case f: FilterExec if f.collect { case b: BatchScanExec => b }.nonEmpty => f
    }.nonEmpty)
  }

  /** One random exact conjunct on integral column `c`: a comparison, an
    * IN-list that may hold a null, or a null test; `lits` are literals of
    * the column's own type, so no cast keeps Spark from pushing it. */
  private def exactOn(rnd: scala.util.Random, c: String, lits: IndexedSeq[Any],
      nullable: Boolean): Column = {
    def l = lit(lits(rnd.nextInt(lits.size)))
    rnd.nextInt(if (nullable) 8 else 6) match {
      case 0 => col(c) === l
      case 1 => col(c) < l
      case 2 => col(c) <= l
      case 3 => col(c) > l
      case 4 => col(c) >= l
      case 5 => col(c).isin(Seq.fill(1 + rnd.nextInt(4))(lits(rnd.nextInt(lits.size))) ++
        (if (rnd.nextBoolean()) Seq(null) else Nil): _*)
      case 6 => col(c).isNull
      case _ => col(c).isNotNull
    }
  }

  /** Compare graft against parquet for `f`, and check its plan shape. */
  private def check(g: DataFrame, p: DataFrame, f: Column, allExact: Boolean, tag: String): Unit = {
    val q = g.filter(f)
    val got = canonRows(q)
    val want = canonRows(p.filter(f))
    assert(got == want, s"$tag [$f]: graft ${got.size} rows vs parquet ${want.size}")
    filterAboveScan(q).foreach { kept =>
      assert(kept != allExact, s"$tag [$f]: all exact = $allExact but a Filter " +
        s"${if (kept) "stayed" else "went"}:\n${q.queryExecution.executedPlan}")
    }
  }

  for (seed <- Seq(11L, 47L)) test(s"random filters over hostile values, seed $seed") {
    val rnd = new scala.util.Random(seed)
    val n = 30000
    // deterministic hostile columns, built driver-side for full control
    val longPrefix = "shared-prefix-" + ("x" * 40) // > 48 bytes with the tail
    val rows = (0 until n).map { i =>
      val d: java.lang.Double = rnd.nextInt(20) match {
        case 0 => Double.NaN
        case 1 => Double.PositiveInfinity
        case 2 => Double.NegativeInfinity
        case 3 => -0.0
        case 4 => 0.0
        case _ => math.floor((rnd.nextDouble() - 0.5) * 2e6) / 4.0
      }
      val s: String = rnd.nextInt(10) match {
        case 0 => null
        case 1 | 2 => longPrefix + f"${rnd.nextInt(1000)}%04d" // long, shared prefix
        case 3 => longPrefix // exactly the prefix
        case _ => f"w${rnd.nextInt(500)}%05d"
      }
      val dd: java.lang.Double = if (rnd.nextInt(15) == 0) null else d
      // integral columns with nulls: `iv` follows id (zone maps skip on
      // it), the others are scattered across their type's whole range
      def orNull[T](v: T): T = if (rnd.nextInt(12) == 0) null.asInstanceOf[T] else v
      val b: java.lang.Byte = orNull(java.lang.Byte.valueOf((rnd.nextInt(256) - 128).toByte))
      val sh: java.lang.Short = orNull(java.lang.Short.valueOf((rnd.nextInt(2001) - 1000).toShort))
      val iv: java.lang.Integer = orNull(java.lang.Integer.valueOf(i * 3 - 45000 + rnd.nextInt(7)))
      val lv: java.lang.Long = orNull(java.lang.Long.valueOf(rnd.nextInt(6) match {
        case 0 => Long.MinValue
        case 1 => Long.MaxValue
        case _ => rnd.nextLong() % 1000000000000L
      }))
      (i.toLong, dd, s, b, sh, iv, lv)
    }
    val df = spark.createDataFrame(rows).toDF("id", "d", "s", "b", "sh", "iv", "lv")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    val gdir = Files.createTempDirectory(s"graft-skipfuzz-$seed").toString
    val pdir = Files.createTempDirectory(s"graft-skipfuzzp-$seed").toString
    df.write.format("graft").option("pagesize", "4096")
      .option("chunkrows", "4096").mode("overwrite").save(gdir)
    df.write.mode("overwrite").parquet(pdir)
    val g = spark.read.format("graft").load(gdir)
    val p = spark.read.parquet(pdir)

    val doubleLits = Seq(0.0, -0.0, 1e5, -1e5, 249999.75, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val stringLits = Seq(longPrefix, longPrefix + "0007", "w00007",
      longPrefix + "zzzz", "a", "zzzz")
    // shape 8 (an id equality) is exact, every other shape keeps a residual
    def randFilter(): org.apache.spark.sql.Column = shape(rnd.nextInt(12))
    def shape(k: Int): org.apache.spark.sql.Column = k match {
      case 0 => col("d") > doubleLits(rnd.nextInt(doubleLits.size))
      case 1 => col("d") < doubleLits(rnd.nextInt(doubleLits.size))
      case 2 => col("d") === doubleLits(rnd.nextInt(doubleLits.size))
      case 3 => col("d") >= doubleLits(rnd.nextInt(doubleLits.size))
      case 4 => col("s") > stringLits(rnd.nextInt(stringLits.size))
      case 5 => col("s") < stringLits(rnd.nextInt(stringLits.size))
      case 6 => col("s") === stringLits(rnd.nextInt(stringLits.size))
      case 7 => col("s").isin(stringLits(rnd.nextInt(stringLits.size)),
        stringLits(rnd.nextInt(stringLits.size)))
      case 8 => col("id") === rnd.nextInt(n).toLong
      case 9 => col("id") > (n - 100).toLong && col("d") > 0.0
      case 10 => col("s").isNull
      case _ => col("d").isNotNull && col("s") >= stringLits(rnd.nextInt(stringLits.size))
    }

    (1 to 25).foreach { k =>
      val f = randFilter()
      val got = canonRows(g.filter(f))
      val want = canonRows(p.filter(f))
      assert(got == want,
        s"seed $seed filter #$k [$f]: graft ${got.size} rows vs parquet ${want.size}")
    }
    // exact shapes, alone and mixed with residual ones
    val intLits: Map[String, IndexedSeq[Any]] = Map(
      "id" -> IndexedSeq(0L, 1L, 4095L, 4096L, 15000L, (n - 1).toLong, n.toLong, -1L),
      "b" -> IndexedSeq[Byte](-128, -1, 0, 1, 42, 127),
      "sh" -> IndexedSeq[Short](-1000, -7, 0, 3, 999, 1000),
      "iv" -> IndexedSeq(-45000, -44999, 0, 12345, 44997, 45000, Int.MinValue, Int.MaxValue),
      "lv" -> IndexedSeq(Long.MinValue, Long.MaxValue, 0L, -1L, 123456789L, -999999999999L))
    val intCols = IndexedSeq("id", "b", "sh", "iv", "lv")
    (1 to 30).foreach { k =>
      val conj = Seq.fill(1 + rnd.nextInt(3)) {
        if (rnd.nextInt(5) < 3) {
          val c = intCols(rnd.nextInt(intCols.size))
          (exactOn(rnd, c, intLits(c), nullable = c != "id"), true)
        } else { val k = rnd.nextInt(12); (shape(k), k == 8) }
      }
      check(g, p, conj.map(_._1).reduce(_ && _), conj.forall(_._2), s"seed $seed exact #$k")
    }
    // and the planted extremes answer through pushed aggregates exactly
    val ga = g.agg(min("d"), max("d"), count(col("d"))).head()
    val pa = p.agg(min("d"), max("d"), count(col("d"))).head()
    assert(ga.getDouble(0) == pa.getDouble(0) || (ga.getDouble(0).isNaN && pa.getDouble(0).isNaN))
    assert(ga.getDouble(1).isNaN == pa.getDouble(1).isNaN)
    if (!ga.getDouble(1).isNaN) assert(ga.getDouble(1) == pa.getDouble(1))
    assert(ga.getLong(2) == pa.getLong(2))
  }

  test("exact filters through a renamed and an int-to-long widened column") {
    val rnd = new scala.util.Random(5L)
    val root = Files.createTempDirectory("graft-skipfuzz-ddl").toString
    spark.conf.set("spark.sql.catalog.graft_sfd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sfd.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sfd.db")
    spark.sql("CREATE TABLE graft_sfd.db.t (id BIGINT, r BIGINT, w INT, d DOUBLE) USING graft")
    // pre-DDL files: `r` under its old spelling, `w` stored as int
    spark.range(0, 30000).selectExpr("id",
      "CASE WHEN id % 13 = 0 THEN NULL ELSE (id * 7) % 5000 END AS r",
      "CAST(CASE WHEN id % 11 = 0 THEN NULL ELSE id - 15000 END AS INT) AS w",
      "id * 0.5 AS d").repartitionByRange(3, col("id")).sortWithinPartitions("id")
      .writeTo("graft_sfd.db.t").append()
    spark.sql("ALTER TABLE graft_sfd.db.t RENAME COLUMN r TO rn")
    spark.sql("ALTER TABLE graft_sfd.db.t ALTER COLUMN w TYPE BIGINT")
    // post-DDL files: the new spelling, and longs past the int range
    spark.range(30000, 50000).selectExpr("id",
      "CASE WHEN id % 13 = 0 THEN NULL ELSE (id * 7) % 5000 END AS rn",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE id * 100000 END AS w",
      "id * 0.5 AS d").repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .writeTo("graft_sfd.db.t").append()
    val g = spark.table("graft_sfd.db.t")
    assert(Evolution.renamed(g.schema("rn")), "chain metadata must ride the schema")
    assert(g.schema("w").dataType == org.apache.spark.sql.types.LongType)
    val pdir = Files.createTempDirectory("graft-skipfuzz-ddlp").toString
    g.write.mode("overwrite").parquet(pdir)
    val p = spark.read.parquet(pdir)
    assert(p.count() == 50000L)

    val lits: Map[String, IndexedSeq[Any]] = Map(
      "rn" -> IndexedSeq(0L, 7L, 2500L, 4993L, 4999L, 5000L, -1L),
      "w" -> IndexedSeq(-15000L, -1L, 0L, 14999L, 3000000000L, 4999900000L,
        Int.MaxValue.toLong, Int.MaxValue.toLong + 1))
    (1 to 30).foreach { k =>
      val conj = Seq.fill(1 + rnd.nextInt(3)) {
        if (rnd.nextInt(4) < 3) {
          val c = if (rnd.nextBoolean()) "rn" else "w"
          (exactOn(rnd, c, lits(c), nullable = true), true)
        } else (col("d") > rnd.nextInt(25000).toDouble, false)
      }
      check(g, p, conj.map(_._1).reduce(_ && _), conj.forall(_._2), s"ddl #$k")
    }
  }
}
