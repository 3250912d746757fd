package graft.sources

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Optimistic concurrency for file-granular DML commits: two racing
  * rewrites on DISJOINT footprints must BOTH commit (the loser rebases
  * its carry manifest onto the winner and re-publishes at the next
  * index), the final state must equal a serial order, and a TRUE
  * overlap must still fail loudly — never corrupt, never lose either
  * writer's changes. A CyclicBarrier inside the transforms pins both
  * racers to the same allocated generation index, making the rename
  * collision deterministic rather than scheduler-dependent. */
class OptimisticDmlSpec extends SparkSpec {

  /** Two single-file appends with separated key ranges, so zone maps
    * give each DML a one-file footprint. */
  private def freshTable(): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("opt-dml").toString
    (1L to 100L).map(i => (i, s"lo-$i")).toDF("id", "v")
      .coalesce(1).write.format("graft").option("table", "t").mode("append").save(dir)
    (1001L to 1100L).map(i => (i, s"hi-$i")).toDF("id", "v")
      .coalesce(1).write.format("graft").option("table", "t").mode("append").save(dir)
    dir
  }

  private def upsertVia(dir: String, batch: DataFrame, ids: Seq[Long],
      barrier: CyclicBarrier): Boolean = {
    val prune = Some(Seq[graft.format.Stats.Prune](graft.format.Stats.FilterPrune(
      org.apache.spark.sql.sources.In("id", ids.map(x => x: Any).toArray))))
    Generations.rewriteTable(spark, dir, "t",
      df => {
        // both racers are past allocation (same next index) before either
        // publishes — the loser MUST hit the rename collision
        barrier.await(30, TimeUnit.SECONDS)
        df.join(batch.select("id"), Seq("id"), "left_anti")
          .unionByName(batch)
      },
      prune, alwaysWrite = true)
  }

  private def read(dir: String): Map[Long, String] =
    spark.read.format("graft").option("table", "t").load(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("racing upserts on disjoint keys BOTH commit, state equals serial order") {
    val s = spark
    import s.implicits._
    val dir = freshTable()
    val batchA = Seq((5L, "A5"), (6L, "A6")).toDF("id", "v")
    val batchB = Seq((1005L, "B5"), (1006L, "B6")).toDF("id", "v")
    val barrier = new CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = upsertVia(dir, batchA, Seq(5L, 6L), barrier)
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = upsertVia(dir, batchB, Seq(1005L, 1006L), barrier)
      })
      assert(fa.get(120, TimeUnit.SECONDS) && fb.get(120, TimeUnit.SECONDS),
        "both racing upserts must report success")
    } finally pool.shutdownNow()
    val state = read(dir)
    assert(state.size == 200, s"row count drifted: ${state.size}")
    assert(state(5L) == "A5" && state(6L) == "A6", "writer A's changes lost")
    assert(state(1005L) == "B5" && state(1006L) == "B6", "writer B's changes lost")
    assert(state(1L) == "lo-1" && state(1100L) == "hi-1100", "untouched rows changed")
    // both generations published: the loser's rebase carried the winner
    val gens = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("gen-\\d{5,}")).map(_.getName).sorted
    assert(gens.length >= 2, s"expected two committed generations, got ${gens.toSeq}")
  }

  test("racing upserts with OVERLAPPING footprint: one commits, one fails loudly") {
    val s = spark
    import s.implicits._
    val dir = freshTable()
    // both target key 5 — same candidate file, true conflict
    val batchA = Seq((5L, "A")).toDF("id", "v")
    val batchB = Seq((5L, "B")).toDF("id", "v")
    val barrier = new CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results = try {
      val fs = Seq(
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, Boolean]] {
          def call() = try Right(upsertVia(dir, batchA, Seq(5L), barrier))
          catch { case t: Throwable => Left(t) }
        }),
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, Boolean]] {
          def call() = try Right(upsertVia(dir, batchB, Seq(5L), barrier))
          catch { case t: Throwable => Left(t) }
        }))
      fs.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val (losers, winners) = results.partition(_.isLeft)
    assert(winners.size == 1 && losers.size == 1,
      s"exactly one racer must win a true conflict, got $results")
    val err = losers.head.left.toOption.get
    assert(err.isInstanceOf[Generations.GenerationConflictException],
      s"loser must fail with the conflict error, got $err")
    // winner's change applied exactly once; loser's absent
    val state = read(dir)
    assert(state.size == 200)
    assert(state(5L) == "A" || state(5L) == "B")
    assert(state(1L) == "lo-1")
  }

  test("sequential upserts through the same path still work (no-race sanity)") {
    val s = spark
    import s.implicits._
    val dir = freshTable()
    graft.operators.FormatOps.upsert(s, dir, "t",
      Seq((7L, "x")).toDF("id", "v"), Seq("id"))
    graft.operators.FormatOps.upsert(s, dir, "t",
      Seq((1007L, "y")).toDF("id", "v"), Seq("id"))
    val state = read(dir)
    assert(state(7L) == "x" && state(1007L) == "y" && state.size == 200)
  }
}
