package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: time or explain SparkEntry queries solo (outside the full
  * 169-gate board, so neighbors' JIT/GC/fixture churn doesn't pollute
  * the number — the adjudication mode the round verdicts use).
  * Usage: runMain graft.BenchOne <query>[,<query>...] <sfDir> [explain]
  * Prints per-run wall seconds plus the gate's self-reported fixture
  * seconds ([[graft.operators.FixtureClock]]) and a MIN line per query;
  * run1 carries ~8-10 s of session warmup — adjudicate on run2/3. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val names = args(0).split(',').toSeq
    if (args.length > 2 && args(2) == "explain")
      names.foreach(n => SparkEntry.queries(n)(spark, args(1)).explain("formatted"))
    else names.foreach { name =>
      // pseudo-gate: a fixed job (no table I/O, no fixtures) whose
      // wall time measures THIS box's Spark+JVM speed. Round-16 A/B
      // showed the CDC4 sum swings 12-18 s across boxes on identical
      // code — absolute bars don't transfer; tools/cdc4_check.py
      // divides the gate sum by this to judge in box-neutral units.
      val fn = if (name == "calibrate")
        (s: SparkSession, _: String) =>
          // ~1-2 s mixing what the gates actually spend: codegen'd
          // compute + a two-phase hash aggregate + one real shuffle
          // (pure arithmetic alone saturates in <0.2 s and measures
          // only ALU speed, not the memory/shuffle path)
          // returns the GROUPED rows (not a 1-row fold): BenchOne times
          // .count(), and a constant-1-row aggregate lets the optimizer
          // prune the whole pipeline away
          s.range(0, 150000000L, 1, 32)
            .selectExpr("pmod(xxhash64(id), 524288) as g", "id")
            .groupBy("g").agg(org.apache.spark.sql.functions.sum("id").as("s"))
      else SparkEntry.queries(name)
      val runs = (1 to 3).map { i =>
        System.gc()
        graft.operators.FixtureClock.reset()
        val t0 = System.nanoTime()
        val n = fn(spark, args(1)).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val fix = graft.operators.FixtureClock.seconds
        println(f"$name run$i: $wall%.3f sec rows=$n fixture=$fix%.3f engine=${wall - fix}%.3f")
        (wall, fix)
      }
      // min over runs 2..3 (run1 pays one-time codegen/session costs)
      val (w, f) = runs.drop(1).minBy(_._1)
      println(f"$name MIN: wall=$w%.3f fixture=$f%.3f engine=${w - f}%.3f")
    }
    spark.stop()
  }
}
