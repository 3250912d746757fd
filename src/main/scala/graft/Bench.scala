package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // untimed warmup: JIT + codegen infra + parquet footers/schemas, so
    // the first timed query isn't charged session startup costs
    Tables.names.foreach { n =>
      try {
        val df = if (n == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, n)
        df.groupBy().count().collect()
      } catch { case _: Throwable => }
    }
    // min of 2 runs per query: the first run carries one-time codegen
    // compilation and is exposed to co-tenant load bursts; the min is the
    // reproducible per-query cost (disclosed via "runs" below).
    // Isolation, so round-over-round numbers are comparable:
    //  - queries run in sorted-name order (SparkEntry.queries is a
    //    HashMap whose iteration order shifts whenever a query is added,
    //    which silently reorders any order-dependent interference);
    //  - a full GC runs before each query so one query's garbage isn't
    //    charged to the next one's timed runs.
    // SPARK_GRAFT_BENCH_REPS raises the rep count for regression
    // adjudication runs (min-of-N is the claimable number; same-code
    // A/B across rounds showed single runs swing 3× on load alone)
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(2)
    // dev knob for extreme-scale boards: names to leave out (comma list).
    // The one use is excluding the DOCUMENTED intrinsically-quadratic
    // gates (q37/q42, see tools/scaling_table.py INTRINSIC) from sf>=5
    // boards, where their pair count makes them the entire board.
    // Skipped names are recorded in the artifact ("skipped") so a board
    // missing a gate is always self-describing, never silent.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => skip.contains(q._1)).map { case (name, fn) =>
      System.gc()
      // per-query 1-min loadavg AT RUN TIME: a slow number measured at
      // load 6 is weather, not regression — trend tooling needs to know
      val loadAt = osBean.getSystemLoadAverage
      // gates that build expensive multi-commit fixtures self-report the
      // fixture seconds (FixtureClock); the split rides BENCH_FULL as
      // fixture_s so the tracked number can be the ENGINE side
      val times = (1 to reps).map { _ =>
        graft.operators.FixtureClock.reset()
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
          catch { case e: Throwable => Some(e) }
        (if (err.isEmpty) (System.nanoTime() - t0) / 1e9 else -1.0,
          graft.operators.FixtureClock.seconds, err)
      }
      val best = times.minBy(_._1)
      val err = times.flatMap(_._3).headOption
      (name, if (err.isDefined) -1.0 else best._1, loadAt,
        if (err.isDefined) 0.0 else best._2, err)
    }
    // 3-decimal rounding keeps the whole line inside the driver's stdout
    // tail window (full-precision doubles tripled its size and truncated
    // the JSON mid-map in past rounds); errored queries carry -1.0 in the
    // map but are EXCLUDED from the total and named explicitly instead
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // per-query loadavg rides in the FULL artifact only (the compact
    // stdout line must stay inside the driver's tail window)
    val loads = results.map { case (k, _, l, _, _) => s"\"" + k + "\":" + fmt(l) }
      .mkString("{", ",", "}")
    // self-reported fixture-build seconds (only gates that report one):
    // the engine side of those gates is wall - fixture
    val fixtures = results.collect { case (k, _, _, f, _) if f > 0 =>
      s"\"" + k + "\":" + fmt(f) }.mkString("{", ",", "}")
    val errors = results.collect { case (k, v, _, _, _) if v < 0 => s"\"" + k + "\"" }
    // why each errored gate failed (full artifact only, like the loads)
    val errorDetail = results.collect { case (k, _, _, _, Some(e)) =>
      Harness.json(k) + ":" +
        Harness.json(s"${e.getClass.getName}: ${e.getMessage}".take(200))
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // 1-min system load at end of run: round-over-round totals on a
    // shared box swing 2-3x with co-tenant load — trend tooling should
    // discount any run whose loadavg is far above the core count's idle
    val load = fmt(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage)
    val skipped = skip.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // what the board ran on: the source revision, the cores the JVM
    // sees, and the local[N] the session was built with
    val rev = try scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
        .!!(scala.sys.process.ProcessLogger(_ => ())).trim
      catch { case _: Exception => "unknown" }
    val host = s""""rev":${Harness.json(if (rev.isEmpty) "unknown" else rev)},""" +
      s""""nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""SPARK_GRAFT_CPUS":${sys.env.get("SPARK_GRAFT_CPUS").map(Harness.json).getOrElse("null")}"""
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","errors":${errors.mkString("[", ",", "]")},"loadavg1m":$load,"queries":$qs,"query_loadavg":$loads,"fixture_s":$fixtures,"error_detail":$errorDetail,"skipped":$skipped,"sf":"$sfDir","runs":$reps,"timing":"min_of_$reps",$host}"""
    println(line)
    // the driver keeps only the LAST 2000 chars of stdout and parses the
    // JSON line it finds there — the full 130-query line is ~3.5 KB and
    // always arrived beheaded (BENCH_r07 "parsed: null"). Persist the
    // full line to a committable file, then print a COMPACT line LAST:
    // query names shortened to their unique qNN prefix and 2-decimal
    // seconds, ~1.6 KB — whole inside the tail window, so the driver's
    // artifact finally parses standalone. The file goes to the working
    // directory (the checkout `sbt runMain` runs in), never elsewhere.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"), line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] BENCH_FULL.json not written: $e") }
    def fmt2(v: Double): String = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val shortQs = results.map { case (k, v, _, _, _) =>
      s"\"" + k.takeWhile(_ != '_') + "\":" + fmt2(v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt2(total)},"unit":"sec","errors":${errors.mkString("[", ",", "]")},"loadavg1m":$load,"queries":$shortQs,"sf":"$sfDir","runs":$reps,"timing":"min_of_$reps","names":"qNN prefixes of BENCH_FULL.json"}""")
    spark.stop()
  }
}
