package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What an op hands back: the value its check inspects, the planning
  * time it measured, and, for filtering reads, how many rows matched. */
final case class Outcome(value: Any = (), planMs: Double = 0.0, matchedRows: Long = -1L)

/** One timed call into the program. `rows`/`userBytes` are the rows the
  * op supplies (writes) or processes (reads), and their plain size. */
final case class Op(kind: String, rows: Long, userBytes: Long,
    run: () => Outcome, check: Outcome => Unit = _ => ())

/** A finished op as the metrics see it. */
final case class Rec(kind: String, ms: Double, cpuMs: Double, ok: Boolean, error: String,
    rows: Long, userBytes: Long, createdBytes: Long, out: Outcome,
    layer: Option[Map[String, Double]])

/** A closed-loop workload driven by one client thread. */
trait Workload {
  /** Untimed: reads the generated inputs and builds what the checks use. */
  def load(): Unit
  /** Timed once (`setup_s`); the ops run on the state it leaves. */
  def setup(): Unit
  /** Untimed rounds before the clock starts, so JIT, codegen and footer caches settle. */
  def warmupRounds: Int = 1
  /** Whether the last measured round also takes a live-heap sample after
    * each op (outside its timer). After a full GC, Spark's cleaner releases
    * the previous op's broadcast, shuffle and accumulator state on its own
    * thread while the next op runs: that slows a 150-ms scan op by a fifth,
    * a 1-s gate by little, and a workload whose live heap swings with the
    * op needs the extra samples. */
  def heapSamplesWhileMeasuring: Boolean = false
  /** Ops per round: runs measure whole rounds, so every run measures the
    * same op mix. */
  def roundSize: Int
  /** A nominal round time: a run of `--seconds` measures
    * ceil(seconds / roundSeconds) rounds. */
  def roundSeconds: Double
  /** The i-th op of the seeded mix (i counts from 0 over the whole run). */
  def op(i: Int): Op
  /** Untimed end-of-run checks; each throws on a mismatch. */
  def finalChecks(): Seq[(String, () => Unit)] = Nil
  def tableDir: Option[String] = None
  /** Plain size of the rows live in the table at the end of the run. */
  def liveUserBytes(): Long = 0L
  /** `rows_per_s` for this workload, from the measured ops. */
  def rowsPerSec(recs: Seq[Rec]): Double =
    recs.filter(_.ok).map(_.rows).sum / (recs.filter(_.ok).map(_.ms).sum / 1000.0)
  /** Per-layer figures measured directly against `graft.format` (traced run). */
  def formatLayer(): Map[String, Double] = Map.empty
  /** The table's live data files, for the commit metrics (traced run). */
  def liveFiles(): Option[Set[String]] = None
}

object Bench {
  private def opt(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = opt(args)
    val cpus = o("cpus").toInt
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val work = o("work")
    val spark = session(cpus, work)
    val w: Workload = o("workload") match {
      case "scan" => new ScanWorkload(spark, o("data"), work, seed, cpus)
      case "cdc" => new CdcWorkload(spark, o("data"), work, seed, cpus)
      case "llm_ops" => new LlmOpsWorkload(spark, o("data"), work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = try new Bench(spark, w, seconds).run(trace, o("spans"))
      finally spark.stop()
    val conf = Map("spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.version" -> org.apache.spark.SPARK_VERSION)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")),
      Json.write(result ++ Map("spark_conf" -> conf)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it
    * (nearest-rank), and its value. Below twenty samples no percentile at
    * or above 50 has ten above it; then it is the highest one that leaves
    * at least one sample above it. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    val ranked = (99 to 50 by -1).map { p =>
      val idx = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
      (p, idx, n - idx - 1)
    }
    ranked.collectFirst { case (p, idx, above) if above >= 10 => (p, s(idx)) }
      .orElse(ranked.collectFirst { case (p, idx, above) if above >= 1 => (p, s(idx)) })
      .getOrElse((50, median(xs)))
  }
}

final class Bench(spark: SparkSession, w: Workload, seconds: Double) {
  import Bench._

  // CPU time of every JVM thread (program, Spark tasks, GC and JIT)
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = osBean.getProcessCpuTime
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
  // live heap: what each heap pool holds after a full collection (an
  // explicit GC at fixed points keeps the figure independent of when the
  // collector happened to run)
  private def heapAfterGc(): Long = {
    System.gc()
    heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }
  private var heapSamples = Vector.empty[Long]
  private def sampleHeapAfterGc(): Unit = heapSamples :+= heapAfterGc()

  // every file seen under the table directory, so bytes created by the
  // timed phase count even when a later commit or vacuum removes them
  private val seen = scala.collection.mutable.HashMap.empty[String, Long]
  private def newBytes(): Long = w.tableDir.map { d =>
    var created = 0L
    TableFiles.list(d).foreach { case (p, len) =>
      if (!seen.contains(p)) { seen(p) = len; created += len }
    }
    created
  }.getOrElse(0L)

  private var opIndex = 0
  private var failures = Vector.empty[Map[String, Any]]
  private var prevLive: Option[Set[String]] = None

  private def errorOf(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  private def runOne(tracer: Option[Tracer]): Rec = {
    val op = w.op(opIndex)
    opIndex += 1
    val opens0 = graft.format.GraftFileReader.opens.get
    val gc0 = gcMs
    graft.operators.FixtureClock.reset()
    val id = tracer.map(_.beginOp())
    val wall0 = System.currentTimeMillis()
    val cpu0 = cpuNs
    val t0 = System.nanoTime()
    val attempt = scala.util.Try(op.run())
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (cpuNs - cpu0) / 1e6
    val wall1 = System.currentTimeMillis()
    val fixtureMs = graft.operators.FixtureClock.seconds * 1000
    val opens = graft.format.GraftFileReader.opens.get - opens0
    val layer = for (t <- tracer; i <- id) yield {
      val c = t.endOp(i, op.kind, wall0, wall1, Map("rows" -> op.rows))
      Map("jobs" -> c.jobs, "stages" -> c.stages, "sql_execs" -> c.sqlExecs,
        "task_ms" -> c.taskMs, "shuffle_read" -> c.shuffleRead,
        "shuffle_write" -> c.shuffleWrite, "input_bytes" -> c.inputBytes,
        "output_bytes" -> c.outputBytes, "skipped_chunks" -> c.skippedChunks,
        "decoded_chunks" -> c.decodedChunks, "skipped_blocks" -> c.skippedBlocks,
        "pages_read" -> c.pagesRead, "scan_rows" -> c.scanRows, "footer_opens" -> opens,
        "gc_ms" -> (gcMs - gc0)).map { case (k, v) => k -> v.toDouble } ++
        Map("driver_ms" -> math.max(0.0, ms - c.sqlMs), "fixture_ms" -> fixtureMs)
    }
    val checked = attempt.flatMap(out => scala.util.Try { op.check(out); out })
    val before = seen.keySet.toSet
    val created = newBytes()
    val commit = if (tracer.isEmpty) Map.empty[String, Double] else {
      val written = seen.keySet.diff(before).filter(_.endsWith(".graft")).toSeq
      val live = w.liveFiles()
      val carried = for (now <- live; prev <- prevLive) yield now.intersect(prev).size.toDouble
      prevLive = live
      Map("new_rows" -> written.map(TableFiles.rows).sum.toDouble) ++
        carried.map("files_carried" -> _)
    }
    val err = checked.failed.toOption.map(errorOf).getOrElse("")
    if (err.nonEmpty) failures :+= Map("op" -> (opIndex - 1), "kind" -> op.kind, "error" -> err)
    Rec(op.kind, ms, cpuMs, checked.isSuccess, err, op.rows, op.userBytes, created,
      checked.getOrElse(Outcome()), layer.map(_ ++ commit))
  }

  private def round(tracer: Option[Tracer]): Seq[Rec] = (0 until w.roundSize).map(_ => runOne(tracer))

  /** The number of rounds a run measures. It is fixed by `--seconds`, not by
    * the clock, so that a faster or slower program is measured on the same
    * ops: a count-based figure such as `op_ms_tail` then ranks the same
    * number of samples on both sides of a comparison. */
  private val rounds = math.max(1, math.ceil(seconds / w.roundSeconds).toInt)

  /** The untraced rounds (see `heapSamplesWhileMeasuring`). */
  private def measure(): (Seq[Rec], Double) = {
    val t0 = System.nanoTime()
    val recs = (0 until rounds * w.roundSize).map { j =>
      val r = runOne(None)
      if (w.heapSamplesWhileMeasuring && j >= (rounds - 1) * w.roundSize) sampleHeapAfterGc()
      r
    }
    (recs, (System.nanoTime() - t0) / 1e9)
  }

  /** The traced run: after one more untimed round (the first round after
    * the warm-up is still slower than the next by a tenth on `scan`), two
    * untraced and two traced rounds in ABBA order, so a trend in speed over
    * the run (JIT, table state) falls on both sides alike and their
    * difference is the tracing overhead. */
  private def measureAlternating(tracer: Tracer): (Seq[Rec], Double, Seq[Rec]) = {
    round(None)
    val plain, traced = Vector.newBuilder[Rec]
    var tPlain = 0.0
    def untraced(): Unit = {
      val t0 = System.nanoTime()
      plain ++= round(None)
      tPlain += (System.nanoTime() - t0) / 1e9
    }
    def withTrace(): Unit = {
      prevLive = w.liveFiles()
      tracer.attach()
      traced ++= round(Some(tracer))
      tracer.detach()
    }
    untraced(); withTrace(); withTrace(); untraced()
    (plain.result(), tPlain, traced.result())
  }

  private def endToEnd(recs: Seq[Rec]): Map[String, Double] = {
    val ms = recs.filter(_.ok).map(_.ms)
    val (tailPct, tailMs) = tail(ms)
    Map(
      // the median round, so a few seconds of a busy host move it less
      "ops_per_s" -> median(recs.grouped(w.roundSize).map(r => r.count(_.ok) / (r.map(_.ms).sum / 1000.0)).toSeq),
      "op_ms_p50" -> median(ms),
      "op_ms_tail" -> tailMs,
      "op_ms_tail_pct" -> tailPct.toDouble,
      "rows_per_s" -> w.rowsPerSec(recs),
      "samples" -> recs.size.toDouble)
  }

  private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      phases(name) = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] phase $name ${phases(name)}%.2f s")
    }
  }

  def run(trace: Boolean, spansPath: String): Map[String, Any] = {
    phase("load")(w.load())
    // what the harness itself holds (inputs, check data) before the program
    // runs; recorded so the harness's share of heap_live_mb is visible
    val heapLoad = heapAfterGc()
    phase("setup")(w.setup())
    newBytes() // the set-up's files are not the timed phase's
    phase("warmup")((0 until w.warmupRounds * w.roundSize).foreach { i =>
      runOne(None)
      if (i >= (w.warmupRounds - 1) * w.roundSize) sampleHeapAfterGc()
    })
    val warmFailures = failures.size
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val (recs, measured, traced) = tracer match {
      case None =>
        val (r, m) = phase("measure")(measure())
        (r, m, Nil)
      case Some(t) => phase("measure_alternating")(measureAlternating(t))
    }
    // what a full GC leaves live right after an op swings by up to 80 MB on
    // `llm_ops`, with the op and with how far Spark's cleaner has got; the
    // least of the samples is what stays live across ops: `heap_live_mb`
    sampleHeapAfterGc()
    val nSpans = tracer.map(_.close(spansPath)).getOrElse(0)
    val finals = phase("final_checks")(w.finalChecks().map { case (name, f) =>
      name -> scala.util.Try(f()).failed.toOption.map(errorOf)
    })
    finals.collect { case (name, Some(e)) => failures :+= Map("check" -> name, "error" -> e) }
    val tableBytes = w.tableDir.map(d => TableFiles.list(d).map(_._2).sum).getOrElse(0L)
    val attempted = opIndex + finals.size // every op run, warm-up included
    val userBytes = recs.map(_.userBytes).sum
    val e2e = endToEnd(recs) ++ Map(
      "setup_s" -> phases("setup"),
      "fail_frac" -> failures.size.toDouble / attempted,
      "bytes_per_user_byte" -> (if (w.liveUserBytes() > 0) tableBytes.toDouble / w.liveUserBytes() else 0.0),
      "write_bytes_per_user_byte" -> (if (userBytes > 0) recs.map(_.createdBytes).sum.toDouble / userBytes else 0.0),
      "heap_live_mb" -> heapSamples.min / 1048576.0,
      "measured_s" -> measured)
    Map(
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "attempted" -> attempted,
      "failed" -> failures.size,
      "warmup_failed" -> warmFailures,
      "failures" -> failures,
      "heap_after_load_mb" -> heapLoad / 1048576.0,
      "heap_samples_mb" -> heapSamples.map(_ / 1048576.0),
      "phases_s" -> phases,
      "end_to_end" -> e2e,
      "op_ms" -> recs.groupBy(_.kind).map { case (k, rs) => k -> rs.map(_.ms) },
      "op_cpu_ms" -> recs.groupBy(_.kind).map { case (k, rs) => k -> rs.map(_.cpuMs) },
      "per_layer" -> (if (!trace) Map.empty else
        phase("layers")(Layers.compute(w, traced, e2e("ops_per_s"), endToEnd(traced)("ops_per_s")) ++
          Seq("bytes_per_user_byte", "write_bytes_per_user_byte", "fail_frac").map(k => k -> e2e(k)) ++
          Map("trace.spans" -> nSpans.toDouble, "trace.jobs" -> tracer.get.jobsStarted.toDouble))))
  }
}

object TableFiles {
  /** (path, length) of every regular file under `dir`. */
  def list(dir: String): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Nil
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toVector
    finally s.close()
  }

  /** Rows in one graft data file, from its footer. */
  def rows(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val r = graft.format.GraftFileReader.open(
      p.getFileSystem(new org.apache.hadoop.conf.Configuration()), p)
    try r.footer.chunks.flatMap(_.tables).map(_.numRows.toLong).sum finally r.close()
  }
}
