package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run counts for one op. Listener events are
  * attributed to the op through the `perfbench.op` local property that
  * their job carries, or, for events without a job, to the op that is
  * current while the bus is drained after it. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var sqlExecs = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var skippedChunks = 0L
  var decodedChunks = 0L
  var skippedBlocks = 0L
  var pagesRead = 0L
  var scanRows = 0L
  var sqlMs = 0L // union of SQL execution intervals inside the op window
  val execIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Long, endMs: Long, attrs: Map[String, Any])

/** In-memory span and counter recorder around the benchmark's calls
  * into the program, listening while attached. Nothing is written until
  * [[close]]. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[Long, OpCounters]
  private val stageOp = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)] // job -> (op, start ms)
  private val execStart = mutable.HashMap.empty[Long, (Long, Long)]
  @volatile private var current = 0L
  var jobsStarted = 0L
  var jobsEnded = 0L

  def drain(): Unit = BusDrain(sc)

  def attach(): Unit = {
    drain()
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Opens an op span; every job submitted until [[endOp]] is tagged. */
  def beginOp(): Long = {
    drain()
    val id = nextId.getAndIncrement()
    synchronized(counters(id) = new OpCounters)
    current = id
    sc.setLocalProperty("perfbench.op", id.toString)
    id
  }

  /** Closes the op span and returns its counters once the bus is empty. */
  def endOp(id: Long, name: String, startMs: Long, endMs: Long,
      attrs: Map[String, Any]): OpCounters = {
    drain()
    sc.setLocalProperty("perfbench.op", null)
    current = 0L
    synchronized {
      val c = counters(id)
      c.sqlMs = unionMs(c.execIntervals.toSeq, startMs, endMs)
      spans += Span(id, 0L, name, "op", startMs, endMs, attrs)
      c
    }
  }

  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var at = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, at)
        if (b > s) { total += b - s; at = b }
      }
    total
  }

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.op")))
      .flatMap(_.toLongOption).getOrElse(0L)

  private def count(op: Long)(f: OpCounters => Unit): Unit =
    if (op != 0L) counters.get(op).foreach(f)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    val op = opOf(e.properties)
    jobStart(e.jobId) = (op, e.time)
    e.stageInfos.foreach(si => stageOp(si.stageId) = op)
    count(op)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      if (op != 0L)
        spans += Span(nextId.getAndIncrement(), op, s"job ${e.jobId}", "spark", t0, e.time, Map.empty)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val op = stageOp.getOrElse(si.stageId, 0L)
    count(op)(_.stages += 1)
    if (op != 0L)
      spans += Span(nextId.getAndIncrement(), op, s"stage ${si.stageId}", "spark",
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        Map("tasks" -> si.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) count(stageOp.getOrElse(e.stageId, 0L)) { c =>
      c.taskMs += m.executorRunTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStart(s.executionId) = (current, s.time)
      count(current)(_.sqlExecs += 1)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      execStart.remove(x.executionId).foreach { case (op, t0) =>
        count(op)(_.execIntervals += ((t0, x.time)))
        if (op != 0L)
          spans += Span(nextId.getAndIncrement(), op, s"sql ${x.executionId}", "spark",
            t0, x.time, Map.empty)
      }
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val scans = ScanMetrics.collect(qe)
    synchronized(count(current) { c =>
      scans.foreach { m =>
        c.skippedChunks += m.getOrElse("skippedChunks", 0L)
        c.decodedChunks += m.getOrElse("decodedChunks", 0L)
        c.skippedBlocks += m.getOrElse("skippedBlocks", 0L)
        c.pagesRead += m.getOrElse("pagesRead", 0L)
        c.scanRows += m.getOrElse("numOutputRows", 0L)
      }
    })
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Checks that every started job ended, then writes all spans. */
  def close(path: String): Int = {
    require(jobsStarted == jobsEnded,
      s"listener saw $jobsStarted jobs start but $jobsEnded end")
    val w = new java.io.PrintWriter(path, "UTF-8")
    try synchronized {
      spans.sortBy(s => (s.startMs, s.id)).foreach { s =>
        w.println(Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs))
      }
      spans.size
    } finally w.close()
  }
}

/** The graft scan's `CustomMetric`s, read off an executed plan. */
object ScanMetrics extends AdaptiveSparkPlanHelper {
  def collect(qe: QueryExecution): Seq[Map[String, Long]] =
    collectWithSubqueries(qe.executedPlan) {
      case s: BatchScanExec if s.scan.getClass.getName.startsWith("graft.") =>
        s.metrics.map { case (k, v) => k -> v.value }
    }
}
