package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Micro-batch streaming source over a graft directory.
  *
  * Offset model: a monotonically growing, checkpoint-persisted log of
  * discovered file paths; offset N = "the first N files of the log".
  * `latestOffset` diffs the directory against the log and appends
  * newcomers, so file-name ordering never matters and recovery replays
  * identical batches from the persisted log — the same contract as
  * Spark's own FileStreamSource metadata log. (The reference format has
  * no streaming surface at all; SURVEY.md §2.B flags the source as the
  * later milestone of the streaming row.)
  *
  * Log layout (scale): one base file (`graft-file-log`, legacy whole-log
  * format, still read for old checkpoints) plus per-discovery SEGMENT
  * files (`graft-file-log.seg-NNNNNN`), each holding only that trigger's
  * fresh paths. A trigger writes one small segment — never the whole
  * history — so a 100 TB feed's millions-of-lines log costs O(new files)
  * per trigger instead of a quadratic full rewrite, and the in-memory
  * cache means the log is read from disk once per stream instance, not
  * twice per batch. (FileStreamSource's per-batch metadata files are the
  * same shape.)
  *
  * APPEND-ONLY contract: a file stream assumes discovered files are
  * immutable and never replaced — the same assumption FileStreamSource
  * makes. A graft REWRITE (compaction, DML, overwrite) republishes the
  * table under a new generation: re-emitting those files would duplicate
  * every already-delivered row, and the swept old generation would wedge
  * recovery with FileNotFound. The stream therefore PINS the generation
  * pointer at first start (persisted in the checkpoint) and fails loudly
  * the moment the pointer moves, directing DML'd-table consumers to the
  * change feed (`FormatOps.changeFeedStream`), which is built for
  * exactly that.
  */
class GraftMicroBatchStream(dir: String, checkpointLocation: String,
    required: StructType, tableOpt: Option[String],
    maxFilesPerTrigger: Option[Int] = None,
    startingOffsets: String = "earliest",
    maxBytesPerTrigger: Option[Long] = None) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  require(startingOffsets == "earliest" || startingOffsets == "latest",
    s"startingOffsets must be earliest|latest, got '$startingOffsets'")
  // 0 would idle the stream forever with no error; negative would move
  // offsets BACKWARD and corrupt the checkpoint's monotonic invariant
  maxFilesPerTrigger.foreach(n => require(n > 0,
    s"maxFilesPerTrigger must be positive, got $n"))
  maxBytesPerTrigger.foreach(n => require(n > 0,
    s"maxBytesPerTrigger must be positive, got $n"))

  // The session's Hadoop conf, not a bare `new Configuration()`: the
  // pin/segment/log paths must resolve against the same filesystem world
  // as the data plane (spark.hadoop.* overrides, fs.defaultFS), or a
  // configured object store would checkpoint to a different store than
  // it reads. Falls back to defaults only when no session is active
  // (never the case in a running query — streams are planned driver-side).
  private[sources] val conf =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
  private val logPath = new Path(checkpointLocation, "graft-file-log")
  private val fs = logPath.getFileSystem(conf)

  private def segPath(i: Int) = new Path(checkpointLocation, f"graft-file-log.seg-$i%06d")

  // in-memory mirror of the on-disk log: loaded once per stream
  // instance (single driver-side owner per running query), appended in
  // step with segment writes
  private var cached: Vector[String] = null
  private var nextSeg: Int = 0

  private def parse(bytes: Array[Byte]): Vector[String] =
    new String(bytes, StandardCharsets.UTF_8)
      .split("\n").toVector.filter(_.nonEmpty)

  private def readFully(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def log(): Vector[String] = {
    if (cached == null) {
      val base = if (fs.exists(logPath)) parse(readFully(logPath)) else Vector.empty
      val segs = Iterator.from(0).map(segPath)
        .takeWhile(fs.exists).map(p => parse(readFully(p))).toVector
      nextSeg = segs.size
      cached = base ++ segs.flatten
    }
    cached
  }

  /** Durably append one discovery batch: ONE small atomic segment write,
    * never a rewrite of the whole history. */
  private def appendSegment(fresh: Vector[String]): Unit = {
    AtomicPublish.text(conf, segPath(nextSeg), fresh.mkString("", "\n", "\n"))
    nextSeg += 1
    cached = cached ++ fresh
  }

  // ---- append-only guard ----------------------------------------------------
  private val genPinPath = new Path(checkpointLocation, "graft-stream-gen")
  private def currentGen(): String =
    GraftDataSource.readGenPointer(conf, dir).getOrElse("")
  /** The generation pointer observed when this stream first started —
    * persisted so restarts keep the pin. */
  private lazy val pinnedGen: String =
    if (fs.exists(genPinPath))
      new String(readFully(genPinPath), StandardCharsets.UTF_8).trim
    else {
      val g = currentGen()
      AtomicPublish.text(conf, genPinPath, g)
      g
    }
  private def assertAppendOnly(): Unit = {
    val now = currentGen()
    if (now != pinnedGen)
      throw new graft.format.OliveFormatException(
        s"graft file stream over $dir: the table was REWRITTEN under the " +
          s"stream (generation '$pinnedGen' → '$now' — a compaction, DML, " +
          "or overwrite). A file stream requires an append-only directory; " +
          "re-emitting a rewritten generation would duplicate every " +
          "delivered row. For tables that take DML, consume the change " +
          "feed instead (FormatOps.changeFeedStream), or restart the " +
          "stream with a fresh checkpoint to re-read the current snapshot")
  }

  /** First-start offset (a restart resumes from the checkpoint instead):
    * `earliest` replays the whole directory; `latest` seeds the file log
    * with everything already present and starts past it, so only files
    * landing AFTER the stream starts are emitted — what a change-feed
    * consumer attaching to an existing capture log wants (the history is
    * served by the batch reader, not a replay).
    *
    * The start position is pinned in its OWN marker
    * (`graft-start-offset`), not derived from the file log's size: the
    * log durably grows in `latestOffset` BEFORE Spark commits the
    * batch's offsets, so a crash in that window would otherwise make a
    * re-run initialOffset see the grown log and silently skip the files
    * discovered pre-crash. */
  override def initialOffset(): Offset =
    if (startingOffsets == "latest") {
      val startPath = new Path(checkpointLocation, "graft-start-offset")
      val n =
        if (fs.exists(startPath))
          new String(readFully(startPath), StandardCharsets.UTF_8).trim.toInt
        else {
          val known = log()
          val all = if (known.nonEmpty) known else {
            val now = GraftDataSource.listFiles(conf, dir).map(_.toString).toVector
            if (now.nonEmpty) appendSegment(now)
            now
          }
          AtomicPublish.text(conf, startPath, all.size.toString)
          all.size
        }
      GraftStreamOffset(n)
    } else GraftStreamOffset(0)

  override def latestOffset(): Offset =
    latestOffset(GraftStreamOffset(0),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())

  /** One directory listing; a seam so the TOCTOU spec can interleave a
    * generation swap between the listing and the segment append. */
  protected def listDir(): Seq[String] =
    GraftDataSource.listFiles(conf, dir).map(_.toString)

  /** Admission control (`maxFilesPerTrigger`): ALL newly discovered files
    * still append to the log (the stable order every offset indexes), but
    * the returned offset advances at most `maxFiles` past the batch start
    * — a backlog of thousands of files drains in bounded batches instead
    * of one giant catch-up micro-batch. */
  /** One discovery: list the dir, durably log newcomers, return the log
    * size. The TOCTOU guard re-reads the generation pointer AFTER the
    * listing and BEFORE any durable append — a rewrite swapping the
    * pointer mid-trigger would otherwise poison the checkpoint log with
    * the NEW generation's files and deliver a batch of duplicates
    * before the next trigger's assert fires. */
  private def discover(): Int = {
    assertAppendOnly()
    val known = log()
    val seen = known.toSet
    val now = listDir()
    val fresh = now.filterNot(seen).toVector
    val all = if (fresh.nonEmpty) { assertAppendOnly(); appendSegment(fresh); cached } else known
    all.size
  }

  // ---- Trigger.AvailableNow -------------------------------------------------
  // The batch-job-over-a-stream shape: Spark calls
  // prepareForTriggerAvailableNow once at query start; the stream
  // snapshots ONE discovery and then reports that fixed endpoint from
  // latestOffset (in maxFilesPerTrigger-bounded steps), so the query
  // drains exactly the files present at start and terminates — files
  // landing mid-run wait for the next scheduled run.
  private var fixedEnd: Int = -1
  override def prepareForTriggerAvailableNow(): Unit = { fixedEnd = discover() }

  /** Per-file sizes for the bytes cap, stat'd once per file and cached
    * for the stream's lifetime (discovered files are immutable by the
    * append-only contract, so a cached length can never go stale). */
  private val sizeCache = new java.util.HashMap[String, java.lang.Long]()
  private def sizeOf(file: String): Long = {
    val hit = sizeCache.get(file)
    if (hit != null) hit.longValue()
    else {
      val p = new Path(file)
      val len = try p.getFileSystem(conf).getFileStatus(p).getLen
        catch { case _: java.io.FileNotFoundException => 0L } // swept: admit free
      sizeCache.put(file, len)
      len
    }
  }

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{
      CompositeReadLimit, ReadMaxBytes, ReadMaxFiles}
    val end = if (fixedEnd >= 0) fixedEnd else discover()
    // unwrap the (possibly composite) limit into file/byte caps; every
    // present cap applies, the tightest wins
    def caps(l: org.apache.spark.sql.connector.read.streaming.ReadLimit): (Int, Long) =
      l match {
        case f: ReadMaxFiles => (f.maxFiles(), Long.MaxValue)
        case b: ReadMaxBytes => (Int.MaxValue, b.maxBytes())
        case c: CompositeReadLimit =>
          c.getReadLimits.map(caps).foldLeft((Int.MaxValue, Long.MaxValue)) {
            case ((f1, b1), (f2, b2)) => (math.min(f1, f2), math.min(b1, b2))
          }
        case _ => (Int.MaxValue, Long.MaxValue)
      }
    val (capFiles, capBytes) = caps(limit)
    val from = indexOf(start)
    val byFiles = math.min(end.toLong, from.toLong + capFiles).toInt
    if (capBytes == Long.MaxValue) GraftStreamOffset(byFiles)
    else {
      // bytes cap (FileStreamSource semantics: a SOFT cap — admit files
      // until the running total EXCEEDS it, always at least one so the
      // stream can't wedge on a single file larger than the cap)
      val files = log()
      var i = from
      var bytes = 0L
      while (i < byFiles && (i == from || bytes + sizeOf(files(i)) <= capBytes)) {
        bytes += sizeOf(files(i))
        i += 1
      }
      GraftStreamOffset(i)
    }
  }

  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ => ReadLimit.allAvailable()
    }
  }

  /** Hive-style partition values re-derived from the file's path relative
    * to the source dir (the log stores plain paths): a stream over a
    * partitioned layout surfaces `k=v` columns exactly like a batch scan.
    * DIRECTORY segments only — the batch listing and the carry-manifest
    * parser both ignore the file NAME, and a `.graft` file named with an
    * `=` must not inject a phantom partition column here either. */
  private def partValuesOf(file: String): Map[String, String] = {
    val filePath = new Path(file).toUri.getPath // scheme-independent
    val dirPath = new Path(dir).toUri.getPath
    val rel = if (filePath.startsWith(dirPath)) filePath.substring(dirPath.length) else filePath
    rel.split("/").dropRight(1).filter(_.contains("=")).map { seg =>
      val Array(k, v) = seg.split("=", 2)
      k -> GraftDataSource.unescapePathValue(v)
    }.toMap
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = indexOf(start)
    val e = indexOf(end)
    log().slice(s, e)
      .map(f => GraftInputPartition(f, partValuesOf(f)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // a file already DV'd when the stream first delivers it (appended,
    // then MoR-deleted-from before this batch planned) reads its LIVE
    // view; DVs landing after a file's batch was delivered don't
    // retro-apply — the change feed is the retroactive-delete channel
    new GraftReaderFactory(required, tableOpt, Array.empty[Filter], -1,
      GraftDataSource.broadcastConf(conf),
      dvMap = GraftDataSource.liveDvs(conf, dir, tableOpt)
        .map { case (k, (p, _)) => k -> p.toString })

  /** Backlog observability in `StreamingQueryProgress.sources[i].metrics`
    * (the FileStreamSource/Kafka pattern): how many discovered files the
    * last committed batch still hasn't consumed — what a 100 TB feed's
    * lag monitoring alerts on. Reads the in-memory log mirror only; no
    * extra filesystem work per progress event. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val discovered = if (cached == null) 0 else cached.size
    val consumed = if (latestConsumedOffset.isPresent)
      indexOf(latestConsumedOffset.get()) else 0
    java.util.Map.of(
      "numFilesDiscovered", discovered.toString,
      "numFilesBehindLatest", math.max(0, discovered - consumed).toString)
  }

  /** Offsets arrive three ways — our own case class, a checkpointed
    * SerializedOffset on crash-restart (Spark hands the RAW offset-log
    * entry to latestOffset before any deserializeOffset call on that
    * path), and in principle any Offset whose json() is ours. Casting
    * only the first wedged every crash-recovery with a ClassCastException
    * (caught by the change-feed backpressure spec); parse the json
    * instead of trusting the runtime to have converted. */
  private def indexOf(o: Offset): Int = o match {
    case g: GraftStreamOffset => g.index
    case other => other.json().trim.toInt
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = {}
  override def stop(): Unit = {}
}

case class GraftStreamOffset(index: Int) extends Offset {
  override def json(): String = index.toString
}
