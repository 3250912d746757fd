package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, IsNull}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.util.SerializableConfiguration

import graft.format._

/** Spark DataSource V2 for the graft columnar format (the olive format
  * re-expressed Spark-first — SURVEY.md §7).
  *
  * Read: `spark.read.format("graft").option("table", name).load(dir)` —
  * vectorized `ColumnarBatch` scan, one input partition per file, column
  * pruning skips unneeded page reads entirely.
  *
  * Write: `df.write.format("graft").mode("append"|"overwrite").save(dir)`
  * — each task streams chunks (dict-encoded, paged, compressed) into its
  * own file; at cluster scale this is one file per task, no coordination.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // a footer probe can race a concurrent append's visibility re-home
    // (file-level rename into the live generation dir) or a grace sweep:
    // the listed path vanishes before the open. The fresh listing is the
    // truth either way — re-list and re-probe, bounded, instead of
    // failing a DML's schema resolution on a transient move
    var attempt = 0
    while (true) {
      try return inferSchemaOnce(options)
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt > 4) throw e
          Thread.sleep(5L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def inferSchemaOnce(options: CaseInsensitiveStringMap): StructType = {
    val conf = GraftDataSource.sessionConf()
    val views = GraftDataSource.paths(options).map(d => d -> GraftDataSource.liveView(conf, d))
    val files = views.flatMap(_._2._2.map { case (p, _, part) => (p, part) })
    if (files.isEmpty) new StructType()
    else {
      val data = Option(options.get("table")) match {
        case Some(t) =>
          // the catalog's declared-schema marker is authoritative when
          // present: after a RENAME/DROP/WIDEN DDL the footers disagree
          // file-by-file (old spellings, narrower types), and a
          // first-footer-wins inference would hand DML a pre-DDL schema
          views.iterator
            .flatMap { case (d, _) => GraftDataSource.markerSchemaAt(conf, d, t) }
            .nextOption()
            .map(graft.format.Evolution.visible)
            .getOrElse {
          // a named table may be absent from the FIRST file (per-table
          // files sharing a namespace dir): the table index names the
          // files holding it, and the first one's footer serves the schema
          views.iterator
            .flatMap { case (d, v) => GraftDataSource.tableIndex(conf, d, v) }
            .filter(_.holds(t))
            .flatMap(GraftDataSource.footerSchema(conf, _, t))
            .nextOption().getOrElse(
            throw new IllegalArgumentException(
              s"table $t not found in any of ${files.size} files"))
            }
        case None =>
          val head = files.head._1
          val r = GraftFileReader.open(head.getFileSystem(conf), head)
          try GraftDataSource.pickTable(r.footer, null).schema finally r.close()
      }
      // hive-style partition dirs surface as trailing string columns,
      // FLAGGED in field metadata: the scan builder consumes exactly-
      // evaluable filters on them (their values come from paths, so a
      // file-level drop IS the row-level filter) — which is what lets
      // aggregates push under a partition predicate
      val partCols = GraftDataSource.partitionColumns(files)
        .filterNot(data.fieldNames.contains)
      val partMeta = new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(GraftDataSource.PartitionColKey, true).build()
      partCols.foldLeft(data)((s, c) =>
        s.add(StructField(c, StringType, nullable = true, partMeta)))
    }
  }

  /** Spark's path-based V2 writes never forward `df.write.partitionBy`
    * transforms to the provider (they are only equality-checked against
    * `Table.partitioning()`), so partition columns arrive via the
    * `partitionBy` OPTION; declaring them here makes the native
    * `.partitionBy(...)` check pass when both are given. */
  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    GraftDataSource.optionPartitionCols(options)
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    // identity transforms → hive-style dir routing
    val partCols = partitioning.toSeq.collect {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
    }
    new GraftTable(GraftDataSource.paths(options), schema, options, partCols)
  }
}

object GraftDataSource {

  /** The session's Hadoop configuration when a session is active (always
    * the case on the driver paths that call this) — metadata and data
    * I/O must resolve filesystems through the same `spark.hadoop.*` /
    * `fs.defaultFS` world as the rest of the plan, or a configured
    * object store would get default-config listings. Bare
    * `new Configuration()` only as the sessionless fallback. */
  private[sources] def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** A Hadoop conf for executor-side readers and writers, shipped as ONE
    * broadcast per scan or write job (as Spark's own file scans do): a
    * conf carried inside the task closure is re-serialized into every
    * task and re-parsed by every task's deserializer, which cost a
    * one-task lookup stage more than its own decode. Spark's cleaner
    * releases the blocks once the factory holding them is gone. */
  private[graft] def broadcastConf(conf: Configuration = sessionConf())
      : Broadcast[SerializableConfiguration] =
    org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast(new SerializableConfiguration(conf))
  def path(options: CaseInsensitiveStringMap): String = paths(options).head

  /** `load(p)` arrives as option "path"; `load(p1, p2, …)` as a JSON
    * array in option "paths". A "generation" option (time travel) pins
    * each dir to a compaction generation instead of the live pointer. */
  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = options.get("paths")
    val single = options.get("path")
    val all =
      (if (multi != null) {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        mapper.readValue(multi, classOf[Array[String]]).toSeq
      } else Seq.empty) ++ Option(single).toSeq
    if (all.isEmpty) throw new IllegalArgumentException("graft source requires a path")
    val dirs = all.distinct
    Option(options.get("generation")) match {
      case Some(g) => val conf = GraftDataSource.sessionConf(); dirs.map(generationDir(conf, _, g))
      case None => dirs
    }
  }

  /** Time travel target: `gen` is an integer index or a full `gen-NNNNN`
    * name. Generations are compaction points — the LIVE one keeps
    * accepting appends; a superseded one is frozen and stays readable
    * until a later compaction's grace-period sweep reclaims it. A missing
    * generation is a loud error, never an empty table. */
  def generationDir(conf: Configuration, dir: String, gen: String): String = {
    def bad(): Nothing = throw new IllegalArgumentException(
      s"bad generation '$gen' (want an index like 2, or gen-00002)")
    val name =
      if (gen.matches("\\d+")) f"gen-${gen.toIntOption.getOrElse(bad())}%05d"
      else if (gen.matches(GenDirPattern)) gen
      else bad()
    // only generations the pointer has made live are addressable: a dir
    // with a HIGHER index than the pointer is a crashed compaction's
    // half-written output — serving it would silently return partial data
    val live = readGenPointer(conf, dir).getOrElse(throw new OliveFormatException(
      s"$dir has no generation pointer; generations are not addressable"))
    val reqIdx = genIndex(name).getOrElse(bad())
    val liveIdx = genIndex(live).getOrElse(throw new OliveFormatException(
      s"corrupt generation pointer in $dir: '$live'"))
    if (reqIdx > liveIdx)
      throw new OliveFormatException(
        s"generation $name was never made live (live is $live): " +
          "refusing a half-written compaction output")
    val p = new Path(dir, name)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p))
      throw new OliveFormatException(
        s"generation $name not present under $dir (reclaimed by a later compaction, or never written)")
    // a partially-swept generation (its unreferenced files reclaimed, the
    // referenced ones carried forward by a newer manifest) loses its
    // .swap-ts marker — serving it would silently return PARTIAL data
    if (!fs.exists(new Path(p, SwapTsName)))
      throw new OliveFormatException(
        s"generation $name under $dir is no longer a complete snapshot " +
          "(partially reclaimed after its retention lapsed); only files " +
          "carried forward by newer generations remain")
    p.toString
  }

  def listFiles(conf: Configuration, dir: String): Seq[Path] =
    listPartitionedFiles(conf, dir).map(_._1)

  /** Driver-side parallelism for listings and footer probes: listing a
    * 10^6-file dataset serially against an object store (tens of ms per
    * LIST call) is minutes; 16 concurrent calls make it seconds. */
  private val ListThreads = 16

  /** Run `f` over `items` on a transient bounded pool, preserving order.
    * The first failure cancels the rest: daemon threads and
    * `shutdownNow`, so a failed sweep's queued footer opens never run
    * on behind the exception (a caller that retries would otherwise
    * race its own abandoned probes). */
  def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(ListThreads, items.size),
        r => { val t = new Thread(r, "graft-list"); t.setDaemon(true); t })
      try {
        items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(a)
        })).map { fut =>
          // surface the worker's own exception (e.g. OliveFormatException on
          // a corrupt footer), not an opaque ExecutionException wrapper
          try fut.get()
          catch {
            case e: Throwable =>
              pool.shutdownNow()
              throw (e match {
                case x: java.util.concurrent.ExecutionException => Option(x.getCause).getOrElse(x)
                case other => other
              })
          }
        }
      } finally pool.shutdown()
    }
  }

  /** Recursive listing with hive-style `key=value` partition directories:
    * each file comes with the partition values collected along its path.
    * Each BFS level's directories are listed in parallel — a layout with
    * thousands of partition dirs doesn't serialize the driver on
    * round-trips to the filesystem. */
  def listPartitionedFiles(conf: Configuration, dir: String): Seq[(Path, Map[String, String])] =
    listPartitionedSized(conf, dir).map { case (p, _, part) => (p, part) }

  /** Test-visible count of recursive directory listings; specs assert a
    * query's planning costs exactly one (stats + partition planning share
    * the scan's cached listing). */
  private[graft] val listingCalls = new java.util.concurrent.atomic.AtomicLong

  /** Generation pointer written by [[graft.operators.FormatOps.compact]]:
    * when `dir/.graft-gen` exists, its single line names the live data
    * subdirectory (`gen-NNNNN`) and every read and write resolves through
    * it. The pointer is replaced by an atomic rename, so a concurrent
    * reader sees the previous generation or the new one — never a
    * half-swapped directory. Dirs without a pointer (the common layout)
    * resolve to themselves. */
  val GenPointerName = ".graft-gen"

  /** Generation dir names: `gen-` + zero-padded index (5+ digits — %05d
    * widens past 99999, so the pattern must too). One definition shared
    * by the reader, the catalog's timestamp travel, and compaction. */
  val GenDirPattern = "gen-\\d{5,}"

  /** Parse a generation dir name's index; None when it isn't one (or the
    * digits overflow Int — a stray `gen-9999999999` dir must be ignored
    * or rejected loudly, never crash a query with NumberFormatException). */
  def genIndex(name: String): Option[Int] =
    if (name.matches(GenDirPattern)) name.stripPrefix("gen-").toIntOption else None

  /** Swap marker written INSIDE a generation dir just before the pointer
    * swap makes it live: its content (epoch ms) is the generation's
    * birth time for `TIMESTAMP AS OF`. Dir mtimes can't serve that role:
    * appends to the LIVE generation keep bumping its mtime, which would
    * time-travel rows out of existence. */
  val SwapTsName = ".swap-ts"

  /** Clustering record written INTO THE STAGING DIR by
    * [[graft.operators.FormatOps.cluster]] — it rides the publish
    * rename, so it is atomically part of the generation it describes
    * and can never land in a generation some concurrent rewrite
    * published in between. Lines 1-4: cols (comma-joined), binning
    * mode, the record's member .graft file count, table name; lines 5+
    * (since incremental-recluster support): the member file NAMES
    * themselves ("-" = empty list sentinel), which let drift be
    * detected by a name diff with zero per-file I/O. Living inside the
    * gen dir buys the right lifecycle for free: restore to a
    * pre-clustering generation and the record vanishes with it; vacuum
    * reclaims it with its generation. Every publish CARRIES a
    * name-tracking record forward ([[Generations.publishStaging]]) so a
    * 1-file DML can't erase the claim for thousands of still-tiled
    * carried files; vintage 4-line records do NOT carry (their count
    * check can't see a count-preserving file replacement, so the old
    * vanish-on-publish behavior remains their conservative truth).
    * DESCRIBE diffs the record's member names against the live listing
    * (count fallback for vintage records): appends (and the publish's
    * own late-append fold) land unclustered files, so any drift
    * downgrades the claim to partial rather than silently overstating
    * prune-ability. Membership is namespace-wide — sibling-table
    * activity downgrades conservatively (a false 'partial', never a
    * false 'clustered'); tracking per-table would need a footer open
    * per file at DESCRIBE time. */
  val ClusterSpecName = ".cluster-spec"

  /** ONE read of the live generation's clustering record: the
    * (cols, binning, fileCountAtRecordTime, table) header plus the
    * member file-name list when the record carries one (lines 5+,
    * written since incremental-recluster support; None = vintage
    * record). A single read is load-bearing twice over: it halves the
    * object-store round-trips per DESCRIBE, and it makes pairing a
    * generation-N header with generation-N+1's member list impossible
    * (two reads race any concurrent publish). A MALFORMED record reads
    * as absent (no claim is better than a garbled one), but a transport
    * failure PROPAGATES — "couldn't read the record" must not render as
    * "never clustered", or a transient object-store error sends an
    * operator into a multi-hour re-cluster (the DESCRIBE caller
    * degrades it to an explicit 'unknown' instead). */
  def readClusterRecord(conf: Configuration, dir: String)
      : Option[((String, String, Long, String), Option[Set[String]])] = {
    val p = new Path(resolveDataDir(conf, dir), ClusterSpecName)
    readMetaText(p.getFileSystem(conf), p).flatMap { text =>
      val lines = text.split("\n")
      if (lines.length < 4) None
      else try {
        val header = (lines(0).trim, lines(1).trim, lines(2).trim.toLong, lines(3).trim)
        // "-" is the empty-list sentinel (an empty-table cluster still
        // writes a name-tracking record; only a 4-line record is vintage)
        val members =
          if (lines.length <= 4) None
          else Some(lines.drop(4).map(_.trim).filter(n => n.nonEmpty && n != "-").toSet)
        Some((header, members))
      } catch { case _: NumberFormatException => None }
    }
  }

  /** The one read rule of the small metadata files (`.dvs`, `.carry`,
    * `.swap-ts`, `.cluster-spec`, bucket and schema markers): open the
    * file and read a missing one as absent — one metadata call, not an
    * `exists` probe and then an open. Any other failure propagates; each
    * caller keeps its own rule for those. */
  def readMetaBytes(fs: FileSystem, p: Path): Option[Array[Byte]] =
    try {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** [[readMetaBytes]] as UTF-8 text. */
  def readMetaText(fs: FileSystem, p: Path): Option[String] =
    readMetaBytes(fs, p).map(new String(_, java.nio.charset.StandardCharsets.UTF_8))

  /** Header-only view of [[readClusterRecord]]. */
  def readClusterSpec(conf: Configuration, dir: String)
      : Option[(String, String, Long, String)] =
    readClusterRecord(conf, dir).map(_._1)

  /** Member-list view of [[readClusterRecord]] (None = record absent or
    * vintage; callers refuse with guidance rather than guessing
    * membership). */
  def readClusterSpecFiles(conf: Configuration, dir: String): Option[Set[String]] =
    readClusterRecord(conf, dir).flatMap(_._2)

  /** Liveness claim written at staging-dir creation by every rewrite
    * path. The dead-data sweep reclaims a stale staging WHOLE (claim
    * included); helper writes after such a sweep would silently
    * resurrect the dir via implicit mkdirs — and a publish of that
    * resurrected, data-less shell would swing the pointer to a
    * generation missing every rewritten row. [[Generations.publishStaging]]
    * therefore requires the claim immediately before the rename and
    * fails LOUDLY when a sweep won the race. */
  val StagingClaimName = ".staging-claim"

  /** Idempotency-key marker written INSIDE a generation dir before the
    * pointer swap (rides the same atomic publish rename): holds the
    * `idempotencyKey` of the rewrite that produced the generation. A
    * rewrite finding its own key on the LIVE generation is a replay and
    * becomes a no-op — what turns at-least-once drivers (foreachBatch
    * retries) into exactly-once table folds. Delta's txnAppId/txnVersion
    * idea mapped to generations. */
  val RewriteTagName = ".rewrite-tag"

  /** Name of the `_file` metadata column (the row's source file path). */
  val FileColName = "_file"

  /** Carry manifest written INSIDE a generation dir by every generation
    * publisher ([[Generations.publishStaging]]): each line is
    * `<bytes>\t<path relative to the TABLE ROOT>` naming a data file
    * that is part of this generation's live view. Entries come in two
    * kinds: CARRIED references into an OLDER generation (or a
    * pre-pointer loose file) written by a file-granular DML — a 1-row
    * upsert rewrites only the files that can hold matching rows and
    * carries the other 99.99% of a 100 TB table by reference — and
    * SELF entries for the generation's OWN fresh output, added at
    * publish so planning stats cover every file regardless of which
    * operation produced it. The listing dedups self entries against the
    * physical walk by file name; the manifest is the "manifest lists
    * data files" half of an iceberg/delta-style table format, scoped to
    * what the sweep needs. References are FLATTENED at write time (a
    * carried file's path points at the generation that physically holds
    * it), so the sweep never chases chains. */
  val CarryManifestName = ".carry"

  /** Parse a generation's carry manifest: (root-relative path, bytes)
    * per file; empty when the manifest is absent (a pre-stats-manifest
    * generation, or stats coverage disabled by conf). */
  def readCarryManifest(fs: FileSystem, genDir: Path): Seq[(String, Long)] =
    readCarryManifestFull(fs, genDir).map { case (rel, size, _) => (rel, size) }

  /** Manifest entries that are CARRIED references — files living OUTSIDE
    * this generation dir, i.e. the untouched files a file-granular DML
    * kept by reference. Excludes the generation's self-covering stats
    * entries for its own fresh output (same manifest, different kind). */
  def readCarriedRefs(fs: FileSystem, genDir: Path): Seq[(String, Long)] =
    readCarryManifest(fs, genDir).filterNot(_._1.startsWith(genDir.getName + "/"))

  /** Full manifest rows including the optional third field: the carried
    * file's per-chunk zone-map stats ([[graft.format.Stats.statsToJson]]),
    * which lets DML candidate selection prune manifest-covered files with
    * zero per-file I/O. */
  def readCarryManifestFull(fs: FileSystem, genDir: Path): Seq[(String, Long, Option[String])] =
    readStatsLines(fs, new Path(genDir, CarryManifestName), strict = true)

  /** The one line codec of the stats manifests (`.carry` and the stats
    * sidecars): `<bytes>\t<rel>[\t<stats json>]`. */
  private def statsLine(rel: String, bytes: Long, stats: Option[String]): String =
    s"$bytes\t$rel" + stats.map("\t" + _).getOrElse("")

  /** Parse a stats-manifest file; an absent file reads as empty. Strict
    * (the `.carry` manifest, which defines a generation's view): a
    * corrupt line fails naming the file. Lenient (the advisory sidecars,
    * whose every line must carry stats): a torn or corrupt line — or any
    * read failure — degrades to a footer read, never a failure. */
  private def readStatsLines(fs: FileSystem, p: Path,
      strict: Boolean): Seq[(String, Long, Option[String])] =
    try {
      val text = readMetaText(fs, p).getOrElse("") // absent, or swept mid-read
      text.split('\n').toSeq.filter(_.nonEmpty).flatMap { line =>
        val parts = line.split('\t')
        val stats = if (parts.length >= 3 && parts(2).nonEmpty) Some(parts(2)) else None
        if (strict) {
          require(parts.length >= 2 && parts(0).nonEmpty,
            s"corrupt carry manifest line in $p: '$line'")
          Some((parts(1), parts(0).toLong, stats))
        } else if (stats.isDefined && parts(1).nonEmpty)
          scala.util.Try((parts(1), parts(0).toLong, stats)).toOption
        else None
      }
    } catch { case _: java.io.IOException if !strict => Seq.empty }

  /** A stats sidecar's lines, each carrying stats: [[readStatsLines]]
    * lenient, and its writers' text. */
  private[sources] def readStatsSidecar(fs: FileSystem, p: Path): Seq[(String, Long, String)] =
    readStatsLines(fs, p, strict = false).collect { case (rel, sz, Some(js)) => (rel, sz, js) }
  private def statsSidecarText(entries: Seq[(String, Long, String)]): String =
    entries.map { case (rel, sz, js) => statsLine(rel, sz, Some(js)) }.mkString("\n")

  /** Stats sidecars (`.stats-append-<uuid>`): every write commit's
    * footer stats, which the write tasks hand over in their commit
    * messages, written into the write's data dir with rels relative to
    * its target dir (the table root, a rewrite's staging, or a CTAS
    * stage, whose sidecar moves with its files). In a live data dir they
    * cover what the carry manifest can't — files landed since the last
    * publish — so an appended file is pruned at planning instead of
    * becoming a scheduled task; planning merges them under the carry
    * entries. In a staging, [[Generations.publishStaging]] builds the
    * self-covering manifest from them and deletes them before the
    * rename. They are ADVISORY — a lost or stale sidecar costs pruning
    * or a footer open, never correctness. Unique names make concurrent
    * writes race-free; a fold pass keeps the file count bounded; an
    * overwrite deletes them with the data; sidecars in superseded
    * generation dirs age out with the generation (planning lists only
    * the LIVE data dir). Streaming epochs skip the sidecar (one per
    * epoch would proliferate) — their appends stay reader-level-skipped
    * until a compaction covers them. */
  val AppendStatsPrefix = ".stats-append-"
  private val AppendStatsFoldAt = 64

  def writeAppendStats(conf: Configuration, dataDir: Path,
      entries: Seq[(String, Long, String)]): Unit = {
    if (entries.isEmpty) return
    val fs = dataDir.getFileSystem(conf)
    AtomicPublish.text(conf,
      new Path(dataDir, s"$AppendStatsPrefix${java.util.UUID.randomUUID()}"),
      statsSidecarText(entries))
    // bound the sidecar count: many appends between publishes fold into
    // one file once they pile up. Planners read-only (a swept input
    // degrades them to footer reads); per-table write commits run
    // sequentially on the driver, so the read-fold-delete needs no lock.
    val all = try fs.listStatus(dataDir).map(_.getPath)
        .filter(_.getName.startsWith(AppendStatsPrefix)).toSeq
      catch { case _: java.io.IOException => Seq.empty }
    if (all.size >= AppendStatsFoldAt) {
      val folded = all.flatMap(p => readStatsSidecar(fs, p))
      AtomicPublish.text(conf,
        new Path(dataDir, s"$AppendStatsPrefix${java.util.UUID.randomUUID()}"),
        statsSidecarText(folded))
      all.foreach(p => try fs.delete(p, false) catch { case _: java.io.IOException => })
    }
  }

  def writeCarryManifest(fs: FileSystem, genDir: Path,
      entries: Seq[(String, Long, Option[String])]): Unit =
    // atomic publish: a concurrent DML's entry sweep reads SURVIVOR
    // manifests (fresh stagings included) to compute its pinned-file
    // set — it must see a complete manifest or none, never a torn line
    AtomicPublish.text(GraftDataSource.sessionConf(), new Path(genDir, CarryManifestName),
      entries.map { case (rel, size, stats) => statsLine(rel, size, stats) }
        .sorted.mkString("\n"))

  /** Session switches for SQL DML semantics, one per command (the
    * Iceberg write.delete/update/merge.mode split): `copy-on-write`
    * (default; rewrites the files that hold matching rows) vs
    * `merge-on-read` / `mor` (writes position-delete vectors — plus
    * replacement-row data files for UPDATE/MERGE; reads subtract the
    * positions). */
  def morDeleteMode(): Boolean = morConf("spark.graft.deleteMode")
  def morMode(cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command): Boolean = {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command._
    cmd match {
      case DELETE => morConf("spark.graft.deleteMode")
      case UPDATE => morConf("spark.graft.updateMode")
      case MERGE => morConf("spark.graft.mergeMode")
      case _ => false
    }
  }
  private def morConf(key: String): Boolean = try {
    val v = org.apache.spark.sql.SparkSession.active.conf.get(key, "copy-on-write")
    v.equalsIgnoreCase("merge-on-read") || v.equalsIgnoreCase("mor")
  } catch { case _: Exception => false }

  /** Name of the `_pos` metadata column (the row's 0-based ordinal within
    * its file's table, footer chunk order) — with `_file` it forms the
    * stable row id the merge-on-read DELETE path keys its position
    * deletes on. Files are immutable, so the pair never moves. */
  val PosColName = "_pos"

  /** Delete-vector manifest written INSIDE a generation dir, next to
    * `.carry`: each line is
    * `<table>\t<root-relative data file>\t<root-relative DV blob>\t<cardinality>`
    * naming a [[graft.format.Dv]] blob that holds the data file's deleted
    * row positions AS OF this generation. Like `.carry`, references are
    * FLATTENED (the blob path points at the generation that physically
    * holds it), so carrying a file's DV across rewrites never chases
    * chains, and time travel reads each generation's own view. */
  val DvManifestName = ".dvs"

  /** One `.dvs` manifest's rows: (table, relDataFile, relDvBlob, cardinality). */
  def readDvManifest(fs: FileSystem, genDir: Path): Seq[(String, String, String, Long)] = {
    val p = new Path(genDir, DvManifestName)
    // absent, or swept mid-read: no delete vectors
    readMetaText(fs, p).getOrElse("").split('\n').toSeq.filter(_.nonEmpty).map { line =>
      val parts = line.split('\t')
      require(parts.length == 4 && parts.forall(_.nonEmpty),
        s"corrupt DV manifest line in $p: '$line'")
      (parts(0), parts(1), parts(2), parts(3).toLong)
    }
  }

  def writeDvManifest(fs: FileSystem, genDir: Path,
      entries: Seq[(String, String, String, Long)]): Unit =
    if (entries.nonEmpty)
      AtomicPublish.text(sessionConf(), new Path(genDir, DvManifestName),
        entries.map { case (t, rel, dv, n) => s"$t\t$rel\t$dv\t$n" }
          .sorted.mkString("\n"))

  /** The LIVE view's delete vectors for `table`: absolute-URI data-file
    * path → (absolute DV blob path, cardinality). Empty for tables with
    * no generation pointer (merge-on-read commits always publish one) or
    * no `.dvs`. When `table` is None (single-table files), any entry of
    * any table matches — callers using None are conservative guards. */
  def liveDvs(conf: Configuration, dir: String,
      table: Option[String]): Map[String, (Path, Long)] =
    liveDvsAt(conf, dir, resolveDataDir(conf, dir), table)

  /** [[liveDvs]] against an ALREADY-resolved data dir — lets a caller
    * pair the DV set with a listing of the SAME generation (the scan's
    * consistency snapshot) instead of re-resolving and racing a swap. */
  def liveDvsAt(conf: Configuration, dir: String, resolved: String,
      table: Option[String]): Map[String, (Path, Long)] =
    generationRoot(dir, resolved).fold(Map.empty[String, (Path, Long)]) { root =>
      val genDir = new Path(resolved)
      val fs = genDir.getFileSystem(conf)
      val rootUri = root.toUri.getPath.stripSuffix("/")
      readDvManifest(fs, genDir)
        .filter { case (t, _, _, _) => table.forall(_ == t) }
        .map { case (_, rel, dv, n) =>
          s"$rootUri/$rel" -> (new Path(root, dv), n)
        }.toMap
    }

  /** When the view of `dir` whose data dir is `resolved` is a
    * generation, the table root its manifests' (`.carry`, `.dvs`)
    * entries are relative to: `dir` under a pointer, or the parent when
    * `dir` IS a generation dir (time travel pins one directly). None
    * for a pointerless dir, which has no generation manifests. */
  private def generationRoot(dir: String, resolved: String): Option[Path] =
    if (resolved != dir) Some(new Path(dir))
    else if (genIndex(new Path(dir).getName).isDefined) Some(new Path(dir).getParent)
    else None

  /** Copy the bucket markers of source data dir `dataDir` that `staging`
    * lacks (a rewrite re-creates at most its OWN table's marker), except
    * the `excluded` marker name (DROP TABLE's). A source dir already
    * swept carries nothing: its generation was superseded, so the
    * publish loses its generation race anyway. */
  def carryBucketMarkers(fs: FileSystem, conf: Configuration,
      dataDir: String, staging: Path, excluded: Option[String]): Unit = {
    val oldDataDir = new Path(dataDir)
    val entries = try fs.listStatus(oldDataDir).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    entries.foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.startsWith(".bucket_") && n.endsWith(".json") &&
          !excluded.contains(n) && !fs.exists(new Path(staging, n)))
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, new Path(staging, n),
          false, conf)
    }
  }

  /** The complete view of one PUBLISHED generation — its own files plus
    * its carry manifest's references — regardless of where the pointer
    * currently points. The optimistic-DML rebase path reads the race
    * winner's view through this: at rebase time the winner's `gen-N`
    * rename has landed (that is what the loser collided with) but its
    * pointer swap may not have, so the pointer-resolved listing would
    * show the PRE-race world and the rebase would silently drop the
    * winner's changes. */
  private[graft] def listGenerationSized(conf: Configuration, dir: String,
      genName: String): Seq[(Path, Long, Map[String, String])] =
    listPartitionedSizedAt(conf, dir, new Path(dir, genName).toString,
      viaPointer = false)

  /** The catalog's declared-schema marker of `table` under `dir`, and
    * the table a marker's file name declares. */
  def schemaMarkerPath(dir: String, table: String): Path = new Path(dir, s"$MarkerPre$table$MarkerSuf")
  def schemaMarkerTable(name: String): Option[String] = Some(name)
    .filter(n => n.startsWith(MarkerPre) && n.endsWith(MarkerSuf))
    .map(_.stripPrefix(MarkerPre).stripSuffix(MarkerSuf))
  private val MarkerPre = ".schema_"
  private val MarkerSuf = ".json"

  /** The catalog's declared-schema marker for `table` under `dir`, if
    * present and parseable — the path API consults it so DML reads agree
    * with the catalog's evolved (renamed/dropped/widened) view. Corrupt
    * (a crashed DDL) or missing markers fall through to footer inference. */
  def markerSchemaAt(conf: Configuration, dir: String,
      table: String): Option[StructType] =
    try {
      val marker = schemaMarkerPath(dir, table)
      readMetaText(marker.getFileSystem(conf), marker).flatMap { json =>
        org.apache.spark.sql.types.DataType.fromJson(json) match {
          case s: StructType => Some(s)
          case _ => None
        }
      }
    } catch { case _: Exception => None }

  /** One listed file of a view's [[tableIndex]]: the per-chunk table
    * metas it holds (names, row counts, zone maps, and schemas, whose
    * field metadata only a footer keeps), and the stats text of the
    * manifest entry that covered it, if one did. */
  private[sources] case class IndexedFile(path: Path, size: Long,
      part: Map[String, String], metas: Seq[graft.format.Meta.TableMeta],
      manifestJson: Option[String]) {
    def names: Seq[String] = metas.map(_.name).distinct
    def holds(table: String): Boolean = metas.exists(_.name == table)
    /** The stats text a generation manifest records for this file: the
      * covering entry's own text, byte for byte, else the footer's. */
    def statsJson: String = manifestJson.getOrElse(graft.format.Stats.statsToJson(metas))
  }

  /** The table index of one view of `dir` (its data dir and listing, as
    * [[liveView]] returns them): for each listed file, in listing order,
    * the tables it holds. A file the view's manifests cover
    * ([[manifestStats]]) costs no I/O; any other costs one footer open,
    * run in parallel batches of 64, so a caller that stops at the first
    * file holding a table opens no footer past that file's batch. */
  private[sources] def tableIndex(conf: Configuration, dir: String,
      view: (String, Seq[(Path, Long, Map[String, String])])): Iterator[IndexedFile] = {
    val covered = manifestStats(conf, dir, view._1)
    view._2.grouped(64).flatMap { batch =>
      val opened = inParallel(batch.filterNot(e => covered.contains(e._1.toUri.getPath))) {
        case (p, _, _) => p -> footerMetas(conf, p)
      }.toMap
      batch.map { case (p, size, part) =>
        covered.get(p.toUri.getPath) match {
          case Some((metas, js)) => IndexedFile(p, size, part, metas, Some(js))
          case None => IndexedFile(p, size, part, opened(p), None)
        }
      }
    }
  }

  /** Every table meta of `p`'s footer: one open. */
  private[sources] def footerMetas(conf: Configuration,
      p: Path): Seq[graft.format.Meta.TableMeta] = {
    val r = GraftFileReader.open(p.getFileSystem(conf), p)
    try r.footer.chunks.flatMap(_.tables) finally r.close()
  }

  /** `table`'s schema in indexed file `f`, from its footer: a manifest
    * stores a schema as DDL, which drops field metadata such as
    * `graft.fixedWidth` and `graft.logicalType`. */
  private[sources] def footerSchema(conf: Configuration, f: IndexedFile,
      table: String): Option[StructType] =
    f.manifestJson.fold(f.metas)(_ => footerMetas(conf, f.path))
      .find(_.name == table).map(_.schema)

  /** The manifests of one view of `dir` whose data dir is `resolved`,
    * PARSED: data-file URI path → (its table metas, the manifest's stats
    * text for it) for every file they cover. They are the data dir's
    * `.carry` when it is a generation ([[generationRoot]]: the
    * pointer's, or a generation-pinned dir's own) and its append-stats
    * sidecars, which cover what the carry manifest can't: files landed
    * since the last publish (and EVERYTHING on a never-published plain
    * table, which has no carry manifest). An entry whose stats don't
    * parse is left out, so its file costs a footer read, never a wrong
    * skip.
    *
    * Cached per MANIFEST identity (path + the `.carry` file's mtime and
    * length — an `overwrite` can delete every generation and a later
    * DML re-create the same `gen-00001` path with different content,
    * and the late-append fold can grow a published manifest in place,
    * so the path alone is not an identity). The parse is shared
    * JVM-wide; without this every scan re-read and re-parsed the same
    * manifest JSON — AQE and multi-statement pipelines plan scans
    * constantly, and the per-scan parse throttled whole pipelines. A
    * stale entry can only LOSE pruning, never mis-prune (entries are
    * keyed by globally-unique file names), but the identity key makes
    * even that window one getFileStatus wide. */
  private[sources] def manifestStats(conf: Configuration, dir: String,
      resolved: String): Map[String, (Seq[graft.format.Meta.TableMeta], String)] = {
    val p = new Path(resolved)
    val fs = p.getFileSystem(conf)
    val root = generationRoot(dir, resolved)
    val sidecars = (try fs.listStatus(p).toSeq catch {
      case _: java.io.IOException => Seq.empty
    }).filter(_.getPath.getName.startsWith(AppendStatsPrefix))
    val carrySt = root.flatMap { _ =>
      try Some(fs.getFileStatus(new Path(p, CarryManifestName))) catch {
        case _: java.io.IOException => None
      }
    }
    if (carrySt.isEmpty && sidecars.isEmpty) return Map.empty
    val carryStamp = carrySt.map(s => s"${s.getModificationTime}:${s.getLen}").getOrElse("-")
    val sideStamp = sidecars.map(s =>
      s"${s.getPath.getName}:${s.getModificationTime}:${s.getLen}").sorted.mkString(",")
    val key = s"$resolved@$carryStamp@${sideStamp.hashCode}:${sidecars.size}"
    val cached = parsedStatsCache.get(key)
    if (cached != null) cached
    else {
      manifestParses.incrementAndGet()
      val rootUri = root.getOrElse(p).toUri.getPath.stripSuffix("/")
      val raw = carrySt.map(_ => readCarryManifestFull(fs, p)
          .flatMap { case (rel, _, js) => js.map(rel -> _) }).getOrElse(Seq.empty) ++
        sidecars.flatMap(s => readStatsSidecar(fs, s.getPath)
          .map { case (rel, _, js) => rel -> js })
      val parsed = inParallel(raw) { case (rel, js) =>
        graft.format.Stats.statsFromJson(js).map(ms => s"$rootUri/$rel" -> (ms, js))
      }.flatten.toMap
      parsedStatsCache.put(key, parsed)
      parsed
    }
  }
  /** Cache-miss counter for [[manifestStats]] — planning the same live
    * view twice must parse the manifest once (PlanningSoakSpec). */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong
  private val parsedStatsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Map[String, (Seq[graft.format.Meta.TableMeta], String)]](
        64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String,
          Map[String, (Seq[graft.format.Meta.TableMeta], String)]]): Boolean = size() > 256
    })

  /** Appender's half of the append-vs-rewrite race guard (shared by the
    * batch commit and every streaming epoch commit): if the pointer
    * moved while the write ran, re-home any committed file the LIVE
    * view doesn't surface (by its globally-unique name) into the live
    * data dir — file-level atomic renames, partition subpaths
    * preserved. A retried streaming epoch whose earlier attempt was
    * already re-homed sees its deterministic name visible and no-ops.
    * Bounded retries, then a LOUD failure — never silently invisible
    * rows. */
  private[sources] def ensureAppendVisibility(conf: Configuration, dir: String,
      plannedDataDir: String, messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.collect { case m: GraftCommitMessage =>
      m.file.split(";").toSeq
    }.flatten.filter(_.nonEmpty)
    if (committed.isEmpty) return
    if (resolveDataDir(conf, dir) == plannedDataDir) return
    val rootPath = new Path(plannedDataDir)
    val fs = rootPath.getFileSystem(conf)
    def missingNow(): Seq[String] = {
      val visibleNames = listPartitionedSized(conf, dir).map(_._1.getName).toSet
      committed.filterNot(f => visibleNames.contains(new Path(f).getName))
    }
    var attempts = 0
    while (attempts < 4) {
      val missing = missingNow()
      if (missing.isEmpty) return
      val liveDir = new Path(resolveDataDir(conf, dir))
      missing.foreach { f =>
        val p = new Path(f)
        if (fs.exists(p)) {
          val dest = new Path(liveDir, relativePath(rootPath, p))
          fs.mkdirs(dest.getParent)
          fs.rename(p, dest)
        }
      }
      attempts += 1
    }
    val lost = missingNow()
    if (lost.nonEmpty)
      throw new graft.format.OliveFormatException(
        s"append to $dir raced concurrent rewrites and could not surface " +
          s"${lost.size} committed file(s) in the live view after $attempts " +
          "re-home attempts; the files are on disk but unreferenced — " +
          "retry the write")
  }

  /** ANALYZE sidecar (`.colstats_<table>.json` at the table root):
    * persisted column statistics `CALL sys.analyze` computed. Read is
    * cached by (path, mtime) — re-analyze replaces the file atomically
    * and the next scan re-parses. */
  def writeColStats(conf: Configuration, dir: String, table: String,
      a: graft.format.Stats.TableAnalysis): Unit =
    AtomicPublish.text(conf, new Path(dir, s".colstats_$table.json"),
      graft.format.Stats.analysisToJson(a))

  def readColStats(conf: Configuration, dir: String,
      table: String): Option[graft.format.Stats.TableAnalysis] =
    try {
      val p = new Path(dir, s".colstats_$table.json")
      val fs = p.getFileSystem(conf)
      val st = try fs.getFileStatus(p) catch {
        case _: java.io.FileNotFoundException => return None
      }
      val key = s"${p.toUri.getPath}@${st.getModificationTime}"
      val cached = colStatsCache.get(key)
      if (cached != null) cached
      else {
        val in = fs.open(p)
        val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        val parsed = graft.format.Stats.analysisFromJson(json)
        colStatsCache.put(key, parsed)
        parsed
      }
    } catch { case _: Exception => None }
  /** Churn fraction past which a sidecar's per-column stats stop being
    * served (and, with `spark.graft.autoReanalyze=true`, DML re-runs
    * ANALYZE instead of leaving the table stats-dark). */
  def statsChurnThreshold: Double =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.statsChurnThreshold", "0.5").toDouble
    catch { case _: Exception => 0.5 }

  private def autoReanalyze: Boolean =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.autoReanalyze", "false").toBoolean
    catch { case _: Exception => false }

  /** Record `bytes` of row-churning rewrite against `table`'s ANALYZE
    * sidecar (no-op for never-analyzed tables). Crossing the churn
    * threshold either re-runs ANALYZE in place (opt-in conf — one
    * aggregation pass, priced like the DML that triggered it) or leaves
    * the counter for the scan-side policy to act on. The sidecar is
    * advisory, so the read-modify-write here tolerates a concurrent
    * ANALYZE racing it (last writer wins; both outcomes are sound). */
  private[graft] def recordChurn(s: org.apache.spark.sql.SparkSession,
      dir: String, table: String, bytes: Long): Unit =
    // runs AFTER the DML committed: a stats bookkeeping failure must
    // never fail the operation (worst case the counter under-bills and
    // the next ANALYZE resets it anyway)
    try {
      if (bytes <= 0) return
      val conf = s.sparkContext.hadoopConfiguration
      readColStats(conf, dir, table).foreach { a =>
        val bumped = a.copy(churnedBytes = a.churnedBytes + bytes)
        if (bumped.churnFraction > statsChurnThreshold && autoReanalyze)
          try graft.operators.FormatOps.analyzeTable(s, dir, table, exact = a.exact)
          catch { case _: Exception => writeColStats(conf, dir, table, bumped) }
        else writeColStats(conf, dir, table, bumped)
      }
    } catch { case _: Exception => }

  /** APPEND half of the stats lifecycle: union the writer tasks' HLL
    * deltas into the sidecar, keeping NDV (the one statistic byte-ratio
    * extrapolation cannot fake) fresh across appends with zero extra
    * scans. Rows, null counts, integral min/max, and the byte anchor
    * update alongside; the `exact` flag drops because merged NDVs are
    * sketch estimates from here on. Advisory read-modify-write — a
    * concurrent ANALYZE racing this loses nothing worse than one
    * append's delta, which the next ANALYZE recomputes anyway.
    *
    * `epochKey` ((queryId, epochId), streaming commits) makes the
    * ADDITIVE half retry-safe: epoch ids are monotone WITHIN a query
    * and a retried epoch replays the same id with the same
    * deterministic data, so the whole merge applies only when the id
    * exceeds that query's high-water mark in the sidecar — rows and
    * null counts stay exact across replays, and a new query (fresh
    * checkpoint, epochs restarting at 0) keeps its own mark instead of
    * being skipped against another query's. The per-query map is
    * bounded (64): a 65th DISTINCT query id evicts the lowest-epoch
    * entry, so long-lived tables keep accruing stats across many stream
    * lifetimes (the evicted query's replayed epoch could double-merge
    * ADVISORY stats — already `exact = false` — which beats silently
    * dropping every merge for the rest of the table's life).
    *
    * Fields the deltas CANNOT maintain (string/binary min/max — deltas
    * carry integral ranges only — and avg/max lengths) are DROPPED for
    * the appended columns rather than served stale: appends never bill
    * the churn counter, so without this the staleness would grow
    * unbounded and never surface. */
  private[sources] def mergeAppendStats(conf: Configuration, dir: String,
      table: String, messages: Array[WriterCommitMessage],
      epochKey: Option[(String, Long)] = None): Unit = try {
    val msgs = messages.collect { case m: GraftCommitMessage => m }
    if (!msgs.exists(_.statDeltas.nonEmpty)) return
    readColStats(conf, dir, table).foreach { a =>
      // epoch replay (already merged): apply nothing. A 65th DISTINCT
      // query id evicts the lowest-epoch entry below instead of skipping
      // forever — long-lived tables keep accruing exact rows/null counts
      // across many stream lifetimes; the only cost is that a replay of
      // the EVICTED query's in-flight epoch could double-merge advisory
      // stats (already marked `exact = false`), vs. the old behavior of
      // permanently dropping every merge after 64 ids ever seen
      val skipMerge = epochKey.exists { case (q, e) =>
        a.streamEpochs.get(q).exists(_ >= e)
      }
      if (skipMerge) return
      val appendedRows: Long = msgs.map(_.rows.toLong).sum
      val deltas = ColSketcher.combine(msgs.map(_.statDeltas).toSeq)
      val cols = a.cols.map { case (name, c) =>
        (deltas.get(name), c.sketch) match {
          case (Some(d), Some(stored)) =>
            val (ndv, merged) = ColSketcher.merge(stored, Seq(d.sketch))
            val lo = d.range.map(_._1)
            val hi = d.range.map(_._2)
            // a delta with no range either saw only nulls (bounds and
            // lengths unchanged — keep) or appended NON-INTEGRAL values
            // the delta cannot bound (string/binary min/max, avg/max
            // lengths) — stored values no longer describe the column,
            // so they stop being served rather than go stale forever
            val maintained = d.range.isDefined || d.nulls >= appendedRows
            name -> c.copy(
              ndv = math.max(c.ndv, ndv),
              nullCount = c.nullCount + d.nulls,
              sketch = Some(merged),
              avgLen = if (maintained) c.avgLen else None,
              maxLen = if (maintained) c.maxLen else None,
              min = (c.min, lo) match {
                case (Some(m: Long), Some(l)) => Some(math.min(m, l): Any)
                case (None, l @ Some(_)) if c.nullCount + c.ndv == 0 => l.map(v => v: Any)
                case _ if !maintained => None
                case _ => c.min
              },
              max = (c.max, hi) match {
                case (Some(m: Long), Some(h)) => Some(math.max(m, h): Any)
                case (None, h @ Some(_)) if c.nullCount + c.ndv == 0 => h.map(v => v: Any)
                case _ if !maintained => None
                case _ => c.max
              })
          case _ => name -> c
        }
      }
      val bytesNow = listPartitionedSized(conf, dir).map(_._2).sum
      writeColStats(conf, dir, table, a.copy(
        rows = a.rows + msgs.map(_.rows).sum,
        exact = false,
        cols = cols,
        bytes = bytesNow,
        // staleness signal for columns the deltas CANNOT maintain
        // (unsketchable types): appends never bill churn, so their aging
        // must be tracked separately or it never surfaces
        appendedBytes = a.appendedBytes + math.max(0L, bytesNow - a.bytes),
        streamEpochs = epochKey.fold(a.streamEpochs) { case (q, e) =>
          // bounded map (64): a NEW query id over a full map evicts the
          // lowest-epoch (least-active) entry rather than being ignored
          val base =
            if (a.streamEpochs.contains(q) || a.streamEpochs.size < 64) a.streamEpochs
            else a.streamEpochs - a.streamEpochs.minBy(_._2)._1
          base + (q -> e) }))
    }
    // runs AFTER the append's files are visible: the data is committed,
    // so advisory stats maintenance must never fail the job (a racing
    // rewrite can invalidate the listing mid-merge; the delta is simply
    // dropped and NDV degrades to the next ANALYZE, never wrong data)
  } catch { case _: Exception => }

  /** After a row-PRESERVING rewrite (compaction, clustering): the rows
    * and column stats still describe the table exactly, but the on-disk
    * bytes the staleness extrapolation anchors on just changed shape.
    * Re-anchor bytes and generation so a 2× compaction doesn't halve
    * every row estimate. */
  private[graft] def rebaseStatsBytes(conf: Configuration, dir: String): Unit =
    // ADVISORY metadata: a concurrent append re-homing files mid-listing
    // can race this (FileNotFound on a just-renamed file) — skipping the
    // rebase is always sound (extrapolation just stays byte-anchored at
    // the pre-compaction listing), failing the compaction is not
    try {
      val bytes = listPartitionedSized(conf, dir).map(_._2).sum
      val gen = readGenPointer(conf, dir)
      val root = new Path(dir)
      val fs = root.getFileSystem(conf)
      val prefix = ".colstats_"
      val sidecars = fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith(prefix) && n.endsWith(".json"))
      sidecars.foreach { n =>
        val table = n.substring(prefix.length, n.length - ".json".length)
        readColStats(conf, dir, table).foreach(a =>
          writeColStats(conf, dir, table, a.copy(bytes = bytes, gen = gen)))
      }
    } catch { case _: Exception => }

  private val colStatsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Option[graft.format.Stats.TableAnalysis]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[graft.format.Stats.TableAnalysis]])
          : Boolean = size() > 64
    })

  /** Positive-int write option, refused loudly by NAME on junk or a
    * non-positive value (pagesize=0 once spun the page loop forever). */
  def positiveIntOption(options: CaseInsensitiveStringMap, key: String,
      default: Int): Int =
    Option(options.get(key)).map { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive int, got '$v'"))
    }.getOrElse(default)

  /** `p` relative to `root` (both from the same filesystem). */
  def relativePath(root: Path, p: Path): String = {
    val b = root.toUri.getPath
    p.toUri.getPath.stripPrefix(if (b.endsWith("/")) b else b + "/")
  }

  def readSwapTs(conf: Configuration, genDir: Path): Option[Long] =
    try {
      val p = new Path(genDir, SwapTsName)
      readMetaText(p.getFileSystem(conf), p).flatMap(_.trim.toLongOption)
    } catch {
      // a grace-sweep reclaiming this generation between the caller's
      // listing and this read: fall back to mtime; if the gen is truly
      // gone, addressing it fails loudly downstream in generationDir
      case _: java.io.IOException => None
    }

  /** The live generation's name from `dir`'s pointer, if any. Reads race
    * the swap's rename, so two transient errors retry (bounded):
    * FileNotFound (pointer replaced between exists() and open()) and
    * ChecksumException (ChecksumFs moves the data file and its .crc
    * sidecar in TWO renames — a read in between sees new data verified
    * against the old checksum). */
  def readGenPointer(conf: Configuration, dir: String): Option[String] = {
    val ptr = new Path(dir, GenPointerName)
    val fs = ptr.getFileSystem(conf)
    var attempt = 0
    while (true) {
      try {
        if (!fs.exists(ptr)) return None
        val in = fs.open(ptr)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        return Some(s).filter(_.nonEmpty)
      } catch {
        case e @ (_: java.io.FileNotFoundException |
                  _: org.apache.hadoop.fs.ChecksumException) =>
          attempt += 1
          if (attempt > 50) throw e // persistent corruption, not the race
          Thread.sleep(2)
      }
    }
    None // unreachable
  }

  /** Resolve the live data directory: `dir/<gen>` under a generation
    * pointer, `dir` itself otherwise. A pointer naming a MISSING dir is a
    * loud error, not an empty table: re-read once (a concurrent compact
    * may have swapped the pointer and reclaimed the gen we first read),
    * then throw — silently resolving a corrupt table to zero rows would
    * make the data loss look like healthy emptiness. */
  def resolveDataDir(conf: Configuration, dir: String): String =
    readGenPointer(conf, dir) match {
      case None => dir
      case Some(g) =>
        val p = new Path(dir, g)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) p.toString
        else {
          val again = readGenPointer(conf, dir)
          val p2 = again.map(new Path(dir, _))
          if (again != Some(g) && p2.forall(fs.exists))
            p2.map(_.toString).getOrElse(dir)
          else throw new graft.format.OliveFormatException(
            s"generation pointer in $dir names missing directory $g; " +
              "the table was corrupted by an interrupted overwrite or manual deletion")
        }
    }

  /** Listing variant carrying on-disk byte sizes (for planner statistics).
    *
    * Race with a concurrent rewrite's grace sweep: the pointer can be
    * re-resolved and the listing retried when the generation it named
    * vanishes between pointer read and directory walk. The one outcome
    * this must NEVER produce is an EMPTY listing for a pointer-resolved
    * table — a swept generation looked exactly like a healthy empty
    * table here once, and a racing reader silently returned 0 of 30 000
    * rows (CompactionSpec "tiny grace"). Vanished-under-pointer is now
    * retry-then-throw, never Seq.empty. */
  def listPartitionedSized(conf: Configuration, dir: String): Seq[(Path, Long, Map[String, String])] =
    liveView(conf, dir)._2

  /** [[listPartitionedSized]] together with the data dir it listed: both
    * come from ONE pointer read, so a caller that also reads the
    * generation's manifests (a publisher's source view) reads the same
    * generation it listed. */
  def liveView(conf: Configuration, dir: String)
      : (String, Seq[(Path, Long, Map[String, String])]) = {
    listingCalls.incrementAndGet()
    var attempt = 0
    while (true) {
      val resolved = resolveDataDir(conf, dir)
      val viaPointer = resolved != dir
      try return (resolved, listPartitionedSizedAt(conf, dir, resolved, viaPointer))
      catch {
        case e: java.io.FileNotFoundException =>
          // the view we were walking was replaced under us: the pointer's
          // generation was reclaimed mid-walk (its .swap-ts marker —
          // removed FIRST by every sweep, before any data file — is the
          // tell), or a first rewrite published a pointer while we walked
          // the loose-file layout. Re-resolve and retry (bounded).
          attempt += 1
          if (attempt > 5) throw new graft.format.OliveFormatException(
            s"live view of $dir kept changing during planning " +
              s"($attempt attempts): concurrent rewrites are sweeping " +
              "faster than this scan can plan; raise spark.graft.graceMs", e)
          Thread.sleep(5L * attempt) // outlast a pointer swap in flight
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[sources] def listPartitionedSizedAt(conf: Configuration, dir: String,
      resolved: String, viaPointer: Boolean): Seq[(Path, Long, Map[String, String])] = {
    val root = new Path(resolved)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) {
      // a plain dir that doesn't exist is an empty table; a MISSING
      // pointer target is the sweep race — escalate to the retry loop
      if (viaPointer) throw new java.io.FileNotFoundException(resolved)
      return Seq.empty
    }
    // Sweep-race guard, pre-walk half: every sweep removes a generation's
    // `.swap-ts` marker BEFORE touching any of its data files, so a
    // pointer-resolved dir with no marker is mid-reclaim (or a corrupt
    // half-publish) — never walk it, a partial walk would silently drop
    // rows. Two fs.exists round-trips per planning-time listing buy the
    // invariant "marker present after the walk ⇒ the walk saw every file".
    // A generation-PINNED read (time travel resolved the gen dir itself,
    // so resolved == dir and viaPointer is false) gets the same guard:
    // generationDir validated the marker at resolve time, and a sweep
    // that partially reclaims the generation mid-walk must surface as a
    // loud retry/error, never a quiet partial snapshot.
    // strict pattern: a plain directory that HAPPENS to be named gen-1
    // is not a generation (genIndex agrees) and must not be required to
    // carry a .swap-ts marker to be readable
    val genPinned = genIndex(root.getName).isDefined
    val marker = new Path(root, SwapTsName)
    if ((viaPointer || genPinned) && !fs.exists(marker))
      throw new java.io.FileNotFoundException(s"$marker (generation mid-reclaim)")
    val rootStatus = fs.getFileStatus(root)
    if (rootStatus.isFile) return Seq((root, rootStatus.getLen, Map.empty[String, String]))
    val out = Seq.newBuilder[(Path, Long, Map[String, String])]
    val walkedNames = scala.collection.mutable.HashSet.empty[String]
    var frontier: Seq[(Path, Map[String, String])] = Seq(root -> Map.empty)
    while (frontier.nonEmpty) {
      val listed = inParallel(frontier) { case (p, part) => (fs.listStatus(p), part) }
      frontier = listed.flatMap { case (entries, part) =>
        entries.toSeq.flatMap { s =>
          val name = s.getPath.getName
          if (s.isFile && name.endsWith(".graft")) {
            out += ((s.getPath, s.getLen, part)); walkedNames += name; Seq.empty
          } else if (s.isDirectory && name.contains("=")) {
            val Array(k, v) = name.split("=", 2)
            Seq(s.getPath -> (part + (k -> unescapePathValue(v))))
          } else Seq.empty
        }
      }
    }
    // a file-granular DML generation carries its untouched files by
    // reference: manifest entries are relative to the TABLE ROOT (the
    // gen dir's parent), partition values ride the relative path's
    // `k=v` components exactly as they would a walked path. Sizes come
    // from the manifest — planning a carried 10^6-file view costs zero
    // extra stat calls.
    //
    // Re-home vs late-append-fold race: a publish's fold can add a
    // by-reference entry for a late append in the same instant the
    // appender's visibility guard MOVES that file into this very
    // generation dir — the ref then dangles (the walk found the file at
    // its new home). File names are globally unique and the move
    // preserves them, so a carried ref whose NAME the physical walk
    // already produced is exactly that race's leftover: drop it, the
    // physical location wins (keeping both would double the rows; keeping
    // only the ref fails the read on a path that no longer exists).
    readCarryManifest(fs, root).foreach { case (rel, size) =>
      if (!walkedNames.contains(new Path(rel).getName)) {
        val part = rel.split('/').dropRight(1).iterator
          .filter(_.contains("=")).map { seg =>
            val Array(k, v) = seg.split("=", 2)
            k -> unescapePathValue(v)
          }.toMap
        out += ((new Path(root.getParent, rel), size, part))
      }
    }
    // Sweep-race guard, post-walk half: a marker still present AFTER the
    // walk proves no sweep began before the walk finished (markers go
    // first), so the listing is complete. For a pointerless walk, a
    // pointer APPEARING mid-walk means a first rewrite published (and
    // with a tiny grace may already have reclaimed loose files under
    // us) — retry through the pointer.
    if ((viaPointer || genPinned) && !fs.exists(marker))
      throw new java.io.FileNotFoundException(s"$marker (generation reclaimed mid-walk)")
    if (!viaPointer && !genPinned && readGenPointer(conf, dir).isDefined)
      throw new java.io.FileNotFoundException(
        s"$dir gained a generation pointer mid-walk")
    val res = out.result().sortBy(_._1.toString)
    // Last line of defense for a non-atomic pointer swap (any scheme
    // whose overwrite-rename passes through delete-then-rename): a
    // pointerless walk that found NOTHING while the root holds `gen-*`
    // dirs is a table whose pointer is mid-swap — its loose files were
    // swept long ago, so "empty" here would be the silent-0-rows bug.
    // Real pointerless tables either have loose files (walk non-empty)
    // or never had generations at all.
    if (res.isEmpty && !viaPointer && fs.exists(root) &&
        fs.listStatus(root).exists(st => st.isDirectory &&
          genIndex(st.getPath.getName).isDefined))
      throw new java.io.FileNotFoundException(
        s"$dir holds generations but no pointer resolved (swap in flight)")
    res
  }

  /** Partition column names in first-seen order across the listing. */
  def partitionColumns(files: Seq[(Path, Map[String, String])]): Seq[String] =
    files.flatMap(_._2.keys).distinct

  /** Null partition value in a hive-style path (Spark's convention). */
  val DefaultPartitionName = "__HIVE_DEFAULT_PARTITION__"

  /** Field-metadata flag [[inferSchema]] stamps on path-derived columns:
    * the proof the scan builder needs to CONSUME a filter on one (a
    * file-level drop is the row-level filter there). Catalog tables and
    * user-supplied schemas carry no flag and keep today's behavior. */
  val PartitionColKey = "graft.partitionColumn"

  /** Partition columns from the `partitionBy` write option. */
  def optionPartitionCols(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("partitionby")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** Parse the multi-table write option — the DSv2 surface for the
    * reference's several-named-tables-per-chunk shape
    * (`src/chunk.zig:15-38`): `tables=users:k,name;scores:k,score`
    * column-splits every task's rows into N named tables that share the
    * SAME files and chunks. Returns (table name, column ordinals). */
  def parseTableSplits(spec: String, schema: StructType): Seq[(String, Seq[Int])] = {
    val splits = spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
      part.split(":", 2) match {
        case Array(name, cols) if name.trim.nonEmpty =>
          val ords = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { c =>
            val i = schema.fieldNames.indexOf(c)
            if (i < 0) throw new IllegalArgumentException(
              s"tables option references unknown column '$c' (schema: ${schema.fieldNames.mkString(",")})")
            i
          }
          if (ords.isEmpty) throw new IllegalArgumentException(
            s"tables option entry '$part' lists no columns")
          (name.trim, ords)
        case _ => throw new IllegalArgumentException(
          s"tables option entry '$part' is not <name>:<col>,<col>…")
      }
    }
    if (splits.isEmpty)
      throw new IllegalArgumentException("tables option names no tables")
    val dup = splits.groupBy(_._1).collect { case (n, g) if g.size > 1 => n }
    if (dup.nonEmpty)
      throw new IllegalArgumentException(s"tables option repeats table name(s): ${dup.mkString(",")}")
    splits
  }

  private val EscapedChars = "\"#%'*/:=?\\{[]^ ".toSet

  /** Hive-style path escaping (the same set Spark escapes), so partition
    * values survive the dir-name round-trip byte-exactly. */
  def escapePathValue(v: String): String = {
    val sb = new StringBuilder
    v.foreach { c =>
      if (EscapedChars.contains(c) || c < ' ') sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  def unescapePathValue(v: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 2 < v.length) {
        try { sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // ---- bucketed layout markers + file-name tags ---------------------------

  private val BucketTagRe = """.*-b(\d{5})\.of(\d{5})\.t([0-9a-f]{8})\.graft$""".r

  /** Bucketed file name suffix: `-bBBBBB.ofNNNNN.tTTTTTTTT.graft`. */
  def bucketFileName(partitionId: Int, taskId: Long, bucket: Int, n: Int, tag: Long): String =
    f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}" +
      f"-b$bucket%05d.of$n%05d.t$tag%08x.graft"

  /** Bucket id from a file name, ONLY when its tag proves the same
    * (table, column, n) layout this scan expects. */
  def bucketOf(name: String, n: Int, tag: Long): Option[Int] = name match {
    case BucketTagRe(b, nn, t)
        if nn.toInt == n && java.lang.Long.parseLong(t, 16) == tag => Some(b.toInt)
    case _ => None
  }

  def bucketMarkerPath(dataDir: String, table: String): Path =
    new Path(dataDir, s".bucket_$table.json")

  /** Driver-side spec marker (tmp + atomic rename, like schema markers):
    * records which column and bucket count the table's files are routed
    * by, plus the optional within-file sort column. The marker alone
    * proves nothing — the scan cross-checks every file's name tag
    * against it before claiming key-grouped layout. */
  def writeBucketMarker(conf: Configuration, dataDir: String, table: String,
      col: String, n: Int, sortCol: Option[String] = None): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val sortField = sortCol.map(s => s""","sort":${mapper.writeValueAsString(s)}""").getOrElse("")
    val json = s"""{"col":${mapper.writeValueAsString(col)},"n":$n$sortField,"hash":"murmur3-${GraftBucket.Seed}"}"""
    AtomicPublish.text(conf, bucketMarkerPath(dataDir, table), json)
  }

  /** Read the table's bucket spec `(col, n, sortCol)` from the LIVE data
    * dir (generation-aware). A MISSING or CORRUPT marker means "not
    * bucketed"; a transport-level IO failure propagates — swallowing it
    * here would silently route the next INSERT unbucketed and
    * permanently deactivate the table's shuffle-free join claim. */
  def readBucketMarker(conf: Configuration, dir: String,
      table: String): Option[(String, Int, Option[String])] =
    readBucketMarkerAt(conf, resolveDataDir(conf, dir), table)

  /** Same, against an ALREADY-RESOLVED data dir — time travel pins a
    * generation dir directly and must read ITS marker, not the live one. */
  def readBucketMarkerAt(conf: Configuration, dataDir: String,
      table: String): Option[(String, Int, Option[String])] = {
    val marker = bucketMarkerPath(dataDir, table)
    readMetaText(marker.getFileSystem(conf), marker).flatMap { json =>
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        val col = node.get("col").asText()
        val n = node.get("n").asInt()
        val sort = Option(node.get("sort")).map(_.asText()).filter(_.nonEmpty)
        if (col.nonEmpty && n >= 1 &&
            node.get("hash").asText() == s"murmur3-${GraftBucket.Seed}") Some((col, n, sort))
        else None
      } catch { case _: Exception => None } // corrupt marker content only
    }
  }

  def pickTable(footer: Meta.Footer, tableOpt: String): Meta.TableMeta = {
    val names = footer.chunks.flatMap(_.tables.map(_.name)).distinct
    val name = Option(tableOpt).getOrElse {
      if (names.size == 1) names.head
      else throw new IllegalArgumentException(
        s"file holds tables ${names.mkString(",")}; pass .option(\"table\", ...)")
    }
    footer.chunks.flatMap(_.tables).find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"table $name not in file (has ${names.mkString(",")})"))
  }
}

class GraftTable(dirs: Seq[String], schema: StructType, options: CaseInsensitiveStringMap,
    partCols: Seq[String] = Seq.empty)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  /** `_file`: the absolute path of the file each row came from, served
    * as a constant-per-file vector (same mechanism as partition-path
    * columns — no per-row cost). Besides being generally useful
    * (`SELECT _file, count(*) ... GROUP BY _file` audits layout), it is
    * what lets Spark's runtime GROUP FILTERING narrow a MERGE's
    * copy-on-write rewrite to the files that actually hold matching
    * rows. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = GraftDataSource.FileColName
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "absolute path of the graft file holding the row"
    },
    // `_pos`: the row's ordinal within its file's table (footer chunk
    // order), generated by the reader at decode time — no storage cost.
    // (`_file`, `_pos`) is a STABLE row id (files are immutable), which
    // is what the merge-on-read DELETE keys its position deletes on.
    new MetadataColumn {
      override def name(): String = GraftDataSource.PosColName
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "0-based row ordinal within the row's file (stable; keys position deletes)"
    })
  def this(dir: String, schema: StructType, options: CaseInsensitiveStringMap) =
    this(Seq(dir), schema, options)
  /** Surfaced by `DESCRIBE TABLE EXTENDED`: where the data lives and the
    * declared layout, so an operator can see a table's shape without
    * reading code. */
  override def properties(): java.util.Map[String, String] = {
    val base = Map("provider" -> "graft", "location" -> dirs.mkString(","))
    val tbl = Option(options.get("table")).map("table" -> _)
    val bucket = Option(options.get("bucketby")).map("bucketBy" -> _)
    val sort = Option(options.get("sortby")).map("sortBy" -> _)
    // ONE live listing shared by the stats byte-ratio and the clustering
    // drift check below (a second recursive walk per DESCRIBE would
    // double its dominant cost on a 10^5-file object-store table);
    // None = listing unavailable, and each consumer degrades honestly
    lazy val sizedListing: Option[Seq[(Path, Long, Map[String, String])]] =
      if (dirs.size != 1) None
      else try Some(GraftDataSource.listPartitionedSized(
        GraftDataSource.sessionConf(), dirs.head))
      catch { case _: Exception => None }
    // ANALYZE snapshot, when one exists: DESCRIBE EXTENDED shows the
    // recorded row count, its generation, and the NDV mode at a glance
    val stats = (if (dirs.size == 1)
      GraftDataSource.readColStats(GraftDataSource.sessionConf(), dirs.head,
        Option(options.get("table")).getOrElse("data"))
    else None) match {
      case Some(a) =>
        // lifecycle state, the transition DESCRIBE makes visible:
        // fresh → extrapolated (bytes grew/shrank; rows scale by the
        // ratio) → stale (DML churn crossed the threshold; the scan
        // stops serving per-column stats until the next ANALYZE)
        val onDisk = sizedListing.map(_.map(_._2).sum).getOrElse(a.bytes)
        val churnPct = math.round(a.churnFraction * 100)
        val appendPct = math.round(a.appendFraction * 100)
        val state =
          if (a.churnFraction > GraftDataSource.statsChurnThreshold)
            s"stale ($churnPct% churned by DML; column stats disabled — run sys.analyze)"
          else if (a.appendFraction > GraftDataSource.statsChurnThreshold)
            s"append-aged ($appendPct% appended; sketch-less column stats " +
              "disabled — run sys.analyze)"
          else if (a.bytes > 0 && onDisk != a.bytes)
            f"extrapolated (rows scaled ×${onDisk.toDouble / a.bytes}%.2f by byte ratio)"
          else "fresh"
        Map(
          "stats.rows" -> a.rows.toString,
          "stats.state" -> state,
          "stats.churnedPct" -> churnPct.toString,
          "stats.appendedPct" -> appendPct.toString,
          "stats.ndvMode" -> (if (a.exact) "exact" else "sketch")) ++
          a.gen.map("stats.analyzedAtGeneration" -> _)
      case None => Map.empty[String, String]
    }
    // merge-on-read delete state, so an operator can see from DESCRIBE
    // EXTENDED that reads pay DV subtraction and MOST footer aggregates
    // are declined (COUNT(*) — and provably-null-free COUNT(col) — stay
    // exact: planning subtracts the recorded cardinalities) — and that
    // a compact/materialize_dvs would clear it
    val dv = (if (dirs.size == 1) try GraftDataSource.liveDvs(
        GraftDataSource.sessionConf(), dirs.head, tbl.map(_._2)) catch {
        case _: Exception => Map.empty[String, (Path, Long)]
      } else Map.empty[String, (Path, Long)]) match {
      case m if m.isEmpty => Map.empty[String, String]
      case m => Map(
        "deleteVectors.files" -> m.size.toString,
        "deleteVectors.deletedRows" -> m.values.map(_._2).sum.toString,
        // what the vectors still allow: the most common sanity query
        // answers from metadata even while vectors are live
        "deleteVectors.exactCount" -> "true")
    }
    // clustering claim, when the live generation carries one: which
    // columns z-order pruning can rely on, and whether post-clustering
    // appends have diluted it (exact file-count match = every live file
    // tiles the z-curve; drift = some files postdate the rewrite). The
    // drift check costs one live listing per DESCRIBE on a clustered
    // table — the price of a freshness claim that is CHECKED, not
    // recalled, and it shares the listing with the stats block above. A
    // transport failure reading the record degrades to an explicit
    // 'unknown' row, never to silence (silence reads as never-clustered
    // and triggers pointless re-clustering).
    // ONE record read serves both the header and the member list — two
    // reads would pay double object-store round-trips and could pair
    // generation N's header with generation N+1's members across a
    // concurrent publish
    val clusterSpecOrErr =
      if (dirs.size != 1) Right(None)
      else try Right(GraftDataSource.readClusterRecord(
        GraftDataSource.sessionConf(), dirs.head))
      // NonFatal, not just IOException: an object-store client's
      // RuntimeException or a resolveDataDir refusal must degrade the
      // CLAIM to 'unknown', not break the whole DESCRIBE (matching the
      // neighboring sizedListing block's breadth)
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val clustering = clusterSpecOrErr match {
      case Left(_) =>
        Map("clustering.state" ->
          "unknown (cluster record unreadable; claim not checkable)")
      case Right(spec) => spec match {
      case Some(((cols, binning, recorded, clusteredTable), members))
          if clusteredTable == tbl.map(_._2).getOrElse("data") =>
        // records with a member NAME list (since incremental-recluster
        // support) are checked name-exactly: a DML that replaces one
        // file while keeping the count equal must read as partial, not
        // 'clustered' — the replacement never saw the z-key. Vintage
        // records fall back to the count check (namespace-wide, so
        // sibling-table activity downgrades conservatively — a false
        // 'partial', never a false 'clustered').
        val state = (sizedListing, members) match {
          case (None, _) =>
            "unknown (live listing unavailable; claim not checkable)"
          case (Some(live), Some(ms)) =>
            val names = live.map(_._1.getName).toSet
            val drift = names -- ms
            if (drift.isEmpty && names == ms) "clustered"
            else if (drift.nonEmpty)
              s"partial (${drift.size} of ${names.size} live namespace files " +
                "postdate the clustering rewrite — run sys.cluster(" +
                "incremental => true) to recluster just the drift)"
            else s"partial (${(ms -- names).size} clustered files left the " +
              "live view since the rewrite)"
          case (Some(live), None) => live.size.toLong match {
            case now if now == recorded => "clustered"
            case now if now > recorded =>
              s"partial (${now - recorded} of $now live namespace files " +
                "postdate the clustering rewrite — run sys.cluster(" +
                "incremental => true) to recluster just the drift)"
            case now =>
              s"partial (namespace file count shrank from $recorded to $now " +
                "since the clustering rewrite)"
          }
        }
        Map("clustering.columns" -> cols, "clustering.binning" -> binning,
          "clustering.state" -> state)
      case _ => Map.empty[String, String]
      }
    }
    (base ++ tbl ++ bucket ++ sort ++ stats ++ dv ++ clustering).asJava
  }
  override def name(): String = s"graft:${dirs.mkString(",")}"
  override def schema(): StructType = schema
  override def partitioning(): Array[Transform] = {
    val cols = if (partCols.nonEmpty) partCols else GraftDataSource.optionPartitionCols(options)
    val bucketT = Option(options.get("bucketby")).map { spec =>
      val (c, n) = GraftBucket.parseSpec(spec)
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
    }
    (cols.map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c)) ++
      bucketT).toArray
  }
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(dirs, schema, Option(options.get("table")),
      Option(scanOptions.get("maxfilespertrigger")).orElse(
        Option(options.get("maxfilespertrigger"))).map(v =>
        v.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"maxFilesPerTrigger must be a positive int, got '$v'"))),
      Option(scanOptions.get("startingoffsets")).orElse(
        Option(options.get("startingoffsets"))).getOrElse("earliest"),
      // internal (DML candidate reads): restrict the scan to these
      // newline-joined absolute file paths from the live listing
      Option(options.get("filefilter")).map(_.split('\n').toSet),
      Option(scanOptions.get("maxbytespertrigger")).orElse(
        Option(options.get("maxbytespertrigger"))).map(v =>
        v.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"maxBytesPerTrigger must be a positive long, got '$v'"))))

  /** SQL `UPDATE` / `MERGE INTO` / non-pushable `DELETE`: group-based
    * copy-on-write via [[GraftRowLevelOperation]] — candidate files are
    * pruned by zone maps/blooms and replaced; every other live file is
    * carried by reference into the new generation. Under
    * `spark.graft.deleteMode = merge-on-read`, DELETE instead plans a
    * delta-based position-delete write ([[GraftMorDeleteOperation]]):
    * kilobytes of delete-vector sidecars instead of file rewrites. */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(dirs.size == 1, "row-level SQL operations take exactly one path")
    require(options.get("generation") == null,
      "cannot UPDATE/MERGE/DELETE a time-travel read; only the live generation is writable")
    () => {
      val table = Option(options.get("table")).getOrElse("data")
      // a DECLARED bucket layout rides THROUGH merge-on-read: DELETE
      // writes no rows (carried files keep their tags untouched), and
      // UPDATE/MERGE hand the layout to the delta write, which clusters
      // replacement rows by the bucket key and routes them through the
      // bucketed writer — so they land as bucket-tagged files and the
      // shuffle-free-join claim survives a keyed upsert stream. Only a
      // layout whose bucket/sort column has left the catalog schema
      // (rename/drop evolution) falls back to copy-on-write, because
      // replacement rows could not prove their routing.
      import org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE
      val layout = GraftDataSource.readBucketMarker(
        GraftDataSource.sessionConf(), dirs.head, table)
      val honorable = layout.forall { case (col, _, sort) =>
        schema.fields.find(_.name == col).exists(f => GraftBucket.supported(f.dataType)) &&
          sort.forall(schema.fieldNames.contains)
      }
      if (GraftDataSource.morMode(info.command()) &&
          (info.command() == DELETE || honorable))
        new GraftMorOperation(dirs.head, table, schema, info.command(),
          if (info.command() == DELETE) None else layout)
      else new GraftRowLevelOperation(dirs.head, table, schema, info.command())
    }
  }

  /** `DELETE FROM` is deletable only when every conjunct has an exact
    * Column re-evaluation (Spark then falls back to an analysis error,
    * never a silent partial delete). Merge-on-read mode declines even
    * pushable predicates so every DELETE routes through the delta plan —
    * one mechanism per mode, and the positions it writes are exact. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    dirs.size == 1 && options.get("generation") == null &&
      !GraftDataSource.morDeleteMode() &&
      Generations.keepColumn(filters).isDefined

  /** `DELETE FROM t WHERE p` via copy-on-write: the live generation is
    * rewritten WITHOUT the matching rows into a fresh `gen-NNNNN` dir
    * and the generation pointer swaps in one atomic rename
    * ([[Generations.rewrite]]). Sibling tables sharing the namespace
    * directory are copied through unchanged; the pre-delete generation
    * stays intact and time-travel readable (`VERSION AS OF`) until a
    * later rewrite's grace sweep reclaims it. Offline/single-writer,
    * like compaction; concurrent readers are safe throughout. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(dirs.size == 1, "graft DELETE takes exactly one path")
    require(options.get("generation") == null,
      "cannot DELETE from a time-travel read; only the live generation is writable")
    val keep = Generations.keepColumn(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE predicate has no exact row-filter form: ${filters.mkString(", ")}"))
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = GraftDataSource.sessionConf()
    val target = Option(options.get("table")).orElse {
      GraftDataSource.tableIndex(conf, dirs.head, GraftDataSource.liveView(conf, dirs.head))
          .flatMap(_.names).toSeq.distinct.sorted match {
        case Seq(only) => Some(only)
        case Seq() => None // marker-only empty table: nothing to delete
        case many => throw new IllegalArgumentException(
          s"directory holds tables ${many.mkString(",")}; DELETE needs the table option")
      }
    }
    target.foreach { t =>
      // the pushed V2 filters double as candidate-file pruning: files
      // whose zone maps/blooms prove no row matches are carried by
      // reference instead of copied (file-granular COW)
      Generations.rewriteTable(spark, dirs.head, t,
        df => df.filter(keep),
        Some(filters.toSeq.map(graft.format.Stats.FilterPrune)), alwaysWrite = false)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(dirs.size == 1, "graft writes take exactly one path")
    require(options.get("generation") == null,
      "generation is a read-only (time travel) option; writes land in the live generation")
    // partition columns from native partitionBy transforms, or the
    // "partitionBy" write option (comma-separated) for API paths that
    // don't forward transforms to path-based V2 tables
    val optCols = GraftDataSource.optionPartitionCols(options)
    new GraftWriteBuilder(dirs.head, info, options,
      if (partCols.nonEmpty) partCols else optCols)
  }
}

// ---- read path ------------------------------------------------------------

/** Footer-computable aggregate, pushed via [[SupportsPushDownAggregates]]. */
sealed trait GraftAggSpec extends Serializable
/** A pushed GROUP BY column — PROVEN partition-only at push time, so its
  * value comes from the file's path, never its pages: `GROUP BY lang`
  * over a lang-partitioned table answers entirely from footers, one
  * partial row per file, Spark re-groups the partials. */
case class GraftGroupCol(col: String) extends GraftAggSpec
case object GraftCountStar extends GraftAggSpec
/** `prevNames`: the column's rename chain (current spelling first is
  * `col`; prior spellings follow) — pre-rename files record their stats
  * under an old spelling and the per-file readers resolve through it,
  * so footer-answered aggregates survive DDL instead of declining. */
case class GraftCountCol(col: String, prevNames: Seq[String] = Nil) extends GraftAggSpec
case class GraftMinSpec(col: String, prevNames: Seq[String] = Nil) extends GraftAggSpec
case class GraftMaxSpec(col: String, prevNames: Seq[String] = Nil) extends GraftAggSpec
/** `integral` picks the combine domain: wrapped i64 vs f64. */
case class GraftSumSpec(col: String, integral: Boolean,
    prevNames: Seq[String] = Nil) extends GraftAggSpec

class GraftScanBuilder(dirs: Seq[String], fullSchema: StructType, tableOpt: Option[String],
    maxFilesPerTrigger: Option[Int] = None,
    startingOffsets: String = "earliest",
    fileFilter: Option[Set[String]] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates with SupportsPushDownTopN {
  private var required: StructType = fullSchema
  /** A column's prior spellings, for per-file stat resolution in the
    * pushed-aggregate/top-k readers. Empty for never-renamed columns. */
  private def chainOf(name: String): Seq[String] =
    if (name.indexOf('.') >= 0) Nil // dotted paths push only when chain-free
    else fullSchema.fields.find(_.name == name)
      .map(graft.format.Evolution.prevNames).getOrElse(Nil)
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var topN: Option[GraftTopN] = None
  private var aggSpecs: Option[Seq[GraftAggSpec]] = None
  private var aggSchema: StructType = _

  /** ORDER BY col LIMIT k, pushed PARTIALLY (Spark keeps the final
    * sort+limit): the reader visits chunks best-stat-first and, once k
    * candidate rows are on hand, PROVES the remaining chunks can't beat
    * the current k-th value from their footer min/max alone — "latest k
    * events" over a time-clustered 100 TB table decodes a handful of
    * chunks, not the table. Declined when filters are pushed (residually
    * filtered rows would poison the k-th-value threshold), for
    * multi-key orders, non-stat-exact types, or absurd k (heap-bounded). */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    // CONSUMED partition filters drop whole files exactly, so every
    // delivered row satisfies them and the k-th threshold stays sound;
    // any data filter, residual or exact, still declines
    if (pushed.length != consumed.length || aggSpecs.nonEmpty ||
      n <= 0 || n > (1 << 16)) return false
    orders match {
      // multi-key sorts push too: the LEADING key drives the skip (the
      // tiebreak columns need no stats — a chunk strictly beyond the
      // k-th leading value is out regardless of them; `strict` below
      // keeps tie-carrying chunks decoded). Spark re-sorts the
      // delivered superset with the full key list, so over-delivery is
      // always safe — "ORDER BY score DESC, doc_id LIMIT k", the
      // canonical deterministic curation sort, skips like a single key.
      case Array(o, _*) =>
        val colName = o.expression() match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
              if r.fieldNames().length == 1 => r.fieldNames()(0)
          case _ => return false
        }
        val statExact = fullSchema.fields.find(_.name == colName).exists(_.dataType match {
          case ByteType | ShortType | IntegerType | LongType | DateType |
               TimestampType | TimestampNTZType | BooleanType => true
          // float/double compare in the IEEE-sortable long domain with
          // v5 NaN accounting ("top-k by quality score", the canonical
          // LLM-curation query, skips chunks like any integral key)
          case FloatType | DoubleType => true
          // decimals p<=18 compare as unscaled longs at the query scale
          // ("top-k orders by price", the canonical money query);
          // pre-widen chunk bounds rescale exactly or decline the skip
          case d: DecimalType if d.precision <= 18 => true
          case _ => false
        })
        if (!statExact) return false
        val desc = o.direction() == org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
        val nullsFirst = o.nullOrdering() == org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST
        // renamed columns carry their chain: pre-rename files' stats
        // resolve through it (TopNSkipper), so top-k stays pushable
        topN = Some(GraftTopN(colName, desc, nullsFirst, n, chainOf(colName),
          strict = orders.length > 1))
        true
      case _ => false
    }
  }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }

  /** Filters on PROVEN partition columns with exactly-evaluable shapes
    * are CONSUMED (a file-level drop against the path value IS the
    * row-level filter — the reader materializes exactly that value for
    * every row of the file, including `__HIVE_DEFAULT_PARTITION__` as
    * its literal string and drift files with no key as null): no
    * residual re-check, and — the real win — aggregates/top-k still
    * push under a partition predicate, so `count(*) WHERE dt = '…'` is
    * a footer walk of one partition.
    *
    * Comparisons, IN-lists and null tests on top-level integral DATA
    * columns are consumed too ([[ExactFilters]]): the reader applies
    * them row by row, so Spark's stage code never embeds the key and a
    * lookup outputs only its matches. Under `spark.sql.cbo.enabled` they
    * stay residual, since CBO estimates selectivity from Spark's own
    * `Filter` node. Everything else stays residual (Spark re-applies
    * row-level); all pushed copies drive chunk skipping against footer
    * min/max stats. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    consumed = filters.filter(consumablePartFilter)
    exact = if (org.apache.spark.sql.internal.SQLConf.get.cboEnabled) ExactFilters.Empty
      else ExactFilters.select(filters.toSeq, fullSchema, name => !isPartitionCol(name) &&
        name != GraftDataSource.FileColName && name != GraftDataSource.PosColName)
    filters.filterNot(f => consumablePartFilter(f) || exact.filters.contains(f))
  }
  override def pushedFilters(): Array[Filter] = pushed

  private var consumed: Array[Filter] = Array.empty
  private var exact: ExactFilters = ExactFilters.Empty
  private def isPartitionCol(name: String): Boolean =
    fullSchema.fields.find(_.name == name).exists(f =>
      f.metadata.contains(GraftDataSource.PartitionColKey) &&
        f.metadata.getBoolean(GraftDataSource.PartitionColKey))
  private def consumablePartFilter(f: Filter): Boolean = f match {
    case EqualTo(a, v: String) => v != null && isPartitionCol(a)
    case In(a, vs) => vs != null && vs.nonEmpty &&
      vs.forall(v => v != null && v.isInstanceOf[String]) && isPartitionCol(a)
    case IsNull(a) => isPartitionCol(a)
    case org.apache.spark.sql.sources.IsNotNull(a) => isPartitionCol(a)
    case _ => false
  }

  /** Safe stop-early: Spark only pushes a limit when no ordering sits
    * below it; the reader stops decoding chunks once satisfied. */
  override def pushLimit(n: Int): Boolean = { limit = n; false }

  /** COUNT(*)/COUNT(col)/MIN/MAX answer from footer metadata alone
    * (null counts are chunk stats) — zero data pages touched. Partial
    * pushdown (Spark still combines), restricted to types whose chunk
    * stats are EXACT: integrals, date, timestamps, boolean, and since
    * footer v5 float/double (NaN-accounted). Top-level string MIN/MAX
    * also push since v6: sub-cap bounds are exact values; capped/older
    * chunks degrade to a one-column decode of that chunk only (never a
    * wrong value — truncated bounds are proofs and stay unserved).
    * GROUP BY pushes when
    * every grouping column is PROVEN partition-only (its value comes
    * from the path on every live file): `GROUP BY lang, count(*)` over
    * a partitioned corpus reads zero data pages. Declined whenever a
    * data filter is pushed: a residual one can't run on pre-aggregated
    * rows, and an exact one drops rows the footer partials still count. */
  override def supportCompletePushDown(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false
  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    // data filters (residual or exact) can't apply to footer partials;
    // CONSUMED partition filters are fully applied by exact file drops,
    // so `count(*) WHERE dt = '…'` stays a footer walk of one partition
    if (pushed.length != consumed.length) return false
    // merge-on-read delete vectors invalidate MOST footer-served
    // aggregates: a bound's attaining row may be deleted (MIN/MAX),
    // deleted rows' values stay in the footer sums (SUM), and deleted
    // rows' null-ness is unrecorded — EXCEPT where the footers prove
    // there were no nulls to begin with. What stays exact per file:
    //   COUNT(*): live rows = footer numRows − the DV manifest's
    //     recorded cardinality, both already in planning metadata;
    //   COUNT(col) when every DV'd file is PROVABLY null-free for the
    //     column (manifest zone maps: nullCount 0 in every chunk, or
    //     the file predates the column entirely — then every row
    //     including the deleted ones was null and the partial stays 0).
    // GROUP BY partition-only columns composes (each file belongs to
    // exactly one group, so per-file partials stay exact per group).
    // Everything else declines and scans (chunk skipping still applies;
    // compaction materializes the DVs and re-enables the footer walk).
    // The proof is zero-I/O: liveDvs + manifestStats are the same
    // planning metadata the scan reads anyway; a DV'd file the manifest
    // doesn't cover is simply not provable → decline, never a runtime
    // surprise. The reader re-derives the null-freedom from the
    // authoritative footer before subtracting (files are immutable, so
    // the manifest proof cannot go stale — the re-check guards only
    // against a DIFFERENT DV set appearing between push and execution).
    val dvByDir: Map[String, Map[String, (Path, Long)]] = dirs.map(d =>
      d -> GraftDataSource.liveDvs(GraftDataSource.sessionConf(), d, tableOpt)).toMap
    def provablyNullFreeUnderDvs(n: String): Boolean = {
      val spellings = n +: chainOf(n)
      dvByDir.forall { case (d, dv) =>
        dv.isEmpty || {
          val conf = GraftDataSource.sessionConf()
          val stats = GraftDataSource.manifestStats(conf, d, GraftDataSource.resolveDataDir(conf, d))
          dv.keys.forall { uriPath =>
            stats.get(uriPath).exists { case (metas, _) =>
              val tms = metas.filter(t => tableOpt.forall(_ == t.name))
              val present = tms.map(t =>
                spellings.iterator.map(sp => t.schema.fieldNames.indexOf(sp))
                  .find(_ >= 0))
              tms.nonEmpty && (
                present.forall(_.isEmpty) || // predates the column everywhere
                (present.forall(_.isDefined) && tms.zip(present).forall {
                  case (t, Some(i)) => i < t.stats.size && t.stats(i).nullCount == 0
                  case _ => false
                }))
            }
          }
        }
      }
    }
    if (dvByDir.values.exists(_.nonEmpty) &&
        !aggregation.aggregateExpressions().forall {
          case _: CountStar => true
          case c: Count if !c.isDistinct =>
            (c.column match {
              case f: org.apache.spark.sql.connector.expressions.NamedReference
                  if f.fieldNames().length == 1 => Some(f.fieldNames()(0))
              case _ => None
            }).exists(provablyNullFreeUnderDvs)
          case _ => false
        })
      return false
    val groupCols: Seq[String] = aggregation.groupByExpressions().toSeq.map {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames().length == 1 => r.fieldNames()(0)
      case _ => return false
    }
    // grouping pushes only on PROVEN partition-only columns — the
    // inferSchema metadata flag, stamped from the listing that built the
    // table's schema (costs no extra listing here; the reader refuses
    // loudly if a drift file turns out to store the column in pages)
    if (!groupCols.forall(isPartitionCol)) return false
    // renamed columns carry their rename chain into the spec: pre-DDL
    // files record stats under an old spelling and the per-file reader
    // resolves through the chain, so aggregates keep answering from
    // footers across DDL
    // dotted = a struct leaf: answered from the footer's nestedStats
    // (v4 zone maps carry min/max/nulls/sums for statable leaves at any
    // depth). Renamed dotted paths decline — the per-file chain
    // resolution below is single-level; nested renames are rare enough
    // that a full scan is the honest answer there.
    def dottedChainFree(name: String): Boolean = {
      def walk(st: StructType, parts: List[String]): Boolean = parts match {
        case Nil => true
        case h :: rest => st.fields.find(_.name == h).exists(f =>
          !graft.format.Evolution.renamed(f) && (f.dataType match {
            case c: StructType => walk(c, rest)
            case _ => rest.isEmpty
          }))
      }
      walk(fullSchema, name.split('.').toList)
    }
    def leafOf(name: String): Option[DataType] =
      if (name.indexOf('.') < 0) fullSchema.fields.find(_.name == name).map(_.dataType)
      else if (dottedChainFree(name)) graft.format.Stats.leafType(fullSchema, name)
      else None
    def statType(name: String): Boolean =
      leafOf(name).exists {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType | TimestampNTZType | BooleanType => true
        // float/double min/max answer from footers since v5's NaN
        // accounting: a NaN-bearing chunk's partial max is NaN (Spark
        // orders NaN above everything), an all-NaN chunk's min is NaN,
        // NaN-free chunks (quality scores, embedding norms) are exact
        case FloatType | DoubleType => true
        case _ => false
      }
    // MIN/MAX additionally accept top-level STRING columns — since
    // footer v6 a stored bound shorter than the stat cap is provably
    // the exact extreme, and the per-file reader decodes JUST that
    // column for chunks whose bound is capped/older (a per-chunk
    // degrade, not an all-or-nothing decline), so `min(lang)`-style
    // dataset-card queries answer from footers and never refuse —
    // and top-level DECIMAL columns: chunk stats store the EXACT
    // unscaled value (i64 for p<=18, 16-byte BE past it) at each
    // FILE's own scale, and the reader rescales to the query type
    // exactly (widen only grows scale), so `min/max(price)` money
    // queries are a footer walk even across a p/scale-widening DDL.
    // Dotted string/decimal leaves decline (the nested decode
    // fallback is numeric-only).
    def minMaxType(name: String): Boolean = statType(name) ||
      (name.indexOf('.') < 0 && leafOf(name).exists {
        case StringType => true
        case _: DecimalType => true
        case _ => false
      })
    // footer sums wrap mod 2^64; under ANSI Spark must raise on long
    // overflow instead, so integral SUM stays unpushed there
    def sumIntegral(name: String): Option[Boolean] =
      leafOf(name).flatMap {
        case ByteType | ShortType | IntegerType | LongType =>
          if (org.apache.spark.sql.internal.SQLConf.get.ansiEnabled) None else Some(true)
        case FloatType | DoubleType => Some(false)
        case _ => None
      }
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case f: org.apache.spark.sql.connector.expressions.NamedReference =>
        Some(f.fieldNames().mkString("."))
      case _ => None
    }
    val specs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => GraftCountStar
      case c: Count if !c.isDistinct =>
        // COUNT(col) = numRows - nullCount, both footer-recorded.
        // Dotted leaves restrict to statable types: non-statable leaves
        // (strings, nested structs) have no nestedStats entry, which the
        // reader cannot tell apart from an all-null added leaf.
        colOf(c.column).filter(n =>
            if (n.indexOf('.') < 0) fullSchema.fieldNames.contains(n)
            else statType(n))
          .map(n => GraftCountCol(n, chainOf(n))).getOrElse(return false)
      case m: Min => colOf(m.column).filter(minMaxType)
        .map(n => GraftMinSpec(n, chainOf(n))).getOrElse(return false)
      case m: Max => colOf(m.column).filter(minMaxType)
        .map(n => GraftMaxSpec(n, chainOf(n))).getOrElse(return false)
      case s: Sum if !s.isDistinct =>
        // Sum arrives with the buffer-widening cast attached (int→bigint,
        // float→double); unwrap it only when the footer's sum domain
        // already IS the cast target, so the answer is cast-equivalent
        val sumCol = s.column match {
          case c: org.apache.spark.sql.connector.expressions.Cast =>
            colOf(c.expression()).filter { name =>
              (fullSchema(name).dataType, c.dataType()) match {
                case (ByteType | ShortType | IntegerType | LongType, LongType) => true
                case (FloatType | DoubleType, DoubleType) => true
                case _ => false
              }
            }
          case e => colOf(e)
        }
        (for { c <- sumCol; i <- sumIntegral(c) } yield GraftSumSpec(c, i, chainOf(c)))
          .getOrElse(return false)
      case _ => return false
    }
    // group columns lead the scan output (Spark's pushed-agg contract:
    // grouping expressions then aggregate expressions)
    val all = groupCols.map(GraftGroupCol) ++ specs
    aggSchema = StructType(all.map {
      case GraftGroupCol(c) => StructField(c, StringType) // path values are strings
      case GraftCountStar => StructField("count(*)", LongType, nullable = false)
      case GraftCountCol(c, _) => StructField(s"count($c)", LongType, nullable = false)
      case GraftMinSpec(c, _) => StructField(s"min($c)", leafOf(c).get)
      case GraftMaxSpec(c, _) => StructField(s"max($c)", leafOf(c).get)
      case GraftSumSpec(c, integral, _) =>
        StructField(s"sum($c)", if (integral) LongType else DoubleType)
    })
    aggSpecs = Some(all)
    true
  }

  override def build(): Scan =
    new GraftScan(dirs, aggSpecs.map(_ => aggSchema).getOrElse(required), tableOpt, pushed,
      limit, aggSpecs, maxFilesPerTrigger, topN, startingOffsets, fileFilter,
      consumedFilters = consumed, maxBytesPerTrigger = maxBytesPerTrigger,
      exactFilters = exact)
}

/** Pushed ORDER BY col [, tiebreaks...] LIMIT k: `desc`/`nullsFirst`
  * mirror the query's LEADING sort key; the reader only SKIPS with
  * this, over-delivery is always safe. `strict` marks a multi-key sort:
  * rows tying the k-th leading value can still win on a tiebreak, so a
  * chunk skips only when its bound is STRICTLY beyond the threshold —
  * a row with a leading value strictly worse than k observed ones is
  * out of the top-k no matter what its tiebreak columns hold. */
case class GraftTopN(col: String, desc: Boolean, nullsFirst: Boolean, k: Int,
    prevNames: Seq[String] = Nil, strict: Boolean = false)

class GraftScan(dirs: Seq[String], required: StructType, tableOpt: Option[String],
    planFilters: Array[Filter], limit: Int,
    aggSpecs: Option[Seq[GraftAggSpec]] = None,
    maxFilesPerTrigger: Option[Int] = None,
    topN: Option[GraftTopN] = None,
    startingOffsets: String = "earliest",
    fileFilter: Option[Set[String]] = None,
    // group-based row-level (COW) candidate read: the operation handle
    // receives the FINAL planned file set (post runtime group filtering)
    // so commit replaces exactly what was read — see planInputPartitions
    cowOp: Option[GraftRowLevelOperation] = None,
    // partition filters the builder CONSUMED (no residual re-check):
    // applied here as EXACT file drops against path values, with the
    // reader's own materialization semantics (default-partition = its
    // literal string; a drift file missing the key = null)
    consumedFilters: Array[Filter] = Array.empty,
    maxBytesPerTrigger: Option[Long] = None,
    // data filters the builder CONSUMED: the reader applies them row by
    // row (they also stay in `planFilters`, which drive every skip layer)
    val exactFilters: ExactFilters = ExactFilters.Empty) extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsReportOrdering {

  private def cow: Boolean = cowOp.isDefined

  private val conf = GraftDataSource.sessionConf()

  /** Exact consumed-filter evaluation over one file's path values. */
  private def passesConsumed(part: Map[String, String]): Boolean =
    consumedFilters.forall {
      case EqualTo(a, v: String) => part.get(a).contains(v)
      case In(a, vs) => part.get(a).exists(p => vs.exists(_ == p))
      case IsNull(a) => !part.contains(a)
      case org.apache.spark.sql.sources.IsNotNull(a) => part.contains(a)
      case _ => true // unreachable: the builder only consumes the shapes above
    }

  /** ONE directory listing per scan: estimateStatistics and
    * planInputPartitions both consume this cache, so planning a query
    * costs a single recursive listing (at 10^6 object-store files each
    * listing is seconds — the planner used to pay it twice). The listing
    * is unfiltered; pruning applies per consumer because runtime (DPP)
    * filters can arrive between the two calls. */
  /** ONE consistent snapshot per scan of (live listing, live delete
    * vectors): both must come from the SAME resolved generation — the
    * lazy vals force at different plan phases (estimateStatistics /
    * planInputPartitions / createReaderFactory), and a DML committing in
    * between could otherwise pair gen-N's files with gen-N+1's DV set,
    * silently resurrecting or double-deleting rows. The `.dvs` manifest
    * is read BEFORE the listing walk: the walk's sweep-race marker guard
    * proves the generation stayed intact through it, which then also
    * vouches for the earlier manifest read. */
  private lazy val viewSnapshot: (Seq[(org.apache.hadoop.fs.Path, Long, Map[String, String])],
      Map[String, (String, Long)]) = {
    val parts = dirs.map { d =>
      var attempt = 0
      var out: Option[(Seq[(org.apache.hadoop.fs.Path, Long, Map[String, String])],
        Map[String, (Path, Long)])] = None
      while (out.isEmpty) {
        val resolved = GraftDataSource.resolveDataDir(conf, d)
        try {
          val dv = GraftDataSource.liveDvsAt(conf, d, resolved, tableOpt)
          GraftDataSource.listingCalls.incrementAndGet() // observability parity
          val l = GraftDataSource.listPartitionedSizedAt(conf, d, resolved, resolved != d)
          out = Some((l, dv))
        } catch {
          case e: java.io.FileNotFoundException =>
            // the generation was reclaimed mid-walk; re-resolve (bounded,
            // same contract as listPartitionedSized's own retry loop)
            attempt += 1
            if (attempt > 5) throw new graft.format.OliveFormatException(
              s"live view of $d kept changing during planning " +
                s"($attempt attempts): concurrent rewrites are sweeping " +
                "faster than this scan can plan; raise spark.graft.graceMs", e)
            Thread.sleep(5L * attempt)
        }
      }
      out.get
    }
    (parts.flatMap(_._1),
      parts.flatMap(_._2).map { case (k, (p, n)) => k -> (p.toString, n) }.toMap)
  }

  private lazy val listing: Seq[(org.apache.hadoop.fs.Path, Long, Map[String, String])] = {
    val all = viewSnapshot._1
    fileFilter match {
      case Some(allowed) => all.filter { case (p, _, _) => allowed.contains(p.toString) }
      case None => all
    }
  }

  /** Per-file zone maps parsed from the live carry manifest(s), keyed by
    * URI path: FILE-level pruning at PLANNING time, zero per-file I/O.
    * Files the manifest doesn't cover (plain appends since the last
    * publish,
    * pointerless tables, pre-stats manifests) simply stay unpruned —
    * their chunks still skip inside readers from footer stats. Parsed
    * once per scan, and only on first use from a filtered consumer. */
  private lazy val manifestMetas: Map[String, Seq[graft.format.Meta.TableMeta]] =
    dirs.flatMap { d =>
      GraftDataSource.manifestStats(conf, d, GraftDataSource.resolveDataDir(conf, d))
        .iterator.map { case (uri, (ms, _)) => uri -> ms }
    }.toMap

  /** Live delete vectors of this scan's view (merge-on-read DELETE
    * sidecars), keyed by data-file URI path → (DV blob path, deleted
    * count). Empty for tables that never saw an MoR delete — the read
    * path then pays nothing. Resolved once per scan from the `.dvs`
    * manifest next to the carry manifest. */
  private lazy val dvByUri: Map[String, (String, Long)] = viewSnapshot._2

  /** True iff the live manifest PROVES file `p` holds no row of the
    * scan's table matching some pushed filter — [[Stats.canSkipChunk]]
    * lifted to planning, so a skipped file costs no task, no open, no
    * footer read. At 10^5 DML-carried files a selective predicate
    * schedules the handful of files that can match instead of a full
    * task wave that each discovers "nothing here" from its footer.
    *
    * Oversized IN-lists (runtime DPP join keys can arrive by the
    * thousands) are excluded from the DRIVER-side per-file sweep — the
    * O(files × keys) compare would stall planning; executors still
    * apply them to chunk/block skipping in parallel. */
  private lazy val listedPartCols: Set[String] =
    listing.iterator.flatMap(_._3.keys).toSet

  private def manifestSkip(p: org.apache.hadoop.fs.Path, fls: Array[Filter]): Boolean =
    fls.nonEmpty && manifestMetas.get(p.toUri.getPath).exists { metas =>
      val mine = metas.filter(_.name == tableOpt.getOrElse("data"))
      mine.nonEmpty && {
        // filters name columns by CURRENT spellings; a carried pre-DDL
        // file's manifest stats live under the file's own spellings —
        // resolve through rename chains per file (same contract as the
        // executor reader), and let absence prove skips too. Partition
        // and `_file` columns never count as absent: their values come
        // from the path, not the file schema.
        val (tf, abs0) = graft.format.Evolution.translateFilters(
          fls, required, mine.head.schema)
        val abs = if (abs0.isEmpty) abs0
          else abs0.filterNot(a => a == GraftDataSource.FileColName ||
            a == GraftDataSource.PosColName || listedPartCols.contains(a))
        tf.exists { f =>
          val bounded = f match {
            case org.apache.spark.sql.sources.In(_, vs) => vs == null || vs.length <= 4096
            case _ => true
          }
          bounded && (Stats.canSkipAbsent(f, abs) ||
            mine.forall(t => Stats.canSkipChunk(f, t)))
        }
      }
    }

  /** Planner statistics from the (partition-pruned) listing: compressed
    * bytes on disk scaled by a conservative decode-expansion factor.
    * Without this a V2 scan defaults to "unknown = huge" and a small
    * graft dimension never auto-broadcasts in a join.
    *
    * Pushed filters shrink the estimate through BOTH planning-time prune
    * layers — hive-partition values and manifest zone maps — so a
    * selectively-filtered fact side reports its post-prune size and
    * Spark's join selection broadcasts it without a hint. When every
    * kept file is manifest-covered the row count is exact and reported
    * (CBO/AQE consume it); any uncovered file leaves it unknown rather
    * than wrong. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val files = listing
    val partSchema = StructType(
      files.flatMap(_._3.keys).distinct.map(StructField(_, StringType)))
    val kept = files.filter(f => passesConsumed(f._3)).filterNot { case (p, _, part) =>
      val stats = part.map { case (k, v) =>
        val b = org.apache.spark.unsafe.types.UTF8String.fromString(v).getBytes
        k -> graft.format.ColStats(0, Some(b), Some(b))
      }
      filters.exists(f => Stats.canSkip(f, partSchema, stats)) ||
        manifestSkip(p, filters)
    }
    val onDisk = kept.map(_._2).sum
    // exact only when the manifest covers every kept file AND no pushed
    // operator rewrites the row shape (aggregate/top-k/limit readers and
    // consumed data filters emit fewer rows than the files hold)
    val table = tableOpt.getOrElse("data")
    val exactRows: Option[Long] =
      if (aggSpecs.nonEmpty || topN.isDefined || limit >= 0 || exactFilters.nonEmpty) None
      else kept.foldLeft(Option(0L)) { (acc, f) =>
        acc.flatMap(n => manifestMetas.get(f._1.toUri.getPath)
          .map(ms => n + ms.filter(_.name == table).map(_.numRows.toLong).sum))
      }
    // ANALYZE sidecar → DSv2 columnStats, served only when CBO is on
    // (its sole consumer) so the default path pays zero sidecar I/O
    val cboOn = try org.apache.spark.sql.internal.SQLConf.get.cboEnabled
      catch { case _: Exception => false }
    val sidecar: Option[graft.format.Stats.TableAnalysis] =
      if (!cboOn || dirs.size != 1 || aggSpecs.nonEmpty) None
      else GraftDataSource.readColStats(conf, dirs.head, table)
    // DML staleness policy: row counts extrapolate (byte ratio below)
    // but per-column NDV/histograms don't survive churn — once DML has
    // rewritten more than `statsChurnThreshold` of the analyzed bytes,
    // a served NDV is a guess that misleads join planning worse than
    // no estimate. Drop the column stats, keep the row scaling.
    val churned = sidecar.exists(
      _.churnFraction > GraftDataSource.statsChurnThreshold)
    val colStats: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = sidecar match {
      case None => java.util.Collections.emptyMap()
      case Some(_) if churned => java.util.Collections.emptyMap()
      case Some(a) =>
        // histogram kill-switch (spark.graft.cbo.histograms=false):
        // min/max/NDV still serve, only the equi-height boundaries drop —
        // the A/B lever HistogramCboSpec uses to prove histograms CHANGE
        // plans, and the operator's escape hatch if a distribution shifts
        // faster than ANALYZE runs
        val histOn =
          try org.apache.spark.sql.internal.SQLConf.get
            .getConfString("spark.graft.cbo.histograms", "true").toBoolean
          catch { case _: Exception => true }
        // append-staleness policy (the DML-churn policy's twin): once
        // appends exceed the threshold fraction of the table, columns
        // whose stats the append deltas CANNOT maintain (no sketch —
        // doubles, decimals, dates) stop serving; sketch-maintained
        // columns stay fresh by construction and keep serving
        val appendStale =
          a.appendFraction > GraftDataSource.statsChurnThreshold
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        required.fields.foreach { f =>
          a.cols.get(f.name).foreach { c =>
            if (!appendStale || c.sketch.isDefined) {
              val served = if (histOn) c else c.copy(histogram = None)
              m.put(org.apache.spark.sql.connector.expressions.Expressions
                .column(f.name), GraftColumnStatistics(served, f.dataType, a.rows))
            }
          }
        }
        m
    }
    // row count: exact from full manifest coverage; else the ANALYZE
    // snapshot — the rowCount CBO estimation needs before it will use
    // the column stats at all — EXTRAPOLATED by the byte ratio between
    // the kept listing and the analyzed table, so a stale sidecar on a
    // grown (or pruned-down) table scales instead of lying. Pushed
    // filters stay residual, so Spark's Filter node applies selectivity
    // ON TOP of this scan cardinality — the standard division of labor.
    // merge-on-read delete vectors shrink the served row set without
    // shrinking any file: subtract the kept files' DV cardinalities so
    // a heavily-deleted table still broadcast-plans like its LIVE size
    val dvDeleted: Long =
      if (dvByUri.isEmpty) 0L
      else kept.iterator.flatMap(f => dvByUri.get(f._1.toUri.getPath)).map(_._2).sum
    val estRows: Option[Long] = exactRows.orElse(sidecar.map { a =>
      if (a.bytes > 0 && onDisk > 0)
        math.max(1L, math.round(a.rows.toDouble * onDisk / a.bytes))
      else a.rows
    }).map(n => if (dvDeleted == 0) n else math.max(n - dvDeleted, 1L))
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(onDisk * 3, 1L)) // decode expansion
      override def numRows(): java.util.OptionalLong = estRows match {
        case Some(n) => java.util.OptionalLong.of(n)
        case None => java.util.OptionalLong.empty()
      }
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }
  override def readSchema(): StructType = required

  /** Runtime (DPP-style) filters: join-key IN-lists arrive at execution
    * time and feed the SAME two pruning layers as planning-time filters —
    * hive-partition pruning and chunk min/max skipping. A star join on a
    * graft fact table never scans the partitions/chunks the dimension
    * filter excludes, Spark's dynamic partition pruning re-expressed for
    * this source. */
  private var runtimeFilters: Array[Filter] = Array.empty
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (cow)
      // the ONE safe runtime-filter key for a COW candidate read: Spark's
      // RowLevelOperationRuntimeGroupFiltering sends the matching rows'
      // `_file` values, whole files drop out of the rewrite, and commit
      // sees the post-filter set (recorded in planInputPartitions) —
      // row-valued keys would instead shrink the rows READ out of files
      // still being REPLACED, which is row loss
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(
        GraftDataSource.FileColName))
    else required.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(incoming: Array[Filter]): Unit = { runtimeFilters = incoming }

  /** `_file`-valued (planning or runtime) filters prune whole FILES from
    * the listing — the group-filtering hook above, and free for any
    * user query filtering on the metadata column. Conservative: only
    * whole-conjunct EqualTo/In on `_file` prune; anything else keeps the
    * file (Spark re-applies all filters row-level). */
  private def fileColKeep(path: Path): Boolean = {
    val s = path.toString
    filters.forall {
      case org.apache.spark.sql.sources.EqualTo(a, v) if a == GraftDataSource.FileColName =>
        v == s
      case org.apache.spark.sql.sources.In(a, vs) if a == GraftDataSource.FileColName =>
        vs != null && vs.contains(s)
      case _ => true
    }
  }

  private def filters: Array[Filter] = planFilters ++ runtimeFilters

  /** Bucketed-table layout, when provable: the write-side marker names
    * (column, n), and EVERY listed file must carry the matching
    * `-bBBBBB.ofNNNNN.tTTTTTTTT` name tag — the tag hashes
    * (table, column, n), so files bucketed under a different spec, a
    * different table's files sharing the dir, or plain unbucketed
    * appends all deactivate the claim instead of corrupting a
    * shuffle-free join. Requires the bucket column in the read schema
    * (Spark resolves the reported transform against scan output) and no
    * aggregate pushdown (whose reader rewrites row shape). */
  private lazy val bucketSpec: Option[(String, Int, Option[String])] = {
    if (dirs.size != 1 || aggSpecs.nonEmpty) None
    else {
      val table = tableOpt.getOrElse("data")
      GraftDataSource.readBucketMarker(conf, dirs.head, table).filter { case (col, n, sort) =>
        required.fieldNames.contains(col) && {
          val tag = GraftBucket.layoutTag(table, col, n, sort)
          listing.nonEmpty && listing.forall { case (p, _, _) =>
            GraftDataSource.bucketOf(p.getName, n, tag).isDefined
          }
        }
      }
    }
  }

  private def v2BucketingOn: Boolean =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    catch { case _: Exception => false }

  /** Files grouped per bucket id using PLANNING-time filters only, so the
    * group count reported by [[outputPartitioning]] (physical planning)
    * and produced by [[planInputPartitions]] (execution, possibly after
    * runtime filters arrived) always agree; runtime filters then prune
    * files WITHIN a group, leaving empty groups in place. */
  private lazy val bucketGroupsPlan: Option[Seq[(Int, Seq[(org.apache.hadoop.fs.Path, Map[String, String])])]] =
    bucketSpec.filter(_ => v2BucketingOn).map { case (col, n, sort) =>
      val tag = GraftBucket.layoutTag(tableOpt.getOrElse("data"), col, n, sort)
      listing.map { case (p, _, part) => (p, part) }
        .groupBy { case (p, _) => GraftDataSource.bucketOf(p.getName, n, tag).get }
        .toSeq.sortBy(_._1)
    }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    (bucketSpec, bucketGroupsPlan) match {
      case (Some((col, n, _)), Some(groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, col)),
          groups.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Within-partition sort order, claimable ONLY when the write-time
    * sort survives partition assembly: every file is tagged with the
    * sorted layout AND each bucket group holds a single file (a
    * concatenation of two sorted files is not sorted — a second append
    * drops this claim until a compaction rewrites one file per bucket,
    * while the shuffle-free join claim itself stays). Lets a
    * storage-partitioned sort-merge join skip its SortExec on both
    * sides: the 100 TB fact-fact join becomes pure streaming merge work
    * with no shuffle, no sort, no spill. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    (bucketSpec, bucketGroupsPlan) match {
      case (Some((_, _, Some(sortCol))), Some(groups))
          if required.fieldNames.contains(sortCol) && groups.forall(_._2.size == 1) =>
        Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(sortCol),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case _ => Array.empty
    }

  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(dirs.size == 1, "graft streaming reads take exactly one path")
    new GraftMicroBatchStream(dirs.head, checkpointLocation, required, tableOpt,
      maxFilesPerTrigger, startingOffsets, maxBytesPerTrigger)
  }
  override def description(): String =
    s"graft ${dirs.mkString(",")} table=${tableOpt.getOrElse("<single>")} " +
      s"cols=[${required.fieldNames.mkString(",")}] " +
      s"skipFilters=[${filters.mkString(",")}]" +
      (if (exactFilters.nonEmpty) s" exactFilters=[${exactFilters.filters.mkString(",")}]" else "") +
      (if (limit >= 0) s" limit=$limit" else "") +
      aggSpecs.map(s => s" pushedAggs=[${s.mkString(",")}]").getOrElse("") +
      topN.map(t => s" pushedTopN=[${t.col} ${if (t.desc) "DESC" else "ASC"} k=${t.k}]").getOrElse("")

  /** Planning-time partition pruning: a filter on a partition column that
    * contradicts a file's `k=v` path values drops the file before any
    * task is scheduled — at 100 TB this is the difference between
    * scanning a day and scanning a year.
    *
    * When the pruned listing has fewer files than the cluster has slots,
    * large files are further split into per-chunk input partitions (their
    * footers are read on the driver — bounded work, since this only
    * happens for a handful of files), so a single multi-chunk file never
    * serializes onto one task. */
  override def planInputPartitions(): Array[InputPartition] = {
    bucketGroupsPlan match {
      case Some(groups) =>
        // one keyed input partition per bucket — the group COUNT the
        // planner committed to in outputPartitioning is preserved (empty
        // groups stay in place); manifest zone maps still prune FILES
        // within each group, so a selective filter over a DML-maintained
        // bucketed table schedules the provably-relevant files only.
        // COW scans carry no data filters (only `_file` runtime keys,
        // which manifestSkip can't serve), so the replaced set is
        // unaffected there.
        // passesConsumed keeps CONSUMED partition filters sound even if
        // a bucket-tagged listing ever coexists with hive partition dirs
        // (the write paths don't compose them today, but a consumed
        // filter silently unapplied would be wrong ROWS, so the
        // invariant must not depend on that non-composition)
        val pruned = groups.map { case (b, fs) =>
          (b, fs.filter { case (_, part) => passesConsumed(part) }
            .filterNot { case (p, _) => manifestSkip(p, filters) })
        }
        cowOp.foreach(_.replaced = Some(pruned.flatMap(_._2.map(_._1))))
        return pruned.map { case (b, fs) =>
          GraftBucketedPartition(fs.map { case (p, part) => (p.toString, part) }, b): InputPartition
        }.toArray
      case None =>
    }
    val files = listing.map { case (p, sz, part) => (p, sz, part) }
    val partSchema = StructType(
      GraftDataSource.partitionColumns(files.map { case (p, _, m) => (p, m) })
        .map(StructField(_, StringType)))
    val keptSized = files.filter { case (p, _, part) =>
      fileColKeep(p) && passesConsumed(part) }
      .filterNot { case (p, _, part) =>
        // exact partition values = degenerate min==max ranges
        val stats = part.map { case (k, v) =>
          val b = org.apache.spark.unsafe.types.UTF8String.fromString(v).getBytes
          k -> graft.format.ColStats(0, Some(b), Some(b))
        }
        filters.exists(f => Stats.canSkip(f, partSchema, stats)) ||
          // manifest zone maps drop whole FILES before any task exists
          // (runtime DPP IN-lists included — a star join's dimension
          // filter unschedules the fact files it excludes)
          manifestSkip(p, filters)
      }
    val kept = keptSized.map { case (p, _, part) => (p, part) }
    // COW commit replaces exactly the files planned HERE — after runtime
    // group filtering narrowed them — and carries every other live file
    cowOp.foreach(_.replaced = Some(kept.map(_._1)))
    val slots = try {
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
    } catch { case _: Exception => 16 }
    // a pushed top-k skips via evidence ACCUMULATED ACROSS a file's
    // chunks: splitting the file into per-chunk partitions would give
    // every chunk its own one-chunk skipper that can never prove
    // anything — keep whole-file (or packed multi-file) partitions
    // instead; a packed bin even SHARES one skipper across its files,
    // so evidence carries file to file
    if (kept.size >= slots || topN.isDefined) {
      // many files: BIN-PACK small files into partitions with Spark's own
      // file-source split formula (maxPartitionBytes / openCostInBytes /
      // bytes-per-core) — a 10^5-tiny-file table schedules hundreds of
      // concatenated-read tasks, not 10^5, while few-but-chunky files
      // keep one task each (a file never splits here; bins only merge)
      val sqlConf = org.apache.spark.sql.internal.SQLConf.get
      val maxPartitionBytes = sqlConf.filesMaxPartitionBytes
      val openCost = sqlConf.filesOpenCostInBytes
      val totalSize = keptSized.map(_._2).sum
      val bytesPerCore = (totalSize + kept.size.toLong * openCost) / math.max(slots, 1)
      val maxSplit = math.min(maxPartitionBytes, math.max(openCost, bytesPerCore))
      val bins = Vector.newBuilder[Vector[(String, Map[String, String])]]
      var bin = Vector.empty[(String, Map[String, String])]
      var binBytes = 0L
      keptSized.sortBy(-_._2).foreach { case (p, sz, part) =>
        val cost = sz + openCost
        if (bin.nonEmpty && binBytes + cost > maxSplit) {
          bins += bin; bin = Vector.empty; binBytes = 0L
        }
        bin = bin :+ ((p.toString, part))
        binBytes += cost
      }
      if (bin.nonEmpty) bins += bin
      bins.result().map { fs =>
        if (fs.size == 1) GraftInputPartition(fs.head._1, fs.head._2): InputPartition
        else GraftPackedPartition(fs): InputPartition
      }.toArray
    } else {
      // few files: read their footers (in parallel — bounded work) and
      // split into CHUNK RANGES so a single multi-chunk file fans out
      // over tasks. Ranges are sized by the same split formula as the
      // bin-pack path — one task per chunk would price a small-chunk
      // file at launch-overhead x chunks (r16 sf1: a 3750-chunk scan
      // spent most of its wall in scheduling, 100x the chunk count of
      // the same fixture at sf0.1)
      val sqlConf = org.apache.spark.sql.internal.SQLConf.get
      val totalSize = keptSized.map(_._2).sum
      // floor at 256 KB, NOT filesOpenCostInBytes (4 MB): chunk ranges
      // WITHIN one file don't pay a per-file open (the footer parse is
      // cached) — the 4 MB floor collapsed a 15 MB single-file table to
      // 4 tasks on 32 cores (q135's ANALYZE scans slowed 2x at sf0.1).
      // 256 KB keeps every range several ms of decode vs ~1 ms of task
      // launch while letting mid-size tables use the whole machine. The
      // floor itself caps at the CONFIGURED open cost so an explicitly
      // shrunk openCostInBytes (the knob tests use to make KB-scale
      // fixtures fan out like multi-GB files) is honored, not overridden.
      val floor = math.min(256L << 10, math.max(sqlConf.filesOpenCostInBytes, 1L))
      val maxSplit = math.max(floor,
        math.min(sqlConf.filesMaxPartitionBytes, totalSize / math.max(slots, 1)))
      GraftDataSource.inParallel(keptSized) { case (p, sz, part) =>
        val nChunks = try {
          val r = GraftFileReader.open(p.getFileSystem(conf), p)
          try r.footer.chunks.size finally r.close()
        } catch { case _: Exception => 1 } // defer failures to the executor
        // a DV'd file under pushed COUNT(*) must stay ONE partition: the
        // manifest's deleted-row cardinality is per FILE, and splitting
        // would subtract it once per chunk (per-chunk DV attribution
        // would cost a blob decode planning never pays)
        val nSplits = math.min(nChunks,
          math.max(1, math.ceil(sz.toDouble / math.max(maxSplit, 1L)).toInt))
        if (nChunks <= 1 || nSplits <= 1 ||
            (aggSpecs.nonEmpty && dvByUri.contains(p.toUri.getPath)))
          Seq(GraftInputPartition(p.toString, part))
        else (0 until nSplits).flatMap { si =>
          val lo = (si.toLong * nChunks / nSplits).toInt
          val hi = ((si + 1).toLong * nChunks / nSplits).toInt
          if (hi > lo) Some(GraftInputPartition(p.toString, part, Some((lo, hi))))
          else None
        }
      }.flatten.map(x => x: InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = aggSpecs match {
    case Some(specs) =>
      // under live delete vectors only COUNT(*) (+ partition-only group
      // columns) stays footer-exact: live rows = numRows − the manifest's
      // DV cardinality per file. The builder only pushes that shape when
      // it saw DVs; a DV appearing between push and execution (a
      // concurrent MoR DELETE committing mid-plan) is ALSO fine for that
      // shape — this scan's snapshot pairs the listing with its own DV
      // set. Any other pushed spec must fail loudly instead: footer
      // bounds and sums would silently include the deleted rows.
      if (dvByUri.nonEmpty &&
          !specs.forall(s => s == GraftCountStar || s.isInstanceOf[GraftGroupCol] ||
            s.isInstanceOf[GraftCountCol]))
        throw new graft.format.OliveFormatException(
          s"delete vectors appeared on ${dirs.mkString(",")} after aggregate " +
            "pushdown was planned (concurrent merge-on-read DELETE); re-run the query")
      new GraftAggReaderFactory(specs, required, tableOpt, GraftDataSource.broadcastConf(),
        dvDeleted = dvByUri.map { case (k, (_, n)) => k -> n })
    case None =>
      // top-k skipping is only sound when EVERY delivered row survives to
      // the final TakeOrdered: pushTopN already declines on planned
      // filters, and runtime (DPP) filters arriving here disable it the
      // same way — a heap row the later join drops would otherwise
      // license skipping chunks that hold the true top-k
      val effectiveTopN = if (runtimeFilters.isEmpty) topN else None
      new GraftReaderFactory(required, tableOpt, filters, limit,
        GraftDataSource.broadcastConf(), effectiveTopN,
        dvByUri.map { case (k, (p, _)) => k -> p }, exactFilters)
  }

  override def supportedCustomMetrics(): Array[CustomMetric] = Array(
    new SkippedChunksMetric, new DecodedChunksMetric, new SkippedBlocksMetric,
    new PagesReadMetric)
}

// Top-level 0-arg classes: Spark's UI listener re-instantiates the metric
// class reflectively when aggregating; an anonymous inner class (captured
// outer pointer, no 0-arg ctor) makes every query log a listener stack trace.
class SkippedChunksMetric extends CustomSumMetric {
  def name = "skippedChunks"; def description = "chunks skipped by stats"
}
class DecodedChunksMetric extends CustomSumMetric {
  def name = "decodedChunks"; def description = "chunks decoded"
}
class SkippedBlocksMetric extends CustomSumMetric {
  def name = "skippedBlocks"; def description = "row blocks skipped by zone maps"
}
class PagesReadMetric extends CustomSumMetric {
  def name = "pagesRead"; def description = "data pages decompressed"
}

/** DSv2 ColumnStatistics view of one ANALYZE-sidecar column. min/max box
  * to the column's CATALYST-internal representation (Int for int/date,
  * Long for long/timestamps, Float/Double for floating) — that is what
  * the planner's ColumnStat-based estimation consumes directly. */
case class GraftColumnStatistics(c: graft.format.Stats.ColAnalysis, dt: DataType,
    tableRows: Long)
    extends org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
  import java.util.{Optional, OptionalLong}
  private def rowsNonNull: Long = math.max(0L, tableRows - c.nullCount)
  override def distinctCount(): OptionalLong = OptionalLong.of(c.ndv)
  override def nullCount(): OptionalLong = OptionalLong.of(c.nullCount)
  override def avgLen(): OptionalLong =
    c.avgLen.map(OptionalLong.of).getOrElse(OptionalLong.empty())
  override def maxLen(): OptionalLong =
    c.maxLen.map(OptionalLong.of).getOrElse(OptionalLong.empty())
  private def box(v: Any): Object = (dt, v) match {
    case (ByteType, l: Long) => java.lang.Byte.valueOf(l.toByte)
    case (ShortType, l: Long) => java.lang.Short.valueOf(l.toShort)
    case (IntegerType | DateType, l: Long) => java.lang.Integer.valueOf(l.toInt)
    case (LongType | TimestampType | TimestampNTZType, l: Long) => java.lang.Long.valueOf(l)
    case (FloatType, d: Double) => java.lang.Float.valueOf(d.toFloat)
    case (DoubleType, d: Double) => java.lang.Double.valueOf(d)
    case _ => null
  }
  override def min(): Optional[Object] = Optional.ofNullable(c.min.map(box).orNull)
  override def max(): Optional[Object] = Optional.ofNullable(c.max.map(box).orNull)
  /** Equi-height histogram from the ANALYZE boundaries: n bins of
    * (rows − nulls)/n rows each, per-bin NDV the uniform split of the
    * column NDV — boundaries carry the range-selectivity signal. */
  override def histogram(): Optional[org.apache.spark.sql.connector.read.colstats.Histogram] =
    c.histogram match {
      case Some(es) if es.size >= 2 && rowsNonNull > 0 =>
        val n = es.size - 1
        val binNdv = math.max(1L, (c.ndv + n - 1) / n)
        val binArr = (0 until n).map { i =>
          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
            override def lo(): Double = es(i)
            override def hi(): Double = es(i + 1)
            override def ndv(): Long = binNdv
          }
        }.toArray[org.apache.spark.sql.connector.read.colstats.HistogramBin]
        Optional.of(new org.apache.spark.sql.connector.read.colstats.Histogram {
          override def height(): Double = rowsNonNull.toDouble / n
          override def bins(): Array[org.apache.spark.sql.connector.read.colstats.HistogramBin] =
            binArr
        })
      case _ => Optional.empty()
    }
}

case class GraftInputPartition(file: String,
    partValues: Map[String, String] = Map.empty,
    // a CONTIGUOUS footer-chunk slice [lo, hi) of the file, None = all
    // of it. Ranges, not single chunks: one task per chunk priced every
    // small-chunk file at task-launch overhead x chunk count (the r16
    // sf1 run measured a 3750-chunk scan spending most of its wall in
    // scheduling) — the planner bins chunks to Spark's split size
    chunkRange: Option[(Int, Int)] = None) extends InputPartition

/** Several small files bin-packed into ONE task (the Spark file-source
  * maxPartitionBytes/openCost packing re-expressed for graft): served by
  * a [[GraftConcatReader]] that opens files one at a time and, under a
  * pushed top-k, carries ONE skipper's evidence across all of them. */
case class GraftPackedPartition(files: Seq[(String, Map[String, String])])
    extends InputPartition

/** All files of one bucket of a bucketed graft table, keyed so Spark's
  * key-grouped planner can line both join sides up task-for-task. */
case class GraftBucketedPartition(files: Seq[(String, Map[String, String])],
    bucketId: Int) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucketId))
}

/** Pushed-aggregate reader: ONE partial row per input partition, computed
  * entirely from footer metadata (numRows, chunk min/max stats) — no data
  * page is read or decompressed. Partition-path columns contribute their
  * constant path value; a column missing from an old file's schema
  * contributes a null partial (Spark's final Min/Max ignore nulls). */
class GraftAggReaderFactory(specs: Seq[GraftAggSpec], schema: StructType,
    tableOpt: Option[String], conf: Broadcast[SerializableConfiguration],
    // live-DV cardinality per data-file URI path: COUNT(*) partials
    // subtract it (live rows = footer rows − recorded deletions); only
    // CountStar/group specs are ever planned alongside a non-empty map
    dvDeleted: Map[String, Long] = Map.empty) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case pp: GraftPackedPartition =>
      // a packed bin yields one partial row PER FILE (Spark's final
      // aggregate combines partials, so per-file vs per-bin is identity)
      val parts = pp.files.map { case (f, pv) => GraftInputPartition(f, pv) }
      new PartitionReader[InternalRow] {
        private val it = parts.iterator
        private var cur: PartitionReader[InternalRow] = _
        override def next(): Boolean = {
          while (true) {
            if (cur == null) {
              if (!it.hasNext) return false
              cur = readerFor(it.next())
            }
            if (cur.next()) return true
            cur.close(); cur = null
          }
          false // unreachable
        }
        override def get(): InternalRow = cur.get()
        override def close(): Unit = if (cur != null) { cur.close(); cur = null }
      }
    case gp: GraftInputPartition => readerFor(gp)
  }

  private def readerFor(gp: GraftInputPartition): PartitionReader[InternalRow] = {
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (done) return false
        done = true
        val path = new Path(gp.file)
        val r = GraftFileReader.open(path.getFileSystem(conf.value.value), path)
        try {
          val name = tableOpt.getOrElse {
            val names = r.tableNames
            if (names.size == 1) names.head
            else throw new IllegalArgumentException(
              s"file holds tables ${names.mkString(",")}; pass .option(\"table\", ...)")
          }
          val chunkPairs = (gp.chunkRange match {
            case Some((lo, hi)) => r.footer.chunks.slice(lo, hi)
            case None => r.footer.chunks
          }).flatMap(c => c.tables.filter(_.name == name).map(t => (c, t)))
          val chunks = chunkPairs.map(_._2)
          // a chunk's spelling of a (possibly renamed) column: current
          // name first, then the chain. None = the file predates it.
          def chunkIdxOf(t: Meta.TableMeta, col: String, prev: Seq[String]): Option[Int] =
            (col +: prev).iterator.map(n => t.schema.fieldNames.indexOf(n))
              .find(_ >= 0)
          // Fallback for a chunk that CARRIES a leaf but records no
          // nested stats (an older writer, an interop edge): decode the
          // leaf for this one chunk and compute exactly the stats the
          // footer would have held — one column decode slower, never a
          // refusal, never a silent all-null answer.
          def computedLeafStats(cm: Meta.ChunkMeta, t: Meta.TableMeta,
              col: String): graft.format.ColStats = {
            val parts = col.split('.')
            def prune(st: StructType, i: Int): StructType = {
              val f = st.fields.find(_.name == parts(i)).getOrElse(
                throw new OliveFormatException(s"leaf $col vanished mid-decode"))
              f.dataType match {
                case inner: StructType if i < parts.length - 1 =>
                  StructType(Seq(f.copy(dataType = prune(inner, i + 1))))
                case _ => StructType(Seq(f))
              }
            }
            val leafDt = Stats.leafType(t.schema, col).get
            val batch = r.decodeTable(cm, t, prune(t.schema, 0))
            try {
              val levels = new Array[org.apache.spark.sql.vectorized.ColumnVector](parts.length)
              levels(0) = batch.column(0)
              var k = 1
              while (k < parts.length) { levels(k) = levels(k - 1).getChild(0); k += 1 }
              val leaf = levels(parts.length - 1)
              var nulls = 0; var nans = 0
              var mnL = Long.MaxValue; var mxL = Long.MinValue; var smL = 0L
              var mnD = Double.PositiveInfinity; var mxD = Double.NegativeInfinity
              var smD = 0.0; var seenD = false
              val floatish = leafDt == FloatType || leafDt == DoubleType
              var i = 0
              while (i < batch.numRows()) {
                var isNull = false
                var l = 0
                while (!isNull && l < parts.length) {
                  if (levels(l).isNullAt(i)) isNull = true; l += 1
                }
                if (isNull) nulls += 1
                else if (floatish) {
                  val v = if (leafDt == FloatType) leaf.getFloat(i).toDouble else leaf.getDouble(i)
                  smD += v
                  if (v != v) nans += 1
                  else { seenD = true; if (v < mnD) mnD = v; if (v > mxD) mxD = v }
                } else {
                  val v = leafDt match {
                    case ByteType => leaf.getByte(i).toLong
                    case ShortType => leaf.getShort(i).toLong
                    case IntegerType | DateType => leaf.getInt(i).toLong
                    case BooleanType => if (leaf.getBoolean(i)) 1L else 0L
                    case _ => leaf.getLong(i) // long/timestamp domains
                  }
                  smL += v
                  if (v < mnL) mnL = v; if (v > mxL) mxL = v
                }
                i += 1
              }
              val values = batch.numRows() - nulls
              if (values == 0) graft.format.ColStats(nulls, None, None)
              else if (floatish)
                graft.format.ColStats(nulls,
                  if (seenD) Some(Stats.doubleBytes(mnD)) else None,
                  if (seenD) Some(Stats.doubleBytes(mxD)) else None,
                  Some(Stats.doubleBytes(smD)), nans)
              else graft.format.ColStats(nulls,
                Some(Stats.longBytes(mnL)), Some(Stats.longBytes(mxL)),
                Some(Stats.longBytes(smL)))
            } finally batch.close()
          }
          // the chunk's stats for `col`: top-level by (chain-resolved)
          // schema index, DOTTED struct leaves from the footer's
          // nestedStats (computed from the chunk's own data when the
          // footer omits them). None = the column/leaf provably reads
          // all-null in this chunk (pre-ADD file).
          def statsOf(cm: Meta.ChunkMeta, t: Meta.TableMeta, col: String,
              prev: Seq[String]): Option[graft.format.ColStats] =
            if (col.indexOf('.') >= 0) t.nestedStats.get(col) match {
              case s @ Some(_) => s
              case None =>
                if (Stats.leafType(t.schema, col).isDefined)
                  Some(computedLeafStats(cm, t, col))
                else None // leaf absent from this file's struct: all-null
            }
            else chunkIdxOf(t, col, prev).map(t.stats)
          // [[computedLeafStats]] with the chunk's own spelling of a
          // possibly-renamed TOP-LEVEL column (dotted paths push only
          // chain-free, so they pass through unchanged).
          def computedStatsResolved(cm: Meta.ChunkMeta, t: Meta.TableMeta,
              col: String, prev: Seq[String]): graft.format.ColStats =
            if (col.indexOf('.') >= 0) computedLeafStats(cm, t, col)
            else computedLeafStats(cm, t,
              (col +: prev).find(t.schema.fieldNames.contains).getOrElse(col))
          // Exact string extreme of ONE chunk by decoding just that
          // column — the per-chunk degrade when a footer bound is capped
          // (possibly truncated) or pre-v6. Null = no non-null values.
          def decodedStringExtreme(cm: Meta.ChunkMeta, t: Meta.TableMeta,
              col: String, prev: Seq[String], wantMax: Boolean):
              org.apache.spark.unsafe.types.UTF8String = {
            val spelled = (col +: prev).find(t.schema.fieldNames.contains)
              .getOrElse(return null)
            val batch = r.decodeTable(cm, t, StructType(Seq(t.schema(spelled))))
            try {
              val v = batch.column(0)
              var best: org.apache.spark.unsafe.types.UTF8String = null
              var i = 0
              while (i < batch.numRows()) {
                if (!v.isNullAt(i)) {
                  val s = v.getUTF8String(i)
                  if (best == null ||
                      (if (wantMax) s.compareTo(best) > 0 else s.compareTo(best) < 0))
                    best = s.clone() // the vector's backing buffer dies with the batch
                }
                i += 1
              }
              best
            } finally batch.close()
          }
          def minMax(col: String, prev: Seq[String], wantMax: Boolean): Any = {
            if (gp.partValues.contains(col) &&
                !chunkPairs.headOption.exists { case (cm, t) =>
                  statsOf(cm, t, col, prev).isDefined })
              return org.apache.spark.unsafe.types.UTF8String.fromString(gp.partValues(col))
            val outType = schema.fields
              .find(_.name == s"${if (wantMax) "max" else "min"}($col)")
              .map(_.dataType).getOrElse(LongType)
            outType match {
              case StringType =>
                // v6 sub-cap bounds ARE the extreme values; capped or
                // pre-v6 bounds degrade to a one-column decode — but a
                // truncated bound is still a PROOF, so the decode pass
                // is pruned: exact bounds serve first (free), then only
                // chunks whose bound proof could still beat the best
                // exact value decode, best-proof-first so each decode
                // tightens the skip for the rest. On a mixed-age 100 TB
                // table that is a handful of competitive chunks, not a
                // column scan of every pre-v6 file.
                import org.apache.spark.unsafe.types.UTF8String
                var best: UTF8String = null
                def consider(v: UTF8String): Unit =
                  if (v != null && (best == null ||
                      (if (wantMax) v.compareTo(best) > 0 else v.compareTo(best) < 0)))
                    best = v
                // (chunk, table, bound-proof bytes or null = unbounded)
                val pending = Vector.newBuilder[(Meta.ChunkMeta, Meta.TableMeta, Array[Byte])]
                chunkPairs.foreach { case (cm, t) =>
                  statsOf(cm, t, col, prev).foreach { cs =>
                    if (t.numRows > 0 && cs.nullCount < t.numRows) {
                      val bound = if (wantMax) cs.max else cs.min
                      if (r.footer.version >= 6 &&
                          bound.exists(_.length < Stats.MaxStringStat))
                        consider(UTF8String.fromBytes(bound.get))
                      else pending += ((cm, t, bound.orNull))
                    }
                  }
                }
                // a chunk CAN beat `best` only if its conservative bound
                // does (max: upper-bound proof > best; min: lower < best);
                // a missing bound (all-0xff bump, v4 over-long) proves
                // nothing and always decodes
                def mightBeat(b: Array[Byte]): Boolean = b == null || best == null || {
                  val c = java.util.Arrays.compareUnsigned(b, best.getBytes)
                  if (wantMax) c > 0 else c < 0
                }
                val ordered = pending.result().sortWith { case ((_, _, a), (_, _, b)) =>
                  // a strict weak order (TimSort contract): unbounded
                  // (null) proofs first, equal keys unordered
                  if (a == null) b != null
                  else if (b == null) false
                  else {
                    val c = java.util.Arrays.compareUnsigned(a, b)
                    if (wantMax) c > 0 else c < 0
                  }
                }
                ordered.foreach { case (cm, t, b) =>
                  if (mightBeat(b)) consider(decodedStringExtreme(cm, t, col, prev, wantMax))
                }
                best // null = min/max over zero values
              case target: DecimalType =>
                // chunk stats hold the EXACT unscaled extreme at the
                // FILE's own decimal type (i64 for p<=18, 16-byte BE
                // two's-complement past it); pre-widen files rescale to
                // the query scale exactly — 10^Δ multiplication of the
                // unscaled integer, the same promotion the value reader
                // performs
                import java.math.BigInteger
                var best: org.apache.spark.sql.types.Decimal = null
                chunkPairs.foreach { case (cm, t) =>
                  statsOf(cm, t, col, prev).foreach { cs =>
                    if (t.numRows > 0 && cs.nullCount < t.numRows) {
                      val chunkDt = chunkIdxOf(t, col, prev)
                        .map(i => t.schema.fields(i).dataType)
                      chunkDt match {
                        case Some(cd: DecimalType) =>
                          val bound = if (wantMax) cs.max else cs.min
                          val b = bound.getOrElse(throw new OliveFormatException(
                            s"chunk lacks $col decimal stats for pushed aggregate"))
                          val unscaled =
                            if (cd.precision <= 18) BigInteger.valueOf(Stats.longOf(b))
                            else new BigInteger(b) // 16-byte BE, sign-carrying
                          if (target.scale < cd.scale) throw new OliveFormatException(
                            s"$col scale narrowed ${cd.scale}->${target.scale}; stats not servable")
                          val rescaled = unscaled.multiply(
                            BigInteger.TEN.pow(target.scale - cd.scale))
                          val v = org.apache.spark.sql.types.Decimal(
                            new java.math.BigDecimal(rescaled, target.scale),
                            target.precision, target.scale)
                          if (best == null ||
                              (if (wantMax) v.compare(best) > 0 else v.compare(best) < 0))
                            best = v
                        case _ => // a non-decimal spelling is unreachable: the
                          // builder type-checked the CURRENT schema and widen
                          // DDL only moves decimal->decimal
                          throw new OliveFormatException(
                            s"$col is not decimal in ${gp.file}")
                      }
                    }
                  }
                }
                best // null = min/max over zero values
              case FloatType | DoubleType =>
                // v5 NaN accounting (Spark orders NaN above every value):
                // any NaN in a chunk makes its partial MAX NaN; a chunk
                // whose every value is NaN has NaN as its partial MIN;
                // otherwise the stored non-NaN bounds are the answer
                val doubles = chunkPairs.flatMap { case (cm, t) =>
                  statsOf(cm, t, col, prev).flatMap { cs =>
                    if (t.numRows == 0 || cs.nullCount == t.numRows) None
                    else if (wantMax && cs.nanCount > 0) Some(Double.NaN)
                    else (if (wantMax) cs.max else cs.min) match {
                      case Some(b) => Some(Stats.doubleOf(b))
                      case None if cs.nanCount + cs.nullCount == t.numRows =>
                        Some(Double.NaN) // all-NaN
                      case None =>
                        // v4 chunk: NaN presence dropped min/max entirely
                        // and recorded no nanCount — decode the column
                        // once and compute what a v5+ footer would hold,
                        // instead of refusing on pre-upgrade data (the
                        // NaN-bearing files are exactly what the feature
                        // targets)
                        val cs2 = computedStatsResolved(cm, t, col, prev)
                        if (wantMax && cs2.nanCount > 0) Some(Double.NaN)
                        else (if (wantMax) cs2.max else cs2.min) match {
                          case Some(b) => Some(Stats.doubleOf(b))
                          case None => Some(Double.NaN) // all values NaN
                        }
                    }
                  }
                }
                if (doubles.isEmpty) null
                else {
                  // Double.compare = Spark's ordering here (NaN largest)
                  val v = if (wantMax) doubles.max else doubles.min
                  if (outType == FloatType) v.toFloat else v
                }
              case _ =>
                val longs = chunkPairs.flatMap { case (cm, t) =>
                  statsOf(cm, t, col, prev).flatMap { cs =>
                    val stat = if (wantMax) cs.max else cs.min
                    if (t.numRows == 0) None
                    else stat match {
                      case Some(b) => Some(Stats.longOf(b))
                      case None =>
                        // stats exist for every accepted type unless the chunk
                        // is all-null (null partial is correct then)
                        if (cs.nullCount == t.numRows) None // all-null chunk
                        else throw new OliveFormatException(
                          s"chunk lacks $col stats for pushed aggregate")
                    }
                  }
                }
                if (longs.isEmpty) null
                else {
                  val v = if (wantMax) longs.max else longs.min
                  outType match {
                    case ByteType => v.toByte
                    case ShortType => v.toShort
                    case IntegerType | DateType => v.toInt
                    case BooleanType => v != 0L
                    case _ => v
                  }
                }
            }
          }
          val values: Array[Any] = specs.map {
            case GraftGroupCol(c) =>
              // PROVEN partition-only at push time; a name that turns out
              // to live in a file's pages refuses loudly rather than
              // silently grouping by the path value
              if (chunks.exists(_.schema.fieldNames.contains(c)))
                throw new OliveFormatException(
                  s"pushed GROUP BY column $c is stored in ${gp.file} — " +
                    "partition-only grouping cannot answer from footers here")
              gp.partValues.get(c)
                .map(org.apache.spark.unsafe.types.UTF8String.fromString)
                .orNull
            case GraftCountStar =>
              val deleted = dvDeleted.getOrElse(new Path(gp.file).toUri.getPath, 0L)
              // per-FILE cardinality: the planner keeps DV'd files whole
              // under pushed aggregates — a per-chunk slice here would
              // over-subtract once per chunk
              if (deleted > 0 && gp.chunkRange.isDefined)
                throw new OliveFormatException(
                  s"DV'd file ${gp.file} was chunk-split under pushed COUNT(*)")
              chunks.map(_.numRows.toLong).sum - deleted
            case GraftCountCol(c, prev) =>
              val base = chunkPairs.map { case (cm, t) =>
                statsOf(cm, t, c, prev) match {
                  case Some(cs) => t.numRows.toLong - cs.nullCount
                  case None if gp.partValues.contains(c) => t.numRows.toLong // path constant: never null
                  case None => 0L // pre-ADD file or schema drift: all null
                }
              }.sum
              val deleted = dvDeleted.getOrElse(new Path(gp.file).toUri.getPath, 0L)
              if (deleted == 0L) base
              else {
                // pushed under a DV only with the builder's null-freedom
                // proof; re-derive it from the AUTHORITATIVE footer before
                // subtracting. A file that predates the column has a 0
                // partial with every deleted row null — no subtraction.
                if (gp.chunkRange.isDefined)
                  throw new OliveFormatException(
                    s"DV'd file ${gp.file} was chunk-split under pushed COUNT(col)")
                val nullFreeEverywhere = chunkPairs.forall { case (cm, t) =>
                  val st = statsOf(cm, t, c, prev)
                  st.forall(_.nullCount == 0) &&
                    (st.isDefined || gp.partValues.contains(c))
                }
                val absentEverywhere = chunkPairs.forall { case (cm, t) =>
                  statsOf(cm, t, c, prev).isEmpty && !gp.partValues.contains(c)
                }
                if (absentEverywhere) 0L
                else if (nullFreeEverywhere) base - deleted
                else throw new OliveFormatException(
                  s"a null-bearing file (${gp.file}) gained a delete vector " +
                    "after COUNT(" + c + ") pushdown was planned (concurrent " +
                    "merge-on-read DELETE); re-run the query")
              }
            case GraftMinSpec(c, prev) => minMax(c, prev, wantMax = false)
            case GraftMaxSpec(c, prev) => minMax(c, prev, wantMax = true)
            case GraftSumSpec(c, integral, prev) =>
              // per-file PARTIAL sum; Spark's final agg combines files.
              // All-null (or absent: schema drift) chunks contribute
              // nothing; zero contributing chunks => null partial, the
              // SQL sum-of-no-rows
              val parts = chunkPairs.flatMap { case (cm, t) =>
                statsOf(cm, t, c, prev).flatMap { st =>
                  st.sum match {
                    case Some(b) => Some(Stats.longOf(b))
                    case None =>
                      if (t.numRows == 0 || st.nullCount == t.numRows) None
                      else throw new OliveFormatException(
                        s"chunk lacks $c sum stats for pushed aggregate")
                  }
                }
              }
              // explicit boxes: a bare if/else of Long vs Double branches
              // numeric-widens BOTH to Double and corrupts the long sums
              if (parts.isEmpty) null
              else if (integral) java.lang.Long.valueOf(parts.sum) // wraps, like Spark non-ANSI
              else java.lang.Double.valueOf(parts.map(java.lang.Double.longBitsToDouble).sum)
          }.toArray
          row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
          true
        } finally r.close()
      }
      override def get(): InternalRow = row
      override def close(): Unit = {}
    }
  }
}

class GraftReaderFactory(required: StructType, tableOpt: Option[String],
    filters: Array[Filter], limit: Int,
    conf: Broadcast[SerializableConfiguration],
    topN: Option[GraftTopN] = None,
    // merge-on-read delete vectors: data-file URI path -> DV blob path
    // (small: one entry per DV'd file; empty for never-deleted tables)
    dvMap: Map[String, String] = Map.empty,
    exact: ExactFilters = ExactFilters.Empty) extends PartitionReaderFactory {
  private def dvOf(path: Path): Option[String] = dvMap.get(path.toUri.getPath)
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("columnar-only scan")
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = partition match {
    case bp: GraftBucketedPartition =>
      // ONE skipper for the whole bucket: the concat reader drains files
      // strictly sequentially, so evidence from earlier files carries
      // into later ones and a multi-file bucket converges just as fast
      val shared = topN.filter(t => required.fieldNames.contains(t.col))
        .map(new TopNSkipper(_, required))
      new GraftConcatReader(bp.files.map { case (f, pv) => () =>
        val path = new Path(f)
        new GraftPartitionReader(path.getFileSystem(conf.value.value), path, required,
          tableOpt, filters, limit, pv, None, topN, shared, dvOf(path), exact)
      })
    case pp: GraftPackedPartition =>
      // like the bucketed case: one shared skipper, files drained
      // strictly sequentially so top-k evidence carries file to file
      val shared = topN.filter(t => required.fieldNames.contains(t.col))
        .map(new TopNSkipper(_, required))
      new GraftConcatReader(pp.files.map { case (f, pv) => () =>
        val path = new Path(f)
        new GraftPartitionReader(path.getFileSystem(conf.value.value), path, required,
          tableOpt, filters, limit, pv, None, topN, shared, dvOf(path), exact)
      })
    case _ =>
      val gp = partition.asInstanceOf[GraftInputPartition]
      val path = new Path(gp.file)
      new GraftPartitionReader(path.getFileSystem(conf.value.value), path, required, tableOpt,
        filters, limit, gp.partValues, gp.chunkRange, topN, dvPath = dvOf(path), exact = exact)
  }
}

/** Task-side top-k chunk skipping for a pushed ORDER BY col LIMIT k.
  *
  * Keeps a size-k heap of the best `col` values decoded SO FAR; a chunk
  * whose footer stat (max for DESC, min for ASC) cannot beat the current
  * k-th best — once k non-null candidates are on hand — is PROVEN to
  * contribute nothing to the final top-k Spark computes from the
  * delivered rows, and is skipped without touching its pages. Sound by
  * construction: skipping requires evidence, over-delivery is always
  * safe (partial pushdown — Spark re-sorts and re-limits), and ties at
  * the threshold are interchangeable. Nulls: under NULLS LAST the top-k
  * is all non-null once k non-nulls exist (skip freely); under NULLS
  * FIRST a null-holding chunk is never skipped (its nulls outrank every
  * value). Types are the stat-exact set, compared in their long domain. */
class TopNSkipper(spec: GraftTopN, required: StructType) {
  private val colIdx = required.fieldIndex(spec.col)
  private val dt = required.fields(colIdx).dataType
  private val floatish = dt == FloatType || dt == DoubleType
  // decimal top-k compares unscaled longs AT THE QUERY SCALE (p<=18
  // gated at push time, so every actual value's unscaled form fits
  // i64; pre-widen chunk bounds rescale exactly or decline the skip)
  private val decimalScale: Option[Int] = dt match {
    case d: org.apache.spark.sql.types.DecimalType if d.precision <= 18 => Some(d.scale)
    case _ => None
  }
  // size-k heap of the best values so far: a MIN-heap for DESC (root =
  // current k-th largest), MAX-heap for ASC (root = current k-th smallest)
  private val heap = new java.util.PriorityQueue[java.lang.Long](spec.k,
    if (spec.desc) java.util.Comparator.naturalOrder[java.lang.Long]()
    else java.util.Comparator.reverseOrder[java.lang.Long]())

  /** IEEE double -> signed long whose natural order IS the value order
    * Spark sorts by: positives keep their bits, negatives flip their
    * magnitude bits, NaN canonicalizes above +Inf (Spark orders NaN
    * largest), -0.0 lands just under +0.0 (Double.compare order —
    * indistinguishable in a top-k since the values compare equal). */
  private def sortable(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }

  private def longAt(v: org.apache.spark.sql.vectorized.ColumnVector, i: Int): Long = dt match {
    case ByteType => v.getByte(i).toLong
    case ShortType => v.getShort(i).toLong
    case IntegerType | DateType => v.getInt(i).toLong
    case BooleanType => if (v.getBoolean(i)) 1L else 0L
    case FloatType => sortable(v.getFloat(i).toDouble)
    case DoubleType => sortable(v.getDouble(i))
    case d: org.apache.spark.sql.types.DecimalType =>
      // the decoded batch is already promoted to the QUERY type, so the
      // unscaled long is directly comparable with rescaled chunk bounds
      v.getDecimal(i, d.precision, d.scale).toUnscaledLong
    case _ => v.getLong(i) // Long, Timestamp[NTZ]
  }

  /** One stat value in the heap's comparison domain. Float/double stats
    * hold f64 bytes and cover the NON-NaN values only: under DESC a
    * NaN-bearing chunk's effective max IS NaN (the largest value Spark
    * would sort first), so the stored max must not license a skip. */
  private def statIn(st: graft.format.ColStats, wantMax: Boolean,
      chunkDt: DataType): Option[Long] =
    if (floatish) {
      if (wantMax && st.nanCount > 0) Some(sortable(Double.NaN))
      else (if (wantMax) st.max else st.min).map(b => sortable(Stats.doubleOf(b)))
    } else decimalScale match {
      case Some(qScale) =>
        // chunk bounds are unscaled at the FILE's scale; rescale to the
        // query scale exactly, or decline the skip (None) when the form
        // is unreadable or the exact rescale would overflow — a missed
        // skip is always safe, a wrong one never is
        val chunkScale = chunkDt match {
          case d: org.apache.spark.sql.types.DecimalType if d.precision <= 18 => d.scale
          case _ => return None
        }
        (if (wantMax) st.max else st.min).filter(_.length == 8).flatMap { b =>
          val u = Stats.longOf(b)
          if (qScale == chunkScale) Some(u)
          else if (qScale < chunkScale) None // scale narrowing: not servable
          else try Some(math.multiplyExact(u,
            java.math.BigInteger.TEN.pow(qScale - chunkScale).longValueExact()))
          catch { case _: ArithmeticException => None }
        }
      case None => (if (wantMax) st.max else st.min).map(Stats.longOf)
    }

  def observe(batch: ColumnarBatch): Unit = {
    val v = batch.column(colIdx)
    var i = 0
    val n = batch.numRows()
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = longAt(v, i)
        if (heap.size < spec.k) heap.add(x)
        else if (spec.desc && x > heap.peek()) { heap.poll(); heap.add(x) }
        else if (!spec.desc && x < heap.peek()) { heap.poll(); heap.add(x) }
      }
      i += 1
    }
  }

  /** Visit best-stat-first so the threshold tightens immediately; chunks
    * without the stat (all-null, absent column) go last. */
  def visitOrder(t: Meta.TableMeta): Long = statOf(t) match {
    case Some(s) => if (spec.desc) -s else s
    case None => Long.MaxValue
  }

  /** The chunk's spelling of the sort column, resolved through the
    * rename chain — pre-rename files keep their stats consultable. */
  private def fieldIdx(t: Meta.TableMeta): Int =
    (spec.col +: spec.prevNames).iterator
      .map(n => t.schema.fieldNames.indexOf(n)).find(_ >= 0).getOrElse(-1)

  private def statOf(t: Meta.TableMeta): Option[Long] = {
    val idx = fieldIdx(t)
    if (idx < 0) None
    else statIn(t.stats(idx), wantMax = spec.desc, t.schema.fields(idx).dataType)
  }

  def canSkip(t: Meta.TableMeta): Boolean = {
    if (heap.size < spec.k) return false
    val idx = fieldIdx(t)
    if (idx < 0) return spec.nullsFirst == false // absent column = all null
    val st = t.stats(idx)
    if (spec.nullsFirst && st.nullCount > 0) return false // nulls outrank values
    statOf(t) match {
      // strict (multi-key) sorts keep tie-carrying chunks: a chunk whose
      // bound EQUALS the k-th leading value may still win on a tiebreak
      case Some(s) =>
        if (spec.desc) { if (spec.strict) s < heap.peek() else s <= heap.peek() }
        else { if (spec.strict) s > heap.peek() else s >= heap.peek() }
      case None => !spec.nullsFirst && st.nullCount == t.numRows // all-null chunk
    }
  }

  // ---- zone-map (block) granularity: same proofs, 8Ki-row resolution ----

  private def blockStat(t: Meta.TableMeta, bi: Int): Option[(graft.format.ColStats, Option[Long])] = {
    val idx = fieldIdx(t)
    if (idx < 0 || bi >= t.blockStats.size) None
    else {
      val st = t.blockStats(bi)(idx)
      Some((st, statIn(st, wantMax = spec.desc, t.schema.fields(idx).dataType)))
    }
  }

  /** Best-first visit order WITHIN a kept chunk: the top block fills the
    * heap with the chunk's best values immediately, so its sibling
    * blocks skip instead of being decoded on the way up. */
  def blockVisitOrder(t: Meta.TableMeta, bi: Int): Long = blockStat(t, bi) match {
    case Some((_, Some(s))) => if (spec.desc) -s else s
    case _ => Long.MaxValue
  }

  def canSkipBlock(t: Meta.TableMeta, bi: Int, rows: Int): Boolean = {
    if (heap.size < spec.k) return false
    blockStat(t, bi) match {
      case Some((st, statOpt)) =>
        if (spec.nullsFirst && st.nullCount > 0) return false
        statOpt match {
          case Some(s) =>
            if (spec.desc) { if (spec.strict) s < heap.peek() else s <= heap.peek() }
            else { if (spec.strict) s > heap.peek() else s >= heap.peek() }
          case None => !spec.nullsFirst && st.nullCount == rows // all-null block
        }
      case None => false
    }
  }
}

/** Chains one bucket's per-file readers into a single partition stream;
  * files open lazily, one at a time, so a many-file bucket holds one
  * open reader's memory. Skip/decode metrics accumulate across files. */
class GraftConcatReader(mk: Seq[() => GraftPartitionReader])
    extends PartitionReader[ColumnarBatch] {
  private val it = mk.iterator
  private var cur: GraftPartitionReader = null
  private val closedTotals = scala.collection.mutable.Map.empty[String, Long]

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = it.next()()
      }
      if (cur.next()) return true
      cur.currentMetricsValues().foreach(m =>
        closedTotals(m.name) = closedTotals.getOrElse(m.name, 0L) + m.value)
      cur.close(); cur = null
    }
    false // unreachable
  }
  override def get(): ColumnarBatch = cur.get()
  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    val live = if (cur == null) Map.empty[String, Long]
      else cur.currentMetricsValues().map(m => m.name -> m.value).toMap
    (closedTotals.keySet ++ live.keySet).toArray.map { k =>
      val total = closedTotals.getOrElse(k, 0L) + live.getOrElse(k, 0L)
      new CustomTaskMetric { def name = k; def value = total }
    }
  }
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Emits one ColumnarBatch per (chunk, table) — chunk size is the batch
  * size, bounded by the writer's flush thresholds. Chunks whose footer
  * stats contradict a pushed filter are skipped without touching their
  * pages; `exact` filters then keep only the matching rows of what is
  * left; a pushed limit stops decoding once satisfied. */
class GraftPartitionReader(fs: FileSystem, path: Path, required: StructType,
    tableOpt: Option[String], filters: Array[Filter], limit: Int,
    partValues: Map[String, String] = Map.empty,
    chunkRange: Option[(Int, Int)] = None,
    topN: Option[GraftTopN] = None,
    sharedSkipper: Option[TopNSkipper] = None,
    dvPath: Option[String] = None,
    exact: ExactFilters = ExactFilters.Empty)
    extends PartitionReader[ColumnarBatch] {
  private val reader = GraftFileReader.open(fs, path)
  private var skipped = 0L
  private var decoded = 0L
  private var skippedBlocks = 0L
  private val topNSkip: Option[TopNSkipper] = sharedSkipper.orElse(
    topN.filter(t => required.fieldNames.contains(t.col)).map(new TopNSkipper(_, required)))
  private val tableName: String = tableOpt.getOrElse {
    val names = reader.tableNames
    if (names.size == 1) names.head
    else throw new IllegalArgumentException(
      s"file holds tables ${names.mkString(",")}; pass .option(\"table\", ...)")
  }
  /** Per-footer-chunk global row base of THIS table (prefix sums over
    * chunk row counts, footer order) — the coordinate `_pos` and the
    * delete vector speak. Chunks not holding the table get -1. */
  private lazy val chunkBases: Array[Long] = {
    val out = new Array[Long](reader.footer.chunks.size)
    var base = 0L
    var i = 0
    reader.footer.chunks.foreach { c =>
      c.tables.find(_.name == tableName) match {
        case Some(t) => out(i) = base; base += t.numRows
        case None => out(i) = -1L
      }
      i += 1
    }
    out
  }
  /** Deleted row positions of this file's table (merge-on-read DELETE
    * sidecar), validated against the file's row count BEFORE use — a
    * corrupt DV refuses loudly, never drops or resurrects rows. None
    * when the file has no live DV (the common case: zero overhead). */
  private val deleted: Option[Array[Long]] = dvPath.map { p =>
    // multiple ranges of one chunk re-touch the same pages — cache the
    // decompressed pages (and chunk-global dicts) for the reader's life
    reader.enablePageCache()
    val dp = new Path(p)
    val dfs = dp.getFileSystem(fs.getConf)
    val totalRows = chunkBases.lastIndexWhere(_ >= 0) match {
      case -1 => 0L
      case i => chunkBases(i) +
        reader.footer.chunks(i).tables.find(_.name == tableName).map(_.numRows.toLong).getOrElse(0L)
    }
    // process-wide decoded cache: every chunk-split task of this file
    // shares one decode instead of re-reading the blob per task
    DvCache.get(dfs, dp, totalRows)
  }
  private val pending: Iterator[(Meta.ChunkMeta, Meta.TableMeta, Int, Int, Long)] = {
    val chunks = chunkRange match {
      case Some((lo, hi)) => reader.footer.chunks.slice(lo, hi).iterator
        .zipWithIndex.map { case (c, j) => (c, lo + j) }
      case None => reader.footer.chunks.iterator.zipWithIndex
    }
    val cts = chunks.flatMap { case (c, ci) =>
      c.tables.filter(_.name == tableName).map(t => (c, t, chunkBases(ci)))
    }
    // pushed top-k: visit chunks best-stat-first so the k-th-value
    // threshold tightens as early as possible — on time-clustered data
    // the first chunk usually closes the door on all the others. The
    // dynamic skip check runs at PULL time (after earlier chunks'
    // values were observed), which the sequential iterator guarantees.
    val ordered = topNSkip match {
      case Some(ts) => cts.toSeq.sortBy { case (_, t, _) => ts.visitOrder(t) }.iterator
      case None => cts
    }
    ordered
      .filterNot { case (_, t, _) =>
        val skip = skippable(t) || topNSkip.exists(_.canSkip(t))
        if (skip) skipped += 1
        skip
      }
      .flatMap { case (c, t, base) =>
        val ranges = topNSkip match {
          case Some(ts) => topNRanges(t, ts)
          case None => keepRanges(t).iterator
        }
        // merge-on-read deletes are applied at DECODE time (next()):
        // the range decodes whole and survivors read through an ordinal
        // remap. Shredding the range into per-survivor-run sub-ranges
        // here cost one batch per run — a scattered 1-in-7 DV turned a
        // 128Ki-row chunk into ~18k six-row batches (r16 sf1: 16x)
        ranges.map { case (r0, r1) => (c, t, r0, r1, base) }
      }
  }

  /** Top-k block ranges for a KEPT chunk: single-block ranges visited
    * best-stat-first, each re-checked against the (by then tighter)
    * k-th-value threshold at pull time — on clustered data the first
    * 8Ki-row block usually closes out the rest of the chunk. Lazy by
    * construction: the skip test for block i+1 runs AFTER block i's
    * values were observed. */
  private def topNRanges(t: Meta.TableMeta, ts: TopNSkipper): Iterator[(Int, Int)] = {
    val nb = t.blockStats.size
    if (nb <= 1) Iterator((0, t.numRows))
    else (0 until nb).sortBy(ts.blockVisitOrder(t, _)).iterator
      .filterNot { bi =>
        val r1 = math.min((bi + 1) * Meta.BlockRows, t.numRows)
        val skip = ts.canSkipBlock(t, bi, r1 - bi * Meta.BlockRows)
        if (skip) skippedBlocks += 1
        skip
      }
      .map(bi => (bi * Meta.BlockRows, math.min((bi + 1) * Meta.BlockRows, t.numRows)))
  }
  private var current: ColumnarBatch = null
  private var emitted = 0L

  /** Pushed filters in THIS FILE's name space: attributes name columns
    * by their CURRENT spellings, but a pre-rename file records stats
    * (and blooms, and block stats) under the old spelling — translating
    * once per reader through the rename chains keeps pruning alive
    * across DDL instead of silently degrading to full scans until the
    * next rewrite heals the names. Declared columns the file PREDATES
    * (`absentCols`) read as all-null there, which proves a skip for any
    * null-never-matches shape — partition and `_file` metadata columns
    * are excluded (their values come from the path, not the file). */
  private lazy val (fileFilters: Array[Filter], absentCols: Set[String]) = {
    if (filters.isEmpty) (filters, Set.empty[String])
    else {
      // same table-name resolution as the chunk iterator below: the
      // explicit option, or the single table a one-table file holds
      val name = tableOpt.orElse(
        Some(reader.tableNames).collect { case Seq(one) => one })
      name.flatMap(n => reader.footer.chunks.iterator
        .flatMap(_.tables.find(_.name == n)).nextOption()) match {
        case Some(t) =>
          val (fs2, abs) = graft.format.Evolution.translateFilters(
            filters, required, t.schema)
          (fs2, abs -- partValues.keySet - GraftDataSource.FileColName -
            GraftDataSource.PosColName)
        case None => (filters, Set.empty[String])
      }
    }
  }

  /** Zone maps + blooms, via the shared [[Stats.canSkipChunk]] (also the
    * driver-side DML candidate-file selection) — plus absence: a column
    * this file predates is all-null here, so a comparison on it proves
    * the whole chunk skips. */
  private def skippable(t: Meta.TableMeta): Boolean =
    filters.nonEmpty && fileFilters.exists(f =>
      Stats.canSkipAbsent(f, absentCols) || Stats.canSkipChunk(f, t))

  /** Zone maps: contiguous row ranges whose BLOCK stats survive the
    * pushed filters — a kept chunk with clustered data decodes the
    * matching ~8Ki-row blocks, not all 128Ki rows. Spark re-applies the
    * residual filters, so keeping too much is only wasted work, never
    * wrong; skipped blocks are PROVEN to hold no matching row. */
  private def keepRanges(t: Meta.TableMeta): Seq[(Int, Int)] = {
    val nb = t.blockStats.size
    if (filters.isEmpty || nb <= 1) return Seq((0, t.numRows))
    val out = Seq.newBuilder[(Int, Int)]
    var runStart = -1
    var i = 0
    while (i < nb) {
      val r0 = i * Meta.BlockRows
      val r1 = math.min(r0 + Meta.BlockRows, t.numRows)
      val statsMap = t.schema.fieldNames.zip(t.blockStats(i)).toMap ++
        (if (i < t.blockNestedStats.size) t.blockNestedStats(i) else Map.empty)
      val keep = !fileFilters.exists(f => Stats.canSkip(f, t.schema, statsMap, r1 - r0))
      if (keep && runStart < 0) runStart = r0
      else if (!keep) {
        skippedBlocks += 1
        if (runStart >= 0) { out += ((runStart, r0)); runStart = -1 }
      }
      i += 1
    }
    if (runStart >= 0) out += ((runStart, t.numRows))
    out.result()
  }

  override def next(): Boolean = {
    if (current != null) { current.close(); current = null }
    while (current == null && pending.hasNext && !(limit >= 0 && emitted >= limit)) {
      val (chunk, table, r0, r1, base) = pending.next()
      // page-level limit: when the remaining limit is inside this range,
      // decode only the pages covering the prefix instead of the range
      // (counted in delivered rows, so never before the exact filters)
      val remaining = if (limit >= 0) limit - emitted else Long.MaxValue
      if (exact.nonEmpty) current = decodeExact(chunk, table, r0, r1, base, remaining)
      else deleted match {
        case None =>
          val end = if (remaining < r1 - r0) r0 + remaining.toInt else r1
          current = decodeWithPartitions(chunk, table, r0, end, base, None)
        case Some(dels) =>
          val remap = survivorMap(dels, base, r0, r1, remaining)
          if (remap.length == 0) () // range fully deleted: no page touched
          else if (remap.length == r1 - r0)
            current = decodeWithPartitions(chunk, table, r0, r1, base, None)
          else
            current = decodeWithPartitions(chunk, table, r0, r1, base, Some(remap))
      }
    }
    if (current == null) false
    else {
      emitted += current.numRows()
      decoded += 1
      topNSkip.foreach(_.observe(current))
      true
    }
  }

  /** Surviving ordinals (RELATIVE to r0, ascending) of rows [r0, r1)
    * under the file's deleted positions (global, strictly increasing),
    * truncated to `remaining` entries for a pushed limit. */
  private def survivorMap(dels: Array[Long], base: Long, r0: Int, r1: Int,
      remaining: Long): Array[Int] = {
    import java.util.Arrays.binarySearch
    var lo = binarySearch(dels, base + r0); if (lo < 0) lo = -lo - 1
    var hi = binarySearch(dels, base + r1); if (hi < 0) hi = -hi - 1
    val nLive = (r1 - r0) - (hi - lo)
    val n = math.min(nLive.toLong, remaining).toInt
    val out = new Array[Int](n)
    var k = 0; var i = r0; var j = lo
    while (k < n) {
      if (j < hi && dels(j) == base + i) j += 1
      else { out(k) = i - r0; k += 1 }
      i += 1
    }
    out
  }

  /** Rows [r0, r1) under the exact filters: decode the filtered columns
    * over the range's live span, keep the rows that pass — composed with
    * the delete-vector survivors, so `_pos` keeps physical slots — and
    * trim to the limit's remainder. Nothing else is decoded when no row
    * passes; otherwise the other columns decode over the survivors' span
    * only ([[decodeWithPartitions]]). Null when no row survives. */
  private def decodeExact(chunk: Meta.ChunkMeta, table: Meta.TableMeta,
      r0: Int, r1: Int, base: Long, remaining: Long): ColumnarBatch = {
    val live = deleted match {
      case None => Array.range(0, r1 - r0)
      case Some(dels) => survivorMap(dels, base, r0, r1, Long.MaxValue)
    }
    if (live.isEmpty) return null
    val keyCols = reader.decodeTableRange(chunk, table, exact.schema,
      r0, r0 + live(live.length - 1) + 1)
    val passed = exact.survivors(keyCols, live)
    val kept = if (passed.length > remaining) passed.take(remaining.toInt) else passed
    // filtered columns the query also reads are served from this decode
    val reused = if (kept.isEmpty) Map.empty[String, ColumnVector]
      else exact.schema.fieldNames.zipWithIndex.collect {
        case (n, i) if required.fieldNames.contains(n) => n -> keyCols.column(i)
      }.toMap
    exact.schema.fieldNames.zipWithIndex.foreach { case (n, i) =>
      if (!reused.contains(n)) keyCols.column(i).close()
    }
    if (kept.isEmpty) null
    else decodeWithPartitions(chunk, table, r0, r1, base, Some(kept), reused)
  }

  /** Decode rows [r0, end), or under `remap` (survivor ordinals relative
    * to r0) only the survivors' span; partition-path columns become
    * constant vectors from the file's `k=v` values. `decoded` holds
    * columns already decoded from r0 (the exact filters' columns). */
  private def decodeWithPartitions(chunk: Meta.ChunkMeta, table: Meta.TableMeta,
      r0: Int, end: Int, base: Long, remap: Option[Array[Int]],
      decoded: Map[String, ColumnVector] = Map.empty): ColumnarBatch = {
    // under a remap the physical decode spans the first to the LAST
    // survivor (a pushed limit already truncated the map); survivors
    // filling that span need no remap at all
    val lo = remap.map(m => r0 + m(0)).getOrElse(r0)
    val hi = remap.map(m => r0 + m(m.length - 1) + 1).getOrElse(end)
    val spanMap: Option[Array[Int]] = remap.filter(_.length != hi - lo)
      .map(m => if (m(0) == 0) m else m.map(_ - m(0)))
    def wrapCol(v: ColumnVector, m: Option[Array[Int]]): ColumnVector = m match {
      case None => v
      case Some(mm) => new RemappedColumnVector(v, mm)
    }
    def wrap(b: ColumnarBatch): ColumnarBatch = spanMap match {
      case None => b
      case Some(m) =>
        new ColumnarBatch(Array.tabulate(b.numCols)(i => wrapCol(b.column(i), spanMap)), m.length)
    }
    def decode(req: StructType): ColumnarBatch =
      reader.decodeTableRange(chunk, table, req, lo, hi)
    // `_file` (metadata column) and partition-path columns both become
    // constant vectors, and `_pos` a generated base+ordinal long vector
    // (every batch is a CONTIGUOUS chunk range, so positions are an
    // arithmetic sequence) — no per-row storage or decode cost. A REAL
    // data column with either name wins (Spark likewise hides the
    // metadata column on conflict): stored values must never be hijacked
    def isGenCol(name: String): Boolean =
      !table.schema.fieldNames.contains(name) &&
        (name == GraftDataSource.FileColName || name == GraftDataSource.PosColName ||
          partValues.contains(name))
    def constValue(name: String): String =
      if (name == GraftDataSource.FileColName) path.toString else partValues(name)
    if (decoded.isEmpty && !required.fields.exists(f => isGenCol(f.name)))
      wrap(decode(required))
    else {
      val dataReq = StructType(required.fields.filterNot(f =>
        isGenCol(f.name) || decoded.contains(f.name)))
      val dataBatch = decode(dataReq)
      val n = remap.map(_.length).getOrElse(dataBatch.numRows())
      var dataIdx = 0
      val vectors = required.fields.map { f =>
        if (isGenCol(f.name) && f.name == GraftDataSource.PosColName) {
          if (f.dataType != org.apache.spark.sql.types.LongType)
            throw new IllegalArgumentException(
              s"metadata column _pos must be long-typed (got ${f.dataType})")
          val vec = new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector(
            math.max(n, 1), f.dataType)
          // a remapped batch's positions are the SURVIVORS' ordinals —
          // `_pos` must name each row's physical slot (DV coordinates)
          remap match {
            case Some(m) =>
              var i = 0
              while (i < n) { vec.putLong(i, base + r0 + m(i)); i += 1 }
            case None =>
              var i = 0
              while (i < n) { vec.putLong(i, base + r0 + i); i += 1 }
          }
          vec: org.apache.spark.sql.vectorized.ColumnVector
        } else if (isGenCol(f.name)) {
          if (f.dataType != StringType)
            throw new IllegalArgumentException(
              s"partition column ${f.name} must be string-typed in the schema " +
                s"(got ${f.dataType}); cast after reading")
          val vec = new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector(
            math.max(n, 1), f.dataType)
          val bytes = org.apache.spark.unsafe.types.UTF8String
            .fromString(constValue(f.name)).getBytes
          var i = 0
          while (i < n) { vec.putByteArray(i, bytes, 0, bytes.length); i += 1 }
          vec: org.apache.spark.sql.vectorized.ColumnVector
        } else if (decoded.contains(f.name)) wrapCol(decoded(f.name), remap)
        else {
          val v = dataBatch.column(dataIdx); dataIdx += 1
          wrapCol(v, spanMap)
        }
      }
      new ColumnarBatch(vectors, n)
    }
  }
  override def get(): ColumnarBatch = current

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    new CustomTaskMetric { def name = "skippedChunks"; def value = skipped },
    new CustomTaskMetric { def name = "decodedChunks"; def value = decoded },
    new CustomTaskMetric { def name = "skippedBlocks"; def value = skippedBlocks },
    new CustomTaskMetric { def name = "pagesRead"; def value = reader.pagesRead })
  override def close(): Unit = {
    if (current != null) { current.close(); current = null }
    reader.close()
  }
}

// ---- write path -----------------------------------------------------------

class GraftWriteBuilder(dir: String, info: LogicalWriteInfo,
    options: CaseInsensitiveStringMap, partCols: Seq[String] = Seq.empty)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    private def bloomCols = {
      val cols = Option(options.get("bloom"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      // validate HERE so the streaming path (which skips GraftBatchWrite's
      // checks) rejects typo'd columns too instead of silently writing
      // bloom-less files
      cols.foreach { c =>
        if (!info.schema().fieldNames.contains(c))
          throw new IllegalArgumentException(
            s"bloom column $c not in schema ${info.schema().fieldNames.mkString(",")}")
      }
      cols
    }
    private def batchWrite = new GraftBatchWrite(dir, info.schema(), doTruncate,
      Option(options.get("table")).getOrElse("data"),
      GraftDataSource.positiveIntOption(options, "pagesize", GraftFileWriter.DefaultPageSize),
      Option(options.get("bias")).getOrElse("balanced"),
      GraftDataSource.positiveIntOption(options, "chunkrows", GraftBatchWrite.DefaultChunkRows),
      partCols, bloomCols,
      Option(options.get("tables"))
        .map(GraftDataSource.parseTableSplits(_, info.schema())),
      Option(options.get("bucketby")).map(GraftBucket.parseSpec),
      Option(options.get("sortby")).map(_.trim).filter(_.nonEmpty))
    override def toBatch: BatchWrite = batchWrite
    // Streaming sink: file names are DETERMINISTIC per (epoch, partition)
    // and commit renames with overwrite, so a retried epoch replaces its
    // own files instead of appending duplicates — exactly-once output for
    // a stable partition count, and a crashed task's partial file is
    // never reader-visible (scan lists *.graft only; tmp names differ).
    override def toStreaming: StreamingWrite = streamingWrite
    private object streamingWrite extends StreamingWrite {
      @volatile private var epochDataDir: String = dir
      override def createStreamingWriterFactory(pinfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
        require(options.get("bucketby") == null,
          "bucketBy is batch-only: a micro-batch writes too few rows per " +
            "bucket file; bucket with a batch compaction pass instead")
        batchWrite.createBatchWriterFactory(pinfo) // dir setup / truncate
        epochDataDir = GraftDataSource.resolveDataDir(GraftDataSource.sessionConf(), dir)
        new GraftStreamingWriterFactory(
          epochDataDir, info.schema(),
          Option(options.get("table")).getOrElse("data"),
          GraftDataSource.positiveIntOption(options, "pagesize", GraftFileWriter.DefaultPageSize),
          Option(options.get("bias")).getOrElse("balanced"),
          GraftDataSource.positiveIntOption(options, "chunkrows", GraftBatchWrite.DefaultChunkRows),
          partCols, GraftDataSource.broadcastConf(), bloomCols,
          Option(options.get("tables"))
            .map(GraftDataSource.parseTableSplits(_, info.schema())),
          sketchCols = GraftDataSource.readColStats(GraftDataSource.sessionConf(),
            dir, Option(options.get("table")).getOrElse("data")).toSeq
            .flatMap(_.cols.collect { case (n, c) if c.sketch.isDefined => n }))
      }
      /** Every epoch gets the appender's race guard: the data dir was
        * pinned at query start, and a compaction swinging the pointer
        * mid-stream would otherwise strand every later epoch's files in
        * the superseded generation — invisible rows from a sink that
        * committed successfully. */
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
        val c = GraftDataSource.sessionConf()
        GraftDataSource.ensureAppendVisibility(c, dir, epochDataDir, messages)
        // stats maintenance, FULLY retry-safe: the epoch id keys the
        // merge against the sidecar's high-water mark, so a replayed
        // epoch (same id, same deterministic data) applies nothing —
        // rows and null counts stay EXACT across streaming ingest
        // instead of extrapolating
        GraftDataSource.mergeAppendStats(c, dir,
          Option(options.get("table")).getOrElse("data"), messages,
          epochKey = Some((info.queryId(), epochId)))
      }
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {}
    }
  }
}

class GraftStreamingWriterFactory(dir: String, schema: StructType, table: String,
    pageSize: Int, bias: String, chunkRows: Int, partCols: Seq[String],
    conf: Broadcast[SerializableConfiguration],
    bloomCols: Seq[String] = Seq.empty,
    tableSplits: Option[Seq[(String, Seq[Int])]] = None,
    sketchCols: Seq[String] = Seq.empty) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    val name = Some(f"epoch-$epochId%08d-part-$partitionId%05d.graft")
    if (partCols.isEmpty)
      new GraftDataWriter(dir, schema, table, pageSize, bias, chunkRows,
        conf.value.value, partitionId, taskId, fixedName = name, bloomCols = bloomCols,
        tableSplits = tableSplits, sketchCols = sketchCols)
    else
      // streaming ingest straight into the hive layout the scan prunes;
      // names stay deterministic per (epoch, partition) within each k=v
      // dir, so epoch retries overwrite there too
      new GraftPartitionedDataWriter(dir, schema, table, pageSize, bias, chunkRows,
        partCols, conf.value.value, partitionId, taskId, fixedName = name,
        bloomCols = bloomCols, sketchCols = sketchCols.filterNot(partCols.contains))
  }
}

object GraftBatchWrite {
  /** 128 Ki rows per chunk: big enough to amortize page/dict overhead,
    * small enough that a decoded chunk (the read-side batch) stays well
    * inside executor memory at wide schemas. */
  val DefaultChunkRows: Int = 1 << 17
}

class GraftBatchWrite(dir: String, schema: StructType, truncate: Boolean,
    table: String, pageSize: Int, bias: String, chunkRows: Int,
    partCols: Seq[String] = Seq.empty,
    bloomCols: Seq[String] = Seq.empty,
    tableSplits: Option[Seq[(String, Seq[Int])]] = None,
    bucketSpec: Option[(String, Int)] = None,
    sortCol: Option[String] = None) extends BatchWrite {

  partCols.foreach { c =>
    if (!schema.fieldNames.contains(c))
      throw new IllegalArgumentException(s"partition column $c not in schema ${schema.fieldNames.mkString(",")}")
  }
  if (tableSplits.isDefined && partCols.nonEmpty)
    throw new IllegalArgumentException(
      "tables and partitionBy cannot combine; partition the namespace dir instead")
  bucketSpec.foreach { case (col, _) =>
    if (partCols.nonEmpty || tableSplits.isDefined)
      throw new IllegalArgumentException(
        "bucketBy cannot combine with partitionBy or tables: the key-grouped " +
          "claim requires the table to own its directory outright")
    val f = schema.fields.find(_.name == col).getOrElse(
      throw new IllegalArgumentException(
        s"bucket column $col not in schema ${schema.fieldNames.mkString(",")}"))
    if (!GraftBucket.supported(f.dataType))
      throw new IllegalArgumentException(
        s"bucketBy unsupported for ${f.dataType.simpleString} column $col")
  }
  sortCol.foreach { c =>
    if (bucketSpec.isEmpty)
      throw new IllegalArgumentException("sortBy requires bucketBy (sorted bucket files)")
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"sort column $c not in schema ${schema.fieldNames.mkString(",")}"))
    val sortable = f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
          StringType | DateType | TimestampType | TimestampNTZType | BooleanType => true
      case _: DecimalType => true
      case _ => false
    }
    if (!sortable)
      throw new IllegalArgumentException(
        s"sortBy unsupported for ${f.dataType.simpleString} column $c")
  }
  bloomCols.foreach { c =>
    if (!schema.fieldNames.contains(c))
      throw new IllegalArgumentException(s"bloom column $c not in schema ${schema.fieldNames.mkString(",")}")
  }
  if (partCols.nonEmpty && partCols.size >= schema.size)
    throw new IllegalArgumentException("cannot partition by every column")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = GraftDataSource.sessionConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (truncate && fs.exists(p)) {
      // overwrite resets a compacted table to the plain layout: drop the
      // generation pointer and every generation dir along with loose files
      val ptr = new Path(p, GraftDataSource.GenPointerName)
      if (fs.exists(ptr)) {
        // pointer FIRST: a crash mid-reset then leaves un-pointed gen dirs
        // (dead but harmless — listing ignores them), never a dangling
        // pointer that would make resolveDataDir fail every later read
        fs.delete(ptr, false)
        fs.listStatus(p)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-"))
          .foreach(s => fs.delete(s.getPath, true))
      }
      GraftDataSource.listFiles(conf, dir).foreach(f => fs.delete(f, false))
      // also sweep tmp orphans left by crashed task attempts (root and
      // hive-style partition dirs)
      def sweep(d: Path): Unit = fs.listStatus(d).foreach { s =>
        val n = s.getPath.getName
        if (s.isFile && n.startsWith(".") && n.endsWith(".tmp")) fs.delete(s.getPath, false)
        else if (s.isDirectory && n.contains("=")) sweep(s.getPath)
      }
      sweep(p)
    }
    // appends land in the live generation, so a compacted table keeps
    // accepting writes through the same path
    val dataDir = GraftDataSource.resolveDataDir(conf, dir)
    resolvedDataDir = dataDir
    fs.mkdirs(new Path(dataDir))
    // spec marker BEFORE tasks run: readers racing the write see marker +
    // zero matching files (inactive claim), never tagged files sans spec
    bucketSpec.foreach { case (col, n) =>
      GraftDataSource.writeBucketMarker(conf, dataDir, table, col, n, sortCol)
    }
    // an UNBUCKETED overwrite deliberately resets the layout: a stale
    // marker would make the next compaction/DML rewrite re-bucket the
    // table (or fail outright if the bucket column left the schema)
    if (bucketSpec.isEmpty && truncate) {
      val stale = GraftDataSource.bucketMarkerPath(dataDir, table)
      if (fs.exists(stale)) fs.delete(stale, false)
    }
    // stats lifecycle at the write boundary. Overwrite REPLACES the
    // data outright — a surviving ANALYZE sidecar would keep describing
    // rows that no longer exist, so drop them all. An append instead
    // picks up the sidecar's sketch-tracked columns: writer tasks
    // maintain per-column HLL deltas over the rows they write and
    // commit() below unions them in, keeping NDV fresh forever without
    // ever re-scanning (rows extrapolate; NDV can't).
    val sketchCols: Seq[String] =
      if (truncate) {
        try fs.listStatus(p).map(_.getPath)
          .filter(q => (q.getName.startsWith(".colstats_") && q.getName.endsWith(".json")) ||
            // append-stats sidecars describe the REPLACED data — a
            // survivor could prune files of the new table by the old
            // table's bounds if a name ever collided; drop them all
            q.getName.startsWith(GraftDataSource.AppendStatsPrefix))
          .foreach(q => fs.delete(q, false))
        catch { case _: Exception => }
        Seq.empty
      } else if (tableSplits.isDefined) Seq.empty // multi-table fan-out: per-split sidecars unsupported
      else GraftDataSource.readColStats(conf, dir, table).toSeq.flatMap(
        _.cols.collect { case (n, c) if c.sketch.isDefined => n })
    new GraftWriterFactory(dataDir, schema, table, pageSize, bias, chunkRows,
      partCols, GraftDataSource.broadcastConf(conf), bloomCols, tableSplits,
      bucketSpec, sortCol, sketchCols)
  }
  @volatile private var resolvedDataDir: String = dir

  /** One commit for every write. A non-truncating write first runs the
    * append-vs-rewrite race guard, the appender's half (the rewrite's
    * half is the publish-time late-append fold in
    * [[Generations.publishStaging]]): if the generation pointer moved
    * while this append was writing, its files may sit in a superseded
    * generation the new manifest never saw. The two halves meet at the
    * pointer swap: a file visible before it is folded by the
    * publisher's re-list; one visible after it observes the moved
    * pointer here. The common case costs exactly one pointer read. It
    * then merges the tasks' sketch deltas into the ANALYZE sidecar. An
    * overwrite rebuilt the table root outright and does neither.
    *
    * Every write then records its tasks' footer stats in one stats
    * sidecar in its data dir (see [[GraftDataSource.AppendStatsPrefix]]),
    * rels relative to `dir`. Re-homed files (pointer moved mid-write)
    * keep their pre-move paths there — their entries just never match a
    * listed file, which costs pruning, never correctness. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = GraftDataSource.sessionConf()
    if (!truncate) {
      GraftDataSource.ensureAppendVisibility(conf, dir, resolvedDataDir, messages)
      GraftDataSource.mergeAppendStats(conf, dir, table, messages)
    }
    val root = new Path(dir)
    GraftDataSource.writeAppendStats(conf, new Path(resolvedDataDir),
      messages.iterator.collect { case m: GraftCommitMessage => m.statsJson }
        .flatten.map { case (abs, (sz, js)) =>
          (GraftDataSource.relativePath(root, new Path(abs)), sz, js)
        }.toSeq)
  }

  /** A failed job deletes the files its committed tasks already renamed
    * into the data dir, which their commit messages name (a partitioned
    * or bucketed task joins its files' names with `;`), so a failed
    * append leaves the table as it was and a retry lands one copy.
    * If the generation pointer moved while the job ran, a publish may
    * have folded those files into its manifest by reference (the
    * late-append fold in [[Generations.publishStaging]]); deleting them
    * would leave the live view naming missing files, so the files stay
    * and the table keeps the committed tasks' rows. Not covered: a
    * swap between that pointer read and the deletes, a task whose
    * result never reached the driver, and what a reader listed while
    * the job ran. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = GraftDataSource.sessionConf()
    if (GraftDataSource.resolveDataDir(conf, dir) != resolvedDataDir) return
    messages.iterator.collect { case m: GraftCommitMessage => m.file.split(";") }
      .flatten.filter(_.nonEmpty).foreach { f =>
        val p = new Path(f)
        try p.getFileSystem(conf).delete(p, false)
        catch { case _: java.io.IOException => }
      }
  }
}

class GraftWriterFactory(dir: String, schema: StructType, table: String,
    pageSize: Int, bias: String, chunkRows: Int, partCols: Seq[String],
    conf: Broadcast[SerializableConfiguration],
    bloomCols: Seq[String] = Seq.empty,
    tableSplits: Option[Seq[(String, Seq[Int])]] = None,
    bucketSpec: Option[(String, Int)] = None,
    sortCol: Option[String] = None,
    sketchCols: Seq[String] = Seq.empty) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    bucketSpec match {
      case Some((col, n)) =>
        new GraftBucketedDataWriter(dir, schema, table, pageSize, bias, chunkRows,
          col, n, conf.value.value, partitionId, taskId, bloomCols, sortCol, sketchCols)
      case None if partCols.isEmpty =>
        new GraftDataWriter(dir, schema, table, pageSize, bias, chunkRows,
          conf.value.value, partitionId, taskId, bloomCols = bloomCols,
          tableSplits = tableSplits, sketchCols = sketchCols)
      case None =>
        new GraftPartitionedDataWriter(dir, schema, table, pageSize, bias, chunkRows,
          partCols, conf.value.value, partitionId, taskId, bloomCols = bloomCols,
          sketchCols = sketchCols)
    }
}

case class GraftCommitMessage(file: String, rows: Long,
    statDeltas: Map[String, ColSketcher.ColDelta] = Map.empty,
    // absolute file path -> (bytes, footer stats JSON): the write task
    // hands its freshly-written footer stats to the driver so the
    // publish's self-covering manifest never re-opens a footer it just
    // produced (Stats.statsToJson of GraftFileWriter.writtenTables)
    statsJson: Map[String, (Long, String)] = Map.empty)
  extends WriterCommitMessage

/** Task-side writer: buffers rows columnar, flushes a chunk per
  * `chunkRows` (or ~96 MB buffered), one file per task attempt. Batch
  * file names embed task + UUID so concurrent attempts never collide;
  * the streaming sink passes a `fixedName` deterministic per
  * (epoch, partition) so a RETRIED epoch's rename-with-overwrite
  * replaces its earlier output instead of duplicating it. Tmp names stay
  * attempt-unique either way; abort deletes the attempt's tmp. */
class GraftDataWriter(dir: String, schema: StructType, table: String,
    pageSize: Int, bias: String, chunkRows: Int, conf: Configuration,
    partitionId: Int, taskId: Long,
    fixedName: Option[String] = None,
    bloomCols: Seq[String] = Seq.empty,
    tableSplits: Option[Seq[(String, Seq[Int])]] = None,
    sketchCols: Seq[String] = Seq.empty) extends DataWriter[InternalRow] {

  // APPEND stats maintenance: non-null only when the table's ANALYZE
  // sidecar already tracks sketches for columns this write carries —
  // un-analyzed tables pay nothing per row
  private val sketcher: ColSketcher =
    if (sketchCols.isEmpty) null
    else {
      val cs = new ColSketcher(schema, sketchCols)
      if (cs.isEmpty) null else cs
    }

  private val file = new Path(dir, fixedName.getOrElse(
    f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.graft"))
  // stream into a tmp name invisible to readers (scan lists *.graft only);
  // commit renames atomically, so concurrent readers never see a partial
  // footerless file
  private val tmpFile = new Path(dir,
    s".${file.getName}.$taskId-${UUID.randomUUID().toString.take(8)}.tmp")
  private val fs = file.getFileSystem(conf)
  // fork-free on local (no chmod subprocess, no .crc sidecar); Hadoop
  // create elsewhere — see AtomicPublish.createStream
  private val out = AtomicPublish.createStream(conf, tmpFile, overwrite = false)
  private val writer = new GraftFileWriter(out, pageSize, bias)
  // the single-table write is the degenerate one-split case; a `tables`
  // option fans each row out column-wise into N named buffers that share
  // every chunk — the reference's multi-table chunk (`src/chunk.zig:15-38`)
  // produced by an ordinary distributed DSv2 write
  private val splits: Seq[(TableBuffer, org.apache.spark.sql.catalyst.ProjectingInternalRow)] =
    tableSplits match {
      case None => // common case: rows append directly, no projection
        Seq((new TableBuffer(table, schema,
          bloomCols.toSet.intersect(schema.fieldNames.toSet)), null))
      case Some(ts) => ts.map { case (name, ords) =>
        val sub = StructType(ords.map(schema.fields))
        (new TableBuffer(name, sub, bloomCols.toSet.intersect(sub.fieldNames.toSet)),
          org.apache.spark.sql.catalyst.ProjectingInternalRow(sub, ords.toIndexedSeq))
      }
    }
  // single-table fast path: the hottest loop in the write side skips the
  // per-field ordinal indirection a projecting row would add
  private val singleBuf: TableBuffer = if (tableSplits.isEmpty) splits.head._1 else null
  private var rows = 0L
  private final val FlushBytes = 96L << 20

  // flush checks are exact PER ROW: TableBuffer maintains its buffered
  // byte count inside the append loop itself (`currentByteSize`), so a
  // narrow-rows→wide-blobs shift flushes on the first row that crosses
  // the bound. (A probe-every-N heuristic here scheduled checks from the
  // observed AVERAGE row width — a width shift could append up to 511
  // multi-MB rows unchecked and overflow the 2 GiB per-buffer cap on
  // data the exact check writes fine.)
  override def write(record: InternalRow): Unit = {
    rows += 1
    if (sketcher != null) sketcher.update(record)
    if (singleBuf != null) {
      singleBuf.appendRow(record)
      if (singleBuf.numRows >= chunkRows ||
        singleBuf.currentByteSize >= FlushBytes) flush()
    } else {
      var sz = 0L
      splits.foreach { case (buf, proj) =>
        proj.project(record); buf.appendRow(proj); sz += buf.currentByteSize
      }
      if (splits.head._1.numRows >= chunkRows || sz >= FlushBytes) flush()
    }
  }

  private var chunksWritten = 0

  private def flush(): Unit =
    if (splits.head._1.numRows > 0) {
      writer.writeChunk(splits.map(_._1))
      splits.foreach(_._1.reset()) // also zeroes currentByteSize
      chunksWritten += 1
    }

  override def commit(): WriterCommitMessage = {
    flush()
    // empty partition: still emit a 0-row chunk so the file self-describes
    // (with EVERY split table, so multi-table files stay discoverable)
    if (chunksWritten == 0) writer.writeChunk(splits.map(_._1))
    writer.finish()
    out.close()
    // atomic rename WITH overwrite: replaces a previous attempt's file
    // under the same deterministic name (streaming epoch retries).
    // Zero-fork single rename(2) on local; FileContext elsewhere
    AtomicPublish.renameOverwrite(conf, tmpFile, file)
    GraftCommitMessage(file.toString, rows,
      if (sketcher == null) Map.empty else sketcher.result(),
      statsJson = Map(file.toString ->
        (fs.getFileStatus(file).getLen,
          graft.format.Stats.statsToJson(writer.writtenTables))))
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Exception => }
    try fs.delete(tmpFile, false) catch { case _: Exception => }
  }
  override def close(): Unit = {}
}

/** Dynamic-partition writer: routes each row to a per-partition-value
  * [[GraftDataWriter]] under hive-style `k=v/` dirs; partition columns are
  * dropped from the stored table (their values live in the path, exactly
  * what the read side's partition pruning consumes). All routing happens
  * task-side — no driver loop, no per-value job; at 1000 executors this
  * is the same parallel shape as Spark's own dynamic partition insert.
  *
  * Open-writer bound: each distinct partition value seen by a task holds
  * a buffering writer (~chunk memory). Beyond [[GraftPartitionedDataWriter.MaxOpenWriters]]
  * the task fails with guidance rather than OOMing — pre-shuffling by the
  * partition columns (`df.repartition(col…)`) keeps each value on one task
  * and is the 100 TB-correct layout anyway (one file per value per task).
  */
class GraftPartitionedDataWriter(dir: String, schema: StructType, table: String,
    pageSize: Int, bias: String, chunkRows: Int, partCols: Seq[String],
    conf: Configuration, partitionId: Int, taskId: Long,
    fixedName: Option[String] = None,
    bloomCols: Seq[String] = Seq.empty,
    sketchCols: Seq[String] = Seq.empty) extends DataWriter[InternalRow] {
  import GraftPartitionedDataWriter.MaxOpenWriters

  private val partOrdinals = partCols.map(schema.fieldIndex).toArray
  private val partTypes = partOrdinals.map(schema.fields(_).dataType)
  private val dataOrdinals = schema.fields.indices.filterNot(partOrdinals.contains).toArray
  private val dataSchema = StructType(dataOrdinals.map(schema.fields(_)))
  private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
    dataSchema, dataOrdinals.toIndexedSeq)

  private val writers = scala.collection.mutable.LinkedHashMap.empty[String, GraftDataWriter]

  private def partValue(record: InternalRow, i: Int): String =
    if (record.isNullAt(partOrdinals(i))) GraftDataSource.DefaultPartitionName
    else GraftDataSource.escapePathValue(
      record.get(partOrdinals(i), partTypes(i)).toString)

  override def write(record: InternalRow): Unit = {
    val sb = new StringBuilder
    var i = 0
    while (i < partOrdinals.length) {
      if (i > 0) sb.append('/')
      sb.append(partCols(i)).append('=').append(partValue(record, i))
      i += 1
    }
    val key = sb.toString
    val w = writers.getOrElseUpdate(key, {
      if (writers.size >= MaxOpenWriters)
        throw new IllegalStateException(
          s"task sees > $MaxOpenWriters distinct partition values for (${partCols.mkString(",")}); " +
            "repartition by the partition columns before writing")
      new GraftDataWriter(s"$dir/$key", dataSchema, table, pageSize, bias, chunkRows,
        conf, partitionId, taskId, fixedName,
        bloomCols.filterNot(partCols.contains),
        sketchCols = sketchCols.filterNot(partCols.contains))
    })
    proj.project(record)
    w.write(proj)
  }

  override def commit(): WriterCommitMessage = {
    val msgs = writers.values.map(_.commit().asInstanceOf[GraftCommitMessage]).toSeq
    GraftCommitMessage(msgs.map(_.file).mkString(";"), msgs.map(_.rows).sum,
      ColSketcher.combine(msgs.map(_.statDeltas)),
      statsJson = msgs.iterator.flatMap(_.statsJson).toMap)
  }
  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = writers.values.foreach(_.close())
}

/** Bucketed writer: routes each row to one of `n` per-bucket
  * [[GraftDataWriter]]s by [[GraftBucket.id]] over the bucket column —
  * the SAME function the catalog's V2 `bucket` exposes, which is what
  * lets the scan report key-grouped partitioning and Spark plan
  * bucketed-table joins with NO shuffle on either side.
  *
  * All routing is task-side. Memory is bounded by n open chunk buffers;
  * `n` is validated small (≤ 2^16 = 65536, practically hundreds), and at real
  * scale the writing query repartitions by the bucket column first so
  * each task sees few buckets (same guidance as the hive-partitioned
  * writer). Writers open lazily: a task that sees 3 buckets holds 3. */
class GraftBucketedDataWriter(dir: String, schema: StructType, table: String,
    pageSize: Int, bias: String, chunkRows: Int, col: String, n: Int,
    conf: Configuration, partitionId: Int, taskId: Long,
    bloomCols: Seq[String] = Seq.empty,
    sortCol: Option[String] = None,
    sketchCols: Seq[String] = Seq.empty) extends DataWriter[InternalRow] {

  private val ord = schema.fieldIndex(col)
  private val dt = schema.fields(ord).dataType
  private val tag = GraftBucket.layoutTag(table, col, n, sortCol)
  private val writers = new Array[GraftDataWriter](n)
  // type dispatch + boxing resolved once, not per row (spec-gated equal
  // to GraftBucket.id — the SPJ contract rides on the agreement)
  private val bucketOf = GraftBucket.accessor(dt, ord, n)

  // sorted buckets: rows must ARRIVE ascending (nulls first) per bucket —
  // the writer streams chunks out as they fill and cannot re-sort, so a
  // violation is refused with guidance, never silently written. The
  // sorted-layout claim downstream (scan outputOrdering -> sort-free
  // merge join) is only ever made over files this check admitted.
  // Specialized per sort type: the fixed-width types track a primitive
  // last-value per bucket (no boxing, no interpreted ordering on the hot
  // row loop); everything else keeps the generic boxed path.
  private val sortTracker: GraftSortTracker =
    sortCol.map(c => GraftSortTracker(schema, c, n)).orNull

  override def write(record: InternalRow): Unit = {
    val b = bucketOf(record)
    if (sortTracker != null) sortTracker.check(record, b)
    var w = writers(b)
    if (w == null) {
      w = new GraftDataWriter(dir, schema, table, pageSize, bias, chunkRows,
        conf, partitionId, taskId,
        fixedName = Some(GraftDataSource.bucketFileName(partitionId, taskId, b, n, tag)),
        bloomCols = bloomCols, sketchCols = sketchCols)
      writers(b) = w
    }
    w.write(record)
  }

  override def commit(): WriterCommitMessage = {
    // an all-empty task still emits ONE 0-row tagged file (bucket 0,
    // partition 0 only — not one per task), so a delete-everything
    // rewrite leaves a self-describing table behind instead of a bare
    // marker no schema can be inferred from
    if (partitionId == 0 && writers.forall(_ == null)) {
      val w = new GraftDataWriter(dir, schema, table, pageSize, bias, chunkRows,
        conf, partitionId, taskId,
        fixedName = Some(GraftDataSource.bucketFileName(partitionId, taskId, 0, n, tag)),
        bloomCols = bloomCols)
      writers(0) = w
    }
    val msgs = writers.filter(_ != null).map(_.commit().asInstanceOf[GraftCommitMessage]).toSeq
    GraftCommitMessage(msgs.map(_.file).mkString(";"), msgs.map(_.rows).sum,
      ColSketcher.combine(msgs.map(_.statDeltas)),
      statsJson = msgs.iterator.flatMap(_.statsJson).toMap)
  }
  override def abort(): Unit = writers.filter(_ != null).foreach(_.abort())
  override def close(): Unit = writers.filter(_ != null).foreach(_.close())
}

object GraftPartitionedDataWriter {
  val MaxOpenWriters = 512
}
