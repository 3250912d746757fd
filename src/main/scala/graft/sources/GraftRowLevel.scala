package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE` / `MERGE INTO` / non-pushable `DELETE` for graft catalog
  * tables, as a DSv2 group-based (copy-on-write) row-level operation.
  *
  * Spark's own rewrite rules (`RewriteUpdateTable`,
  * `RewriteMergeIntoTable`, `RewriteDeleteFromTable`) plan the command
  * into a ReplaceData over this operation: the scan below reads the
  * "groups" (files) that may hold affected rows, the rewritten rows flow
  * through the write below, and commit publishes a new generation that
  * holds the replacement files physically and carries every untouched
  * live file BY REFERENCE in the generation's `.carry` manifest — the
  * same file-granular COW as [[Generations.rewriteTable]], so a 1-row
  * SQL MERGE against a 100 TB table rewrites the files its keys can
  * touch, not the table.
  *
  * Group-based contract (RowLevelOperation javadoc): pushed filters may
  * prune which groups are read, but the scan must return EVERY row of a
  * selected group — the rewrite plan copies non-matching rows through.
  * Candidate selection therefore uses the filters only file-granularly
  * (a file where some conjunct provably matches nothing, by zone maps +
  * blooms via [[graft.format.Stats.canSkipChunk]], is carried), and the
  * candidate read itself carries NO row filters.
  *
  * Two distinct runtime-filtering mechanisms meet here — they are NOT
  * the same thing, and they are handled oppositely:
  *   - Row-level `SupportsRuntimeFiltering` on data columns is DECLINED
  *     (the cow scan reports only `_file` in `filterAttributes`): a
  *     runtime filter that dropped data ROWS of a candidate file would
  *     violate the every-row-of-a-selected-group contract above.
  *   - Runtime GROUP filtering keyed solely on the `_file` metadata
  *     column IS accepted: Spark computes the matching rows' distinct
  *     files in a subquery and narrows which candidate FILES are read.
  *     This is safe — whole files, never rows — because
  *     `planInputPartitions` re-records the narrowed set as `replaced`
  *     BEFORE commit computes carried = live − replaced, so a file the
  *     group filter excluded is carried by reference, never dropped.
  *     Commit ordering guarantees the re-record happens first: scan
  *     planning strictly precedes write execution.
  *
  * Pushable `DELETE FROM` never reaches this path —
  * `OptimizeMetadataOnlyDeleteFromTable` restores
  * [[GraftTable.deleteWhere]] when every conjunct translates exactly.
  */
class GraftRowLevelOperation(dir: String, table: String, schema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** Files the write's commit will REPLACE (everything else is carried).
    * Recorded by the scan builder (then narrowed by planInputPartitions
    * after runtime group filtering); read by the write's commit. All on
    * the driver: scan planning strictly precedes write commit. */
  @volatile private[sources] var replaced: Option[Seq[Path]] = None

  /** rel → stats-json for every file the scan's classification touched
    * (manifest-reused or freshly probed) — commit re-carries these so
    * the next DML keeps the zero-footer-I/O property even for files
    * carried for the first time. */
  @volatile private[sources] var fileStats: Map[String, String] = Map.empty

  /** Partition columns observed by the scan's listing — saves the write
    * factory its own recursive listing (seconds at object-store scale). */
  @volatile private[sources] var partCols: Option[Seq[String]] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft copy-on-write $cmd on $table"

  /** Ask for `_file` alongside every row: it keys the runtime GROUP
    * FILTER (Spark computes the matching rows' distinct files in a
    * subquery and runtime-filters this scan to them), which is what
    * makes a MERGE whose ON condition can't push statically still
    * rewrite only the files holding matched rows — file-granular COW
    * even for join-shaped predicates. */
  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      GraftDataSource.FileColName))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(this, dir, table, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write with RequiresDistributionAndOrdering {
        // a declared bucket layout survives SQL DML exactly like the
        // FormatOps rewrites: Spark hash-clusters the replacement rows
        // on the bucket column into n partitions (the same murmur3 the
        // bucketed writer tags files with) and sorts within partitions,
        // so carried and new files keep one provable layout
        private val layout =
          GraftDataSource.readBucketMarker(GraftDataSource.sessionConf(), dir, table)
        override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
          layout match {
            case Some((bcol, _, _)) =>
              org.apache.spark.sql.connector.distributions.Distributions.clustered(
                Array(org.apache.spark.sql.connector.expressions.Expressions.column(bcol)))
            case None =>
              org.apache.spark.sql.connector.distributions.Distributions.unspecified()
          }
        override def requiredNumPartitions(): Int = layout.map(_._2).getOrElse(0)
        override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          layout.flatMap(_._3) match {
            case Some(sc) => Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
              org.apache.spark.sql.connector.expressions.Expressions.column(sc),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
            case None => Array.empty
          }
        override def toBatch: BatchWrite =
          new GraftCowBatchWrite(GraftRowLevelOperation.this, dir, table, info.schema(), layout)
      }
    }
}

/** Candidate-file selection for the COW rewrite, at `build()` time: one
  * parallel footer probe classifies every live file (replace vs carry),
  * exactly like [[Generations.rewriteTable]]. The returned scan is a
  * plain [[GraftScan]] pinned to the candidate files with NO filters —
  * all rows of every candidate file, per the group-based contract. */
class GraftCowScanBuilder(op: GraftRowLevelOperation, dir: String,
    table: String, schema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var cond: Array[Filter] = Array.empty
  // the rewrite reads full rows (it writes them back) plus any requested
  // metadata column (`_file`, which the runtime group filter keys on)
  private var required: StructType = schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    cond = filters
    filters // group-pruning hints only; every filter still re-evaluates above
  }
  override def pushedFilters(): Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }

  override def build(): Scan = {
    val conf = GraftDataSource.sessionConf()
    val root = new Path(dir)
    val listed = GraftDataSource.listPartitionedSized(conf, dir)
    // manifest-covered files classify with zero per-file I/O; footers
    // open only for uncovered files and bloom-refinable candidates
    val files = Generations.classifyForDml(conf, root, listed, table,
      Some(cond.toSeq.map(graft.format.Stats.FilterPrune)).filter(_.nonEmpty), dir)
    val cands = files.filter(_.candidate)
    // replacing a file means dropping EVERYTHING in it that the write
    // doesn't re-emit — a file shared with a sibling table can't be
    // replaced for one table only. Catalog tables own their directory,
    // so this only trips on hand-built namespace layouts; those have the
    // (full-COW) FormatOps API.
    cands.find(_.names.size > 1).foreach { f =>
      throw new UnsupportedOperationException(
        s"${f.path} holds tables ${f.names.mkString(",")}; SQL row-level " +
          s"operations need single-table files — use the FormatOps API " +
          "(updateWhere/upsert), whose full rewrite handles shared files")
    }
    // initial replaced set (planInputPartitions re-records it after
    // runtime group filtering narrows the read further)
    op.replaced = Some(cands.map(_.path))
    op.fileStats = files.map(f =>
      GraftDataSource.relativePath(root, f.path) -> f.statsJson).toMap
    op.partCols = Some(GraftDataSource.partitionColumns(
      listed.map { case (p, _, m) => (p, m) }))
    new GraftScan(Seq(dir), required, Some(table), Array.empty, -1,
      fileFilter = Some(cands.map(_.path.toString).toSet),
      cowOp = Some(op))
  }
}

/** The replacement write: rows land in a `gen-N.tmp-*` staging dir via
  * the ordinary [[GraftBatchWrite]]; commit writes the `.carry` manifest
  * (live files minus the replaced set, by reference at their original
  * location) and publishes the generation atomically — crash before
  * commit leaves only unreferenced staging for the next sweep, identical
  * to every other rewrite in this source. */
class GraftCowBatchWrite(op: GraftRowLevelOperation, dir: String,
    table: String, schema: StructType,
    layout: Option[(String, Int, Option[String])] = None) extends BatchWrite {

  private val conf = GraftDataSource.sessionConf()
  private val root = new Path(dir)
  private val fs = root.getFileSystem(conf)
  private var staging: Path = _
  private var nextGen: String = _
  private var inner: GraftBatchWrite = _

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
    val s = SparkSession.active
    nextGen = Generations.prepareRewrite(s, dir)
    staging = new Path(root, s"$nextGen.tmp-${UUID.randomUUID()}")
    Generations.claimStaging(conf, staging)
    val partCols = op.partCols.getOrElse {
      val listed = GraftDataSource.listPartitionedSized(conf, dir)
      GraftDataSource.partitionColumns(listed.map { case (p, _, m) => (p, m) })
    }
    // the COW rewrite re-emits EVERY row of its candidate files: if the
    // dir is hive-partitioned on columns the write schema can't carry,
    // the replacement files would silently read NULL for those columns
    // through the path API — refuse with guidance instead
    val missingPart = partCols.filterNot(schema.fieldNames.contains)
    if (missingPart.nonEmpty)
      throw new UnsupportedOperationException(
        s"table directory is hive-partitioned on ${missingPart.mkString(",")} " +
          "but the catalog schema does not carry those columns — a row-level " +
          "rewrite would drop the partition values. Use FormatOps." +
          "updateWhere/deleteWhere/upsert on the path API for this layout")
    inner = new GraftBatchWrite(staging.toString, schema, truncate = false,
      table, graft.format.GraftFileWriter.DefaultPageSize, "balanced",
      GraftBatchWrite.DefaultChunkRows, partCols,
      bucketSpec = layout.map { case (c, n, _) => (c, n) },
      sortCol = layout.flatMap(_._3))
    new GraftCowRowShapeFactory(inner.createBatchWriterFactory(pinfo), schema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    inner.commit(messages)
    val replaced = op.replaced.getOrElse(throw new IllegalStateException(
      "row-level write committed before its scan planned; no replaced-file " +
        "set to anchor the carry manifest")).map(_.toString).toSet
    // pin the source view for the publish's late-append fold
    val srcDir = GraftDataSource.resolveDataDir(conf, dir)
    val commitListing = GraftDataSource.listPartitionedSized(conf, dir)
    val carried = commitListing
      .filterNot { case (p, _, _) => replaced.contains(p.toString) }
    // sibling tables' bucket markers live in the data dir — carry them
    // (the write above re-created at most this table's own)
    GraftDataSource.carryBucketMarkers(fs, conf, dir, staging)
    // carried files keep their zone-map stats — from the scan's own
    // classification (covers files carried for the FIRST time) with the
    // live manifest as fallback; immutable files, stats never stale
    GraftDataSource.writeCarryManifest(fs, staging,
      carried.map { case (p, size, _) =>
        val rel = GraftDataSource.relativePath(root, p)
        (rel, size, op.fileStats.get(rel)) })
    // carried files keep their delete vectors (the candidate read applied
    // DVs, so replaced files' rewritten rows shed theirs); sibling
    // tables' entries carry verbatim
    GraftDataSource.writeDvManifest(fs, staging,
      GraftDataSource.carryDvEntries(fs, conf, dir,
        replaced.map(s => GraftDataSource.relativePath(root, new Path(s)))))
    Generations.publishStaging(fs, conf, root, staging, nextGen, None, dir,
      sourceView = Some((srcDir, commitListing.map(_._1.toUri.getPath).toSet)))
    // stats lifecycle: the replaced files' rows were churned by this
    // DELETE/UPDATE/MERGE — bill their bytes against the ANALYZE snapshot
    GraftDataSource.recordChurn(SparkSession.active, dir, table,
      commitListing.collect {
        case (p, size, _) if replaced.contains(p.toString) => size
      }.sum)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (staging != null) fs.delete(staging, true)
}

/** Shape adapter for Spark's group-based ReplaceData rows. When the
  * operation declares no metadata attributes, Spark 4.1 hands the writer
  * the rewrite plan's RAW output — `__row_operation: int` (always
  * WRITE/WRITE_WITH_METADATA for group-based plans) followed by the row
  * attributes in write-schema order — without applying the
  * ReplaceDataProjections it planned (ReplaceDataExec.writingTask falls
  * back to the plain DataWritingSparkTask unless a metadata projection
  * exists). Encoding those rows by ordinal would write the operation
  * marker into the first column; this factory projects the marker away.
  * Rows already matching the write schema pass through untouched, so a
  * Spark that starts applying its own projection stays correct; any
  * OTHER shape fails loudly rather than writing garbage. */
private[sources] class GraftCowRowShapeFactory(inner: DataWriterFactory,
    schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        schema, (1 to schema.length).toIndexedSeq)
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == schema.length) w.write(row)
        else {
          if (row.numFields != schema.length + 1)
            throw new IllegalStateException(
              s"row-level write expected ${schema.length} fields (or +1 " +
                s"operation marker), got ${row.numFields}")
          // field count alone can't prove the layout is (marker, data...):
          // a future Spark emitting schema.length+1 fields in another
          // shape (marker last, trailing metadata) would silently shift
          // every column. Require field 0 to BE a known group-based
          // operation ordinal before projecting it away.
          val marker = row.getInt(0)
          val rdu = org.apache.spark.sql.catalyst.util.RowDeltaUtils
          if (marker != rdu.WRITE_OPERATION && marker != rdu.WRITE_WITH_METADATA_OPERATION)
            throw new IllegalStateException(
              s"row-level write: leading field $marker is not a group-based " +
                "operation marker (WRITE/WRITE_WITH_METADATA); the plan's row " +
                "layout changed — refusing to project")
          proj.project(row)
          w.write(proj)
        }
      // metadata-projected path (DataAndMetadataWritingSparkTask): the
      // row arrives already projected to the write schema; the metadata
      // (`_file` of the row's SOURCE file) has no place in the replacement
      // file and is dropped
      override def write(meta: org.apache.spark.sql.catalyst.InternalRow,
          row: org.apache.spark.sql.catalyst.InternalRow): Unit = w.write(row)
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}
