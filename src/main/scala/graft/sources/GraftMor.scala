package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Merge-on-read SQL DML (delta-based row-level operations,
  * `SupportsDelta`): instead of rewriting every file that holds a
  * matching row (the copy-on-write path, [[GraftRowLevelOperation]]),
  * the matching rows' STABLE ids `(_file, _pos)` flow to position-delete
  * writers — and for UPDATE/MERGE (represented as delete+insert) the
  * changed/new rows flow to ordinary data-file writers — then ONE commit
  * publishes a generation that carries every untouched live data file by
  * reference plus per-file delete-vector sidecars ([[graft.format.Dv]]
  * blobs, referenced from the `.dvs` manifest next to `.carry`). A
  * 100-row DELETE against a 100 TB table writes kilobytes; a 100-row
  * UPDATE writes kilobytes of DV plus one small file of replacement
  * rows. Readers subtract the positions from their decode ranges.
  *
  * Enabled per session and per command:
  * `SET spark.graft.deleteMode|updateMode|mergeMode = merge-on-read`.
  * The default stays copy-on-write — COW keeps footer-served aggregates
  * and top-k pushes fully live, MoR trades them (the scan builder
  * declines while DVs exist) for O(changed rows) write cost; compaction
  * (`CALL sys.compact`) materializes the DVs and re-enables the footer
  * walk. Tables with a DECLARED bucket layout keep the layout's
  * provable-bucketing contract THROUGH MoR UPDATE/MERGE: replacement
  * rows are clustered by the bucket key (the write's required
  * distribution adds the key next to `_file`), routed task-side through
  * the same [[GraftBucketedDataWriter]] every bucketed write uses, and
  * land as bucket-TAGGED files — so the scan's key-grouped claim (and
  * the shuffle-free storage-partitioned join it feeds) survives a keyed
  * upsert stream. The declared within-bucket sort column rides the
  * required ordering, so sorted buckets stay sorted per file; the
  * one-file-per-bucket *merge-sort* claim necessarily drops until a
  * compaction folds the replacement files back in. Pure DELETE writes
  * no rows — carried files keep their tags untouched. Only a layout
  * whose bucket/sort column has left the catalog schema (rename/drop
  * evolution) falls back to copy-on-write, because replacement rows
  * could not prove their routing.
  *
  * Scan side: Spark plans the condition OVER the table scan and projects
  * the row ids, so pushed predicates still prune files/chunks/blocks
  * through zone maps and blooms — only files that can hold matching rows
  * are read, and the scan applies EXISTING delete vectors first, so
  * re-deleting already-deleted rows is impossible by construction.
  *
  * Commit publishes through the same staging/claim/no-clobber/pointer
  * machinery as every other rewrite ([[Generations.Staged]]):
  * crash before commit leaves unreferenced staging for the next sweep; a
  * concurrent rewrite loses the no-clobber race loudly. A file whose
  * merged delete vector covers EVERY row is dropped from the carry
  * manifest outright (whole-file delete — no DV, no task, no open). */
class GraftMorOperation(dir: String, table: String, schema: StructType,
    cmd: RowLevelOperation.Command,
    // declared bucket layout (col, n, sortCol) for commands that write
    // replacement rows; None for DELETE (no rows) and unbucketed tables
    layout: Option[(String, Int, Option[String])] = None)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft merge-on-read $cmd on $table"

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftDataSource.FileColName),
    Expressions.column(GraftDataSource.PosColName))

  /** UPDATE rows arrive as delete(old id) + insert(new row): one write
    * path (DV + data files) serves all three commands. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] = Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(Seq(dir), schema, Some(table))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite with RequiresDistributionAndOrdering {
        // cluster the matched ids by file and sort by (_file, _pos): each
        // task sees whole files' positions in order, so the per-task
        // fragments are few, sorted, and merge trivially on the driver.
        // On a BUCKETED table the insert records must spread too: the
        // bucket key joins the clustering, so deletes still group per
        // file (their data columns are null — one (F, null) key per
        // file) while replacement rows hash out across tasks by key
        // instead of funneling through the single null-_file group.
        override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
          org.apache.spark.sql.connector.distributions.Distributions.clustered(
            Array(Expressions.column(GraftDataSource.FileColName)) ++
              layout.map { case (col, _, _) => Expressions.column(col) })
        override def requiredNumPartitions(): Int = 0
        override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          Array(
            Expressions.sort(Expressions.column(GraftDataSource.FileColName),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING),
            Expressions.sort(Expressions.column(GraftDataSource.PosColName),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)) ++
            // declared within-bucket sort: inserts (null _file/_pos sort
            // first) then arrive ascending by the sort column, so each
            // bucket's subsequence satisfies the sorted-bucket writer's
            // arrival check and replacement files stay key-sorted
            layout.flatMap(_._3).map(sc =>
              Expressions.sort(Expressions.column(sc),
                org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
        override def toBatch: DeltaBatchWrite =
          new GraftMorBatchWrite(dir, table, info.schema(), layout)
      }
    }
}

/** One task's output: position-delete fragments (delta-varint-encoded per
  * file, the same [[graft.format.Dv]] codec the sidecars use) plus the
  * inner data writer's message for any inserted rows. */
private[sources] case class GraftDvCommitMessage(perFile: Map[String, Array[Byte]],
    data: WriterCommitMessage) extends WriterCommitMessage

private[sources] class GraftMorBatchWrite(dir: String, table: String,
    writeSchema: StructType,
    layout: Option[(String, Int, Option[String])] = None) extends DeltaBatchWrite {

  private val conf = GraftDataSource.sessionConf()
  private val root = new Path(dir)
  private val fs = root.getFileSystem(conf)
  private var staged: Generations.Staged = _
  private var inner: GraftBatchWrite = _

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    staged = Generations.stage(SparkSession.active, dir)
    val partCols = staged.partCols
    // hive-layout dirs whose path columns the catalog schema can't carry:
    // replacement rows couldn't be routed to (or even HOLD) their
    // partition values, so inserts must refuse with guidance — position
    // DELETES still work fine (they write no rows)
    val missingPart = partCols.filterNot(writeSchema.fieldNames.contains)
    // a declared bucket layout owns its directory (no hive partitions by
    // construction); replacement rows route through the bucketed writer
    // so they land as bucket-TAGGED files under the same layout tag the
    // carried originals prove their grouping with
    inner = new GraftBatchWrite(staged.path.toString, writeSchema, truncate = false,
      table, graft.format.GraftFileWriter.DefaultPageSize, "balanced",
      GraftBatchWrite.DefaultChunkRows,
      if (missingPart.isEmpty && layout.isEmpty) partCols else Seq.empty,
      bucketSpec = layout.map { case (c, n, _) => (c, n) },
      sortCol = layout.flatMap(_._3))
    GraftMorWriterFactory(inner.createBatchWriterFactory(info), writeSchema.length,
      insertRefusal = if (missingPart.isEmpty) None else Some(
        s"table directory is hive-partitioned on ${missingPart.mkString(",")} " +
          "but the catalog schema does not carry those columns — replacement " +
          "rows cannot be routed to their partitions. DELETE works; for " +
          "UPDATE/MERGE use FormatOps.updateWhere/upsert on the path API"))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // merge the tasks' fragments per file (sorted-set union; the write's
    // required ordering makes each fragment sorted already)
    val newPerFile = mutable.HashMap.empty[String, Array[Long]]
    val dataMsgs = Array.newBuilder[WriterCommitMessage]
    messages.foreach {
      case GraftDvCommitMessage(perFile, data) =>
        if (data != null) dataMsgs += data
        perFile.foreach { case (f, blob) =>
          val pos = graft.format.Dv.decode(blob)
          newPerFile(f) = newPerFile.get(f) match {
            case Some(prev) => graft.format.Dv.merge(prev, pos)
            case None => pos
          }
        }
      case null => // skipped task
      case other => throw new IllegalStateException(
        s"unexpected commit message ${other.getClass.getName}")
    }
    val dms = dataMsgs.result()
    val insertedFiles = dms.collect { case m: GraftCommitMessage => m.file }
      .exists(_.nonEmpty)
    if (newPerFile.valuesIterator.forall(_.isEmpty) && !insertedFiles) {
      staged.abort() // matched nothing: no generation churn
      return
    }
    try {
      inner.commit(dms) // inserted rows' data files land in the staging
      // classify the staged source view for carry stats (zero footer I/O
      // for manifest-covered files, same contract as every DML)
      val files = staged.classify(table, None)
      val byUriPath = staged.listing.map { case (p, size, _) => p.toUri.getPath -> (p, size) }.toMap

      files.filter(_.names.size > 1).foreach { f =>
        if (newPerFile.contains(f.path.toString) ||
            newPerFile.contains(f.path.toUri.getPath))
          throw new UnsupportedOperationException(
            s"${f.path} holds tables ${f.names.mkString(",")}; merge-on-read " +
              "DML needs single-table files — a delete vector is scoped to " +
              "one table's row space. Use copy-on-write mode for this table")
      }

      val existing = GraftDataSource.liveDvsAt(conf, dir, staged.srcDir, Some(table))
      // per-touched-file work (existing-blob read, footer row count, merged
      // blob write) runs in the shared listing pool: a 10^4-file delete
      // wave costs one parallel sweep on the driver, not 10^4 sequential
      // opens. Blob names are assigned positionally BEFORE the sweep so
      // the parallel writes stay deterministic.
      val work = newPerFile.toSeq.sortBy(_._1).filter(_._2.nonEmpty).zipWithIndex
      case class DvOut(rel: String, entry: Option[(String, String, String, Long)],
          fullyDeleted: Boolean, churn: Long)
      val outs = GraftDataSource.inParallel(work) { case ((fileStr, fresh0), blobIdx) =>
        val uriPath = new Path(fileStr).toUri.getPath
        val (livePath, liveSize) = byUriPath.getOrElse(uriPath,
          throw new graft.format.OliveFormatException(
            s"DML matched rows of $fileStr, which is no longer in the live " +
              "view — a concurrent rewrite replaced it; re-run the statement"))
        val rel = GraftDataSource.relativePath(root, livePath)
        // merge with the file's existing DV, validate against its real
        // row count (footer open bounded by the number of DV'd files)
        val merged0 = existing.get(uriPath) match {
          case Some((dvPath, _)) =>
            val dfs = dvPath.getFileSystem(conf)
            val st = dfs.getFileStatus(dvPath)
            val bytes = new Array[Byte](st.getLen.toInt)
            val in = dfs.open(dvPath)
            try in.readFully(0, bytes) finally in.close()
            graft.format.Dv.merge(graft.format.Dv.decode(bytes), fresh0)
          case None => fresh0
        }
        val totalRows = GraftDataSource.footerMetas(conf, livePath)
          .filter(_.name == table).map(_.numRows.toLong).sum
        if (merged0.nonEmpty && merged0.last >= totalRows)
          throw new graft.format.OliveFormatException(
            s"delete position ${merged0.last} beyond $rel's $totalRows rows — " +
              "the scan and commit saw different file contents; re-run the statement")
        val churn = if (totalRows == 0) 0L
          else liveSize * fresh0.length / math.max(totalRows, 1L)
        if (merged0.length == totalRows) {
          // every row deleted: drop the FILE from the new generation
          // instead of carrying a row-0..n DV — no sidecar, no task,
          // no open; time travel still sees it in older generations
          DvOut(rel, None, fullyDeleted = true, churn)
        } else {
          val blobName = s"_dv/dv-$blobIdx.dvg"
          val out = fs.create(new Path(staged.path, blobName), false)
          try out.write(graft.format.Dv.encode(merged0)) finally out.close()
          DvOut(rel, Some((table, rel, s"${staged.nextGen}/$blobName", merged0.length.toLong)),
            fullyDeleted = false, churn)
        }
      }
      // carry every live data file by reference (fully-deleted ones are
      // replaced by nothing), stats riding along so the next DML keeps
      // zero-footer-I/O; the fresh blobs above merged this table's
      // entries for re-DV'd files, every other carried file keeps its
      // live entry
      staged.publish(Generations.Commit(outs.filter(_.fullyDeleted).map(_.rel),
        Generations.dmlStats(root, files),
        freshDvs = outs.flatMap(_.entry),
        churn = Seq(table -> outs.map(_.churn).sum)))
    } catch {
      case e: Throwable => staged.abort(); throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (staged != null) staged.abort()
}

/** Serializable task-writer factory (a factory defined inline in the
  * batch write would drag its non-serializable `$outer` to executors). */
private[sources] case class GraftMorWriterFactory(inner: DataWriterFactory,
    rowWidth: Int, insertRefusal: Option[String] = None) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftMorWriter(inner.createWriter(partitionId, taskId), rowWidth, insertRefusal)
}

/** Task side: collect (file, pos) ids; route inserted rows to the inner
  * data writer. The required ordering delivers ids sorted by
  * (_file, _pos); out-of-order arrival (speculative retries, future plan
  * changes) is handled by an explicit sort+dedup before encoding —
  * never trusted. */
private[sources] class GraftMorWriter(inner: DataWriter[InternalRow],
    rowWidth: Int, insertRefusal: Option[String] = None) extends DeltaWriter[InternalRow] {
  private val perFile = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
  private var wroteData = false

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (id == null || id.numFields != 2)
      throw new IllegalStateException(
        s"merge-on-read DML expected a (_file, _pos) row id, got " +
          s"${if (id == null) "null" else s"${id.numFields} fields"}")
    val file = id.getUTF8String(0)
    if (file == null || id.isNullAt(1))
      throw new IllegalStateException(
        "merge-on-read DML row id carries a null _file/_pos — the scan " +
          "must generate both for every row")
    perFile.getOrElseUpdate(file.toString, mutable.ArrayBuffer.empty) += id.getLong(1)
  }

  override def insert(row: InternalRow): Unit = {
    insertRefusal.foreach(r => throw new UnsupportedOperationException(r))
    if (row.numFields != rowWidth)
      throw new IllegalStateException(
        s"merge-on-read insert expected $rowWidth fields, got ${row.numFields} — " +
          "the delta plan's row projection changed shape; refusing to write")
    wroteData = true
    inner.write(row)
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "update records must not arrive: representUpdateAsDeleteAndInsert is true")

  override def commit(): WriterCommitMessage = GraftDvCommitMessage(
    perFile.iterator.map { case (f, buf) =>
      val arr = buf.toArray.sorted.distinct
      f -> graft.format.Dv.encode(arr)
    }.toMap,
    // the inner writer's commit finalizes this task's data file (if any
    // row was inserted); committing a rowless writer is a valid no-op
    if (wroteData) inner.commit() else { inner.abort(); null })

  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}
