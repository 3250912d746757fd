package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.format.GraftFileReader

/** DSv2 TableCatalog over a warehouse of graft directories.
  *
  * The reference's chunk is "several named tables written together"
  * (`src/chunk.zig:15-38`); SURVEY.md §1.1 maps that to a catalog
  * exposing N tables per file/directory. This catalog does exactly that:
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.root = /data/graft
  *   SELECT * FROM graft.mydb.lineitem   -- .graft files under /data/graft/mydb, table 'lineitem'
  * }}}
  *
  * Namespaces are single-level subdirectories of `root`; the tables of a
  * namespace are the union of table names across its files' footers —
  * one file may hold several tables (the reference's multi-table chunk),
  * and one table may span several files (the distributed write path:
  * every task appends its own per-table file, no driver coordination).
  *
  * Writable: `createTable` records the schema in a hidden
  * `.schema_<table>.json` marker (so an empty table loads before data
  * arrives); `df.writeTo("cat.ns.t").append()` routes through the
  * path-based DSv2 writer with the table option pinned.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
    with ProcedureCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var root: String = _
  private val conf = GraftDataSource.sessionConf()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(s"catalog $name requires option 'root'"))
  }
  override def name(): String = catalogName

  private def nsDir(namespace: Array[String]): String =
    (Seq(root) ++ namespace).mkString("/")

  private def schemaMarker(dir: String, table: String): Path =
    new Path(dir, s".schema_$table.json")

  private def openFooter[T](f: Path)(g: GraftFileReader => T): T = {
    val r = GraftFileReader.open(f.getFileSystem(conf), f)
    try g(r) finally r.close()
  }

  private def markerSchema(dir: String, table: String): Option[StructType] =
    try {
      val marker = schemaMarker(dir, table)
      val fs = marker.getFileSystem(conf)
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        org.apache.spark.sql.types.DataType.fromJson(json) match {
          case s: StructType => Some(s)
          case _ => None
        }
      }
    } catch {
      // a corrupt/truncated marker (crashed DDL) must not make a table
      // with readable data files unreadable: fall through to footers
      case _: Exception => None
    }

  private def writeMarker(dir: String, table: String, schema: StructType): Unit =
    AtomicPublish.text(conf, schemaMarker(dir, table), schema.json)

  /** The table's DECLARED schema: the marker when present (createTable
    * writes it, ALTER TABLE ADD COLUMN evolves it — files written before
    * an ALTER carry the narrower schema and read the added columns as
    * nulls), else the UNION of every footer's schema for the table — a
    * marker-less multi-file dataset may hold files of different widths
    * (evolution-on-read), and serving the first footer hit would
    * silently hide the newer files' columns (the exact hazard
    * [[alterTable]] documents; the read path must agree with it). */
  private def findTableSchema(dir: String, table: String): Option[StructType] =
    markerSchema(dir, table).orElse(unionedTableSchema(dir, table))

  override def listNamespaces(): Array[Array[String]] = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory).map(s => Array(s.getPath.getName))
  }
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = new Path(nsDir(namespace))
    namespace.length == 1 && p.getFileSystem(conf).exists(p)
  }
  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace.toSeq)
    Map("location" -> nsDir(namespace)).asJava
  }
  override def createNamespace(namespace: Array[String], metadata: java.util.Map[String, String]): Unit = {
    val p = new Path(nsDir(namespace))
    p.getFileSystem(conf).mkdirs(p)
  }
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog namespaces are immutable")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "DROP NAMESPACE is not supported (a namespace is a shared directory " +
        "of multi-table files); drop its tables, then delete the directory")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    // every footer must be read (a namespace's tables are the union
    // across files), so probe them all 16-way concurrently
    val fromFiles = GraftDataSource.inParallel(
      GraftDataSource.listFiles(conf, dir))(f => openFooter(f)(_.tableNames)).flatten
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val fromMarkers =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith(".schema_") && n.endsWith(".json"))
        .map(n => n.stripPrefix(".schema_").stripSuffix(".json"))
    (fromFiles ++ fromMarkers).distinct.map(t => Identifier.of(namespace, t)).toArray
  }

  /** Only "no such table" maps to false — an infrastructure failure (a
    * corrupt generation pointer, an IO outage) must PROPAGATE, or
    * `CREATE TABLE`'s existence check would read it as "absent" and
    * clobber the existing table's schema marker behind the outage. */
  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true } catch {
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException => false
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException => false
    }

  override def loadTable(ident: Identifier): Table = {
    val dir = nsDir(ident.namespace())
    // visible = tombstoned (dropped) fields filtered out; rename-chain
    // metadata stays on the fields so the scan can map older files
    val schema = findTableSchema(dir, ident.name())
      .map(graft.format.Evolution.visible).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    // a bucketed table's spec marker becomes the `bucketBy` option, so
    // INSERT INTO / writeTo().append() route rows through the bucketed
    // writer automatically — DDL declares the layout once, every later
    // write maintains it, and the scan keeps its shuffle-free join claim
    val marker = GraftDataSource.readBucketMarker(conf, dir, ident.name())
    val bucketOpt = marker.map { case (col, n, _) => "bucketby" -> s"$col:$n" }
    val sortOpt = marker.flatMap(_._3).map("sortby" -> _)
    val opts = (Map("path" -> dir, "table" -> ident.name()) ++ bucketOpt ++ sortOpt).asJava
    new GraftTable(dir, schema, new CaseInsensitiveStringMap(opts))
  }

  /** SQL time travel: `SELECT … FROM cat.ns.t VERSION AS OF 2` pins the
    * namespace dir's compaction generation (see
    * [[GraftDataSource.generationDir]]). The schema comes from the
    * PINNED generation itself — history reads see the columns (and
    * tables: a since-dropped one included) as of that generation — with
    * the live layout's markers as fallback for empty tables. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = nsDir(ident.namespace())
    val genDir = GraftDataSource.generationDir(conf, dir, version)
    // schema from the PINNED generation first: a table dropped from the
    // live layout is still readable out of a frozen generation that
    // holds it; fall back to the live layout (root markers) for schema-
    // evolution reads where the old generation predates the table
    // the pinned generation's own footers serve PRE-DDL names and types
    // (a since-dropped column included — that is the time-travel
    // contract); only the live-marker fallback filters tombstones
    val schema = findTableSchema(genDir, ident.name())
      .orElse(findTableSchema(dir, ident.name())
        .map(graft.format.Evolution.visible)).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    // the PINNED generation's bucket marker rides along exactly like the
    // live loadTable's: without it a VERSION AS OF join of two same-spec
    // bucketed tables silently loses the storage-partitioned-join claim
    // and plans a full shuffle
    val marker = GraftDataSource.readBucketMarkerAt(conf, genDir, ident.name())
    val bucketOpt = marker.map { case (c, n, _) => "bucketby" -> s"$c:$n" }
    val sortOpt = marker.flatMap(_._3).map("sortby" -> _)
    val opts = (Map("path" -> dir, "table" -> ident.name(),
      "generation" -> version) ++ bucketOpt ++ sortOpt).asJava
    new GraftTable(genDir, schema, new CaseInsensitiveStringMap(opts))
  }

  /** SQL `TIMESTAMP AS OF t` (micros per the DSv2 contract): the newest
    * generation whose BIRTH — the `.swap-ts` marker compaction writes
    * just before the pointer swap — is <= t. Dir mtimes cannot serve as
    * birth times (appends keep bumping the live dir's mtime, which would
    * time-travel appended rows out of existence); markerless generations
    * (pre-marker files) fall back to mtime. Only generations at or below
    * the live pointer are candidates — a higher-indexed dir is a crashed
    * compaction's half-written output. Pre-compaction history is not
    * addressable; a time before the first generation is a loud error. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = nsDir(ident.namespace())
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val ms = timestamp / 1000
    val liveIdx = GraftDataSource.readGenPointer(conf, dir)
      .flatMap(GraftDataSource.genIndex)
    val gens =
      if (liveIdx.isEmpty || !fs.exists(p)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(p)
        .filter(s => s.isDirectory &&
          GraftDataSource.genIndex(s.getPath.getName).exists(_ <= liveIdx.get))
        .sortBy(s => GraftDataSource.genIndex(s.getPath.getName).get)
    def birth(st: org.apache.hadoop.fs.FileStatus): Long =
      GraftDataSource.readSwapTs(conf, st.getPath).getOrElse(st.getModificationTime)
    // newest-first, stop at the first born <= t: the common recent-
    // timestamp query reads ONE marker, not one per generation
    val pick = gens.reverseIterator.find(birth(_) <= ms).getOrElse(
      throw new graft.format.OliveFormatException(
        s"no generation of $dir existed at timestamp $ms ms " +
          s"(${gens.length} generations present)"))
    loadTable(ident, pick.getPath.getName)
  }

  /** `PARTITIONED BY (bucket(n, col))` is the one transform accepted:
    * it records the bucket spec marker, and every later write through
    * the catalog routes bucketed (see [[loadTable]]) — the SQL-DDL
    * surface of the storage-partitioned-join layout. */
  private def parseBucketTransform(partitions: Array[Transform],
      schema: StructType): Option[(String, Int)] = partitions.toSeq match {
    case Seq() => None
    case Seq(t) if t.name() == "bucket" =>
      import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
      val cols = t.arguments().collect {
        case r: NamedReference if r.fieldNames().length == 1 => r.fieldNames()(0)
      }
      val ns = t.arguments().collect {
        case l: V2Literal[_] if l.value().isInstanceOf[Number] =>
          l.value().asInstanceOf[Number].intValue()
      }
      (cols, ns) match {
        case (Array(c), Array(n)) if n >= 1 && n <= GraftBucket.MaxBuckets =>
          // case-insensitive like Spark's own resolution; the marker
          // records the SCHEMA's spelling so the write side and the
          // scan's name-tag cross-check agree on one casing
          val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"bucket column $c not in schema ${schema.fieldNames.mkString(",")}"))
          if (!GraftBucket.supported(f.dataType))
            throw new IllegalArgumentException(
              s"bucket unsupported for ${f.dataType.simpleString} column $c")
          Some((f.name, n))
        case _ => throw new IllegalArgumentException(
          s"unsupported bucket transform ${t.describe()}; want bucket(n, col)")
      }
    case other => throw new UnsupportedOperationException(
      "graft catalog tables take at most one bucket(n, col) transform; " +
        s"got ${other.map(_.describe()).mkString(", ")} — use the path API's " +
        "partitionBy option for hive-style layouts")
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val bucketSpec = parseBucketTransform(partitions, schema)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(name()) ++ ident.namespace().toSeq :+ ident.name())
    val dir = nsDir(ident.namespace())
    writeMarker(dir, ident.name(), schema)
    bucketSpec.foreach { case (c, n) =>
      val dataDir = GraftDataSource.resolveDataDir(conf, dir)
      new Path(dataDir).getFileSystem(conf).mkdirs(new Path(dataDir))
      GraftDataSource.writeBucketMarker(conf, dataDir, ident.name(), c, n)
    }
    loadTable(ident)
  }

  // ---- atomic CTAS (StagingTableCatalog) -----------------------------------
  // Without staging, Spark runs CTAS as CREATE then INSERT: a failed
  // insert leaves an empty (or, worse, partially-written) table behind,
  // and concurrent readers can observe the table mid-fill. Staged CTAS
  // writes the data into a DOT-prefixed stage dir — invisible to every
  // lister, which only descends k=v dirs — and makes the table visible
  // in ONE event at commit: the schema marker lands LAST on loose-file
  // namespaces (catalog readers see no table, then the whole table), and
  // generation-pointered namespaces publish a whole new generation (the
  // staged files physically inside it, every live file carried by
  // reference) so even path-based readers switch atomically.
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val bucketSpec = parseBucketTransform(partitions, schema)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(name()) ++ ident.namespace().toSeq :+ ident.name())
    val dir = nsDir(ident.namespace())
    new Path(dir).getFileSystem(conf).mkdirs(new Path(dir))
    val stage = s"$dir/.ctas-${ident.name()}-${java.util.UUID.randomUUID()}"
    new GraftStagedCreate(this, ident, schema, bucketSpec, dir, stage)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    throw new UnsupportedOperationException(
      "REPLACE TABLE AS SELECT is not supported; DROP TABLE then CTAS")

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    throw new UnsupportedOperationException(
      "CREATE OR REPLACE TABLE AS SELECT is not supported; DROP TABLE then CTAS")

  private[sources] def commitStagedCreate(ident: Identifier, schema: StructType,
      bucketSpec: Option[(String, Int)], dir: String, stage: String): Unit = {
    val stagePath = new Path(stage)
    val fs = stagePath.getFileSystem(conf)
    // DDL is single-writer (same offline assumption as every marker
    // write), but a racing CREATE is still refused rather than clobbered
    if (findTableSchema(dir, ident.name()).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(name()) ++ ident.namespace().toSeq :+ ident.name())
    val staged: Seq[Path] =
      if (fs.exists(stagePath))
        fs.listStatus(stagePath).toSeq.filter(_.isFile)
          .map(_.getPath).filter(_.getName.endsWith(".graft"))
      else Seq.empty
    val stageMarker = GraftDataSource.bucketMarkerPath(stage, ident.name())
    val resolved = GraftDataSource.resolveDataDir(conf, dir)
    if (resolved != dir) {
      // pointered namespace: one atomic pointer swap publishes the table
      val s = org.apache.spark.sql.SparkSession.active
      val root = new Path(dir)
      val listed = GraftDataSource.listPartitionedSized(conf, dir)
      // no live file can hold the NEW table ⇒ candidates empty, every
      // live file carries with its stats riding the manifest
      val files = Generations.classifyForDml(conf, root, listed, ident.name(), None, dir)
      val nextGen = Generations.prepareRewrite(s, dir)
      val staging = new Path(root, s"$nextGen.tmp-${java.util.UUID.randomUUID()}")
      Generations.claimStaging(conf, staging)
      staged.foreach(f => AtomicPublish.renameNoClobber(conf, f, new Path(staging, f.getName)))
      GraftDataSource.carryBucketMarkers(fs, conf, dir, staging)
      if (fs.exists(stageMarker))
        AtomicPublish.renameNoClobber(conf, stageMarker,
          new Path(staging, stageMarker.getName))
      GraftDataSource.writeCarryManifest(fs, staging,
        files.map(f =>
          (GraftDataSource.relativePath(root, f.path), f.size, Some(f.statsJson))))
      Generations.publishStaging(fs, conf, root, staging, nextGen, None, dir)
      writeMarker(dir, ident.name(), schema)
    } else {
      // loose layout: data files land first (names are uuid-unique; the
      // CATALOG table stays invisible without its marker), marker LAST
      staged.foreach(f => AtomicPublish.renameNoClobber(conf, f, new Path(dir, f.getName)))
      if (fs.exists(stageMarker))
        AtomicPublish.renameNoClobber(conf, stageMarker,
          GraftDataSource.bucketMarkerPath(dir, ident.name()))
      writeMarker(dir, ident.name(), schema)
    }
    fs.delete(stagePath, true)
  }

  /** Metadata-only schema evolution over the declared-schema marker; no
    * data file is ever rewritten by DDL (see [[graft.format.Evolution]]
    * for the rename-chain / tombstone / widen model):
    *
    *  - ADD COLUMN appends at the end by default, or at a declared
    *    position via FIRST/AFTER (top-level and nested, see [[insertAt]]);
    *    older files read the new column as nulls.
    *  - RENAME COLUMN records the prior spelling in the field's rename
    *    chain; the reader maps old files through it, new writes use the
    *    new name, so the rename heals physically with every rewrite.
    *  - DROP COLUMN tombstones the field (hidden, not deleted from the
    *    marker): old files keep the data for time travel, and re-adding
    *    the dropped name is refused — a fresh same-named column would
    *    silently resurrect the old files' values.
    *  - ALTER COLUMN TYPE accepts the lossless widenings (int→long,
    *    float→double, …); old files decode their narrower values into
    *    the widened vector.
    *
    * Bucket/sort-layout columns refuse rename/drop/widen: the bucket
    * hash and the scan's reported ordering are keyed by name (and, for
    * the hash, by type). DDL is single-writer: concurrent ALTERs on one
    * table are a read-modify-write race (last marker wins) — same
    * offline assumption as compaction. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import graft.format.Evolution
    val dir = nsDir(ident.namespace())
    // seed from the UNION of every file's schema for this table (plus
    // the marker): a marker-less multi-file dataset may hold files of
    // different widths (evolution-on-read), and seeding from the first
    // footer hit would persist the narrowest one as declared, silently
    // hiding the newer files' columns forever after
    val current = unionedTableSchema(dir, ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    val layoutCols: Set[String] = GraftDataSource.readBucketMarker(conf, dir, ident.name())
      .toSeq.flatMap { case (c, _, sort) => c +: sort.toSeq }
      .map(_.toLowerCase).toSet
    // every spelling the marker already owns — visible names, tombstoned
    // names, prior names in rename chains (all case-insensitive, like
    // Spark's identifier resolution)
    def claimedNames(s: StructType): Set[String] =
      s.fields.flatMap(Evolution.allNames).map(_.toLowerCase).toSet
    def liveIndex(s: StructType, name: String): Int = s.fields.indexWhere(f =>
      f.name.equalsIgnoreCase(name) && !Evolution.isDropped(f))
    // navigate a dotted path's PARENT segments into nested structs and
    // rewrite the level the operation targets. Paths descend through
    // struct fields only (array element / map entry DDL is refused —
    // the reader's evolution mapping is name-keyed per struct level).
    def navigate(s: StructType, parents: Seq[String], what: String)(
        op: StructType => StructType): StructType = parents match {
      case Seq() => op(s)
      case head +: rest =>
        val i = liveIndex(s, head)
        if (i < 0) throw new IllegalArgumentException(
          s"column $head does not exist in ${ident.name()}")
        s.fields(i).dataType match {
          case st: StructType => StructType(s.fields.updated(i,
            s.fields(i).copy(dataType = navigate(st, rest, what)(op))))
          case other => throw new UnsupportedOperationException(
            s"nested $what: $head is ${other.simpleString}, not a struct — " +
              "only struct paths are supported")
        }
    }
    def locateLeaf(s: StructType, name: String, what: String): Int = {
      val i = liveIndex(s, name)
      if (i < 0) throw new IllegalArgumentException(
        s"column $name does not exist in ${ident.name()}")
      i
    }
    // layout columns are top-level; any DDL under a layout ROOT is
    // refused too (the bucket hash is keyed by the column's full value)
    def refuseLayout(names: Array[String], what: String): Unit =
      if (layoutCols.contains(names.head.toLowerCase))
        throw new UnsupportedOperationException(
          s"cannot $what column ${names.mkString(".")}: it anchors the " +
            "table's declared bucket/sort layout (drop the layout first " +
            "by recreating the table)")
    def insertAt(s: StructType, field: org.apache.spark.sql.types.StructField,
        position: TableChange.ColumnPosition, what: String): StructType = {
      val idx = position match {
        case null => s.fields.length
        case _: TableChange.First => 0
        case after: TableChange.After =>
          val i = liveIndex(s, after.column())
          if (i < 0) throw new IllegalArgumentException(
            s"$what: AFTER column ${after.column()} does not exist")
          i + 1
        case other => throw new UnsupportedOperationException(
          s"unsupported column position ${other.getClass.getSimpleName}")
      }
      StructType((s.fields.take(idx) :+ field) ++ s.fields.drop(idx))
    }
    val evolved = changes.foldLeft(current) {
      case (top, add: TableChange.AddColumn) =>
        if (!add.isNullable)
          throw new UnsupportedOperationException(
            "added columns must be nullable: files written before the ALTER read them as null")
        navigate(top, add.fieldNames().init.toSeq, "ADD COLUMN") { s =>
          // case-insensitive: Spark resolves identifiers case-insensitively
          // by default, so persisting both l_comment and L_Comment would
          // brick every later query with AMBIGUOUS_REFERENCE. Tombstoned
          // and prior-renamed names are claimed too: old files still store
          // values under them, and a fresh column reusing the name would
          // resurrect that data. Claims are PER STRUCT LEVEL — the same
          // leaf name under two different structs is fine.
          val leaf = add.fieldNames().last
          if (claimedNames(s).contains(leaf.toLowerCase))
            throw new IllegalArgumentException(
              s"column name ${add.fieldNames().mkString(".")} is already in " +
                "use (live, previously dropped, or a pre-rename spelling); " +
                "pick a fresh name")
          insertAt(s,
            org.apache.spark.sql.types.StructField(leaf, add.dataType(), nullable = true),
            add.position(), "ADD COLUMN")
        }
      case (top, rn: TableChange.RenameColumn) =>
        refuseLayout(rn.fieldNames(), "rename")
        navigate(top, rn.fieldNames().init.toSeq, "RENAME COLUMN") { s =>
          val i = locateLeaf(s, rn.fieldNames().last, "RENAME COLUMN")
          if (claimedNames(s).contains(rn.newName().toLowerCase))
            throw new IllegalArgumentException(
              s"column name ${rn.newName()} is already in use " +
                "(live, previously dropped, or a pre-rename spelling)")
          StructType(s.fields.updated(i, Evolution.renameField(s.fields(i), rn.newName())))
        }
      case (top, del: TableChange.DeleteColumn) =>
        // IF EXISTS swallows a missing path at ANY segment (catch below);
        // refusals (layout anchor, last field) still surface loudly
        try navigate(top, del.fieldNames().init.toSeq, "DROP COLUMN") { s =>
          val i = liveIndex(s, del.fieldNames().last)
          if (i < 0) throw new IllegalArgumentException(
            s"column ${del.fieldNames().mkString(".")} does not exist " +
              s"in ${ident.name()}")
          refuseLayout(del.fieldNames(), "drop")
          if (s.fields.count(!Evolution.isDropped(_)) == 1)
            throw new UnsupportedOperationException(
              if (del.fieldNames().length == 1) "cannot drop a table's last column"
              else s"cannot drop the last field of struct " +
                s"${del.fieldNames().init.mkString(".")} (drop the struct itself)")
          StructType(s.fields.updated(i, Evolution.dropField(s.fields(i))))
        } catch {
          case _: IllegalArgumentException if del.ifExists() => top
        }
      case (top, up: TableChange.UpdateColumnType) =>
        refuseLayout(up.fieldNames(), "change the type of")
        navigate(top, up.fieldNames().init.toSeq, "ALTER COLUMN TYPE") { s =>
          val i = locateLeaf(s, up.fieldNames().last, "ALTER COLUMN TYPE")
          val from = s.fields(i).dataType
          if (!Evolution.widens(from, up.newDataType()))
            throw new UnsupportedOperationException(
              s"only lossless widenings are supported (byte→short→int→long, " +
                s"float→double, decimal growing digits/scale); got " +
                s"${from.simpleString} → ${up.newDataType().simpleString}")
          StructType(s.fields.updated(i, s.fields(i).copy(dataType = up.newDataType())))
        }
      case (_, other) => throw new UnsupportedOperationException(
        "graft catalog supports ADD/RENAME/DROP COLUMN (incl. nested and " +
          "FIRST/AFTER positions) and widening ALTER COLUMN TYPE; got " +
          other.getClass.getSimpleName)
    }
    writeMarker(dir, ident.name(), evolved)
    loadTable(ident)
  }

  /** Marker schema + every footer schema for `table`, folded additively
    * (fields merged by name, first occurrence's type wins; a TYPE
    * conflict for one name is refused loudly — except the lossless
    * widenings ALTER COLUMN TYPE produces, where the wider type wins).
    * Footer fields the marker already CLAIMS under another spelling
    * (rename chains) or as a tombstone (dropped columns) never surface
    * as separate columns. */
  private def unionedTableSchema(dir: String, table: String): Option[StructType] = {
    import graft.format.Evolution
    val files = GraftDataSource.listFiles(conf, dir)
    val fromFiles = GraftDataSource.inParallel(files) { f =>
      openFooter(f)(_.footer.chunks.flatMap(_.tables).find(_.name == table).map(_.schema))
    }.flatten
    val marker = markerSchema(dir, table)
    val claimed: Set[String] = marker.toSeq.flatMap(_.fields.toSeq)
      .flatMap(Evolution.allNames).map(_.toLowerCase).toSet
    val all = marker.toSeq ++ fromFiles
    if (all.isEmpty) None
    else Some(all.reduce { (a, b) =>
      b.fields.foldLeft(a) { (s, f) =>
        s.fields.indexWhere(_.name == f.name) match {
          case i if i >= 0 =>
            val existing = s.fields(i)
            if (existing.dataType == f.dataType) s
            else StructType(s.fields.updated(i, existing.copy(dataType =
              // wider side wins; struct sides merge recursively through
              // the marker's nested rename chains and tombstones
              Evolution.reconcileType(existing.dataType, f.dataType,
                s"table $table ${f.name}"))))
          case _ if claimed.contains(f.name.toLowerCase) => s // old spelling/tombstoned
          case _ => s.add(f)
        }
      }
    })
  }

  /** Drops the table's schema marker and its single-table files; a file
    * mixing several tables (multi-table chunk) is shared state and
    * refuses the drop.
    *
    * GENERATION-POINTERED namespaces never delete bytes here: the drop
    * publishes a NEW generation whose carry manifest simply omits the
    * table's files. Physically deleting them would leave the live
    * manifest's entries dangling — every sibling table's next scan would
    * list a carried path and crash on its missing footer — and would
    * gut the frozen older generations whose time-travel readability
    * (`loadTable(ident, version)`: "a since-dropped table included") is
    * part of the contract. The dropped files stop being referenced and
    * the normal grace sweep reclaims them later. Pointerless (loose-
    * file) namespaces have no manifests and no generations to protect,
    * so they keep the direct physical delete. */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = nsDir(ident.namespace())
    val marker = schemaMarker(dir, ident.name())
    val fs = marker.getFileSystem(conf)
    val hadMarker = fs.exists(marker)
    val resolved = GraftDataSource.resolveDataDir(conf, dir)
    var hadFiles = false
    if (resolved != dir) {
      // pointered: classify the live view (manifest stats, zero footer
      // I/O for covered files) and publish a generation WITHOUT the
      // table's files — copy-on-write drop, bytes reclaimed by the sweep
      val s = org.apache.spark.sql.SparkSession.active
      val root = new Path(dir)
      val listed = GraftDataSource.listPartitionedSized(conf, dir)
      val files = Generations.classifyForDml(conf, root, listed,
        ident.name(), None, dir)
      files.find(f => f.candidate && f.names.size > 1).foreach { f =>
        throw new UnsupportedOperationException(
          s"table ${ident.name()} shares multi-table file ${f.path}; " +
            "drop the namespace directory instead")
      }
      val (dropped, carried) = files.partition(_.candidate)
      hadFiles = dropped.nonEmpty
      if (hadFiles) {
        val nextGen = Generations.prepareRewrite(s, dir)
        val staging = new Path(root, s"$nextGen.tmp-${java.util.UUID.randomUUID()}")
        Generations.claimStaging(conf, staging)
        GraftDataSource.carryBucketMarkers(fs, conf, dir, staging)
        // the dropped table's own bucket marker must NOT carry forward
        fs.delete(GraftDataSource.bucketMarkerPath(staging.toString, ident.name()), false)
        GraftDataSource.writeCarryManifest(fs, staging,
          carried.map(f =>
            (GraftDataSource.relativePath(root, f.path), f.size, Some(f.statsJson))))
        Generations.publishStaging(fs, conf, root, staging, nextGen, None, dir)
      }
    } else {
      val files = GraftDataSource.listFiles(conf, dir)
      val probed = GraftDataSource.inParallel(files)(f => (f, openFooter(f)(_.tableNames)))
      val owned = probed.flatMap { case (f, names) =>
        if (names == Seq(ident.name())) Some(f)
        else if (names.contains(ident.name()))
          throw new UnsupportedOperationException(
            s"table ${ident.name()} shares multi-table file $f; drop the namespace directory instead")
        else None
      }
      hadFiles = owned.nonEmpty
      owned.foreach(f => f.getFileSystem(conf).delete(f, false))
    }
    if (hadMarker) fs.delete(marker, false)
    // the bucket-spec marker dies with the table: a later CREATE TABLE
    // under the same name must not inherit a layout it never declared
    // (loadTable injects the marker as write options)
    val bucketMarker = GraftDataSource.bucketMarkerPath(
      GraftDataSource.resolveDataDir(conf, dir), ident.name())
    if (fs.exists(bucketMarker)) fs.delete(bucketMarker, false)
    hadMarker || hadFiles
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog tables cannot be renamed")

  /** FunctionCatalog surface: exactly one function, `bucket`, the
    * write-side hash the scan's reported key-grouped partitioning names.
    * Spark resolves it from the relation's catalog when comparing two
    * bucketed graft scans for join co-partitioning — this registration is
    * the last link that lets a lineitem⋈orders over same-spec bucketed
    * tables run with zero shuffle (storage-partitioned join). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespaceExists(namespace))
      Array(Identifier.of(namespace, "bucket"))
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace.toSeq)

  override def loadFunction(ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    ident.name().equalsIgnoreCase("bucket")

  // ---- SQL procedures: CALL cat.sys.{history,vacuum,restore}(...) -----------
  // The maintenance surface as first-class SQL (Spark 4's DSv2
  // ProcedureCatalog): `CALL graft.sys.history(ns => 'db')` returns the
  // generation history as rows (LocalScan), `vacuum` reclaims retention,
  // `restore` rolls the namespace back — no Scala API needed for the
  // operational story. Procedures live under the reserved `sys`
  // namespace; the `ns` argument is the catalog namespace (dotted for
  // nested), resolved through the same nsDir as every table.
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, TimestampType}

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.map(_.toLowerCase).toSeq == Seq("sys"))
      Array("history", "vacuum", "restore", "compact", "compact_to_size",
        "cluster", "contract", "audit", "reindex_ivf", "analyze",
        "verify_table", "materialize_dvs", "changes_summary")
        .map(Identifier.of(Array("sys"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    (ident.namespace.toSeq.map(_.toLowerCase), ident.name.toLowerCase) match {
      case (Seq("sys"), "history") => historyProc
      case (Seq("sys"), "vacuum") => vacuumProc
      case (Seq("sys"), "restore") => restoreProc
      case (Seq("sys"), "compact") => compactProc
      case (Seq("sys"), "compact_to_size") => compactToSizeProc
      case (Seq("sys"), "cluster") => clusterProc
      case (Seq("sys"), "contract") => contractProc
      case (Seq("sys"), "audit") => auditProc
      case (Seq("sys"), "reindex_ivf") => reindexIvfProc
      case (Seq("sys"), "analyze") => analyzeProc
      case (Seq("sys"), "verify_table") => verifyTableProc
      case (Seq("sys"), "materialize_dvs") => materializeDvsProc
      case (Seq("sys"), "changes_summary") => changesSummaryProc
      case _ => throw new IllegalArgumentException(
        s"unknown procedure $ident — available: sys.history(ns), " +
          "sys.vacuum(ns, grace_ms), sys.restore(ns, generation), " +
          "sys.compact(ns, target_files), sys.compact_to_size(ns, target_bytes), " +
          "sys.cluster(ns, cols, target_files, table, binning), " +
          "sys.contract(ns), sys.audit(ns), sys.reindex_ivf(ns, cells), " +
          "sys.analyze(ns, exact), sys.materialize_dvs(ns, table, min_fraction)")
    }

  /** Shared shape: unbound and bound in one object (binding is trivial —
    * parameters are declared statically). */
  private abstract class SysProc(procName: String, desc: String,
      params: Array[ProcedureParameter]) extends UnboundProcedure with BoundProcedure {
    override def name: String = procName
    override def description: String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters: Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    protected def dirOf(input: InternalRow): String = {
      require(!input.isNullAt(0), s"$procName: ns must not be NULL")
      val parts = input.getUTF8String(0).toString.split("\\.").filter(_.nonEmpty)
      // '' or '.' would resolve to the catalog ROOT — maintenance aimed
      // at the whole warehouse is never what a typo'd CALL meant
      require(parts.nonEmpty, s"$procName: ns must name a namespace, got ''")
      nsDir(parts)
    }
    protected def done: java.util.Iterator[Scan] =
      java.util.Collections.emptyIterator[Scan]()
  }

  private val historySchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("generation", IntegerType),
    org.apache.spark.sql.types.StructField("is_live", BooleanType),
    org.apache.spark.sql.types.StructField("birth", TimestampType),
    org.apache.spark.sql.types.StructField("tag", StringType),
    org.apache.spark.sql.types.StructField("n_files", LongType),
    org.apache.spark.sql.types.StructField("bytes", LongType)))

  private lazy val historyProc: UnboundProcedure = new SysProc("history",
    "generation history of a graft namespace (index, live, birth, tag, files, bytes)",
    Array(ProcedureParameter.in("ns", StringType).build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val out = Generations.historyRows(conf, dirOf(input))
        .map { case (i, live, birth, tag, n, b) =>
          InternalRow(i, live,
            birth.map(ms => Long.box(ms * 1000L)).orNull, // epoch ms → µs
            tag.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
            n, b): InternalRow
        }.toArray
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = historySchema
      }).iterator()
    }
  }

  private lazy val vacuumProc: UnboundProcedure = new SysProc("vacuum",
    "reclaim superseded generations past the grace window (grace_ms < 0 = session default)",
    Array(ProcedureParameter.in("ns", StringType).build(),
      ProcedureParameter.in("grace_ms", LongType).defaultValue("-1").build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      Generations.vacuum(org.apache.spark.sql.SparkSession.active, dirOf(input),
        if (input.isNullAt(1)) -1L else input.getLong(1))
      done
    }
  }

  private val verifySchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file", StringType),
    org.apache.spark.sql.types.StructField("ok", BooleanType),
    org.apache.spark.sql.types.StructField("chunks", IntegerType),
    org.apache.spark.sql.types.StructField("rows", LongType),
    org.apache.spark.sql.types.StructField("error", StringType)))

  /** `CALL sys.verify_table(ns [, table])` — distributed full-integrity
    * walk: head magic, footer checksum, structural bounds, every data
    * page's xxhash64, full decode of every chunk. One row per live
    * file; `ok = false` rows carry the refusal message. */
  private lazy val verifyTableProc: UnboundProcedure = new SysProc("verify_table",
    "verify every live file end-to-end (checksums + full decode); one row per file",
    Array(ProcedureParameter.in("ns", StringType).build(),
      ProcedureParameter.in("table", StringType).defaultValue("''").build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tbl = if (input.isNullAt(1)) None
        else Some(input.getUTF8String(1).toString).filter(_.nonEmpty)
      val out = graft.operators.FormatOps.verifyTable(
        org.apache.spark.sql.SparkSession.active, dirOf(input), tbl)
        .map { case (f, ok, chunks, rows, err) =>
          InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(f),
            ok, chunks, rows,
            err.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull): InternalRow
        }.toArray
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = verifySchema
      }).iterator()
    }
  }

  private val contractSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("name", StringType),
    org.apache.spark.sql.types.StructField("sql", StringType)))

  private lazy val contractProc: UnboundProcedure = new SysProc("contract",
    "the namespace's standing data-contract expectations as (name, sql) rows",
    Array(ProcedureParameter.in("ns", StringType).build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val out = graft.operators.FormatOps.contractSql(conf, dirOf(input))
        .map { case (n, sql) =>
          InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(n),
            org.apache.spark.unsafe.types.UTF8String.fromString(sql)): InternalRow
        }.toArray
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = contractSchema
      }).iterator()
    }
  }

  private val auditSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("name", StringType),
    org.apache.spark.sql.types.StructField("violations", LongType)))

  private lazy val auditProc: UnboundProcedure = new SysProc("audit",
    "validate the LIVE table against its standing contract: per-expectation violation counts",
    Array(ProcedureParameter.in("ns", StringType).build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val out = graft.operators.FormatOps.auditContract(
        org.apache.spark.sql.SparkSession.active, dirOf(input))
        .map { case (n, v) =>
          InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(n), v): InternalRow
        }.toArray
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = auditSchema
      }).iterator()
    }
  }

  private val analyzeSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("col_name", StringType),
    org.apache.spark.sql.types.StructField("ndv", LongType),
    org.apache.spark.sql.types.StructField("null_count", LongType),
    org.apache.spark.sql.types.StructField("avg_len", LongType),
    org.apache.spark.sql.types.StructField("max_len", LongType)))

  private lazy val analyzeProc: UnboundProcedure = new SysProc("analyze",
    "compute + persist column statistics (NDV, nulls, lengths, min/max) for CBO; " +
      "exact=false uses an HLL sketch for NDV (the at-scale default); " +
      "table names which table of the namespace dir to analyze",
    Array(ProcedureParameter.in("ns", StringType).build(),
      ProcedureParameter.in("exact", BooleanType).defaultValue("false").build(),
      ProcedureParameter.in("table", StringType).defaultValue("'data'").build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val exact = !input.isNullAt(1) && input.getBoolean(1)
      val table = if (input.isNullAt(2)) "data" else input.getUTF8String(2).toString
      val out = graft.operators.FormatOps.analyzeTable(
        org.apache.spark.sql.SparkSession.active, dirOf(input), table, exact = exact)
        .map { case (name, c) =>
          InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(name),
            c.ndv, c.nullCount,
            c.avgLen.map(Long.box).orNull, c.maxLen.map(Long.box).orNull): InternalRow
        }.toArray
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = analyzeSchema
      }).iterator()
    }
  }

  // NULL int args must refuse, never unbox: getInt on a null slot yields
  // 0, and `restore(ns, NULL)` silently rolling back to gen-00000 is a
  // destructive surprise (vacuum's grace guard had this right already)
  private def requiredInt(input: InternalRow, ord: Int, arg: String): Int = {
    if (input.isNullAt(ord))
      throw new IllegalArgumentException(s"procedure argument $arg must not be NULL")
    input.getInt(ord)
  }

  private lazy val compactProc: UnboundProcedure = new SysProc("compact",
    "rewrite a namespace's live data into target_files files per table (OPTIMIZE)",
    Array(ProcedureParameter.in("ns", StringType).build(),
      ProcedureParameter.in("target_files", IntegerType).build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      graft.operators.FormatOps.compact(
        org.apache.spark.sql.SparkSession.active, dirOf(input),
        requiredInt(input, 1, "target_files"))
      done
    }
  }

  private lazy val compactToSizeProc: UnboundProcedure = new SysProc("compact_to_size",
    "rewrite a namespace's live data into files of ~target_bytes each",
    Array(ProcedureParameter.in("ns", StringType).build(),
      ProcedureParameter.in("target_bytes", LongType).build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      if (input.isNullAt(1))
        throw new IllegalArgumentException("procedure argument target_bytes must not be NULL")
      graft.operators.FormatOps.compactToSize(
        org.apache.spark.sql.SparkSession.active, dirOf(input), input.getLong(1))
      done
    }
  }

  /** `CALL sys.cluster(ns, cols, target_files [, table] [, binning])` —
    * the SQL face of [[graft.operators.FormatOps.cluster]]: z-order
    * (Morton) clustering of `table` on the comma-separated `cols`, into
    * `target_files` range-partitioned files. `binning` picks the bucket
    * mode: 'uniform' (two metadata-cheap jobs) or 'quantile' (skew-
    * robust — equal row mass per bucket at the cost of one extra
    * column-pruned pass). */
  private lazy val clusterProc: UnboundProcedure = new SysProc("cluster",
    "cluster a table on 1-4 columns (1 = exact sort, 2-4 = z-order) so range filters prune",
    Array(ProcedureParameter.in("ns", StringType).build(),
      ProcedureParameter.in("cols", StringType).defaultValue("NULL").build(),
      ProcedureParameter.in("target_files", IntegerType).defaultValue("NULL").build(),
      ProcedureParameter.in("table", StringType).defaultValue("'data'").build(),
      ProcedureParameter.in("binning", StringType).defaultValue("'uniform'").build(),
      // incremental => true reclusters ONLY the files that postdate the
      // recorded rewrite (DESCRIBE's 'partial' drift set) and merges —
      // cost ∝ drift; cols/target_files/binning come from the record
      ProcedureParameter.in("incremental", org.apache.spark.sql.types.BooleanType)
        .defaultValue("false").build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tbl = if (input.isNullAt(3)) "data" else input.getUTF8String(3).toString
      val incremental = !input.isNullAt(5) && input.getBoolean(5)
      if (incremental) {
        graft.operators.FormatOps.clusterIncremental(
          org.apache.spark.sql.SparkSession.active, dirOf(input), tbl)
        return done
      }
      if (input.isNullAt(1))
        throw new IllegalArgumentException("procedure argument cols must not be NULL")
      val cols = input.getUTF8String(1).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val binning = if (input.isNullAt(4)) "uniform" else input.getUTF8String(4).toString
      graft.operators.FormatOps.cluster(
        org.apache.spark.sql.SparkSession.active, dirOf(input), tbl, cols,
        requiredInt(input, 2, "target_files"), binning = binning)
      done
    }
  }

  private val materializeDvsSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file", StringType),
    org.apache.spark.sql.types.StructField("deleted_rows", LongType),
    org.apache.spark.sql.types.StructField("file_rows", LongType)))

  /** `CALL sys.materialize_dvs(ns [, table] [, min_fraction])` — rewrite
    * ONLY the files whose merge-on-read delete vector covers at least
    * `min_fraction` of their rows; everything else (and its remaining
    * DV) carries by reference. One row per materialized file. */
  private lazy val materializeDvsProc: UnboundProcedure = new SysProc("materialize_dvs",
    "rewrite only the files whose delete vector covers >= min_fraction of rows",
    Array(ProcedureParameter.in("ns", StringType).build(),
      ProcedureParameter.in("table", StringType).defaultValue("'data'").build(),
      ProcedureParameter.in("min_fraction", org.apache.spark.sql.types.DoubleType)
        .defaultValue("0.0").build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tbl = if (input.isNullAt(1)) "data" else input.getUTF8String(1).toString
      val frac = if (input.isNullAt(2)) 0.0 else input.getDouble(2)
      val out = Generations.materializeDvs(
        org.apache.spark.sql.SparkSession.active, dirOf(input), tbl, frac)
        .map { case (rel, deleted, rows) =>
          InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(rel),
            deleted, rows): InternalRow
        }.toArray
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = materializeDvsSchema
      }).iterator()
    }
  }

  private val changesSummarySchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("change_type", StringType),
    org.apache.spark.sql.types.StructField("n", LongType)))

  /** `CALL sys.changes_summary(ns, from_gen [, to_gen] [, keys] [, table])`
    * — per-type row counts of the generation diff, through the
    * file-granular fast path (unchanged files skipped outright): the SQL
    * face of [[graft.operators.FormatOps.changesBetween]]. `keys` is a
    * comma-separated key-column list; `to_gen` < 0 means the live view. */
  private lazy val changesSummaryProc: UnboundProcedure = new SysProc("changes_summary",
    "per-change-type row counts between two generations (file-granular diff)",
    Array(ProcedureParameter.in("ns", StringType).build(),
      ProcedureParameter.in("from_gen", IntegerType).build(),
      ProcedureParameter.in("to_gen", IntegerType).defaultValue("-1").build(),
      ProcedureParameter.in("keys", StringType).defaultValue("'k'").build(),
      ProcedureParameter.in("table", StringType).defaultValue("''").build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      if (input.isNullAt(1))
        throw new IllegalArgumentException("procedure argument from_gen must not be NULL")
      val fromGen = input.getInt(1)
      val toGen = if (input.isNullAt(2) || input.getInt(2) < 0) None
        else Some(input.getInt(2))
      val keys = (if (input.isNullAt(3)) "k" else input.getUTF8String(3).toString)
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      // the diff reads the dir without a table option (single-table
      // namespaces); an explicit table is not yet supported here
      val tbl = if (input.isNullAt(4)) "" else input.getUTF8String(4).toString
      require(tbl.isEmpty,
        "changes_summary diffs single-table namespaces; the table argument " +
          "is reserved (pass namespaces whose dir holds one table)")
      val s = org.apache.spark.sql.SparkSession.active
      import org.apache.spark.sql.functions.{col, count, lit}
      val out = graft.operators.FormatOps
        .changesBetween(s, dirOf(input), fromGen, toGen, keys)
        .groupBy(col("change_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("change_type"))
        .collect()
        .map(r => InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
          r.getLong(1)): InternalRow)
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = changesSummarySchema
      }).iterator()
    }
  }

  private lazy val reindexIvfProc: UnboundProcedure = new SysProc("reindex_ivf",
    "re-cluster a persisted IVF index (cells/ + centroids/ under ns) into `cells` cells",
    Array(ProcedureParameter.in("ns", StringType).build(),
      ProcedureParameter.in("cells", IntegerType).build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      graft.operators.Similarity.ivfReindex(
        org.apache.spark.sql.SparkSession.active, dirOf(input),
        requiredInt(input, 1, "cells"))
      done
    }
  }

  private lazy val restoreProc: UnboundProcedure = new SysProc("restore",
    "roll a namespace back to a still-present generation (pointer swing, no data copied)",
    Array(ProcedureParameter.in("ns", StringType).build(),
      ProcedureParameter.in("generation", IntegerType).build())) {
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      Generations.restore(org.apache.spark.sql.SparkSession.active, dirOf(input),
        requiredInt(input, 1, "generation"))
      done
    }
  }
}

/** The CTAS stage handle: a table whose writes land in the invisible
  * dot-prefixed stage dir; commit publishes atomically through
  * [[GraftCatalog.commitStagedCreate]], abort deletes the stage. */
private[sources] class GraftStagedCreate(cat: GraftCatalog,
    ident: Identifier, tableSchema: StructType,
    bucketSpec: Option[(String, Int)], dir: String, stage: String)
    extends StagedTable with SupportsWrite {

  private val inner: GraftTable = {
    val opts = Map("path" -> stage, "table" -> ident.name()) ++
      bucketSpec.map { case (c, n) => "bucketby" -> s"$c:$n" }
    new GraftTable(stage, tableSchema, new CaseInsensitiveStringMap(opts.asJava))
  }

  override def name(): String = ident.toString
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] = inner.capabilities()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit =
    cat.commitStagedCreate(ident, tableSchema, bucketSpec, dir, stage)
  override def abortStagedChanges(): Unit = {
    val p = new Path(stage)
    p.getFileSystem(GraftDataSource.sessionConf()).delete(p, true)
  }
}
