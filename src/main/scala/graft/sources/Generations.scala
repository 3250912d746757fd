package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

/** Copy-on-write generation rewrites — the machinery shared by offline
  * compaction ([[graft.operators.FormatOps.compact]]) and row-level DML
  * (`DELETE FROM` via [[GraftTable]]'s `SupportsDelete`, and
  * [[graft.operators.FormatOps.updateWhere]]/`upsert`).
  *
  * The reference format is append-only (chunks are immutable once
  * written, `src/write.zig`); mutation therefore happens the way every
  * immutable-file table format does it: write a FULL new copy of the
  * live data — transformed — into a fresh `gen-NNNNN` directory beside
  * the live one, then swing the `.graft-gen` pointer in one atomic
  * rename. Readers resolve the pointer once per scan and see the old
  * generation or the new one, never a mixture; superseded generations
  * stay readable (`VERSION AS OF`) until a later rewrite's grace-period
  * sweep reclaims them.
  *
  * Concurrency: each rewrite stages its output under a unique
  * `gen-NNNNN.tmp-<uuid>` dir and publishes it with one no-overwrite
  * directory rename to `gen-NNNNN` — the rename is the commit CAS: when
  * two rewrites race to the same next index, exactly one wins (two
  * writers appending into one shared gen dir would otherwise interleave
  * half of each rewrite). File-granular DML ([[rewriteTable]]) then
  * resolves the race OPTIMISTICALLY: the loser re-reads the winner's
  * view, checks file-level conflict (the files it rewrote must be
  * carried untouched by the winner, and nothing the winner added may
  * admit its key filters), rebases its carry manifest, and re-publishes
  * at the next index — two upserts on disjoint keys BOTH commit, equal
  * to a serial order ([[rebaseStaging]]). A true overlap, and the full
  * [[rewrite]] (whose footprint is the whole table), still fail loudly.
  * Readers are safe throughout. Crash anywhere: the pointer still names
  * a complete generation; half-written tmp dirs and unreferenced gen
  * dirs are garbage the next rewrite removes unconditionally.
  */
object Generations {

  /** A generation publish lost its `gen-NNNNN` rename to a concurrent
    * rewrite. [[rewriteTable]] catches this and attempts an optimistic
    * REBASE (conflict-checked re-publish at the next index); every other
    * path propagates it as the loud single-writer failure. */
  final class GenerationConflictException(msg: String, cause: Throwable = null)
      extends graft.format.OliveFormatException(msg, cause)

  /** The pointer-publish [[ConditionalPut.ObjectStore]] for `dir`, when
    * its scheme has no atomic rename (true object stores) or the CAS
    * path is forced via hadoop conf `spark.graft.pointer.cas=true`
    * (how the contract spec and gates exercise it on the local scheme).
    * None = rename-based [[AtomicPublish]] protocol (POSIX/HDFS). */
  private[sources] def casStoreFor(conf: Configuration,
      dir: String): Option[ConditionalPut.ObjectStore] = {
    val objectSchemes = Set("s3", "s3a", "s3n", "gs", "abfs", "abfss",
      "wasb", "wasbs", "oss", "cos", "swift")
    val scheme = Option(new Path(dir).toUri.getScheme).getOrElse("")
    if (conf.getBoolean("spark.graft.pointer.cas", false) ||
        objectSchemes.contains(scheme))
      Some(new ConditionalPut.HadoopFsStore(conf))
    else None
  }

  /** Table names present in `dir`'s LIVE generation (pointer-resolved
    * by the DSv2 listing), via a parallel footer probe. */
  def liveTableNames(conf: Configuration, dir: String): Seq[String] = {
    val listed = GraftDataSource.listPartitionedFiles(conf, dir)
    GraftDataSource.inParallel(listed.map(_._1)) { f =>
      val r = graft.format.GraftFileReader.open(f.getFileSystem(conf), f)
      try r.tableNames finally r.close()
    }.flatten.distinct.sorted
  }

  /** Rewrite `dir`'s live data into a new generation and atomically
    * swap the pointer to it.
    *
    * Every named table in the directory is read from the live view and
    * passed through `transform(tableName, df)`; the result lands in the
    * new generation (hive partition layout preserved). `targetFiles`
    * repartitions each table when set (compaction); when None the
    * scan's own partitioning flows through (DML rewrites keep the
    * existing file granularity).
    *
    * Sweep rules for dead data (two kinds, two rules):
    *  - NEVER-referenced garbage (gen dirs above the live index — a
    *    crashed rewrite's half-written output) is deleted
    *    unconditionally: no reader can have planned on it.
    *  - SUPERSEDED data (generations below the live index, legacy loose
    *    files once a pointer exists) had readers until the last swap,
    *    so it is reclaimed only when that swap is at least `graceMs`
    *    old — rapid repeated rewrites accumulate grace copies instead
    *    of yanking files from under in-flight queries.
    *
    * `graceMs` < 0 (the default) resolves `spark.graft.graceMs` from the
    * session conf, falling back to 15 minutes — deployments tune the
    * reader window per cluster without threading a parameter through
    * every compaction/DML call. The grace window is a LEASE BY
    * CONVENTION, not an enforced one: a scan that stays planned on a
    * superseded generation for longer than the grace (a long queue wait,
    * a straggler stage) can lose files mid-read; it fails cleanly
    * (missing-file task error), never silently returns partial rows,
    * because the file list was pinned at planning. Size the window above
    * the cluster's longest query. */
  /** Resolve an explicit grace against the session conf default. A
    * malformed conf value fails NAMING the key — a bare
    * NumberFormatException from deep inside a DELETE is undebuggable. */
  private def resolveGrace(s: SparkSession, graceMs: Long): Long =
    if (graceMs >= 0) graceMs
    else s.conf.getOption("spark.graft.graceMs").map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"spark.graft.graceMs must be a millisecond count, got '$v'"))
    }.getOrElse(15 * 60 * 1000L)

  /** One pass of the dead-data sweep (rules in [[rewrite]]'s doc):
    * deletes reclaimable entries under `root` and returns the highest
    * surviving generation index (live or published-but-unswapped), which
    * a rewrite must allocate past. Shared by [[rewrite]] (entry sweep)
    * and [[vacuum]] (standalone reclaim). */
  private def sweepDeadData(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      liveIdx: Option[Int], lastSwapOld: Boolean, grace: Long): Int = {
    var maxSurvivingIdx = liveIdx.getOrElse(0)
    val entries = fs.listStatus(root)
    def stale(st: org.apache.hadoop.fs.FileStatus): Boolean =
      System.currentTimeMillis() - st.getModificationTime >= grace
    // staging staleness must look INSIDE the dir: a partitioned write
    // lands files under k=v/ subdirs, bumping only those dirs' mtimes —
    // the staging ROOT's mtime stays at job start, so a long-running
    // rewrite would look stale to a concurrent sweep while actively
    // writing. The newest mtime across the root, its children, and its
    // files is the real activity signal (walk cost only paid for
    // root-stale candidates, and sweeps are rare).
    def deepStale(st: org.apache.hadoop.fs.FileStatus): Boolean =
      stale(st) && {
        var newest = st.getModificationTime
        try {
          fs.listStatus(st.getPath).foreach(c => newest = math.max(newest, c.getModificationTime))
          val it = fs.listFiles(st.getPath, true)
          while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
        } catch { case _: java.io.IOException => } // vanished mid-walk
        System.currentTimeMillis() - newest >= grace
      }
    // Pass 1 — classify. Reclaimable entries can still hold files a
    // SURVIVING generation's carry manifest references (file-granular
    // DML carries untouched files of older generations by reference),
    // so deletion below is file-selective, never blind.
    val tmpVictims = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    val victims = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    val survivors = Seq.newBuilder[Path]
    entries.foreach { st =>
      val n = st.getPath.getName
      // the strict 5-digit pattern readers/history/time-travel use — a
      // loose startsWith("gen-") parse classified dirs (gen-1, a user
      // backup) that no other path recognizes, and DELETED them
      val genIdx = if (st.isDirectory) GraftDataSource.genIndex(n) else None
      if (st.isDirectory && n.matches("gen-\\d+\\.tmp-.*")) {
        // a crashed rewrite's unpublished staging — but only once it has
        // gone stale: deleting a fresh tmp would yank a CONCURRENT
        // rewrite's staging from under it mid-write
        if (deepStale(st)) tmpVictims += st else survivors += st.getPath
      } else genIdx match {
        case Some(i) if liveIdx.isEmpty || i > liveIdx.get =>
          // above the pointer: a rewrite that published but never swapped
          // (crash, or a concurrent rewrite in its publish→swap window —
          // which is why a fresh one is only stepped over, not deleted)
          if (stale(st)) victims += st
          else { maxSurvivingIdx = math.max(maxSurvivingIdx, i); survivors += st.getPath }
        case Some(i) if i < liveIdx.get && lastSwapOld => victims += st
        case Some(_) => survivors += st.getPath // live, or within grace
        case None =>
          if (lastSwapOld && st.isDirectory && n.contains("=")) victims += st
          else if (lastSwapOld && st.isFile && n.endsWith(".graft")) victims += st
          // a crashed pointer publish's orphan tmp (the atomic move never
          // ran); a FRESH one is a swap in flight — only stale is garbage
          else if (st.isFile && n == GraftDataSource.GenPointerName + ".tmp" && stale(st))
            tmpVictims += st
      }
    }
    // files pinned by any survivor's carry manifest (root-relative paths;
    // fresh stagings pin too — their manifest is about to become live),
    // plus delete-vector blobs its `.dvs` references: a carried file's
    // DV lives in the generation that created it, and losing the blob
    // would silently RESURRECT the deleted rows
    val referenced: Set[String] = survivors.result().flatMap { d =>
      GraftDataSource.readCarryManifest(fs, d).map(_._1) ++
        GraftDataSource.readDvManifest(fs, d).map(_._3)
    }.toSet
    tmpVictims.result().foreach(st => fs.delete(st.getPath, true))
    victims.result().foreach(st => deleteUnreferenced(fs, root, st, referenced))
    maxSurvivingIdx
  }

  /** Reclaim `st` except the files `referenced` pins. A generation dir
    * that loses SOME files stops being a complete snapshot: its
    * `.swap-ts` (and tag/manifest) markers are removed so time travel
    * refuses it loudly instead of serving partial rows; the pinned files
    * stay until the manifests referencing them are themselves swept. */
  private def deleteUnreferenced(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      st: org.apache.hadoop.fs.FileStatus, referenced: Set[String]): Unit = {
    if (st.isFile) {
      if (!referenced.contains(GraftDataSource.relativePath(root, st.getPath)))
        fs.delete(st.getPath, false)
      return
    }
    // ORDERING INVARIANT the racing-reader guard depends on
    // (GraftDataSource.listPartitionedSizedAt): the generation's
    // `.swap-ts` marker is removed BEFORE any data file, so a reader
    // that still sees the marker after finishing its walk is guaranteed
    // a complete listing — a walk overlapping this sweep finds the
    // marker gone and retries instead of silently returning partial rows
    fs.delete(new Path(st.getPath, GraftDataSource.SwapTsName), false)
    if (referenced.isEmpty) { fs.delete(st.getPath, true); return }
    val files = Seq.newBuilder[Path]
    val it = fs.listFiles(st.getPath, true)
    while (it.hasNext) files += it.next().getPath
    val (pinned, dead) = files.result()
      .partition(p => referenced.contains(GraftDataSource.relativePath(root, p)))
    if (pinned.isEmpty) { fs.delete(st.getPath, true); return }
    dead.foreach(fs.delete(_, false))
    fs.delete(new Path(st.getPath, GraftDataSource.RewriteTagName), false)
    fs.delete(new Path(st.getPath, GraftDataSource.CarryManifestName), false)
    fs.delete(new Path(st.getPath, GraftDataSource.DvManifestName), false)
  }

  /** Standalone retention reclaim (`VACUUM`): run the dead-data sweep
    * WITHOUT creating a new generation. [[rewrite]] only sweeps on
    * entry, so a table that stops being rewritten would otherwise keep
    * its superseded generations (and their time-travel readability)
    * forever; vacuum is the explicit end of that retention. Same grace
    * rules as the rewrite sweep — the live generation and anything
    * younger than the grace window survive, so in-flight readers keep
    * the same guarantees (finish or fail cleanly, never wrong rows). */
  def vacuum(s: SparkSession, dir: String, graceMs: Long = -1L): Unit = {
    prepareRewrite(s, dir, graceMs)
    ()
  }

  /** The idempotency key stamped on a generation dir, if any. Tolerates
    * the dir (or marker) vanishing under a concurrent grace-sweep — the
    * same contract as [[GraftDataSource.readSwapTs]]. */
  def rewriteTag(conf: Configuration, genDir: Path): Option[String] =
    try {
      val p = new Path(genDir, GraftDataSource.RewriteTagName)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim)
        finally in.close()
      }
    } catch { case _: java.io.IOException => None }

  /** One row per generation still on disk: (index, isLive, birth epoch
    * ms, idempotency tag, graft file count, bytes). Metadata-only; a
    * generation reclaimed by a concurrent sweep mid-listing is simply
    * omitted rather than failing the whole call. */
  def historyRows(conf: Configuration, dir: String)
      : Seq[(Int, Boolean, Option[Long], Option[String], Long, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val liveIdx = GraftDataSource.readGenPointer(conf, dir)
      .flatMap(GraftDataSource.genIndex)
    fs.listStatus(root).toSeq.flatMap { st =>
      // a stray FILE named gen-NNNNN is not a generation (the sweep
      // guards identically)
      if (!st.isDirectory) None
      else GraftDataSource.genIndex(st.getPath.getName).flatMap { i =>
        try {
          var nFiles = 0L
          var bytes = 0L
          val it = fs.listFiles(st.getPath, true)
          while (it.hasNext) {
            val f = it.next()
            if (f.getPath.getName.endsWith(".graft")) { nFiles += 1; bytes += f.getLen }
          }
          Some((i, liveIdx.contains(i),
            GraftDataSource.readSwapTs(conf, st.getPath),
            rewriteTag(conf, st.getPath), nFiles, bytes))
        } catch { case _: java.io.IOException => None } // swept mid-listing
      }
    }.sortBy(_._1)
  }

  /** The idempotency key stamped on `dir`'s LIVE generation, if any —
    * the `.rewrite-tag` written by the rewrite that produced it. */
  def liveRewriteTag(conf: Configuration, dir: String): Option[String] =
    GraftDataSource.readGenPointer(conf, dir)
      .flatMap(gen => rewriteTag(conf, new Path(new Path(dir), gen)))

  /** A deliberate pointer write outside the publish path (restore's
    * backward swing and its rollback): routed through the CAS seam on
    * rename-less stores, the rename protocol elsewhere. */
  private def writePointer(conf: Configuration, dir: String, root: Path,
      target: String): Unit = casStoreFor(conf, dir) match {
    case Some(store) =>
      ConditionalPut.update(store,
        new Path(root, GraftDataSource.GenPointerName).toString)(_ => target)
      ()
    case None =>
      AtomicPublish.text(conf, new Path(root, GraftDataSource.GenPointerName), target)
  }

  /** Roll `dir` back to `generation` by swinging the pointer (see
    * [[graft.operators.FormatOps.restore]] for the contract). */
  def restore(s: SparkSession, dir: String, generation: Int): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val target = f"gen-$generation%05d"
    val prev = GraftDataSource.readGenPointer(conf, dir)
    require(fs.exists(new Path(root, target)) &&
      fs.exists(new Path(new Path(root, target), GraftDataSource.SwapTsName)),
      s"generation $generation is not present in $dir (never existed, or " +
        "already vacuumed) — nothing to restore to")
    // same atomic publish as a rewrite's swap; readers see old or new,
    // never a mixture
    writePointer(conf, dir, root, target)
    // check-then-act hardening: a concurrent grace sweep could reclaim
    // the target between the require above and the swap (it was a
    // below-pointer generation until the swap made it live). Re-verify
    // AFTER the swap and roll the pointer back rather than leaving it
    // naming a deleted directory — the accidental-concurrency contract
    // is DETECTED, not wedged. (A sweep landing after THIS check loses
    // the race cleanly: the pointer already protects the target.)
    if (!fs.exists(new Path(new Path(root, target), GraftDataSource.SwapTsName))) {
      prev.foreach(p => writePointer(conf, dir, root, p))
      throw new graft.format.OliveFormatException(
        s"restore of $dir to generation $generation raced a concurrent " +
          s"sweep that reclaimed the target; pointer ${
            prev.fold("left unset")(p => s"restored to $p")} — nothing changed")
    }
    // restart the abandoned future's staleness clock: the sweep judges
    // above-pointer generations by their own mtime, and a generation
    // that was LIVE for an hour is already "stale" the instant the
    // pointer swings back — without this touch its in-flight readers
    // would lose their files with zero grace instead of the promised
    // window. The ABANDON MARKER distinguishes these deliberately
    // orphaned generations from a concurrent publish caught in its
    // rename→swap window: prepareRewrite refuses to allocate past an
    // unmarked fresh above-pointer generation (deriving from the older
    // pointer view would drop the in-flight commit), but allocating past
    // a restore's abandoned future IS the restore semantics.
    val now = System.currentTimeMillis()
    fs.listStatus(root).foreach { st =>
      if (st.isDirectory &&
          GraftDataSource.genIndex(st.getPath.getName).exists(_ > generation)) {
        fs.setTimes(st.getPath, now, -1)
        val out = AtomicPublish.createStream(conf,
          new Path(st.getPath, AbandonMarkerName), overwrite = true)
        try out.write('1'.toByte) finally out.close()
      }
    }
    // restoring FORWARD onto a previously abandoned generation re-adopts
    // it — clear its marker so the next rewrite treats it as live history
    try fs.delete(new Path(new Path(root, target), AbandonMarkerName), false)
    catch { case _: java.io.IOException => }
  }

  /** Marker [[restore]] stamps into each above-pointer generation it
    * orphans, so [[prepareRewrite]] can tell "deliberately abandoned"
    * from "concurrent publish mid-swap". */
  private[sources] val AbandonMarkerName = ".graft-abandoned"

  def rewrite(s: SparkSession, dir: String,
      transform: (String, DataFrame) => DataFrame,
      targetFiles: Option[Int] = None,
      writeOptions: Map[String, String] = Map.empty,
      graceMs: Long = -1L,
      idempotencyKey: Option[String] = None,
      rowChurning: Boolean = true,
      beforePublish: Option[(Configuration, Path) => Unit] = None): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    // replay detection FIRST: if the live generation already carries this
    // rewrite's key, the work was applied and swapped — re-applying would
    // double it (the exactly-once contract for at-least-once drivers)
    if (idempotencyKey.isDefined &&
        liveRewriteTag(conf, dir) == idempotencyKey) return
    val nextGen = prepareRewrite(s, dir, graceMs) // entry sweep + allocation
    // pin the source view for the publish's late-append fold
    val srcDir = GraftDataSource.resolveDataDir(conf, dir)
    // ONE listing serves both the partition-column probe and the table
    // enumeration (a 10^6-file LIST against an object store is the cost).
    // A probe can race a concurrent append's visibility re-home (the
    // file-level rename into the live generation dir): the listed path
    // vanishes before the footer open. Re-list and re-probe, bounded —
    // SKIPPING a vanished file could silently drop a whole table from
    // the rewrite, so vanish is never ignored, only re-resolved.
    var attempt = 0
    var listed = GraftDataSource.listPartitionedFiles(conf, dir)
    var tableNames: Seq[String] = Seq.empty
    var probed = false
    while (!probed) {
      try {
        tableNames = GraftDataSource.inParallel(listed.map(_._1)) { f =>
          val r = graft.format.GraftFileReader.open(f.getFileSystem(conf), f)
          try r.tableNames finally r.close()
        }.flatten.distinct.sorted
        probed = true
      } catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt > 4) throw e
          Thread.sleep(5L * attempt)
          listed = GraftDataSource.listPartitionedFiles(conf, dir)
      }
    }
    // hive-style partition columns re-route to the same layout on rewrite
    val partCols = GraftDataSource.partitionColumns(listed)
    if (tableNames.isEmpty) return // nothing to rewrite
    // stage under a unique tmp name; the publish below is one rename
    val staging = new Path(root, s"$nextGen.tmp-${java.util.UUID.randomUUID()}")
    claimStaging(conf, staging)
    tableNames.foreach { t =>
      // PIN the data read to the same listing the late-append fold
      // compares against: the lazy data-plane read otherwise lists at
      // job-run time and can absorb a file that lands between — which
      // the fold would then reference a second time (duplicate rows)
      val df0 = transform(t, s.read.format("graft").option("table", t)
        .option("fileFilter", listed.map(_._1.toString).mkString("\n")).load(dir))
      val layout = GraftDataSource.readBucketMarker(conf, dir, t)
      shapedWriter(df0, layout, targetFiles, t, writeOptions, partCols)
        .save(staging.toString)
    }
    // metadata a caller wants published ATOMICALLY with the generation
    // (e.g. the clustering record) is written into the staging dir here,
    // so it rides the publish rename — it can never land in a
    // generation some concurrent rewrite published in between
    beforePublish.foreach(_(conf, staging))
    publishStaging(fs, conf, root, staging, nextGen, idempotencyKey, dir,
      sourceView = Some((srcDir, listed.map(_._1.toUri.getPath).toSet)))
    // stats lifecycle: a full rewrite either churned every row (DML —
    // the whole listing counts against each table's ANALYZE snapshot)
    // or preserved them all (compaction/clustering — re-anchor the byte
    // extrapolation so a 2× compaction doesn't halve row estimates)
    if (rowChurning) {
      val total = GraftDataSource.inParallel(listed.map(_._1)) { p =>
        try p.getFileSystem(conf).getFileStatus(p).getLen catch {
          case _: Exception => 0L
        }
      }.sum
      tableNames.foreach(t => GraftDataSource.recordChurn(s, dir, t, total))
    } else GraftDataSource.rebaseStatsBytes(conf, dir)
  }

  /** Entry sweep + next-generation allocation, for a COW write whose
    * data lands through Spark's own write path rather than a [[rewrite]]
    * callback (SQL row-level operations, [[GraftCowBatchWrite]]): the
    * caller stages into `<returned>.tmp-<uuid>` and hands the staging to
    * [[publishStaging]] on commit. */
  private[sources] def prepareRewrite(s: SparkSession, dir: String,
      graceMs: Long = -1L): String = {
    // the session's hadoop conf, NOT a bare new Configuration(): the
    // data plane (df reads/writes in the same call) resolves filesystems
    // through spark.hadoop.* — metadata ops must see the same world or a
    // scheme-less dir could swing a pointer on a different store than
    // the one the data landed on
    val conf = s.sparkContext.hadoopConfiguration
    val grace = resolveGrace(s, graceMs)
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val liveGen = GraftDataSource.readGenPointer(conf, dir)
    val liveIdx = liveGen.flatMap(GraftDataSource.genIndex)
    val lastSwapOld = liveGen.exists { _ =>
      val age = System.currentTimeMillis() -
        fs.getFileStatus(new Path(root, GraftDataSource.GenPointerName)).getModificationTime
      age >= grace
    }
    val maxSurvivingIdx = sweepDeadData(fs, root, liveIdx, lastSwapOld, grace)
    // A fresh PUBLISHED generation above the pointer is a concurrent
    // rewrite in its rename→swap window. Allocating past it while
    // reading the pointer view would derive gen N+1 from gen N−k and
    // silently drop the in-flight commit's changes the moment our swap
    // superseded its — the one lost-update shape the rename CAS can't
    // see (different indices never collide). The swap lands microseconds
    // after the rename, so wait briefly for the pointer to catch up;
    // a publisher that crashed inside the window leaves an ambiguous
    // above-pointer generation, and the only safe answer is a loud
    // refusal (the gen goes stale within the grace window, after which
    // the sweep reclaims it and rewrites proceed normally).
    val topGen = new Path(root, f"gen-$maxSurvivingIdx%05d")
    if (liveIdx.getOrElse(0) < maxSurvivingIdx &&
        fs.exists(new Path(topGen, GraftDataSource.SwapTsName)) &&
        !fs.exists(new Path(topGen, AbandonMarkerName))) {
      val deadline = System.currentTimeMillis() + 2000L
      var caughtUp = false
      while (!caughtUp && System.currentTimeMillis() < deadline) {
        caughtUp = GraftDataSource.readGenPointer(conf, dir)
          .flatMap(GraftDataSource.genIndex).exists(_ >= maxSurvivingIdx)
        if (!caughtUp) Thread.sleep(10)
      }
      if (!caughtUp) throw new graft.format.OliveFormatException(
        s"concurrent rewrite of $dir: generation $maxSurvivingIdx is " +
          "published but not yet live (another rewrite mid-swap, or one " +
          "that crashed between publish and swap); retry after it " +
          "completes or goes stale")
    }
    f"gen-${maxSurvivingIdx + 1}%05d"
  }

  /** Shape a rewrite's output for the table's declared layout and build
    * its writer — ONE implementation for the full [[rewrite]] and the
    * file-granular [[rewriteTable]] (two hand-kept copies drifted
    * apart once already). A declared bucket layout outlives every
    * rewrite: rows re-route through the bucketed writer (repartition by
    * the bucket column — one file per bucket — plus the optional
    * within-partition sort), and the layout overrides `targetFiles`
    * because the bucket count IS the file count. */
  /** Materialize merge-on-read delete vectors: rewrite ONLY the files
    * whose live DV covers at least `minFraction` of their rows (the
    * candidate read applies the DVs, so the replacements hold live rows
    * only), carry every other file — and its remaining DV — by
    * reference. The targeted answer to DV accretion: a table whose hot
    * 1% collected deletes gets those files cleaned and its footer-served
    * aggregates back, without compaction's full rewrite. Returns
    * (root-relative file, deleted rows, file rows) per materialized
    * file; empty when nothing qualifies (no generation published). */
  def materializeDvs(s: SparkSession, dir: String, table: String,
      minFraction: Double = 0.0): Seq[(String, Long, Long)] = {
    require(minFraction >= 0.0 && minFraction <= 1.0,
      s"min_fraction must be in [0,1], got $minFraction")
    val conf = s.sparkContext.hadoopConfiguration
    val dvs = GraftDataSource.liveDvs(conf, dir, Some(table))
    if (dvs.isEmpty) return Seq.empty
    // per-target live fraction from the footer (parallel, bounded by the
    // number of DV'd files)
    val stats = GraftDataSource.inParallel(dvs.toSeq) { case (uriPath, (_, card)) =>
      val p = new Path(uriPath)
      val r = graft.format.GraftFileReader.open(p.getFileSystem(conf), p)
      val rows = try r.footer.chunks.iterator
        .flatMap(_.tables.filter(_.name == table)).map(_.numRows.toLong).sum
      finally r.close()
      (uriPath, card, rows)
    }
    val targets = stats.filter { case (_, card, rows) =>
      rows > 0 && card.toDouble / rows >= minFraction }
    if (targets.isEmpty) return Seq.empty
    // the generalized targeted rewrite does the staging/carry/DV/publish
    // dance; the identity transform IS the materialization — the
    // candidate read subtracts the targets' DVs, so the replacement
    // files hold live rows only. requireTargets guards the gap between
    // the DV-manifest read above and the rewrite's own listing (a
    // concurrent rewrite replacing a target file must refuse, not skip).
    val targetUris = targets.map(_._1).toSet
    val rewritten = rewriteFiles(s, dir, table,
      p => targetUris.contains(p.toUri.getPath),
      (df, _) => df,
      beforePublish = (_, _, _) => (),
      requireTargets = targetUris)
    val relByUri = rewritten.map(_.swap).toMap
    targets.map { case (uri, card, rows) => (relByUri(uri), card, rows) }
      .sortBy(_._1)
  }

  /** Targeted rewrite of an EXPLICIT file subset of one table: rewrite
    * exactly the live files `isTarget` selects (their rows flow through
    * `transform`, which also receives the target count for sizing its
    * output), carry every other live file — and its stats and delete
    * vectors — by reference. The generalized form of the
    * [[materializeDvs]] flow, built for maintenance operations whose
    * footprint is a known file set (incremental reclustering: cost ∝
    * drift, never the table). `beforePublish` runs inside the staging
    * before the atomic publish with the carried files' NAMES, so a
    * caller's metadata record (e.g. the cluster spec) publishes
    * atomically with the generation it describes. `requireTargets`
    * (URI paths) must ALL resolve to live targets or the call refuses —
    * the guard for callers that selected their set from metadata read
    * BEFORE the listing (a concurrent rewrite may have replaced a
    * file). Returns (root-relative rel, URI path) per rewritten file
    * (empty = no target, nothing published). */
  def rewriteFiles(s: SparkSession, dir: String, table: String,
      isTarget: Path => Boolean,
      transform: (DataFrame, Int) => DataFrame,
      beforePublish: (Configuration, Path, Seq[String]) => Unit,
      requireTargets: Set[String] = Set.empty): Seq[(String, String)] = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val listed = GraftDataSource.listPartitionedSized(conf, dir)
    if (listed.isEmpty && requireTargets.isEmpty) return Seq.empty
    // requireTargets were selected from metadata read BEFORE this listing;
    // an empty live view with required targets outstanding is the
    // concurrent-change race (table dropped/vacuumed in between), not a
    // never-existed table — surface the 're-run' refusal, not 'not found'
    if (listed.isEmpty)
      throw new graft.format.OliveFormatException(
        s"live view of $dir changed while selecting the rewrite's target " +
          "files (the table was dropped or vacuumed); re-run")
    // classification (manifest-first, footer fallback) tells which files
    // hold the table at all — a sibling table's file is never a target
    val files = classifyForDml(conf, root, listed, table, None, dir)
    if (!files.exists(_.metas.nonEmpty) && requireTargets.nonEmpty)
      throw new graft.format.OliveFormatException(
        s"live view of $dir changed while selecting the rewrite's target " +
          s"files (no '$table' file remains live); re-run")
    require(files.exists(_.metas.nonEmpty),
      s"table '$table' not found in $dir; nothing to rewrite")
    val holds = files.filter(_.metas.nonEmpty).map(_.path.toUri.getPath).toSet
    val targets = listed.collect { case (p, _, _)
        if holds.contains(p.toUri.getPath) && isTarget(p) => p }
    if (!requireTargets.subsetOf(targets.map(_.toUri.getPath).toSet))
      throw new graft.format.OliveFormatException(
        s"live view of $dir changed while selecting the rewrite's target " +
          "files (a concurrent rewrite replaced one); re-run")
    if (targets.isEmpty) return Seq.empty
    targets.foreach { p =>
      val f = files.find(_.path.toUri.getPath == p.toUri.getPath).get
      if (f.names.size > 1) throw new UnsupportedOperationException(
        s"$p holds tables ${f.names.mkString(",")}; a targeted rewrite of " +
          s"'$table' would drop the siblings' rows — compact or split first")
    }
    val nextGen = prepareRewrite(s, dir)
    val srcDir = GraftDataSource.resolveDataDir(conf, dir)
    val targetRels = targets.map(GraftDataSource.relativePath(root, _)).toSet
    val statsByRel = files.map(f =>
      GraftDataSource.relativePath(root, f.path) -> f.statsJson).toMap
    val staging = new Path(root, s"$nextGen.tmp-${java.util.UUID.randomUUID()}")
    claimStaging(conf, staging)
    try {
      val partCols = GraftDataSource.partitionColumns(listed.map { case (p, _, m) => (p, m) })
      val layout = GraftDataSource.readBucketMarker(conf, dir, table)
      val df = transform(s.read.format("graft").option("table", table)
        .option("fileFilter", targets.map(_.toString).mkString("\n")).load(dir),
        targets.size)
      shapedWriter(df, layout, None, table, Map.empty, partCols).save(staging.toString)
      GraftDataSource.carryBucketMarkers(fs, conf, dir, staging)
      val carried = listed.collect { case (p, size, _)
          if !targetRels.contains(GraftDataSource.relativePath(root, p)) =>
        val rel = GraftDataSource.relativePath(root, p)
        (rel, size, statsByRel.get(rel))
      }
      GraftDataSource.writeCarryManifest(fs, staging, carried)
      // rewritten files shed their DVs (the candidate read applied them);
      // carried files' and sibling tables' entries ride by reference
      GraftDataSource.writeDvManifest(fs, staging,
        GraftDataSource.carryDvEntries(fs, conf, dir, targetRels))
      beforePublish(conf, staging,
        carried.map { case (rel, _, _) => new Path(rel).getName })
      publishStaging(fs, conf, root, staging, nextGen, None, dir,
        sourceView = Some((srcDir, listed.map(_._1.toUri.getPath).toSet)))
      GraftDataSource.recordChurn(s, dir, table,
        listed.collect { case (p, size, _)
          if targetRels.contains(GraftDataSource.relativePath(root, p)) => size }.sum)
      targets.map(p =>
        (GraftDataSource.relativePath(root, p), p.toUri.getPath)).sortBy(_._1)
    } catch {
      case e: Throwable =>
        try fs.delete(staging, true) catch { case _: Exception => }
        throw e
    }
  }

  private def shapedWriter(df0: DataFrame,
      layout: Option[(String, Int, Option[String])], targetFiles: Option[Int],
      table: String, writeOptions: Map[String, String], partCols: Seq[String])
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val df = layout match {
      case Some((bcol, n, sortOpt)) =>
        val rep = df0.repartition(n, col(bcol))
        sortOpt.map(sc => rep.sortWithinPartitions(col(sc))).getOrElse(rep)
      case None => targetFiles.map(df0.repartition).getOrElse(df0)
    }
    val base0 = df.write.format("graft")
      .option("table", table).options(writeOptions).mode("append")
    val base = layout match {
      case Some((bcol, n, sortOpt)) =>
        val b = base0.option("bucketBy", s"$bcol:$n")
        sortOpt.map(sc => b.option("sortBy", sc)).getOrElse(b)
      case None => base0
    }
    if (partCols.nonEmpty) base.option("partitionBy", partCols.mkString(","))
    else base
  }

  /** Stamp a fresh staging dir with its liveness claim (see
    * [[GraftDataSource.StagingClaimName]]) — called by every rewrite
    * path right after choosing the staging name, BEFORE any data write,
    * so [[publishStaging]] can prove the dir was never swept-and-
    * resurrected underneath the rewrite. */
  private[sources] def claimStaging(conf: Configuration, staging: Path): Unit = {
    val out = AtomicPublish.createStream(conf,
      new Path(staging, GraftDataSource.StagingClaimName), overwrite = true)
    try out.write('1'.toByte) finally out.close()
  }

  /** Publish a complete staging dir as generation `nextGen` and swing the
    * pointer — the atomic tail shared by the full [[rewrite]], the
    * file-granular [[rewriteTable]], and the SQL row-level COW write. */
  private[sources] def publishStaging(fs: org.apache.hadoop.fs.FileSystem, conf: Configuration,
      root: Path, staging: Path, nextGen: String,
      idempotencyKey: Option[String], dir: String,
      keepStagingOnConflict: Boolean = false,
      sourceView: Option[(String, Set[String])] = None): Unit = {
    // Self-covering stats manifest, for EVERY generation publisher (full
    // rewrite, file-granular DML, SQL COW write, MoR delta, staged
    // CTAS): the publisher's own fresh output gets the same
    // planning-time zone maps carried files enjoy, so planning drops
    // non-matching files before any task exists, estimateStatistics
    // reports exact rows, and the next DML classifies candidates with
    // zero footer I/O. One parallel footer sweep over files this
    // publish just staged; entries use the rel paths the files will
    // have AFTER the rename below, and the listing's name-dedup keeps
    // self-references from double-counting. Carried entries already in
    // the staging's manifest (a DML's rebase output) are preserved;
    // entries whose file NAME matches a staged file are stale
    // self-references from a previous conflicted attempt at a different
    // generation index and are replaced. A retried publish recomputes
    // with the CURRENT nextGen, so the prefix can never go stale.
    // kill-switch parse is fail-safe: any unparseable value means ON
    // (a typo'd conf must not fail every publish mid-write)
    if (org.apache.spark.sql.SparkSession.getActiveSession.forall { ss =>
      try ss.conf.get("spark.graft.rewrite.statsManifest", "true").toBoolean
      catch { case _: IllegalArgumentException => true }
    }) {
      def walkOut(p: Path): Seq[(Path, Long)] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isFile && st.getPath.getName.endsWith(".graft"))
            Seq((st.getPath, st.getLen))
          else if (st.isDirectory) walkOut(st.getPath)
          else Seq.empty
        }
      val fresh = walkOut(staging)
      if (fresh.nonEmpty) {
        val freshNames = fresh.map(_._1.getName).toSet
        val existing = GraftDataSource.readCarryManifestFull(fs, staging)
          .filterNot(e => freshNames.contains(new Path(e._1).getName))
        // stats the write tasks already handed over through their commit
        // messages (the .staged-stats sidecar, staging-relative rels)
        // serve directly; only files some other write path staged — or a
        // torn sidecar line dropped — pay a footer open
        val staged = GraftDataSource.readStagedStats(fs, staging)
          .map { case (rel, _, js) => rel -> js }.toMap
        val entries = GraftDataSource.inParallel(fresh) { case (p, size) =>
          val rel = GraftDataSource.relativePath(staging, p)
          val js = staged.getOrElse(rel, {
            val r = graft.format.GraftFileReader.open(p.getFileSystem(conf), p)
            val metas = try r.footer.chunks.flatMap(_.tables).toSeq finally r.close()
            graft.format.Stats.statsToJson(metas)
          })
          (s"$nextGen/$rel", size, Some(js): Option[String])
        }
        GraftDataSource.writeCarryManifest(fs, staging, existing ++ entries)
      }
      // the sidecar never publishes
      try fs.delete(new Path(staging, GraftDataSource.StagedStatsName), false)
      catch { case _: java.io.IOException => }
    }
    // the clustering record survives every publish: a DML that replaces
    // one candidate file must not erase the CLAIM for the thousands of
    // carried files that are still perfectly tiled (a vanished record
    // reads as never-clustered and triggers a pointless full
    // re-cluster). Copied byte-for-byte from the superseded live
    // generation unless this staging wrote its own (cluster /
    // incremental recluster); honesty is downstream's job — DESCRIBE
    // diffs the record's member NAMES against the live listing, so a
    // carried record over drifted files reports 'partial' with the
    // exact drift, never a false 'clustered'.
    locally {
      val specDst = new Path(staging, GraftDataSource.ClusterSpecName)
      // NonFatal, not just IOException: a store client's RuntimeException
      // from the OPTIONAL record copy must not fail a DML whose data is
      // already staged — the carry is best-effort by design (a dropped
      // claim is a conservative DESCRIBE, never wrong rows)
      try {
        if (!fs.exists(specDst)) {
          val src = GraftDataSource.resolveDataDir(conf, dir)
          if (src != dir) {
            val specSrc = new Path(src, GraftDataSource.ClusterSpecName)
            if (fs.exists(specSrc)) {
              val in = fs.open(specSrc)
              val bytes = try in.readAllBytes() finally in.close()
              // carry ONLY name-tracking records (5+ lines): DESCRIBE
              // checks those name-exactly, so a carried record over a
              // file-replacing DML reads 'partial', never 'clustered'.
              // A vintage 4-line record has only the count check, which
              // a count-preserving replacement would fool — for those
              // the old vanish-on-publish behavior IS the honest claim.
              if (new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
                  .split("\n").length > 4) {
                val out = AtomicPublish.createStream(conf, specDst, overwrite = false)
                try out.write(bytes) finally out.close()
              }
            }
          }
        }
      } catch { case scala.util.control.NonFatal(_) => }
    }
    // birth-time marker INSIDE the gen dir, before the swap: appends keep
    // bumping the live dir's mtime, so TIMESTAMP AS OF anchors on this
    // instead (GraftCatalog.loadTable(ident, timestamp))
    locally {
      val ts = new Path(staging, GraftDataSource.SwapTsName)
      val out = AtomicPublish.createStream(conf, ts, overwrite = true)
      try out.write(String.valueOf(System.currentTimeMillis())
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // idempotency key rides the same atomic publish: crash BEFORE the
    // swap → no tag visible, a retry re-applies (correct: nothing
    // landed); crash AFTER → the live tag marks the batch applied and
    // the retry no-ops at entry
    idempotencyKey.foreach { k =>
      val tp = new Path(staging, GraftDataSource.RewriteTagName)
      val out = AtomicPublish.createStream(conf, tp, overwrite = true)
      try out.write(k.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // the staging-claim gate: claimStaging wrote this marker when the
    // staging was created; a grace sweep that reclaimed the dir took the
    // claim with it, and the marker writes just above would then have
    // RESURRECTED an empty shell via implicit mkdirs. Publishing that
    // shell would swing the pointer to a generation missing every
    // rewritten row — silent data loss; refuse loudly instead. (The
    // sweep's staleness signal is the newest mtime in the tree, so
    // losing the race additionally requires a rewrite idle past the
    // grace window — raise spark.graft.graceMs if this fires.)
    val claim = new Path(staging, GraftDataSource.StagingClaimName)
    if (!fs.exists(claim))
      throw new graft.format.OliveFormatException(
        s"staging $staging lost its liveness claim — a concurrent grace " +
          "sweep reclaimed it mid-rewrite (rewrite ran longer than the " +
          "grace window?); nothing was published. Re-run the operation, " +
          "and size spark.graft.graceMs above the longest rewrite")
    fs.delete(claim, false) // published generations don't carry the claim
    // publish via a NO-overwrite rename: true no-clobber semantics — it
    // THROWS when the destination exists. (FileSystem.rename would
    // instead mv the staging INSIDE an existing gen dir, silently
    // doubling the winner's data.) Of two rewrites racing to the same
    // next index exactly one wins; the loser must fail loudly — its
    // work is complete but unreferencable, and going on to swap the
    // pointer would bless the WINNER's data as its own.
    val genPath = new Path(root, nextGen)
    try AtomicPublish.renameNoClobber(conf, staging, genPath)
    catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: org.apache.hadoop.fs.PathExistsException) =>
        if (!keepStagingOnConflict) fs.delete(staging, true)
        throw new GenerationConflictException(
          s"concurrent rewrite of $dir: generation $nextGen already exists; " +
            "rewrites are single-writer — retry after the other completes", e)
    }
    // the swap: one atomic pointer replacement, then FORWARD-ONLY
    // convergence. With optimistic rebase two racing DMLs both commit:
    // the loser's gen N+1 carries the winner's gen N (its whole view
    // rides the rebased manifest), so the pointer must settle on the
    // HIGHEST published index. A blind overwrite alone can finish-order
    // invert that (winner's swap lands after the rebased loser's and the
    // loser's superset generation goes silently unreferenced), so each
    // publisher re-asserts until it reads an index >= its own — two
    // racers converge on the max in <=1 extra write each. A concurrent
    // `restore` (the one legitimate backward swing) can interleave; it
    // is an offline operation by contract, and the loop is bounded.
    val ptr = new Path(root, GraftDataSource.GenPointerName)
    val myIdx = GraftDataSource.genIndex(nextGen).getOrElse(Int.MaxValue)
    casStoreFor(conf, dir) match {
      case Some(store) =>
        // rename-less stores: the forward-only convergence runs as a
        // true CAS loop — advance only from the observed value, stop
        // once the pointer names an index >= ours
        val key = ptr.toString
        var spins = 0
        var converged = false
        while (!converged && spins < 64) {
          val cur = store.get(key).map(b =>
            new String(b._1, java.nio.charset.StandardCharsets.UTF_8).trim)
          if (cur.flatMap(GraftDataSource.genIndex).getOrElse(-1) >= myIdx)
            converged = true
          else if (ConditionalPut.swapPointer(store, key, cur, nextGen))
            converged = true
          else spins += 1
        }
        if (!converged) throw new graft.format.OliveFormatException(
          s"pointer CAS publish of $nextGen on $dir lost 64 races; giving up")
      case None =>
        AtomicPublish.text(conf, ptr, nextGen)
        var spins = 0
        while (spins >= 0 && spins < 50) {
          val cur = GraftDataSource.readGenPointer(conf, dir)
            .flatMap(GraftDataSource.genIndex).getOrElse(-1)
          if (cur >= myIdx) spins = -1 // converged: ours, or a newer superset
          else { AtomicPublish.text(conf, ptr, nextGen); spins += 1; Thread.sleep(1) }
        }
    }
    // Late-append fold: a plain append targets the LIVE view it resolved
    // BEFORE this swap, so anything that landed in the source view after
    // the rewrite's own listing would fall invisible the moment the
    // pointer moved — silent row loss for a writer that did everything
    // right. Post-swap, re-list the superseded source (PINNED, not via
    // the pointer) and fold unknown files into the published manifest by
    // reference, which linearizes the append AFTER this rewrite. The
    // complementary half lives in GraftBatchWrite.commit: an appender
    // that observes the moved pointer re-homes its own files. The two
    // halves meet at the swap — a file visible before it is seen by this
    // re-list; one visible after it sees the new pointer. Manifest-add
    // is monotone (only ever adds visibility), so the overwrite is safe
    // under concurrent readers.
    sourceView.foreach { case (srcDir, known) =>
      try {
        // RAW physical walk, not the guarded listing: the pointer-
        // appeared / marker guards exist to protect READERS from
        // partial views, but here the pointer moving is exactly what we
        // just did, and manifest refs of the source gen are immutable
        // (they were in `known`). Only physical newcomers matter.
        val srcRoot = new Path(srcDir)
        def walkSrc(p: Path): Seq[(Path, Long)] =
          fs.listStatus(p).toSeq.flatMap { st =>
            val n = st.getPath.getName
            if (st.isFile && n.endsWith(".graft")) Seq((st.getPath, st.getLen))
            else if (st.isDirectory && n.contains("=")) walkSrc(st.getPath)
            else Seq.empty
          }
        val late = (if (fs.exists(srcRoot)) walkSrc(srcRoot) else Seq.empty)
          .filter { case (p, _) =>
            !known.contains(p.toUri.getPath) &&
              // an appender's own re-home (the other half) may have moved
              // the file already — a manifest entry must never dangle
              fs.exists(p)
          }
        if (late.nonEmpty) {
          val genPath2 = new Path(root, nextGen)
          val existing = GraftDataSource.readCarryManifestFull(fs, genPath2)
          val have = existing.map(_._1).toSet
          val add = late
            .map { case (p, sz) =>
              (GraftDataSource.relativePath(root, p), sz, None: Option[String]) }
            .filterNot(e => have.contains(e._1))
          if (add.nonEmpty)
            GraftDataSource.writeCarryManifest(fs, genPath2, existing ++ add)
        }
      } catch { case _: java.io.IOException => } // best-effort: the appender's guard closes the gap
    }
    // deliberately NO deletion here: the superseded data (legacy loose
    // files or the previous gen dir) is invisible behind the pointer but
    // intact, so queries planned against it finish cleanly; a later
    // rewrite's entry sweep reclaims it after `graceMs`
  }

  /** File-granular copy-on-write DML for ONE table: rewrite only the
    * files that can hold rows the operation touches, carry every other
    * file of the live view BY REFERENCE in the new generation's
    * `.carry` manifest ([[GraftDataSource.CarryManifestName]]).
    *
    * Candidate selection is the scan's own skip arsenal turned around:
    * a file whose every chunk PROVES (zone maps + blooms,
    * [[graft.format.Stats.canSkipChunk]]) that no row satisfies some
    * conjunct of `pruneFilters` cannot be touched by the DML and is
    * carried untouched — a 1-row upsert against a 100 TB table rewrites
    * one file, not the directory. `pruneFilters = None` means "no proof
    * available": every file holding the table is rewritten (still
    * file-granular for SIBLING tables sharing a namespace dir, which
    * the full [[rewrite]] used to copy through).
    *
    * `transform` sees exactly the candidate rows (plus nothing, when no
    * file is a candidate); its output lands in the new generation next
    * to the carried references. That is sound for DML shapes whose
    * non-matching rows pass through unchanged — delete keeps them,
    * update's `CASE WHEN` leaves them, upsert's anti-join can't touch a
    * row whose key provably isn't in the batch.
    *
    * `alwaysWrite` forces a new generation even with zero candidate
    * files (an upsert's inserts land regardless; an idempotency key
    * must be recorded even for a no-op fold). Without it, a DML whose
    * predicate provably matches nothing returns without creating a
    * generation at all.
    *
    * Mixed-table files (several tables in ONE .graft file) that need a
    * rewrite can't be split; those fall back to the full [[rewrite]].
    *
    * Returns false iff no live file holds `table` (caller decides
    * whether that's an error). */
  def rewriteTable(s: SparkSession, dir: String, table: String,
      transform: DataFrame => DataFrame,
      pruneFilters: Option[Seq[graft.format.Stats.Prune]],
      alwaysWrite: Boolean,
      writeOptions: Map[String, String] = Map.empty,
      graceMs: Long = -1L,
      idempotencyKey: Option[String] = None): Boolean = {
    val conf = s.sparkContext.hadoopConfiguration
    if (idempotencyKey.isDefined &&
        liveRewriteTag(conf, dir) == idempotencyKey) return true
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val nextGen = prepareRewrite(s, dir, graceMs) // entry sweep + allocation
    // pin the source view for the publish's late-append fold
    var srcDir = GraftDataSource.resolveDataDir(conf, dir)
    // classification footer probes can race a concurrent append's
    // visibility re-home (file moved into the live gen dir between the
    // listing and the open): re-list and re-classify, bounded
    var (listed, files) = {
      var attempt = 0
      var out: Option[(Seq[(Path, Long, Map[String, String])], Seq[DmlFile])] = None
      while (out.isEmpty) {
        val l = GraftDataSource.listPartitionedSized(conf, dir)
        if (l.isEmpty) return false
        try out = Some((l, classifyForDml(conf, root, l, table, pruneFilters, dir)))
        catch {
          case e: java.io.FileNotFoundException =>
            attempt += 1
            if (attempt > 4) throw e
            Thread.sleep(5L * attempt)
        }
      }
      out.get
    }
    var srcKnown = listed.map(_._1.toUri.getPath).toSet
    val partCols = GraftDataSource.partitionColumns(listed.map { case (p, _, m) => (p, m) })
    if (!files.exists(_.metas.nonEmpty)) return false
    if (files.exists(f => f.candidate && f.names.size > 1)) {
      // a mixed-table candidate file can't be rewritten for one table
      // and carried for the others — full COW handles it
      rewrite(s, dir, (n, df) => if (n == table) transform(df) else df,
        None, writeOptions, graceMs, idempotencyKey)
      return true
    }
    val (candidates, carried) = files.partition(_.candidate)
    if (candidates.isEmpty && !alwaysWrite && idempotencyKey.isEmpty) return true
    val staging = new Path(root, s"$nextGen.tmp-${java.util.UUID.randomUUID()}")
    claimStaging(conf, staging)
    // candidate rows flow through the normal scan (partition values and
    // all), restricted to the candidate files; zero candidates → an
    // empty relation with the table's schema (Catalyst prunes the
    // always-false filter to a LocalRelation, no scan runs)
    val reader = s.read.format("graft").option("table", table)
    val df0 =
      if (candidates.nonEmpty)
        reader.option("fileFilter", candidates.map(_.path.toString).mkString("\n")).load(dir)
      else reader.load(dir).where(lit(false))
    val out = transform(df0)
    // a declared bucket layout outlives every rewrite (same contract as
    // the full rewrite): route the rewritten rows through the bucketed
    // writer so carried and new files keep one provable layout
    val layout = GraftDataSource.readBucketMarker(conf, dir, table)
    shapedWriter(out, layout, None, table, writeOptions, partCols)
      .save(staging.toString)
    // sibling tables' bucket markers live in the data dir — carry them
    // (the write above re-created at most this table's own)
    GraftDataSource.carryBucketMarkers(fs, conf, dir, staging)
    // everything untouched is carried by root-relative reference;
    // re-carried files keep their ORIGINAL location (flattened chains)
    // and their zone-map stats ride along, so the NEXT DML prunes them
    // with zero per-file I/O
    GraftDataSource.writeCarryManifest(fs, staging,
      carried.map(f =>
        (GraftDataSource.relativePath(root, f.path), f.size, Some(f.statsJson))))
    // carried files keep their delete vectors (the candidate read above
    // already applied DVs, so REWRITTEN files shed theirs — the
    // replacement holds live rows only); sibling tables' entries carry
    GraftDataSource.writeDvManifest(fs, staging,
      GraftDataSource.carryDvEntries(fs, conf, dir,
        candidates.map(f => GraftDataSource.relativePath(root, f.path)).toSet))
    // Optimistic-concurrency publish: losing the `gen-NNNNN` rename to a
    // concurrent rewrite is NOT fatal for a file-granular DML — the
    // staged output only depends on the candidate files' rows, so if the
    // winner provably touched none of them (and added nothing this DML's
    // key filters admit), the staging rebases onto the winner's view and
    // re-publishes at the next index. Two ingest jobs upserting DISJOINT
    // keys both commit, final state equal to either serial order; a true
    // overlap still fails loudly (re-running the DML against the new
    // state is the only sound answer, and only the caller can decide).
    val myCands = candidates.map(f =>
      GraftDataSource.relativePath(root, f.path)).toSet
    var gen = nextGen
    var attempts = 0
    while (true) {
      try {
        publishStaging(fs, conf, root, staging, gen, idempotencyKey, dir,
          keepStagingOnConflict = true,
          sourceView = Some((srcDir, srcKnown)))
        // stats lifecycle: the candidate files' rows were rewritten —
        // their bytes count against the ANALYZE snapshot's churn budget
        GraftDataSource.recordChurn(s, dir, table, candidates.map(_.size).sum)
        return true
      } catch {
        case e: GenerationConflictException =>
          attempts += 1
          if (attempts > 5) { fs.delete(staging, true); throw e }
          rebaseStaging(conf, fs, root, dir, table, staging, gen,
            myCands, pruneFilters) match {
            case Some((next, winSrc, winKnown)) =>
              gen = next
              // the fold must now compare against the WINNER's view —
              // late appends land in ITS gen dir, the new live target
              srcDir = winSrc
              srcKnown = winKnown
            case None =>
              fs.delete(staging, true)
              throw new GenerationConflictException(
                s"concurrent DML on $dir/$table: generation $gen landed " +
                  "while this rewrite was staging and its changes overlap " +
                  "the files this DML must touch — re-run the operation " +
                  "against the new table state", e)
          }
      }
    }
    true // unreachable
  }

  /** Rebase a collided file-granular DML staging onto the race winner
    * (generation `lostGen`, whose rename beat ours): re-classify the
    * winner's view under OUR key filters, and iff the set of files this
    * DML must rewrite is UNCHANGED — the winner carried every one of our
    * candidate files untouched, and none of its new/rewritten files can
    * hold a row our filters admit — swap the staging's carry manifest
    * for (winner's view − our candidates) and return the next free
    * generation index to publish at. None = true conflict (including
    * un-pruned DMLs, whose footprint is the whole table by definition).
    *
    * Soundness: candidate files are immutable, so our staged transform
    * output is byte-identical to what a serial re-run after the winner
    * would produce for those files; everything else of the winner's view
    * rides the manifest by reference. The published generation therefore
    * equals the winner-then-us serial order. The winner's view is listed
    * from its GEN DIR, not the pointer (its swap may not have landed
    * yet — the pointer view could still be the pre-race world). */
  private def rebaseStaging(conf: Configuration, fs: org.apache.hadoop.fs.FileSystem,
      root: Path, dir: String, table: String, staging: Path, lostGen: String,
      myCands: Set[String],
      pruneFilters: Option[Seq[graft.format.Stats.Prune]])
      : Option[(String, String, Set[String])] = {
    if (pruneFilters.forall(_.isEmpty)) return None // whole-table footprint
    val winnerView =
      try GraftDataSource.listGenerationSized(conf, dir, lostGen)
      catch { case _: java.io.IOException => return None } // winner swept?
    val winnerStats = GraftDataSource.genCarryStats(conf, dir, lostGen)
    val files = classifyForDml(conf, root, winnerView, table, pruneFilters,
      dir, manifestStatsOverride = Some(winnerStats))
    val newCands = files.filter(_.candidate)
      .map(f => GraftDataSource.relativePath(root, f.path)).toSet
    if (newCands != myCands) return None // winner moved our footprint
    // delete vectors in the winner's view targeting OUR candidate files
    // are a true overlap: this DML's staged replacement was computed
    // WITHOUT the winner's deletes and would silently resurrect them —
    // refuse the rebase, the caller re-runs against the new state.
    // DVs on carried files rebase by reference like the files themselves.
    val winnerDvs = GraftDataSource.readDvManifest(fs, new Path(root, lostGen))
    if (winnerDvs.exists { case (_, rel, _, _) => myCands.contains(rel) })
      return None
    val carried2 = files.filterNot(_.candidate)
    // the failed publish consumed the staging's liveness claim just
    // before its rename; the staging is demonstrably fresh (we wrote it
    // this call), so re-claim for the re-publish
    claimStaging(conf, staging)
    GraftDataSource.writeCarryManifest(fs, staging,
      carried2.map(f =>
        (GraftDataSource.relativePath(root, f.path), f.size, Some(f.statsJson))))
    // replace (never merge) the staging's pre-race `.dvs`: the winner's
    // entries ARE the rebased view's delete state
    fs.delete(new Path(staging, GraftDataSource.DvManifestName), false)
    GraftDataSource.writeDvManifest(fs, staging, winnerDvs)
    // allocate past every generation now on disk (the winner, plus any
    // racer that landed while we rebased — a further collision just
    // loops back here)
    val maxIdx = fs.listStatus(root).foldLeft(0) { (m, st) =>
      if (st.isDirectory)
        GraftDataSource.genIndex(st.getPath.getName).fold(m)(math.max(m, _))
      else m
    }
    Some((f"gen-${maxIdx + 1}%05d", new Path(root, lostGen).toString,
      winnerView.map(_._1.toUri.getPath).toSet))
  }

  /** One live file's classification for a file-granular DML. */
  private[sources] case class DmlFile(path: Path, size: Long,
      names: Seq[String], metas: Seq[graft.format.Meta.TableMeta],
      statsJson: String, candidate: Boolean)

  /** Classify every listed file for a file-granular DML on `table`:
    * candidate (can hold touched rows → rewrite) vs carried. Zone-map
    * stats come from the live generation's carry manifest where present,
    * so the overwhelming majority of a large table's files — everything
    * the previous rewrite carried — is classified with ZERO per-file
    * I/O; footers are opened only for files the manifest doesn't cover
    * (the previous rewrite's own output) and for manifest-kept
    * candidates, where the footer's blooms get a second chance to
    * prune. Each record carries a fresh-or-reused statsJson so the next
    * manifest keeps the zero-I/O property (files are immutable, stats
    * never go stale). A corrupt/legacy stats field falls back to the
    * footer probe — never a wrong skip.
    *
    * Prune filters name columns by their CURRENT (declared) spellings,
    * but a pre-rename file records stats under the old spelling — each
    * probe translates through the marker's rename chains per file (the
    * exact contract of the scan's manifest sweep and executor reader),
    * and a column the file provably PREDATES reads as all-null there, so
    * a null-never-matches conjunct carries the file untouched. Without
    * this, a keyed DELETE after a RENAME classifies every pre-rename
    * file as a candidate and a 1-row DML rewrites the whole archive.
    * Partition and `_file` columns never count as absent (their values
    * come from the path); no marker (plain-dir table, DDL impossible)
    * means identity translation — today's behavior. */
  private[sources] def classifyForDml(conf: Configuration, root: Path,
      listed: Seq[(Path, Long, Map[String, String])], table: String,
      pruneFilters: Option[Seq[graft.format.Stats.Prune]], dir: String,
      manifestStatsOverride: Option[Map[String, String]] = None): Seq[DmlFile] = {
    import graft.format.{Evolution, Stats}
    val declared: Option[org.apache.spark.sql.types.StructType] =
      if (pruneFilters.forall(_.isEmpty)) None // nothing to translate
      else GraftDataSource.markerSchemaAt(conf, dir, table).map(Evolution.visible)
    // one conjunct proves the skip for one chunk, in the FILE's spellings
    def skipProven(p: Stats.Prune, t: graft.format.Meta.TableMeta,
        partCols: Set[String]): Boolean = declared match {
      case None => Stats.canSkipChunkPrune(p, t)
      case Some(dec) => p match {
        case Stats.FilterPrune(sf) =>
          val (tfs, abs0) = Evolution.translateFilters(Array(sf), dec, t.schema)
          val abs = abs0 -- partCols - GraftDataSource.FileColName
          Stats.canSkipAbsent(tfs.head, abs) ||
            Stats.canSkipChunkPrune(Stats.FilterPrune(tfs.head), t)
        case kr: Stats.KeyPrune =>
          Evolution.fileAttrName(dec, t.schema, kr.attribute) match {
            case Some(n) =>
              Stats.canSkipChunkPrune(
                if (n == kr.attribute) kr else kr.withAttribute(n), t)
            case None =>
              // declared leaf the file predates (and not a path-valued
              // column): its keys read all-null there, and null is never
              // in the removed set; unknown attrs stay unprovable
              (Stats.leafType(dec, kr.attribute).isDefined &&
                !partCols.contains(kr.attribute) &&
                kr.attribute != GraftDataSource.FileColName) ||
                Stats.canSkipChunkPrune(kr, t)
          }
      }
    }
    def mustRewrite(metas: Seq[graft.format.Meta.TableMeta],
        partCols: Set[String]): Boolean =
      pruneFilters match {
        case Some(fls) if fls.nonEmpty =>
          !fls.exists(f => metas.forall(t => skipProven(f, t, partCols)))
        case _ => true
      }
    val manifestStats = manifestStatsOverride
      .getOrElse(GraftDataSource.liveCarryStats(conf, dir))
    GraftDataSource.inParallel(listed) { case (p, size, parts) =>
      val partCols = parts.keySet
      def footer(): Seq[graft.format.Meta.TableMeta] = {
        val r = graft.format.GraftFileReader.open(p.getFileSystem(conf), p)
        try r.footer.chunks.flatMap(_.tables).toSeq finally r.close()
      }
      def fromFooter(): DmlFile = {
        val full = footer()
        val mine = full.filter(_.name == table)
        DmlFile(p, size, full.map(_.name).distinct, mine,
          graft.format.Stats.statsToJson(full),
          mine.nonEmpty && mustRewrite(mine, partCols))
      }
      val rel = GraftDataSource.relativePath(root, p)
      manifestStats.get(rel).flatMap(graft.format.Stats.statsFromJson) match {
        case Some(all) =>
          val mine = all.filter(_.name == table)
          if (mine.nonEmpty && mustRewrite(mine, partCols)) fromFooter() // bloom pass
          else DmlFile(p, size, all.map(_.name).distinct, mine,
            manifestStats(rel), candidate = false)
        case None => fromFooter()
      }
    }
  }

  /** Best-effort [[Column]] → source [[Filter]] translation for
    * candidate-FILE pruning in [[rewriteTable]]: each returned filter is
    * one conjunct of the predicate, translated EXACTLY (a file where a
    * conjunct provably matches nothing can hold no row the whole
    * predicate matches). Untranslatable conjuncts are dropped — less
    * pruning, never wrong. None when nothing translated. */
  def pruneFiltersFor(df: DataFrame, cond: Column): Option[Seq[graft.format.Stats.Prune]] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    val cvt = org.apache.spark.sql.catalyst.CatalystTypeConverters
    // the OPTIMIZED plan, not the analyzed one: the analyzer leaves type
    // promotion as Cast(Literal) wrappers (`id < CAST(100 AS BIGINT)`)
    // that only constant folding collapses into translatable literals
    val condition = df.filter(cond).queryExecution.optimizedPlan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def sv(l: ce.Literal): Any = cvt.convertToScala(l.value, l.dataType)
    // a reference the skip machinery can prune on: a plain attribute, or
    // a chain of GetStructField steps off an attribute at any depth —
    // spelled dotted, the key the nested-leaf zone maps (footer v4)
    // store. Computed children stay untranslated (less pruning, never
    // wrong).
    def ref(e: ce.Expression): Option[String] = e match {
      case a: ce.Attribute => Some(a.name)
      case g: ce.GetStructField => ref(g.child).map(p => s"$p.${g.extractFieldName}")
      case _ => None
    }
    def toV2(e: ce.Expression): Option[Filter] = e match {
      case ce.EqualTo(r, l: ce.Literal) if ref(r).isDefined => Some(EqualTo(ref(r).get, sv(l)))
      case ce.EqualTo(l: ce.Literal, r) if ref(r).isDefined => Some(EqualTo(ref(r).get, sv(l)))
      case ce.GreaterThan(r, l: ce.Literal) if ref(r).isDefined => Some(GreaterThan(ref(r).get, sv(l)))
      case ce.GreaterThan(l: ce.Literal, r) if ref(r).isDefined => Some(LessThan(ref(r).get, sv(l)))
      case ce.GreaterThanOrEqual(r, l: ce.Literal) if ref(r).isDefined => Some(GreaterThanOrEqual(ref(r).get, sv(l)))
      case ce.GreaterThanOrEqual(l: ce.Literal, r) if ref(r).isDefined => Some(LessThanOrEqual(ref(r).get, sv(l)))
      case ce.LessThan(r, l: ce.Literal) if ref(r).isDefined => Some(LessThan(ref(r).get, sv(l)))
      case ce.LessThan(l: ce.Literal, r) if ref(r).isDefined => Some(GreaterThan(ref(r).get, sv(l)))
      case ce.LessThanOrEqual(r, l: ce.Literal) if ref(r).isDefined => Some(LessThanOrEqual(ref(r).get, sv(l)))
      case ce.LessThanOrEqual(l: ce.Literal, r) if ref(r).isDefined => Some(GreaterThanOrEqual(ref(r).get, sv(l)))
      case ce.In(r, vs) if ref(r).isDefined && vs.nonEmpty && vs.forall(_.isInstanceOf[ce.Literal]) =>
        Some(In(ref(r).get, vs.map(v => sv(v.asInstanceOf[ce.Literal])).toArray))
      case ce.InSet(r, vs) if ref(r).isDefined && vs.nonEmpty =>
        Some(In(ref(r).get, vs.map(v => cvt.convertToScala(v, e.children.head.dataType)).toArray))
      case ce.IsNull(r) if ref(r).isDefined => Some(IsNull(ref(r).get))
      case ce.IsNotNull(r) if ref(r).isDefined => Some(IsNotNull(ref(r).get))
      case ce.Or(l, r) => for (lf <- toV2(l); rf <- toV2(r)) yield Or(lf, rf)
      case _ => None
    }
    condition.map(c => conjuncts(c).flatMap(e => toV2(e).toSeq)
      .map(graft.format.Stats.FilterPrune)).filter(_.nonEmpty)
  }

  /** DSv2 source [[Filter]] → [[Column]], for re-evaluating a pushed
    * DELETE predicate row-by-row during the copy-on-write rewrite. None
    * when the filter has no exact Column form — the caller must then
    * refuse the delete (canDeleteWhere=false) rather than guess. */
  def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case Not(c) => filterToColumn(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** `DELETE FROM` semantics over the conjunction `filters`: keep the
    * rows where the predicate is FALSE or NULL (SQL deletes only rows
    * where the WHERE is true). */
  def keepColumn(filters: Array[Filter]): Option[Column] = {
    val cols = filters.map(filterToColumn)
    if (cols.exists(_.isEmpty)) None
    else Some(!coalesce(cols.flatten.reduceOption(_ && _).getOrElse(lit(true)), lit(false)))
  }
}
