package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A failed append leaves the table as it was. Four write tasks of
  * 1,000 rows each; the task of partition 3 throws once the other three
  * have committed, so their files already sit in the live data dir when
  * the job fails. The job's abort must delete them: the table then reads
  * exactly its pre-statement rows, no stats sidecar was added, and a
  * retry of the statement lands one copy of the batch. */
class FailedAppendSpec extends SparkSpec {
  private val conf = new Configuration()

  spark.udf.register("graft_fail3",
    udf((id: Long) => FailedAppendSpec.pass(id)).asNondeterministic())

  /** The batch: partition p of `range(0, 4000, 1, 4)` holds ids
    * [1000p, 1000p + 1000). */
  private val batchSql = "SELECT graft_fail3(id) AS id, id % 7 AS v FROM range(0, 4000, 1, 4)"
  private val preSql = "SELECT id, id % 7 AS v FROM range(10000, 10010)"

  /** Every file under `dir` whose name passes `keep`, root-relative. */
  private def files(dir: String, keep: String => Boolean): Set[String] = {
    val root = new Path(dir)
    val it = root.getFileSystem(conf).listFiles(root, true)
    var out = Set.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (keep(p.getName)) out += GraftDataSource.relativePath(root, p)
    }
    out
  }

  /** Runs `stmt` failing, then as the retry, checking the table read by
    * `read` after each. */
  private def failThenRetry(dir: String, read: () => DataFrame)(stmt: => Unit): Unit = {
    val pre = canon(read())
    assert(pre.size == 10)
    val graft0 = files(dir, _.endsWith(".graft"))
    val sidecars0 = files(dir, _.startsWith(GraftDataSource.AppendStatsPrefix))
    FailedAppendSpec.committed.set(0)
    FailedAppendSpec.stages.clear()
    val ends = new FailedAppendSpec.CountTaskEnds
    spark.sparkContext.addSparkListener(ends)
    FailedAppendSpec.armed = true
    val e = try intercept[Exception](stmt) finally {
      FailedAppendSpec.armed = false
      spark.sparkContext.removeSparkListener(ends)
    }
    assert(FailedAppendSpec.committed.get() == 3,
      s"the other tasks did not all commit first: ${FailedAppendSpec.committed.get()} ($e)")
    val after = canon(read())
    val (rows, rows0) = (after.size, pre.size)
    assert(rows == rows0, s"a failed append left $rows rows where $rows0 were")
    assert(after == pre, "a failed append changed the table's rows")
    assert(files(dir, _.endsWith(".graft")) == graft0,
      s"a failed append left data files: ${files(dir, _.endsWith(".graft")) -- graft0}")
    assert(files(dir, _.startsWith(GraftDataSource.AppendStatsPrefix)) == sidecars0,
      "a failed append added a stats sidecar")
    // the retry lands exactly one copy of the batch
    stmt
    val batch = read().columns.toSeq
    val want = (pre ++ canon(spark.sql(batchSql).select(batch.map(col): _*))).sorted
    val got = canon(read())
    // compared by canonical hash: a diff of 4,010 rows is no message
    val (n, hash, wantN, wantHash) = (got.size, got.hashCode, want.size, want.hashCode)
    assert(n == wantN && hash == wantHash,
      s"the retry did not land exactly one copy: $n rows (hash $hash), want $wantN ($wantHash)")
  }

  test("a failed path-API append leaves the table as it was") {
    val dir = Files.createTempDirectory("graft-failapp-path").toString
    spark.sql(preSql).write.format("graft").mode("append").save(dir)
    failThenRetry(dir, () => spark.read.format("graft").load(dir)) {
      spark.sql(batchSql).write.format("graft").mode("append").save(dir)
    }
  }

  test("a failed partitionBy append leaves the table as it was") {
    val dir = Files.createTempDirectory("graft-failapp-part").toString
    spark.sql(preSql).write.format("graft").partitionBy("v").mode("append").save(dir)
    failThenRetry(dir, () => spark.read.format("graft").load(dir)) {
      spark.sql(batchSql).write.format("graft").partitionBy("v").mode("append").save(dir)
    }
  }

  private def catalogTable(name: String, pointered: Boolean): String = {
    val root = Files.createTempDirectory(s"graft-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    spark.sql(s"CREATE TABLE $name.db.t (id BIGINT, v BIGINT) USING graft")
    spark.sql(s"INSERT INTO $name.db.t $preSql")
    if (pointered) spark.sql(s"CALL $name.sys.compact(ns => 'db', target_files => 1)")
    val dir = s"$root/db"
    assert(GraftDataSource.readGenPointer(conf, dir).isDefined == pointered)
    dir
  }

  test("a failed SQL INSERT into a loose catalog table leaves it as it was") {
    val dir = catalogTable("failapp_l", pointered = false)
    failThenRetry(dir, () => spark.table("failapp_l.db.t")) {
      spark.sql(s"INSERT INTO failapp_l.db.t $batchSql")
    }
  }

  test("a failed SQL INSERT into a pointered catalog table leaves it as it was") {
    val dir = catalogTable("failapp_p", pointered = true)
    failThenRetry(dir, () => spark.table("failapp_p.db.t")) {
      spark.sql(s"INSERT INTO failapp_p.db.t $batchSql")
    }
  }
}

object FailedAppendSpec {
  /** Whether partition 3 fails; off for the pre-state and the retry. */
  @volatile var armed = false
  /** Stages whose tasks ran the armed batch since the last reset. */
  val stages = ConcurrentHashMap.newKeySet[Int]()
  /** Successful tasks of those stages the driver has taken in. */
  val committed = new AtomicInteger

  /** Counts, on the driver, each successful task of an armed stage. The
    * scheduler posts a task's end before it hands the task's result to
    * the write, but it handles events one at a time, so partition 3's
    * failure reaches the job only after the three results did. */
  class CountTaskEnds extends SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason == Success && stages.contains(e.stageId)) committed.incrementAndGet()
  }

  /** The batch's identity map. Armed, every task records its stage at
    * its first row, and partition 3 then throws once the driver counted
    * the other three tasks' successful ends (their commit renamed their
    * files in). */
  def pass(id: Long): Long = {
    val tc = TaskContext.get()
    if (armed && tc != null && id % 1000 == 0) {
      stages.add(tc.stageId())
      if (tc.partitionId() == 3) {
        val deadline = System.currentTimeMillis() + 60000
        while (committed.get() < 3 && System.currentTimeMillis() < deadline) Thread.sleep(10)
        throw new IllegalStateException("partition 3 fails after the others committed")
      }
    }
    id
  }
}
