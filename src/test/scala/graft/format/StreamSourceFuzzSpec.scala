package graft.format

import java.nio.file.Files

import scala.util.Random


import graft.SparkSpec

/** Randomized exactly-once delivery through the graft streaming source:
  * random-sized appends (1..4 files each) land WHILE the stream runs —
  * triggers race the multi-file appends, so discoveries split across
  * micro-batches in whatever order the listing saw the files. Every row
  * must arrive exactly once (no loss from the discovery race, no
  * duplicates from the checkpointed log), including across a mid-run
  * stop/restart recovery from the segmented file log. */
class StreamSourceFuzzSpec extends SparkSpec {

  test("racy random appends deliver exactly once, across a restart (seed 13)") {
    val r = new Random(13)
    val dir = Files.createTempDirectory("graft-srcfuzz").toString
    val ck = Files.createTempDirectory("graft-srcfuzz-ck").toString
    import spark.implicits._

    var expected = Vector.empty[Long]
    var next = 0L
    def append(n: Int, files: Int): Unit = {
      val ids = (next until next + n).toVector
      next += n
      expected ++= ids
      ids.toDF("id").repartition(files)
        .write.format("graft").mode("append").save(dir)
    }

    append(5 + r.nextInt(20), 1 + r.nextInt(3))
    // graft sink, not memory: the memory sink refuses checkpoint
    // recovery, and the restart leg is the point — this also makes the
    // relay exactly-once via the sink's deterministic epoch files
    val out = Files.createTempDirectory("graft-srcfuzz-out").toString + "/t"
    def start() = spark.readStream.format("graft").load(dir)
      .writeStream.format("graft").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()

    val q1 = start()
    try {
      (1 to 5).foreach { _ =>
        // no processAllAvailable between appends: running triggers RACE
        // the appends and may see partial file sets
        append(1 + r.nextInt(40), 1 + r.nextInt(4))
      }
      q1.processAllAvailable()
    } finally q1.stop()
    // restart mid-history: recovery must resume from the segment log
    append(10, 2)
    val q2 = start()
    try {
      (1 to 3).foreach(_ => append(1 + r.nextInt(25), 1 + r.nextInt(4)))
      q2.processAllAvailable()
      val got = spark.read.format("graft").load(out).as[Long].collect().toVector
      assert(got.sorted == expected.sorted, {
        val missing = expected.diff(got)
        val dup = got.diff(expected)
        s"lost=${missing.take(5)}... dup=${dup.take(5)}... " +
          s"(${got.size} delivered, ${expected.size} expected)"
      })
    } finally q2.stop()
  }
}
