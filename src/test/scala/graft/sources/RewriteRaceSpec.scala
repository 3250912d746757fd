package graft.sources

import graft.SparkSpec
import graft.format.OliveFormatException

/** The requireTargets guard in [[Generations.rewriteFiles]] exists for
  * callers that selected their target set from metadata read BEFORE the
  * live listing (materializeDvs reads the DV manifest first). When the
  * table vanishes entirely in that window — dropped or vacuumed — the
  * refusal must still be the 're-run' concurrent-change message, not the
  * misdirecting 'table not found' (ADVICE r15). */
class RewriteRaceSpec extends SparkSpec {

  private def rewriteWith(dir: String, targets: Set[String]) =
    Generations.rewriteFiles(spark, dir, "data",
      _ => true, (df, _) => df, (_, _, _) => (), requireTargets = targets)

  test("empty live view + outstanding targets refuses as concurrent change") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race_empty").toString
    val ex = intercept[OliveFormatException] {
      rewriteWith(dir, Set("/stale/gone.graft"))
    }
    assert(ex.getMessage.contains("re-run"), ex.getMessage)
  }

  test("live files but none of the table + outstanding targets refuses as concurrent change") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race_sib").toString
    import spark.implicits._
    Seq((1, "a")).toDF("id", "v").write.format("graft")
      .option("table", "sibling").mode("overwrite").save(dir)
    val ex = intercept[OliveFormatException] {
      rewriteWith(dir, Set("/stale/gone.graft"))
    }
    assert(ex.getMessage.contains("re-run"), ex.getMessage)
  }

  test("no targets on an absent table still says not found") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race_plain").toString
    import spark.implicits._
    Seq((1, "a")).toDF("id", "v").write.format("graft")
      .option("table", "sibling").mode("overwrite").save(dir)
    val ex = intercept[IllegalArgumentException] {
      rewriteWith(dir, Set.empty)
    }
    assert(ex.getMessage.contains("not found"), ex.getMessage)
  }
}
