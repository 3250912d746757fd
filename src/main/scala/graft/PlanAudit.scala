package graft

/** Dumps the physical plans of representative gate queries so plan
  * regressions (lost broadcasts, surprise cartesians, missing pushdown)
  * are visible at a glance. Usage: runMain graft.PlanAudit [sfDir] [q...] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q3_join_agg_topk", "q37_ngram_jaccard", "q42_knn_join",
        "q46_lsh_recall", "q81_graft_filter", "q89_agg_pushdown")
    val spark = Harness.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString)
      catch { case e: Exception => println(s"FAILED to plan: $e") }
    }
    spark.stop()
  }
}
