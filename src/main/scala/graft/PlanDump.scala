package graft

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dumps `.explain("formatted")` for named gates to files — the plan
  * evidence committed under plans/<round>/. Procedural gates (DML,
  * ANALYZE, maintenance) run their expensive work as INNER actions and
  * return only a summary frame, so a dump of the returned DataFrame
  * alone would show a LocalTableScan; a QueryExecutionListener therefore
  * captures every inner executed plan too, in execution order, with its
  * duration on the header line. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> q28 q37b ...
  * writes <outDir>/<gateName><suffix>.txt per gate.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val wanted = args.drop(3).toSeq
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()

    val captured = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add((funcName, durationNs, qe.explainString(FormattedMode)))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    wanted.foreach { w =>
      SparkEntry.queries.keys.toSeq.sorted.find(n => n == w || n.startsWith(w + "_")) match {
        case None => System.err.println(s"[plandump] no gate matches '$w'")
        case Some(name) =>
          val out = s"$outDir/$name$suffix.txt"
          try {
            captured.clear()
            val df = SparkEntry.queries(name)(spark, sfDir)
            val finalPlan = df.queryExecution.explainString(FormattedMode)
            // the listener bus delivers asynchronously: every inner
            // execution has posted its end event by now, so draining the
            // bus hands all of them to the listener
            ListenerBusDrain(spark.sparkContext)
            val sb = new StringBuilder
            sb.append(s"==== $name$suffix: inner executions (listener-captured, " +
              s"in order) then the returned DataFrame's plan ====\n")
            var i = 0
            captured.forEach { case (action, durationNs, plan) =>
              i += 1
              sb.append(f"\n---- inner execution #$i (action: $action, " +
                f"${durationNs / 1e9}%.3f s) ----\n")
              sb.append(plan).append("\n")
            }
            sb.append(s"\n---- returned DataFrame ----\n").append(finalPlan).append("\n")
            java.nio.file.Files.write(java.nio.file.Paths.get(out),
              sb.toString.getBytes("UTF-8"))
            println(s"[plandump] wrote $out (${i} inner)")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: $e")
          }
      }
    }
    spark.stop()
  }
}
