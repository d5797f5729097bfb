package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftbridge.PinBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Pin

/** Physical-plan evidence dump: writes `.explain("formatted")` for the
  * named registered queries to `<outDir>/<name><suffix>.txt` — the
  * before/after plan artifacts the optimization rounds commit under
  * plans/rNN/ so plan-shape claims (Exchange counts, join strategies,
  * PushedFilters) are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>
  *
  * A query that pins frames while it is built runs those pins' jobs
  * before its own plan exists, and their joins never show in it; the
  * formatted plan of each such job goes to `<name><suffix>.pins.txt`,
  * in run order. Each query is built and explained in one
  * [[graft.operators.Pin.scope]], so its pins and caches are freed
  * before the next query is built.
  *
  * The session is [[SessionFactory.driver]], the one [[Bench]] times,
  * so the dumped plan is the one the bench runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, namesArg) = args
    val spark = SessionFactory.driver("graft-plandump", defaultCpus = "32")
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (namesArg == "all") SparkEntry.queries.keys.toSeq.sorted
      else namesArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val pinPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (funcName == "checkpoint" || funcName == "localCheckpoint")
          pinPlans.add(qe.explainString(FormattedMode))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
    var failed = List.empty[String]
    for (name <- names) {
      SparkEntry.queries.get(name) match {
        case None =>
          failed ::= name
          System.err.println(s"[plandump] no such query: $name")
        case Some(fn) =>
          try {
            PinBridge.drainListeners(spark.sparkContext)
            pinPlans.clear()
            // queryExecution.explainString == df.explain("formatted"),
            // captured instead of printed
            val txt = Pin.scope(
              fn(spark, sfDir).queryExecution.explainString(FormattedMode))
            Files.write(Paths.get(outDir, s"$name$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"[plandump] wrote $outDir/$name$suffix.txt")
            PinBridge.drainListeners(spark.sparkContext)
            if (!pinPlans.isEmpty) {
              Files.write(Paths.get(outDir, s"$name$suffix.pins.txt"),
                pinPlans.toArray.mkString("\n").getBytes("UTF-8"))
              println(s"[plandump] wrote $outDir/$name$suffix.pins.txt")
            }
          } catch {
            case e: Exception =>
              failed ::= name
              System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
