package graft

import java.nio.file.{Files, Paths}

/** Physical-plan evidence dump: writes `.explain("formatted")` for the
  * named registered queries to `<outDir>/<name><suffix>.txt` — the
  * before/after plan artifacts the optimization rounds commit under
  * plans/rNN/ so plan-shape claims (Exchange counts, join strategies,
  * PushedFilters) are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>
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
    var failed = List.empty[String]
    for (name <- names) {
      SparkEntry.queries.get(name) match {
        case None =>
          failed ::= name
          System.err.println(s"[plandump] no such query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            // queryExecution.explainString == df.explain("formatted"),
            // captured instead of printed
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.write(Paths.get(outDir, s"$name$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"[plandump] wrote $outDir/$name$suffix.txt")
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
