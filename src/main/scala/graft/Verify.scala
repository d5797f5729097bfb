package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SessionFactory.driver("graft-verify", defaultCpus = "4")
    new java.io.File(outDir).mkdirs()
    // per-query wall cap (same containment as Bench's watchdog): one
    // pathological query must cost the round ONE red correctness row,
    // not the whole dump timing out with no artifact. Verify runs each
    // query once on fewer cores than Bench, so the default cap is wider.
    val watchdogSec =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT_SEC", "300").toInt
    require(watchdogSec >= 1,
      s"SPARK_GRAFT_VERIFY_TIMEOUT_SEC must be >= 1, got $watchdogSec")
    // focused iteration, mirroring Bench's SPARK_GRAFT_BENCH_ONLY; the
    // driver never sets it, so round dumps stay complete
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
      Bench.timedPass(spark, name, () => {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val n = spark.read.parquet(s"$outDir/$name").count()
        println(s"[verify] $name: $n rows")
      }, watchdogSec) match {
        case Right(_) => ()
        case Left(reason) =>
          failed ::= name
          System.err.println(s"[verify] $name failed: $reason")
      }
    }
    // loud STDOUT summary: a swallowed per-query failure cost round 8 a
    // silently-missing rows-only dump (the stderr line never reached the
    // tail-watching eye); the last stdout line must say pass or fail
    if (failed.nonEmpty)
      println(s"[verify] FAILED ${failed.size}: ${failed.sorted.mkString(", ")}")
    else
      println(s"[verify] all ${selected.size} queries dumped OK")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // non-zero exit on any per-query failure: a driver that checks the
    // process status (not the stdout tail) must not read a partial dump
    // as success
    if (failed.nonEmpty) sys.exit(1)
  }
}
