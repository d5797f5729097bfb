package graft.pipelines

import java.time.{ZonedDateTime, ZoneOffset}

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.MockServingSink

class CliSpec extends AnyFunSuite {

  test("O1: mode parsing matches the reference CLI contract") {
    assert(PipelineCli.parseMode("overwrite") == SaveMode.Overwrite)
    assert(PipelineCli.parseMode("append") == SaveMode.Append)
    intercept[IllegalArgumentException](PipelineCli.parseMode("upsert"))
  }

  test("jhub previous-hour glob is zero-padded; 'all' widens") {
    val t = ZonedDateTime.of(2024, 3, 1, 0, 20, 0, 0, ZoneOffset.UTC)
    // previous hour of 00:20 on Mar 1 is 23:00 on Feb 29 (leap year)
    assert(PipelineCli.hourGlob(t, all = false) ==
      "year=2024/month=02/day=29/hour=23")
    assert(PipelineCli.hourGlob(t, all = true) ==
      "year=*/month=*/day=*/hour=*")
  }

  test("sink selection: mock without env, jdbc with it") {
    assert(PipelineCli.sinkFromEnv(Map.empty).isInstanceOf[MockServingSink])
    assert(PipelineCli.sinkFromEnv(Map("GRAFT_JDBC_URL" -> "jdbc:postgresql://x/db"))
      .isInstanceOf[graft.sinks.JdbcSink])
  }

  /** The mains join the suite's shared session via getOrCreate, which
    * writes SessionFactory's runtime conf onto it. The suite session
    * already carries the same `baseConf`; what differs is the shuffle
    * width, which every later suite keys on (the bucketed plan audits
    * assume the 4-partition default), and the app name.
    */
  private def withSessionConfRestored[A](body: => A): A =
    graft.TestSpark.withConfRestored("spark.sql.shuffle.partitions",
      "spark.app.name")(body)

  test("JhubMain end-to-end: argv -> glob -> pipeline -> staging parquet") {
    withSessionConfRestored {
    val spark = graft.TestSpark.spark // getOrCreate() in main reuses it
    val raw = Files.createTempDirectory("cli_raw")
    val part = raw.resolve("year=2024/month=01/day=01/hour=10")
    Files.createDirectories(part)
    Files.writeString(part.resolve("log.json"),
      """{"log": "[I 2024-01-01 10:00:00.000 JupyterHub app:1] ok", "time": "2024-01-01T10:00:00.000000000Z", "kubernetes": {"container_name": "c", "host": "h", "pod_name": "p", "annotations": {"a": "1"}, "labels": {"l": "1"}}}""")
    val staging = Files.createTempDirectory("cli_staging")
    JhubMain.main(Array(raw.toString, staging.toString, "all"))
    assert(spark.read.parquet(s"$staging/jhublogs").count() == 1)
    }
  }

  test("JhubMain stream mode drains the raw dir via the file stream") {
    withSessionConfRestored {
    val raw = Files.createTempDirectory("cli_raw_stream")
    val part = raw.resolve("year=2024/month=01/day=01/hour=11")
    Files.createDirectories(part)
    Files.writeString(part.resolve("log.json"),
      """{"log": "[I 2024-01-01 11:00:00.000 JupyterHub app:2] ok", "time": "2024-01-01T11:00:00.000000000Z", "kubernetes": {"container_name": "c", "host": "h", "pod_name": "p", "annotations": {"a": "1"}, "labels": {"l": "1"}}}""")
    val staging = Files.createTempDirectory("cli_staging_stream")
    JhubMain.main(Array(raw.toString, staging.toString, "stream"))
    val out = graft.TestSpark.spark.read.parquet(s"$staging/jhublogs")
    assert(out.count() == 1)
    assert(out.head().getAs[String]("log_code") == "2")
    }
  }
}
