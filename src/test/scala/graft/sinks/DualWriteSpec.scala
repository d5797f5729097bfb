package graft.sinks

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.pipelines.PipelineContext

/** The dual write's cost and its reconcile: a table's staging write and
  * serving write are its only Spark jobs, and the staged count comes
  * from the Parquet footers of the files a scan of the table reads.
  */
class DualWriteSpec extends SparkTestBase {
  import graft.TestSpark.spark.implicits._

  private val contract = Contract("dual_t", StructType(Seq(
    StructField("id", LongType), StructField("v", StringType))))

  /** A file-sourced frame, as the pipelines stage: a JSON read and a
    * projection (a local frame's count would fold into the plan). */
  private def source(n: Int, name: String): DataFrame = {
    val dir = tempDir(name)
    Files.writeString(dir.resolve("rows.json"),
      (0 until n).map(i => s"""{"id": $i, "v": "r$i"}""").mkString("\n"))
    spark.read.schema("id BIGINT, v STRING").json(dir.toString)
      .withColumn("v", upper(col("v")))
  }

  private def ctx(name: String) = new PipelineContext(spark,
    new MockServingSink, tempDir(name).toString, SaveMode.Overwrite)

  /** `body`'s result and the Spark jobs it submits from this thread. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("dual.write") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("dual.write", tag)
    val out =
      try body
      finally {
        sc.setLocalProperty("dual.write", null)
        GraftTestHooks.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
    (out, jobs.get)
  }

  test("an Overwrite saveTable runs two Spark jobs: the staging write " +
    "and the serving write") {
    val c = ctx("dual_jobs")
    val df = source(50, "dual_jobs_src")
    c.saveTable(df, contract) // plans and compiles once, outside the count
    val (r, jobs) = jobsOf(c.saveTable(df, contract))
    assert(r.rows == 50 && r.served == 50 && r.consistent, r.toString)
    assert(jobs == 2, s"$jobs jobs for one table's dual write")
  }

  test("reconcile reads what is on disk: a deleted part file shows as " +
    "an inconsistent table with the rows left") {
    val c = ctx("dual_deleted")
    val r = c.saveTable(source(60, "dual_deleted_src").repartition(3), contract)
    assert(r.rows == 60 && r.consistent, r.toString)
    val path = s"${c.stagingDir}/${contract.table}"
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 3, parts.map(_.getName).mkString(", "))
    assert(parts.head.delete())
    val (staged, served, ok) = Reconcile.check(spark, path, contract.schema,
      c.sink, contract.table)
    val left = spark.read.parquet(path).count()
    assert(left > 0 && left < 60, s"$left rows left")
    assert(staged == left && served == 60 && !ok, (staged, served, ok).toString)
  }

  test("reconcile of a dated table over two load dates counts both " +
    "partitions, as a scan does") {
    val c = ctx("dual_dated")
    val d1 = java.sql.Date.valueOf("2024-03-01")
    val d2 = java.sql.Date.valueOf("2024-03-02")
    val r1 = c.saveTable(source(7, "dual_dated_1"), contract, loadDate = Some(d1))
    val r2 = c.saveTable(source(5, "dual_dated_2"), contract, loadDate = Some(d2))
    val path = s"${c.stagingDir}/${contract.table}"
    val scanned = spark.read.parquet(path).count()
    assert(scanned == 12)
    assert(r1.rows == 7 && r1.consistent, r1.toString)
    assert(r2.rows == scanned && r2.served == scanned && r2.consistent,
      r2.toString)
  }

  test("reconcile of an empty Overwrite stages 0 rows") {
    val c = ctx("dual_empty")
    c.saveTable(source(4, "dual_empty_full"), contract)
    val r = c.saveTable(source(4, "dual_empty_src").filter(col("id") < 0),
      contract)
    assert(r.rows == 0 && r.served == 0 && r.consistent, r.toString)
  }

  test("reconcile fails on a non-Parquet file in the table directory, " +
    "as the scan does") {
    val c = ctx("dual_planted")
    c.saveTable(source(3, "dual_planted_src"), contract)
    val path = s"${c.stagingDir}/${contract.table}"
    Files.writeString(new java.io.File(path, "planted.json").toPath,
      """{"id": 1}""")
    intercept[Exception](spark.read.schema(contract.schema).parquet(path).count())
    intercept[Exception](Reconcile.check(spark, path, contract.schema,
      c.sink, contract.table))
  }

  test("the mock serving sink serves df.count() rows for empty, undated " +
    "and dated frames") {
    val sink = new MockServingSink
    val d = java.sql.Date.valueOf("2024-03-01")
    val frames = Seq(
      "local-empty" -> Seq.empty[(Long, String)].toDF("id", "v"),
      "filtered-empty" -> source(5, "mock_fe").filter(col("id") < 0),
      "undated" -> source(9, "mock_undated"),
      "shuffled" -> source(9, "mock_shuffled").groupBy("v").count())
    frames.foreach { case (name, df) =>
      sink.write(df, name, SaveMode.Overwrite)
      assert(sink.count(name) == df.count(), name)
    }
    val dated = source(6, "mock_dated").withColumn("load_date", lit(d))
    sink.writeDated(dated, "dated", SaveMode.Overwrite, "load_date", d)
    sink.writeDated(dated.limit(2), "dated", SaveMode.Append, "load_date", d)
    assert(sink.count("dated") == 8)
    sink.writeDated(dated.filter(col("id") < 0), "dated", SaveMode.Overwrite,
      "load_date", d)
    assert(sink.count("dated") == 0)
  }
}
