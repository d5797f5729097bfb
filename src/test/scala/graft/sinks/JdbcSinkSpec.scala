package graft.sinks

import org.apache.spark.sql.SaveMode

import graft.SparkTestBase

/** K2/K3 against a REAL JDBC endpoint (embedded Derby, in-memory): the
  * serving path is not only mock-tested.
  */
class JdbcSinkSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("JdbcSink round-trip: write, append, count, out-of-band DDL") {
    import graft.TestSpark.spark.implicits._
    val sink = new JdbcSink(url, "", "", numPartitions = 2, batchSize = 100)

    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    sink.write(df, "serving_t1", SaveMode.Overwrite)
    assert(sink.count("serving_t1") == 3)

    sink.write(df, "serving_t1", SaveMode.Append)
    assert(sink.count("serving_t1") == 6)

    // K3: raw DDL through the same connection path (Derby has no
    // IF NOT EXISTS; plain CREATE like the reference's first-run path)
    sink.execute("CREATE TABLE oob_ddl (id BIGINT, note VARCHAR(64))")
    sink.execute("INSERT INTO oob_ddl VALUES (7, 'hello')")
    assert(sink.count("oob_ddl") == 1)

    // O4: dual-sink reconcile against the real serving side
    val staging = tempDir("jdbc_staging").toString + "/t1"
    ParquetSink.write(df, staging, SaveMode.Overwrite)
    val (staged, served, ok) =
      Reconcile.check(spark, staging, df.schema, sink, "oob_ddl")
    assert(staged == 3 && served == 1 && !ok) // counts differ -> flagged
  }

  test("writeDated backfill replaces one day's rows on a real JDBC table") {
    import graft.TestSpark.spark.implicits._
    val sink = new JdbcSink(url, "", "", numPartitions = 1, batchSize = 100)
    val d1 = java.sql.Date.valueOf("2024-05-01")
    val d2 = java.sql.Date.valueOf("2024-05-02")
    def rows(vals: (Long, java.sql.Date)*) = vals.toSeq.toDF("id", "load_date")
    // like the pipeline flow: the contract DDL creates the table (unquoted
    // identifiers) BEFORE any write — the raw DELETE then resolves the
    // same unquoted column name
    sink.execute("CREATE TABLE serving_dated (id BIGINT, load_date DATE)")

    sink.writeDated(rows((1L, d1), (2L, d1)), "serving_dated",
      SaveMode.Append, "load_date", d1)
    sink.writeDated(rows((3L, d2)), "serving_dated",
      SaveMode.Append, "load_date", d2)
    assert(sink.count("serving_dated") == 3)

    // the day-1 backfill: DELETE WHERE load_date = d1, then append
    sink.writeDated(rows((9L, d1)), "serving_dated",
      SaveMode.Overwrite, "load_date", d1)
    assert(sink.count("serving_dated") == 2) // d1 replaced, d2 untouched
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT id FROM serving_dated ORDER BY id")
      val ids = Iterator.continually(rs).takeWhile(_.next()).map(_.getLong(1)).toList
      assert(ids == List(3L, 9L))
    } finally conn.close()
  }
}
