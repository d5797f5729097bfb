package graft.sources

import java.nio.file.Files

import graft.{SparkTestBase, TestSpark}

class TablesSpec extends SparkTestBase {

  test("S2: dated glob widens 'all' to a wildcard") {
    assert(Tables.datedGlob("s3a://b/", "head-{date}*/logs_{date}*.json", "2024-01-01")
      == "s3a://b/head-2024-01-01*/logs_2024-01-01*.json")
    assert(Tables.datedGlob("s3a://b", "head-{date}*/x.json", "all")
      == "s3a://b/head-**/x.json")
  }

  test("S4: listFiles globs and substring-filters like s3_all_files") {
    val dir = tempDir("list")
    Seq("a-meetings-1.json", "a-meetings-2.json", "b-other.json").foreach { n =>
      Files.writeString(dir.resolve(n), "{}")
    }
    val all = Tables.listFiles(spark, s"$dir/*.json")
    assert(all.length == 3)
    val filtered = Tables.listFiles(spark, s"$dir/*.json", mask = "meetings")
    assert(filtered.length == 2 && filtered.forall(_.contains("meetings")))
    assert(Tables.listFiles(spark, s"$dir/nope/*.json").isEmpty)
  }

  test("S1: json scan with explicit schema skips inference") {
    val f = jsonFixture(Seq("""{"a": 1, "b": "x"}""", """{"a": 2, "b": "y"}"""), "s1")
    val inferred = Tables.json(spark, f)
    assert(inferred.count() == 2)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType)))
    val explicit = Tables.json(spark, f, Some(schema))
    assert(explicit.schema == schema && explicit.count() == 2)
  }

  test("S3: every harness table loads with rows") {
    Tables.names.foreach { name =>
      val df = Tables.load(spark, "/root/testdata/sf0.001", name)
      assert(df.count() > 0, name)
    }
  }

  test("S3: documents/embeddings read a byte-string split size") {
    // a deployment sets the split size the usual way; the under-split
    // check must parse it as the conf entry does
    val key = "spark.sql.files.maxPartitionBytes"
    TestSpark.withConfRestored() {
      try {
        Seq("64m", "128MB", "134217728b", "134217728").foreach { v =>
          spark.conf.set(key, v)
          Seq("documents", "embeddings").foreach { name =>
            val df = Tables.load(spark, "/root/testdata/sf0.001", name)
            // one small file is under-split: hashed across the cores
            assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
              s"$name at $v")
            assert(df.count() > 0, s"$name at $v")
          }
        }
        // 1 KiB splits: the 64 KiB documents file already splits past the
        // core count, so it is read as it is
        spark.conf.set(key, "1k")
        val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
        assert(docs.rdd.getNumPartitions > spark.sparkContext.defaultParallelism)
      } finally spark.conf.unset(key)
    }
  }

  test("S3: events.ts normalizes identically from both shipped encodings") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    // one instant, written two ways: INT64 nanoseconds (surfaces as
    // LongType under the legacy conf, exactly like pyarrow's annotated
    // nanos) and TIMESTAMP_NTZ — the two encodings the driver's
    // testdata has actually shipped
    val instantMicros = 1700000000123456L // 2023-11-14T22:13:20.123456Z
    val dir = tempDir("ts_enc")
    val nanosPath = s"$dir/events_nanos/events.parquet"
    spark.range(1).select(lit(instantMicros * 1000L).as("ts"),
      lit(1L).as("user_id")).write.parquet(nanosPath)
    val ntzPath = s"$dir/events_ntz/events.parquet"
    spark.range(1).select(
      timestamp_micros(lit(instantMicros)).cast(TimestampNTZType).as("ts"),
      lit(1L).as("user_id")).write.parquet(ntzPath)
    val got = Seq(s"$dir/events_nanos", s"$dir/events_ntz").map { d =>
      val df = Tables.load(spark, d, "events")
      assert(df.schema("ts").dataType == TimestampType, d)
      df.select(unix_micros(col("ts"))).head().getLong(0)
    }
    assert(got == Seq(instantMicros, instantMicros), got)
  }

  test("S3: a third ts encoding fails loudly; NTZ requires a UTC session") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampNTZType
    val dir = tempDir("ts_bad")
    // string-typed ts = the hypothetical third encoding
    val strPath = s"$dir/events_str/events.parquet"
    spark.range(1).select(lit("2024-01-01 00:00:00").as("ts"))
      .write.parquet(strPath)
    val e = intercept[IllegalStateException] {
      Tables.load(spark, s"$dir/events_str", "events")
    }
    assert(e.getMessage.contains("unsupported type"), e.getMessage)
    // NTZ under a non-UTC session would silently shift event times —
    // the loader must refuse instead
    val ntzPath = s"$dir/events_ntz2/events.parquet"
    spark.range(1).select(
      timestamp_micros(lit(0L)).cast(TimestampNTZType).as("ts"))
      .write.parquet(ntzPath)
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val e2 = intercept[IllegalArgumentException] {
        Tables.load(spark, s"$dir/events_ntz2", "events")
      }
      assert(e2.getMessage.contains("UTC"), e2.getMessage)
    } finally spark.conf.set(tzKey, saved)
  }
}
