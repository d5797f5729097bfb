package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class StreamsSpec extends SparkTestBase {

  /** A real replay of a query's last batch: delete the batch's commit
    * from the checkpoint at `ckpt` (the state a crash after the batch's
    * writes and before its checkpoint commit leaves), then `start` the
    * query again from that checkpoint and drain it; the engine re-runs
    * the batch with the same id and input. */
  private def replayLastBatch(ckpt: String)
      (start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete()
    val q = start
    try q.processAllAvailable() finally q.stop()
    assert(q.exception.isEmpty, q.exception.toString)
    assert(new java.io.File(commits, last.toString).exists(),
      s"batch $last did not run again")
  }

  /** The newest version number of the store at `path`. */
  private def storeVersion(path: String): Long =
    new StoreLog(spark, path).latest().get._1

  test("jhubStream: AvailableNow drains the input dir through the batch transform") {
    val in = tempDir("stream_in")
    val out = tempDir("stream_out")
    val ckpt = tempDir("stream_ckpt")
    Files.writeString(in.resolve("part1.json"),
      """{"log": "[I 2024-01-01 10:00:00.123 JupyterHub app:200] GET /hub", "time": "2024-01-01T10:00:00.123456789Z", "kubernetes": {"container_name": "hub", "host": "n1", "pod_name": "p1", "annotations": {"a": "1"}, "labels": {"l": "1"}}}""")

    // explicit schema (streaming file sources require one) — inferred once
    // from a batch read of the same fixture, the SURVEY §7.4.2 pattern
    val schema = spark.read.json(in.toString).schema
    val q = Streams.jhubStream(spark, in.toString, schema, out.toString,
      ckpt.toString).start()
    q.awaitTermination(60000)

    val res = spark.read.parquet(out.toString)
    assert(res.count() == 1)
    val r = res.head()
    assert(r.getAs[String]("log_code") == "200")
    assert(r.getAs[Timestamp]("time_stamp") ==
      Timestamp.valueOf("2024-01-01 10:00:00.123456"))

    // restart with a second file: checkpoint makes it incremental
    Files.writeString(in.resolve("part2.json"),
      """{"log": "no brackets", "time": "2024-01-01T11:00:00.000000000Z", "kubernetes": {"container_name": "hub", "host": "n2", "pod_name": "p2", "annotations": {"a": "1"}, "labels": {"l": "1"}}}""")
    val q2 = Streams.jhubStream(spark, in.toString, schema, out.toString,
      ckpt.toString).start()
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out.toString).count() == 2)
  }

  test("eventCountsHourly: watermarked tumbling windows over a memory stream") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")

    val q = Streams.eventCountsHourly(events)
      .writeStream.format("memory").queryName("ev_counts")
      .outputMode("complete").start()

    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.5),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.5),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 1.0))
    q.processAllAvailable()

    val rows = spark.table("ev_counts").collect()
      .map(r => (r.getAs[Timestamp]("event_hour").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value"))).toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00.0", "click", 2L, 4.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 1.0)))
    q.stop()
  }

  test("sessionizeStream: closes a session when the gap is exceeded") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val mem = MemoryStream[Streams.SessionEvent]
    val out = Streams.sessionizeStream(mem.toDS(), gapSeconds = 3600)

    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    mem.addData(
      Streams.SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      Streams.SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:10:00")))
    q.processAllAvailable()
    // next batch: an event far beyond the gap closes the open session
    mem.addData(
      Streams.SessionEvent(1L, Timestamp.valueOf("2024-01-01 15:00:00")))
    q.processAllAvailable()

    val rows = spark.table("sessions").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events"))).toSet
    assert(rows.contains((1L, Timestamp.valueOf("2024-01-01 10:00:00"),
      Timestamp.valueOf("2024-01-01 10:10:00"), 2L)), rows.toString)
    q.stop()
  }

  test("streaming exact dedup within the watermark") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val deduped = mem.toDF().toDF("doc_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")

    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    mem.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:05:00")), // dup within watermark
      (2L, Timestamp.valueOf("2024-01-01 10:10:00")))
    q.processAllAvailable()
    val ids = spark.table("dedup_stream").select("doc_id").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 2L))
    q.stop()
  }

  test("dualSinkStream: micro-batches land via the contract dual-sink") {
    import graft.TestSpark.spark.implicits._
    import org.apache.spark.sql.types._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val sink = new graft.sinks.MockServingSink
    val ctx = new graft.pipelines.PipelineContext(spark, sink,
      tempDir("dual_stream").toString, org.apache.spark.sql.SaveMode.Append)
    val contract = graft.sinks.Contract("stream_events", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val d = java.sql.Date.valueOf("2024-05-01")
    val q = Streams.dualSinkStream(mem.toDF().toDF("id", "v"), ctx, contract,
      tempDir("dual_ckpt").toString, loadDate = Some(d),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(ctx.failed.isEmpty, ctx.report.toString)
    // both sinks accumulated across batches and reconciled per batch
    val staged = spark.read.parquet(s"${ctx.stagingDir}/stream_events")
    assert(staged.count() == 3 && sink.count("stream_events") == 3)
    assert(ctx.report.collect { case (_, Right(r)) => r.consistent }
      .forall(identity))
    // streaming batches share the batch path's partition layout
    assert(staged.filter(col("load_date") === lit(d)).count() == 3)
    assert(sink.ddl.exists(s => s.contains("stream_events") && s.contains("load_date date")))
  }

  test("dualSinkStream: a batch REPLAYED after a recorded failure can " +
    "succeed (the failure check reads this attempt, not the report)") {
    import graft.TestSpark.spark.implicits._
    import org.apache.spark.sql.types._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val sink = new graft.sinks.MockServingSink
    val ctx = new graft.pipelines.PipelineContext(spark, sink,
      tempDir("replay_stream").toString, org.apache.spark.sql.SaveMode.Append)
    val contract = graft.sinks.Contract("replay_events", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    // poison the report with a recorded failure under the SAME stage
    // name batch 0 will use — the restart-with-reused-ctx shape. The
    // old report-scan check found this Left and rethrew forever, so a
    // transient failure could never clear and every retry re-appended
    // the batch's rows.
    ctx.stage("replay_events#0") {
      throw new RuntimeException("transient failure from attempt 1")
    }
    assert(ctx.failed.contains("replay_events#0"))
    val mem = MemoryStream[(Long, String)]
    val q = Streams.dualSinkStream(mem.toDF().toDF("id", "v"), ctx, contract,
        tempDir("replay_ckpt").toString,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem.addData((1L, "a"))
    q.processAllAvailable() // must NOT throw: this attempt succeeded
    q.stop()
    assert(spark.read.parquet(s"${ctx.stagingDir}/replay_events")
      .count() == 1, "the retried batch must land exactly once")
  }

  test("dualSinkZoneStatsStream: the reference's hourly-incremental " +
    "cadence end-to-end — multi-batch dated drains with the stats " +
    "store maintained per batch, a replayed batch, then a data-column " +
    "predicate prunes load_date directories via attachFromStore") {
    import graft.TestSpark.spark.implicits._
    import org.apache.spark.sql.types._
    import graft.plans.ZoneMapPruning
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val sink = new graft.sinks.MockServingSink
    val ctx = new graft.pipelines.PipelineContext(spark, sink,
      tempDir("dszs_staging").toString, org.apache.spark.sql.SaveMode.Append)
    val contract = graft.sinks.Contract("jhub_hourly", StructType(Seq(
      StructField("uid", LongType), StructField("hr", StringType),
      StructField("msg", StringType))))
    val store = tempDir("dszs_store").toString
    val path = s"${ctx.stagingDir}/jhub_hourly"
    // one streaming RUN per day (the daily cadence); each micro-batch
    // is one hour's worth of jhub-shaped logs, hr = ISO hour prefix so
    // a predicate on the DATA column maps onto days
    val ckpts = scala.collection.mutable.Map.empty[String, String]
    def ckpt(d: String) = ckpts.getOrElseUpdate(d, tempDir(s"dszs_ckpt_$d").toString)
    def start(d: String, mem: MemoryStream[(Long, String, String)]) =
      Streams.dualSinkZoneStatsStream(
          mem.toDF().toDF("uid", "hr", "msg"), ctx, contract,
          ckpt(d), java.sql.Date.valueOf(d),
          zoneDims = Seq("uid", "hr"), storePath = store,
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
    def day(d: String, hours: Seq[Int]): MemoryStream[(Long, String, String)] = {
      val mem = MemoryStream[(Long, String, String)]
      val q = start(d, mem)
      hours.foreach { h =>
        mem.addData((1 to 5).map(i =>
          (h * 100L + i, f"${d}T$h%02d", s"login user-$i")): _*)
        q.processAllAvailable()
      }
      q.stop()
      mem
    }
    day("2024-05-01", Seq(10, 11)) // two hourly increments
    day("2024-05-02", Seq(9))
    val day3 = day("2024-05-03", Seq(14))
    assert(ctx.failed.isEmpty, ctx.report.toString)
    // the composed path kept both halves in lockstep: attach is a
    // metadata read of the slice store and passes its whole-bucket
    // coverage tripwire against the staging directories
    ZoneMapPruning.attachFromStore(spark, path, "load_date", store)
    try {
      val q1 = spark.read.parquet(path)
        .where(col("hr") >= "2024-05-02T00" && col("hr") <= "2024-05-02T23")
      assert(q1.select("uid").collect().map(_.getLong(0)).sorted.toSeq ==
        (1 to 5).map(901L + _ - 1).toSeq)
      assert(graft.plans.PlanInspect.planString(q1).replaceAll("\\s+", " ")
        .matches(".*PartitionFilters: \\[[^\\]]*load_date[^\\]]*IN.*"),
        graft.plans.PlanInspect.planString(q1))
    } finally ZoneMapPruning.detach(spark, path)
    // REPLAYED batch (day 3's run restarted after a crash that lost the
    // batch's checkpoint commit): the data half re-appends — the
    // reference's append-mode idempotency model — while the stats
    // slice commits nothing, and pruning still serves the same answer
    val v = storeVersion(store)
    replayLastBatch(ckpt("2024-05-03"))(start("2024-05-03", day3))
    assert(storeVersion(store) == v, "the replayed stats slice committed")
    ZoneMapPruning.attachFromStore(spark, path, "load_date", store)
    try {
      val q2 = spark.read.parquet(path).where(col("hr") === "2024-05-03T14")
      // the day-3 hour now holds the original 5 rows + the replayed 5
      assert(q2.count() == 10, q2.count().toString)
      assert(graft.plans.PlanInspect.planString(q2).replaceAll("\\s+", " ")
        .matches(".*PartitionFilters: \\[[^\\]]*load_date[^\\]]*IN.*"),
        graft.plans.PlanInspect.planString(q2))
    } finally ZoneMapPruning.detach(spark, path)
  }

  test("incrementalDedupStream: batch 2 drops a re-sent batch-1 doc via the signature store") {
    // every batch frees the funnel's persisted intermediates: neither
    // the persistent RDDs nor the cache manager's plan entries (which
    // `Dataset.unpersist` removes and an RDD-level unpersist would leak)
    // may grow from one batch to the next
    def cached: (Int, Int) = (spark.sparkContext.getPersistentRDDs.size,
      org.apache.spark.sql.graftbridge.CacheBridge.numCachedEntries(spark))
    var last = cached
    def assertNoGrowth(batch: Int): Unit = {
      val now = cached
      assert(now._1 <= last._1,
        s"batch $batch leaked ${now._1 - last._1} cached RDD(s)")
      assert(now._2 <= last._2,
        s"batch $batch leaked ${now._2 - last._2} cache-manager entr(ies)")
      last = now
    }
    dedupThreeBatches("dedup")(assertNoGrowth)
  }

  test("incrementalDedupStream: with a checkpoint dir set (reliable " +
      "pins), the checkpoint dir holds no more files after batch 3 than " +
      "after batch 1") {
    val sc = spark.sparkContext
    val dir = tempDir("dedup_pin_ckpt").toFile
    sc.setCheckpointDir(dir.toString)
    def files: Int = java.nio.file.Files.walk(dir.toPath).toArray
      .count(p => java.nio.file.Files.isRegularFile(
        p.asInstanceOf[java.nio.file.Path]))
    var afterFirst = -1
    try dedupThreeBatches("dedup_reliable") {
      case 1 => afterFirst = files
      case 3 => assert(files <= afterFirst,
        s"checkpoint dir grew from $afterFirst to $files files over two batches")
      case _ =>
    } finally org.apache.spark.GraftTestHooks.clearCheckpointDir(sc)
    assert(afterFirst >= 0 && sc.getCheckpointDir.isEmpty)
  }

  /** Three `incrementalDedupStream` batches with their output checks;
    * `afterBatch(n)` runs once batch n is processed. */
  private def dedupThreeBatches(tag: String)(afterBatch: Int => Unit): Unit = {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val textA = "the cat and the dog walk to the old mill by the river road"
    val textB = "the sun is warm and the wind is cold over the high green hills"
    val cfg = graft.pipelines.CorpusPipeline.Config(minQuality = 0.0,
      keepLangs = Seq("en"), minTokens = 5, shingleSize = 3,
      numHashes = 64, bands = 16, minEstJaccard = 0.5, featureDim = 4)
    val sigStore = tempDir(s"${tag}_sigs").toString
    val curated = tempDir(s"${tag}_curated").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.incrementalDedupStream(mem.toDF().toDF("doc_id", "text"),
        sigStore, curated, tempDir(s"${tag}_stream_ckpt").toString, cfg,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem.addData((1L, textA), (2L, textB))
    q.processAllAvailable()
    afterBatch(1)
    // batch 1 bootstrapped an empty store: both docs kept, sigs appended
    assert(spark.read.parquet(curated).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    assert(spark.read.parquet(sigStore).count() == 2)
    // batch 2 re-sends textA under a new id, plus one genuinely new doc:
    // the re-send is a cross-batch duplicate against the store
    val textC = "the children read the books and the teacher is glad today"
    mem.addData((10L, textA), (11L, textC))
    q.processAllAvailable()
    afterBatch(2)
    assert(spark.read.parquet(curated).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 11L))
    // and batch 2's survivor handed its signature forward for batch 3
    assert(spark.read.parquet(sigStore).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 11L))
    // batch 3 re-sends batch 2's survivor and adds one new doc: the
    // re-send is dropped against the signature batch 2 appended
    mem.addData((20L, textC),
      (21L, "a small red boat sails past the grey harbour wall at dawn"))
    q.processAllAvailable()
    q.stop()
    afterBatch(3)
    assert(spark.read.parquet(curated).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 11L, 21L))
    assert(spark.read.parquet(sigStore).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 11L, 21L))
  }

  test("incrementalDedupStream: a replayed batch whose signatures " +
    "committed is skipped whole") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val cfg = graft.pipelines.CorpusPipeline.Config(minQuality = 0.0,
      keepLangs = Seq("en"), minTokens = 5, shingleSize = 3,
      numHashes = 64, bands = 16, minEstJaccard = 0.5, featureDim = 4)
    val sigStore = tempDir("dedup_replay_sigs").toString
    val curated = tempDir("dedup_replay_curated").toString
    val ckpt = tempDir("dedup_replay_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    def start() = Streams.incrementalDedupStream(
        mem.toDF().toDF("doc_id", "text"), sigStore, curated, ckpt, cfg,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    val q = start()
    mem.addData((1L, "the cat and the dog walk to the old mill by the river road"))
    q.processAllAvailable()
    mem.addData((2L, "the sun is warm and the wind is cold over the high green hills"))
    q.processAllAvailable()
    q.stop()
    def ids(path: String) =
      spark.read.parquet(path).select("doc_id").as[Long].collect().sorted.toSeq
    val v = storeVersion(sigStore)
    val curatedFiles = new java.io.File(curated).list().length
    replayLastBatch(ckpt)(start())
    assert(storeVersion(sigStore) == v, "the replayed batch committed")
    assert(new java.io.File(curated).list().length == curatedFiles,
      "the replayed batch wrote curated rows")
    assert(ids(curated) == Seq(1L, 2L) && ids(sigStore) == Seq(1L, 2L))
  }

  test("streamStreamJoin: time-bounded attribution over two memory streams") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = Streams.streamStreamJoin(
      imps.toDF().toDF("imp_ad", "imp_ts"),
      clicks.toDF().toDF("click_ad", "click_ts"),
      "imp_ad", "click_ad", "imp_ts", "click_ts",
      maxDelay = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    imps.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:00:00")))
    clicks.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:05:00")),  // within bound: joins
      (2L, Timestamp.valueOf("2024-01-01 10:30:00")),  // too late: dropped
      (3L, Timestamp.valueOf("2024-01-01 10:05:00")))  // no impression
    q.processAllAvailable()
    val rows = spark.table("attrib").select("imp_ad").collect()
      .map(_.getLong(0)).toSeq
    assert(rows == Seq(1L))
    q.stop()
  }

  test("enrichStream: broadcast stream-static join enriches micro-batches") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val enriched = Streams.enrichStream(
      mem.toDF().toDF("user_id", "amount"), dim, Seq("user_id"))
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData((1L, 10.0), (3L, 5.0)) // 3 has no dim row -> null tier kept
    q.processAllAvailable()
    val rows = spark.table("enriched").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    assert(rows == Set((1L, Some("gold")), (3L, None)))
    q.stop()
  }

  test("dualSinkStream: a failed batch fails the query (checkpoint must not advance)") {
    import graft.TestSpark.spark.implicits._
    import org.apache.spark.sql.types._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val sink = new graft.sinks.MockServingSink {
      override def write(df: org.apache.spark.sql.DataFrame, table: String,
                         mode: org.apache.spark.sql.SaveMode): Unit =
        throw new RuntimeException("serving sink down")
    }
    val ctx = new graft.pipelines.PipelineContext(spark, sink,
      tempDir("dual_fail").toString, org.apache.spark.sql.SaveMode.Append)
    val contract = graft.sinks.Contract("failing_events", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val q = Streams.dualSinkStream(mem.toDF().toDF("id", "v"), ctx, contract,
      tempDir("dual_fail_ckpt").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem.addData((1L, "a"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(30000)
    }
    // the stage failure propagated instead of being swallowed — a
    // swallowed failure would commit the batch and silently drop its rows
    assert(e.getMessage.contains("dual-sink batch") ||
      Option(e.getCause).exists(_.getMessage.contains("dual-sink batch")))
    assert(ctx.failed.nonEmpty)
  }

  test("decontaminationGate: stateless bloom filter drops contaminated stream docs") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    import org.apache.spark.sql.functions.col
    // eval corpus: one known benchmark passage
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val bloom = graft.operators.Dedup.buildShingleBloom(eval, col("text"),
      n = 3, expectedItems = 1024)
    val mem = MemoryStream[(Long, String)]
    val gated = graft.operators.Dedup.decontaminationGate(
      mem.toDF().toDF("doc_id", "text"), bloom, col("text"), n = 3)
    val q = gated.writeStream.format("memory").queryName("decontam_stream")
      .outputMode("append").start()
    mem.addData(
      (1L, "totally novel words about spark shuffles and parquet files"),
      (2L, "copied the quick brown fox jumps verbatim"), // shares 3-grams
      (3L, "short"))
    q.processAllAvailable()
    val kept = spark.table("decontam_stream").select("doc_id").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(kept == Seq(1L, 3L), s"kept $kept")
    q.stop()
  }

  test("qualityGateStream: stateless Gopher+logit gate filters a stream " +
    "and agrees with the batch plan") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    import org.apache.spark.sql.functions.col
    // 1: fluent 50+ words with stopwords → passes both gates
    // 2: symbol soup → fails (alpha frac + symbol ratio)
    val fluent = ("the data pipeline reads events and writes hourly " +
      "aggregates to the serving store with careful handling of late " +
      "arrivals and that process repeats for every source we have " +
      "registered so far including batch and stream inputs alike " +
      "which keeps the curated corpus fresh and consistent over time " +
      "for the training runs that consume it downstream every day")
    val junk = Seq.fill(60)("#x@").mkString(" ")
    val mem = MemoryStream[(Long, String)]
    val gated = Streams.qualityGateStream(
      mem.toDF().toDF("doc_id", "text"), col("text"))
    val q = gated.writeStream.format("memory").queryName("quality_stream")
      .outputMode("append").start()
    mem.addData((1L, fluent), (2L, junk))
    q.processAllAvailable()
    val kept = spark.table("quality_stream").select("doc_id").collect()
      .map(_.getLong(0)).toSeq
    assert(kept == Seq(1L), s"kept $kept")
    q.stop()
    // batch form: SAME function, same plan, same verdicts
    val batchKept = Streams.qualityGateStream(
        Seq((1L, fluent), (2L, junk)).toDF("doc_id", "text"), col("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(batchKept == Seq(1L))
  }

  test("funnelStream: completion matches the batch funnel once the watermark passes; wrong-order-only stalls") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    def ev(u: Long, t: String, typ: String) =
      Streams.FunnelEvent(u, Timestamp.valueOf(s"2024-01-01 $t"), typ)
    val mem = MemoryStream[Streams.FunnelEvent]
    val out = Streams.funnelStream(mem.toDS(),
      Seq("view", "click", "purchase"), idleFlushSeconds = 7200)
    val q = out.writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()

    // user 1 completes across TWO micro-batches (state carries over);
    // user 2 clicks before viewing — the ordered funnel must stall at
    // the view even though both event types are present
    mem.addData(ev(1L, "10:00:00", "view"), ev(1L, "10:05:00", "click"),
      ev(2L, "09:00:00", "click"))
    q.processAllAvailable()
    mem.addData(ev(1L, "10:10:00", "purchase"), ev(2L, "09:30:00", "view"))
    q.processAllAvailable()
    // nothing may emit before the watermark passes the chain — the
    // delayed-fold contract (lateness default 10 min; wm is 10:00 here)
    assert(spark.table("funnel_stream").isEmpty,
      spark.table("funnel_stream").collect().toSeq.toString)
    // watermark-driving traffic from another user finalizes the chain
    mem.addData(ev(9L, "11:00:00", "view"))
    q.processAllAvailable()
    mem.addData(ev(9L, "11:30:00", "view")) // deliver pending timeouts
    q.processAllAvailable()

    val done = spark.table("funnel_stream").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_steps"),
        r.getAs[Timestamp]("t_first"), r.getAs[Timestamp]("t_last"),
        r.getAs[Boolean]("completed")))
      .filter(_._1 == 1L)
    assert(done.toSeq == Seq((1L, 3,
      Timestamp.valueOf("2024-01-01 10:00:00"),
      Timestamp.valueOf("2024-01-01 10:10:00"), true)), done.toSeq.toString)

    // batch twin agrees on the same event set: user 1 completes with the
    // same endpoint times, user 2 stalls after the view
    import graft.operators.EventAnalytics
    val batch = EventAnalytics.funnelTimes(
      Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), "view"),
        (1L, Timestamp.valueOf("2024-01-01 10:05:00"), "click"),
        (1L, Timestamp.valueOf("2024-01-01 10:10:00"), "purchase"),
        (2L, Timestamp.valueOf("2024-01-01 09:00:00"), "click"),
        (2L, Timestamp.valueOf("2024-01-01 09:30:00"), "view"))
        .toDF("user_id", "ts", "event_type"),
      col("user_id"), col("ts"), col("event_type"),
      Seq("view", "click", "purchase"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(3))))
    assert(batch.toSeq == Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"),
        Some(Timestamp.valueOf("2024-01-01 10:10:00"))),
      (2L, Timestamp.valueOf("2024-01-01 09:30:00"), None)))
    q.stop()
  }

  test("funnelStream: a step-1 event arriving a micro-batch AFTER step-2 (within lateness) still completes") {
    // the batch-equivalence-under-reordering contract: cross-batch
    // arrival order must not matter inside the watermark bound — the
    // old event-arrival fold could never complete this funnel
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    def ev(u: Long, t: String, typ: String) =
      Streams.FunnelEvent(u, Timestamp.valueOf(s"2024-01-01 $t"), typ)
    val mem = MemoryStream[Streams.FunnelEvent]
    val out = Streams.funnelStream(mem.toDS(), Seq("view", "click"),
      idleFlushSeconds = 7200, lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("funnel_ooo")
      .outputMode("append").start()

    mem.addData(ev(1L, "10:05:00", "click")) // step 2 arrives FIRST
    q.processAllAvailable()
    mem.addData(ev(1L, "10:00:00", "view")) // step 1 a batch later, within lateness
    q.processAllAvailable()
    mem.addData(ev(9L, "10:30:00", "view")) // watermark past the chain
    q.processAllAvailable()
    mem.addData(ev(9L, "10:40:00", "view")) // deliver pending timeouts
    q.processAllAvailable()

    val done = spark.table("funnel_ooo").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_steps"),
        r.getAs[Timestamp]("t_first"), r.getAs[Timestamp]("t_last"),
        r.getAs[Boolean]("completed")))
      .filter(_._1 == 1L)
    assert(done.toSeq == Seq((1L, 2,
      Timestamp.valueOf("2024-01-01 10:00:00"),
      Timestamp.valueOf("2024-01-01 10:05:00"), true)), done.toSeq.toString)
    q.stop()
  }

  test("funnelStream: idle users flush a partial row on event-time timeout") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    def ev(u: Long, t: String, typ: String) =
      Streams.FunnelEvent(u, Timestamp.valueOf(s"2024-01-01 $t"), typ)
    val mem = MemoryStream[Streams.FunnelEvent]
    val out = Streams.funnelStream(mem.toDS(),
      Seq("view", "click", "purchase"), idleFlushSeconds = 600,
      lateness = "1 minute")
    val q = out.writeStream.format("memory").queryName("funnel_flush")
      .outputMode("append").start()

    mem.addData(ev(1L, "10:00:00", "view"), ev(1L, "10:02:00", "click"))
    q.processAllAvailable()
    // another user's much later event advances the watermark beyond
    // user 1's last event + idleFlushSeconds -> the timeout fires
    mem.addData(ev(9L, "12:00:00", "view"))
    q.processAllAvailable()
    mem.addData(ev(9L, "13:00:00", "click")) // one more batch to deliver timeouts
    q.processAllAvailable()

    val flushed = spark.table("funnel_flush").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_steps"),
        r.getAs[Boolean]("completed")))
    assert(flushed.contains((1L, 2, false)), flushed.toSeq.toString)
    q.stop()
  }

  test("funnelStream: a stale non-advancing event after the watermark passed must not kill the query") {
    // regression: state carries times from before the watermark; a batch
    // that delivers only a WRONG-step event for that user runs the data
    // path, and re-setting the (now stale) timeout would throw
    // "timeout cannot be earlier than watermark" and terminate the
    // query — the clamp must land it just past the watermark instead
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    def ev(u: Long, t: String, typ: String) =
      Streams.FunnelEvent(u, Timestamp.valueOf(s"2024-01-01 $t"), typ)
    val mem = MemoryStream[Streams.FunnelEvent]
    val out = Streams.funnelStream(mem.toDS(),
      Seq("view", "click", "purchase"), idleFlushSeconds = 600,
      lateness = "1 minute")
    val q = out.writeStream.format("memory").queryName("funnel_stale")
      .outputMode("append").start()

    mem.addData(ev(1L, "10:00:00", "view"))
    q.processAllAvailable()
    // advance the watermark way past user 1's timeout (10:10)
    mem.addData(ev(9L, "12:00:00", "view"))
    q.processAllAvailable()
    // user 1 sends a non-advancing event (purchase while click expected)
    // in the same batch window — without the clamp this crashed the query
    mem.addData(ev(1L, "12:00:30", "purchase"))
    q.processAllAvailable()
    mem.addData(ev(9L, "13:00:00", "click")) // watermark past the stale event
    q.processAllAvailable()
    mem.addData(ev(9L, "14:00:00", "click")) // deliver pending timeouts
    q.processAllAvailable()
    assert(q.exception.isEmpty, q.exception.toString)
    val flushed = spark.table("funnel_stale").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_steps"),
        r.getAs[Boolean]("completed")))
    assert(flushed.contains((1L, 1, false)), flushed.toSeq.toString)
    q.stop()
  }

  test("cdcMergeStream: versioned store across batches, stale stragglers lose") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val store = tempDir("cdc_store").toString
    val mem = MemoryStream[(Long, Long, String, String)]
    val q = Streams.cdcMergeStream(
        mem.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_ckpt").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    // batch 1: two inserts, then a high-seq delete of one of them
    mem.addData((1L, 1L, "upsert", "alpha"), (2L, 2L, "upsert", "beta"),
      (1L, 5L, "delete", null.asInstanceOf[String]))
    q.processAllAvailable()
    val v1 = Streams.cdcStoreView(spark, store)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1 == Map(2L -> "beta"))
    // batch 2: a STALE upsert of the deleted id (seq 3 < tombstone's 5)
    // must not resurrect; a genuinely new change applies
    mem.addData((1L, 3L, "upsert", "zombie"), (2L, 6L, "upsert", "beta2"),
      (3L, 4L, "upsert", "gamma"))
    q.processAllAvailable()
    q.stop()
    val v2 = Streams.cdcStoreView(spark, store)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2 == Map(2L -> "beta2", 3L -> "gamma"))
    // retention 2: the live generation AND its predecessor remain (a
    // reader that resolved the previous version mid-commit stays valid)
    val gens = Streams.listGenerations(spark, store)
    assert(gens.length == 2, gens.mkString(","))
    // time travel: the PREVIOUS generation is batch 1's snapshot
    val prev = graft.operators.Cdc.snapshotView(
        Streams.readGeneration(spark, store, gens.head))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(prev == Map(2L -> "beta"))
    // and the generation-to-generation diff classifies every id
    val diff = Streams.generationDiff(spark, store, gens.head, gens.last,
        col("id"), col("txt"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "changed", 3L -> "added"), diff.toString)
  }

  test("cdcMergeStream: keepGenerations retains deeper history — a " +
      "multi-step generation diff survives GC at several retentions") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    // retaining only the live generation is rejected up front
    intercept[IllegalArgumentException] {
      Streams.cdcMergeStream(MemoryStream[(Long, Long, String, String)]
          .toDF().toDF("id", "seq", "op", "txt"),
        tempDir("cdc_bad").toString, tempDir("cdc_bad_ckpt").toString,
        id = "id", keepGenerations = 1)
    }
    val store = tempDir("cdc_keep_store").toString
    val mem = MemoryStream[(Long, Long, String, String)]
    val q = Streams.cdcMergeStream(
        mem.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_keep_ckpt").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        keepGenerations = 3)
      .start()
    // five batches: id 1 rewritten every batch, one new id per batch
    (1 to 5).foreach { b =>
      mem.addData((1L, b.toLong, "upsert", s"v$b"),
        (100L + b, b.toLong, "upsert", s"row$b"))
      q.processAllAvailable()
    }
    q.stop()
    val gens = Streams.listGenerations(spark, store)
    assert(gens.length == 3, gens.mkString(","))
    // the retained set is the NEWEST three (monotone counter order)
    assert(gens == gens.sorted && gens.last > gens.head)
    // "diff me against two batches ago": a >1-step gap both of whose
    // ends survived the GC policy
    val diff = Streams.generationDiff(spark, store, gens.head, gens.last,
        col("id"), col("txt"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(1L -> "changed", 101L -> "unchanged",
      102L -> "unchanged", 103L -> "unchanged", 104L -> "added",
      105L -> "added"), diff.toString)
    // the oldest retained generation really is batch 3's snapshot
    val oldest = graft.operators.Cdc.snapshotView(
        Streams.readGeneration(spark, store, gens.head))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(oldest == Map(1L -> "v3", 101L -> "row1", 102L -> "row2",
      103L -> "row3"), oldest.toString)
  }

  test("cdcMergeStream: generationFiles bin-packs each generation " +
      "(no small-file accretion inside the store)") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val store = tempDir("cdc_packed_store").toString
    val mem = MemoryStream[(Long, Long, String, String)]
    val q = Streams.cdcMergeStream(
        mem.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_packed_ckpt").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        generationFiles = Some(1))
      .start()
    mem.addData((1L, 1L, "upsert", "alpha"), (2L, 2L, "upsert", "beta"))
    q.processAllAvailable()
    q.stop()
    val gens = Streams.listGenerations(spark, store)
    val (nFiles, _) = graft.operators.Maintenance.fileStats(spark,
      new java.io.File(store, gens.last).toString)
    assert(nFiles == 1, s"expected 1 data file, got $nFiles")
    val v = Streams.cdcStoreView(spark, store)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v == Map(1L -> "alpha", 2L -> "beta"))
  }

  test("cdcMergeStream: replay of an already-applied batch is a no-op " +
      "(checkpoint lost after the pointer swap)") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val store = tempDir("cdc_replay_store").toString
    val ckpt = tempDir("cdc_replay_ckpt1").toString
    val mem1 = MemoryStream[(Long, Long, String, String)]
    def start() = Streams.cdcMergeStream(
        mem1.toDF().toDF("id", "seq", "op", "txt"), store, ckpt, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    val q1 = start()
    mem1.addData((1L, 1L, "upsert", "alpha"), (2L, 2L, "upsert", "beta"))
    q1.processAllAvailable()
    q1.stop()
    // the batch replays from its checkpoint (applied, version committed,
    // checkpoint commit lost): same query id, same batch id, so the
    // store commits nothing
    val v = storeVersion(store)
    replayLastBatch(ckpt)(start())
    assert(storeVersion(store) == v, "the replayed batch committed")
    // a FRESH checkpoint re-feeds the same data as batch 0: a new
    // writer, so it RE-APPLIES — into a fresh generation (no
    // self-overwrite possible), and the versioned fold shields every
    // stored seq, so the snapshot is unchanged: a semantic no-op.
    val mem2 = MemoryStream[(Long, Long, String, String)]
    val q2 = Streams.cdcMergeStream(
        mem2.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_replay_ckpt2").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem2.addData((1L, 1L, "upsert", "alpha"), (2L, 2L, "upsert", "beta"))
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, q2.exception.toString)
    q2.stop()
    assert(storeVersion(store) == v + 1)
    val got = Streams.cdcStoreView(spark, store)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "alpha", 2L -> "beta"))
  }

  test("cdcMergeStream: a fresh checkpoint's GENUINELY NEW batch 0 " +
      "applies (no batch-id/generation collision across lifetimes)") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val store = tempDir("cdc_newrun_store").toString
    val mem1 = MemoryStream[(Long, Long, String, String)]
    val q1 = Streams.cdcMergeStream(
        mem1.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_newrun_ckpt1").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem1.addData((1L, 1L, "upsert", "alpha"))
    q1.processAllAvailable()
    q1.stop()
    // new stream, new checkpoint, DIFFERENT data — its batch id is 0
    // again, under a new query id: a new writer, so the batch applies
    val mem2 = MemoryStream[(Long, Long, String, String)]
    val q2 = Streams.cdcMergeStream(
        mem2.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_newrun_ckpt2").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem2.addData((2L, 2L, "upsert", "beta"))
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, q2.exception.toString)
    q2.stop()
    val v = Streams.cdcStoreView(spark, store)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v == Map(1L -> "alpha", 2L -> "beta"))
  }

  test("cdcMergeStream: a restarted stream carrying a NEW payload column " +
      "widens the store mid-stream (schema-on-read drift)") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val store = tempDir("cdc_drift_store").toString
    val mem1 = MemoryStream[(Long, Long, String, String)]
    val q1 = Streams.cdcMergeStream(
        mem1.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_drift_ckpt1").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem1.addData((1L, 1L, "upsert", "alpha"), (2L, 2L, "upsert", "beta"))
    q1.processAllAvailable()
    q1.stop()
    // the upstream feed gained a column; the restarted job's inferred
    // schema is wider — the fold must widen the stored snapshot with
    // nulls for pre-drift rows instead of failing or dropping it
    val mem2 = MemoryStream[(Long, Long, String, String, String)]
    val q2 = Streams.cdcMergeStream(
        mem2.toDF().toDF("id", "seq", "op", "txt", "region"), store,
        tempDir("cdc_drift_ckpt2").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem2.addData((2L, 3L, "upsert", "beta2", "eu"),
      (3L, 4L, "upsert", "gamma", "us"))
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, q2.exception.toString)
    q2.stop()
    val v = Streams.cdcStoreView(spark, store)
    assert(v.columns.toSeq == Seq("id", "txt", "region"))
    val got = v.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got == Map(1L -> ("alpha", null), 2L -> ("beta2", "eu"),
      3L -> ("gamma", "us")), got.toString)
  }

  test("cdcMergeStream: a torn commit (generation written, no version) " +
      "serves and folds onto the committed store instead of restarting empty") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val store = tempDir("cdc_torn_store").toString
    val mem1 = MemoryStream[(Long, Long, String, String)]
    val q1 = Streams.cdcMergeStream(
        mem1.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_torn_ckpt1").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem1.addData((1L, 1L, "upsert", "alpha"))
    q1.processAllAvailable()
    mem1.addData((1L, 3L, "upsert", "alpha2"), (3L, 3L, "upsert", "gamma"))
    q1.processAllAvailable()
    q1.stop()
    // simulate the torn window: the second batch's generation is fully
    // written but its version never committed (the newest version file
    // is gone — exactly what a crash before the log's add leaves)
    val gens = Streams.listGenerations(spark, store)
    assert(gens.length == 2, gens.mkString(","))
    val v = new StoreLog(spark, store).latest().get._1
    assert(new java.io.File(store, s"_log/$v").delete())
    new java.io.File(store, s"_log/.$v.crc").delete()
    assert(new java.io.File(store, gens.last).isDirectory,
      "fixture: the orphan generation stays on disk")
    // a READER serves the committed version, ignoring the orphan
    val vTorn = Streams.cdcStoreView(spark, store)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(vTorn == Map(1L -> "alpha"))
    // the next WRITER batch folds onto the committed base — not onto
    // an empty bootstrap, and not onto the orphan
    val mem2 = MemoryStream[(Long, Long, String, String)]
    val q2 = Streams.cdcMergeStream(
        mem2.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_torn_ckpt2").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem2.addData((2L, 2L, "upsert", "beta"))
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, q2.exception.toString)
    q2.stop()
    val got = Streams.cdcStoreView(spark, store)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "alpha", 2L -> "beta"))
  }

  test("cdcMergeStream: generations without any log fail loudly " +
      "instead of silently bootstrapping an empty base") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    val store = tempDir("cdc_corrupt_store").toString
    val mem1 = MemoryStream[(Long, Long, String, String)]
    val q1 = Streams.cdcMergeStream(
        mem1.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_corrupt_ckpt1").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem1.addData((1L, 1L, "upsert", "alpha"))
    q1.processAllAvailable()
    q1.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(store, "_log"))
    intercept[IllegalArgumentException](Streams.cdcStoreView(spark, store))
    val mem2 = MemoryStream[(Long, Long, String, String)]
    val q2 = Streams.cdcMergeStream(
        mem2.toDF().toDF("id", "seq", "op", "txt"), store,
        tempDir("cdc_corrupt_ckpt2").toString, id = "id",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem2.addData((2L, 2L, "upsert", "beta"))
    val failed =
      try { q2.processAllAvailable(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException |
                   _: IllegalArgumentException => true }
    assert(failed || q2.exception.nonEmpty,
      "batch against a store with generations but no log must fail")
    q2.stop()
    assert(!new java.io.File(store, "_log").exists(),
      "the failed batch must not have started a log over the old data")
  }

  test("cardinalityStream: appended sketches serve the exact distinct view") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    import graft.operators.Cardinality
    val store = tempDir("card_store").toString
    val mem = MemoryStream[(String, String)]
    val q = SliceStore.Cardinality.stream(mem.toDF().toDF("grp", "v"),
        store, tempDir("card_ckpt").toString,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))(
        Cardinality.sliceSketches(_, lit(0L), col("grp"), col("v"),
          lgK = 12).drop("slice"))
      .start()
    val b1 = (0 until 300).map(i => (s"g${i % 2}", s"v${i % 40}"))
    val b2 = (0 until 200).map(i => (s"g${i % 2}", s"v${i % 70}"))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val served = SliceStore.Cardinality.view(spark, store)
      .collect().map(r => r.getAs[String]("group") ->
        (r.getAs[Long]("n_distinct"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("n_slices"))).toMap
    val full = Cardinality.distinctEstimate((b1 ++ b2).toDF("grp", "v"),
        col("grp"), col("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served.keySet == full.keySet)
    served.foreach { case (g, (est, nRows, nSlices)) =>
      assert(est == full(g), s"served view diverged for $g")
      assert(nRows == 250L && nSlices == 2L, s"bookkeeping for $g")
    }
  }

  test("anomalyStream: served verdict equals the batch recompute, " +
    "absorbs late buckets and replayed appendixes") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    import graft.operators.Anomaly
    val store = tempDir("anom_store").toString
    val ckpt = tempDir("anom_ckpt").toString
    val mem = MemoryStream[(String, Int)]
    def start() = SliceStore.Count.stream(mem.toDF().toDF("g", "b"),
        store, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))(
        Anomaly.countSeries(_, col("g"), col("b")))
      .start()
    val q = start()
    // batch 1: steady traffic; batch 2: a spike bucket PLUS late
    // events for bucket 2 (already counted in batch 1)
    val b1 = (1 to 8).flatMap(b => Seq.fill(10)(("a", b)))
    val b2 = Seq.fill(60)(("a", 9)) ++ Seq.fill(2)(("a", 2))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getBoolean(5))).toMap
    val served = snap(Anomaly.robustCountAnomaliesFromSeries(
      SliceStore.Count.view(spark, store)))
    val full = snap(Anomaly.robustCountAnomalies(
      (b1 ++ b2).toDF("g", "b"), col("g"), col("b")))
    assert(served == full, s"served=$served\nfull=$full")
    assert(served(("a", 2))._1 == 12L, "late events must fold into bucket 2")
    assert(served(("a", 9))._2, "the spike bucket must flag")
    // a real replay of batch 1 (its checkpoint commit lost) commits
    // nothing, so the verdict stays identical
    val v = storeVersion(store)
    replayLastBatch(ckpt)(start())
    assert(storeVersion(store) == v, "the replayed batch committed")
    assert(snap(Anomaly.robustCountAnomaliesFromSeries(
      SliceStore.Count.view(spark, store))) == served,
      "replayed appendix changed the verdict")
    // the drift view reads the same store and must equal ITS batch twin
    def dsnap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(dsnap(Anomaly.cusumDriftFromSeries(
      SliceStore.Count.view(spark, store))) ==
      dsnap(Anomaly.cusumDrift((b1 ++ b2).toDF("g", "b"),
        col("g"), col("b"))),
      "drift view diverged from the batch recompute")
  }

  test("SliceStore.stream: a batch's writer id is its streaming query " +
    "id, the same across a restart from the checkpoint and new under a " +
    "fresh one, whose batch 0 adds to the store") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    import graft.operators.Anomaly
    val store = tempDir("qid_store").toString
    val ckpt = tempDir("qid_ckpt").toString
    val mem = MemoryStream[(String, Int)]
    def start(rows: MemoryStream[(String, Int)], checkpoint: String) =
      SliceStore.Count.stream(rows.toDF().toDF("g", "b"), store, checkpoint,
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))(
          Anomaly.countSeries(_, col("g"), col("b")))
        .start()
    def run(rows: MemoryStream[(String, Int)], checkpoint: String,
            data: Seq[(String, Int)]): String = {
      val q = start(rows, checkpoint)
      rows.addData(data: _*)
      try q.processAllAvailable() finally q.stop()
      q.id.toString
    }
    // the store's writer table holds the ids the batches committed under
    def txns = new StoreLog(spark, store).latest().get._2.txns
    def counts = SliceStore.Count.view(spark, store).as[(String, Int, Long)]
      .collect().map { case (g, b, n) => (g, b) -> n }.toMap
    val id = run(mem, ckpt, Seq.fill(3)(("a", 1)))
    assert(txns == Map(id -> 0L), txns)
    assert(run(mem, ckpt, Seq.fill(2)(("a", 2))) == id)
    assert(txns == Map(id -> 1L), txns)
    // batch 1 replays under the same id and commits nothing
    val v = storeVersion(store)
    replayLastBatch(ckpt)(start(mem, ckpt))
    assert(storeVersion(store) == v && txns == Map(id -> 1L), txns)
    assert(counts == Map(("a", 1) -> 3L, ("a", 2) -> 2L), counts)
    // a fresh checkpoint: a new id whose batch 0 carries new rows; its
    // partial for bucket 1 sums with the first writer's batch 0
    val fresh = run(MemoryStream[(String, Int)], tempDir("qid_ckpt2").toString,
      Seq.fill(4)(("a", 1)))
    assert(fresh != id && txns == Map(id -> 1L, fresh -> 0L), txns)
    assert(counts == Map(("a", 1) -> 7L, ("a", 2) -> 2L), counts)
  }

  test("bloomIndexStream: OR-fold view equals a full rebuild and " +
    "absorbs replays with zero bookkeeping") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    import graft.operators.BloomIndex
    val store = tempDir("bloom_store").toString
    val ckpt = tempDir("bloom_ckpt").toString
    val mem = MemoryStream[(Long, Long)]
    def start() = SliceStore.Bloom.stream(mem.toDF().toDF("chunk", "key"),
        store, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))(
        BloomIndex.build(_, col("chunk"), col("key"), k = 3, mBits = 1024))
      .start()
    val q = start()
    val b1 = (0 until 100).map(i => (i / 40L, i.toLong))
    val b2 = (100 until 160).map(i => (i / 40L, i.toLong)) // extends chunk 2, adds 3
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val served = m(SliceStore.Bloom.view(spark, store))
    val rebuilt = m(BloomIndex.build((b1 ++ b2).toDF("chunk", "key"),
      col("chunk"), col("key"), 3, 1024))
    assert(served == rebuilt, "served index diverged from full rebuild")
    // a real replay of batch 1 commits nothing
    val v = storeVersion(store)
    replayLastBatch(ckpt)(start())
    assert(storeVersion(store) == v, "the replayed batch committed")
    assert(m(SliceStore.Bloom.view(spark, store)) == rebuilt,
      "replayed appendix changed the index")
  }

  test("zoneStatsStream: appended raw-stats slices serve the exact " +
    "rebuild and register pruning via attachFromStore") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    import graft.operators.Layout
    val store = tempDir("zs_store").toString
    val mem = MemoryStream[(Long, Long)]
    val rows = mem.toDF().toDF("x", "y")
      .withColumn("z_bucket", org.apache.spark.sql.functions
        .shiftright(col("x"), 4))
    val q = SliceStore.ZoneStats.stream(rows, store,
        tempDir("zs_ckpt").toString,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))(
        Layout.rawZoneMap(_, col("z_bucket"), Seq("x", "y")))
      .start()
    val b1 = (0 until 300).map(i => ((i * 613L) % 256, (i * 389L) % 256))
    val b2 = (0 until 200).map(i => ((i * 97L) % 256, (i * 31L) % 256))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("min_x"), r.getAs[Long]("max_x"),
          r.getAs[Long]("min_y"), r.getAs[Long]("max_y"),
          r.getAs[Long]("n_rows"))).toMap
    val all = (b1 ++ b2).toDF("x", "y")
      .withColumn("z_bucket", org.apache.spark.sql.functions
        .shiftright(col("x"), 4))
    assert(snap(SliceStore.ZoneStats.view(spark, store)) ==
      snap(Layout.rawZoneMap(all, col("z_bucket"), Seq("x", "y"))))
  }

  test("zoneMapStream: appended slices merge to the exact batch zone map") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    import graft.operators.Layout
    val store = tempDir("zm_store").toString
    val mem = MemoryStream[(Long, Long)]
    val nx = Layout.normalize16(col("x"), 255L)
    val ny = Layout.normalize16(col("y"), 255L)
    val q = SliceStore.ZoneMap.stream(mem.toDF().toDF("x", "y"), store,
        tempDir("zm_ckpt").toString,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))(
        Layout.zoneMap(_, nx, ny, bucketBits = 4))
      .start()
    val b1 = (0 until 300).map(i => ((i * 613L) % 256, (i * 389L) % 256))
    val b2 = (0 until 200).map(i => ((i * 97L) % 256, (i * 31L) % 256))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val served = SliceStore.ZoneMap.view(spark, store)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val full = Layout.zoneMap((b1 ++ b2).toDF("x", "y"), nx, ny, 4)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(served == full)
  }

  test("ivfIndexStream: slices accumulate a list-partitioned index; " +
    "stored probes match the fresh index and absorb a replayed appendix") {
    import graft.TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      TestSpark.sqlContext
    import graft.operators.Ivf
    // three separated direction clusters (the KmeansSpec fixture shape)
    def row(i: Long): (Long, Seq[Double]) = {
      val g = (i % 3).toInt
      val base = Array(0.0, 0.0, 0.0, 0.0)
      base(g) = 10.0
      base((g + 1) % 4) = (i / 3 % 3).toDouble
      (i, base.toSeq)
    }
    val batch1 = (0L until 18L).map(row)
    val batch2 = (18L until 30L).map(row)
    val all = (batch1 ++ batch2).toDF("vec_id", "embedding")
    val model = Ivf.fitDistributed(all, col("vec_id"), col("embedding"),
      nlist = 3, maxIter = 10, seed = 7L)
    val store = tempDir("ivf_index_store").toString
    val ckpt = tempDir("ivf_index_ckpt").toString
    val mem = MemoryStream[(Long, Seq[Double])]
    def start() = SliceStore.Ivf.stream(mem.toDF().toDF("vec_id", "embedding"),
        store, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))(
        Ivf.assign(model, _, col("vec_id"), col("embedding")))
      .start()
    val q = start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    // physical layout: one directory per inverted list
    val dirs = new java.io.File(store).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("list_id=")).sorted
    assert(dirs.length == 3, dirs.mkString(","))
    // stored assignment == fresh kernel assignment, id for id
    val view = SliceStore.Ivf.view(spark, store)
    val fresh = Ivf.assign(model, all, col("vec_id"), col("embedding"))
    assert(view.select(col("vec_id"), col("list_id")).as[(Long, Int)]
      .collect().toMap ==
      fresh.select(col("vec_id"), col("list_id")).as[(Long, Int)]
        .collect().toMap)
    // probe path: stored index answers exactly like the fresh one
    val queries = Seq((100L, row(4L)._2), (101L, row(11L)._2))
      .toDF("qid", "qv")
    def res(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val exp = res(Ivf.topK(model, fresh, queries, col("qid"), col("qv"),
      k = 5, nprobe = 2, excludeSelf = false))
    assert(res(Ivf.topK(model, view, queries, col("qid"), col("qv"),
      k = 5, nprobe = 2, excludeSelf = false)) == exp)
    // a real replay of batch 2 (the at-least-once failure mode) commits
    // nothing: no duplicate rows, the same answer
    val v = storeVersion(store)
    replayLastBatch(ckpt)(start())
    assert(storeVersion(store) == v, "the replayed batch committed")
    assert(SliceStore.Ivf.view(spark, store).count() == 30L)
    assert(res(Ivf.topK(model,
      SliceStore.Ivf.view(spark, store), queries, col("qid"), col("qv"),
      k = 5, nprobe = 2, excludeSelf = false)) == exp)
  }
}

object TestSpark {
  def sqlContext: org.apache.spark.sql.SQLContext = {
    val classic = graft.TestSpark.spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sqlContext
  }

}
