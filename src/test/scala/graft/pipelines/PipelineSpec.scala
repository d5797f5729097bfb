package graft.pipelines

import java.sql.Timestamp

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sinks.MockServingSink

/** End-to-end pipeline tests: fixture JSON → transforms → parquet staging
  * + mock serving sink → reconciliation. Fixture shapes mirror the
  * reference's raw API payloads (SURVEY §1.1).
  */
class PipelineSpec extends SparkTestBase with PipelineFixtures {

  private val loadTs = Timestamp.valueOf("2024-05-01 12:00:00")

  private def ctx(name: String, mode: SaveMode = SaveMode.Overwrite) = {
    val sink = new MockServingSink
    (new PipelineContext(spark, sink, tempDir(name).toString, mode), sink)
  }

  // --- jhub -------------------------------------------------------------

  test("jhub: end-to-end with contract schema and fallback line") {
    val (c, sink) = ctx("jhub")
    JhubPipeline.run(c, jhubFixture)
    assert(c.failed.isEmpty, c.report.toString)

    val out = spark.read.parquet(s"${c.stagingDir}/jhublogs")
    assert(out.schema.fieldNames.toSeq == JhubPipeline.jhublogs.columns)
    assert(out.count() == 2 && sink.count("jhublogs") == 2)
    assert(sink.ddl.exists(_.startsWith("CREATE TABLE IF NOT EXISTS jhublogs")))

    val ok = out.filter(col("log_code") === "200").head()
    assert(ok.getAs[String]("log_service") == "JupyterHub")
    assert(ok.getAs[Timestamp]("time_stamp") ==
      Timestamp.valueOf("2024-01-01 10:00:00.123456"))
    assert(ok.getAs[Timestamp]("log_timestamp") ==
      Timestamp.valueOf("2024-01-01 10:00:00.123"))
    assert(ok.getAs[String]("log_msg") == "GET /hub/home")

    val fb = out.filter(col("kuber_host") === "node2").head()
    assert(fb.getAs[String]("log_head") == "")
    assert(fb.getAs[String]("log_msg") == "no brackets at all")
    assert(fb.getAs[Timestamp]("log_timestamp") == null)
  }

  // --- zoom -------------------------------------------------------------

  test("zoom: paginated per-date dumps — glob unions pages, repeated totals don't double rows") {
    // The dump APIs are offset/cursor-paginated, so a scaled per-date dump
    // is MANY page files under the mains' `meetings_logs_{date}*.json`
    // glob, each repeating the FULL total_records the way the real API
    // does (a 241 MB single-document dump is one unsplittable parse task —
    // the 100x parity fixture OOMed on exactly that before pagination).
    // Pins: rows are the union across pages, the repeated total neither
    // gates out the load nor duplicates rows.
    val dir = tempDir("zoom_pages")
    java.nio.file.Files.writeString(
      dir.resolve("meetings_logs_2024-01-01.json"),
      s"""{"from": "2024-01-01", "to": "2024-01-02", "total_records": 3,
         | "meetings": [${meeting(1, "uuid-1", 2)}, ${meeting(2, "uuid-2", 1)}]}"""
        .stripMargin.replaceAll("\n", ""))
    java.nio.file.Files.writeString(
      dir.resolve("meetings_logs_2024-01-01_page1.json"),
      s"""{"from": "2024-01-01", "to": "2024-01-02", "total_records": 3,
         | "meetings": [${meeting(3, "uuid-3", 1)}]}"""
        .stripMargin.replaceAll("\n", ""))
    val (c, _) = ctx("zoom_pages")
    ZoomPipeline.run(c, s"$dir/meetings_logs_2024-01-01*.json",
      zoomParticipantsFixture)
    assert(c.failed.isEmpty, c.report.toString)
    val meetings = spark.read.parquet(s"${c.stagingDir}/meetings")
    assert(meetings.count() == 3)
    assert(meetings.select("meet_uuid").collect().map(_.getString(0)).toSet ==
      Set("uuid-1", "uuid-2", "uuid-3"))
    val records = spark.read.parquet(s"${c.stagingDir}/records")
    assert(records.count() == 4)
    assert(records.filter(col("meet_uuid") === "uuid-3").count() == 1)
  }

  test("zoom: three tables, key carry, forced participants overwrite") {
    val (c, sink) = ctx("zoom", SaveMode.Append)
    ZoomPipeline.run(c, zoomMeetingsFixture, zoomParticipantsFixture)
    assert(c.failed.isEmpty, c.report.toString)

    val meetings = spark.read.parquet(s"${c.stagingDir}/meetings")
    assert(meetings.schema.fieldNames.toSeq == ZoomPipeline.meetings.columns)
    assert(meetings.count() == 2)
    assert(meetings.filter(col("meet_uuid") === "uuid-1").head()
      .getAs[Timestamp]("meet_start_time") ==
      Timestamp.valueOf("2024-01-01 09:00:00"))

    val records = spark.read.parquet(s"${c.stagingDir}/records")
    assert(records.count() == 3)
    // P3 key carry: child rows keep parent keys
    assert(records.filter(col("meet_uuid") === "uuid-1").count() == 2)

    val pts = spark.read.parquet(s"${c.stagingDir}/participants")
    assert(pts.count() == 3)
    // daily pipeline flattens the exploded struct with default col_ naming
    assert(pts.columns.contains("col_user_name"))
    // F2: array collapsed to CSV
    assert(pts.filter(col("uuid") === "uuid-2").head()
      .getAs[String]("col_internal_ip_addresses") == "10.0.0.3,10.0.1.3")
    // reconciliation recorded for all three tables
    assert(c.report.collect { case (_, Right(r)) => r.table }.toSet ==
      Set("meetings", "records", "participants"))
    // BOTH reader grants issued after the loads (zoom_proc.py:482-486)
    assert(sink.ddl.exists(_.startsWith("GRANT SELECT")))
    assert(sink.ddl.exists(_.startsWith("GRANT USAGE")))
    assert(c.report.collect { case (_, Right(r)) => r }.forall(_.consistent))
  }

  test("zoom: empty-input gate skips all tables (O3)") {
    val empty = jsonFixture(Seq(
      """{"from": "2024-01-01", "to": "2024-01-02", "total_records": 0, "meetings": []}"""),
      "zoom_empty")
    val (c, sink) = ctx("zoom_gate")
    ZoomPipeline.run(c, empty, zoomParticipantsFixture)
    assert(c.report.isEmpty)
    assert(sink.ddl.isEmpty)
  }

  test("zoom hst: load_datetime stamped, pts_ prefix, 36-col contract") {
    val (c, _) = ctx("zoom_hst", SaveMode.Append)
    ZoomPipeline.runHst(c, zoomMeetingsFixture, zoomParticipantsFixture, loadTs)
    assert(c.failed.isEmpty, c.report.toString)

    val m = spark.read.parquet(s"${c.stagingDir}/hst_meetings")
    assert(m.schema.fieldNames.toSeq == ZoomPipeline.hstMeetings.columns)
    assert(m.select(col("load_datetime")).distinct().head().getTimestamp(0) == loadTs)

    val pts = spark.read.parquet(s"${c.stagingDir}/hst_participants")
    assert(pts.schema.fieldNames.toSeq == ZoomPipeline.hstParticipants.columns)
    assert(pts.schema.fieldNames.length == 36)
    assert(pts.filter(col("pts_recording") === true).count() == 1)
  }

  // --- vk ---------------------------------------------------------------

  test("vk: nine tables with carried keys and collected scalar FK") {
    val (c, sink) = ctx("vk", SaveMode.Overwrite)
    VkPipeline.run(c, vkGroupsFixture, vkMembersFixture, vkWallsFixture, loadTs)
    assert(c.failed.isEmpty, c.report.toString)

    def tbl(n: String) = spark.read.parquet(s"${c.stagingDir}/$n")

    val g = tbl("groups")
    assert(g.schema.fieldNames.toSeq == VkPipeline.groups.columns)
    // flat_df(prefix='') is falsy -> city struct flattened as city_id/title
    assert(g.head().getAs[Long]("city_id") == 2L)

    assert(tbl("groups_contacts").count() == 1)
    assert(tbl("groups_links").head().getAs[Long]("links_id") == 5L)

    val m = tbl("members")
    assert(m.schema.fieldNames.toSeq == VkPipeline.members.columns)
    // A3: group_id lit-stamped from the collected scalar
    assert(m.select(col("group_id")).distinct().head().getLong(0) == 100L)
    // epoch seconds parsed
    assert(m.filter(col("member_id") === 7).head()
      .getAs[Timestamp]("last_seen_time") ==
      Timestamp.valueOf("2023-11-14 22:13:20"))

    assert(tbl("members_careers").count() == 2)
    assert(tbl("members_schools").filter(col("member_id") === 8).count() == 1)
    assert(tbl("members_universities").head()
      .getAs[String]("universities_name") == "SPbU")

    val items = tbl("wall_items")
    assert(items.schema.fieldNames.toSeq == VkPipeline.wallItems.columns)
    val it = items.head()
    assert(it.getAs[Long]("items_comments_count") == 3L)
    assert(it.getAs[Timestamp]("items_date") ==
      Timestamp.valueOf("2023-11-14 22:15:00"))

    val hist = tbl("wall_history")
    assert(hist.schema.fieldNames.toSeq == VkPipeline.wallHistory.columns)
    assert(hist.head().getAs[String]("history_post_source_platform") == "android")

    // O5: overwrite mode DROPs every table first
    assert(sink.ddl.count(_.startsWith("DROP TABLE IF EXISTS")) == 9)
  }

  // --- monkey -----------------------------------------------------------

  test("monkey: five tables incl. the 4-level chain and collision quirk") {
    val (c, _) = ctx("monkey", SaveMode.Overwrite)
    MonkeyPipeline.run(c, monkeySurveysFixture, monkeyResponsesFixture, loadTs)
    assert(c.failed.isEmpty, c.report.toString)

    def tbl(n: String) = spark.read.parquet(s"${c.stagingDir}/$n")

    val sv = tbl("hst_surveys")
    assert(sv.schema.fieldNames.toSeq == MonkeyPipeline.surveys.columns)
    assert(sv.head().getAs[Timestamp]("date_created") ==
      Timestamp.valueOf("2021-12-26 10:40:00"))

    val q = tbl("hst_surveys_questions")
    assert(q.schema.fieldNames.toSeq == MonkeyPipeline.questions.columns)
    assert(q.head().getAs[String]("headings_heading") == "How was it?")

    // the collision quirk: choices came from the qs_answers struct through
    // the headings_ flatten, then the quiz_options second-level flatten
    val ch = tbl("hst_surveys_choices")
    assert(ch.schema.fieldNames.toSeq == MonkeyPipeline.choices.columns)
    assert(ch.count() == 2)
    assert(ch.filter(col("choices_id") === 31).head()
      .getAs[String]("choices_quiz_options_score") == "5")

    val r = tbl("hst_surveys_responses")
    assert(r.schema.fieldNames.toSeq == MonkeyPipeline.responses.columns)
    // the reference never parses response dates - stays a string
    assert(r.schema("response_date_created").dataType.typeName == "string")

    val a = tbl("hst_surveys_answers")
    assert(a.schema.fieldNames.toSeq == MonkeyPipeline.answers.columns)
    val row = a.head()
    assert(row.getAs[Long]("response_id") == 41L)
    assert(row.getAs[Long]("questions_answers_choice_id") == 31L)
    assert(row.getAs[Long]("choices_questions_answers_weight") == 10L)
  }

  test("append mode accumulates in the serving sink (O5)") {
    val (c, sink) = ctx("jhub_append", SaveMode.Append)
    JhubPipeline.run(c, jhubFixture)
    JhubPipeline.run(c, jhubFixture)
    assert(sink.count("jhublogs") == 4)
  }

  test("missing source fails its family only; siblings still run (O2)") {
    val (c, _) = ctx("vk_partial", SaveMode.Overwrite)
    // groups glob matches nothing -> groups/members families fail softly;
    // walls still load
    VkPipeline.run(c, "/nonexistent/path/*.json", vkMembersFixture,
      vkWallsFixture, loadTs)
    assert(c.failed.contains("vk_groups_source"))
    assert(spark.read.parquet(s"${c.stagingDir}/wall_items").count() == 1)
    assert(c.report.collect { case (_, Right(r)) => r.table }.toSet ==
      Set("wall_items", "wall_history"))
  }

  test("O5 idempotency: overwrite is re-runnable, append accumulates") {
    val (c1, sink) = ctx("monkey_idem", SaveMode.Overwrite)
    MonkeyPipeline.run(c1, monkeySurveysFixture, monkeyResponsesFixture, loadTs)
    MonkeyPipeline.run(c1, monkeySurveysFixture, monkeyResponsesFixture, loadTs)
    // re-running a backfill leaves counts unchanged
    assert(spark.read.parquet(s"${c1.stagingDir}/hst_surveys_answers").count() == 1)
    assert(sink.count("hst_surveys_answers") == 1)
    // every overwrite run drops first (2 runs x 5 tables)
    assert(sink.ddl.count(_.startsWith("DROP TABLE IF EXISTS")) == 10)

    val c2 = new PipelineContext(spark, sink, c1.stagingDir, SaveMode.Append)
    MonkeyPipeline.run(c2, monkeySurveysFixture, monkeyResponsesFixture, loadTs)
    assert(spark.read.parquet(s"${c1.stagingDir}/hst_surveys_answers").count() == 2)
    assert(sink.count("hst_surveys_answers") == 2)
  }

  test("date-partitioned staging prunes at the scan (SURVEY §4 row 1)") {
    import graft.TestSpark.spark.implicits._
    import graft.sinks.Contract
    import org.apache.spark.sql.types._
    val (c, sink) = ctx("partitioned", SaveMode.Append)
    val contract = Contract("events_daily", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    // two daily append runs -> two load_date=... directories
    val d1 = java.sql.Date.valueOf("2024-05-01")
    val d2 = java.sql.Date.valueOf("2024-05-02")
    val r1 = c.saveTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), contract,
      loadDate = Some(d1))
    val r2 = c.saveTable(Seq((3L, "c")).toDF("id", "v"), contract,
      loadDate = Some(d2))
    assert(r1.consistent && r2.rows == 3 && r2.consistent) // cumulative count
    val path = s"${c.stagingDir}/events_daily"
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("load_date="))
    assert(dirs.sorted.toSeq == Seq("load_date=2024-05-01", "load_date=2024-05-02"))
    // serving DDL declares the stamp column
    assert(sink.ddl.exists(s => s.contains("events_daily") && s.contains("load_date date")))
    // the incremental read: the load_date predicate must land in the
    // scan's PartitionFilters (directory pruning), not a post-scan Filter
    val incr = graft.sources.Tables.loadSince(spark, c.stagingDir,
      "events_daily", d2)
    assert(incr.count() == 1)
    val pf = graft.plans.PlanInspect.partitionFilters(incr)
    assert(pf.exists(_.contains("load_date")), s"partition filters: $pf")

    // day-1 backfill in OVERWRITE mode replaces day 1 only — dynamic
    // partition overwrite on staging AND delete-then-append on serving,
    // never a truncate of either side
    val r3 = c.saveTable(Seq((9L, "z")).toDF("id", "v"), contract,
      modeOverride = Some(SaveMode.Overwrite), loadDate = Some(d1))
    val after = spark.read.parquet(path)
    assert(after.filter(col("load_date") === lit(d1)).count() == 1) // replaced
    assert(after.filter(col("load_date") === lit(d2)).count() == 1) // untouched
    // dual-sink invariant survives the backfill: both sides total 2 rows
    assert(r3.rows == 2 && r3.served == 2 && r3.consistent, r3.toString)
    assert(sink.ddl.exists(_.startsWith("DELETE FROM events_daily WHERE load_date")))

    // an EMPTY dated overwrite is a purge: the day disappears from BOTH
    // sinks (dynamic overwrite alone would leave the staging directory)
    val r4 = c.saveTable(Seq.empty[(Long, String)].toDF("id", "v"), contract,
      modeOverride = Some(SaveMode.Overwrite), loadDate = Some(d1))
    val purged = spark.read.parquet(path)
    assert(purged.filter(col("load_date") === lit(d1)).count() == 0)
    assert(purged.filter(col("load_date") === lit(d2)).count() == 1)
    assert(r4.rows == 1 && r4.served == 1 && r4.consistent, r4.toString)

    // contradictory intent fails loudly: dated backfill + dropOnOverwrite
    intercept[IllegalArgumentException] {
      c.saveTable(Seq((1L, "a")).toDF("id", "v"), contract,
        modeOverride = Some(SaveMode.Overwrite), dropOnOverwrite = true,
        loadDate = Some(d1))
    }
  }

  test("pipeline-written zone-map stats serve the incremental pattern: " +
    "a DATA-column predicate prunes load_date directories from a " +
    "metadata-only attach, and the stats move with every write mode") {
    import graft.TestSpark.spark.implicits._
    import graft.sinks.Contract
    import graft.plans.ZoneMapPruning
    import org.apache.spark.sql.types._
    val (c, _) = ctx("zm_pipeline", SaveMode.Append)
    val contract = Contract("events_zm", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val d1 = java.sql.Date.valueOf("2024-05-01")
    val d2 = java.sql.Date.valueOf("2024-05-02")
    val d3 = java.sql.Date.valueOf("2024-05-03")
    def save(rows: Seq[(Long, String)], d: java.sql.Date,
             mode: Option[SaveMode] = None) =
      c.saveTable(rows.toDF("id", "v"), contract, modeOverride = mode,
        loadDate = Some(d), zoneMapCols = Seq("id"))
    save(Seq((1L, "a"), (2L, "b")), d1)
    save(Seq((100L, "c")), d2)
    save(Seq((200L, "d")), d3)
    val path = s"${c.stagingDir}/events_zm"
    val statsPath = path + ".__zonemap"
    assert(spark.read.parquet(statsPath).count() == 3, "one row per day")
    ZoneMapPruning.attachFromStats(spark, path, "load_date",
      spark.read.parquet(statsPath))
    try {
      // the reference's incremental shape: filter on a DATA column —
      // the rule turns the day boxes into load_date directory pruning
      val q = spark.read.parquet(path)
        .where(col("id") >= 100L && col("id") <= 150L)
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(100L))
      assert(graft.plans.PlanInspect.planString(q).replaceAll("\\s+", " ")
        .matches(".*PartitionFilters: \\[[^\\]]*load_date[^\\]]*IN.*"),
        graft.plans.PlanInspect.planString(q))
    } finally ZoneMapPruning.detach(spark, path)
    // APPEND into day 1 widens its box — re-attach sees id=120 there
    save(Seq((120L, "e")), d1)
    ZoneMapPruning.attachFromStats(spark, path, "load_date",
      spark.read.parquet(statsPath))
    try {
      val q2 = spark.read.parquet(path).where(col("id") === 120L)
      assert(q2.count() == 1, "appended row must stay reachable")
    } finally ZoneMapPruning.detach(spark, path)
    // OVERWRITE day 2 replaces its stats row (the old box would
    // wrongly keep claiming id=100 lives there)
    save(Seq((500L, "f")), d2, mode = Some(SaveMode.Overwrite))
    val afterOw = spark.read.parquet(statsPath)
      .where(col("bucket").cast("string") === "2024-05-02")
      .select(col("min_id").cast("long")).collect()
    assert(afterOw.map(_.getLong(0)).toSeq == Seq(500L), "day-2 box replaced")
    // the purge drops the day's stats row with its directory
    save(Seq.empty, d3, mode = Some(SaveMode.Overwrite))
    assert(spark.read.parquet(statsPath)
      .where(col("bucket").cast("string") === "2024-05-03").count() == 0)
    // freshness tripwire end-to-end: stats missing a day that exists on
    // disk refuse to attach
    val stale = spark.read.parquet(statsPath)
      .where(col("bucket").cast("string") =!= "2024-05-01")
    val e = intercept[IllegalArgumentException] {
      ZoneMapPruning.attachFromStats(spark, path, "load_date", stale)
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
  }

  test("zone-map freshness: an out-of-band append INTO an existing " +
    "bucket fails the attach (file-fingerprint check), and an in-band " +
    "dated write auto-refreshes an already-attached registration") {
    import graft.TestSpark.spark.implicits._
    import graft.sinks.Contract
    import graft.plans.ZoneMapPruning
    import org.apache.spark.sql.types._
    val (c, _) = ctx("zm_fresh", SaveMode.Append)
    val contract = Contract("events_zmf", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val d1 = java.sql.Date.valueOf("2024-06-01")
    val d2 = java.sql.Date.valueOf("2024-06-02")
    def save(rows: Seq[(Long, String)], d: java.sql.Date) =
      c.saveTable(rows.toDF("id", "v"), contract, loadDate = Some(d),
        zoneMapCols = Seq("id"))
    save(Seq((1L, "a"), (2L, "b")), d1)
    val path = s"${c.stagingDir}/events_zmf"
    val statsPath = path + ".__zonemap"
    // in-JVM push: attach FIRST, then land a later dated write without
    // re-attaching — the write's stats refresh must re-register the
    // table, so a data-column query still reaches the new day's rows
    ZoneMapPruning.attachFromStats(spark, path, "load_date",
      spark.read.parquet(statsPath))
    try {
      save(Seq((500L, "c")), d2)
      val q = spark.read.parquet(path).where(col("id") === 500L)
      assert(q.count() == 1,
        "a dated write after attach must auto-refresh the registration " +
          "— the stale in-memory boxes would have pruned day 2")
    } finally ZoneMapPruning.detach(spark, path)
    // out-of-band append INTO the existing d1 bucket (bypasses the
    // stats writer): the per-bucket file fingerprint no longer matches
    // the directory, so the attach must fail loudly instead of
    // silently pruning the appended rows
    Seq((999L, "x")).toDF("id", "v")
      .write.mode(SaveMode.Append)
      .parquet(s"$path/load_date=$d1")
    val e = intercept[IllegalArgumentException] {
      ZoneMapPruning.attachFromStats(spark, path, "load_date",
        spark.read.parquet(statsPath))
    }
    assert(e.getMessage.contains("STALE inside existing buckets"),
      e.getMessage)
  }

  test("a FAILED stats re-attach detaches the stale registration " +
    "instead of leaving it pruning") {
    import graft.TestSpark.spark.implicits._
    import graft.sinks.Contract
    import graft.plans.ZoneMapPruning
    import org.apache.spark.sql.types._
    val (c, _) = ctx("zm_detach", SaveMode.Append)
    val contract = Contract("events_zmd", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val d1 = java.sql.Date.valueOf("2024-08-01")
    val d2 = java.sql.Date.valueOf("2024-08-02")
    def save(rows: Seq[(Long, String)], d: java.sql.Date) =
      c.saveTable(rows.toDF("id", "v"), contract, loadDate = Some(d),
        zoneMapCols = Seq("id"))
    save(Seq((1L, "a")), d1)
    val path = s"${c.stagingDir}/events_zmd"
    ZoneMapPruning.attachFromStats(spark, path, "load_date",
      spark.read.parquet(path + ".__zonemap"))
    try {
      // out-of-band append into d1, then an in-band d2 write: the
      // write's auto-refresh re-validates, sees the d1 fingerprint
      // mismatch, and must DETACH before failing — a surviving stale
      // registration would silently prune the appended row forever
      Seq((999L, "z")).toDF("id", "v")
        .write.mode(SaveMode.Append).parquet(s"$path/load_date=$d1")
      val e = intercept[IllegalStateException] { save(Seq((5L, "b")), d2) }
      assert(e.getMessage.contains("DETACHED"), e.getMessage)
      // detached = full scans, never wrong: the out-of-band row is
      // reachable even under a predicate its box never covered
      assert(spark.read.parquet(path).where(col("id") === 999L)
        .count() == 1, "stale registration survived the failed refresh")
    } finally ZoneMapPruning.detach(spark, path)
    // REPAIR: rederiveBucket re-scans ONLY the stale bucket, healing
    // box + fingerprint — the attach then passes and the repaired box
    // covers the out-of-band row under pruning
    ZoneMapPruning.rederiveBucket(spark, path, "load_date", d1.toString)
    ZoneMapPruning.attachFromStats(spark, path, "load_date",
      spark.read.parquet(path + ".__zonemap"))
    try assert(spark.read.parquet(path).where(col("id") === 999L)
      .count() == 1, "repaired box must cover the appended row")
    finally ZoneMapPruning.detach(spark, path)
  }

  test("zone-map fingerprints survive small-file compaction (refreshed " +
    "when fresh going in, kept stale over a folded-in append)") {
    import graft.TestSpark.spark.implicits._
    import graft.sinks.Contract
    import graft.plans.ZoneMapPruning
    import org.apache.spark.sql.types._
    val (c, _) = ctx("zm_compact", SaveMode.Append)
    val contract = Contract("events_zmc", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val d1 = java.sql.Date.valueOf("2024-07-01")
    val d2 = java.sql.Date.valueOf("2024-07-02")
    def save(rows: Seq[(Long, String)], d: java.sql.Date) =
      c.saveTable(rows.toDF("id", "v"), contract, loadDate = Some(d),
        zoneMapCols = Seq("id"))
    // several appends = several small files per day
    save(Seq((1L, "a")), d1); save(Seq((2L, "b")), d1)
    save(Seq((3L, "c")), d1); save(Seq((50L, "x")), d2)
    val path = s"${c.stagingDir}/events_zmc"
    val statsPath = path + ".__zonemap"
    // day-1 compaction rewrites its files; the fingerprint must follow
    // (it was fresh going in), so the attach still passes and prunes
    graft.operators.Maintenance.compactPartitioned(spark, path,
      targetBytes = 128L * 1024 * 1024,
      partitionFilter = _ == s"load_date=$d1")
    ZoneMapPruning.attachFromStats(spark, path, "load_date",
      spark.read.parquet(statsPath))
    try {
      val q = spark.read.parquet(path).where(col("id") <= 3L)
      assert(q.count() == 3)
    } finally ZoneMapPruning.detach(spark, path)
    // an out-of-band append FOLLOWED by a compaction must NOT reset
    // the tripwire: the compaction folds the appended row into its
    // output, but the box never saw it — the fingerprint stays stale
    // and the attach keeps failing loudly
    Seq((999L, "z")).toDF("id", "v")
      .write.mode(SaveMode.Append).parquet(s"$path/load_date=$d2")
    graft.operators.Maintenance.compactPartitioned(spark, path,
      targetBytes = 128L * 1024 * 1024,
      partitionFilter = _ == s"load_date=$d2")
    val e = intercept[IllegalArgumentException] {
      ZoneMapPruning.attachFromStats(spark, path, "load_date",
        spark.read.parquet(statsPath))
    }
    assert(e.getMessage.contains("STALE inside existing buckets"),
      e.getMessage)
  }

  test("zone-map freshness: an in-place rewrite preserving file count " +
    "AND byte count still fails the attach (files_digest), and " +
    "rederiveBucket repairs it") {
    import graft.TestSpark.spark.implicits._
    import graft.sinks.Contract
    import graft.plans.ZoneMapPruning
    import org.apache.spark.sql.types._
    val (c, _) = ctx("zm_rewrite", SaveMode.Append)
    val contract = Contract("events_zmr", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val d1 = java.sql.Date.valueOf("2024-09-01")
    c.saveTable(Seq((1L, "a")).toDF("id", "v"), contract,
      loadDate = Some(d1), zoneMapCols = Seq("id"))
    val path = s"${c.stagingDir}/events_zmr"
    val statsPath = path + ".__zonemap"
    val dir = new org.apache.hadoop.fs.Path(s"$path/load_date=$d1")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    val orig = dataFiles(dir).head
    // craft a replacement parquet with DIFFERENT rows but the same byte
    // count: same schema, same value widths (one long, one 1-char
    // string) — this is exactly the rewrite shape the n_files/n_bytes
    // counts cannot see
    val tmp = tempDir("zm_rewrite_repl")
    Seq((9L, "z")).toDF("id", "v").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val repl = dataFiles(new org.apache.hadoop.fs.Path(tmp.toString)).head
    assert(repl.getLen == orig.getLen,
      s"test premise broken: replacement parquet is ${repl.getLen} " +
        s"bytes vs original ${orig.getLen} — adjust the fixture rows " +
        "so the rewrite is byte-count-preserving")
    // in-place rewrite: same file NAME, same size, different content
    fs.delete(orig.getPath, false)
    org.apache.hadoop.fs.FileUtil.copy(fs, repl.getPath, fs,
      orig.getPath, false, spark.sparkContext.hadoopConfiguration)
    assert(dataFiles(dir).head.getLen == orig.getLen)
    val e = intercept[IllegalArgumentException] {
      ZoneMapPruning.attachFromStats(spark, path, "load_date",
        spark.read.parquet(statsPath))
    }
    assert(e.getMessage.contains("STALE inside existing buckets"),
      e.getMessage)
    // repair: one-bucket rescan heals box + fingerprint; the attach
    // passes and the repaired box covers the rewritten row under a
    // predicate the ORIGINAL box (id in [1,1]) would have pruned
    ZoneMapPruning.rederiveBucket(spark, path, "load_date", d1.toString)
    ZoneMapPruning.attachFromStats(spark, path, "load_date",
      spark.read.parquet(statsPath))
    try assert(spark.read.parquet(path).where(col("id") === 9L)
      .count() == 1, "repaired box must cover the rewritten row")
    finally ZoneMapPruning.detach(spark, path)
  }

  test("compactPartition collapses a day's small files, preserves data and siblings") {
    import graft.TestSpark.spark.implicits._
    val dir = tempDir("compact").toString + "/t"
    val d1 = java.sql.Date.valueOf("2024-05-01")
    val d2 = java.sql.Date.valueOf("2024-05-02")
    // five appends = five+ files in d1's directory
    (1L to 5L).foreach { i =>
      graft.sinks.ParquetSink.write(Seq((i, d1)).toDF("id", "load_date"),
        dir, SaveMode.Append, partitionBy = Seq("load_date"))
    }
    graft.sinks.ParquetSink.write(Seq((9L, d2)).toDF("id", "load_date"),
      dir, SaveMode.Append, partitionBy = Seq("load_date"))
    def filesIn(day: String) =
      new java.io.File(s"$dir/load_date=$day").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(filesIn("2024-05-01") == 5)
    val rows = graft.sinks.ParquetSink.compactPartition(spark, dir,
      "load_date", "2024-05-01", targetFiles = 1)
    assert(rows == 5)
    assert(filesIn("2024-05-01") == 1) // compacted
    assert(filesIn("2024-05-02") == 1) // untouched
    val all = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString)).toSet
    assert(all == (1L to 5L).map((_, "2024-05-01")).toSet + ((9L, "2024-05-02")))
  }

  test("static partition overwrite (opt-out) removes absent partitions") {
    import graft.TestSpark.spark.implicits._
    val dir = tempDir("static_ovw").toString + "/t"
    val d1 = java.sql.Date.valueOf("2024-05-01")
    val d2 = java.sql.Date.valueOf("2024-05-02")
    graft.sinks.ParquetSink.write(
      Seq((1L, d1), (2L, d2)).toDF("id", "load_date"), dir,
      SaveMode.Overwrite, partitionBy = Seq("load_date"))
    // full rebuild containing only d2: static mode must drop d1 entirely
    graft.sinks.ParquetSink.write(
      Seq((9L, d2)).toDF("id", "load_date"), dir,
      SaveMode.Overwrite, partitionBy = Seq("load_date"),
      dynamicPartitionOverwrite = false)
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString)).toSet
    assert(rows == Set((9L, "2024-05-02")))
  }
}
