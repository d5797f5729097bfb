package graft

import org.apache.spark.sql.functions._

import graft.plans.ZoneMapPruning
import graft.streaming.{SliceStore, Txn}

/** The zone-map skipping optimizer rule: result identity with the
  * unpruned scan (soundness), actual directory pruning in the physical
  * plan (effectiveness), and the bail-out paths (safety).
  */
class ZoneMapPruningSpec extends SparkTestBase {

  import TestSpark.spark.implicits._

  // 1000 points on a diagonal band so buckets have tight boxes, plus
  // null-x rows (must never be lost by pruning) — bucketed into 16
  // partition directories by the x prefix
  private lazy val table: String = {
    val dir = tempDir("zmprune").resolve("t").toString
    val rows = (0 until 1000).map { i =>
      (java.lang.Long.valueOf((i * 61L) % 4096),
        java.lang.Long.valueOf(((i * 61L) % 4096 + i % 7)),
        i.toLong)
    } ++ Seq((null.asInstanceOf[java.lang.Long],
      java.lang.Long.valueOf(5L), -1L))
    rows.toDF("x", "y", "payload")
      .withColumn("z_bucket",
        coalesce(shiftright(col("x"), 8), lit(99L))) // nulls -> bucket 99
      .write.partitionBy("z_bucket").parquet(dir)
    dir
  }

  private def query(path: String) =
    spark.read.parquet(path)
      .where(col("x") >= 512L && col("x") <= 1023L && col("y") <= 1100L)
      .select(col("x"), col("y"), col("payload"))

  test("pruned scan returns exactly the unpruned rows; plan skips partitions") {
    val expected = query(table).collect().map(_.toSeq).sortBy(_.toString)
    ZoneMapPruning.attach(spark, table, "z_bucket", "x", "y")
    try {
      val pruned = query(table)
      val got = pruned.collect().map(_.toSeq).sortBy(_.toString)
      assert(got.sameElements(expected) && got.nonEmpty)
      val plan = plans.PlanInspect.planString(pruned)
      assert(plan.replaceAll("\\s+", " ")
        .matches(".*PartitionFilters: \\[[^\\]]*z_bucket[^\\]]*IN.*"), plan)
      // an impossible box prunes EVERYTHING via the false literal
      assert(spark.read.parquet(table)
        .where(col("x") >= 100000L && col("y") >= 100000L).count() == 0)
    } finally ZoneMapPruning.detach(spark, table)
  }

  test("null rows survive: a bucket of null-x rows is never a lost row") {
    ZoneMapPruning.attach(spark, table, "z_bucket", "x", "y")
    try {
      // range predicates can't match null x anyway — identity holds
      assert(query(table).where(col("payload") >= 0).count() ==
        query(table).count())
      // and a filter that does NOT constrain x/y leaves nulls reachable
      assert(spark.read.parquet(table).where(col("payload") === -1L)
        .count() == 1)
    } finally ZoneMapPruning.detach(spark, table)
  }

  test("attachFromStats is a metadata read: registration succeeds with " +
      "the table DIRECTORY ABSENT, and the rule then prunes the restored " +
      "table correctly") {
    import graft.operators.Layout
    val root = tempDir("zm_meta")
    val dir = root.resolve("t").toString
    val rows = (0 until 800).map(i =>
      ((i * 37L) % 2048, (i * 53L) % 2048, i.toLong))
    val df = rows.toDF("x", "y", "payload")
      .withColumn("z_bucket", shiftright(col("x"), 7))
    df.write.partitionBy("z_bucket").parquet(dir)
    // the writer persists its stats next to the table (one agg over
    // the rows it wrote anyway)
    val statsPath = dir + ".__zonemap"
    Layout.rawZoneMap(spark.read.parquet(dir), col("z_bucket"),
      Seq("x", "y")).write.parquet(statsPath)
    val expected = spark.read.parquet(dir)
      .where(col("x") >= 256L && col("x") <= 500L)
      .collect().map(_.toSeq).sortBy(_.toString)
    // park the table away: if attach scanned it, this would throw
    val f = new java.io.File(dir)
    val parked = new java.io.File(root.resolve("parked").toString)
    assert(f.renameTo(parked))
    ZoneMapPruning.attachFromStats(spark, dir, "z_bucket",
      spark.read.parquet(statsPath))
    assert(parked.renameTo(f))
    try {
      val pruned = spark.read.parquet(dir)
        .where(col("x") >= 256L && col("x") <= 500L)
      assert(pruned.collect().map(_.toSeq).sortBy(_.toString)
        .sameElements(expected) && expected.nonEmpty)
      assert(plans.PlanInspect.planString(pruned).replaceAll("\\s+", " ")
        .matches(".*PartitionFilters: \\[[^\\]]*z_bucket[^\\]]*IN.*"))
    } finally ZoneMapPruning.detach(spark, dir)
  }

  test("N-dimensional boxes: a 3-col layout prunes on all three " +
      "dimensions at once") {
    val dir = tempDir("zm3").resolve("t").toString
    val rows = (0 until 2000).map { i =>
      ((i * 7L) % 512, (i * 11L) % 512, (i * 13L) % 512, i.toLong)
    }
    rows.toDF("a", "b", "c", "payload")
      .withColumn("z_bucket", shiftright(col("a"), 5))
      .write.partitionBy("z_bucket").parquet(dir)
    def q = spark.read.parquet(dir)
      .where(col("a").between(64L, 95L) && col("b") <= 400L &&
        col("c") >= 10L)
    val expected = q.collect().map(_.toSeq).sortBy(_.toString)
    ZoneMapPruning.attach(spark, dir, "z_bucket", Seq("a", "b", "c"))
    try {
      val got = q.collect().map(_.toSeq).sortBy(_.toString)
      assert(got.sameElements(expected) && got.nonEmpty)
      assert(plans.PlanInspect.planString(q).replaceAll("\\s+", " ")
        .matches(".*PartitionFilters: \\[[^\\]]*z_bucket[^\\]]*IN.*"))
      // impossible 3-D box -> everything pruned via the false literal
      assert(spark.read.parquet(dir)
        .where(col("a") >= 100000L && col("b") >= 0L && col("c") >= 0L)
        .count() == 0)
    } finally ZoneMapPruning.detach(spark, dir)
  }

  test("string dimensions prune in binary UTF-8 order (the date-string " +
      "partition pattern), strict bounds included") {
    val dir = tempDir("zm_str").resolve("t").toString
    val rows = (0 until 730).map { i =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      (day.toString, i.toLong, (i / 92).toLong) // ~92-day buckets
    }
    rows.toDF("load_date", "payload", "z_bucket")
      .write.partitionBy("z_bucket").parquet(dir)
    def q = spark.read.parquet(dir)
      .where(col("load_date") >= "2024-06-01" &&
        col("load_date") < "2024-08-01")
    val expected = q.collect().map(_.toSeq).sortBy(_.toString)
    ZoneMapPruning.attach(spark, dir, "z_bucket", Seq("load_date"))
    try {
      val got = q.collect().map(_.toSeq).sortBy(_.toString)
      assert(got.sameElements(expected) && got.nonEmpty)
      val plan = plans.PlanInspect.planString(q).replaceAll("\\s+", " ")
      assert(plan.matches(".*PartitionFilters: \\[[^\\]]*z_bucket[^\\]]*IN.*"),
        plan)
      // out-of-domain range prunes everything
      assert(spark.read.parquet(dir)
        .where(col("load_date") >= "2027-01-01").count() == 0)
      // a strict upper bound EQUAL to a bucket's min must keep... the
      // bucket only when its min is strictly below: '2024-04-02' is
      // bucket 1's min value, so load_date < '2024-04-02' must prune
      // buckets 2..7 but KEEP buckets 0-1 (bucket 1 via its min row
      // being excluded by the strict bound, not by skipping)
      val strict = spark.read.parquet(dir)
        .where(col("load_date") < "2024-04-02")
      assert(strict.count() ==
        rows.count(_._1 < "2024-04-02").toLong)
    } finally ZoneMapPruning.detach(spark, dir)
  }

  test("attachFromStore: the streaming zone-stats store (appended " +
      "slices, replayed appendix, compaction) registers pruning without " +
      "touching the table") {
    import graft.operators.Layout
    val root = tempDir("zm_store_attach")
    val dir = root.resolve("t").toString
    val store = root.resolve("stats_store").toString
    val rows = (0 until 1200).map(i =>
      ((i * 29L) % 4096, (i * 43L) % 4096, i.toLong))
    val df = rows.toDF("x", "y", "payload")
      .withColumn("z_bucket", shiftright(col("x"), 8))
    df.write.partitionBy("z_bucket").parquet(dir)
    // three ingest slices append their own raw stats (what
    // SliceStore.ZoneStats's stream does per micro-batch)
    val t = spark.read.parquet(dir)
    (0 until 3).foreach { b =>
      SliceStore.ZoneStats.append(Layout.rawZoneMap(
        t.where(col("payload") % 3 === b), col("z_bucket"), Seq("x", "y")),
        Txn("ingest", b.toLong), store)
    }
    // a replay of batch 1 commits nothing
    SliceStore.ZoneStats.append(Layout.rawZoneMap(
      t.where(col("payload") % 3 === 1), col("z_bucket"), Seq("x", "y")),
      Txn("ingest", 1L), store)
    // view == full rebuild (the fold is exact)
    val served = SliceStore.ZoneStats.view(spark, store)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("min_x"), r.getAs[Long]("max_x"),
          r.getAs[Long]("min_y"), r.getAs[Long]("max_y"),
          r.getAs[Long]("n_rows"))).toMap
    val rebuilt = Layout.rawZoneMap(t, col("z_bucket"), Seq("x", "y"))
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("min_x"), r.getAs[Long]("max_x"),
          r.getAs[Long]("min_y"), r.getAs[Long]("max_y"),
          r.getAs[Long]("n_rows"))).toMap
    assert(served == rebuilt, "store view diverged from full rebuild")
    // compact the store — served stats must be invariant
    val res = SliceStore.ZoneStats.compact(spark, store)
    assert(res.filesAfter < res.filesBefore, res.toString)
    assert(SliceStore.ZoneStats.view(spark, store)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("min_x"), r.getAs[Long]("max_x"),
          r.getAs[Long]("min_y"), r.getAs[Long]("max_y"),
          r.getAs[Long]("n_rows"))).toMap == rebuilt,
      "compaction changed the served stats")
    def q = spark.read.parquet(dir)
      .where(col("x") >= 1024L && col("x") <= 1500L && col("y") <= 3000L)
    val expected = q.collect().map(_.toSeq).sortBy(_.toString)
    // attach from the compacted store with the TABLE PARKED AWAY —
    // bulletproof proof the registration reads only store metadata
    val f = new java.io.File(dir)
    val parked = new java.io.File(root.resolve("parked").toString)
    assert(f.renameTo(parked))
    ZoneMapPruning.attachFromStore(spark, dir, "z_bucket", store)
    assert(parked.renameTo(f))
    try {
      assert(q.collect().map(_.toSeq).sortBy(_.toString)
        .sameElements(expected) && expected.nonEmpty)
      assert(plans.PlanInspect.planString(q).replaceAll("\\s+", " ")
        .matches(".*PartitionFilters: \\[[^\\]]*z_bucket[^\\]]*IN.*"))
    } finally ZoneMapPruning.detach(spark, dir)
  }

  test("a dimension with no portable order (double) is rejected at " +
      "registration, not silently mis-pruned") {
    val dir = tempDir("zm_bad").resolve("t").toString
    (0 until 10).map(i => (i.toDouble, i.toLong, 0L))
      .toDF("d", "payload", "z_bucket")
      .write.partitionBy("z_bucket").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      ZoneMapPruning.attach(spark, dir, "z_bucket", Seq("d"))
    }
    assert(e.getMessage.contains("unsupported type"), e.getMessage)
  }

  test("stale stats trip the coverage check: a bucket directory on disk " +
      "with no stats row fails attach instead of silently pruning it") {
    import graft.operators.Layout
    val dir = tempDir("zm_stale").resolve("t").toString
    val df = (0 until 400).map(i => ((i * 13L) % 1024, i.toLong))
      .toDF("x", "payload")
      .withColumn("z_bucket", shiftright(col("x"), 8))
    df.write.partitionBy("z_bucket").parquet(dir)
    val stats = Layout.rawZoneMap(spark.read.parquet(dir),
      col("z_bucket"), Seq("x"))
    // stats written BEFORE the last bucket's rows landed: drop one
    val maxBucket = stats.agg(max(col("bucket").cast("long")))
      .collect()(0).getLong(0)
    val stale = stats.where(col("bucket") =!= maxBucket)
    val e = intercept[IllegalArgumentException] {
      ZoneMapPruning.attachFromStats(spark, dir, "z_bucket", stale)
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
    // the complete frame attaches fine
    ZoneMapPruning.attachFromStats(spark, dir, "z_bucket", stats)
    ZoneMapPruning.detach(spark, dir)
  }

  test("bail-outs: unregistered table, OR predicates, no extractable bounds") {
    // not registered -> byte-identical plan
    val plain = query(table)
    val planBefore = plans.PlanInspect.planString(plain)
    assert(!planBefore.contains("z_bucket IN"), planBefore)
    ZoneMapPruning.attach(spark, table, "z_bucket", "x", "y")
    try {
      // top-level OR contributes no bounds -> unchanged (and correct)
      val orQ = spark.read.parquet(table)
        .where(col("x") >= 4000L || col("y") <= 3L)
      assert(!plans.PlanInspect.planString(orQ)
        .replaceAll("\\s+", " ").contains("z_bucket IN"),
        plans.PlanInspect.planString(orQ))
      ZoneMapPruning.detach(spark, table)
      // detached -> no rewrite again
      assert(!plans.PlanInspect.planString(query(table))
        .replaceAll("\\s+", " ")
        .matches(".*PartitionFilters: \\[[^\\]]*z_bucket[^\\]]*IN.*"))
    } finally ZoneMapPruning.detach(spark, table)
  }
}
