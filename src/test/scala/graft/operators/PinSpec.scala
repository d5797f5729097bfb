package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PinBridge

import graft.SparkTestBase

/** The shared eager-pin helper: result identity, lineage truncation, the
  * reliable-vs-local checkpoint switch (r18 — the escape hatch every
  * former hard-coded `localCheckpoint(true)` site now routes through),
  * the measured size the pinned leaf carries, and `Pin.free` (the only
  * release of a pin). Scope ownership is [[ScopeSpec]]'s.
  */
class PinSpec extends SparkTestBase {

  test("Pin.eager preserves rows and truncates lineage (no checkpoint " +
    "dir -> executor-local)") {
    val s = spark
    import s.implicits._
    assert(s.sparkContext.getCheckpointDir.isEmpty,
      "precondition: suite session has no checkpoint dir")
    val df = (1 to 100).toDF("x")
      .withColumn("y", col("x") * 2)
      .groupBy(col("y") % 7).agg(sum(col("x")).as("s"))
    val pinned = Pin.eager(df)
    assert(pinned.collect().toSet == df.collect().toSet)
    // truncated: the plan is a leaf scan, not the aggregate lineage
    val plan = pinned.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), plan)
  }

  test("Pin.eager upgrades to a RELIABLE checkpoint when the context " +
    "has a checkpoint dir (and the dir is restored after)") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    val dir = tempDir("pin_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val df = (1 to 50).toDF("x").withColumn("y", col("x") + 1)
      val pinned = Pin.eager(df)
      assert(pinned.collect().toSet == df.collect().toSet)
      // reliable = files written under the configured dir
      val fs = new java.io.File(dir)
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      assert(files(fs).nonEmpty, s"no checkpoint files under $dir")
    } finally {
      org.apache.spark.GraftTestHooks.clearCheckpointDir(sc)
    }
    assert(sc.getCheckpointDir.isEmpty, "checkpoint dir must be restored")
  }

  test("Pin.eager on the reliable path evaluates the pinned subtree once " +
    "per row (the checkpoint is written by the job that computes it)") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    sc.setCheckpointDir(tempDir("pin_once").toString)
    try {
      val evals = sc.longAccumulator("pin_evals")
      val bump = udf { (x: Int) => evals.add(1L); x * 3 }
      val df = (1 to 40).toDF("x").withColumn("y", bump(col("x")))
      val pinned = Pin.eager(df)
      assert(evals.value == 40L,
        s"pinned subtree evaluated ${evals.value} times for 40 rows")
      assert(pinned.as[(Int, Int)].collect().toSet ==
        (1 to 40).map(i => (i, i * 3)).toSet)
    } finally {
      org.apache.spark.GraftTestHooks.clearCheckpointDir(sc)
    }
  }

  /** Size statistics the planner sees for `df`. */
  private def planSize(df: org.apache.spark.sql.DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("Pin.eager: a 1,000-row aggregate's leaf reports its stored size, " +
    "not the origin estimate, and a join then broadcasts it") {
    val s = spark
    // ~11.4 MiB of range input: the aggregate's estimate scales from it
    val agg = s.range(0, 1500000)
      .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)).as("n"))
    val origin = planSize(agg)
    val pinned = Pin.eager(agg)
    assert(pinned.count() == 1000L)
    val stored = PinBridge.leafRdd(pinned).flatMap(PinBridge.storedBytes)
    assert(stored.isDefined, "the local pin stored no blocks")
    assert(planSize(pinned) == BigInt(stored.get),
      s"leaf reports ${planSize(pinned)} B, blocks hold ${stored.get} B")
    assert(origin > BigInt(10L * 1024 * 1024),
      s"precondition: origin estimate $origin B is above the 10 MiB " +
        "broadcast threshold")
    assert(planSize(pinned) * 10 < origin,
      s"stored ${planSize(pinned)} B vs origin estimate $origin B")
    // the drop-list shape: only the right side of a left_anti can be
    // built, so it broadcasts iff its statistics are under the threshold
    def joinOf(right: org.apache.spark.sql.DataFrame): String =
      s.range(0, 2000000).join(right, col("id") === col("k"), "left_anti")
        .queryExecution.sparkPlan.toString
    assert(joinOf(pinned).contains("BroadcastHashJoin"), joinOf(pinned))
    assert(joinOf(agg).contains("SortMergeJoin"),
      "precondition: the unpinned aggregate's estimate forbids a broadcast")
    Pin.free(pinned)
  }

  test("Pin.free drops a local pin's blocks from getPersistentRDDs") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    val pinned = Pin.eager((1 to 200).toDF("x").groupBy(col("x") % 9).count())
    val id = PinBridge.leafRdd(pinned).get.id
    assert(sc.getPersistentRDDs.contains(id), "precondition: pin not stored")
    Pin.free(pinned)
    assert(!sc.getPersistentRDDs.contains(id), s"RDD $id still persistent")
    // the blocks themselves go asynchronously
    val deadline = System.nanoTime() + 10000000000L
    while (PinBridge.storedBytes(PinBridge.leafRdd(pinned).get).isDefined &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(PinBridge.storedBytes(PinBridge.leafRdd(pinned).get).isEmpty,
      "freed pin's blocks are still stored")
  }

  test("neither clearCache() nor Dataset.unpersist releases a pin; Pin.free does") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    val pinned = Pin.eager((1 to 200).toDF("x").groupBy(col("x") % 11).count())
    val id = PinBridge.leafRdd(pinned).get.id
    s.catalog.clearCache()
    assert(sc.getPersistentRDDs.contains(id), "clearCache() released the pin")
    pinned.unpersist(blocking = true)
    assert(sc.getPersistentRDDs.contains(id), "Dataset.unpersist released the pin")
    assert(pinned.count() == 11L)
    Pin.free(pinned)
    assert(!sc.getPersistentRDDs.contains(id), s"RDD $id still persistent")
  }

  test("a reliable pin reports its checkpoint-file bytes and Pin.free " +
    "deletes the files") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    val dir = tempDir("pin_free").toString
    sc.setCheckpointDir(dir)
    try {
      val pinned = Pin.eager((1 to 300).toDF("x").withColumn("y", col("x") * 2))
      val ckpt = new org.apache.hadoop.fs.Path(
        PinBridge.leafRdd(pinned).get.getCheckpointFile.get)
      val fs = ckpt.getFileSystem(sc.hadoopConfiguration)
      val bytes = fs.getContentSummary(ckpt).getLength
      assert(bytes > 0 && planSize(pinned) == BigInt(bytes),
        s"leaf reports ${planSize(pinned)} B, files hold $bytes B")
      Pin.free(pinned)
      assert(!fs.exists(ckpt), s"$ckpt survived Pin.free")
    } finally {
      org.apache.spark.GraftTestHooks.clearCheckpointDir(sc)
    }
  }
}
