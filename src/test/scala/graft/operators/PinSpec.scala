package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The shared eager-pin helper: result identity, lineage truncation, and
  * the reliable-vs-local checkpoint switch (r18 — the escape hatch every
  * former hard-coded `localCheckpoint(true)` site now routes through).
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
}
