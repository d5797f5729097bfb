package graft

class SessionFactorySpec extends SparkTestBase {

  test("s3a tuning matches the reference's production constants") {
    val c = SessionFactory.s3aConf(endpoint = None)
    assert(c("fs.s3a.multipart.size") == "104857600") // 100 MiB
    assert(c("fs.s3a.block.size") == "33554432")      // 32 MiB
    assert(c("fs.s3a.threads.max") == "256")
    assert(!c.contains("fs.s3a.endpoint"))
    val e = SessionFactory.s3aConf(endpoint = Some("http://lake.example:9000"))
    assert(e("fs.s3a.endpoint") == "http://lake.example:9000")
  }

  test("base conf pins UTC, shuffle width and the extensions hook") {
    val c = SessionFactory.baseConf(shufflePartitions = 32)
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.shuffle.partitions") == "32")
    assert(c("spark.sql.extensions") == "graft.GraftExtensions")
    // cache fills keep AQE's final-stage coalescing (scaladoc)
    assert(c("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
  }

  test("a persisted small aggregate fills into fewer than shuffle.partitions") {
    import graft.TestSpark.spark.implicits._
    val flag = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevFlag = spark.conf.getOption(flag)
    val base = SessionFactory.baseConf(shufflePartitions = 32)
    try {
      spark.conf.set("spark.sql.shuffle.partitions",
        base("spark.sql.shuffle.partitions"))
      spark.conf.set(flag, base(flag))
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val counts = (1 to 10).map(i => (i % 3, i)).toDF("k", "v")
        .groupBy("k").count().persist()
      try {
        assert(counts.count() == 3)
        val filled = spark.sparkContext.getPersistentRDDs
          .filter { case (id, _) => !before.contains(id) }.values.toSeq
        assert(filled.size == 1, filled)
        // without the flag the fill's final stage keeps all 32 shuffle
        // partitions, and every reader of the cache runs 32 tasks
        assert(filled.head.getNumPartitions < 32,
          s"cache fill kept ${filled.head.getNumPartitions} partitions")
      } finally counts.unpersist(blocking = true)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      prevFlag match {
        case Some(v) => spark.conf.set(flag, v)
        case None => spark.conf.unset(flag)
      }
    }
  }

  test("session() retrofits fs settings and SQL functions onto a live context") {
    spark // materialize the suite's session first — the case under test
          // is exactly "a context already exists"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val hc0 = spark.sparkContext.hadoopConfiguration
    try {
      val s = SessionFactory.session(endpoint = Some("http://lake.example:9000"))
      val hc = s.sparkContext.hadoopConfiguration
      assert(hc.get("fs.s3a.multipart.size") == "104857600")
      assert(hc.get("fs.s3a.block.size") == "33554432")
      assert(hc.get("fs.s3a.threads.max") == "256")
      assert(hc.get("fs.s3a.endpoint") == "http://lake.example:9000")
      // extensions registered imperatively (builder path can't fire here —
      // the suite's context already exists)
      import s.implicits._
      val h = Seq("x").toDF("t").selectExpr("graft_fnv64(t)").head().getLong(0)
      assert(h != 0L)
    } finally {
      // getOrCreate() returned the SHARED suite session — restore what
      // this test mutated so later suites don't inherit a fake endpoint
      // or a different shuffle width
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      Seq("fs.s3a.multipart.size", "fs.s3a.block.size", "fs.s3a.threads.max",
        "fs.s3a.endpoint").foreach(hc0.unset)
    }
  }
}
