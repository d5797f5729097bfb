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
    // one ELT pass's generated classes fit the codegen cache (scaladoc)
    assert(c("spark.sql.codegen.cache.maxEntries") == "256")
  }

  test("a persisted small aggregate fills into fewer than shuffle.partitions") {
    import graft.TestSpark.spark.implicits._
    // the suite session carries baseConf's cache-fill flag; only the
    // width is production's
    TestSpark.withConfRestored("spark.sql.shuffle.partitions") {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
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
    }
  }

  test("driver conf: every entry point carries baseConf plus the harness settings") {
    def check(defaultCpus: String, env: Map[String, String],
              master: String, width: Int): Unit = {
      val c = SessionFactory.driverConf(defaultCpus, env)
      SessionFactory.baseConf(width).foreach { case (k, v) =>
        assert(c.get(k).contains(v), s"$k with cpus $defaultCpus, env $env")
      }
      SessionFactory.s3aConf(env.get("GRAFT_S3_ENDPOINT")).foreach {
        case (k, v) => assert(c.get(s"spark.hadoop.$k").contains(v), k)
      }
      assert(c("spark.master") == master)
      assert(c("spark.sql.autoBroadcastJoinThreshold") == "67108864") // 64 MiB
      assert(c("spark.ui.enabled") == "false")
    }
    // Bench and PlanDump default to 32 cores, Verify to 4
    check("32", Map.empty, "local[32]", 32)
    check("4", Map.empty, "local[4]", 4)
    check("32", Map("SPARK_GRAFT_CPUS" -> "8"), "local[8]", 8)
    // the scale tail's shuffle-width override, independent of cores
    check("32", Map("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "256"), "local[32]", 256)
    check("4", Map("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "256",
      "GRAFT_S3_ENDPOINT" -> "http://lake.example:9000"), "local[4]", 256)
  }

  test("the suite session runs production's baseConf at width 4") {
    SessionFactory.baseConf(shufflePartitions = 4).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    SessionFactory.s3aConf(endpoint = None).foreach { case (k, v) =>
      assert(spark.sparkContext.hadoopConfiguration.get(k) == v, k)
    }
    // a static conf: it reaches the session only because the builder
    // that started the suite's context carried it
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "256")
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") == "256")
  }

  test("session() retrofits fs settings and SQL functions onto a live context") {
    spark // materialize the suite's session first — the case under test
          // is exactly "a context already exists"
    val hc0 = spark.sparkContext.hadoopConfiguration
    val endpointKey = "fs.s3a.endpoint"
    // getOrCreate() returns the SHARED suite session: put back the
    // width, app name and fake endpoint this case writes onto it
    TestSpark.withConfRestored("spark.sql.shuffle.partitions",
        "spark.app.name", s"spark.hadoop.$endpointKey") {
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
      } finally hc0.unset(endpointKey)
    }
  }
}
