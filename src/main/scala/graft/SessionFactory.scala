package graft

import org.apache.spark.sql.SparkSession

/** One place that builds a correctly-tuned engine session (SURVEY §7.1
  * step 1). The reference pins identical object-store I/O settings on
  * every processor session (`zoom_proc.py:57-63`: multipart 100 MiB,
  * block 32 MiB, 256 transfer threads, explicit endpoint); here they are
  * applied once, together with the UTC session timezone every timestamp
  * oracle depends on and the [[GraftExtensions]] SQL surface.
  *
  * The s3a endpoint is deployment-specific, so it comes from the
  * `GRAFT_S3_ENDPOINT` env var (or an explicit argument) rather than a
  * hard-coded URL; no endpoint → the settings still apply wherever an
  * `s3a://` path is later read.
  */
object SessionFactory {

  /** SQL-level conf every graft session carries. The plan-string cap
    * exists because plan STRINGS are built eagerly for SQL-listener
    * events on every action: an iterative operator whose lineage ever
    * escapes its checkpoint discipline would otherwise spend minutes
    * (and GiBs) stringifying plans before any work runs — 1 MB is far
    * beyond any sane plan and far below the 2 GiB default.
    *
    * `canChangeCachedPlanOutputPartitioning` lets a cache fill keep
    * AQE's final-stage shuffle optimizations. With the Spark 4.1.2
    * default (false), `CacheManager.getOrCloneSessionWithConfigsOff`
    * switches `ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS`
    * off for every fill, so a persisted frame that ends in a shuffle
    * (an aggregate, a `distinct()`) is never coalesced: it fills into
    * all `shufflePartitions` partitions however few rows it holds, and
    * every later stage that reads it runs one task per partition. In
    * the incremental curation funnel (`selfPairs` ends in `distinct()`)
    * that made most of a 200-document stream batch's tasks. The price,
    * as Spark documents it: a cached frame's output partitioning may
    * change, so a query reading it may need one more shuffle.
    *
    * `codegen.cache.maxEntries` sizes the JVM-wide LRU cache of compiled
    * generated classes (a static conf: it takes effect only in the
    * session that starts the context). The Spark 4.1.2 default, 100, is
    * smaller than one pass of the five parity ELT pipelines, which
    * compiles 118 classes over the benchmark lake (and over the test
    * fixtures): an LRU that cycles through 118 keys in 100 slots keeps
    * missing, so every pass after the first recompiled 56–78 of them
    * instead of none. The incremental curation stream compiles under 100
    * over a whole run, and fits either way. Sizing rule: twice the
    * largest measured per-pass working set (the ELT pass, 118), so a
    * pipeline can grow before the cache thrashes again, while the
    * 238-query registry still cannot keep everything it ever compiled.
    * `CodegenSteadyStateSpec` fails when a repeated pass or stream batch
    * compiles what the cache should have kept, or a pass's working set
    * passes half the cap.
    */
  def baseConf(shufflePartitions: Int = 32): Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "256",
    "spark.sql.maxPlanStringLength" -> "1000000",
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      objAggFallbackThreshold
  )

  /** ObjectHashAggregate keeps a per-task hash map of aggregation
    * buffers and FALLS BACK to sort-based aggregation once the map holds
    * more than this many keys. The Spark default (128) exists to protect
    * unbounded buffers (`collect_list` over giant groups); every typed
    * aggregate in this repo carries a BOUNDED buffer (TopKAgg ≤ k
    * entries, MinHashUnionAgg = numHashes longs, VectorSumAgg = dim
    * doubles, GramSumAgg = fixed slots, the BM25 sorted-fold list ≤ the
    * query's term count), so past 128 groups/task the fallback only adds
    * a full sort of the stage's rows — measured at sf0.1: the portable
    * BM25 summation (100k groups) ran 4.6 s sort-based vs 3.1 s hashed.
    * 131072 keys × ≤ a few hundred bytes ≈ tens of MB per task — the
    * same order as the hash map a plain HashAggregate would hold, and
    * scale-invariant when shuffle partitions are sized so per-task
    * group counts stay bounded (guide §2.2). Env-overridable for
    * deployments whose group buffers are NOT bounded.
    */
  def objAggFallbackThreshold: String =
    sys.env.get("SPARK_GRAFT_OBJ_AGG_FALLBACK") match {
      case None => "131072"
      case Some(v) =>
        // validate HERE, not at session build: a typo'd env var would
        // otherwise surface as an opaque conf failure deep inside the
        // first getOrCreate() (r17 advice). New typed aggregates must
        // state their buffer bound before relying on the raised default —
        // an UNBOUNDED buffer needs the sort-based fallback this
        // threshold defers (see the scaladoc above).
        val t = v.trim
        require(t.nonEmpty && t.length <= 10 && t.forall(_.isDigit) &&
          t.toLong > 0 && t.toLong <= Int.MaxValue,
          s"SPARK_GRAFT_OBJ_AGG_FALLBACK must be a positive int, got '$v'")
        t
    }

  /** Hadoop fs settings (UNprefixed — ready for `hadoopConfiguration`;
    * prepend `spark.hadoop.` when passing through a builder). Values are
    * the reference's measured-in-production constants (BASELINE.md):
    * large multipart uploads for staging writes, 32 MiB blocks so parquet
    * row groups map to one read each, and a deep thread pool because
    * object-store latency, not bandwidth, bounds small-file load.
    */
  def s3aConf(endpoint: Option[String] = sys.env.get("GRAFT_S3_ENDPOINT"))
      : Map[String, String] =
    Map(
      "fs.s3a.multipart.size" -> "104857600",
      "fs.s3a.block.size" -> "33554432",
      "fs.s3a.threads.max" -> "256"
    ) ++ endpoint.map("fs.s3a.endpoint" -> _)

  /** A builder carrying the full graft conf; callers may add/override
    * before `getOrCreate()`.
    */
  def builder(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Int = 32,
              endpoint: Option[String] = sys.env.get("GRAFT_S3_ENDPOINT"))
      : SparkSession.Builder =
    configured(appName,
      fullConf(shufflePartitions, endpoint) ++ master.map("spark.master" -> _))

  private def fullConf(shufflePartitions: Int, endpoint: Option[String])
      : Map[String, String] =
    baseConf(shufflePartitions) ++
      s3aConf(endpoint).map { case (k, v) => s"spark.hadoop.$k" -> v }

  private def configured(appName: String, conf: Map[String, String])
      : SparkSession.Builder = {
    val b = SparkSession.builder().appName(appName)
    conf.foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** Build (or join) the session and make the tuning effective even when
    * an earlier SparkContext already exists (spark-shell, test suites):
    * builder-time `spark.hadoop.*` entries don't retrofit onto a live
    * context, so the fs settings are also applied imperatively, and the
    * SQL functions registered directly (the `spark.sql.extensions` path
    * only fires on fresh sessions).
    */
  def session(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Int = 32,
              endpoint: Option[String] = sys.env.get("GRAFT_S3_ENDPOINT"))
      : SparkSession =
    retrofit(builder(appName, master, shufflePartitions, endpoint)
      .getOrCreate(), endpoint)

  private def retrofit(spark: SparkSession, endpoint: Option[String])
      : SparkSession = {
    val hc = spark.sparkContext.hadoopConfiguration
    s3aConf(endpoint).foreach { case (k, v) => hc.set(k, v) }
    GraftExtensions.register(spark)
    spark
  }

  /** Conf of the registry drivers (Bench, Verify, PlanDump): [[builder]]'s
    * conf on `local[$SPARK_GRAFT_CPUS]` (`defaultCpus` when unset) with
    * `$SPARK_GRAFT_SHUFFLE_PARTITIONS` shuffle partitions (default: the
    * core count; the scale tail raises it with fixture size so sort
    * spill is not read as algorithmic shape), plus the two settings
    * only the harness uses: the 64 MiB broadcast threshold and no UI.
    */
  def driverConf(defaultCpus: String, env: Map[String, String] = sys.env)
      : Map[String, String] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val shufflePartitions =
      env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus).toInt
    fullConf(shufflePartitions, env.get("GRAFT_S3_ENDPOINT")) ++ Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
      "spark.ui.enabled" -> "false")
  }

  /** The one session recipe of the registry drivers, so the bench times,
    * the correctness dump checks and the plan dump shows the same plans:
    * [[driverConf]] with the same retrofits as [[session]], logging at
    * WARN.
    */
  def driver(appName: String, defaultCpus: String,
             env: Map[String, String] = sys.env): SparkSession = {
    val spark = retrofit(
      configured(appName, driverConf(defaultCpus, env)).getOrCreate(),
      env.get("GRAFT_S3_ENDPOINT"))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
