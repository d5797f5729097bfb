package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.functions.Timestamps

/** Source layer.
  *
  * Two families, mirroring the reference:
  *   - [[json]]: schema-on-read JSON with glob masks — the reference's
  *     only input path (reference zoom_proc.py:133-135, vk_proc.py:125).
  *     Explicit schema supported for determinism (the reference always
  *     infers; inference costs an extra full pass over the data, which at
  *     100 TB is a non-starter — callers should pass a schema).
  *   - [[load]]: parquet scans of the harness tables. `events.ts` has
  *     shipped as BOTH nanosecond-precision INT64 (which Spark 4 refuses
  *     by default; read as long via the legacy conf and truncated to µs)
  *     and as a plain parquet TIMESTAMP (isAdjustedToUTC=false → Spark
  *     reads TIMESTAMP_NTZ); the loader normalizes either encoding to a
  *     session-zone µs timestamp (session tz is pinned UTC, so the NTZ
  *     cast is value-preserving).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet scan of one harness table under `dir` (TESTDATA.md).
    *
    * documents/embeddings are repartitioned when the scan yields fewer
    * splits than cores: they arrive as a single small file (= 1 input
    * partition = 1 busy core) but feed CPU-heavy per-row kernels
    * (minhash/simhash/cosine). On a real lake these tables span many
    * splits and the condition is false, so no shuffle is added at scale.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(path)
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      raw.schema("ts").dataType match {
        case LongType => // INT64 nanos (legacy conf) → truncate to µs
          raw.withColumn("ts", Timestamps.nanosToTimestamp(raw("ts")))
        case TimestampNTZType => // µs NTZ → session-zone µs
          // the cast reinterprets the wall-clock under the SESSION zone:
          // value-preserving only when that zone is UTC, which every
          // graft entry point pins — fail loudly if a caller didn't,
          // rather than silently shifting every event time
          require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
            "Tables.load(events): TIMESTAMP_NTZ ts requires " +
              "spark.sql.session.timeZone=UTC (got " +
              s"${spark.conf.get("spark.sql.session.timeZone")}) — " +
              "the NTZ→timestamp cast would shift event times")
          raw.withColumn("ts", raw("ts").cast("timestamp"))
        case TimestampType => raw // already a session-zone µs timestamp
        case other =>
          // a THIRD encoding from a future testdata refresh must fail
          // at load, not flow through unnormalized into every oracle
          throw new IllegalStateException(
            s"events.ts arrived as unsupported type $other — " +
              "Tables.load handles INT64 nanos, TIMESTAMP_NTZ and " +
              "TIMESTAMP; add an explicit normalization for this encoding")
      }
    } else if (name == "documents" || name == "embeddings") {
      val df = spark.read.parquet(path)
      val cores = spark.sparkContext.defaultParallelism
      // estimate SPLITS (bytes / maxPartitionBytes per file, like the file
      // scan planner), not file count: a lake table of a few multi-GB
      // files yields plenty of splits and must NOT be repartitioned —
      // only a genuinely under-split local artifact (one small file) is.
      //
      // HASH repartition on the unique id, not round-robin (r17):
      // round-robin pays a local sort of every input partition
      // (spark.sql.execution.sortBeforeRepartition — required so task
      // retries reproduce the same row placement, SPARK-23207/38388),
      // charged to every scan of these tables; hashing a unique id is
      // deterministic under retry BY CONSTRUCTION, skips that sort
      // (measured ~50-70 ms per scan at sf0.1), spreads evenly
      // (5,000+ distinct ids over `cores` buckets, guide §2.5), and
      // leaves an id-keyed output partitioning downstream aggregates
      // can reuse. Row PLACEMENT changes vs round-robin — which no
      // registered result may depend on: the driver already runs the
      // same queries at different core counts, so placement-dependent
      // output would have been a cross-run mismatch long before this.
      if (estimatedSplits(spark, df.inputFiles) < cores)
        df.repartition(cores,
          org.apache.spark.sql.functions.col(
            if (name == "documents") "doc_id" else "vec_id"))
      else df
    } else spark.read.parquet(path)
  }

  /** Sum over files of ceil(len / maxPartitionBytes) — the same quantum
    * the FileSourceScan planner uses, via a cheap FS status call per file
    * (no RDD materialization). The split size is a byte string ("128m",
    * "134217728b"), parsed as the conf entry itself parses it.
    */
  private def estimatedSplits(spark: SparkSession, files: Array[String]): Long = {
    val maxBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val hc = spark.sparkContext.hadoopConfiguration
    files.iterator.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val len = p.getFileSystem(hc).getFileStatus(p).getLen
      math.max(1L, (len + maxBytes - 1) / maxBytes)
    }.sum
  }

  /** Incremental read of a date-partitioned staging table — the read twin
    * of `PipelineContext.saveTable(loadDate = ...)`. The predicate is a
    * partition filter, so directories outside the window are pruned at
    * file-listing time (asserted in PipelineSpec); at 100× this is what
    * keeps daily increments O(day), not O(history).
    */
  def loadSince(spark: SparkSession, stagingDir: String, table: String,
                since: java.sql.Date, format: String = "parquet"): DataFrame =
    spark.read.format(format).load(s"$stagingDir/$table")
      .filter(org.apache.spark.sql.functions.col("load_date") >=
        org.apache.spark.sql.functions.lit(since))

  /** S1: JSON multi-file scan with glob mask — implicit UNION ALL of all
    * matching objects. `schema=None` reproduces the reference's
    * inference; supplying one skips the inference pass.
    */
  def json(spark: SparkSession, pathGlob: String,
           schema: Option[StructType] = None): DataFrame = {
    val reader = spark.read
    schema.fold(reader)(reader.schema).json(pathGlob)
  }

  /** S2: date-partition mask construction — manual partition pruning by
    * path (reference zoom_proc.py:324-337). `date == "all"` widens to a
    * full wildcard, like the reference's CLI contract.
    */
  def datedGlob(base: String, template: String, date: String): String = {
    val d = if (date == "all") "*" else date
    base.stripSuffix("/") + "/" + template.replace("{date}", d)
  }

  /** S4: object listing with glob + substring filter (the reference's
    * s3_all_files, zoom_proc.py:258-264) via the Hadoop FS API — works
    * against any supported filesystem (local, S3A, HDFS).
    */
  def listFiles(spark: SparkSession, pathGlob: String,
                mask: String = ""): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(pathGlob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = Option(fs.globStatus(p)).getOrElse(Array.empty)
    statuses.iterator.map(_.getPath.toString).filter(_.contains(mask)).toSeq
  }
}
