package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Dual-sink layer mirroring the reference: columnar staging (parquet,
  * reference `save_parquet` zoom_proc.py:247-256) + row-oriented serving
  * (JDBC, `save_spark_postgres` zoom_proc.py:210-245) with out-of-band
  * DDL (`send_query` zoom_proc.py:106-128). The JDBC side is behind a
  * trait so tests run parquet-only with the serving sink mocked — the
  * harness has no Postgres.
  *
  * Contract: one call at a time per pipeline context, possibly from
  * different threads — [[graft.pipelines.PipelineContext.saveTable]]
  * serializes its calls behind one lock while sibling tables stage
  * concurrently, so an implementation needs no locking of its own for
  * that caller.
  */
trait ServingSink {
  /** Out-of-band DDL/DML (CREATE/DROP/GRANT), reference K3. */
  def execute(sql: String): Unit
  /** Bulk write, reference K2. */
  def write(df: DataFrame, table: String, mode: SaveMode): Unit
  /** Serving-side row count, for reconciliation (reference O4). */
  def count(table: String): Long

  /** Date-partition-aware write — the serving twin of staging's dynamic
    * partition overwrite. Append appends; Overwrite replaces ONLY the
    * given date's rows (delete-then-append), so a one-day backfill never
    * truncates the serving table while staging keeps its other days.
    *
    * Contract: `df` must contain only rows stamped `date` (saveTable
    * guarantees this — it stamps one literal); rows for other dates
    * would append without their day being cleared. The delete-then-
    * append is NOT one transaction (the DELETE autocommits, the append
    * runs on the JDBC writer's own connections) — a failure in between
    * leaves the day absent until the backfill is re-run, and concurrent
    * readers can observe the gap. This matches the reference's own
    * overwrite semantics (DROP + recreate + write, zoom_proc.py:210-245
    * + vk_proc.py:374-378, which exposes the WHOLE table, not one day);
    * a serving store needing atomic swaps should write to a side table
    * and rename in one transaction.
    */
  def writeDated(df: DataFrame, table: String, mode: SaveMode,
                 dateCol: String, date: java.sql.Date): Unit = {
    require(mode == SaveMode.Append || mode == SaveMode.Overwrite,
      s"writeDated supports Append/Overwrite only, got $mode " +
        "(Ignore/ErrorIfExists would silently diverge the two sinks)")
    if (mode == SaveMode.Overwrite)
      execute(s"DELETE FROM $table WHERE $dateCol = CAST('$date' AS DATE)")
    write(df, table, SaveMode.Append)
  }
}

/** Real JDBC sink (Postgres-compatible). Parallel per-partition inserts;
  * `numPartitions`/`batchsize` exposed (the reference leaves defaults,
  * BASELINE.md notes that as a gap).
  */
class JdbcSink(url: String, user: String, password: String,
               numPartitions: Int = 8, batchSize: Int = 10000) extends ServingSink {
  override def execute(sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, user, password)
    try { val st = conn.createStatement(); try st.execute(sql) finally st.close() }
    finally conn.close()
  }
  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
      .option("numPartitions", numPartitions)
      .option("batchsize", batchSize)
      .mode(mode).save()
  override def count(table: String): Long = {
    val conn = java.sql.DriverManager.getConnection(url, user, password)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT count(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }
}

/** In-memory mock for tests: records DDL, stores row counts — dated
  * writes tracked per (table, date) so partition-level overwrites model
  * the JDBC delete-then-append faithfully. A write runs the job shape
  * of the [[JdbcSink]] write it stands in for: one job that consumes
  * every row (a `noop` write), with the rows counted on that job by an
  * `Observation` rather than by a `count()` of its own.
  */
class MockServingSink extends ServingSink {
  val ddl = scala.collection.mutable.ArrayBuffer.empty[String]
  // key: (table, Some(date)) for dated writes, (table, None) otherwise
  private val counts =
    scala.collection.mutable.Map.empty[(String, Option[java.sql.Date]), Long]
  override def execute(sql: String): Unit = synchronized { ddl += sql }
  // the write job runs OUTSIDE the monitor: a Spark job held under it
  // would block every other caller of a shared mock for the job's length
  private def served(df: DataFrame): Long = {
    val rows = org.apache.spark.sql.Observation()
    df.observe(rows, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.format("noop").mode(SaveMode.Overwrite).save()
    rows.get("n").asInstanceOf[Long]
  }
  override def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
    val n = served(df)
    synchronized {
      val k = (table, Option.empty[java.sql.Date])
      if (mode == SaveMode.Append) counts(k) = counts.getOrElse(k, 0L) + n
      else { // full overwrite truncates the whole table, dated buckets included
        counts.keys.filter(_._1 == table).toSeq.foreach(counts.remove)
        counts(k) = n
      }
    }
  }
  override def writeDated(df: DataFrame, table: String, mode: SaveMode,
                          dateCol: String, date: java.sql.Date): Unit = {
    val n = served(df)
    synchronized {
      val k = (table, Some(date): Option[java.sql.Date])
      if (mode == SaveMode.Append) counts(k) = counts.getOrElse(k, 0L) + n
      else { // mirror the trait's delete-then-append, with the DDL recorded
        ddl += s"DELETE FROM $table WHERE $dateCol = CAST('$date' AS DATE)"
        counts(k) = n
      }
    }
  }
  override def count(table: String): Long = synchronized(
    counts.collect { case ((t, _), n) if t == table => n }.sum)
}

object ParquetSink {
  /** K1: mode-aware staging write. `partitionBy` lays the table out as
    * one directory per key value (SURVEY §4: the idiomatic upgrade of
    * the reference's filename-glob date masks — at 100× the staging zone
    * itself is what incremental reads must prune, and a partition filter
    * skips whole directories at file-listing time). `format` defaults to
    * parquet but accepts any DataSource V1/V2 short name (orc, json, or
    * delta when its jars are on the classpath).
    */
  def write(df: DataFrame, path: String, mode: SaveMode,
            partitionBy: Seq[String] = Nil,
            format: String = "parquet",
            maxRecordsPerFile: Long = 0L,
            dynamicPartitionOverwrite: Boolean = true): Unit = {
    // maxRecordsPerFile > 0 bounds output file size WITHOUT a repartition
    // (the writer rolls files) — the small-files/giant-files knob for a
    // staging zone that downstream scans re-read
    val w0 = df.write.mode(mode).format(format)
    val w1 = if (maxRecordsPerFile > 0)
      w0.option("maxRecordsPerFile", maxRecordsPerFile) else w0
    // DYNAMIC partition overwrite for partitioned overwrites: a one-day
    // backfill must replace that day's directory, not truncate the whole
    // staging table (Spark's default static mode deletes every
    // partition). Pass dynamicPartitionOverwrite=false for a FULL
    // rebuild that must also remove partitions absent from `df`.
    val w = if (partitionBy.nonEmpty && mode == SaveMode.Overwrite
                && dynamicPartitionOverwrite)
      w1.option("partitionOverwriteMode", "dynamic") else w1
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  /** Compact one partition of a staging table in place: many small files
    * (the residue of frequent incremental appends — each append writes
    * its own files) become `targetFiles` right-sized ones. Reads only the
    * partition being compacted (partition filter), rewrites it through
    * dynamic partition overwrite, leaves every other partition untouched.
    * Run it as the off-peak maintenance pass small-file-heavy zones need:
    * downstream scan cost is dominated by file count once files are
    * smaller than a split.
    */
  def compactPartition(spark: SparkSession, path: String,
                       partitionCol: String, partitionValue: String,
                       targetFiles: Int = 1,
                       format: String = "parquet"): Long = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val part = spark.read.format(format).load(path)
      .filter(org.apache.spark.sql.functions.col(partitionCol) === partitionValue)
    // a pin CUTS the lineage: Spark (rightly) refuses to overwrite a
    // path its write plan still reads from. The partition is held for
    // the duration of the rewrite and freed after it — fine for a
    // per-partition maintenance pass (one partition, not the table).
    graft.operators.Pin.scope {
      val compacted = graft.operators.Pin.eager(part.repartition(targetFiles))
      val rows = compacted.count()
      if (rows > 0) {
        // row-preserving rewrite: keep the zone-map file fingerprint (if
        // the table keeps stats) in step so the next attach doesn't read
        // the compaction as an out-of-band append; the pre-write
        // snapshot guards the tripwire (an already-stale fingerprint
        // stays stale)
        val dirName = partitionCol + "=" + org.apache.spark.sql.catalyst
          .catalog.ExternalCatalogUtils.escapePathName(partitionValue)
        val snapshot = graft.plans.ZoneMapPruning.fingerprintSnapshot(
          spark, path, Seq(dirName))
        write(compacted, path, SaveMode.Overwrite,
          partitionBy = Seq(partitionCol), format = format)
        // own-output accounting for the refresh's fresh-coming-out check:
        // this listing is taken the moment the overwrite commits, so an
        // out-of-band append racing the (job-sized) fingerprint refresh
        // is caught by the listing disagreement and keeps the fingerprint
        // stale; only the commit→this-listStatus instant remains exposed
        // (a filesystem without transactions can't close it entirely)
        val expected = graft.plans.ZoneMapPruning.fingerprintSnapshot(
          spark, path, Seq(dirName))
        // best-effort bookkeeping (see compactPartitioned): never undo a
        // completed rewrite over a fingerprint refresh failure
        try graft.plans.ZoneMapPruning.refreshFileFingerprints(spark, path,
          Seq(dirName), snapshot, expected)
        catch { case e: Exception =>
          System.err.println(s"[compactPartition] zone-map fingerprint " +
            s"refresh failed for $path (rewrite is intact; repair via " +
            s"ZoneMapPruning.rederiveBucket): ${e.getMessage}")
        }
      }
      rows
    }
  }

  /** Bucketed catalog table: pre-shuffles once at write time so that
    * repeated joins/aggregations on `bucketCol` read co-located buckets
    * with NO exchange — the standard big-big join strategy when one side
    * is reused across many queries (bucket both sides with the same
    * count and key).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}

/** Table contract: one declaration drives the final projection, the
  * serving DDL, and the reconciliation — removing the reference's
  * duplication between DDL strings and select lists (SURVEY §1.3).
  */
case class Contract(table: String, schema: StructType) {
  def columns: Seq[String] = schema.fields.map(_.name).toSeq

  /** P2: the contract projection — also the reference's only schema
    * validation (resolution fails if a declared column is missing).
    */
  def select(df: DataFrame): DataFrame =
    df.select(columns.map(org.apache.spark.sql.functions.col): _*)

  def ddl: String = {
    val cols = schema.fields.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")
    s"CREATE TABLE IF NOT EXISTS $table ($cols)"
  }

  private def sqlType(dt: DataType): String = dt match {
    case LongType      => "bigint"
    case IntegerType   => "int"
    case DoubleType    => "double precision"
    case BooleanType   => "boolean"
    case TimestampType => "timestamp"
    case DateType      => "date"
    case d: DecimalType => s"numeric(${d.precision},${d.scale})"
    case _             => "text"
  }
}

object Reconcile {
  /** O4: dual-sink consistency — staging count vs serving count, with no
    * Spark job. `staged` is the sum of the row-group row counts in the
    * Parquet footers of the files a scan of `stagingPath` reads: the
    * file set comes from that scan's own listing (read with `schema`,
    * the schema of the frame just written, so no inference job runs),
    * and it is the count Spark's column-less Parquet `count()` returns,
    * which reads the same row-group counts. Driver cost: one listing and
    * one footer read per staged file. A file in the table directory that
    * is not Parquet fails the footer read, as it fails the scan.
    */
  def check(spark: SparkSession, stagingPath: String, schema: StructType,
            sink: ServingSink, table: String): (Long, Long, Boolean) = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
    // one conf for every footer: opening a file with no conf of its own
    // builds (and parses the XML defaults of) a fresh one per file
    val conf = spark.sessionState.newHadoopConf()
    val staged = spark.read.schema(schema).parquet(stagingPath).inputFiles
      .map { f =>
        val file = HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new java.net.URI(f)), conf)
        // NO_FILTER keeps the row groups, and with them their row counts
        ParquetFooterReader.readFooter(file, ParquetMetadataConverter.NO_FILTER)
          .getBlocks.asScala.map(_.getRowCount).sum
      }.sum
    val served = sink.count(table)
    (staged, served, staged == served)
  }
}
