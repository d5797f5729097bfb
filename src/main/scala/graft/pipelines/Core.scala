package graft.pipelines

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.operators.Pin
import graft.sinks.{Contract, ParquetSink, Reconcile, ServingSink}

/** Shared pipeline machinery mirroring the reference's orchestration
  * semantics (SURVEY §2.10) with the documented divergences:
  *   - O2: per-TABLE isolation (one table's failure doesn't abort its
  *     siblings) but fail-fast within a table, instead of the reference's
  *     log-and-continue-with-stale-state;
  *   - O6: fan-out lineages are persisted (MEMORY_AND_DISK) instead of the
  *     reference's recompute-from-source-per-action — a pure physical
  *     optimization, same semantics, and the difference between 4 and 1
  *     source scans at 100 TB;
  *   - O7: sibling tables run concurrently ([[PipelineContext.parallel]])
  *     where the reference stages them one after another; every call
  *     `saveTable` makes into the serving sink is serialized behind one
  *     lock the context owns, and `report` lists entries in declaration
  *     order — the order the sequential reference records them in.
  */
final case class TableResult(table: String, rows: Long, served: Long,
                             consistent: Boolean)

final class PipelineContext(val spark: SparkSession, val sink: ServingSink,
                            val stagingDir: String, val mode: SaveMode) {

  private type Entry = (String, Either[Throwable, TableResult])

  // synchronized: streaming drains (Streams.dualSinkStream) append from
  // the micro-batch thread while a caller may read report/failed
  private val results = scala.collection.mutable.ArrayBuffer.empty[Entry]

  // the buffer this thread records into: `results`, or inside a
  // `parallel` branch the branch's own buffer, which the join appends to
  // its caller's buffer in declaration order
  private val buffer =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[Entry]] {
      override def initialValue() = results
    }

  private def record(entry: Entry): Unit = {
    val b = buffer.get
    b.synchronized { b += entry; () }
  }

  /** O7: the one door from [[saveTable]] into `sink`. Every call holds
    * this object's monitor, so concurrent branches reach the serving
    * store one at a time (a JDBC deployment opens no more connections
    * than one table's `numPartitions`); staging writes and read-backs
    * stay outside it.
    */
  private object serving extends ServingSink {
    override def execute(sql: String): Unit = synchronized(sink.execute(sql))
    override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
      synchronized(sink.write(df, table, mode))
    override def count(table: String): Long = synchronized(sink.count(table))
    override def writeDated(df: DataFrame, table: String, mode: SaveMode,
                            dateCol: String, date: java.sql.Date): Unit =
      synchronized(sink.writeDated(df, table, mode, dateCol, date))
  }

  /** O2: run one table stage in isolation; failures are recorded, siblings
    * continue.
    */
  def stage(name: String)(body: => TableResult): Unit =
    record(name -> (try Right(body) catch { case e: Throwable => Left(e) }))

  /** O2 for source-level sections (scan + gate + the tables they feed):
    * the reference's preproc functions swallow failures and return None,
    * skipping everything downstream (zoom_proc.py:130-150) — a missing
    * day of input must not abort sibling source families.
    */
  def guard(name: String)(body: => Unit): Unit =
    try body catch { case e: Throwable =>
      record(name -> Left(e))
    }

  /** O7: sibling stages run at once, each branch on its own thread
    * carrying the caller's Spark local properties (job group, job
    * description, scheduler pool), active session and open
    * [[graft.operators.Pin.scope]]s, so what a branch caches is owned by
    * the forking scope. Returns only after every branch has finished, so
    * `persisted(df) { m => parallel(...) }` never frees under a live
    * reader. `stage`/`guard` failures inside
    * a branch stay recorded and isolated (O2); a branch's uncaught
    * throwable is rethrown after the join — the first in declaration
    * order, the others suppressed onto it. Each call owns its threads, so
    * nested calls never wait on a pool their own caller holds.
    */
  def parallel(branches: (() => Unit)*): Unit = {
    val outer = buffer.get
    val scopes = Pin.openScopes
    val threads = java.util.concurrent.Executors.newCachedThreadPool()
    try {
      val running = branches.map { branch =>
        val own = scala.collection.mutable.ArrayBuffer.empty[Entry]
        own -> SQLExecution.withThreadLocalCaptured(
            spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            threads) {
          buffer.set(own)
          try { Pin.adopt(scopes)(branch()); None }
          catch { case e: Throwable => Some(e) }
        }
      }
      val errors = running.flatMap(_._2.join())
      outer.synchronized { running.foreach(r => outer ++= r._1) }
      errors.headOption.foreach { first =>
        errors.tail.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
    } finally threads.shutdown()
  }

  def report: Seq[(String, Either[Throwable, TableResult])] =
    results.synchronized(results.toSeq)

  def failed: Seq[String] =
    results.synchronized(results.collect { case (n, Left(_)) => n }.toSeq)

  /** K1+K2+K3+O4(+O5): DDL (derived from the contract once, SURVEY §1.3),
    * optional DROP-on-overwrite, contract projection, dual write, and the
    * dual-sink reconciliation check.
    *
    * `loadDate` stamps every row with a `load_date` column and lays the
    * staging table out as one directory per date (SURVEY §4 row 1): an
    * append-mode daily run adds a fresh `load_date=...` directory, and
    * incremental readers prune to it at file-listing time instead of
    * re-globbing the whole staging zone. The serving side keeps the
    * column as plain data (the history-table `load_datetime` pattern,
    * zoom_proc_hst.py:145-148).
    *
    * `zoneMapCols` (dated writes only): persist/refresh the
    * `<path>.__zonemap` stats frame — per-`load_date` min/max boxes
    * over the named columns — as part of the write, so
    * [[graft.plans.ZoneMapPruning.attachFromStats]] registers the
    * staging table with a METADATA read and a query filtered on a data
    * column (an event date string, a meeting id range) prunes
    * `load_date` directories it provably cannot match. The stats
    * writer moves WITH the table writer — the freshness contract the
    * pruning rule's soundness note demands: an Overwrite replaces the
    * day's stats row, an Append box-unions into it, an empty dated
    * Overwrite (the purge) drops it. Cost is one extra aggregation
    * over the day just written, never a rescan of other days.
    */
  def saveTable(df: DataFrame, contract: Contract,
                modeOverride: Option[SaveMode] = None,
                dropOnOverwrite: Boolean = false,
                applyContract: Boolean = true,
                loadDate: Option[java.sql.Date] = None,
                zoneMapCols: Seq[String] = Nil): TableResult = {
    val m = modeOverride.getOrElse(mode)
    // contradictory intent fails loudly: a dated backfill PRESERVES the
    // other days; dropOnOverwrite would destroy them. Migrating an
    // undated serving table to the dated schema is a one-time explicit
    // DROP + a dated run, not something to trigger implicitly.
    require(!(dropOnOverwrite && m == SaveMode.Overwrite && loadDate.isDefined),
      s"${contract.table}: dropOnOverwrite with a dated Overwrite backfill " +
        "would truncate the serving table the backfill is meant to preserve")
    if (dropOnOverwrite && m == SaveMode.Overwrite)
      serving.execute(s"DROP TABLE IF EXISTS ${contract.table}")
    // serving DDL must declare the stamp column too, or the JDBC insert
    // (which carries it) would fail against a freshly-created table
    val ddlContract = loadDate match {
      case Some(_) => contract.copy(schema =
        contract.schema.add("load_date", org.apache.spark.sql.types.DateType))
      case None => contract
    }
    serving.execute(ddlContract.ddl)
    val projected = if (applyContract) contract.select(df) else df
    val out = loadDate match {
      case Some(d) => projected.withColumn("load_date", lit(d))
      case None    => projected
    }
    val path = s"$stagingDir/${contract.table}"
    // an EMPTY dated Overwrite is a purge: dynamic partition overwrite
    // only replaces partitions present in the written frame, so writing
    // nothing would leave the old day on disk in staging while the
    // serving DELETE removes it — desyncing the sinks. Delete the staging
    // partition directory explicitly instead (isEmpty is a limit-1 probe,
    // cheap on non-empty frames).
    loadDate match {
      case Some(d) if m == SaveMode.Overwrite && out.isEmpty =>
        val pdir = new org.apache.hadoop.fs.Path(s"$path/load_date=$d")
        val fs = pdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(pdir, true)
      case _ => ()
    }
    ParquetSink.write(out, path, m,
      partitionBy = if (loadDate.isDefined) Seq("load_date") else Nil)
    loadDate.foreach { d =>
      if (zoneMapCols.nonEmpty) refreshZoneMapStats(out, path, d, m,
        zoneMapCols)
    }
    // dated writes use the partition-aware serving path: staging's dynamic
    // partition overwrite replaces one day, so the serving side must too
    // (a plain Overwrite would truncate the whole serving table)
    loadDate match {
      case Some(d) => serving.writeDated(out, contract.table, m, "load_date", d)
      case None    => serving.write(out, contract.table, m)
    }
    val (staged, served, ok) =
      Reconcile.check(spark, path, out.schema, serving, contract.table)
    TableResult(contract.table, staged, served, ok)
  }

  /** Merge one dated write's zone-map stats into `<path>.__zonemap`
    * (see [[saveTable]]'s `zoneMapCols`). The combined frame is
    * materialized into a tmp directory FIRST (it lazily reads the old
    * stats), then swapped in — stats are buckets-sized metadata, so
    * the single-file rewrite is trivial at any table scale.
    */
  private def refreshZoneMapStats(out: DataFrame, path: String,
                                  d: java.sql.Date, m: SaveMode,
                                  zoneMapCols: Seq[String]): Unit = {
    import graft.operators.Layout
    val statsPath = new org.apache.hadoop.fs.Path(path + ".__zonemap")
    val old_ = new org.apache.hadoop.fs.Path(path + ".__zonemap.old")
    val tmp = new org.apache.hadoop.fs.Path(path + ".__zonemap.tmp")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recover a crash between park and promote: the parked copy is the
    // complete frame — restore it rather than silently rebuilding from
    // one day (which would trip the attach staleness check until
    // someone re-derived the full stats). A parked copy NEXT TO a live
    // stats file is a completed promote's leftover — drop it.
    if (fs.exists(old_)) {
      if (!fs.exists(statsPath))
        require(fs.rename(old_, statsPath), s"could not restore $old_")
      else fs.delete(old_, true)
    }
    val dayStats = Layout.rawZoneMap(out, col("load_date"), zoneMapCols)
    val fileCols = Seq("n_files", "n_bytes", "files_digest")
    val oldAll = if (fs.exists(statsPath))
      Some(spark.read.parquet(statsPath.toString)) else None
    // box logic runs on fingerprint-less frames (mergeRawZoneMaps folds
    // exactly the min_/max_/n_rows shape); the per-bucket file
    // fingerprints are re-attached afterwards from their own truth —
    // other days keep their recorded fingerprint (their directories are
    // untouched by a dated write), the written day gets a FRESH listing
    // of its partition directory, the source the attach-time staleness
    // check relists against
    val boxes = oldAll match {
      case None => dayStats
      case Some(oldWithFiles) =>
        val old = oldWithFiles.drop(fileCols: _*)
        if (m == SaveMode.Overwrite)
          // the day's partition was replaced wholesale; other days keep
          // their rows verbatim
          old.where(col("bucket").cast("string") =!= lit(d.toString))
            .unionByName(dayStats)
        else Layout.mergeRawZoneMaps(zoneMapCols)(old, dayStats)
    }
    val otherDayFiles = oldAll match {
      // stats written before the digest column landed carry only the
      // counts: keep them (null digest = counts-only check) rather than
      // dropping other days' fingerprints wholesale
      case Some(o) if Seq("n_files", "n_bytes").forall(o.columns.contains) =>
        val dig =
          if (o.columns.contains("files_digest"))
            col("files_digest").cast("long")
          else lit(null).cast("long")
        o.select(col("bucket").cast("string").as("__fp_bucket"),
            col("n_files").cast("long").as("n_files"),
            col("n_bytes").cast("long").as("n_bytes"),
            dig.as("files_digest"))
          .where(col("__fp_bucket") =!= lit(d.toString))
      case _ => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__fp_bucket",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_files",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_bytes",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("files_digest",
            org.apache.spark.sql.types.LongType))))
    }
    val dayDir = new org.apache.hadoop.fs.Path(s"$path/load_date=$d")
    val dayFiles = graft.plans.ZoneMapPruning.bucketFileStats(fs, dayDir)
      .map { fp =>
        import spark.implicits._
        Seq((d.toString, fp.nFiles, fp.nBytes, fp.digest.get))
          .toDF("__fp_bucket", "n_files", "n_bytes", "files_digest")
      }
    val fingerprints = dayFiles match {
      case Some(df) => otherDayFiles.unionByName(df)
      case None     => otherDayFiles
    }
    val combined = boxes.join(fingerprints,
        boxes("bucket").cast("string") === fingerprints("__fp_bucket"),
        "left")
      .drop("__fp_bucket")
    // materialize FIRST (combined lazily reads the live stats), then
    // park-promote-clean: the old frame survives any crash point
    combined.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(statsPath))
      require(fs.rename(statsPath, old_), s"could not park $statsPath")
    require(fs.rename(tmp, statsPath), s"could not publish $statsPath")
    fs.delete(old_, true)
    // in-JVM push: a session that ATTACHED this table before this write
    // must not keep pruning against the stale in-memory boxes
    graft.plans.ZoneMapPruning.refreshIfAttached(spark, path,
      statsPath.toString)
  }

  /** A2/O3: the empty-input gate — a single global sum collected as a
    * scalar; 0 (an empty frame, or a frame that does not even have the
    * gate column — what spark.read.json infers from an empty glob) skips
    * everything downstream.
    */
  def sumGate(df: DataFrame, column: String): Long =
    // case-INSENSITIVE presence check, matching Spark's column resolution
    if (!df.columns.exists(_.equalsIgnoreCase(column))) 0L
    else df.agg(coalesce(sum(col(column)), lit(0L)).cast("long")).first().getLong(0)

  /** O6 fix: cache a lineage that feeds several tables, in one scope
    * with whatever `body` caches. */
  def persisted[T](df: DataFrame)(body: DataFrame => T): T =
    Pin.scope(body(Pin.cache(df)))
}
