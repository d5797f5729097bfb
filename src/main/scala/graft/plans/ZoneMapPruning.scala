package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Zone-map data skipping as a Catalyst optimizer rule — the remaining
  * extension point the engine uses ([[graft.GraftExtensions]] injects
  * expressions; this injects a `Rule[LogicalPlan]`): a table laid out
  * by [[graft.operators.Layout.clusterByZ]]-style jobs carries a
  * curve-bucket PARTITION column, and its zone map (bucket → raw
  * min/max box over N registered columns, dimension-bounded — at most
  * 2^bucketBits rows) lives comfortably on the driver. A scan filtered
  * on mapped columns can then skip every partition directory whose box
  * misses the predicate's bounding box — exactly what lakehouse "data
  * skipping indexes" do, expressed as the standard Spark mechanism:
  * rewrite `Filter(cond, scan)` to `Filter(cond, Filter(bucket IN
  * cands, scan))`, and `FileSourceStrategy` turns the injected
  * conjunct into a PartitionFilter (directory pruning, pinned by
  * PlanAuditSpec).
  *
  * Dimensions are typed: INTEGRAL columns compare numerically, STRING
  * columns compare in binary UTF-8 order (Spark's own string
  * comparison — [[UTF8String.compareTo]]), which serves the
  * reference's date-encoded predicates (`load_date >= '2020-01-01'`,
  * ISO timestamp prefixes) — the single most common real-world
  * pruning conjunct. Any other column type is rejected at
  * registration (fail fast beats a subtly unsound ordering).
  *
  * Soundness (the rule may only ever REMOVE work, never rows):
  *   - bounds are extracted ONLY from top-level AND conjuncts of the
  *     shapes attr ⟨op⟩ literal / literal ⟨op⟩ attr with op in
  *     {=, >=, >, <=, <} on the registered columns, the literal typed
  *     like the dimension; anything else (ORs, casts, expressions)
  *     contributes no bound — pruning with a SUPERSET box is still
  *     sound, just less effective;
  *   - a candidate bucket is any whose per-dimension [min,max] box
  *     intersects the predicate's range on EVERY bounded dimension
  *     (the standard min/max skipping test); rows with NULL in a
  *     mapped column cannot satisfy a range conjunct, so their absence
  *     from the box stats never loses a row, and a bucket with no
  *     non-null values on some dimension stays a candidate on it;
  *   - no bounds extracted, unknown table, or nothing pruned → the
  *     plan is returned UNCHANGED. The `zonemap_prune_scan` /
  *     `zonemap3_prune_scan` / `zonemap_prune_string` oracles are the
  *     end-to-end identity proofs: the pruned scans answer the
  *     full-scan SQL verbatim;
  *   - FRESHNESS is a soundness PRECONDITION on the metadata attach
  *     paths, not something the rule can check per query: the min/max
  *     test above is only sound if the registered stats COVER every
  *     bucket (and every row) of the table being scanned. [[attach]]
  *     derives boxes from the table itself, so it is fresh by
  *     construction at registration time; [[attachFromStats]] /
  *     [[attachFromStore]] trust a writer-persisted frame, and stats
  *     that are STALE relative to the table — rows appended after the
  *     `.__zonemap` was written, a stats store missing a batch —
  *     silently prune LIVE rows (wrong results, not a loud failure).
  *     The contract is the external-index contract: the stats writer
  *     and the table writer must move together (the
  *     [[graft.streaming.SliceStore.ZoneStats]] stream does, one
  *     stats slice per data micro-batch, committed once however often
  *     the batch replays), and any out-of-band rewrite
  *     requires re-attach. As a cheap tripwire, the metadata attach
  *     paths VALIDATE bucket coverage when the table directory is
  *     reachable: every `bucketCol=...` partition directory present on
  *     disk must have a stats row, else attach fails loudly
  *     (O(buckets) listing, no data I/O; skipped when the table path
  *     is absent — registration-before-write stays legal). This
  *     catches whole-bucket gaps (the missing-batch case); when the
  *     stats additionally carry per-bucket `n_files`/`n_bytes`
  *     fingerprints (the [[graft.pipelines.PipelineContext.saveTable]]
  *     `zoneMapCols` writer records them for free from its own
  *     listing), INTRA-bucket staleness — appends into an existing
  *     bucket under an unchanged stats frame — also fails the attach
  *     loudly (one listStatus per bucket, still metadata-only).
  *     Fingerprint-less stats (streaming store views, hand-derived
  *     frames) keep intra-bucket freshness as the writer's contract.
  *     Within one JVM the writer also pushes: a `.__zonemap` refresh
  *     re-registers any attached table ([[refreshIfAttached]]), so an
  *     attach that predates a later dated write never keeps pruning
  *     against stale in-memory boxes.
  *
  * The bucket (partition) column may be integral, string, or DATE —
  * the last serves the pipelines' `load_date=` staging layout
  * ([[graft.pipelines.PipelineContext.saveTable]]'s `zoneMapCols`
  * persists the stats as part of every dated write), so a query
  * filtered on a data column prunes load-date directories without
  * naming them.
  *
  * Registration is a METADATA read, never a table scan, when the
  * writer persisted its stats: [[attachFromStats]] takes a
  * [[graft.operators.Layout.rawZoneMap]]-shaped frame (the
  * `<path>.__zonemap` convention), [[attachFromStore]] folds an
  * append-only slice store ([[graft.streaming.SliceStore.ZoneStats]]:
  * the files of its commit log's latest version, so a torn append or
  * compaction is never half-read and a replayed append never counted
  * twice; compactable through its `compact`)
  * — both read only bucket-bounded stats rows (ZoneMapPruningSpec proves it by
  * attaching with the table itself absent). [[attach]] without stats
  * derives them with one aggregation over the table — the bootstrap
  * path for a table whose writer kept none; at 100 TB that is a full
  * scan, so persist stats at write time and use the metadata forms.
  *
  * Lifecycle: attach registers a table's stats and idempotently
  * appends [[PruneRule]] to `spark.experimental.extraOptimizations`
  * (the documented hook for user rules — they run as a final batch, so
  * the injected Filter sits directly on the relation where physical
  * planning collects it). Stats are a point-in-time snapshot, same
  * contract as any external index: re-attach after rewriting the
  * table. [[detach]] drops the registration (the rule stays installed
  * but no longer matches).
  */
object ZoneMapPruning {

  /** One bucket's raw-value bounding box: per registered dimension,
    * the [min,max] of its non-null values (Long for integral dims,
    * String for string dims), or `None` when the bucket holds no
    * non-null value on that dimension (unprunable on it). The bucket
    * id is kept CANONICALLY RENDERED (cast to string — "123",
    * "2020-01-01"), so integral curve buckets and date/string
    * partition columns (the pipelines' `load_date` staging layout) use
    * one registry; the rule converts candidates back to the scan
    * attribute's type, bailing out losslessly when it can't.
    */
  final case class BucketBox(bucket: String, dims: Seq[Option[(Any, Any)]])

  /** `dims`: (column name, isString) in registration order. */
  final case class TableStats(bucketCol: String, dims: Seq[(String, Boolean)],
                              boxes: Seq[BucketBox])

  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, TableStats]

  private def canonical(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(p).toString
  }

  /** Two-column compatibility form of [[attach]]. */
  def attach(spark: SparkSession, path: String, bucketCol: String,
             xCol: String, yCol: String): Unit =
    attach(spark, path, bucketCol, Seq(xCol, yCol))

  /** Register `path`'s zone map by SCANNING the table: one aggregation
    * derives the per-bucket raw boxes over `cols`. Bootstrap form —
    * prefer [[attachFromStats]] / [[attachFromStore]] when the writer
    * persisted stats (this is a full table scan; those are metadata
    * reads).
    */
  def attach(spark: SparkSession, path: String,
             bucketCol: String, cols: Seq[String]): Unit = {
    val df = spark.read.parquet(path)
    val stats = graft.operators.Layout.rawZoneMap(
      df, org.apache.spark.sql.functions.col(bucketCol), cols)
    attachFromStats(spark, path, bucketCol, stats)
  }

  /** Register `path` for pruning from a PRECOMPUTED
    * [[graft.operators.Layout.rawZoneMap]] frame — `(bucket, min_<c>,
    * max_<c>, ...)` — e.g. the `<path>.__zonemap` parquet a cluster-by
    * writer persisted. Dimensions and their types are inferred from
    * the frame's `min_`/`max_` column pairs; only the bucket-bounded
    * stats rows are ever read (collected to the driver — the same
    * contract as an IVF centroid matrix), so registration costs no
    * table I/O at any scale.
    */
  def attachFromStats(spark: SparkSession, path: String, bucketCol: String,
                      stats: DataFrame): Unit = {
    val dims = statsDims(stats)
    require(dims.nonEmpty,
      s"stats frame has no min_/max_ column pairs: " +
        stats.columns.mkString(","))
    val selected = stats.select(
      org.apache.spark.sql.functions.col("bucket").cast("string") +:
        dims.flatMap { case (c, isString) =>
          val cast = if (isString) "string" else "long"
          Seq(org.apache.spark.sql.functions.col(s"min_$c").cast(cast),
            org.apache.spark.sql.functions.col(s"max_$c").cast(cast))
        }: _*)
    val boxes = selected.collect().map { r =>
      require(!r.isNullAt(0),
        s"zone-map stats for $path contain a NULL bucket: rows with a " +
          "null bucket value cannot be represented by an IN-list prune " +
          "— exclude them from the layout or fix the stats writer")
      BucketBox(r.getString(0), dims.indices.map { i =>
        if (r.isNullAt(1 + 2 * i)) None
        else Some((r.get(1 + 2 * i), r.get(2 + 2 * i)))
      })
    }
    // optional per-bucket file stats (`n_files`/`n_bytes` and, on
    // stats written since the digest landed, `files_digest` — all from
    // the writer's own listing, Core.refreshZoneMapStats) extend the
    // coverage tripwire to INTRA-bucket staleness, the digest catching
    // even a count- and byte-preserving in-place rewrite; frames
    // without them (streaming store views, hand-derived stats) keep
    // the whole-bucket check only
    val fileStats: Map[String, FileFingerprint] =
      if (stats.columns.contains("n_files") &&
          stats.columns.contains("n_bytes")) {
        val dig =
          if (stats.columns.contains("files_digest"))
            org.apache.spark.sql.functions.col("files_digest").cast("long")
          else org.apache.spark.sql.functions.lit(null).cast("long")
        stats.select(
            org.apache.spark.sql.functions.col("bucket").cast("string"),
            org.apache.spark.sql.functions.col("n_files").cast("long"),
            org.apache.spark.sql.functions.col("n_bytes").cast("long"),
            dig.as("files_digest"))
          .collect()
          .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
          .map(r => r.getString(0) -> FileFingerprint(r.getLong(1),
            r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      } else Map.empty
    validateBucketCoverage(spark, path, bucketCol,
      boxes.map(_.bucket).toSet, fileStats)
    registry.put(canonical(spark, path),
      TableStats(bucketCol, dims, boxes.toSeq))
    install(spark)
  }

  /** Writer-side notification (Core.saveTable's `zoneMapCols` path):
    * when a `.__zonemap` refresh lands for a table this JVM has
    * ATTACHED, re-register it from the freshly published stats so a
    * session that attached before a later dated write never keeps
    * pruning against the stale in-memory boxes (the silent-wrong-
    * results mode the soundness note warns about). No-op when the
    * table was never attached; metadata-sized read when it was.
    *
    * If the re-attach VALIDATION fails (the fresh stats don't cover
    * the directories — e.g. a concurrent writer's half-landed day, or
    * an out-of-band append the refresh didn't see), the old
    * registration is DETACHED before the failure propagates: the
    * stale boxes must not survive a failed refresh, or every later
    * query on this table would silently prune live rows. Detached =
    * full scans until a successful re-attach — slower, never wrong.
    * (Same single-writer-per-table cadence as the reference's daily
    * loads; concurrent dated writers should re-attach out of band.)
    */
  def refreshIfAttached(spark: SparkSession, path: String,
                        statsPath: String): Unit =
    registry.get(canonical(spark, path)).foreach { ts =>
      try attachFromStats(spark, path, ts.bucketCol,
        spark.read.parquet(statsPath))
      catch { case e: Throwable =>
        detach(spark, path)
        throw new IllegalStateException(
          s"zone-map re-attach after a stats refresh failed for $path; " +
            "the stale registration has been DETACHED (full scans until " +
            "a successful re-attach)", e)
      }
    }

  /** One bucket directory's file fingerprint: data-file count, total
    * bytes, and (when derived from a LISTING) an order-insensitive XOR
    * digest of per-file (name, size, mtime) hashes. The digest closes
    * the window the counts alone leave open: an in-place rewrite that
    * preserves file count AND total bytes but changes rows still flips
    * names/mtimes, so the attach-time staleness check fails loudly
    * instead of pruning against boxes that never saw the new rows.
    * `digest = None` marks a fingerprint built from a compactor's own
    * output ACCOUNTING (`CompactionResult` — counts only, no listing);
    * [[FileFingerprint.matches]] compares digests only when both sides
    * carry one, so counts-only fingerprints stay comparable.
    */
  final case class FileFingerprint(nFiles: Long, nBytes: Long,
                                   digest: Option[Long]) {
    def matches(other: FileFingerprint): Boolean =
      nFiles == other.nFiles && nBytes == other.nBytes &&
        (for (a <- digest; b <- other.digest) yield a == b).getOrElse(true)
  }

  /** Count + total bytes + (name, size, mtime) XOR digest of the
    * non-hidden data files directly under `dir` — the shared definition
    * of a bucket's file fingerprint, so the stats writer
    * ([[graft.pipelines.PipelineContext]]) and the attach-time check
    * below can never disagree on what counts as a data file. None when
    * the directory does not exist.
    */
  private[graft] def bucketFileStats(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[FileFingerprint] =
    if (!fs.exists(dir)) None
    else {
      val files = fs.listStatus(dir).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      // XOR is order-insensitive, so the digest is stable under listing
      // order; part-file names are job-unique UUIDs, so two distinct
      // file sets colliding to one digest is a 2^-64 event
      val digest = files.foldLeft(0L) { (acc, st) =>
        acc ^ graft.functions.Fnv64.hash(
          s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime}")
      }
      Some(FileFingerprint(files.length.toLong, files.map(_.getLen).sum,
        Some(digest)))
    }

  /** RECOVERY for a bucket whose stats row went stale — the repair the
    * attach-time STALE failures point at. Both staleness modes heal
    * here: an out-of-band append (box AND fingerprint wrong) and a
    * crash between a compaction's rewrite and its fingerprint refresh
    * (box right, fingerprint unmatchable). Scans ONLY the named
    * bucket's directory (bounded — one partition, the day being
    * healed), re-derives its box, row count and file fingerprint,
    * replaces its row in `<tablePath>.__zonemap` (other buckets kept
    * verbatim; publish via the shared tmp/park/promote protocol), and
    * re-registers an attached table. This is deliberately the ONE
    * repair path that reads data; every other stats operation stays
    * metadata-only.
    */
  def rederiveBucket(spark: SparkSession, tablePath: String,
                     bucketCol: String, bucket: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val statsPath = new org.apache.hadoop.fs.Path(tablePath + ".__zonemap")
    val old_ = new org.apache.hadoop.fs.Path(tablePath + ".__zonemap.old")
    val tmp = new org.apache.hadoop.fs.Path(tablePath + ".__zonemap.tmp")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old_)) { // crashed publish: parked copy is the truth
      if (!fs.exists(statsPath))
        require(fs.rename(old_, statsPath), s"could not restore $old_")
      else fs.delete(old_, true)
    }
    require(fs.exists(statsPath),
      s"no $statsPath to repair — derive full stats instead " +
        "(Layout.rawZoneMap + attachFromStats)")
    val stats = spark.read.parquet(statsPath.toString)
    val dims = statsDims(stats).map(_._1)
    val dirName = bucketCol + "=" + org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(bucket)
    val dir = new org.apache.hadoop.fs.Path(table, dirName)
    require(fs.exists(dir),
      s"$dir does not exist — if the bucket was removed, drop its stats " +
        "row instead of re-deriving it")
    val fp = bucketFileStats(fs, dir).get
    val aggs = dims.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    } :+ count(lit(1)).as("n_rows")
    val fresh = spark.read.parquet(dir.toString)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket",
        lit(bucket).cast(stats.schema("bucket").dataType))
      .withColumn("n_files", lit(fp.nFiles))
      .withColumn("n_bytes", lit(fp.nBytes))
      .withColumn("files_digest", lit(fp.digest.get))
    val rest = stats.where(col("bucket").cast("string") =!= lit(bucket))
    val merged = rest.unionByName(fresh, allowMissingColumns = true)
    merged.coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.toString)
    require(fs.rename(statsPath, old_), s"could not park $statsPath")
    require(fs.rename(tmp, statsPath), s"could not publish $statsPath")
    fs.delete(old_, true)
    refreshIfAttached(spark, tablePath, statsPath.toString)
  }

  /** Pre-compaction listing of the named partition directories — take
    * BEFORE a row-preserving rewrite, pass to
    * [[refreshFileFingerprints]] after it.
    */
  def fingerprintSnapshot(spark: SparkSession, tablePath: String,
      partitionDirs: Seq[String]): Map[String, FileFingerprint] = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    partitionDirs.flatMap { dirName =>
      bucketFileStats(fs, new org.apache.hadoop.fs.Path(table, dirName))
        .map(dirName -> _)
    }.toMap
  }

  /** Post-maintenance fingerprint refresh: a ROW-PRESERVING partition
    * rewrite (small-file compaction — [[graft.operators.Maintenance
    * .compactPartitioned]], [[graft.sinks.ParquetSink
    * .compactPartition]]) leaves the boxes valid but the per-bucket
    * file fingerprints stale, which would fail the next attach as
    * loudly as a real out-of-band append. The compactors call this
    * with the partition DIRECTORY names they rewrote plus the
    * [[fingerprintSnapshot]] they took BEFORE rewriting; a bucket's
    * `n_files`/`n_bytes` row in `<tablePath>.__zonemap` is updated
    * from a fresh listing ONLY when the pre-compaction listing matched
    * the recorded fingerprint — if it didn't, the stats were already
    * stale going in (an out-of-band append the compaction just folded
    * into its output) and blessing the new fingerprint would RESET the
    * tripwire over a box that doesn't cover the appended rows; such
    * buckets keep their stale fingerprint so the next attach still
    * fails loudly. Boxes are never touched. Published through the same
    * tmp/park/promote protocol as the pipeline stats writer (same
    * `.old`/`.tmp` suffixes, so either writer's crash recovery covers
    * the other); an attached table is re-registered. No-op when the
    * table keeps no stats or the stats carry no fingerprints.
    *
    * `postCompaction` is the compactor's OWN accounting of what it
    * wrote (per-dir (files, bytes) — e.g. `CompactionResult.filesAfter/
    * bytesAfter`): when present for a dir, the fresh listing taken here
    * must MATCH it or the bucket keeps its stale fingerprint — without
    * this, a file appended out-of-band between the compaction's swap
    * and this refresh's listing would be blessed into the new
    * fingerprint even though the boxes never saw its rows, resetting
    * the very tripwire the fresh-going-in check protects (r15 advice).
    */
  def refreshFileFingerprints(spark: SparkSession, tablePath: String,
      partitionDirs: Seq[String],
      preCompaction: Map[String, FileFingerprint],
      postCompaction: Map[String, FileFingerprint] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col}
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val statsPath = new org.apache.hadoop.fs.Path(tablePath + ".__zonemap")
    val old_ = new org.apache.hadoop.fs.Path(tablePath + ".__zonemap.old")
    val tmp = new org.apache.hadoop.fs.Path(tablePath + ".__zonemap.tmp")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old_)) { // crashed publish: parked copy is the truth
      if (!fs.exists(statsPath))
        require(fs.rename(old_, statsPath), s"could not restore $old_")
      else fs.delete(old_, true)
    }
    if (!fs.exists(statsPath)) return
    val stats = spark.read.parquet(statsPath.toString)
    if (!stats.columns.contains("n_files") ||
      !stats.columns.contains("n_bytes")) return
    val digCol =
      if (stats.columns.contains("files_digest"))
        col("files_digest").cast("long")
      else org.apache.spark.sql.functions.lit(null).cast("long")
    val recorded: Map[String, FileFingerprint] = stats.select(
        col("bucket").cast("string"), col("n_files").cast("long"),
        col("n_bytes").cast("long"), digCol.as("files_digest"))
      .collect()
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => r.getString(0) -> FileFingerprint(r.getLong(1),
        r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val updates = partitionDirs.flatMap { dirName =>
      val eq = dirName.indexOf('=')
      if (eq < 0) None
      else {
        val bucket = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(dirName.substring(eq + 1))
        // fresh-going-in check: recorded fingerprint must match the
        // pre-compaction listing, else keep the stale fingerprint so
        // the attach tripwire still fires on the folded-in append
        if (!recorded.get(bucket).exists(rec =>
            preCompaction.get(dirName).exists(rec.matches))) None
        else bucketFileStats(fs,
          new org.apache.hadoop.fs.Path(table, dirName))
          // fresh-coming-out check: when the compactor reported its own
          // output shape, a fresh listing that disagrees means something
          // ELSE wrote into the bucket after the swap — keep the stale
          // fingerprint so the next attach fails loudly on those rows
          .filter(fresh => postCompaction.get(dirName).forall(_.matches(fresh)))
          .map(fp => (bucket, fp.nFiles, fp.nBytes, fp.digest.get))
      }
    }
    if (updates.isEmpty) return
    import spark.implicits._
    val upd = updates.toDF("__fp_bucket", "__nf", "__nb", "__fd")
    val merged = stats.join(upd,
        stats("bucket").cast("string") === upd("__fp_bucket"), "left")
      .withColumn("n_files",
        coalesce(col("__nf"), col("n_files")).cast("long"))
      .withColumn("n_bytes",
        coalesce(col("__nb"), col("n_bytes")).cast("long"))
      .withColumn("files_digest",
        coalesce(col("__fd"), digCol).cast("long"))
      .drop("__fp_bucket", "__nf", "__nb", "__fd")
    merged.coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.toString)
    require(fs.rename(statsPath, old_), s"could not park $statsPath")
    require(fs.rename(tmp, statsPath), s"could not publish $statsPath")
    fs.delete(old_, true)
    refreshIfAttached(spark, tablePath, statsPath.toString)
  }

  /** Freshness tripwire for the metadata attach paths (see the
    * soundness scaladoc): when the table directory exists and is laid
    * out with `bucketCol=...` partition directories, every bucket
    * present on disk must have a stats row — a whole bucket the stats
    * never saw means the frame is stale and pruning would silently
    * drop its rows. O(buckets) directory listing, no data I/O; a
    * missing table path is fine (stats may legally be registered
    * before the first write lands).
    *
    * When the stats carry per-bucket file fingerprints (`fileStats`,
    * from the writer's own listing at refresh time), the check goes
    * one level deeper: a bucket directory whose CURRENT file
    * count/bytes differ from the fingerprint means files were appended
    * (or rewritten) into an existing bucket after the stats were
    * derived — previously the undetectable staleness mode — and the
    * attach fails loudly instead of silently pruning the new rows.
    * Cost rises from O(buckets) to O(files), still metadata-only (one
    * listStatus per fingerprinted bucket, no data I/O); buckets
    * without a fingerprint (older stats, streaming store views) keep
    * the whole-bucket check only.
    */
  private def validateBucketCoverage(
      spark: SparkSession, path: String, bucketCol: String,
      statBuckets: Set[String],
      fileStats: Map[String, FileFingerprint] = Map.empty): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val prefix = s"$bucketCol="
    // directory names carry Hive-ESCAPED partition values ("a b" is
    // written as "a%20b"); the stats render the raw value, so unescape
    // before comparing or any escapable character reads as STALE
    val dirs = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith(prefix))
      .map { st =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(st.getPath.getName.stripPrefix(prefix)) ->
          st.getPath
      }
    val onDisk = dirs.map(_._1)
    require(!onDisk.contains("__HIVE_DEFAULT_PARTITION__"),
      s"$path has a null-bucket partition directory: rows with a null " +
        s"$bucketCol cannot be represented by an IN-list prune")
    val missing = onDisk.filterNot(statBuckets.contains)
    require(missing.isEmpty,
      s"zone-map stats for $path are STALE: table has " +
        s"$prefix{${missing.sorted.take(8).mkString(",")}" +
        s"${if (missing.length > 8) ",..." else ""}} partition " +
        "directories with no stats row — pruning would silently drop " +
        "their rows; re-derive the stats (Layout.rawZoneMap) or attach " +
        "from the current stats store")
    val changed = dirs.flatMap { case (bucket, dir) =>
      fileStats.get(bucket).flatMap { rec =>
        bucketFileStats(fs, dir) match {
          case Some(cur) if !rec.matches(cur) =>
            Some(s"$prefix$bucket (stats: ${rec.nFiles} files/" +
              s"${rec.nBytes} bytes/digest ${rec.digest.getOrElse("-")}, " +
              s"disk: ${cur.nFiles} files/${cur.nBytes} bytes/digest " +
              s"${cur.digest.getOrElse("-")})")
          case _ => None
        }
      }
    }
    require(changed.isEmpty,
      s"zone-map stats for $path are STALE inside existing buckets: " +
        s"${changed.take(4).mkString("; ")}" +
        s"${if (changed.length > 4) "; ..." else ""} — files landed in " +
        "(or were rewritten inside) these partition directories after " +
        "the stats were derived; pruning could silently drop the new " +
        "rows. Repair with " +
        "ZoneMapPruning.rederiveBucket(spark, path, bucketCol, bucket) " +
        "— a bounded one-bucket scan that heals the box AND the " +
        "fingerprint — then re-attach")
  }

  /** Register `path` for pruning from an APPEND-ONLY zone-stats slice
    * store ([[graft.streaming.SliceStore.ZoneStats]]: one
    * [[graft.operators.Layout.rawZoneMap]] slice per micro-batch,
    * committed once per micro-batch by the store's log): the store's
    * view — the latest committed version's files through the box-union
    * merge. Bucket-bounded metadata I/O only: the file set
    * comes from the store's log, with no directory listing.
    */
  def attachFromStore(spark: SparkSession, path: String, bucketCol: String,
                      storePath: String): Unit =
    attachFromStats(spark, path, bucketCol,
      graft.streaming.SliceStore.ZoneStats.view(spark, storePath))

  /** (column, isString) pairs from a stats frame's min_/max_ columns,
    * in min_ appearance order; rejects non-integral non-string dims.
    */
  private[graft] def statsDims(stats: DataFrame): Seq[(String, Boolean)] = {
    val names = stats.columns
    names.filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq
      .filter(c => names.contains(s"max_$c"))
      .map { c =>
        val dt = stats.schema(s"min_$c").dataType
        c -> (dt match {
          case StringType => true
          case ByteType | ShortType | IntegerType | LongType => false
          case other => throw new IllegalArgumentException(
            s"zone-map dimension $c has unsupported type " +
              s"${other.simpleString}: only integral and string " +
              "columns have a portable pruning order")
        })
      }
  }

  private def install(spark: SparkSession): Unit = {
    val installed = spark.experimental.extraOptimizations
    if (!installed.exists(_ eq PruneRule))
      spark.experimental.extraOptimizations = installed :+ PruneRule
  }

  def detach(spark: SparkSession, path: String): Unit =
    registry.remove(canonical(spark, path))

  /** Ordering shared by box stats and predicate bounds: numeric for
    * integral dims, binary UTF-8 (Spark's string comparison) for
    * string dims.
    */
  private def cmp(a: Any, b: Any, isString: Boolean): Int =
    if (isString)
      UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(UTF8String.fromString(b.asInstanceOf[String]))
    else java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])

  /** One dimension's predicate range: optional lower/upper bound, each
    * with strictness — kept inclusive/exclusive instead of ±1-adjusted
    * so the same test serves longs and strings (a string has no
    * successor).
    */
  private final case class PredRange(lo: Option[Any], loStrict: Boolean,
                                     hi: Option[Any], hiStrict: Boolean) {
    def bounded: Boolean = lo.isDefined || hi.isDefined
  }

  /** Extract one attribute's range from the top-level conjuncts. */
  private def rangeOf(conjuncts: Seq[Expression], name: String,
                      isString: Boolean): PredRange = {
    var lo: Option[Any] = None; var loS = false
    var hi: Option[Any] = None; var hiS = false
    def litVal(e: Expression): Option[Any] = e match {
      case Literal(v: UTF8String, StringType) if isString => Some(v.toString)
      case Literal(v: Byte, _) if !isString   => Some(v.toLong)
      case Literal(v: Short, _) if !isString  => Some(v.toLong)
      case Literal(v: Int, _) if !isString    => Some(v.toLong)
      case Literal(v: Long, _) if !isString   => Some(v)
      case _                                  => None
    }
    def attr(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name.equalsIgnoreCase(name)
      case _                     => false
    }
    def tightenLo(v: Any, strict: Boolean): Unit = lo match {
      case None => lo = Some(v); loS = strict
      case Some(l) =>
        val c = cmp(v, l, isString)
        if (c > 0) { lo = Some(v); loS = strict }
        else if (c == 0 && strict) loS = true
    }
    def tightenHi(v: Any, strict: Boolean): Unit = hi match {
      case None => hi = Some(v); hiS = strict
      case Some(h) =>
        val c = cmp(v, h, isString)
        if (c < 0) { hi = Some(v); hiS = strict }
        else if (c == 0 && strict) hiS = true
    }
    conjuncts.foreach {
      case GreaterThanOrEqual(a, l) if attr(a) =>
        litVal(l).foreach(tightenLo(_, strict = false))
      case GreaterThan(a, l) if attr(a) =>
        litVal(l).foreach(tightenLo(_, strict = true))
      case LessThanOrEqual(a, l) if attr(a) =>
        litVal(l).foreach(tightenHi(_, strict = false))
      case LessThan(a, l) if attr(a) =>
        litVal(l).foreach(tightenHi(_, strict = true))
      case EqualTo(a, l) if attr(a) =>
        litVal(l).foreach { v =>
          tightenLo(v, strict = false); tightenHi(v, strict = false)
        }
      // reversed operand order: literal ⟨op⟩ attr
      case GreaterThanOrEqual(l, a) if attr(a) =>
        litVal(l).foreach(tightenHi(_, strict = false))
      case GreaterThan(l, a) if attr(a) =>
        litVal(l).foreach(tightenHi(_, strict = true))
      case LessThanOrEqual(l, a) if attr(a) =>
        litVal(l).foreach(tightenLo(_, strict = false))
      case LessThan(l, a) if attr(a) =>
        litVal(l).foreach(tightenLo(_, strict = true))
      case EqualTo(l, a) if attr(a) =>
        litVal(l).foreach { v =>
          tightenLo(v, strict = false); tightenHi(v, strict = false)
        }
      case _ => ()
    }
    PredRange(lo, loS, hi, hiS)
  }

  object PruneRule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case f @ Filter(cond, rel: LogicalRelation) =>
        val stats = rel.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.flatMap(p => registry.get(p.toString))
              .headOption
          case _ => None
        }
        stats match {
          case Some(TableStats(bucketCol, dims, boxes)) =>
            val conjuncts = splitConjunctivePredicates(cond)
            val ranges = dims.map { case (c, isString) =>
              rangeOf(conjuncts, c, isString)
            }
            val bounded = ranges.exists(_.bounded)
            rel.output.find(_.name.equalsIgnoreCase(bucketCol)) match {
              case Some(bAttr) if bounded =>
                val cands = boxes.filter { box =>
                  box.dims.zip(ranges).zip(dims).forall {
                    case ((dimBox, r), (_, isString)) => dimBox match {
                      case None => true // no non-null values: keep
                      case Some((blo, bhi)) =>
                        r.lo.forall { l =>
                          val c = cmp(bhi, l, isString)
                          if (r.loStrict) c > 0 else c >= 0
                        } &&
                          r.hi.forall { h =>
                            val c = cmp(blo, h, isString)
                            if (r.hiStrict) c < 0 else c <= 0
                          }
                    }
                  }
                }.map(_.bucket)
                val inList = cands.flatMap(bucketLiteral(_, bAttr.dataType))
                // bail out unless every candidate converts losslessly —
                // an unconvertible bucket id must not silently drop
                if (cands.length < boxes.length &&
                    inList.length == cands.length) {
                  val pruned = Filter(
                    if (inList.isEmpty) Literal.FalseLiteral
                    else In(bAttr, inList.toSeq), rel)
                  Filter(cond, pruned)
                } else f
              case _ => f
            }
          case None => f
        }
    }

    /** Convert a canonically-rendered bucket id back to a literal of
      * the scan attribute's type — None (lossless bail-out) when it
      * doesn't parse. Date support serves the pipelines' `load_date`
      * staging partitions, whose scan attribute is DateType.
      */
    private def bucketLiteral(v: String, dt: DataType): Option[Literal] =
      dt match {
        case StringType =>
          Some(Literal(UTF8String.fromString(v), StringType))
        case org.apache.spark.sql.types.LongType =>
          scala.util.Try(v.toLong).toOption.map(Literal(_))
        case IntegerType =>
          scala.util.Try(v.toInt).toOption.map(Literal(_))
        case ShortType =>
          scala.util.Try(v.toShort).toOption.map(Literal(_))
        case org.apache.spark.sql.types.DateType =>
          scala.util.Try(java.sql.Date.valueOf(v)).toOption.map { d =>
            Literal(org.apache.spark.sql.catalyst.util.DateTimeUtils
              .fromJavaDate(d), org.apache.spark.sql.types.DateType)
          }
        case _ => None
      }

    private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
      e match {
        case And(l, r) =>
          splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
        case other => Seq(other)
      }
  }
}
