package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SaveMode, SparkSession}

/** Table maintenance: small-file compaction (the OPTIMIZE half every
  * lakehouse pairs with an append-mode ingest cadence).
  *
  * Why it exists here: the reference's staging pattern appends one
  * parquet slice per calendar batch (hourly/daily globs —
  * `jhub_proc.py:268-276`, `zoom_proc.py:330-337` in the reference
  * repo), which accretes files forever; a year of hourly appends is
  * ~9k files per table, and at 100 TB the file COUNT — not the bytes —
  * becomes the bottleneck (every scan pays listing + one task per
  * file; the NameNode/manifest pays the metadata). Compaction
  * bin-packs a directory table back to ~`targetBytes` files in one
  * read→rewrite→swap pass.
  *
  * Scale shape: the listing is one `listStatus` (a manifest read on a
  * real table format); the rewrite is ONE Spark job whose plan is just
  * scan→exchange-free-coalesce→write (or scan→range-exchange→sorted
  * write when preserving a sort/z-order layout — the only shuffle, and
  * it is the one that buys the clustering back); the swap is two
  * directory renames, no data movement. Nothing is collected to the
  * driver but the file listing.
  *
  * Zone maps under compaction: [[Layout.zoneMap]] is a function of the
  * DATA, not the file layout, so a compaction that preserves rows
  * preserves the zone map VERBATIM — previously appended per-slice
  * maps ([[graft.streaming.SliceStore.ZoneMap]]) stay exact under
  * [[Layout.mergeZoneMaps]] with no rescan (MaintenanceSpec pins both
  * claims: merged-slices ≡ rebuild, before ≡ after).
  *
  * The streaming stores do not use this swap: their compaction is a
  * commit in the store's log ([[graft.streaming.SliceStore.compact]],
  * [[graft.streaming.StoreLog]]) that folds the whole snapshot, safe
  * against a concurrent appender and against any later replay (the log
  * commits each stream batch once).
  *
  * Crash matrix of the directory swap (the parked original is never
  * deleted before the compacted copy is live):
  *   1. crash while writing `<path>.__compact_tmp` → original table
  *      untouched; rerun overwrites the orphan tmp;
  *   2. crash after `path → <path>.__compact_old`, before
  *      `tmp → path` → no live table, but BOTH complete copies exist;
  *      [[recoverCompaction]] restores the ORIGINAL (conservative:
  *      compaction is idempotent, redo beats trusting a maybe-torn
  *      rewrite);
  *   3. crash before the final old-dir delete → live table is the
  *      compacted one; [[recoverCompaction]] just clears the leftover.
  */
object Maintenance {

  /** (file count, total bytes) of a table directory's data files —
    * driver-side, one listing call. */
  def fileStats(spark: SparkSession, path: String): (Int, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = dataFiles(fs, p)
    (files.length, files.map(_.getLen).sum)
  }

  private def dataFiles(fs: FileSystem, p: Path) =
    fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Compaction outcome: file/byte counts either side of the swap. */
  final case class CompactionResult(filesBefore: Int, bytesBefore: Long,
                                    filesAfter: Int, bytesAfter: Long)

  /** Bin-pack the parquet table at `path` to ≈`targetBytes` per file.
    *
    * Target file count = ⌈bytes/targetBytes⌉ (≥1). With `sortCols`
    * empty the rewrite COALESCES — no shuffle, each output file is a
    * concatenation of input splits (the cheap path for an unclustered
    * staging table). With `sortCols` (e.g. the z-value column of a
    * [[Layout.clusterByZ]] table) it range-partitions and sorts on
    * them, so the compacted table keeps (re-gains) its clustering and
    * zone-map pruning power — that one exchange is the price of the
    * layout, exactly as in the original cluster write.
    *
    * No-op short-circuit: a table already at or under the target count
    * is left byte-identical (`filesAfter == filesBefore`), because a
    * rewrite that changes nothing still invalidates file-level caches
    * downstream.
    */
  def compactTable(spark: SparkSession, path: String, targetBytes: Long,
                   sortCols: Seq[Column] = Nil): CompactionResult = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(spark, path)
    val before = dataFiles(fs, p)
    // a PARTITIONED root has no top-level data files — a silent no-op
    // here would read as "already compact" while every partition keeps
    // its small files; route to the per-partition entry point instead
    if (before.isEmpty &&
        fs.listStatus(p).exists(st => st.isDirectory &&
          st.getPath.getName.contains("=")))
      throw new IllegalArgumentException(
        s"$path is a partitioned table root (k=v subdirectories, no " +
          "top-level data files) — use compactPartitioned")
    val bytesBefore = before.map(_.getLen).sum
    val targetFiles =
      math.max(1L, (bytesBefore + targetBytes - 1) / targetBytes).toInt
    if (before.length <= targetFiles)
      return CompactionResult(before.length, bytesBefore,
        before.length, bytesBefore)
    val tmp = new Path(path + ".__compact_tmp")
    val old = new Path(path + ".__compact_old")
    packedFrame(spark.read.parquet(path), targetFiles, sortCols)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // two-phase swap: the original is PARKED, never deleted before the
    // compacted copy is live (crash matrix in the object scaladoc)
    require(fs.rename(p, old), s"could not park $p")
    require(fs.rename(tmp, p), s"could not promote $tmp")
    fs.delete(old, true)
    val after = dataFiles(fs, p)
    CompactionResult(before.length, bytesBefore,
      after.length, after.map(_.getLen).sum)
  }

  /** The rewrite plan of [[compactTable]], exposed for plan audits:
    * coalesce (NO exchange — each output file concatenates input
    * splits) or one range exchange + sort when preserving a layout.
    */
  private[graft] def packedFrame(df: org.apache.spark.sql.DataFrame,
                                 targetFiles: Int,
                                 sortCols: Seq[Column]): org.apache.spark.sql.DataFrame =
    if (sortCols.isEmpty) df.coalesce(targetFiles)
    else df.repartitionByRange(targetFiles, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)

  /** [[compactTable]] for a PARTITIONED staging table (`path/k=v/...`
    * subdirectories — the reference's date-partitioned append layout,
    * which is exactly where small files accrete: one slice per
    * calendar batch per partition). Each leaf partition directory is
    * bin-packed INDEPENDENTLY with its own two-phase swap, so a crash
    * mid-run leaves every partition either fully compacted or fully
    * original (and [[recoverCompaction]]-repairable) — never a
    * half-swapped table; this is also why the loop is a driver loop
    * over partition names (dimension-bounded metadata, like the
    * listing itself) while all data movement stays in Spark jobs.
    * Typically only RECENT partitions need work — pass `partitionFilter`
    * to skip the already-compacted history (at 100 TB you'd never
    * relist a year of cold partitions every night).
    * Returns per-partition results, keyed by the partition dir name.
    */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetBytes: Long,
                         sortCols: Seq[Column] = Nil,
                         partitionFilter: String => Boolean = _ => true)
      : Map[String, CompactionResult] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter { st =>
      st.isDirectory && st.getPath.getName.contains("=") &&
        !st.getPath.getName.startsWith(".")
    }.map(_.getPath.getName).sorted
    val selectedParts = parts.filter(partitionFilter).toSeq
    // compaction preserves rows but rewrites files: snapshot each
    // bucket's listing first, refresh the per-bucket file fingerprints
    // in <path>.__zonemap (if kept) after, so the next metadata attach
    // doesn't read the rewrite as an out-of-band append — a bucket
    // whose fingerprint was ALREADY stale going in keeps it (the
    // tripwire must still fire on the folded-in rows)
    val snapshot = graft.plans.ZoneMapPruning.fingerprintSnapshot(spark,
      path, selectedParts)
    val results = selectedParts.map { part =>
      part -> compactTable(spark, new Path(p, part).toString, targetBytes,
        sortCols)
    }.toMap
    // the refresh is best-effort bookkeeping on top of a compaction
    // that already succeeded: a failure here (e.g. the in-JVM
    // re-attach finding ANOTHER bucket stale and detaching) must not
    // discard the CompactionResults — correctness is already preserved
    // by the detach/loud-attach machinery, and a wedged fingerprint is
    // healable via ZoneMapPruning.rederiveBucket
    // each partition's CompactionResult is the compactor's own output
    // accounting — refreshFileFingerprints only blesses a fresh listing
    // that AGREES with it (an out-of-band append racing the refresh
    // keeps the stale fingerprint; see its scaladoc)
    val expected = results.map { case (part, r) =>
      part -> graft.plans.ZoneMapPruning.FileFingerprint(
        r.filesAfter.toLong, r.bytesAfter, digest = None)
    }
    try graft.plans.ZoneMapPruning.refreshFileFingerprints(spark, path,
      selectedParts, snapshot, expected)
    catch { case e: Exception =>
      System.err.println(s"[compactPartitioned] zone-map fingerprint " +
        s"refresh failed for $path (compaction results are intact; " +
        s"repair via ZoneMapPruning.rederiveBucket): ${e.getMessage}")
    }
    results
  }

  /** Repair an interrupted [[compactTable]] swap. Restores the parked
    * original when the live directory is missing (crash window 2 —
    * conservative: prefer the source of truth, redo the compaction),
    * and clears tmp/old leftovers when the live directory exists
    * (windows 1 and 3). Idempotent; called automatically at the top of
    * every [[compactTable]].
    */
  def recoverCompaction(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".__compact_tmp")
    val old = new Path(path + ".__compact_old")
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p), s"could not restore parked table $old")
    if (fs.exists(p)) {
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (fs.exists(old)) fs.delete(old, true)
    }
  }
}
