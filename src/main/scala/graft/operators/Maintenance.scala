package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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
  * Crash matrix of the swap (same two-phase discipline as the CDC
  * store's pointer dance, Streams.scala):
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

  /** [[dataFiles]] one level down too — for `k=v`-partitioned roots,
    * where the top level holds only partition directories. */
  private def dataFilesRecursive(fs: FileSystem,
                                 p: Path): Array[org.apache.hadoop.fs.FileStatus] =
    dataFiles(fs, p) ++ fs.listStatus(p)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .flatMap(st => dataFiles(fs, st.getPath))

  /** `f`'s path relative to `root` — "part-x.parquet" for a flat
    * store, "list_id=3/part-x.parquet" one partition level down. The
    * manifest protocol stores these, so one recovery/read path serves
    * flat and `k=v`-partitioned stores alike. */
  private def relPath(root: Path, f: Path): String = {
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val fUri = f.toUri.getPath
    require(fUri.startsWith(rootUri + "/"), s"$f is not under $root")
    fUri.stripPrefix(rootUri + "/")
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

  /** Rewrite an append-only SLICE STORE through its own merge algebra
    * — the OPTIMIZE for the streaming stores, which grow one slice
    * per micro-batch forever. The caller supplies the fold;
    * [[graft.streaming.SliceStore.compact]] passes the store kind's
    * own replay collapse + merge, so served views are IDENTICAL before
    * and after by construction.
    *
    * Unlike [[compactTable]] (whole-directory swap, caller owns
    * quiescence), this is safe against a CONCURRENT APPENDER — the
    * live `foreachBatch` stream these stores exist for: the fold runs
    * over a SNAPSHOT of the file listing taken at entry, and only
    * those files are retired, so a slice appended mid-compaction is
    * never touched (the directory-rename protocol would have deleted
    * it with the old directory, and its no-directory window would
    * have broken the append itself). A fold with a `throughBatch`
    * contract composes: the snapshot bounds WHICH files fold, the
    * batch stamp bounds which ROWS collapse.
    *
    * `partitionColumn` names the `k=v` directory level of a
    * partitioned store (the IVF store's `list_id`): the snapshot, the
    * manifest entries and the park/promote renames all use paths
    * RELATIVE to the store root (`list_id=3/part-x`), the snapshot is
    * read under its `basePath` so the column survives, and the fold is
    * rewritten one file per partition, keeping the pruned layout. A
    * slice appended mid-compaction into a brand-new `k=v` directory is
    * never touched either. A flat store's fold is written as one file.
    *
    * Crash matrix (manifest = commit record; [[recoverStoreCompaction]]
    * repairs, and runs automatically at entry):
    *   1. crash while writing the fold to `<path>.__compact_tmp` → the
    *      store is untouched; recovery deletes the orphan tmp;
    *   2. crash after the manifest exists (while parking snapshot
    *      files into `<path>.__compact_parked` or promoting tmp files
    *      in) → recovery ROLLS BACK: the manifest lists exactly the
    *      folded file paths, so they are removed from the store,
    *      every parked original is restored, and the store is
    *      byte-identical to pre-compaction (originals are never
    *      deleted before cleanup, so rollback never loses a row);
    *   3. crash during cleanup (manifest already deleted) → the
    *      folded files are live; recovery just clears the redundant
    *      parked/tmp leftovers.
    * Readers: [[graft.streaming.SliceStore.view]] reads through
    * [[consistentStoreFiles]], which reconstructs the pre-compaction
    * file set whenever the manifest is present — so a compaction that
    * CRASHED mid-park/mid-promote does NOT leave the store partially
    * served until the next compact call runs recovery; the views keep
    * answering with the exact pre-compaction rows. A raw
    * `spark.read.parquet(path)` reader racing the live park/promote
    * window can still see a partial store for that window's duration.
    */
  def compactStore(spark: SparkSession, path: String,
                   fold: org.apache.spark.sql.DataFrame =>
                     org.apache.spark.sql.DataFrame,
                   partitionColumn: Option[String] = None): CompactionResult = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(spark, path)       // legacy whole-directory swaps
    recoverStoreCompaction(spark, path)  // manifest-protocol states
    val snapshot = dataFilesRecursive(fs, p) // appends after this survive
    val bytesBefore = snapshot.map(_.getLen).sum
    if (snapshot.isEmpty)
      return CompactionResult(0, 0L, 0, 0L)
    val tmp = new Path(path + ".__compact_tmp")
    val parked = new Path(path + ".__compact_parked")
    val manifest = new Path(path + ".__compact_manifest")
    val rewritten = fold(spark.read.option("basePath", path)
      .parquet(snapshot.map(_.getPath.toString).toIndexedSeq: _*))
    (partitionColumn match {
      case Some(c) =>
        rewritten.repartition(org.apache.spark.sql.functions.col(c))
          .write.partitionBy(c)
      case None => rewritten.coalesce(1).write
    }).mode(SaveMode.Overwrite).parquet(tmp.toString)
    val folded = dataFilesRecursive(fs, tmp)
    // the manifest (folded relative paths) is written BEFORE any
    // mutation of the store — from here until its deletion, recovery
    // rolls back
    val out = fs.create(manifest, true)
    try out.write(folded.map(f => relPath(tmp, f.getPath)).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    def move(files: Array[FileStatus], from: Path, to: Path, what: String) =
      files.foreach { f =>
        val dest = new Path(to, relPath(from, f.getPath))
        fs.mkdirs(dest.getParent)
        require(fs.rename(f.getPath, dest), s"could not $what ${f.getPath}")
      }
    move(snapshot, p, parked, "park")
    move(folded, tmp, p, "promote")
    // commit: deleting the manifest makes the promotion final
    fs.delete(manifest, false)
    fs.delete(parked, true)
    fs.delete(tmp, true)
    val after = dataFilesRecursive(fs, p)
    CompactionResult(snapshot.length, bytesBefore,
      after.length, after.map(_.getLen).sum)
  }

  /** READ-ONLY crash-consistent file listing for a [[compactStore]]
    * store, used by [[graft.streaming.SliceStore.view]] so a CRASHED
    * compaction never serves a partial store until someone explicitly
    * runs recovery: when the manifest is present (compaction in its
    * park/promote window, live or crashed), the pre-compaction state
    * is reconstructed WITHOUT mutating anything — store files minus
    * the manifest's folded names, plus the parked originals (deduped
    * by part-file name, parked copy preferred, since a file mid-rename
    * can momentarily list on both sides). Returns None when no
    * manifest exists — the caller reads the directory normally. A
    * reader racing a LIVE compaction's renames can still hit a moved
    * file (same tiny window as before); the guarantee added here is
    * that a compaction that CRASHED mid-protocol — previously a
    * partial view for an unbounded window until the next compact call
    * ran recovery — now serves the exact pre-compaction rows.
    */
  def consistentStoreFiles(spark: SparkSession,
                           path: String): Option[Seq[String]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new Path(path + ".__compact_manifest")
    if (!fs.exists(manifest)) return None
    // A LIVE compaction can commit (delete the manifest) between the
    // exists check above and any read below, and its parked/tmp dirs
    // vanish moments later — that is not a failure but the signal that
    // the store is consistent again: fall back to the plain directory
    // read (None) instead of surfacing a transient FileNotFound to the
    // serving view.
    try {
      val in = fs.open(manifest)
      val folded =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).split("\n")
          .map(_.trim).filter(_.nonEmpty).toSet
        finally in.close()
      val parked = new Path(path + ".__compact_parked")
      val live =
        if (fs.exists(p)) dataFilesRecursive(fs, p)
        else Array.empty[FileStatus]
      val parkedFiles =
        if (fs.exists(parked)) dataFilesRecursive(fs, parked)
        else Array.empty[FileStatus]
      val byRel = scala.collection.mutable.LinkedHashMap.empty[String, String]
      live.filterNot(f => folded.contains(relPath(p, f.getPath)))
        .foreach(f => byRel(relPath(p, f.getPath)) = f.getPath.toString)
      parkedFiles.foreach(f =>
        byRel(relPath(parked, f.getPath)) = f.getPath.toString)
      Some(byRel.values.toSeq)
    } catch {
      case _: java.io.FileNotFoundException => None
    }
  }

  /** Repair an interrupted [[compactStore]] (crash matrix in its
    * scaladoc): manifest present → roll back to the pre-compaction
    * store; manifest absent → clear tmp/parked leftovers. Idempotent;
    * called automatically at the top of every [[compactStore]].
    */
  def recoverStoreCompaction(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".__compact_tmp")
    val parked = new Path(path + ".__compact_parked")
    val manifest = new Path(path + ".__compact_manifest")
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val names =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).split("\n")
          .map(_.trim).filter(_.nonEmpty)
        finally in.close()
      // folded part-file names are job-unique UUIDs, so deleting by
      // (relative) name can never hit a restored original or a
      // concurrent slice
      names.foreach { n =>
        val f = new Path(p, n)
        if (fs.exists(f)) fs.delete(f, false)
      }
      if (fs.exists(parked)) dataFilesRecursive(fs, parked).foreach { f =>
        val dest = new Path(p, relPath(parked, f.getPath))
        fs.mkdirs(dest.getParent)
        require(fs.rename(f.getPath, dest),
          s"could not restore parked ${f.getPath}")
      }
      if (fs.exists(parked)) fs.delete(parked, true)
      if (fs.exists(tmp)) fs.delete(tmp, true)
      fs.delete(manifest, false) // last: re-enter rollback until done
    } else {
      if (fs.exists(parked)) fs.delete(parked, true)
      // tmp with no manifest is a pre-mutation orphan — but ONLY safe
      // to clear when the store exists (compactTable's recover owns
      // the directory-swap states)
      if (fs.exists(p) && fs.exists(tmp)) fs.delete(tmp, true)
    }
  }
}
