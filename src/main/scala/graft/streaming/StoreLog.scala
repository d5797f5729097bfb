package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.graftbridge.StoreFileIndex

/** One data file of a store version: its path relative to the store
  * root (`<tag>.part-….parquet`, `list_id=3/<tag>.part-…`,
  * `gen-…/<tag>.part-…`), its length and its modification time, so a
  * read needs no listing. */
final case class StoreFile(path: String, size: Long, modificationTime: Long)

/** One committed version: the WHOLE live file set (not a delta — a read
  * is one `getLatest`, with no replay) and, per writer id, the last batch
  * that writer committed (carried forward from the version before). */
final case class StoreVersion(files: Seq[StoreFile], txns: Map[String, Long])

/** A writer's transaction: batch `batchId` of writer `appId` (Delta
  * Lake's `txn` action). A stream writer's id is its streaming query id
  * ([[Txn.ofStream]]); a direct caller names its own. The id names the
  * files the transaction stages, so it is limited to letters, digits,
  * `-` and `_`, and cannot start with `_` (a name Spark's reads skip). */
final case class Txn(appId: String, batchId: Long) {
  require(appId.matches("[A-Za-z0-9-][A-Za-z0-9_-]*"),
    s"a writer id is [A-Za-z0-9_-]+ and does not start with _: '$appId'")

  /** The name prefix of every file this transaction stages. */
  def tag: String = s"$appId.$batchId"
}

object Txn {

  /** The transaction of a `foreachBatch` call. Spark sets the streaming
    * query id as the `sql.streaming.queryId` local property of the thread
    * that runs the batch; the id lives in the checkpoint, so it survives a
    * restart from the same checkpoint (whose replayed batch then commits
    * nothing) and changes under a fresh one (whose batch ids restart at 0
    * as a new writer). */
  def ofStream(spark: SparkSession, batchId: Long): Txn =
    Txn(Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse(throw new IllegalStateException(
        "no streaming query id on this thread: call from foreachBatch")),
      batchId)
}

/** The commit log under a store's `_log/` directory — the one crash and
  * replay protocol of the slice stores ([[SliceStore]]), the CDC store
  * ([[Streams.cdcMergeStream]]) and the signature store
  * ([[Streams.incrementalDedupStream]]); the table-format design of
  * Delta Lake (VLDB 2020) reduced to what these stores use. Spark's
  * directory reads skip `_`-prefixed names, so the log and the
  * `_staging/` area are invisible to a plain read of the root.
  *
  *   - Exactly once per transaction: a version records, per writer id,
  *     the last batch that writer committed, and a commit under a
  *     [[Txn]] at or below that batch commits nothing. `foreachBatch` is
  *     at-least-once — a batch that crashed after its commit replays
  *     under the same query id and batch id — so this one rule makes
  *     every store's replay a no-op, whatever its merge.
  *   - Versions are Spark's [[HDFSMetadataLog]]: one file per version,
  *     written through `CheckpointFileManager.createAtomic`, and `add`
  *     refuses a version that already exists. A writer whose commit
  *     loses that race re-reads the latest version and retries with the
  *     file set rebuilt from it, so a compaction (which removes only
  *     files of its own snapshot) never drops a concurrent append.
  *   - A writer stages its data files under `_staging/`, moves them to
  *     their place under the root, named after its transaction, then
  *     commits the version naming them. A crash before the version
  *     leaves files no version names: every read ignores them, and the
  *     transaction's replay deletes them before it stages again. No
  *     other writer owns them: Spark runs one active run per query id,
  *     and a batch replays only after its earlier attempt died. Files of
  *     an attempt that never replays (a stream restarted under a fresh
  *     checkpoint, a direct caller that gives up, a torn compaction)
  *     stay on disk, unread by every view.
  *   - A file a version removed is deleted only after a LATER version
  *     commits (versions older than the newest `retain` are purged, with
  *     the files only they named). A view resolved just before a
  *     concurrent commit therefore keeps every file it reads; a crash
  *     between a commit and its deletions leaves the old versions in the
  *     log, and the next commit deletes what they alone named.
  *   - A root that holds data files but no log fails loudly: no writer
  *     bootstraps an empty store over data it cannot account for.
  */
final class StoreLog(spark: SparkSession, root: String) {
  private val rootPath = new Path(root)
  private val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val qualifiedRoot = fs.makeQualified(rootPath)
  private val logPath = new Path(rootPath, "_log")

  // HDFSMetadataLog creates its directory: open it only to write, or
  // when it already exists
  private def log = new HDFSMetadataLog[StoreVersion](spark, logPath.toString)

  /** The newest committed version; None for a store nothing committed
    * to yet. Fails when the root holds data files but no log. */
  def latest(): Option[(Long, StoreVersion)] =
    if (fs.exists(logPath)) log.getLatest()
    else {
      val data = if (fs.exists(rootPath)) StoreLog.dataFiles(fs, rootPath) else Nil
      require(data.isEmpty,
        s"store $root holds data files (${data.take(3).map(_.getPath.getName)
          .mkString(", ")}…) but no _log — refusing to treat it as empty")
      None
    }

  /** Every retained version, oldest first. */
  def versions(): Seq[(Long, StoreVersion)] =
    if (fs.exists(logPath)) log.get(None, None).toSeq else Nil

  /** One root read of `files` (relative to `under`, itself relative to
    * the root; "" for the root): the file set is served as the root's
    * listing, never passed as explicit paths. */
  def read(files: Seq[StoreFile], under: String = ""): DataFrame = {
    val base = if (under.isEmpty) qualifiedRoot else new Path(qualifiedRoot, under)
    val blockSize = fs.getDefaultBlockSize(rootPath)
    StoreFileIndex.read(spark, base, files.map { f =>
      new FileStatus(f.size, false, 1, blockSize, f.modificationTime,
        new Path(qualifiedRoot, f.path))
    })
  }

  /** Write `df` (parquet, partitioned by `partitionColumn` if given) to a
    * fresh staging directory and move its data files under `dir`
    * (relative to the root; "" for the root itself), keeping their
    * `k=v` paths and prefixing each file name with `tag`. Returns the
    * moved files; no version names them yet. The log directory exists
    * from here on, so a store whose first commit crashed reads as empty.
    */
  def stage(df: DataFrame, tag: String, partitionColumn: Option[String] = None,
            dir: String = ""): Seq[StoreFile] = {
    latest() // fails on data without a log, before any file lands
    fs.mkdirs(logPath)
    val staging = new Path(rootPath,
      s"_staging/${java.util.UUID.randomUUID().toString.take(13)}")
    val w = df.write
    partitionColumn.fold(w)(w.partitionBy(_)).parquet(staging.toString)
    val stagingUri = fs.makeQualified(staging).toUri.getPath
    val moved = StoreLog.dataFiles(fs, staging).map { st =>
      val partitionDirs = st.getPath.toUri.getPath
        .stripPrefix(stagingUri + "/").split('/').init
      val rel = (Option(dir).filter(_.nonEmpty).toSeq ++ partitionDirs :+
        s"$tag.${st.getPath.getName}").mkString("/")
      val dest = new Path(rootPath, rel)
      fs.mkdirs(dest.getParent)
      require(fs.rename(st.getPath, dest), s"could not move ${st.getPath} to $dest")
      StoreFile(rel, st.getLen, st.getModificationTime)
    }
    fs.delete(staging, true)
    moved
  }

  /** Stage `df` under `txn` and commit a version that adds its files —
    * nothing at all when the writer already committed this batch. */
  def append(df: DataFrame, txn: Txn, partitionColumn: Option[String] = None): Unit =
    if (!StoreLog.committed(latest(), txn)) {
      sweep(txn)
      val added = stage(df, txn.tag, partitionColumn)
      commit(Some(txn))(StoreLog.files(_) ++ added)
    }

  /** Commit the next version: `next` gets the latest committed version
    * and returns the new live file set. Under a `txn` its writer already
    * committed (this batch or a later one), nothing is committed: `next`
    * does not run and the files staged under the transaction are
    * deleted. A commit with no `txn` (a compaction) carries the writer
    * table forward unchanged. When another writer commits first, the
    * attempt runs again on that version. After the commit, versions
    * older than the newest `retain` are purged and the files only they
    * named are deleted. Returns the committed version, or the latest
    * one when nothing was committed.
    */
  def commit(txn: Option[Txn], retain: Int = 2)
            (next: Option[(Long, StoreVersion)] => Seq[StoreFile])
      : Option[(Long, StoreVersion)] = {
    require(retain >= 2, s"a store log retains at least 2 versions, got $retain")
    @annotation.tailrec
    def attempt(): Option[(Long, StoreVersion)] = {
      val current = latest()
      if (txn.exists(StoreLog.committed(current, _))) {
        txn.foreach(sweep)
        current
      } else {
        val v = current.fold(0L)(_._1 + 1)
        val txns = current.fold(Map.empty[String, Long])(_._2.txns)
        val version = StoreVersion(next(current),
          txn.fold(txns)(t => txns + (t.appId -> t.batchId)))
        val won =
          try log.add(v, version)
          catch { case _: java.util.ConcurrentModificationException |
                       _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
        if (won) { vacuum(v, retain); Some(v -> version) } else attempt()
      }
    }
    attempt()
  }

  /** Delete the data files staged under `txn` that no retained version
    * names: what a crashed attempt of the same transaction left. A
    * transactional writer calls it before it stages; it lists the root
    * and each directory under it (one listing per `list_id=k/` of a
    * partitioned store). A compaction's tag is fresh, so it skips this. */
  def sweep(txn: Txn): Unit = if (fs.exists(rootPath)) {
    val base = qualifiedRoot.toUri.getPath
    val mine = StoreLog.dataFiles(fs, rootPath)
      .filter(_.getPath.getName.startsWith(txn.tag + "."))
      .map(_.getPath.toUri.getPath.stripPrefix(base + "/"))
    if (mine.nonEmpty) deleteUnnamed(mine.toSet)
  }

  /** Delete `staged` files that no retained version names: what a
    * commit that threw (a refused compaction) staged for itself. */
  def discard(staged: Seq[StoreFile]): Unit = deleteUnnamed(staged.map(_.path).toSet)

  private def deleteUnnamed(rel: Set[String]): Unit =
    deleteFiles(rel -- versions().flatMap(_._2.files.map(_.path)))

  /** Purge versions older than the newest `retain` (`newest` and the
    * ones before it), deleting the files only they named. */
  private def vacuum(newest: Long, retain: Int): Unit = {
    val keepFrom = newest - retain + 1
    val (old, kept) = versions().partition(_._1 < keepFrom)
    if (old.nonEmpty) {
      val live = kept.flatMap(_._2.files.map(_.path)).toSet
      deleteFiles(old.flatMap(_._2.files.map(_.path)).toSet -- live)
      log.purge(keepFrom)
    }
  }

  /** Delete `rel` files, then each parent directory (below the root)
    * they left empty. The directory delete is non-recursive, so one a
    * concurrent writer has meanwhile moved a file into stays. */
  private def deleteFiles(rel: Set[String]): Unit = {
    val paths = rel.toSeq.map(new Path(rootPath, _))
    paths.foreach(fs.delete(_, false))
    paths.map(_.getParent).distinct.filter(fs.makeQualified(_) != qualifiedRoot)
      .foreach(d => try fs.delete(d, false) catch { case _: java.io.IOException => })
  }
}

object StoreLog {

  /** The live file set of a version; none before the first commit. */
  def files(v: Option[(Long, StoreVersion)]): Seq[StoreFile] =
    v.fold(Seq.empty[StoreFile])(_._2.files)

  /** Whether `txn`'s writer committed its batch, or a later one, by `v`. */
  def committed(v: Option[(Long, StoreVersion)], txn: Txn): Boolean =
    v.exists(_._2.txns.get(txn.appId).exists(_ >= txn.batchId))

  /** Data files under `dir` and one directory level down (`k=v` and
    * generation directories), skipping `_`- and `.`-prefixed names. */
  def dataFiles(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[FileStatus] = {
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val top = fs.listStatus(dir).toSeq.filter(visible)
    top.filter(_.isFile) ++ top.filter(_.isDirectory)
      .flatMap(d => fs.listStatus(d.getPath).toSeq.filter(st => st.isFile && visible(st)))
  }
}
