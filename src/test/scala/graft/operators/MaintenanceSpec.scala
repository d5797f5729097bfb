package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.streaming.{SliceStore, Txn}

class MaintenanceSpec extends SparkTestBase {
  import graft.TestSpark.spark
  import graft.TestSpark.spark.implicits._

  private def stage(n: Int, files: Int): String = {
    val dir = tempDir("compact_stage").toString
    (0 until n).map(i => (i.toLong, i % 40L, (i * 7) % 30L, s"row$i"))
      .toDF("id", "x", "y", "payload")
      .repartition(files)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("compaction bin-packs many small files into few, preserving " +
      "every row byte-for-byte") {
    val dir = stage(n = 5000, files = 32)
    val before = spark.read.parquet(dir).collect().toSet
    val (fb, _) = Maintenance.fileStats(spark, dir)
    assert(fb == 32)
    val r = Maintenance.compactTable(spark, dir, targetBytes = 1L << 26)
    assert(r.filesBefore == 32 && r.filesAfter == 1, r.toString)
    val after = spark.read.parquet(dir).collect().toSet
    assert(after == before)
    // no stray swap dirs remain
    assert(!new java.io.File(dir + ".__compact_tmp").exists())
    assert(!new java.io.File(dir + ".__compact_old").exists())
  }

  test("a table already at the target count is left untouched " +
      "(no pointless rewrite)") {
    val dir = stage(n = 100, files = 2)
    // 2 files of a 100-row table are under any sane byte target -> the
    // target count would be 1 and 2 > 1 WOULD compact; a 1-byte target
    // makes targetFiles >= the current count, the no-op case
    val listing = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    val r = Maintenance.compactTable(spark, dir, targetBytes = 1L)
    assert(r.filesBefore == 2 && r.filesAfter == 2, r.toString)
    val listing2 = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(listing2 == listing, "no-op must leave the files untouched")
  }

  test("sorted compaction preserves z-order clustering and the zone map " +
      "is invariant (merged pre-compaction slices stay exact, no rescan)") {
    val dir = tempDir("compact_z").toString
    val df = (0 until 4000)
      .map(i => (i.toLong, (i * 31) % 997L, (i * 17) % 983L))
      .toDF("id", "x", "y")
    val nx = Layout.normalize16(col("x"), 996L)
    val ny = Layout.normalize16(col("y"), 982L)
    Layout.clusterByZ(df, nx, ny, numPartitions = 16)
      .write.mode("overwrite").parquet(dir)
    val zmBefore = Layout.zoneMap(spark.read.parquet(dir), nx, ny, 6)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // per-slice maps an ingest would have appended (2 halves)
    val t = spark.read.parquet(dir)
    val slices = Layout.mergeZoneMaps(
      Layout.zoneMap(t.where(col("id") % 2 === 0), nx, ny, 6),
      Layout.zoneMap(t.where(col("id") % 2 === 1), nx, ny, 6))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val r = Maintenance.compactTable(spark, dir, targetBytes = 1L << 26,
      sortCols = Seq(Layout.zValue(nx, ny)))
    assert(r.filesAfter < r.filesBefore, r.toString)
    // zone map is a function of the data: identical after the rewrite,
    // and the pre-compaction per-slice merge still serves it exactly
    val zmAfter = Layout.zoneMap(spark.read.parquet(dir), nx, ny, 6)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(zmAfter == zmBefore)
    assert(slices == zmAfter)
    // clustering survived: within the single output file the z-values
    // are non-decreasing
    val zs = spark.read.parquet(dir).select(Layout.zValue(nx, ny))
      .collect().map(_.getLong(0)).toSeq
    assert(zs == zs.sorted, "sorted compaction must keep the z order")
  }

  test("partitioned compaction bin-packs each date partition " +
      "independently, honors the partition filter, and preserves rows") {
    val dir = tempDir("compact_part").toString
    (0 until 3000).map(i => (i.toLong, s"2026-08-${10 + i % 3}", s"p$i"))
      .toDF("id", "load_date", "payload")
      .repartition(8)
      .write.partitionBy("load_date").mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).collect().toSet
    // compact only two of the three partitions (the recent-days filter
    // a nightly job would pass)
    val results = Maintenance.compactPartitioned(spark, dir,
      targetBytes = 1L << 26,
      partitionFilter = p => p >= "load_date=2026-08-11")
    assert(results.keySet ==
      Set("load_date=2026-08-11", "load_date=2026-08-12"), results.toString)
    results.values.foreach { r =>
      assert(r.filesBefore == 8 && r.filesAfter == 1, r.toString)
    }
    // the filtered-out partition keeps its small files
    val (f10, _) = Maintenance.fileStats(spark, s"$dir/load_date=2026-08-10")
    assert(f10 == 8)
    assert(spark.read.parquet(dir).collect().toSet == before)
    // pointing the FLAT compactor at a partitioned root is an error,
    // not a silent "already compact" no-op
    val e = intercept[IllegalArgumentException] {
      Maintenance.compactTable(spark, dir, targetBytes = 1L << 26)
    }
    assert(e.getMessage.contains("compactPartitioned"), e.getMessage)
  }

  test("interrupted swap recovers: a parked original is restored, " +
      "stale leftovers are cleared") {
    val dir = stage(n = 500, files = 4)
    val before = spark.read.parquet(dir).collect().toSet
    // crash window 2: live dir gone, original parked
    val f = new java.io.File(dir)
    val old = new java.io.File(dir + ".__compact_old")
    assert(f.renameTo(old))
    Maintenance.recoverCompaction(spark, dir)
    assert(f.exists() && !old.exists())
    assert(spark.read.parquet(dir).collect().toSet == before)
    // crash window 1/3: live dir present, orphan tmp left behind
    val tmp = new java.io.File(dir + ".__compact_tmp")
    assert(tmp.mkdirs())
    val r = Maintenance.compactTable(spark, dir, targetBytes = 1L << 26)
    assert(r.filesAfter == 1 && !tmp.exists())
    assert(spark.read.parquet(dir).collect().toSet == before)
  }

  test("compactBloomStore folds slices; the served index is unchanged " +
    "and post-compaction replays stay harmless") {
    import org.apache.spark.sql.functions.col
    import graft.operators.BloomIndex
    val store = tempDir("bloom_cstore").toString
    // three "batches" appended separately -> three slice files
    val batches = Seq(
      (0 until 60).map(i => (i / 30L, i.toLong)),
      (60 until 120).map(i => (i / 30L, i.toLong)),
      (120 until 150).map(i => (i / 30L, i.toLong)))
    batches.zipWithIndex.foreach { case (b, i) =>
      SliceStore.Bloom.append(BloomIndex.build(b.toDF("chunk", "key"),
        col("chunk"), col("key"), 3, 1024), Txn("w", i.toLong), store)
    }
    def served = SliceStore.Bloom.view(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val before = served
    val r = SliceStore.Bloom.compact(spark, store)
    assert(r.filesAfter < r.filesBefore, r.toString)
    assert(served == before, "compaction changed the served index")
    // a batch replayed AFTER compaction commits nothing
    SliceStore.Bloom.append(BloomIndex.build(batches(1).toDF("chunk", "key"),
      col("chunk"), col("key"), 3, 1024), Txn("w", 1L), store)
    assert(served == before, "post-compaction replay changed the index")
  }

  test("compactCountStore folds committed batches and keeps the tail " +
    "appendable") {
    import org.apache.spark.sql.functions.col
    val store = tempDir("count_cstore").toString
    def append(batch: Long, rows: Seq[(String, Int)]): Unit =
      SliceStore.Count.append(graft.operators.Anomaly.countSeries(
        rows.toDF("g", "b"), col("g"), col("b")), Txn("w", batch), store)
    append(0, (1 to 5).flatMap(b => Seq.fill(4)(("a", b))))
    append(1, Seq.fill(6)(("a", 6)) ++ Seq.fill(2)(("a", 2)))   // late b=2
    append(2, Seq.fill(3)(("a", 7)))
    def snap = SliceStore.Count.view(spark, store)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val before = snap
    val r = SliceStore.Count.compact(spark, store)
    assert(r.filesAfter < r.filesBefore, r.toString)
    assert(snap == before, "compaction changed the served counts")
    assert(before(("a", 2)) == 6L, "late partial must stay folded in")
    // the stream keeps appending; a replay of the LAST batch (the only
    // one the checkpoint can replay) commits nothing after compaction
    append(2, Seq.fill(3)(("a", 7)))
    assert(snap == before, "replay of the tail batch double-counted")
    append(3, Seq.fill(2)(("a", 8)))
    assert(snap(("a", 8)) == 2L)
  }

  test("compactIvfStore keeps the list-partitioned layout and probe " +
    "results intact; a replayed batch leaves no duplicates") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Ivf
    val store = tempDir("ivf_cstore").toString
    val vecs = (0L until 200L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat - 6f)))
      .toDF("vec_id", "embedding")
    val model = Ivf.fitDistributed(vecs, col("vec_id"), col("embedding"),
      nlist = 4)
    def append(batch: Long): Unit = SliceStore.Ivf.append(
      Ivf.assign(model, vecs, col("vec_id"), col("embedding")),
      Txn("w", batch), store)
    append(0)
    append(0) // a replay of batch 0: commits nothing
    val queries = vecs.where(col("vec_id") % 40 === 0)
    def probe = Ivf.topK(model,
        SliceStore.Ivf.view(spark, store), queries,
        col("vec_id"), col("embedding"), k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe
    val r = SliceStore.Ivf.compact(spark, store)
    assert(r.filesAfter < r.filesBefore, r.toString)
    assert(probe == before, "compaction changed probe results")
    // the live set, not the directory: the retired files stay on disk
    // until the next commit
    val rows = SliceStore.Ivf.view(spark, store)
    assert(rows.count() == 200L, "the replay must not have landed")
    assert(rows.select("list_id").distinct().count() > 1,
      "list partitioning must survive")
    // partition pruning still works on the compacted layout
    val pruned = rows.where(col("list_id") === 0)
      .queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters: [isnotnull(list_id"),
      pruned)
  }

  test("a slice appended DURING IVF store compaction survives — the " +
    "manifest protocol replaces the whole-directory swap") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Ivf
    val store = tempDir("ivf_concurrent").toString
    val vecs = (0L until 200L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat - 6f)))
      .toDF("vec_id", "embedding")
    val late = (200L until 240L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 17 + d * 5) % 13).toFloat - 6f)))
      .toDF("vec_id", "embedding")
    val model = Ivf.fitDistributed(vecs, col("vec_id"), col("embedding"),
      nlist = 4)
    def append(df: org.apache.spark.sql.DataFrame, batch: Long): Unit =
      SliceStore.Ivf.append(
        Ivf.assign(model, df, col("vec_id"), col("embedding")),
        Txn("w", batch), store)
    append(vecs, 0)
    append(vecs, 0) // a replay of batch 0: commits nothing
    // the tap runs after the snapshot is resolved — this append is a
    // live SliceStore.Ivf stream batch landing mid-compaction
    var appended = false
    val r = SliceStore.Ivf.compactWith(spark, store, { df =>
      if (!appended) { appended = true; append(late, 1) }
      df
    })
    // the live set is the fold (fewer files than the snapshot) plus the
    // concurrent batch's files, named after its transaction
    val live = new graft.streaming.StoreLog(spark, store).latest().get._2.files
    val (concurrent, fold) = live.partition(
      _.path.split('/').last.startsWith(Txn("w", 1L).tag + "."))
    assert(appended && concurrent.nonEmpty && fold.size < r.filesBefore &&
      r.filesAfter == live.size, (r, live))
    val rows = SliceStore.Ivf.view(spark, store)
    assert(rows.where(col("vec_id") < 200L).count() == 200L,
      "snapshot rows appear exactly once")
    assert(rows.where(col("vec_id") >= 200L).count() == 40L,
      "the concurrently appended slice must survive the compaction")
    // probes see every vector
    val probe = Ivf.topK(model,
        SliceStore.Ivf.view(spark, store),
        late.where(col("vec_id") % 20 === 0),
        col("vec_id"), col("embedding"), k = 3, nprobe = 4)
      .collect()
    assert(probe.nonEmpty)
  }

  test("a torn IVF store compaction (fold written into the list " +
    "directories, no version) serves the pre-crash index; a re-run commits") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Ivf
    val store = tempDir("ivf_torn").toString
    val vecs = (0L until 120L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat - 6f)))
      .toDF("vec_id", "embedding")
    val model = Ivf.fitDistributed(vecs, col("vec_id"), col("embedding"),
      nlist = 4)
    SliceStore.Ivf.append(
      Ivf.assign(model, vecs, col("vec_id"), col("embedding")),
      Txn("w", 0L), store)
    def probe = Ivf.topK(model,
        SliceStore.Ivf.view(spark, store),
        vecs.where(col("vec_id") % 30 === 0),
        col("vec_id"), col("embedding"), k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe
    // crash before the commit: the fold's files sit in the list_id=N
    // directories beside the originals, and no version names them
    SliceStore.Ivf.compact(spark, store)
    tearNewestVersion(store)
    assert(new java.io.File(store).listFiles().count(d => d.isDirectory &&
      d.getName.startsWith("list_id=") && d.listFiles().count(f =>
        f.getName.endsWith(".parquet")) > 1) > 1,
      "fixture: orphan fold files beside the originals")
    assert(probe == before, "view must serve the pre-crash index")
    assert(SliceStore.Ivf.view(spark, store).count() == 120L)
    val r = SliceStore.Ivf.compact(spark, store)
    assert(r.filesAfter >= 1 && probe == before, r.toString)
    assert(SliceStore.Ivf.view(spark, store).count() == 120L)
  }

  /** A crash between writing a version's data files and committing
    * it: drop the newest version file of the store's log. */
  private def tearNewestVersion(store: String): Unit = {
    val v = new graft.streaming.StoreLog(spark, store).latest().get._1
    assert(new java.io.File(store, s"_log/$v").delete())
    new java.io.File(store, s"_log/.$v.crc").delete()
  }

  test("compactCardinalityStore keeps estimates and row counts; " +
    "n_slices drops to the physical truth") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Cardinality
    val store = tempDir("card_cstore").toString
    def append(batch: Long, rows: Seq[(String, String)]): Unit =
      SliceStore.Cardinality.append(Cardinality.sliceSketches(
          rows.toDF("g", "v"), org.apache.spark.sql.functions.lit(batch),
          col("g"), col("v"), lgK = 12).drop("slice"), Txn("w", batch), store)
    append(0, (0 until 200).map(i => (s"g${i % 2}", s"v${i % 30}")))
    append(1, (0 until 150).map(i => (s"g${i % 2}", s"v${i % 50}")))
    append(2, (0 until 80).map(i => (s"g${i % 2}", s"v${i % 10}")))
    def snap = SliceStore.Cardinality.view(spark, store)
      .collect().map(r => r.getAs[String]("group") ->
        (r.getAs[Long]("n_distinct"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("n_slices"))).toMap
    val before = snap
    val r = SliceStore.Cardinality.compact(spark, store)
    assert(r.filesAfter < r.filesBefore, r.toString)
    val after = snap
    after.foreach { case (g, (est, n, slices)) =>
      assert(est == before(g)._1, s"estimate moved for $g")
      assert(n == before(g)._2, s"row count moved for $g")
      assert(slices == 1L, s"expected 1 folded slice for $g")
    }
    // a replay of the last batch commits nothing
    append(2, (0 until 80).map(i => (s"g${i % 2}", s"v${i % 10}")))
    snap.foreach { case (g, (est, n, _)) =>
      assert(est == before(g)._1 && n == before(g)._2,
        s"tail replay changed the view for $g")
    }
  }

  test("a slice appended DURING store compaction survives the swap " +
    "and is served afterwards (snapshot protocol vs concurrent writer)") {
    import org.apache.spark.sql.functions.col
    val store = tempDir("concurrent_cstore").toString
    def append(batch: Long, rows: Seq[(String, Int)]): Unit =
      SliceStore.Count.append(graft.operators.Anomaly.countSeries(
        rows.toDF("g", "b"), col("g"), col("b")), Txn("w", batch), store)
    append(0, Seq.fill(4)(("a", 1)))
    append(1, Seq.fill(6)(("a", 2)))
    def snap = SliceStore.Count.view(spark, store)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // the tap runs AFTER the snapshot is resolved — appending a new
    // slice from inside it is exactly a concurrent foreachBatch landing
    // mid-compaction
    var appended = false
    val r = SliceStore.Count.compactWith(spark, store, { df =>
      if (!appended) { appended = true; append(2, Seq.fill(3)(("a", 3))) }
      df
    })
    assert(appended && r.filesAfter >= 1, r.toString)
    val after = snap
    assert(after(("a", 1)) == 4L && after(("a", 2)) == 6L,
      "folded history must be served")
    assert(after(("a", 3)) == 3L,
      "the concurrently appended slice must survive the compaction swap")
  }

  test("a torn store compaction (fold written, no version committed) " +
    "serves the pre-compaction rows; the next compaction commits") {
    import org.apache.spark.sql.functions.col
    val store = tempDir("rollback_cstore").toString
    def append(batch: Long, rows: Seq[(String, Int)]): Unit =
      SliceStore.Count.append(graft.operators.Anomaly.countSeries(
        rows.toDF("g", "b"), col("g"), col("b")), Txn("w", batch), store)
    append(0, Seq.fill(4)(("a", 1)))
    append(1, Seq.fill(6)(("a", 2)))
    def snap = SliceStore.Count.view(spark, store)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val before = snap
    SliceStore.Count.compact(spark, store)
    tearNewestVersion(store)
    // the orphan fold double-counts both batches in a raw directory read;
    // the view reads the committed version only
    assert(spark.read.parquet(store).count() == 4L)
    assert(snap == before, "the view must ignore the uncommitted fold")
    val r = SliceStore.Count.compact(spark, store)
    assert(r.filesBefore == 2 && r.filesAfter == 1 && snap == before,
      r.toString)
  }

  test("a compaction refused because a concurrent compaction retired " +
    "part of its snapshot leaves no compact- file behind") {
    import org.apache.spark.sql.functions.col
    val store = tempDir("refused_cstore").toString
    def append(batch: Long, rows: Seq[(String, Int)]): Unit =
      SliceStore.Count.append(graft.operators.Anomaly.countSeries(
        rows.toDF("g", "b"), col("g"), col("b")), Txn("w", batch), store)
    def compactFiles = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("compact-")).toSet
    append(0, Seq.fill(4)(("a", 1)))
    append(1, Seq.fill(6)(("a", 2)))
    def snap = SliceStore.Count.view(spark, store)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val before = snap
    // the tap runs after the snapshot is resolved: a second compaction
    // that commits from inside it retires that snapshot
    var inner = false
    val e = intercept[IllegalArgumentException](
      SliceStore.Count.compactWith(spark, store, { df =>
        if (!inner) { inner = true; SliceStore.Count.compact(spark, store) }
        df
      }))
    assert(inner && e.getMessage.contains("retired part of"), e.getMessage)
    val live = new graft.streaming.StoreLog(spark, store).latest().get._2
      .files.map(_.path).filter(_.startsWith("compact-")).toSet
    assert(live.size == 1, live.toString)
    assert(compactFiles == live,
      s"the refused compaction left ${compactFiles -- live} on disk")
    assert(snap == before)
  }

  test("a store compaction that crashed after its commit, before " +
    "deleting the files it retired, serves the folded rows; the next " +
    "commit deletes them") {
    import org.apache.spark.sql.functions.col
    val store = tempDir("crashview_cstore").toString
    def append(batch: Long, rows: Seq[(String, Int)]): Unit =
      SliceStore.Count.append(graft.operators.Anomaly.countSeries(
        rows.toDF("g", "b"), col("g"), col("b")), Txn("w", batch), store)
    def dataFiles = new java.io.File(store).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    append(0, Seq.fill(4)(("a", 1)))
    append(1, Seq.fill(6)(("a", 2)))
    val originals = dataFiles
    SliceStore.Count.compact(spark, store)
    // the retired originals outlive the compaction's own commit (a view
    // resolved before it may still read them) ...
    assert(originals.subsetOf(dataFiles))
    def snap = SliceStore.Count.view(spark, store)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val folded = snap
    assert(folded == Map(("a", 1) -> 4L, ("a", 2) -> 6L), folded.toString)
    // ... and the next commit deletes them; a crash between that
    // commit and its deletions leaves every file and log version the
    // deletions would have removed
    val saved = new java.io.File(store + ".saved")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(store), saved)
    append(2, Seq.fill(3)(("a", 3)))
    org.apache.commons.io.FileUtils.copyDirectory(saved, new java.io.File(store))
    assert(originals.subsetOf(dataFiles), "fixture: the crash state")
    assert(snap == folded + (("a", 3) -> 3L),
      "the view serves the committed version, not the retired files")
    append(3, Seq.fill(2)(("a", 4)))
    assert(originals.intersect(dataFiles).isEmpty,
      s"retired files survived a later commit: ${originals & dataFiles}")
    assert(snap == folded + (("a", 3) -> 3L) + (("a", 4) -> 2L))
  }

  test("compactZoneStore folds boxes through the merge algebra") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Layout
    val store = tempDir("zone_cstore").toString
    val nx = Layout.normalize16(col("x"), 255L)
    val ny = Layout.normalize16(col("y"), 255L)
    def append(batch: Long, rows: Seq[(Long, Long)]): Unit =
      SliceStore.ZoneMap.append(Layout.zoneMap(rows.toDF("x", "y"), nx, ny, 4),
        Txn("w", batch), store)
    append(0, (0 until 200).map(i => ((i * 613L) % 256, (i * 389L) % 256)))
    append(1, (0 until 150).map(i => ((i * 97L) % 256, (i * 31L) % 256)))
    append(2, (0 until 50).map(i => ((i * 17L) % 256, (i * 11L) % 256)))
    def snap = SliceStore.ZoneMap.view(spark, store)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val before = snap
    val r = SliceStore.ZoneMap.compact(spark, store)
    assert(r.filesAfter < r.filesBefore, r.toString)
    assert(snap == before, "compaction changed the served zone map")
    // a replay of the last batch commits nothing
    append(2, (0 until 50).map(i => ((i * 17L) % 256, (i * 11L) % 256)))
    assert(snap == before, "replay of the tail batch changed the view")
  }
}
