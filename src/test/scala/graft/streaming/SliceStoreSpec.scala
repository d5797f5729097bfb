package graft.streaming

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.operators.{Anomaly, BloomIndex, Cardinality, Cdc, Ivf, Layout}

/** The store commit log as a property, per store kind (the six slice
  * stores, the CDC store and the signature store): random sequences of
  * append, replayed append (the same slice re-appended under the same
  * transaction), a restart under a fresh checkpoint (a new writer id
  * whose batch ids start again at 0, with new rows), compaction and the
  * log's two crash points must leave the served view equal to the
  * batch recompute over every committed batch, after every step. The
  * crash points are built by hand:
  *   - Torn: a write's data files landed but its version did not (the
  *     newest version file is deleted after the commit); the view must
  *     ignore the orphans, and the stream's replay under the same
  *     transaction then commits it;
  *   - Unswept: a version committed but the files it retired were not
  *     yet deleted (every file the commit's clean-up deleted, data and
  *     log, is restored); the next commit must clean them up.
  */
class SliceStoreSpec extends SparkTestBase {
  import graft.TestSpark.spark.implicits._
  import SliceStoreSpec._

  private val steps: Gen[List[Step]] = Gen.listOfN(6, Gen.frequency(
    3 -> Gen.const(Append), 1 -> Gen.const(Replay), 1 -> Gen.const(Fresh),
    2 -> Gen.const(Compact), 2 -> Gen.const(Torn), 2 -> Gen.const(Unswept)))

  private def keyed(df: DataFrame, key: Int): Map[Any, Seq[Any]] =
    df.collect().map(r => r.get(key) -> r.toSeq).toMap

  private val xy: Gen[(Long, Long)] =
    Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L))

  private val bloom = Kind.slices[(Long, Long)](SliceStore.Bloom,
    _ => Gen.listOfN(40, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 500L))),
    _.toDF("chunk", "key"),
    BloomIndex.build(_, col("chunk"), col("key"), k = 3, mBits = 512),
    df => df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap,
    all => BloomIndex.build(all, col("chunk"), col("key"), 3, 512).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap)

  private val count = Kind.slices[(String, Int)](SliceStore.Count,
    _ => Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(1, 6))),
    _.toDF("g", "b"), Anomaly.countSeries(_, col("g"), col("b")),
    _.collect().map(_.toSeq).toSet,
    Anomaly.countSeries(_, col("g"), col("b")).collect().map(_.toSeq).toSet)

  private val cardinality = Kind.slices[(String, String)](SliceStore.Cardinality,
    _ => Gen.listOfN(40, Gen.zip(Gen.oneOf("g0", "g1"),
      Gen.choose(0, 60).map(i => s"v$i"))),
    _.toDF("g", "v"),
    Cardinality.sliceSketches(_, lit(0L), col("g"), col("v"), lgK = 12)
      .drop("slice"),
    view => view.collect().map(r => r.getAs[String]("group") ->
      (r.getAs[Long]("n_distinct"), r.getAs[Long]("n_rows"))).toMap,
    all => {
      val n = all.groupBy("g").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Cardinality.distinctEstimate(all, col("g"), col("v")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), n(r.getString(0)))).toMap
    })

  private val nx = Layout.normalize16(col("x"), 255L)
  private val ny = Layout.normalize16(col("y"), 255L)
  private val zoneMap = Kind.slices[(Long, Long)](SliceStore.ZoneMap,
    _ => Gen.listOfN(40, xy), _.toDF("x", "y"),
    Layout.zoneMap(_, nx, ny, bucketBits = 3),
    keyed(_, 0), all => keyed(Layout.zoneMap(all, nx, ny, 3), 0))

  private val zoneStats = Kind.slices[(Long, String)](SliceStore.ZoneStats,
    _ => Gen.listOfN(40, Gen.zip(Gen.choose(0L, 255L),
      Gen.choose(0, 999).map(i => f"s$i%03d"))),
    _.toDF("x", "s"),
    Layout.rawZoneMap(_, shiftright(col("x"), 5), Seq("x", "s")),
    keyed(_, 0),
    all => keyed(Layout.rawZoneMap(all, shiftright(col("x"), 5),
      Seq("x", "s")), 0))

  // IVF: a fixed model over three separated direction clusters; every
  // batch files fresh vec_ids (the store's unique-id contract)
  private def vec(g: Int, noise: Seq[Double]): Seq[Double] =
    Seq.tabulate(4)(d => (if (d == g) 10.0 else 0.0) + noise(d))
  private val vecGen: Gen[Seq[Double]] = for {
    g <- Gen.choose(0, 2)
    noise <- Gen.listOfN(4, Gen.choose(-1.0, 1.0))
  } yield vec(g, noise)
  private lazy val model = Ivf.fitDistributed(
    (0L until 30L).map(i => (i, vec((i % 3).toInt, Seq.fill(4)(0.0))))
      .toDF("vec_id", "embedding"),
    col("vec_id"), col("embedding"), nlist = 3, maxIter = 5, seed = 7L)
  private lazy val ivfQueries = Seq((900L, vec(0, Seq(0.5, 0.2, 0, 0))),
      (901L, vec(2, Seq(0, 0.3, -0.4, 0.1))))
    .toDF("qid", "qv")
  private def probeSet(df: DataFrame) =
    df.select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
  private lazy val ivf = Kind.slices[(Long, Seq[Double])](SliceStore.Ivf,
    b => Gen.listOfN(12, vecGen)
      .map(_.zipWithIndex.map { case (v, i) => (b * 100 + i, v) }),
    _.toDF("vec_id", "embedding"),
    Ivf.assign(model, _, col("vec_id"), col("embedding")),
    view => (view.select("vec_id", "list_id").as[(Long, Int)].collect()
      .toSet, probeSet(Ivf.topK(model, view, ivfQueries, col("qid"),
      col("qv"), k = 4, nprobe = 2, excludeSelf = false))),
    all => {
      val fresh = Ivf.assign(model, all, col("vec_id"), col("embedding"))
      (fresh.select("vec_id", "list_id").as[(Long, Int)].collect().toSet,
        probeSet(Ivf.topK(model, fresh, ivfQueries, col("qid"), col("qv"),
          k = 4, nprobe = 2, excludeSelf = false)))
    })

  // CDC: changes (id, seq, op, txt) over a few ids, so batches collide;
  // seq = i * 16 + batch keeps (id, seq) unique while interleaving the
  // batches' seqs (stale stragglers and tombstones across batches)
  private val cdc = Kind[(Long, Long, String, String)]("cdc",
    b => Gen.choose(4, 10).flatMap(Gen.listOfN(_, Gen.zip(Gen.choose(0L, 5L),
        Gen.frequency(3 -> Gen.const("upsert"), 1 -> Gen.const("delete")),
        Gen.choose(0, 99))))
      .map(_.zipWithIndex.map { case ((id, op, t), i) =>
        (id, i * 16L + b, op, if (op == "delete") null else s"t$t")
      }),
    _.toDF("id", "seq", "op", "txt"),
    (df, txn, path) => Streams.cdcMergeBatch(df, txn, path, "id", "seq", "op",
      None, 2),
    compact = None,
    view = Streams.cdcStoreView(spark, _),
    served = _.collect().map(r => r.getLong(0) -> r.getString(1)).toMap,
    recompute = all => Cdc.snapshotView(Cdc.applyChangeSetVersioned(
        Cdc.versionSnapshot(all.drop("seq", "op").limit(0)), all, "id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)

  // the signature store of Streams.incrementalDedupStream: raw rows
  // appended through the log, read back as the latest version's files;
  // a replay that landed would show as duplicate rows
  private val signatures = Kind[(Long, Long)]("signatures",
    b => Gen.listOfN(10, Gen.choose(0L, 99L)).map(_.map(h => (b, h))),
    _.toDF("doc_id", "sig"),
    (df, txn, path) => new StoreLog(spark, path).append(df, txn),
    compact = None,
    view = path => {
      val log = new StoreLog(spark, path)
      log.read(StoreLog.files(log.latest()))
    },
    served = _.as[(Long, Long)].collect().toSeq.sorted,
    recompute = _.as[(Long, Long)].collect().toSeq.sorted)

  /** Every file under `root` (data and log), by path relative to it. */
  private def allFiles(root: File): Map[String, File] =
    if (!root.exists()) Map.empty
    else Files.walk(root.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isRegularFile(_))
      .map(p => root.toPath.relativize(p).toString -> p.toFile).toMap

  /** Data files the log names in any retained version. */
  private def named(store: String): Set[String] =
    new StoreLog(spark, store).versions().flatMap(_._2.files.map(_.path)).toSet

  private def dataOnDisk(store: String): Set[String] = {
    val root = new Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(root).toUri.getPath
    StoreLog.dataFiles(fs, root)
      .map(_.getPath.toUri.getPath.stripPrefix(base + "/")).toSet
  }

  /** Crash point "data written, no version": drop the newest version
    * file. */
  private def tearNewest(store: String): Unit = {
    val v = new StoreLog(spark, store).latest().get._1
    new File(store, s"_log/$v").delete()
    new File(store, s"_log/.$v.crc").delete()
  }

  private def run[R](kind: Kind[R], seed: Long): Unit = {
    val store = tempDir(s"slicestore_${kind.name}").resolve("s").toString
    val backup = tempDir(s"slicestore_${kind.name}_backup").toFile
    val plan = planOf(seed)
    // the stream writer: its id (one per checkpoint) and its next batch
    var writer = 0
    var nextBatch = 0L
    // every committed batch's rows, and the last committed transaction
    var batches = Vector.empty[Seq[R]]
    var last: (Txn, Seq[R]) = null
    def append(txn: Txn, rows: Seq[R]): Unit =
      kind.append(kind.toDF(rows), txn, store)
    def appendNext(i: Int): Unit = {
      val rows = kind.rows(batches.size.toLong)
        .pureApply(Gen.Parameters.default, Seed(seed * 31 + i))
      last = (Txn(s"w$seed-$writer", nextBatch), rows)
      nextBatch += 1
      append(last._1, rows)
      batches :+= rows
    }
    def check(what: String): Unit = {
      val expected = kind.recompute(kind.toDF(batches.flatten))
      assert(kind.served(kind.view(store)) == expected,
        s"${kind.name} seed $seed: view diverged after $what (plan $plan)")
    }
    // a compaction where the kind has one, else an append
    def compactOrAppend(i: Int): Unit =
      kind.compact.fold(appendNext(i))(_(store))
    plan.zipWithIndex.foreach { case (step, i) =>
      step match {
        case Append => appendNext(i)
        case Replay => append(last._1, last._2)
        case Fresh =>
          // a restart under a fresh checkpoint: a new query id, batch
          // ids from 0 again, genuinely new rows
          writer += 1
          nextBatch = 0L
          appendNext(i)
        case Compact => compactOrAppend(i)
        case Torn =>
          appendNext(i)
          tearNewest(store)
          batches = batches.init
          check(s"step $i (torn append)")
          // the crashed batch never committed to the stream's
          // checkpoint: the restarted writer (same query id) replays it
          append(last._1, last._2)
          batches :+= last._2
        case Unswept =>
          val saved = allFiles(new File(store))
          saved.foreach { case (rel, f) =>
            val dest = new File(backup, rel)
            dest.getParentFile.mkdirs()
            Files.copy(f.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
          }
          compactOrAppend(i)
          val now = allFiles(new File(store))
          (saved.keySet -- now.keySet).foreach { rel =>
            val dest = new File(store, rel)
            dest.getParentFile.mkdirs()
            Files.copy(new File(backup, rel).toPath, dest.toPath)
          }
      }
      check(s"step $i ($step)")
    }
    // one more commit sweeps every retired file: what stays on disk is
    // named by a retained version
    appendNext(plan.size)
    check("final append")
    val leaked = dataOnDisk(store) -- named(store)
    assert(leaked.isEmpty, s"${kind.name} seed $seed: files no version " +
      s"names survived the next commit: $leaked (plan $plan)")
  }

  private def planOf(seed: Long): List[Step] =
    Append :: steps.pureApply(Gen.Parameters.default, Seed(seed))

  private val seeds = Seq(11L, 12L)

  test("the seeded step plans cover every step kind") {
    assert(seeds.flatMap(planOf).toSet ==
      Set[Step](Append, Replay, Fresh, Compact, Torn, Unswept),
      seeds.map(planOf))
  }

  test("Bloom store: view equals the rebuild under append/replay/compact/torn") {
    seeds.foreach(run(bloom, _))
  }
  test("count store: served series equals the batch recompute under " +
    "append/replay/compact/torn") {
    seeds.foreach(run(count, _))
  }
  test("cardinality store: estimates and row counts equal the one-shot " +
    "sketch under append/replay/compact/torn") {
    seeds.foreach(run(cardinality, _))
  }
  test("zone-map store: view equals the batch zone map under " +
    "append/replay/compact/torn") {
    seeds.foreach(run(zoneMap, _))
  }
  test("zone-stats store: view equals the raw rebuild (integral and " +
    "string dims) under append/replay/compact/torn") {
    seeds.foreach(run(zoneStats, _))
  }
  test("IVF store: stored probes equal a fresh in-memory index under " +
    "append/replay/compact/torn") {
    seeds.foreach(run(ivf, _))
  }
  test("CDC store: live snapshot equals the one-shot versioned fold " +
    "under append/replay/torn (each version rewrites the snapshot, so " +
    "there is no compaction)") {
    seeds.foreach(run(cdc, _))
  }

  test("signature store: the committed rows equal every batch's rows " +
    "once under append/replay/fresh/torn") {
    seeds.foreach(run(signatures, _))
  }

  test("a view of 48 live files plans with no more Spark jobs than a " +
    "directory read of the same files") {
    val store = tempDir("slicestore_wide").resolve("s").toString
    SliceStore.Bloom.append(BloomIndex.build(
      (0 until 2000).map(i => (i % 50L, i.toLong)).toDF("chunk", "key"),
      col("chunk"), col("key"), k = 3, mBits = 512).repartition(48),
      Txn("wide", 0L), store)
    val files = new StoreLog(spark, store).latest().get._2.files
    assert(files.size == 48, files.size)
    val sc = spark.sparkContext
    def jobs(plan: => DataFrame): Int = {
      val group = s"slicestore-jobs-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(group, group)
      try plan.queryExecution.executedPlan finally sc.clearJobGroup()
      org.apache.spark.GraftTestHooks.drainListenerBus(sc)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val dir = jobs(spark.read.parquet(store))
    val view = jobs(SliceStore.Bloom.view(spark, store))
    assert(view <= dir, s"view ran $view jobs, directory read $dir")
    // the cost the log's file index avoids: more than 32 explicit paths
    // are listed by a job of their own
    val paths = jobs(spark.read.parquet(files.map(f =>
      new File(store, f.path).toString): _*))
    assert(paths > dir, s"explicit paths ran $paths jobs, directory read $dir")
  }

  test("a commit that loses the version race re-reads the latest " +
    "version and keeps the winner's files") {
    val store = tempDir("storelog_race").resolve("s").toString
    val log = new StoreLog(spark, store)
    def files(n: Int) = log.stage(Seq(n).toDF("x"), s"w$n.0")
    val (a, b, c) = (files(1), files(2), files(3))
    log.commit(Some(Txn("a", 0L)))(StoreLog.files(_) ++ a)
    var attempts = 0
    val (v, won) = log.commit(Some(Txn("c", 2L))) { latest =>
      attempts += 1
      // another writer commits between this one's read and its add
      if (attempts == 1)
        new StoreLog(spark, store).commit(Some(Txn("b", 1L)))(
          StoreLog.files(_) ++ b)
      StoreLog.files(latest) ++ c
    }.get
    assert(attempts == 2 && v == 2L, (attempts, v, won))
    assert(won.txns == Map("a" -> 0L, "b" -> 1L, "c" -> 2L), won.txns)
    assert(won.files.map(_.path).toSet == (a ++ b ++ c).map(_.path).toSet)
    assert(log.read(won.files).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("a commit under a batch its writer already committed commits " +
    "nothing and deletes the files staged for it") {
    val store = tempDir("storelog_txn").resolve("s").toString
    val log = new StoreLog(spark, store)
    log.append(Seq(1).toDF("x"), Txn("w", 1L))
    val (v, committed) = log.latest().get
    // a replay of batch 1, or a straggler of batch 0, that got past the
    // append's check: the commit refuses both and sweeps their files
    Seq(Txn("w", 1L), Txn("w", 0L)).foreach { txn =>
      val staged = log.stage(Seq(2).toDF("x"), txn.tag)
      assert(log.commit(Some(txn))(_ => sys.error("must not run")) ==
        Some(v -> committed))
      staged.foreach(f => assert(!new File(store, f.path).exists(), f))
    }
    assert(committed.files.forall(f => new File(store, f.path).exists()))
    assert(log.read(committed.files).as[Int].collect().toSeq == Seq(1))
  }
}

object SliceStoreSpec {
  private sealed trait Step
  private case object Append extends Step
  private case object Replay extends Step
  private case object Fresh extends Step
  private case object Compact extends Step
  private case object Torn extends Step
  private case object Unswept extends Step

  /** `rows(batch)` generates one batch's input rows; `append` commits
    * them under a transaction, `compact` folds the store; `served` turns
    * the store view into a comparable value and `recompute` derives the
    * same value from all committed input rows with the batch operator. */
  private final case class Kind[R](name: String,
      rows: Long => Gen[Seq[R]], toDF: Seq[R] => DataFrame,
      append: (DataFrame, Txn, String) => Unit,
      compact: Option[String => Unit],
      view: String => DataFrame, served: DataFrame => Any,
      recompute: DataFrame => Any)

  private object Kind {
    def slices[R](store: SliceStore, rows: Long => Gen[Seq[R]],
                  toDF: Seq[R] => DataFrame, slice: DataFrame => DataFrame,
                  served: DataFrame => Any,
                  recompute: DataFrame => Any): Kind[R] = {
      val spark = graft.TestSpark.spark
      Kind(store.kind, rows, toDF,
        (df, txn, path) => store.append(slice(df), txn, path),
        Some(store.compact(spark, _)),
        store.view(spark, _), served, recompute)
    }
  }
}
