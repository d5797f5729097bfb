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
  * stores and the CDC store): random sequences of append, replayed
  * append (the same slice re-appended under the same batch id),
  * compaction and the log's two crash points must leave the served
  * view equal to the batch recompute over every distinct committed
  * batch, after every step. The crash points are built by hand:
  *   - Torn: a write's data files landed but its version did not (the
  *     newest version file is deleted after the commit); the view must
  *     ignore the orphans, and the stream's replay then commits it;
  *   - Unswept: a version committed but the files it retired were not
  *     yet deleted (every file the commit's clean-up deleted, data and
  *     log, is restored); the next commit must clean them up.
  */
class SliceStoreSpec extends SparkTestBase {
  import graft.TestSpark.spark.implicits._
  import SliceStoreSpec._

  private val steps: Gen[List[Step]] = Gen.listOfN(6, Gen.frequency(
    3 -> Gen.const(Append), 1 -> Gen.const(Replay),
    2 -> Gen.const(Compact), 2 -> Gen.const(Torn), 2 -> Gen.const(Unswept)))

  private def keyed(df: DataFrame, key: Int): Map[Any, Seq[Any]] =
    df.collect().map(r => r.get(key) -> r.toSeq).toMap

  private val xy: Gen[(Long, Long)] =
    Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L))

  private val bloom = Kind.slices[(Long, Long)](SliceStore.Bloom,
    _ => Gen.listOfN(40, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 500L))),
    _.toDF("chunk", "key"),
    BloomIndex.build(_, col("chunk"), col("key"), k = 3, mBits = 512),
    batchBounded = false,
    df => df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap,
    all => BloomIndex.build(all, col("chunk"), col("key"), 3, 512).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap)

  private val count = Kind.slices[(String, Int)](SliceStore.Count,
    _ => Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(1, 6))),
    _.toDF("g", "b"), Anomaly.countSeries(_, col("g"), col("b")),
    batchBounded = true,
    _.collect().map(_.toSeq).toSet,
    Anomaly.countSeries(_, col("g"), col("b")).collect().map(_.toSeq).toSet)

  private val cardinality = Kind.slices[(String, String)](SliceStore.Cardinality,
    _ => Gen.listOfN(40, Gen.zip(Gen.oneOf("g0", "g1"),
      Gen.choose(0, 60).map(i => s"v$i"))),
    _.toDF("g", "v"),
    Cardinality.sliceSketches(_, lit(0L), col("g"), col("v"), lgK = 12)
      .drop("slice"),
    batchBounded = true,
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
    Layout.zoneMap(_, nx, ny, bucketBits = 3), batchBounded = true,
    keyed(_, 0), all => keyed(Layout.zoneMap(all, nx, ny, 3), 0))

  private val zoneStats = Kind.slices[(Long, String)](SliceStore.ZoneStats,
    _ => Gen.listOfN(40, Gen.zip(Gen.choose(0L, 255L),
      Gen.choose(0, 999).map(i => f"s$i%03d"))),
    _.toDF("x", "s"),
    Layout.rawZoneMap(_, shiftright(col("x"), 5), Seq("x", "s")),
    batchBounded = true,
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
    batchBounded = false,
    view => (view.select("vec_id", "list_id").as[(Long, Int)].collect()
      .toSet, probeSet(Ivf.topKStored(model, view, ivfQueries, col("qid"),
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
    (df, b, path, epoch) => Streams.cdcMergeBatch(df, b, epoch, path, "id",
      "seq", "op", None, 2),
    compact = None,
    view = Streams.cdcStoreView(spark, _),
    served = _.collect().map(r => r.getLong(0) -> r.getString(1)).toMap,
    recompute = all => Cdc.snapshotView(Cdc.applyChangeSetVersioned(
        Cdc.versionSnapshot(all.drop("seq", "op").limit(0)), all, "id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)

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
    * file and return the data files only it named. */
  private def tearNewest(store: String): Set[String] = {
    val versions = new StoreLog(spark, store).versions()
    val (v, newest) = versions.last
    val before = versions.init.lastOption
      .fold(Set.empty[String])(_._2.files.map(_.path).toSet)
    new File(store, s"_log/$v").delete()
    new File(store, s"_log/.$v.crc").delete()
    newest.files.map(_.path).toSet -- before
  }

  private def run[R](kind: Kind[R], seed: Long): Unit = {
    val store = tempDir(s"slicestore_${kind.name}").resolve("s").toString
    val backup = tempDir(s"slicestore_${kind.name}_backup").toFile
    val plan = planOf(seed)
    val rnd = new scala.util.Random(seed)
    var epoch = s"e$seed"
    var batches = Vector.empty[Seq[R]]
    var orphans = Set.empty[String]
    def appendBatch(b: Long): Unit =
      kind.append(kind.toDF(batches(b.toInt)), b, store, epoch)
    def check(what: String): Unit = {
      val expected = kind.recompute(kind.toDF(batches.flatten))
      assert(kind.served(kind.view(store)) == expected,
        s"${kind.name} seed $seed: view diverged after $what (plan $plan)")
    }
    def next(i: Int): Unit = batches :+= kind.rows(batches.size.toLong)
      .pureApply(Gen.Parameters.default, Seed(seed * 31 + i))
    // a compaction where the kind has one and a batch is foldable, else
    // an append of the next batch
    def compactOrAppend(i: Int): Unit = {
      val last = batches.size - 1L
      kind.compact match {
        case Some(c) if !kind.batchBounded => c(store, None)
        // bounded kinds fold only batches a LATER committed batch has
        // superseded; with a single batch there is nothing foldable yet
        case Some(c) if last >= 1 =>
          c(store, Some(rnd.nextInt(last.toInt).toLong))
        case _ => next(i); appendBatch(batches.size - 1L)
      }
    }
    plan.zipWithIndex.foreach { case (step, i) =>
      step match {
        case Append => next(i); appendBatch(batches.size - 1L)
        case Replay => appendBatch(batches.size - 1L)
        case Compact => compactOrAppend(i)
        case Torn =>
          next(i)
          val b = batches.size - 1L
          val torn = batches.last
          appendBatch(b)
          orphans ++= tearNewest(store)
          batches = batches.init
          check(s"step $i (torn append)")
          // the crashed batch never committed to the stream's
          // checkpoint: a restarted writer replays it
          batches :+= torn
          epoch = s"e$seed.$i"
          appendBatch(b)
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
    // named by a retained version or orphaned by a torn commit
    next(plan.size); appendBatch(batches.size - 1L)
    check("final append")
    val leaked = dataOnDisk(store) -- named(store) -- orphans
    assert(leaked.isEmpty, s"${kind.name} seed $seed: retired files " +
      s"survived the next commit: $leaked (plan $plan)")
  }

  private def planOf(seed: Long): List[Step] =
    Append :: steps.pureApply(Gen.Parameters.default, Seed(seed))

  private val seeds = Seq(11L, 12L)

  test("the seeded step plans cover every step kind") {
    assert(seeds.flatMap(planOf).toSet ==
      Set[Step](Append, Replay, Compact, Torn, Unswept), seeds.map(planOf))
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

  test("a view of 48 live files plans with no more Spark jobs than a " +
    "directory read of the same files") {
    val store = tempDir("slicestore_wide").resolve("s").toString
    SliceStore.Bloom.append(BloomIndex.build(
      (0 until 2000).map(i => (i % 50L, i.toLong)).toDF("chunk", "key"),
      col("chunk"), col("key"), k = 3, mBits = 512).repartition(48), 0L, store)
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
    def files(n: Int) = log.stage(Seq(n).toDF("x"))
    val (a, b, c) = (files(1), files(2), files(3))
    log.commit("a", 0L)(v => Some(StoreLog.files(v) ++ a))
    var attempts = 0
    val (v, won) = log.commit("c", 2L) { latest =>
      attempts += 1
      // another writer commits between this one's read and its add
      if (attempts == 1)
        new StoreLog(spark, store).commit("b", 1L)(w => Some(StoreLog.files(w) ++ b))
      Some(StoreLog.files(latest) ++ c)
    }.get
    assert(attempts == 2 && v == 2L && won.appId == "c", (attempts, v, won))
    assert(won.files.map(_.path).toSet == (a ++ b ++ c).map(_.path).toSet)
    assert(log.read(won.files).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("compaction refuses a throughBatch the kind does not take") {
    val store = tempDir("slicestore_contract").resolve("s").toString
    intercept[IllegalArgumentException](
      SliceStore.Count.compact(spark, store))
    intercept[IllegalArgumentException](
      SliceStore.Bloom.compact(spark, store, throughBatch = Some(0)))
  }
}

object SliceStoreSpec {
  private sealed trait Step
  private case object Append extends Step
  private case object Replay extends Step
  private case object Compact extends Step
  private case object Torn extends Step
  private case object Unswept extends Step

  /** `rows(batch)` generates one batch's input rows; `append` commits
    * them as batch `b` (under a writer epoch), `compact` folds the store
    * (through a batch, for the bounded kinds); `served` turns the store
    * view into a comparable value and `recompute` derives the same value
    * from all distinct input rows with the batch operator. */
  private final case class Kind[R](name: String,
      rows: Long => Gen[Seq[R]], toDF: Seq[R] => DataFrame,
      append: (DataFrame, Long, String, String) => Unit,
      compact: Option[(String, Option[Long]) => Unit],
      view: String => DataFrame, served: DataFrame => Any,
      recompute: DataFrame => Any, batchBounded: Boolean = false)

  private object Kind {
    def slices[R](store: SliceStore, rows: Long => Gen[Seq[R]],
                  toDF: Seq[R] => DataFrame, slice: DataFrame => DataFrame,
                  batchBounded: Boolean, served: DataFrame => Any,
                  recompute: DataFrame => Any): Kind[R] = {
      val spark = graft.TestSpark.spark
      Kind(store.kind, rows, toDF,
        (df, b, path, _) => store.append(slice(df), b, path),
        Some((path, through) => store.compact(spark, path, through)),
        store.view(spark, _), served, recompute, batchBounded)
    }
  }
}
