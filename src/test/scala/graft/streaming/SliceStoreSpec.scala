package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.operators.{Anomaly, BloomIndex, Cardinality, Ivf, Layout, Maintenance}

/** The slice-store protocol as a property, per store kind: random
  * sequences of append, replayed append (the same slice re-appended
  * under the same batch id), compaction and torn compaction (manifest
  * present, store files partly parked — built by hand, the crash-mid-park
  * state) must leave the served view equal to the batch recompute over
  * every distinct batch appended so far, after every step.
  */
class SliceStoreSpec extends SparkTestBase {
  import graft.TestSpark.spark.implicits._
  import SliceStoreSpec._

  private val steps: Gen[List[Step]] = Gen.listOfN(5, Gen.frequency(
    3 -> Gen.const(Append), 1 -> Gen.const(Replay),
    2 -> Gen.const(Compact), 2 -> Gen.const(Torn)))

  private def keyed(df: DataFrame, key: Int): Map[Any, Seq[Any]] =
    df.collect().map(r => r.get(key) -> r.toSeq).toMap

  private val xy: Gen[(Long, Long)] =
    Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L))

  private val bloom = Kind[(Long, Long)](SliceStore.Bloom,
    _ => Gen.listOfN(40, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 500L))),
    _.toDF("chunk", "key"),
    BloomIndex.build(_, col("chunk"), col("key"), k = 3, mBits = 512),
    batchBounded = false,
    df => df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap,
    all => BloomIndex.build(all, col("chunk"), col("key"), 3, 512).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap)

  private val count = Kind[(String, Int)](SliceStore.Count,
    _ => Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(1, 6))),
    _.toDF("g", "b"), Anomaly.countSeries(_, col("g"), col("b")),
    batchBounded = true,
    _.collect().map(_.toSeq).toSet,
    Anomaly.countSeries(_, col("g"), col("b")).collect().map(_.toSeq).toSet)

  private val cardinality = Kind[(String, String)](SliceStore.Cardinality,
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
  private val zoneMap = Kind[(Long, Long)](SliceStore.ZoneMap,
    _ => Gen.listOfN(40, xy), _.toDF("x", "y"),
    Layout.zoneMap(_, nx, ny, bucketBits = 3), batchBounded = true,
    keyed(_, 0), all => keyed(Layout.zoneMap(all, nx, ny, 3), 0))

  private val zoneStats = Kind[(Long, String)](SliceStore.ZoneStats,
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
  private lazy val ivf = Kind[(Long, Seq[Double])](SliceStore.Ivf,
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

  /** Crash mid-park by hand: recover any earlier torn state, park about
    * half the store's data files (keeping `k=v` relative paths), promote
    * a torn "folded" file and leave the manifest naming it. */
  private def tear(store: String, rnd: scala.util.Random): Unit = {
    Maintenance.recoverStoreCompaction(spark, store)
    val root = new File(store)
    def visible(f: File) = !f.getName.startsWith("_") &&
      !f.getName.startsWith(".")
    val files = root.listFiles().toSeq.filter(visible).flatMap { f =>
      if (f.isDirectory) f.listFiles().toSeq.filter(g => g.isFile && visible(g))
      else Seq(f)
    }
    val parked = new File(store + ".__compact_parked")
    rnd.shuffle(files).take(math.max(1, files.size / 2)).foreach { f =>
      val dest = parked.toPath.resolve(root.toPath.relativize(f.toPath)).toFile
      dest.getParentFile.mkdirs()
      assert(f.renameTo(dest), s"could not park $f")
    }
    val torn = root.toPath
      .relativize(files.head.getParentFile.toPath)
      .resolve(s"part-00000-torn-${rnd.nextInt(1 << 20)}.snappy.parquet")
      .toString
    Files.write(root.toPath.resolve(torn), Array[Byte](1, 2, 3))
    Files.write(new File(store + ".__compact_manifest").toPath,
      torn.getBytes("UTF-8"))
  }

  private def run[R](kind: Kind[R], seed: Long): Unit = {
    val store = tempDir(s"slicestore_${kind.store.kind}").resolve("s").toString
    val plan = planOf(seed)
    val rnd = new scala.util.Random(seed)
    var batches = Vector.empty[Seq[R]]
    def appendBatch(b: Long): Unit =
      kind.store.append(kind.slice(kind.toDF(batches(b.toInt))), b, store)
    def check(what: String): Unit = {
      val expected = kind.recompute(kind.toDF(batches.flatten))
      assert(kind.served(kind.store.view(spark, store)) == expected,
        s"${kind.store.kind} seed $seed: view diverged after $what " +
          s"(plan $plan)")
    }
    plan.zipWithIndex.foreach { case (step, i) =>
      val last = batches.size - 1L
      step match {
        case Append =>
          batches :+= kind.rows(batches.size.toLong)
            .pureApply(Gen.Parameters.default, Seed(seed * 31 + i))
          appendBatch(batches.size - 1L)
        case Replay => appendBatch(last)
        case Compact =>
          // bounded kinds fold only batches a LATER committed batch has
          // superseded; with a single batch there is nothing foldable yet
          if (!kind.batchBounded) kind.store.compact(spark, store)
          else if (last >= 1)
            kind.store.compact(spark, store,
              throughBatch = Some(rnd.nextInt(last.toInt).toLong))
        case Torn => tear(store, rnd)
      }
      check(s"step $i ($step)")
    }
    Maintenance.recoverStoreCompaction(spark, store)
    check("final recovery")
  }

  private def planOf(seed: Long): List[Step] =
    Append :: steps.pureApply(Gen.Parameters.default, Seed(seed))

  private val seeds = Seq(11L, 12L)

  test("the seeded step plans cover every step kind") {
    assert(seeds.flatMap(planOf).toSet ==
      Set[Step](Append, Replay, Compact, Torn), seeds.map(planOf))
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

  /** `rows(batch)` generates one batch's input rows; `served` turns the
    * store view into a comparable value and `recompute` derives the same
    * value from all distinct input rows with the batch operator. */
  private final case class Kind[R](store: SliceStore,
      rows: Long => Gen[Seq[R]], toDF: Seq[R] => DataFrame,
      slice: DataFrame => DataFrame, batchBounded: Boolean,
      served: DataFrame => Any, recompute: DataFrame => Any)
}
