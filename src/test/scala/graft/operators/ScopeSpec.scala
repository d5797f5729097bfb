package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{CacheBridge, PinBridge}
import org.apache.spark.storage.StorageLevel

import graft.{Bench, SparkEntry, SparkTestBase}
import graft.pipelines.PipelineContext
import graft.sinks.MockServingSink

/** `Pin.scope` ownership: what `Pin.cache` and `Pin.eager` create inside
  * a scope is freed when it exits, and nothing else is.
  */
class ScopeSpec extends SparkTestBase {

  private def sc = spark.sparkContext

  /** (persistent RDD ids, cache-manager entries) of the shared session. */
  private def held: (Set[Int], Int) =
    (sc.getPersistentRDDs.keySet.toSet, CacheBridge.numCachedEntries(spark))

  /** Nothing stored since `before`. Other suites' unowned frames may be
    * garbage-collected meanwhile, so the check is no new RDD id and no
    * more cache entries, not equality. */
  private def assertNothingLeft(before: (Set[Int], Int), what: String): Unit = {
    val (rdds, entries) = held
    val leaked = rdds -- before._1
    assert(leaked.isEmpty && entries <= before._2,
      s"$what left RDDs $leaked and $entries cache entries (before: ${before._2})")
  }

  private def frame(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (1 to n).toDF("x").groupBy((col("x") % 5).as("k")).agg(sum(col("x")).as("s"))
  }

  private def isPinned(df: DataFrame): Boolean =
    sc.getPersistentRDDs.contains(PinBridge.leafRdd(df).get.id)

  test("a scope frees what it registered, newest first, on return and on a throw") {
    val unpersisted = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        unpersisted.add(e.rddId)
    }
    sc.addSparkListener(listener)
    try {
      val before = held
      var pins = Seq.empty[DataFrame]
      var cached: DataFrame = null
      val n = Pin.scope {
        pins = Seq(Pin.eager(frame(10)), Pin.eager(frame(11)), Pin.eager(frame(12)))
        cached = Pin.cache(frame(13))
        assert(pins.forall(isPinned) && cached.storageLevel != StorageLevel.NONE)
        cached.count()
      }
      assert(n == 5L)
      assert(!pins.exists(isPinned), "a pin outlived its scope")
      assert(cached.storageLevel == StorageLevel.NONE, "a cache outlived its scope")
      assertNothingLeft(before, "the scope")
      org.apache.spark.GraftTestHooks.drainListenerBus(sc)
      val pinIds = pins.map(p => PinBridge.leafRdd(p).get.id)
      val freed = unpersisted.asScala.toSeq.filter(pinIds.contains)
      assert(freed == pinIds.reverse, s"freed $freed, pinned $pinIds")

      var thrown: DataFrame = null
      val e = intercept[IllegalStateException](Pin.scope {
        thrown = Pin.eager(frame(14))
        Pin.cache(frame(15)).count()
        throw new IllegalStateException("boom")
      })
      assert(e.getMessage == "boom")
      assert(!isPinned(thrown))
      assertNothingLeft(before, "the throwing scope")
    } finally sc.removeSparkListener(listener)
  }

  test("a frame the caller already cached survives the scope") {
    val mine = frame(20).persist()
    try {
      mine.count()
      val same = frame(20) // an equal plan: the cache manager's entry is mine
      Pin.scope {
        assert(Pin.cache(mine) eq mine)
        assert(Pin.cache(same) eq same)
        Pin.free(Pin.cache(frame(21)))
      }
      assert(mine.storageLevel != StorageLevel.NONE, "the scope freed the caller's cache")
    } finally mine.unpersist(blocking = true)
  }

  test("frames cached and pinned in parallel branches are freed by the forking scope") {
    val ctx = new PipelineContext(spark, new MockServingSink,
      tempDir("scope_parallel").toString, SaveMode.Overwrite)
    val before = held
    val made = new ConcurrentLinkedQueue[DataFrame]()
    Pin.scope {
      ctx.parallel(
        () => { made.add(Pin.eager(frame(30))); () },
        () => { val c = Pin.cache(frame(31)); c.count(); made.add(c); () })
      assert((held._1 -- before._1).nonEmpty,
        "precondition: the branches stored nothing")
    }
    assert(made.size == 2)
    assertNothingLeft(before, "the parallel branches")
  }

  test("a nested scope's pinned result survives its parent's reads; its " +
    "intermediates do not") {
    val before = held
    var inner: Seq[DataFrame] = Nil
    var result: DataFrame = null
    Pin.scope {
      result = Pin.scoped {
        val a = Pin.cache(frame(40))
        val b = Pin.eager(a.withColumn("t", col("s") * 2))
        inner = Seq(a, b)
        b.join(a, Seq("k", "s")).select(col("k"), col("t"))
      }
      assert(inner.head.storageLevel == StorageLevel.NONE)
      assert(!isPinned(inner(1)))
      assert(isPinned(result))
      assert(result.count() == 5L && result.count() == 5L)
    }
    assert(!isPinned(result))
    assertNothingLeft(before, "the nested scope")
  }

  test("connectedComponents(checkpointEvery = 1) in a scope leaves no pinned RDD") {
    val s = spark
    import s.implicits._
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = held
    val labels = Pin.scope {
      Dedup.connectedComponents(chain, checkpointEvery = 1, driverEdgeLimit = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels == (1L to 7L).map(_ -> 1L).toMap)
    assertNothingLeft(before, "connectedComponents")
  }

  test("registry queries run back to back through Bench.timedPass leave no " +
    "cached or pinned frame behind") {
    val sf = "/root/testdata/sf0.001"
    // as Bench does: the memoized BM25 index is built before the timed
    // passes, and lives for the application
    assert(Bench.timedPass(spark, "cache-warmup",
      () => { SparkEntry.warmCaches(spark, sf, Set("bm25")); () }, 300).isRight)
    val before = held
    for (name <- Seq("doc_pagerank", "graph_kcore", "dedup_clusters",
        "dedup_incremental", "bm25_search", "hybrid_rrf")) {
      val run = Bench.timedPass(spark, name, () =>
        SparkEntry.queries(name)(spark, sf).write.format("noop")
          .mode("overwrite").save(), 300)
      assert(run.isRight, s"$name: $run")
      assertNothingLeft(before, name)
    }
  }
}
