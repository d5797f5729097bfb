package graft.pipelines

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.storage.StorageLevel

import graft.SparkTestBase
import graft.sinks.MockServingSink

/** O7: `PipelineContext.parallel` — structured concurrency for sibling
  * tables. Every case is ordered by latches and barriers, never by sleeps
  * or timing thresholds; the 30 s timeouts only turn a hang into a failure.
  */
class PipelineParallelSpec extends SparkTestBase with PipelineFixtures {

  private val loadTs = Timestamp.valueOf("2024-05-01 12:00:00")

  private def ctx(name: String, sink: MockServingSink = new MockServingSink) =
    new PipelineContext(spark, sink, tempDir(name).toString, SaveMode.Overwrite)

  private def ok(name: String) = TableResult(name, 1L, 1L, consistent = true)

  private def await(l: CountDownLatch): Unit =
    assert(l.await(30, TimeUnit.SECONDS), "latch timed out")

  /** A mock that counts how many callers are inside it at once. */
  private final class ConcurrencyTrackingSink extends MockServingSink {
    private val inside = new AtomicInteger
    val maxInside = new AtomicInteger
    private def enter[T](body: => T): T = {
      maxInside.accumulateAndGet(inside.incrementAndGet(), math.max(_, _))
      try body finally { inside.decrementAndGet(); () }
    }
    override def execute(sql: String): Unit = enter(super.execute(sql))
    override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
      enter(super.write(df, table, mode))
    override def writeDated(df: DataFrame, table: String, mode: SaveMode,
                            dateCol: String, date: java.sql.Date): Unit =
      enter(super.writeDated(df, table, mode, dateCol, date))
    override def count(table: String): Long = enter(super.count(table))
  }

  test("branches overlap: two branches meet at a barrier") {
    val c = ctx("par_barrier")
    val barrier = new CyclicBarrier(2)
    // run one after another, the first branch would time out alone
    c.parallel(
      () => c.stage("a") { barrier.await(30, TimeUnit.SECONDS); ok("a") },
      () => c.stage("b") { barrier.await(30, TimeUnit.SECONDS); ok("b") })
    assert(c.failed.isEmpty, c.report.toString)
    assert(c.report.map(_._1) == Seq("a", "b"))
  }

  test("a stage failure is recorded while its sibling completes (O2)") {
    val c = ctx("par_stage_fail")
    val failing = new CountDownLatch(1)
    c.parallel(
      () => c.stage("bad") {
        failing.countDown()
        throw new IllegalStateException("boom")
      },
      () => c.stage("good") { await(failing); ok("good") })
    assert(c.failed == Seq("bad"))
    assert(c.report.collect { case (n, Right(r)) => n -> r.table } ==
      Seq("good" -> "good"))
    assert(c.report.collectFirst { case ("bad", Left(e)) => e.getMessage } ==
      Some("boom"))
  }

  test("a throw outside stage is rethrown only after its siblings finish, " +
    "the first in declaration order") {
    val c = ctx("par_rethrow")
    val events = new ConcurrentLinkedQueue[String]
    val secondThrew = new CountDownLatch(1)
    val firstThrew = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      c.parallel(
        () => {
          // declared first, thrown second
          await(secondThrew)
          events.add("first threw")
          firstThrew.countDown()
          throw new IllegalStateException("first")
        },
        () => {
          events.add("second threw")
          secondThrew.countDown()
          throw new IllegalArgumentException("second")
        },
        () => {
          await(firstThrew)
          // a Spark job: the sibling is still busy when both throws happen
          spark.range(1000).count()
          events.add("third finished")
        })
    }
    events.add("caller caught")
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(events.asScala.toSeq ==
      Seq("second threw", "first threw", "third finished", "caller caught"))
  }

  test("persisted stays cached inside every branch, released after the join") {
    val c = ctx("par_persist")
    val df = spark.range(100).toDF("id")
    val barrier = new CyclicBarrier(3)
    val levels = new ConcurrentLinkedQueue[StorageLevel]
    c.persisted(df) { m =>
      c.parallel(Seq.fill(3)(() => {
        assert(m.count() == 100)
        barrier.await(30, TimeUnit.SECONDS)
        levels.add(m.storageLevel)
        ()
      }): _*)
    }
    assert(levels.size == 3)
    assert(levels.asScala.forall(_ != StorageLevel.NONE))
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("branch jobs carry the caller's job group (SparkListener)") {
    val c = ctx("par_group")
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val started = Seq.fill(2)(new CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties);
             b <- Option(p.getProperty("pps.branch"))) {
          groups.add(String.valueOf(p.getProperty("spark.jobGroup.id")))
          started(b.toInt).countDown()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("pps-caller", "parallel job group test")
    try {
      c.parallel((0 until 2).map(i => () => {
        sc.setLocalProperty("pps.branch", i.toString)
        assert(spark.range(10).count() == 10)
        ()
      }): _*)
      started.foreach(await)
      assert(groups.asScala.toSet == Set("pps-caller"))
      // the branch threads' property changes never reach the caller
      assert(sc.getLocalProperty("pps.branch") == null)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("serving calls are serialized: at most one caller inside the sink " +
    "across full VK and Monkey runs") {
    val vkSink = new ConcurrencyTrackingSink
    val vk = ctx("par_vk", vkSink)
    VkPipeline.run(vk, vkGroupsFixture, vkMembersFixture, vkWallsFixture, loadTs)
    assert(vk.failed.isEmpty, vk.report.toString)
    assert(vk.report.forall { case (_, r) => r.exists(_.consistent) })
    assert(vkSink.maxInside.get == 1)

    val monkeySink = new ConcurrencyTrackingSink
    val monkey = ctx("par_monkey", monkeySink)
    MonkeyPipeline.run(monkey, monkeySurveysFixture, monkeyResponsesFixture,
      loadTs)
    assert(monkey.failed.isEmpty, monkey.report.toString)
    assert(monkey.report.forall { case (_, r) => r.exists(_.consistent) })
    assert(monkeySink.maxInside.get == 1)
  }

  test("report lists entries in declaration order, not completion order") {
    val c = ctx("par_order")
    val laterDone = new CountDownLatch(1)
    c.stage("before")(ok("before"))
    c.parallel(
      () => {
        await(laterDone) // finishes last
        c.stage("early")(ok("early"))
      },
      () => {
        c.parallel(
          () => c.stage("later.0")(ok("later.0")),
          () => c.guard("later.1")(throw new IllegalStateException("x")))
        c.stage("later.2")(ok("later.2"))
        laterDone.countDown()
      })
    c.stage("after")(ok("after"))
    assert(c.report.map(_._1) ==
      Seq("before", "early", "later.0", "later.1", "later.2", "after"))
    assert(c.failed == Seq("later.1"))

    val vk = ctx("par_order_vk")
    VkPipeline.run(vk, vkGroupsFixture, vkMembersFixture, vkWallsFixture, loadTs)
    assert(vk.report.map(_._1) == Seq("groups", "groups_contacts",
      "groups_links", "members", "members_careers", "members_schools",
      "members_universities", "wall_items", "wall_history"))

    val monkey = ctx("par_order_monkey")
    MonkeyPipeline.run(monkey, monkeySurveysFixture, monkeyResponsesFixture,
      loadTs)
    assert(monkey.report.map(_._1) == Seq("hst_surveys",
      "hst_surveys_questions", "hst_surveys_choices", "hst_surveys_responses",
      "hst_surveys_answers"))
  }
}
