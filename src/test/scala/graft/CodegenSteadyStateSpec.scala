package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.pipelines._
import graft.sinks.MockServingSink
import graft.streaming.Streams

/** Spark keeps compiled generated classes in one JVM-wide LRU cache of
  * `spark.sql.codegen.cache.maxEntries` entries, keyed by the class's
  * code and the context class loader it is compiled for (so in local
  * mode the driver and the executor threads each compile a class once).
  * A pass whose working set is larger than the cache misses on every
  * lookup and recompiles everything on every repeat. These cases fail
  * when a repeated pipeline pass or a stream batch after its warm-up
  * compiles anything the cache should have kept, so a pipeline that grows
  * the working set past the cap fails here instead of silently paying the
  * compiles on every run.
  */
class CodegenSteadyStateSpec extends SparkTestBase with PipelineFixtures {

  private def cap: Int =
    spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt

  /** One compile: the class loader it was compiled for and its code. */
  private type Compile = (ClassLoader, String)

  /** Every class compiled while `body` runs, read from the code
    * `CodeGenerator` logs at DEBUG on the compiling thread, and checked
    * against the count of Spark's compile-time histogram.
    */
  private def compiled(body: => Unit): Seq[Compile] = {
    spark // start the session first: its logging set-up resets loggers
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
      .asInstanceOf[Logger]
    val got = new ConcurrentLinkedQueue[Compile]()
    val recorder = new AbstractAppender("codegen-census", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.DEBUG)
          got.add((Thread.currentThread.getContextClassLoader,
            e.getMessage.getFormattedMessage))
    }
    val (level, additive) = (logger.getLevel, logger.isAdditive)
    recorder.start()
    logger.addAppender(recorder)
    logger.setAdditive(false)
    logger.setLevel(Level.DEBUG)
    val count = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body
    finally {
      logger.setLevel(level)
      logger.setAdditive(additive)
      logger.removeAppender(recorder)
      recorder.stop()
    }
    val out = got.asScala.toSeq
    assert(out.size == CodegenMetrics.METRIC_COMPILATION_TIME.getCount - count,
      "a compile went unrecorded")
    out
  }

  test("a repeated pass of the five parity pipelines compiles no class") {
    val loadTs = Timestamp.valueOf("2024-05-01 12:00:00")
    val jhub = jhubFixture
    val (meetings, participants) = (zoomMeetingsFixture, zoomParticipantsFixture)
    val (groups, members, walls) = (vkGroupsFixture, vkMembersFixture, vkWallsFixture)
    val (surveys, responses) = (monkeySurveysFixture, monkeyResponsesFixture)
    val staging = tempDir("codegen_pass").toString
    val pipelines = Seq[(String, PipelineContext => Unit)](
      "jhub" -> (JhubPipeline.run(_, jhub)),
      "zoom" -> (ZoomPipeline.run(_, meetings, participants)),
      "zoom_hst" -> (ZoomPipeline.runHst(_, meetings, participants, loadTs)),
      "vk" -> (VkPipeline.run(_, groups, members, walls, loadTs)),
      "monkey" -> (MonkeyPipeline.run(_, surveys, responses, loadTs)))
    // the benchmark's pass: every pipeline overwrites its staging tables
    def pass(): Unit = pipelines.foreach { case (name, body) =>
      val ctx = new PipelineContext(spark, new MockServingSink,
        s"$staging/$name", SaveMode.Overwrite)
      body(ctx)
      assert(ctx.failed.isEmpty, s"$name: ${ctx.report}")
    }
    val first = compiled(pass()).size
    val second = compiled(pass()).size
    info(s"classes compiled: first pass $first, second pass $second, cap $cap")
    assert(second == 0, s"the second pass compiled $second classes " +
      s"(first pass $first, cap $cap): its working set no longer fits the cache")
    // an earlier suite may have compiled part of the working set already,
    // so `first` is a lower bound; run alone, this spec reads it exactly
    assert(first <= cap / 2, s"one pass compiled $first classes, over half " +
      s"the cap $cap: size spark.sql.codegen.cache.maxEntries (SessionFactory)")
  }

  test("incrementalDedupStream batches after the warm-up compile no new class") {
    import TestSpark.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = CorpusPipeline.Config(minQuality = 0.0, keepLangs = Seq("en"),
      minTokens = 5, shingleSize = 3, numHashes = 64, bands = 16,
      minEstJaccard = 0.5, featureDim = 4)
    // every three-word shingle of a document holds one of its own
    // words, so two documents share a shingle only when one re-sends the
    // other: each batch has the same duplicate structure
    def text(id: Long): String = {
      val own = id.toString.map(d => ('a' + (d - '0')).toChar)
      Seq("the", "and", "is", "of", "to", "in")
        .map(w => s"$w word$own$w").mkString(" ")
    }
    // three new documents, then a re-send of the previous batch's first
    // one under a new id (the first batch, against the empty store, gets
    // a fourth new document instead)
    def batch(b: Int): Seq[(Long, String)] =
      (0 to 3).map { i =>
        val id = b * 10L + i
        (id, text(if (i == 3 && b > 1) (b - 1) * 10L else id))
      }
    val curated = tempDir("codegen_curated").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.incrementalDedupStream(mem.toDF().toDF("doc_id", "text"),
        tempDir("codegen_sigs").toString, curated,
        tempDir("codegen_stream_ckpt").toString, cfg,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    val perBatch =
      try (1 to 4).map { b =>
        compiled { mem.addData(batch(b)); q.processAllAvailable() }
      } finally q.stop()
    // every re-send was dropped against the store, every new document kept
    assert(spark.read.parquet(curated).select("doc_id").as[Long].collect()
      .sorted.toSeq == (1 to 4).flatMap { b =>
        (0 to (if (b == 1) 3 else 2)).map(b * 10L + _) })

    // Adaptive execution numbers a query's codegen stages as it plans
    // them, and the order depends on which shuffle stage finishes first,
    // so a later batch can compile a copy of a warm-up class that differs
    // only in its stage id. Such a copy is a new cache key, not a miss.
    def code(c: Compile) =
      c._2.replaceAll("(CodegenStage|codegenStageId=)[0-9]+", "$1#")
    val warm = perBatch.take(2).flatten.map(code).toSet
    val grown = perBatch.drop(2).flatten.filterNot(c => warm(code(c)))
    val all = perBatch.flatten
    val recompiled = all.diff(all.distinct)
    info(s"classes compiled per batch: ${perBatch.map(_.size).mkString(", ")}; " +
      s"new after the warm-up: ${grown.size}; compiled again: ${recompiled.size}")
    assert(recompiled.isEmpty, s"${recompiled.size} classes were evicted and " +
      s"compiled again within four batches (cap $cap)")
    assert(grown.isEmpty, s"batches 3-4 compiled ${grown.size} classes " +
      "the warm-up batches did not")
  }
}
