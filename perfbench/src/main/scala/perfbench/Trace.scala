package perfbench

import scala.collection.mutable

import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a call into a layer made by the benchmark, or a
  * Spark job attributed to the span that was open when it ran. Times are
  * epoch seconds; `parent` is -1 for a root span.
  */
final class Span(val id: Int, val parent: Int, val name: String,
                 val start: Double) {
  var end: Double = Double.NaN
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Spans and counters for one run. The untraced run uses [[Trace.off]],
  * whose `span` only runs its body; the traced run registers a Spark
  * listener, a query-execution listener and a streaming listener, tags
  * every job with the job group of the innermost open span, and keeps
  * everything in memory until [[Trace.dump]].
  */
class Trace {
  def span[T](name: String)(body: => T): T = body
  def reset(): Unit = ()
  def dump(): Map[String, Any] = Map.empty
}

object Trace {
  val off: Trace = new Trace
}

final class LiveTrace(spark: SparkSession, sampleLoads: Boolean) extends Trace {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def now(): Double = baseMs / 1e3 + (System.nanoTime() - baseNs) / 1e9

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val counters = mutable.Map.empty[String, Double]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageFirstLaunch = mutable.Map.empty[Int, Long]
  private val stageTaskRun = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val executionLayer = mutable.Map.empty[Long, String]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var worstSkew = 0.0
  private var nextId = 0

  private def count(k: String, v: Double): Unit =
    counters(k) = counters.getOrElse(k, 0.0) + v

  private def newSpan(parent: Int, name: String, start: Double): Span = {
    val s = new Span(nextId, parent, name, start)
    nextId += 1
    spans += s
    s
  }

  override def span[T](name: String)(body: => T): T = {
    val s = synchronized(newSpan(open.headOption.fold(-1)(_.id), name, now()))
    open.push(s)
    sc.setJobGroup(s"pb-${s.id}", name)
    try body
    finally {
      s.end = now()
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Start of the measured window: drop everything recorded so far. */
  override def reset(): Unit = {
    Bus.drain(sc)
    synchronized {
      spans.clear(); counters.clear(); jobSpans.clear(); progress.clear()
      worstSkew = 0.0
    }
    sampler.reset()
  }

  override def dump(): Map[String, Any] = {
    Bus.drain(sc)
    synchronized {
      counters("sources.load_s") = sampler.seconds
      counters("exec.skew") = worstSkew
      Map(
        "spans" -> spans.filterNot(_.end.isNaN).map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start" -> s.start, "end" -> s.end,
          "counters" -> s.counters.toMap)).toSeq,
        "counters" -> counters.toMap,
        "progress" -> progress.toSeq)
    }
  }

  /** Layer of a job, from its call site (the user frames that triggered
    * it): where one call spans two layers, e.g. `saveTable`'s staging
    * write followed by its reconcile count, each job goes to the layer
    * whose function launched it. A SQL job takes the call site of its SQL
    * execution, recorded on the calling thread when the execution
    * started: adaptive execution submits stage jobs from its own threads.
    */
  private def classify(callSite: String): String = {
    val rules = Seq(
      "graft.sinks.Reconcile$.check" -> "sinks.reconcile",
      "graft.sinks.ParquetSink$.write" -> "sinks.staging_write",
      "graft.pipelines.PipelineContext.sumGate" -> "pipelines.gate",
      "graft.sources.Tables$.json" -> "sources.infer")
    rules.collectFirst { case (frame, layer) if callSite.contains(frame) => layer }
      .getOrElse("exec.job")
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = LiveTrace.this.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val parent = if (group.startsWith("pb-")) group.drop(3).toInt else -1
      val site = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).details
      val execution = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val layer = execution.flatMap(executionLayer.get)
        .filter(_ != "exec.job").getOrElse(classify(site))
      val s = newSpan(parent, layer, e.time / 1e3)
      jobSpans(e.jobId) = s
      e.stageIds.foreach(stageJob(_) = s)
      count("exec.jobs", 1)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => LiveTrace.this.synchronized {
        // a nested execution (a write's inner query) inherits its root's layer
        val own = classify(x.details)
        executionLayer(x.executionId) =
          if (own != "exec.job") own
          else x.rootExecutionId.flatMap(executionLayer.get).getOrElse(own)
      }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = LiveTrace.this.synchronized {
      jobSpans.remove(e.jobId).foreach(_.end = e.time / 1e3)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      LiveTrace.this.synchronized {
        e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
      }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = LiveTrace.this.synchronized {
      val l = e.taskInfo.launchTime
      stageFirstLaunch(e.stageId) = math.min(l, stageFirstLaunch.getOrElse(e.stageId, l))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = LiveTrace.this.synchronized {
      count("exec.tasks", 1)
      if (e.taskInfo.failed || e.taskInfo.killed) count("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val run = m.executorRunTime
        stageTaskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += run
        count("exec.run_s", run / 1e3)
        count("exec.cpu_s", m.executorCpuTime / 1e9)
        count("exec.gc_s", m.jvmGCTime / 1e3)
        count("exec.result_bytes", m.resultSize.toDouble)
        count("exec.task_overhead_s", math.max(0L, e.taskInfo.duration - run) / 1e3)
        count("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        count("shuffle.read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
        count("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        count("mem.spill_bytes", m.diskBytesSpilled.toDouble)
        counters("mem.peak_exec_bytes") = math.max(
          counters.getOrElse("mem.peak_exec_bytes", 0.0), m.peakExecutionMemory.toDouble)
        count("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
        count("sinks.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        stageJob.get(e.stageId).foreach(_.add("records_read",
          m.inputMetrics.recordsRead.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      LiveTrace.this.synchronized {
        val id = e.stageInfo.stageId
        count("exec.stages", 1)
        for (sub <- stageSubmit.remove(id); first <- stageFirstLaunch.remove(id))
          count("exec.wait_s", math.max(0L, first - sub) / 1e3)
        stageTaskRun.remove(id).filter(_.size >= 2).foreach { runs =>
          val sorted = runs.sorted
          val med = sorted(sorted.size / 2).toDouble
          if (med > 0) worstSkew = math.max(worstSkew, sorted.last / med)
        }
        stageJob.remove(id)
      }
  }

  private object PlanCounts extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): (Int, Int, Int) = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
        nodes.count(_.isInstanceOf[SortMergeJoinExec]))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      val (ex, bhj, smj) = PlanCounts(qe.executedPlan)
      LiveTrace.this.synchronized {
        count("queries.plan_s", planMs / 1e3)
        count("queries.exchanges", ex)
        count("queries.bhj", bhj)
        count("queries.smj", smj)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) LiveTrace.this.synchronized {
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        progress += Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "add_batch_s" -> ms("addBatch") / 1e3,
          "trigger_s" -> ms("triggerExecution") / 1e3)
      }
    }
  }

  /** Sampler for layers that launch no job of their own (`Tables.load`
    * resolves files and schemas on the calling thread): every
    * 10 ms it looks at the benchmark thread's stack and credits the
    * elapsed interval when the frame is on it. Sparse on purpose: each
    * stack walk pauses the sampled thread.
    */
  private final class Sampler(target: Thread) {
    @volatile var seconds = 0.0
    def reset(): Unit = { seconds = 0.0 }
    private val th = new Thread(() => {
      var last = System.nanoTime()
      while (true) {
        Thread.sleep(10)
        val t = System.nanoTime()
        if (target.getStackTrace.exists(f =>
            f.getClassName == "graft.sources.Tables$" && f.getMethodName == "load"))
          seconds += (t - last) / 1e9
        last = t
      }
    }, "perfbench-sampler")
    th.setDaemon(true)
    def start(): Unit = th.start()
  }
  private val sampler = new Sampler(Thread.currentThread())
  if (sampleLoads) sampler.start()

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)
}
