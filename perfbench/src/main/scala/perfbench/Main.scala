package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload on one session and writes
  * its raw measurements (operation latencies, output-check material,
  * and in a traced run the spans and counters) to a JSON file. `run.py`
  * generates the inputs beforehand and turns this file into metrics.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1 --cores N
  *          --input DIR --work DIR --out FILE [--queries a,b,...]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val seconds = opts("seconds").toDouble
    // a stuck run must end with an error, never hold the caller past its limit
    val limit = seconds + 110
    val watchdog = new Thread(() => {
      Thread.sleep((limit * 1000).toLong)
      System.err.println(s"[perfbench] watchdog: run exceeded $limit s")
      Runtime.getRuntime.halt(3)
    }, "perfbench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    val spark = graft.SessionFactory.session(appName = "perfbench",
      master = Some(s"local[${opts("cores")}]"))
    spark.sparkContext.setLogLevel("ERROR")
    // the Tables.load sampler costs a stack walk every 10 ms; only the
    // query mix calls Tables.load
    val trace = if (opts("trace") == "1")
      new LiveTrace(spark, sampleLoads = opts("workload") == "query_mix")
      else Trace.off
    val env = Env(spark, opts("input"), opts("work"), seconds, trace, startMs)
    val result = opts("workload") match {
      case "elt_backfill"  => EltBackfill.run(env)
      case "query_mix"     => QueryMix.run(env, opts("queries").split(",").toSeq)
      case "curate_stream" => CurateStream.run(env)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val out = result ++ Map(
      "peak_rss_kb" -> Env.vmHwmKb(),
      "trace" -> trace.dump())
    spark.stop()
    Files.write(Paths.get(opts("out")), Json(out).getBytes(StandardCharsets.UTF_8))
  }
}

/** What every workload gets: the session, its inputs, a work directory
  * inside the checkout, the measuring time, and the trace.
  */
final case class Env(spark: SparkSession, input: String, work: String,
                     seconds: Double, trace: Trace, jvmStartMs: Long) {
  /** Seconds from JVM start to now: the set-up time when called right
    * before the first timed operation.
    */
  def sinceStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
}

object Env {
  /** The measured window: whole operations, one after another, until
    * `seconds` have passed (at least one). Returns the window's length in
    * seconds. Stopping at the first end past `seconds`, not at the end
    * closest to it, keeps a run whose operations take a little longer
    * from measuring one operation fewer.
    */
  def window(seconds: Double)(op: () => Unit): Double = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    do op() while (elapsed < seconds)
    elapsed
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Process RSS high-water mark (executors run in this JVM). */
  def vmHwmKb(): Long = {
    val lines = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8).split("\n")
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null               => "null"
    case s: String          => quote(s)
    case b: Boolean         => b.toString
    case d: Double          => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int             => n.toString
    case n: Long            => n.toString
    case m: Map[_, _]       => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
                                 .mkString("{", ",", "}")
    case xs: Iterable[_]    => xs.map(apply).mkString("[", ",", "]")
    case other              => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}
