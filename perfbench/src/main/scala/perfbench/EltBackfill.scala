package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.pipelines._
import graft.sinks.{MockServingSink, ServingSink}
import graft.sources.Tables

/** `elt_backfill`: the five parity pipelines, run in overwrite mode over
  * the seeded raw-JSON lake, one pass after another (a closed loop with
  * one client: a DAG task waits for its pipelines before the next run).
  * One operation is one pass over `input/lake`; its latency runs from the
  * first raw read to the last table staged, served and reconciled.
  */
object EltBackfill {
  private val loadTs = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")

  /** The serving sink as the pipelines see it, with every bulk write
    * timed as a `sinks.serving_write` span.
    */
  final class TimedSink(inner: ServingSink, trace: Trace) extends ServingSink {
    override def execute(sql: String): Unit = inner.execute(sql)
    override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
      trace.span("sinks.serving_write")(inner.write(df, table, mode))
    override def count(table: String): Long = inner.count(table)
    override def writeDated(df: DataFrame, table: String, mode: SaveMode,
                            dateCol: String, date: java.sql.Date): Unit =
      trace.span("sinks.serving_write")(inner.writeDated(df, table, mode, dateCol, date))
  }

  /** The pipelines with the input globs their mains build for `all`. */
  private def pipelines(raw: String): Seq[(String, PipelineContext => Unit)] = {
    val meetings = Tables.datedGlob(s"$raw/zoom",
      "air-meetings-logs-{date}*/meetings_logs_{date}*.json", "all")
    val participants = s"$raw/zoom/*-meetings-data/*/participants_*.json"
    def vk(t: String) = Tables.datedGlob(s"$raw/vk", s"*{date}*/$t", "all")
    Seq(
      "jhub" -> (ctx => JhubPipeline.run(ctx,
        s"$raw/jhub/year=*/month=*/day=*/hour=*/*.json")),
      "zoom" -> (ctx => ZoomPipeline.run(ctx, meetings, participants)),
      "zoom_hst" -> (ctx => ZoomPipeline.runHst(ctx, meetings, participants, loadTs)),
      "vk" -> (ctx => VkPipeline.run(ctx, vk("gsom_ma.json"),
        vk("members_full_group_gsom_ma.json"), vk("wall_owner_id_*.json"), loadTs)),
      "monkey" -> (ctx => MonkeyPipeline.run(ctx, s"$raw/monkey/details/survey_*.json",
        s"$raw/monkey/responses/responses_*.json", loadTs)))
  }

  /** One backfill pass; returns every table's report entry. */
  private def pass(env: Env, raw: String, staging: String): Seq[Map[String, Any]] =
    pipelines(raw).flatMap { case (name, body) =>
      val ctx = new PipelineContext(env.spark,
        new TimedSink(new MockServingSink, env.trace), s"$staging/$name",
        SaveMode.Overwrite)
      env.trace.span(s"pipelines.$name")(body(ctx))
      ctx.report.map {
        case (table, Right(r)) => Map("pipeline" -> name, "table" -> table,
          "rows" -> r.rows, "served" -> r.served, "consistent" -> r.consistent)
        case (table, Left(e)) => Map("pipeline" -> name, "table" -> table,
          "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

  def run(env: Env): Map[String, Any] = {
    val staging = s"${env.work}/staging"
    val sessionReady = env.sinceStart()
    // untimed warm-up pass over a second lake of the same shapes and
    // volume: it runs every plan and row path the timed passes run. A
    // pass costs about the same at a tenth of the volume, and after such
    // a smaller warm-up the first timed pass ran slower than the rest
    pass(env, s"${env.input}/warmup", s"${env.work}/warmup")
    env.trace.reset()
    val setup = env.sinceStart()
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val window = Env.window(env.seconds) { () =>
      val (tables, secs) = Env.timed(
        env.trace.span("elt.pass")(pass(env, s"${env.input}/lake", staging)))
      ops += Map("latency_s" -> secs, "tables" -> tables)
    }
    val fs = new Path(staging).getFileSystem(env.spark.sparkContext.hadoopConfiguration)
    val files = mutable.ArrayBuffer.empty[Long]
    val it = fs.listFiles(new Path(staging), true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) files += f.getLen
    }
    Map("setup_s" -> setup, "window_s" -> window, "ops" -> ops.toSeq,
      "setup_parts" -> Map("session_s" -> sessionReady, "warmup_s" -> (setup - sessionReady)),
      "staged_files" -> files.size, "staged_bytes" -> files.sum)
  }
}
