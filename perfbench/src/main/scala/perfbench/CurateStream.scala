package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.pipelines.CorpusPipeline
import graft.streaming.Streams

/** `curate_stream`: `Streams.incrementalDedupStream` drains the seeded
  * document micro-batches from a landing directory. The next file lands
  * only after the previous batch commits (a closed loop with one
  * client); a batch's latency runs from the file landing to
  * `processAllAvailable` returning. The first batch, which bootstraps the
  * empty signature store, is the untimed warm-up; the timed batches are
  * the first to run against the store.
  */
object CurateStream {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def run(env: Env): Map[String, Any] = {
    val sessionReady = env.sinceStart()
    val spark = env.spark
    val batches = new File(env.input).listFiles()
      .filter(_.getName.startsWith("batch_")).sortBy(_.getName)
    val landing = new File(env.work, "landing")
    landing.mkdirs()
    val sigStore = s"${env.work}/sigstore"
    val curated = s"${env.work}/curated"
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(landing.getPath)
    val query = Streams.incrementalDedupStream(docs, sigStore, curated,
      s"${env.work}/checkpoint", CorpusPipeline.Config(),
      Trigger.ProcessingTime(0)).start()
    def land(i: Int): Double = {
      Files.move(batches(i).toPath, new File(landing, batches(i).getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      Env.timed(query.processAllAvailable())._2
    }
    try {
      land(0)
      env.trace.reset()
      val setup = env.sinceStart()
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      var i = 1
      val window = Env.window(env.seconds) { () =>
        require(i < batches.length, s"only ${batches.length} batches were generated")
        val secs = env.trace.span("streaming.batch")(land(i))
        ops += Map("batch" -> i, "latency_s" -> secs,
          "cached_rdds" -> spark.sparkContext.getPersistentRDDs.size)
        i += 1
      }
      query.stop()
      import spark.implicits._
      val kept = spark.read.parquet(curated).select("doc_id").as[Long].collect().sorted
      val fs = new Path(sigStore).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val storeFiles = fs.listStatus(new Path(sigStore))
        .count(_.getPath.getName.endsWith(".parquet"))
      Map("setup_s" -> setup, "window_s" -> window, "ops" -> ops.toSeq,
        "setup_parts" -> Map("session_s" -> sessionReady, "warmup_s" -> (setup - sessionReady)),
        "batches_landed" -> i, "kept_ids" -> kept.toSeq,
        "store_rows" -> spark.read.parquet(sigStore).count(),
        "store_files" -> storeFiles)
    } finally if (query.isActive) query.stop()
  }
}
