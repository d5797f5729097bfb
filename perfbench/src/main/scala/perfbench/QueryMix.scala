package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `query_mix`: a fixed list of registered queries, each executed to the
  * `noop` sink, one after another in the order given (a closed loop with
  * one client). Set-up builds the stores the list reads (as `Bench`
  * does) and runs one untimed pass that digests every query's output for
  * the output check; the measured window then runs whole passes.
  */
object QueryMix {
  /** Queries whose on-disk store is pre-built in set-up, as in `Bench`. */
  private val storeQueries = Seq("dedup_incremental_stored", "ivf_stored_topk",
    "zonemap_prune_scan", "zonemap3_prune_scan", "zonemap_prune_string")

  /** In-memory stores (`SparkEntry.warmCaches`) each query reads. */
  private val storeNeeds = Map(
    "bpe_encode" -> Set("bpe"),
    "bm25_search" -> Set("bm25"),
    "bm25_search_rational" -> Set("bm25"),
    "hybrid_rrf" -> Set("bm25"),
    "hybrid_rrf_ann" -> Set("bm25", "ivf"),
    "hybrid_rrf_ann_recall" -> Set("bm25", "ivf"),
    "ivf_stored_topk" -> Set("ivf"))

  /** Registry guard: a renamed or removed query must fail the run, not
    * silently shrink the workload.
    */
  def checkRegistered(names: Seq[String]): Unit = {
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"query_mix names missing from SparkEntry.queries: ${missing.mkString(", ")}")
  }

  /** Row count and an order-insensitive content hash. Floating-point
    * values are hashed at 10 significant digits, so a different
    * summation order in the last bits does not change the digest.
    */
  def digest(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.10e", c.cast(DoubleType))
      case ArrayType(DoubleType | FloatType, _) =>
        transform(c, x => format_string("%.10e", x.cast(DoubleType)))
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1L << 40)).cast("decimal(38,0)")),
        bit_xor(col("h")))
      .head()
    (r.getLong(0), s"${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}")
  }

  def run(env: Env, names: Seq[String]): Map[String, Any] = {
    checkRegistered(names)
    val spark = env.spark
    val dir = env.input
    val registry = SparkEntry.queries
    def clean(): Unit = spark.catalog.clearCache()
    val sessionReady = env.sinceStart()
    for (q <- storeQueries if names.contains(q)) {
      registry(q)(spark, dir).write.format("noop").mode("overwrite").save()
      clean()
    }
    val needed = names.flatMap(storeNeeds.getOrElse(_, Set.empty)).toSet
    if (needed.nonEmpty) SparkEntry.warmCaches(spark, dir, needed)
    val storesBuilt = env.sinceStart()
    // untimed warm-up pass; its digests are the output check
    val checks = names.map { n =>
      val entry = try {
        val (rows, hash) = digest(registry(n)(spark, dir))
        Map("name" -> n, "rows" -> rows, "hash" -> hash)
      } catch { case e: Exception =>
        Map("name" -> n, "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      clean()
      entry
    }
    env.trace.reset()
    val setup = env.sinceStart()
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var passes = 0
    // whole passes only, so every run times the same query set
    val window = Env.window(env.seconds) { () =>
      names.foreach { n =>
        val (ok, secs) = Env.timed(try {
          env.trace.span("queries.query") {
            val df = env.trace.span("queries.build")(registry(n)(spark, dir))
            env.trace.span("queries.exec")(
              df.write.format("noop").mode("overwrite").save())
          }
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
          false
        })
        clean()
        ops += Map("name" -> n, "pass" -> passes, "latency_s" -> secs, "ok" -> ok)
      }
      passes += 1
    }
    Map("setup_s" -> setup, "window_s" -> window, "ops" -> ops.toSeq,
      "checks" -> checks, "setup_parts" -> Map("session_s" -> sessionReady,
        "stores_s" -> (storesBuilt - sessionReady), "warmup_s" -> (setup - storesBuilt)))
  }
}
