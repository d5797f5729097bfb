package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR, forcing full execution through the noop sink (a
  * bare count() lets Catalyst prune projections and under-reports), and
  * prints ONE compact JSON line as the LAST stdout output. Failures are
  * reported explicitly (value -1 and listed under "failures") — never
  * silently folded into a timing.
  *
  * Headline timings are per-query MINS over SPARK_GRAFT_BENCH_RUNS
  * passes (default 5): the shared host shows ±50% ADDITIVE noise
  * run-to-run (SCALE.md), so the min of N passes is the noise-robust
  * per-query cost and the min total is the round-over-round number
  * (medians inherited whatever load the closing window happened to
  * carry — the r14 artifact read 309 s for code whose quiet-window
  * cost was 262 s). Per-query {min, med, max, tag} spread plus BOTH
  * totals and per-pass loadavg — the noise-vs-regression signal — is
  * written to tools/bench_spread.json (SPARK_GRAFT_SPREAD_OUT), NOT
  * stdout: the harness captures only a ~2000-char stdout tail, and the
  * inline spread object pushed round 6's line past it (parsed: null).
  * The stdout line therefore stays compact (2-decimal timings, no
  * spread) and is printed after spark.stop() with logging silenced, so
  * no late log line can land between it and process exit.
  * SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries for focused
  * iteration.
  */
object Bench {

  /** One timed pass under a wall-clock watchdog. Returns Right(seconds)
    * on success, Left(reason) on failure OR timeout. Exists because a
    * single pathological query must never again produce an unparseable
    * round artifact: r9's bench ran one query into a multi-GiB
    * plan-string build and the whole process hit the driver's `timeout`
    * — no JSON line, no numbers for ANY of the other 114 queries. With
    * the watchdog the stuck query becomes one "failures" entry and the
    * run continues.
    *
    * The body runs on a daemon thread with its own Spark job group
    * (`interruptOnCancel = true`); on timeout the group's jobs are
    * cancelled so executors stop burning cores. A DRIVER-side hang
    * (e.g. plan stringification) is not cancellable — the thread is
    * abandoned to its fate (daemon: it cannot block JVM exit) and the
    * loop moves on, which is exactly the containment that matters.
    * The body runs in one [[graft.operators.Pin.scope]], so no frame
    * the query caches or pins outlives it.
    */
  def timedPass(spark: SparkSession, name: String, body: () => Unit,
                timeoutSec: Int): Either[String, Double] = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val group = s"bench-$name"
    val t0 = System.nanoTime()
    val th = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try graft.operators.Pin.scope(body())
        finally spark.sparkContext.clearJobGroup()
      } catch { case t: Throwable => err.set(t) }
      finally done.countDown()
    }, group)
    th.setDaemon(true)
    th.start()
    val finished = done.await(timeoutSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) {
      spark.sparkContext.cancelJobGroup(group)
      Left(s"timeout after ${timeoutSec}s")
    } else Option(err.get()) match {
      case Some(t) => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}")
      case None    => Right((System.nanoTime() - t0) / 1e9)
    }
  }

  /** Trailing-zero strip of a fixed-scale decimal ("0.50"->"0.5",
    * "1.00"->"1") — pure byte savings on the tail-budgeted line.
    */
  def trimZeros(s: String): String =
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
    else s

  private def rounded(d: Double, scale: Int): String =
    trimZeros(BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString)

  /** The one stdout line the harness parses. Hard budget: the harness
    * keeps only a ~2000-char stdout tail and sbt's trailing "[success]"
    * line occupies ~66 of it, so the line must fit `budget` chars or
    * the artifact loses its head (rounds 4 and 6 both shipped truncated
    * artifacts before this was enforced). Fallback chain 2 -> 1 -> 0
    * decimals; at 0 decimals sub-second queries print as "0" — names,
    * count and total stay parseable, and the authoritative 3-decimal
    * numbers are in the spread file regardless. Failures ride stdout
    * only when non-empty (they matter more than precision); runs/
    * loadavg/spread live in the side file only. If even 0 decimals
    * cannot fit (query NAMES dominate the width eventually), the line
    * keeps the slowest queries that fit and reports the rest as
    * "queries_omitted": a parseable artifact with the informative tail
    * beats a complete one the capture truncates unparseably.
    */
  def compactLine(results: Seq[(String, Double)], failures: Set[String],
                  sfDir: String, budget: Int = 1850,
                  metric: String = "total"): String = {
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failuresField =
      if (failures.isEmpty) ""
      else failures.toSeq.sorted.map("\"" + _ + "\"")
        .mkString(""","failures":[""", ",", "]")
    def mk(scale: Int, keep: Seq[(String, Double)]): String = {
      val omitted = results.size - keep.size
      val omittedField =
        if (omitted == 0) "" else s""","queries_omitted":$omitted"""
      val qs = keep
        .map { case (k, v) => "\"" + k + "\":" + rounded(v, scale) }
        .mkString("{", ",", "}")
      s"""{"metric":"$metric","value":${rounded(total, 2)},"unit":"sec","queries":$qs$failuresField$omittedField,"sf":"$sfDir"}"""
    }
    Iterator(2, 1, 0).map(mk(_, results)).find(_.length <= budget)
      .getOrElse {
        // slowest-first truncation (failures sort first via -1 < times
        // being false — force failures kept by sorting them to the top)
        val prioritized = results.sortBy { case (n, v) =>
          (if (v < 0) Double.NegativeInfinity else -v, n)
        }
        Iterator.range(prioritized.size - 1, 0, -1)
          .map { k =>
            val keepSet = prioritized.take(k).map(_._1).toSet
            mk(1, results.filter { case (n, _) => keepSet(n) })
          }
          .find(_.length <= budget)
          .getOrElse(mk(1, Seq.empty))
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    require(runs >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $runs")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val watchdogSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMEOUT_SEC", "120").toInt
    require(watchdogSec >= 1,
      s"SPARK_GRAFT_BENCH_TIMEOUT_SEC must be >= 1, got $watchdogSec")
    val spark = SessionFactory.driver("graft-bench", defaultCpus = "32")
    // Untimed warmup: initialize codegen, parquet reader and scheduler
    // paths so the alphabetically-first query doesn't absorb session
    // startup in its timing.
    graft.sources.Tables.load(spark, sfDir, "region").count()
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    // Pre-build the on-disk stores (untimed): the *_stored queries
    // exist to measure the DAILY MARGINAL cost against a
    // pre-materialized store (signature store / list-partitioned IVF
    // index), so the one-time store build belongs in setup, not in
    // pass 1's timing/max. Each query builds on first call and reads
    // the store on every later one.
    // (skip a store build when a SPARK_GRAFT_BENCH_ONLY selection
    // excludes its query — no point paying it for a one-query rerun)
    // `dedup_incremental` (no _stored suffix) is DELIBERATELY absent:
    // the pair exists to price both sides of the incremental contract —
    // the _stored twin measures the daily MARGINAL cost against a
    // prebuilt signature store, the inline form measures the full
    // rebuild a user pays when no store exists yet. Pre-building its
    // store too would leave the row measuring neither; the ~3.3 s min
    // vs the twin's marginal cost IS the documented comparison
    // (SCALE.md "incremental dedup").
    for (storeQuery <- Seq("dedup_incremental_stored", "ivf_stored_topk",
           "zonemap_prune_scan", "zonemap3_prune_scan",
           "zonemap_prune_string")
         if only.forall(_.contains(storeQuery));
         q <- SparkEntry.queries.get(storeQuery))
      timedPass(spark, s"store-warmup:$storeQuery", () => {
        q(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      }, watchdogSec).left.foreach(r =>
        System.err.println(s"[bench] store warmup ($storeQuery) failed: $r"))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Explicit memoized-store warmup, LOGGED: the sigstore convention
    // prices store builds in setup; doing it lazily meant the split
    // depended on pass order, and a runner reorder could fold a build
    // into one query's first pass with nothing saying so. Only the
    // stores the SELECTED queries actually read are built (a BPE-only
    // rerun must not pay two BM25 builds + a k-means fit). Caveat,
    // stated so the log is never read as more than it is: the BPE
    // merges and IVF model are driver values and stay warm for every
    // pass; the BM25 index is a persisted DataFrame whose blocks the
    // per-pass equal-cold clearCache() below drops, so BM25 searches
    // still re-derive the index inside their timed plans.
    val storeNeeds = Map(
      "bpe_encode" -> Set("bpe"),
      "bm25_search" -> Set("bm25"),
      "bm25_search_rational" -> Set("bm25"),
      "hybrid_rrf" -> Set("bm25"),
      "hybrid_rrf_ann" -> Set("bm25", "ivf"),
      "hybrid_rrf_ann_recall" -> Set("bm25", "ivf"),
      "ivf_stored_topk" -> Set("ivf"))
    val needed = selected.map(_._1).flatMap(storeNeeds.getOrElse(_, Set.empty)).toSet
    if (needed.nonEmpty)
      timedPass(spark, "cache-warmup", () => {
        val report = SparkEntry.warmCaches(spark, sfDir, needed)
        System.err.println(s"[bench] warmed stores: ${report.mkString(", ")}" +
          " (bm25 blocks re-derived per timed pass by the equal-cold policy)")
      }, watchdogSec).left.foreach(r =>
        System.err.println(s"[bench] cache warmup failed: $r"))
    var failures = Set.empty[String]
    // host contention forensics per PASS (SCALE.md noise methodology):
    // the r14 closing spread was captured in a loaded window and its
    // median total inherited ~15% noise nobody could see until the
    // loadavg was checked after the fact — record it as we go
    def loadavgNow: String = try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.split(" ").take(3).mkString("[", ",", "]")
    } catch { case _: Exception => "[]" }
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[String]
    Hostmark.warm()
    val marks1t = scala.collection.mutable.ArrayBuffer.empty[Double]
    val marksMt = scala.collection.mutable.ArrayBuffer.empty[Double]
    // pass-major order (all queries per pass, passes back to back) so two
    // passes of one query never run against a hot cache the others missed
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    for (pass <- 1 to runs) {
      val startLoad = loadavgNow
      marks1t += Hostmark.mark1t()
      marksMt += Hostmark.markMt()
      for ((name, fn) <- selected if !failures.contains(name)) {
        timedPass(spark, name,
          () => fn(spark, sfDir).write.format("noop").mode("overwrite").save(),
          watchdogSec) match {
          case Right(sec) =>
            samples(name) = sec :: samples.getOrElse(name, Nil)
          case Left(reason) =>
            System.err.println(s"[bench] $name FAILED: $reason")
            failures += name
        }
        // Each query's own caches and pins are freed by its timedPass
        // scope; clearing the cache here also drops the memoized BM25
        // index's blocks, so every timed pass is equally cold. ONLY
        // clearCache() runs between queries: the round-13 harness ran a
        // listTables sweep + System.gc() here and inflated every
        // subsequent timed pass ~1.3× (full-GC aftermath — weak-ref
        // cleanup storms, evicted code/broadcast re-derivation — bleeds
        // into the next timing even though the sweep itself is
        // untimed). Proven by an idle-host A/B/A/B on a 14-query probe:
        // stock r13 45.6/50.1 s vs sweep-reverted 33.8 s vs r12 code
        // 34.5 s. See SCALE.md "noise vs regression".
        spark.catalog.clearCache()
      }
      // Catalog hygiene for 200+ queries sharing one JVM now happens at
      // PASS boundaries (between run k and run k+1 of the whole set),
      // where the GC aftermath has a full untimed settle window before
      // the next timed pass begins.
      spark.catalog.listTables().collect()
        .filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
      passLoads += s"""{"pass":$pass,"start":$startLoad,"end":$loadavgNow}"""
      if (pass < runs) { System.gc(); Thread.sleep(2000) }
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s((s.size - 1) / 2) // lower median — conservative for even sizes
    }
    // HEADLINE = sum of per-query MINS. The shared host shows ±50%
    // run-to-run noise and noise is strictly additive, so the min of N
    // passes is the best proxy for a query's true cost and the min
    // total is the noise-robust round-over-round number (the r14
    // verdict: the median-total headline inherited a loaded closing
    // window and read 309 s for code whose quiet-window cost was
    // 262 s). Medians/maxes stay in the spread for dispersion review.
    val results = selected.map { case (name, _) =>
      name -> (if (failures.contains(name)) -1.0 else median(samples(name)))
    }
    val minResults = selected.map { case (name, _) =>
      name -> (if (failures.contains(name)) -1.0 else samples(name).min)
    }
    def ms(d: Double): String =
      BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // bench accounting tag (production | portable-twin | gate) rides
    // each spread row so check_bench.py can report the production-only
    // total — twin/gate cost prices oracle service, not the engine
    val tags = SparkEntry.queryTags
    val spread = results.collect { case (name, v) if v >= 0 =>
      val s = samples(name)
      "\"" + name + "\":{\"min\":" + ms(s.min) + ",\"med\":" + ms(v) +
        ",\"max\":" + ms(s.max) +
        ",\"tag\":\"" + tags.getOrElse(name, "production") + "\"}"
    }.mkString("{", ",", "}")
    val totalMed = results.collect { case (_, v) if v >= 0 => v }.sum
    val totalMin = minResults.collect { case (_, v) if v >= 0 => v }.sum
    val qs3 = minResults.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val fstr = failures.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadavg = loadavgNow
    val compact = compactLine(minResults, failures, sfDir,
      metric = "total_min")
    // hostmark: min over passes, same comparator as every query (the
    // sink read keeps the calibration loops observable end to end)
    val hostmarks =
      s""""hostmark_1t":${ms(marks1t.min)},"hostmark_mt":${ms(marksMt.min)},""" +
        s""""hostmark_sink":${Hostmark.sinkValue},"""
    val full = s"""{"metric":"total_min","value":${ms(totalMin)},"total_min":${ms(totalMin)},"total_med":${ms(totalMed)},"unit":"sec","queries":$qs3,"spread":$spread,"failures":$fstr,"runs":$runs,$hostmarks"shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},"loadavg":$loadavg,"pass_loadavg":${passLoads.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    val spreadOut = sys.env.getOrElse("SPARK_GRAFT_SPREAD_OUT", "tools/bench_spread.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(spreadOut), (full + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $spreadOut: ${e.getMessage}")
    }
    // Silence log output and stop the session BEFORE the compact line so
    // nothing (shutdown logs included) prints after it — it must be the
    // last thing in the stdout tail.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    System.out.flush()
    println(compact)
    System.out.flush()
    if (failures.nonEmpty) sys.exit(1)
  }
}

/** Fixed, data-independent CPU calibration shared by every timing main
  * ([[Bench]] per pass, [[PipelineBench]] per capture). The r16 closing
  * window measured EVERY query — pure-JVM kernels included — uniformly
  * ~1.54× of r15 on an IDLE host: a host-throughput level shift, which
  * per-query min-of-N (additive-noise armor) and the bless dispersion
  * gate (uniform ⇒ low dispersion ⇒ blessed) are both structurally
  * blind to. Two marks: single-thread (per-core throughput — the thing
  * a noisy hypervisor neighbor or frequency change moves) and a 32-way
  * parallel variant (adds contention). `tools/check_bench.py` divides
  * round-over-round ratios by the hostmark ratio when both artifacts
  * carry it, so "the host got slower" and "the code got slower"
  * separate mechanically. Call [[warm]] once before the first timed
  * mark: pass 1 would otherwise time the kernel's interpreted/C1
  * execution and overstate the mark (the sink keeps the loops
  * observable end to end).
  */
object Hostmark {
  private val sink = new java.util.concurrent.atomic.AtomicLong()

  private def xorshiftSum(seed0: Long, iters: Long): Long = {
    var x = seed0; var acc = 0L; var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
    }
    acc
  }

  def warm(): Unit =
    sink.addAndGet(xorshiftSum(0xDEADBEEFL, 400000000L))

  def mark1t(): Double = {
    val t0 = System.nanoTime()
    sink.addAndGet(xorshiftSum(0x9E3779B97F4A7C15L, 400000000L))
    (System.nanoTime() - t0) / 1e9
  }

  def markMt(): Double = {
    val t0 = System.nanoTime()
    java.util.stream.IntStream.range(0, 32).parallel().forEach { lane =>
      sink.addAndGet(xorshiftSum(0x100000001B3L + lane, 50000000L))
    }
    (System.nanoTime() - t0) / 1e9
  }

  def sinkValue: Long = sink.get()
}
