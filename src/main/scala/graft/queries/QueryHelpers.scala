package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Fingerprint, Fnv64, LogParse, TextFunctions, Timestamps, VectorFunctions}
import graft.operators.{Dedup, Explodes, Flatten, Multimodal, Pin, Sampling, Similarity}
import graft.sources.Tables

/** Shared plumbing behind the [[graft.SparkEntry]] query registry —
  * table loads, decimal/timestamp canonicalizers, recall gates, the
  * memoized per-(session, dir) store fits (BPE merges, BM25 index,
  * IVF model, integer Lloyd) and the deterministic CDC/multimodal
  * fixture builders. Split out of SparkEntry.scala (which passed
  * 8,000 LoC) purely mechanically; every member keeps its SparkEntry
  * semantics and scaladoc.
  */
private[graft] object QueryHelpers {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The curation-funnel parameters every corpus_curation* and
    * dedup_incremental* query (and its DuckDB oracle) runs at; the
    * `_portable` twins copy it with `hash = SigHash.Md5`.
    */
  private[graft] val curationCfg = graft.pipelines.CorpusPipeline.Config(
    minQuality = 0.3, keepLangs = Seq("en"), minTokens = 5, shingleSize = 3,
    numHashes = 64, bands = 16, minEstJaccard = 0.7, featureDim = 8)

  /** Deterministic CDC delta for the cdc_merge/cdc_merge_summary pair:
    * inserts (src15-19), updates (in-range de docs uppercased), deletes
    * (doc_id%7), a later-seq re-upsert (doc_id%11 — overrides the
    * delete where both hit) and a latest-seq delete of a not-in-base id
    * (src15-19 ∧ doc_id%13 — cancels its own insert AND exercises the
    * delete_noop action). (doc_id, seq) is unique by construction: each
    * branch uses a distinct seq except inserts/updates, whose id sets
    * are disjoint (source ranges don't overlap).
    */
  private[graft] def cdcChanges(docs: DataFrame, base: DataFrame): DataFrame = {
    val inserts = docs.filter(col("source").rlike("^src1[5-9]$"))
      .select(col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    val updates = docs.filter(col("source").rlike("^src([5-9]|1[0-4])$") &&
        col("lang") === "de")
      .select(col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
        upper(col("text")).as("text"), col("lang"), col("source"),
        col("n_chars"))
    val deletes = base.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), lit(2L).as("seq"), lit("delete").as("op"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    val lateUpserts = base.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"), lit(3L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" [v3]")).as("text"), col("lang"),
        col("source"), col("n_chars"))
    val lateDeletes = docs.filter(col("source").rlike("^src1[5-9]$") &&
        col("doc_id") % 13 === 0)
      .select(col("doc_id"), lit(4L).as("seq"), lit("delete").as("op"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    inserts.unionByName(updates).unionByName(deletes)
      .unionByName(lateUpserts).unionByName(lateDeletes)
  }

  /** Image-variant corpus for the image_near_dup pair: ≤64 anchor docs
    * (doc_id % 8 = 0, doc_id < 512 — the capped-anchor convention, flat
    * across SFs) rendered as PNG originals plus ONE planted variant
    * each, kind = (doc_id % 24)/8: 0 → BMP re-encode of the SAME pixels
    * (content dup, zero shared bytes), 1 → crop (offset (1,1), dims
    * −1), 2 → unrelated (seed + 7777). Variant asset ids are
    * doc_id + 100000. Returns (media frame, variant descriptor frame).
    */
  private[graft] def imageVariantCorpus(s: SparkSession,
                                 dir: String): (DataFrame, DataFrame) = {
    import graft.operators.Multimodal
    val anchors = t(s, dir, "documents")
      .filter(col("doc_id") % 8 === 0 && col("doc_id") < 512)
      .select(col("doc_id"))
    val kind = ((col("doc_id") % 24) / 8).cast("int")
    val originals = anchors.select(
      col("doc_id").as("img_id"), col("doc_id").as("seed"),
      (col("doc_id") % 13 + 4).cast("int").as("w"),
      (col("doc_id") % 11 + 3).cast("int").as("h"),
      lit(0).as("dx"), lit(0).as("dy"), lit("png").as("fmt"))
    val variants = anchors.select(
      (col("doc_id") + 100000).as("img_id"),
      when(kind === 2, col("doc_id") + 7777).otherwise(col("doc_id"))
        .as("seed"),
      when(kind === 1, col("doc_id") % 13 + 3)
        .otherwise(col("doc_id") % 13 + 4).cast("int").as("w"),
      when(kind === 1, col("doc_id") % 11 + 2)
        .otherwise(col("doc_id") % 11 + 3).cast("int").as("h"),
      when(kind === 1, 1).otherwise(0).as("dx"),
      when(kind === 1, 1).otherwise(0).as("dy"),
      when(kind === 0, "bmp").otherwise("png").as("fmt"))
    val spec = originals.unionByName(variants)
    (Multimodal.synthesizeImageVariants(spec, col("img_id"), col("seed"),
      col("w"), col("h"), col("dx"), col("dy"), col("fmt")), spec)
  }

  /** Audio-variant corpus for audio_near_dup — same anchor/kind scheme
    * as [[imageVariantCorpus]] over chirp clips: kind 0 → AIFF
    * re-encode of the same samples (content dup, big-endian container:
    * zero shared bytes with the WAV), 1 → truncation to 4/5 length,
    * 2 → unrelated seed (+7777).
    */
  private[graft] def audioVariantCorpus(s: SparkSession,
                                 dir: String): (DataFrame, DataFrame) = {
    import graft.operators.Multimodal
    val anchors = t(s, dir, "documents")
      .filter(col("doc_id") % 8 === 0 && col("doc_id") < 512)
      .select(col("doc_id"))
    val kind = ((col("doc_id") % 24) / 8).cast("int")
    val n = col("doc_id") % 97 + 40
    val originals = anchors.select(
      col("doc_id").as("clip_id"), col("doc_id").as("seed"),
      n.cast("int").as("n"), lit("wav").as("ft"))
    val variants = anchors.select(
      (col("doc_id") + 100000).as("clip_id"),
      when(kind === 2, col("doc_id") + 7777).otherwise(col("doc_id"))
        .as("seed"),
      when(kind === 1, (n * 4 / 5).cast("int")).otherwise(n.cast("int"))
        .as("n"),
      when(kind === 0, "aiff").otherwise("wav").as("ft"))
    val spec = originals.unionByName(variants)
    (Multimodal.synthesizeAudioVariants(spec, col("clip_id"), col("seed"),
      col("n"), col("ft")), spec)
  }

  /** Video-variant corpus for video_near_dup — the same anchor scheme
    * with TWO kinds (alternating by (doc_id % 16)/8): 0 → the same
    * sloped-pixel frames re-encoded as BMP inside the container
    * (content dup, zero shared bytes with the PNG-framed original),
    * 1 → unrelated (seed + 7777). 6×4 frames, doc_id%7+3 of them.
    */
  private[graft] def videoVariantCorpus(s: SparkSession,
                                 dir: String): (DataFrame, DataFrame) = {
    import graft.operators.Multimodal
    val anchors = t(s, dir, "documents")
      .filter(col("doc_id") % 8 === 0 && col("doc_id") < 512)
      .select(col("doc_id"))
    val kind = ((col("doc_id") % 16) / 8).cast("int")
    val nf = (col("doc_id") % 7 + 3).cast("int")
    val originals = anchors.select(
      col("doc_id").as("vid_id"), col("doc_id").as("seed"),
      nf.as("nf"), lit("png").as("fmt"))
    val variants = anchors.select(
      (col("doc_id") + 100000).as("vid_id"),
      when(kind === 1, col("doc_id") + 7777).otherwise(col("doc_id"))
        .as("seed"),
      nf.as("nf"),
      when(kind === 0, "bmp").otherwise("png").as("fmt"))
    val spec = originals.unionByName(variants)
    (Multimodal.synthesizeVideoVariants(spec, col("vid_id"), col("seed"),
      col("nf"), col("fmt"), w = 6, h = 4), spec)
  }

  // trained BPE merge tables, one per (application, table dir): training
  // is a driver loop of count jobs that a production run pays once per
  // vocabulary, not once per encode — memoizing keeps bpe_encode's
  // timed passes measuring the encode path (the sigstore convention)
  private[graft] val bpeMergeCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Seq[(String, String)]]

  // materialized BM25 indexes, one per (application, table dir, idf
  // flavour) — same sigstore convention as the merges above: a lexical
  // index is built once and searched millions of times, so the three
  // search-side queries (bm25_search, bm25_search_rational, hybrid_rrf)
  // measure the SEARCH path against a persisted index; bm25_index
  // itself keeps timing the full build
  private[graft] val bm25IndexCache = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), org.apache.spark.sql.DataFrame]

  private[graft] def bm25IndexFor(s: SparkSession, dir: String,
                           weight: graft.operators.TermWeights.IdfWeight)
      : DataFrame =
    bm25IndexCache.getOrElseUpdate(
      (s.sparkContext.applicationId, dir, weight.getClass.getSimpleName), {
        import graft.operators.Bm25
        // the one raw persist in src/main: an application-lifetime
        // memo, which no query scope may own (and free under later reads)
        val idx = Bm25.bm25Index(Tables.load(s, dir, "documents"),
            col("doc_id"), col("text"), k1 = 1.2, b = 0.75, weight = weight)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        idx.count() // materialize now so timed passes measure search
        idx
      })

  // the dense-side sigstore: an IVF index (centroid model + corpus
  // assignment) is fit/written ONCE and probed millions of times, so
  // the hybrid ANN queries measure the PROBE path against a memoized
  // model — same convention as the BM25 index above. The model is the
  // bit-reproducible quantized distributed fit (nlist=16, seed 42), so
  // memoization changes cost only, never results. ivf_topk keeps
  // timing its full build deliberately (the bm25_index counterpart).
  private[graft] val ivfModelCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), graft.operators.Ivf.IvfModel]

  private[graft] def ivfModelFor(s: SparkSession, dir: String)
      : graft.operators.Ivf.IvfModel =
    ivfModelCache.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      val embs = Tables.load(s, dir, "embeddings")
      graft.operators.Ivf.fitDistributed(embs, col("vec_id"),
        col("embedding"), nlist = 16)
    })

  /** Store kinds [[warmCaches]] knows how to pre-materialize. */
  val AllStores: Set[String] = Set("bpe", "bm25", "ivf")

  /** Pre-materialize the requested memoized per-(session, dir) stores —
    * the trained BPE merge table, the BM25 index flavours, the IVF
    * model — and report what happened to each. Exists so Bench can
    * warm them EXPLICITLY before timed passes and log the outcome: the
    * sigstore convention prices store BUILD in setup and the read path
    * in the timed loop, and without this call that split silently
    * depended on which query's first pass happened to run first (a
    * runner reorder would fold a build into one query's timing with
    * nothing saying so). The guarantee differs by store kind: the BPE
    * merges and IVF model are DRIVER-side values — once built they
    * stay warm for every pass — while the BM25 entries are persisted
    * DataFrames whose cached blocks Bench's per-pass equal-cold
    * `clearCache()` deliberately drops, so BM25 search passes still
    * re-derive the index inside the timed plan (conservative: searches
    * never measure faster than a cold run) and the warm genuinely
    * holds only for consumers that do not clear the cache (Verify).
    * `stores` selects which kinds to build — a focused bench rerun
    * must not pay a k-means fit for a BPE-only selection. Idempotent:
    * a second call reports `already-warm` and does no work
    * (spec-pinned).
    */
  def warmCaches(s: SparkSession, dir: String,
                 stores: Set[String] = AllStores): Seq[String] = {
    import graft.operators.{BpeStats, TermWeights}
    require(stores.subsetOf(AllStores), s"unknown stores: ${stores -- AllStores}")
    val app = s.sparkContext.applicationId
    val report = Seq.newBuilder[String]
    if (stores("bpe")) {
      val had = bpeMergeCache.contains((app, dir))
      bpeMergeCache.getOrElseUpdate((app, dir),
        BpeStats.trainMerges(t(s, dir, "documents"), col("text"), steps = 6))
      report += s"bpe_merges=${if (had) "already-warm" else "warmed"}"
    }
    if (stores("bm25"))
      Seq(TermWeights.RationalIdf, TermWeights.LogIdf).foreach { w =>
        val flavour = w.getClass.getSimpleName
        val had = bm25IndexCache.contains((app, dir, flavour))
        bm25IndexFor(s, dir, w)
        report += s"bm25_index_$flavour=${if (had) "already-warm" else "warmed"}"
      }
    if (stores("ivf")) {
      val had = ivfModelCache.contains((app, dir))
      ivfModelFor(s, dir)
      report += s"ivf_model=${if (had) "already-warm" else "warmed"}"
    }
    report.result()
  }

  /** Pinned merge table for `bpe_encode_portable` — a FIXED bounded
    * vocabulary (vs the runtime-trained list `bpe_encode` uses), which
    * is what lets the encode kernel be held to a DuckDB oracle: the
    * oracle SQL is GENERATED from this same constant by folding each
    * merge into one string `replace` over delimiter-wrapped tokens
    * (greedy left-to-right non-overlapping replace ≡ the kernel's
    * per-merge pass, see [[bpeEncodePortableOracle]]). The list is
    * deliberately adversarial: an overlapping self-pair
    * (order,order), second-order merges consuming first-order outputs
    * ((orderorder,order), (aggpart,filter)), and pairs that may never
    * occur (each still costs the kernel one scan).
    */
  private[graft] val BpePortableMerges: Seq[(String, String)] = Seq(
    ("order", "order"), ("orderorder", "order"), ("order", "fast"),
    ("agg", "part"), ("aggpart", "filter"), ("data", "slow"),
    ("scan", "a"), ("stream", "column"), ("window", "join"),
    ("join", "column"), ("line", "agg"), ("line", "group"),
    ("the", "batch"), ("sort", "merge"), ("key", "data"),
    ("orderfast", "keydata"))

  /** DuckDB twin of the merge-kernel encode over [[BpePortableMerges]]:
    * tokens wrap as chr(2)tok chr(3) so one `replace` per merge is
    * exactly one greedy left-to-right non-overlapping pass — the
    * wrapped form makes adjacent matches share no delimiter characters,
    * so [a,b,a,b] merges twice, [a,a,a] merges once (kernel-identical);
    * a bare 'sep-joined' encoding would under-merge, because a match
    * consumes the boundary the next match needs.
    */
  private[graft] def bpeEncodePortableOracle: String = {
    BpePortableMerges.foreach { case (a, b) =>
      require((a + b).forall(_.isLetter), s"merge tokens must be plain words: $a,$b")
    }
    val base = "chr(2) || replace(text, ' ', chr(3)||chr(2)) || chr(3)"
    val enc = BpePortableMerges.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, chr(2)||'$a'||chr(3)||chr(2)||'$b'||chr(3), chr(2)||'$a$b'||chr(3))"
    }
    s"""WITH enc AS (SELECT doc_id, $enc AS s FROM documents)
       |SELECT doc_id,
       | CAST(length(s) - length(replace(s, chr(2), '')) AS BIGINT) AS n_tokens,
       | array_to_string(list_slice(
       |   string_split(substr(s, 2, length(s) - 2), chr(3)||chr(2)), 1, 8), ' ')
       |   AS head_tokens
       |FROM enc""".stripMargin
  }

  /** Exact decimal staging for money sums: per-row cast is a single
    * well-defined rounding of the same double in every engine; the decimal
    * sum is exact; the final cast back to double is one more shared
    * rounding. Avoids order-dependent double accumulation.
    */
  private[graft] def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private[graft] def dec6(c: Column): Column = c.cast("decimal(24,6)")
  private[graft] def ntz(c: Column): Column = c.cast("timestamp_ntz")

  /** Macro-averaged recall of an approximate top-k against the exact
    * brute-force top-k, with the floor ENFORCED in-query: assert_true
    * throws at every harness run if recall drops below `floor`, so ANN
    * quality is a hard gate, not a spec-only observation (AnnRecallSpec
    * keeps the parameter-sensitivity coverage). One summary row:
    * (n_queries, macro_recall, recall_floor).
    */
  private[graft] def recallGate(exact: DataFrame, approx: DataFrame,
                         floor: Double, what: String): DataFrame = {
    // ONE reference to each arm (r17): the previous shape referenced
    // `truth` twice (hit semi-join + denominator agg), so the exact arm
    // — the expensive side by construction (brute-force top-k, all-pairs
    // windows, a full exact fusion in hybrid_rrf_ann_recall) — was
    // planned and evaluated twice inside the one gate action. A left
    // join against the approx pair set marks hits and counts hits and
    // denominators in a single per-query aggregate. Correctness rests on
    // approx being duplicate-free on (query_id, neighbor_id) — a
    // duplicated approx pair would inflate n_exact (join fan-out), not
    // just n_hit, silently loosening the asserted gate — so the
    // invariant is ENFORCED here (r18 advice): the dropDuplicates is a
    // no-op exchange on the small approx arm for every current caller
    // (top-k outputs and distinct-ed pair sets), and a future arm that
    // forgets its distinct() can no longer corrupt the denominator.
    val truth = exact.select(col("query_id"), col("neighbor_id"))
    val hit = approx.select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("__hit", lit(1L))
    truth.join(hit, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hit"))
      .agg(count(lit(1)).as("n_queries"),
        avg(col("n_hit") / col("n_exact")).as("macro_recall"))
      .withColumn("recall_floor", lit(floor))
      // Empty truth set ⇒ the gate is VACUOUSLY satisfied (n_queries = 0
      // rides the summary row so the vacuousness is auditable), not a
      // failure: avg() over zero rows is NULL, and assert_true(NULL)
      // raises — with a NULL message, since the concat absorbs the NULL
      // recall. Hit in practice when a testdata refresh leaves no exact
      // pair in a windowed truth set at the smallest SF
      // (embed_near_dup_srp_scaled at sf0.001, r17): the floor must bind
      // where truth exists and pass where there is nothing to recall.
      .where(assert_true(
        col("n_queries") === 0L || col("macro_recall") >= col("recall_floor"),
        concat(lit(s"$what recall below floor $floor: "),
          col("macro_recall"))).isNull)
  }

  /** The shared integer-grid Lloyd fit behind the PORTABLE embedding
    * family (`kmeans_profile_portable` and the prune twins built on its
    * bit-exact assignments): embeddings quantize ONCE to longs
    * (floor(x·1000 + 0.5), IEEE-identical in any engine), distance is
    * exact squared-L2, argmin ties break to the lower list id, the
    * centroid update is the element-wise exact floor-average with
    * empty-cluster carry, init is the md5-rank trick, two iterations —
    * no floats anywhere after quantization, so the final assignment
    * `(vec_id, q, list_id, dist)` replays bit-for-bit in DuckDB
    * (`kmeansPortableCtesSql` is the same fit as CTEs). Scale shape
    * identical to Ivf.fitDistributed: per iteration one narrow distance
    * projection + one k×dim-row aggregate; the k×dim update collects to
    * the driver exactly like the float fit's centroid matrix.
    */
  /** floor(x·1000 + 0.5) long quantization of an embedding column —
    * THE portable-family entry point: every engine computes it
    * IEEE-identically, and all integer twins must share one copy so
    * the cross-engine hashes can never fork on the quantizer.
    */
  private[graft] def quantized(emb: Column): Column =
    transform(emb.cast("array<double>"),
      x => floor(x * lit(1000.0) + lit(0.5)).cast("long"))

  /** Exact squared-L2 between two array<bigint> columns — the LongDot
    * kernel on the element-wise difference (one compiled loop; shared
    * by every portable distance so the arithmetic cannot fork).
    */
  private[graft] def sqDistL(a: Column, b: Column): Column = {
    val diff = zip_with(a, b, (x, y) => x - y)
    graft.functions.Kernels.longDotCol(diff, diff)
  }

  // memoized per (session, dir) for the fit's CONSUMERS (prune /
  // contamination / probe twins) — the ivfModelFor convention: the
  // centroid matrix is a driver value, re-deriving it per query paid
  // 3 driver actions each. kmeans_profile_portable deliberately calls
  // the unmemoized fit: it IS the fit's own bench entry (the ivf_topk
  // counterpart).
  private[graft] val integerLloydCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (DataFrame, Array[Seq[Long]])]

  private[graft] def integerLloydFitMemo(s: SparkSession,
                                  dir: String): (DataFrame, Array[Seq[Long]]) =
    integerLloydCache.getOrElseUpdate(
      (s.sparkContext.applicationId, dir),
      integerLloydFit(s, dir))

  private[graft] def integerLloydAssigned(s: SparkSession, dir: String): DataFrame =
    integerLloydFitMemo(s, dir)._1

  /** [[integerLloydAssigned]] plus the final integer centroid matrix —
    * the probe-side queries (`ann_ivf_topk_portable`) rank centroids
    * exactly like the fit's assignment step did.
    *
    * The quantized frame `q` backs the fit's 3 driver actions (seed
    * collect + 2 centroid updates) and is cached for them, owned by the
    * calling query's scope; the returned assignment is lazy over `q`,
    * so a consumer outside that scope (the memo's later readers)
    * re-derives it (one scan + quantize) on its downstream action.
    */
  private[graft] def integerLloydFit(s: SparkSession,
                                     dir: String): (DataFrame, Array[Seq[Long]]) = {
    val embs = t(s, dir, "embeddings").where(col("embedding").isNotNull)
    val q = Pin.cache(
      embs.select(col("vec_id"), quantized(col("embedding")).as("q")))
    val seedRows = q.select(col("q"),
        md5(concat(col("vec_id").cast("string"), lit("#kp13"))).as("h"))
      .orderBy(col("h")).limit(8).collect()
    var cents: Array[Seq[Long]] = seedRows.map(_.getSeq[Long](0))
    def distCol(c: Seq[Long]): Column = sqDistL(col("q"), typedLit(c))
    def assigned = {
      val dists = array(cents.toSeq.map(distCol): _*)
      q.withColumn("__dists", dists)
        .withColumn("list_id",
          (array_position(col("__dists"), array_min(col("__dists"))) -
            1L).cast("long"))
        .withColumn("dist", array_min(col("__dists")))
    }
    for (_ <- 1 to 2) {
      val upd = assigned
        .select(col("list_id"), posexplode(col("q")).as(Seq("d", "v")))
        .groupBy(col("list_id"), col("d"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        // exact floor division (sv may be negative): subtract the
        // non-negative remainder, then the double division is of an
        // exact multiple — bit-exact, engine-portable
        .select(col("list_id"), col("d"),
          ((col("sv") - pmod(col("sv"), col("n"))) / col("n"))
            .cast("long").as("cv"))
        .collect()
      val next = cents.map(_.toArray) // empty cluster keeps centroid
      upd.groupBy(_.getLong(0)).foreach { case (lid, rows) =>
        val c = new Array[Long](next(lid.toInt).length)
        rows.foreach(r => c(r.getInt(1)) = r.getLong(2))
        next(lid.toInt) = c
      }
      cents = next.map(_.toSeq)
    }
    (assigned.select(col("vec_id"), col("q"), col("list_id"), col("dist")),
      cents)
  }

}
