package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * arXiv:2302.03169): given a small TARGET corpus (the distribution you
  * want more of — e.g. curated reference pages) and a huge RAW corpus,
  * estimate per-document importance weights under hashed-n-gram
  * bag-of-words models of each corpus and resample the raw corpus
  * toward the target distribution. The paper's pipeline is exactly
  * three distributable steps, each with a classic Spark shape:
  *
  *   1. FEATURIZE — unigrams + bigrams hashed into `buckets` slots
  *      (the paper's 10k-bucket hashing trick caps model size
  *      regardless of vocabulary). One explode pass per corpus,
  *      immediately reduced to per-(doc, bucket) counts so hot grams
  *      collapse map-side before any shuffle.
  *   2. FIT — bucket count vectors for target (p) and raw (q) with
  *      Laplace +1 smoothing. Both are ≤`buckets` rows (fixed, tiny)
  *      and BROADCAST back; the corpus is never re-scanned.
  *   3. WEIGH/RESAMPLE — per-doc log importance weight
  *      log w(x) = Σ_b c_b·(log p_b − log q_b), then Gumbel top-k
  *      sampling without replacement ∝ w(x). Selection is a global
  *      top-k (TakeOrderedAndProject: per-partition heaps + driver
  *      merge of k·partitions rows — never a global sort).
  *
  * Oracle contract (the repo's RationalIdf/LogIdf split): bucket ids
  * use the portable md5→60-bit path by default, so every INTEGER
  * column (`n_grams`, `n_feats`, `sum_target_freq`, `sum_raw_freq`,
  * `min_target_freq`) and the two SINGLE-DIVISION doubles
  * (`mean_target_freq`, `target_ratio` — one IEEE divide over exact
  * longs each, bit-identical across engines) are DuckDB-hash-checkable.
  * `log_weight` is a libm log sum — order- and libm-dependent at ulp
  * level — and is spec-checked with tolerance instead; the Gumbel
  * resample (libm on top of libm) is the production path and is held
  * to determinism + selection-bias specs. `portableHash = false`
  * swaps the md5 bucket for codegen `xxhash64` (no string build per
  * gram) at the cost of the oracle anchor — same trade as
  * `simhash_codes` vs `simhash_codes_portable`.
  *
  * Scale shape (100 TB): the raw corpus is touched exactly twice
  * (featurize; final keep-join/top-k) and shuffled only by doc_id at
  * featurize reduce; everything model-sized is broadcast. No step is
  * quadratic and nothing collects unbounded data to the driver.
  */
object Dsir {

  /** Per-(doc, bucket) hashed n-gram counts: unigrams + bigrams of the
    * single-space tokenization, bucket = hash(salt # gram) mod
    * `buckets`. Portable form: low 60 bits of md5 via `conv` (exact in
    * both engines: `('0x' || substr(md5(...), 1, 15))::BIGINT` in
    * DuckDB); engine form: `xxhash64` (codegen, no per-gram string
    * concat). Output: (doc_id, bucket, c).
    */
  def hashedFeatures(df: DataFrame, id: Column, text: Column,
                     buckets: Int, salt: String = "dsir",
                     portableHash: Boolean = true): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val grams = concat(TextFunctions.tokens(text),
      TextFunctions.wordShingles(text, 2))
    val g = df.select(id.as("doc_id"), explode(grams).as("gram"))
    val bucket =
      if (portableHash)
        pmod(conv(substring(md5(concat(lit(salt + "#"), col("gram"))),
          1, 15), 16, 10).cast("long"), lit(buckets.toLong))
      else pmod(xxhash64(lit(salt), col("gram")), lit(buckets.toLong))
    g.select(col("doc_id"), bucket.as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Smoothed bucket model from target- and raw-corpus features:
    * (bucket, cnt_t, cnt_r) over the union of observed buckets, absent
    * side coalesced to 0 (+1 smoothing is applied at scoring time so
    * the stored counts stay exact integers). ≤ `buckets` rows.
    */
  def bucketModel(targetFeats: DataFrame, rawFeats: DataFrame): DataFrame = {
    val t = targetFeats.groupBy(col("bucket")).agg(sum(col("c")).as("cnt_t"))
    val r = rawFeats.groupBy(col("bucket")).agg(sum(col("c")).as("cnt_r"))
    t.join(r, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("cnt_t"), lit(0L)).as("cnt_t"),
        coalesce(col("cnt_r"), lit(0L)).as("cnt_r"))
  }

  /** Per-document importance statistics of `raw` docs against a
    * `target` corpus. Exact/portable columns first (see object doc);
    * `log_weight` is the paper's Σ c_b·(log p̂_b − log q̂_b) with
    * p̂_b = (cnt_t_b + 1)/(Nt + B), q̂_b = (cnt_r_b + 1)/(Nr + B).
    *
    * Output: (doc_id, n_grams, n_feats, sum_target_freq, sum_raw_freq,
    * min_target_freq, mean_target_freq, target_ratio, log_weight).
    */
  def importanceWeights(raw: DataFrame, id: Column, text: Column,
                        target: DataFrame, targetId: Column,
                        targetText: Column, buckets: Int,
                        salt: String = "dsir",
                        portableHash: Boolean = true): DataFrame = {
    // fans out twice (bucket model fit + the scored join below)
    val rawFeats = Pin.cache(
      hashedFeatures(raw, id, text, buckets, salt, portableHash))
    val targetFeats =
      hashedFeatures(target, targetId, targetText, buckets, salt, portableHash)
    val model = bucketModel(targetFeats, rawFeats)
    val totals = model.agg(sum(col("cnt_t")).as("__nt"),
      sum(col("cnt_r")).as("__nr"))
    val b = lit(buckets.toDouble)
    // left join + coalesce: scored docs outside the fit set may carry
    // buckets the model never saw (smoothing keeps their p̂, q̂ finite)
    rawFeats
      .join(broadcast(model), Seq("bucket"), "left")
      .select(col("doc_id"), col("c"),
        coalesce(col("cnt_t"), lit(0L)).as("cnt_t"),
        coalesce(col("cnt_r"), lit(0L)).as("cnt_r"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_feats"),
        sum(col("c") * col("cnt_t")).as("sum_target_freq"),
        sum(col("c") * col("cnt_r")).as("sum_raw_freq"),
        min(col("cnt_t")).as("min_target_freq"),
        sum(col("c").cast("double") *
            (log(col("cnt_t").cast("double") + lit(1.0)) -
             log(col("cnt_r").cast("double") + lit(1.0))))
          .as("__sum_log_cnt"))
      .crossJoin(broadcast(totals))
      .withColumn("mean_target_freq",
        col("sum_target_freq").cast("double") / col("n_grams").cast("double"))
      // sum_raw_freq >= n_grams >= 1 for fit-set docs; +1 guards a doc
      // scored against a model that never saw any of its buckets
      .withColumn("target_ratio",
        col("sum_target_freq").cast("double") /
          (col("sum_raw_freq") + lit(1L)).cast("double"))
      .withColumn("log_weight",
        col("__sum_log_cnt") +
          col("n_grams").cast("double") *
            (log(col("__nr").cast("double") + b) -
             log(col("__nt").cast("double") + b)))
      .select(col("doc_id"), col("n_grams"), col("n_feats"),
        col("sum_target_freq"), col("sum_raw_freq"),
        col("min_target_freq"), col("mean_target_freq"),
        col("target_ratio"), col("log_weight"))
  }

  /** Deterministic top-k of the weight frame by the bit-portable
    * `target_ratio` (ties → lower doc_id): the exact-arithmetic
    * selection twin — same engine plan as the Gumbel form
    * (TakeOrderedAndProject) and DuckDB-oracle-checkable end to end.
    */
  def selectTopK(weights: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    weights.orderBy(col("target_ratio").desc, col("doc_id").asc).limit(k)
  }

  /** The paper's sampling rule: k docs WITHOUT replacement with
    * P(doc) ∝ w(doc), via the Gumbel-top-k identity — rank by
    * log w + g where g = −ln(−ln(u)) and u is a deterministic
    * md5-derived uniform in (0,1) keyed by (seed, doc_id). Fully
    * reproducible for a given seed (no RNG state, no partition-order
    * dependence); libm end to end, so spec-checked (determinism,
    * exact-k, selection bias), not oracle-hashed.
    */
  def gumbelResample(weights: DataFrame, k: Int, seed: Long = 42L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (conv(substring(md5(concat(lit(s"dsir-gumbel#$seed#"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("double") +
      lit(0.5)) / lit(math.pow(2.0, 60))
    val gumbel = -log(-log(u))
    weights.withColumn("__gk", col("log_weight") + gumbel)
      .orderBy(col("__gk").desc, col("doc_id").asc)
      .limit(k)
      .drop("__gk")
  }
}
