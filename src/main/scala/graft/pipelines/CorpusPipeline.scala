package graft.pipelines

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.{SigHash, TextFunctions}
import graft.operators.{Dedup, Multimodal, Pin}
import graft.sinks.ParquetSink

/** The training-data curation pipeline — the composed "what this engine
  * is for at 100 TB" path over a raw documents table:
  *
  *   raw → text stats (tokens / language / quality)
  *       → quality + language gate
  *       → exact dedup (hash groupBy on text)
  *       → MinHash-LSH near-dedup (banded candidate join, greedy prune)
  *       → enriched corpus (+ fingerprints, simhash, stub features)
  *
  * Each stage is a pure DataFrame → DataFrame function (composable and
  * unit-testable); `run` materializes the stages to parquet. Everything
  * heavy is per-row kernels or key equi-joins — no stage is quadratic in
  * the corpus.
  */
object CorpusPipeline {

  /** Funnel parameters. `hash` picks the MinHash / SimHash / winnowing
    * family for every hashing stage: `SigHash.Engine` is production,
    * `SigHash.Md5` runs the identical funnel on portable md5 kernels so
    * its output answers an exact DuckDB oracle.
    */
  final case class Config(minQuality: Double = 0.3,
                          keepLangs: Seq[String] = Seq("en"),
                          minTokens: Int = 5,
                          shingleSize: Int = 3,
                          numHashes: Int = 128,
                          bands: Int = 32,
                          minEstJaccard: Double = 0.8,
                          featureDim: Int = 16,
                          hash: SigHash = SigHash.Engine)

  /** Stage 1: annotate with the text-analysis features. */
  def annotate(docs: DataFrame): DataFrame =
    docs.select(col("*"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.langId(col("text")).as("lang_pred"),
      TextFunctions.qualityScore(col("text")).as("quality"))

  /** Stage 2: the quality gate — pure pushdown-friendly filters. */
  def qualityGate(annotated: DataFrame, cfg: Config): DataFrame =
    annotated
      .filter(col("n_tokens") >= cfg.minTokens)
      .filter(col("quality") >= cfg.minQuality)
      .filter(col("lang_pred").isin(cfg.keepLangs: _*))

  /** Stage 3: exact dedup — one hash aggregation, min-id survivor.
    *
    * Shape (r18): the survivors ARE [[Dedup.exactKeepMinId]]'s keep_ids,
    * so one id-keyed left_semi join selects them directly. The previous
    * route through [[Dedup.exactDuplicateIds]] + anti-join planned the
    * aggregate, a join back on the RAW TEXT key (shuffling every
    * document's text a second time), and an id anti-join — one exchange
    * more, and the widest one in the stage. Identical survivor set by
    * construction (doc_id is unique; a row survives iff its id is its
    * text group's min).
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.join(
      Dedup.exactKeepMinId(docs, col("text"), col("doc_id"))
        .select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Stage 4: near-dedup via MinHash LSH, greedy min-id survivor. */
  def nearDedup(docs: DataFrame, cfg: Config): DataFrame =
    Dedup.applyPairDedup(docs, col("doc_id"),
      Dedup.minhashDedupPairs(docs, col("doc_id"), col("text"),
        cfg.numHashes, cfg.shingleSize, cfg.bands, cfg.minEstJaccard,
        hash = cfg.hash))

  /** Stage 5: enrich the surviving corpus with dedup-ready artifacts for
    * downstream consumers (all per-row kernels, zero shuffle).
    */
  def enrich(docs: DataFrame, cfg: Config): DataFrame =
    docs.select(col("*"),
      cfg.hash.winnow(col("text"), k = 5, w = 4).as("fingerprints"),
      cfg.hash.simhash(TextFunctions.tokens(col("text"))).as("simhash"),
      Multimodal.stubFeatureVector(col("text").cast("binary"), cfg.featureDim)
        .as("features"))

  /** Incremental curation — the daily-increment shape of the funnel:
    * gate + exact-dedup + near-dedup the new documents against themselves
    * AND against the accumulated corpus's stored MinHash signatures,
    * WITHOUT touching the accumulated documents. Returns
    * (curated increment, signatures of the kept increment docs) — append
    * the signatures to the signature store so tomorrow's increment
    * dedups against today's survivors too.
    *
    * This is the 100 TB pattern: the corpus-side cost of a day's dedup is
    * one banded equi-join against a signature table (a few hundred bytes
    * per accumulated doc), not a re-scan of the accumulated text.
    *
    * Both returned frames read the funnel's pins and the ref side's
    * cache, all owned by the caller's [[Pin.scope]]: materialize both
    * results inside it (the streaming loop runs one scope per batch).
    */
  def curateIncrement(newDocs: DataFrame, refSigs: DataFrame,
                      cfg: Config = Config()): (DataFrame, DataFrame) = {
    // cache the ref side FIRST so the scope frees it LAST: unpersisting
    // a frame that other cached frames are built on makes the cache
    // manager walk and re-examine each of them, and the pins registered
    // after it are leaves the cache manager never sees
    val ref = Pin.cache(refSigs)
    curateAgainst(newDocs, cfg)(sigs =>
      Dedup.minhashPairsAgainst(sigs, ref,
        cfg.numHashes, cfg.bands, cfg.minEstJaccard, hash = cfg.hash))
  }

  /** The shared incremental funnel: gate → exact dedup + signatures →
    * self-pairs → cross-pairs (strategy supplied by the caller) → prune
    * → enrich. Returns (curated, keptSigs).
    *
    * Each stage that more than one consumer reads is an eager [[Pin]]:
    * four small jobs, each planned over the leaves of the stage before
    * it, in place of four lazy persists whose plans each nest the whole
    * funnel beneath them (every `persist` plans its frame at once, with
    * a cache lookup over that plan). The pins carry measured sizes, so
    * the drop-list anti-joins over `selfPairs` and the cross pairs keep
    * broadcasting the thresholded pair lists.
    */
  private def curateAgainst(newDocs: DataFrame, cfg: Config)(
      crossPairsOf: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val gated = Pin.eager(qualityGate(annotate(newDocs), cfg))
    // the exact survivors, planned once, each row carrying its MinHash
    // signature (a pure per-row function of the text): the self-LSH
    // pairs, the cross-corpus band join and keptSigs all read it off the
    // rows, and every later frame is a filter of this one
    val exactSigs = Pin.eager(exactDedup(gated)
      .select(col("*") +: Dedup.minhashSigCols(col("text"), cfg.numHashes,
        cfg.shingleSize, cfg.hash): _*))
    // selfClean is read three times below (clean's left side, and the
    // new side of the cross join's banding and verification); the pin
    // keeps the LSH self-join to one evaluation across them, and its
    // measured size keeps selfClean's anti-join a broadcast: the origin
    // estimate of a band self-join (the product of its inputs' sizes)
    // flips that join to sort-merge
    val selfPairs = Pin.eager(Dedup.minhashDedupPairsFromSigs(exactSigs,
      cfg.numHashes, cfg.bands, cfg.minEstJaccard, cfg.hash))
    val selfClean = Dedup.applyPairDedup(exactSigs, col("doc_id"), selfPairs)
    // clean feeds both results (curated and keptSigs); pinning it
    // keeps the cross-corpus band join from running once per consumer
    val clean = Pin.eager(Dedup.applyPairDedup(selfClean, col("doc_id"),
      crossPairsOf(selfClean)))
    (enrich(clean.drop("sig", "n_sh"), cfg), clean.select("doc_id", "sig", "n_sh"))
  }

  /** Stage a day's kept signatures as the accumulated signature STORE —
    * two catalog tables (bucketing metadata lives in the catalog):
    *
    *  - `<table>_banded`: the banded form (doc_id, band_idx, band_hash),
    *    bucketed AND sorted by band_hash. Tomorrow's cross-increment
    *    band join ([[graft.operators.Dedup.minhashPairsAgainstBanded]])
    *    then reads co-located buckets and plans no store-side exchange —
    *    the store, which grows with the corpus, is never reshuffled;
    *    only the day's increment is (asserted in PlanAuditSpec).
    *  - `<table>`: the raw (doc_id, sig, n_sh) signatures, joined only
    *    for verified candidates (storing sig inside the banded table
    *    would duplicate the 1 KB signature × bands).
    *
    * Append mode accumulates days; Spark appends to a bucketed table
    * with the same bucket spec without reshuffling existing data.
    *
    * The two writes are NOT one transaction. The raw table is written
    * FIRST because it is the source of truth — the banded table is an
    * INDEX derived from it. A crash in between leaves the index stale
    * (missing doc_ids generate no candidates, so their duplicates would
    * be silently admitted): run [[verifySignatureStore]] after a failed
    * load, and [[repairSignatureStore]] to rebuild the index from the
    * raw table.
    */
  def writeSignatureStore(sigs: DataFrame, table: String, cfg: Config,
                          buckets: Int,
                          mode: SaveMode = SaveMode.Append): Unit = {
    sigs.write.mode(mode).format("parquet").saveAsTable(table)
    ParquetSink.writeBucketed(
      Dedup.lshBands(sigs, cfg.numHashes, cfg.bands, cfg.hash),
      s"${table}_banded", "band_hash", buckets, mode)
  }

  /** Reconcile the banded index with its raw signature table: true iff
    * they cover exactly the same doc_ids (two anti-join counts — cheap
    * next to a band join). False means a [[writeSignatureStore]] run
    * died between its two writes; repair before the next increment.
    */
  def verifySignatureStore(spark: org.apache.spark.sql.SparkSession,
                           table: String): Boolean = {
    val raw = spark.table(table).select("doc_id").distinct()
    val idx = spark.table(s"${table}_banded").select("doc_id").distinct()
    raw.join(idx, Seq("doc_id"), "left_anti").isEmpty &&
      idx.join(raw, Seq("doc_id"), "left_anti").isEmpty
  }

  /** Rebuild the banded index from the raw signature table — the
    * recovery path for a partial [[writeSignatureStore]].
    */
  def repairSignatureStore(spark: org.apache.spark.sql.SparkSession,
                           table: String, cfg: Config, buckets: Int): Unit =
    ParquetSink.writeBucketed(
      Dedup.lshBands(spark.table(table), cfg.numHashes, cfg.bands, cfg.hash),
      s"${table}_banded", "band_hash", buckets, SaveMode.Overwrite)

  /** [[curateIncrement]] against the staged signature store written by
    * [[writeSignatureStore]]: same funnel, but the cross-increment band
    * join consumes the PRE-BANDED bucketed table, so the store side of
    * the join plans no exchange. Does NOT append the kept signatures —
    * call [[writeSignatureStore]] with the returned frame once the
    * curated increment has been committed downstream.
    */
  def curateIncrementFromStore(newDocs: DataFrame, table: String,
                               cfg: Config = Config()): (DataFrame, DataFrame) = {
    val spark = newDocs.sparkSession
    curateAgainst(newDocs, cfg)(sigs =>
      Dedup.minhashPairsAgainstBanded(sigs, spark.table(s"${table}_banded"),
        spark.table(table), cfg.numHashes, cfg.bands, cfg.minEstJaccard,
        cfg.hash))
  }

  /** Full run, staged to parquet; returns per-stage row counts. */
  def run(ctx: PipelineContext, docs: DataFrame,
          cfg: Config = Config()): Map[String, Long] = {
    // gated feeds exactDuplicateIds (twice: keep + join) AND the anti-join
    // left side — without the cache the annotate filters (HOF langId etc.)
    // run 3x; same for the exact-deduped lineage feeding LSH + anti-join
    ctx.persisted(qualityGate(annotate(docs), cfg)) { gated =>
      val exact = exactDedup(gated)
      val path = s"${ctx.stagingDir}/corpus_curated"
      ctx.persisted(exact) { e =>
        val curated = enrich(nearDedup(e, cfg), cfg)
        ParquetSink.write(curated, path, SaveMode.Overwrite)
        Map(
          "raw" -> docs.count(),
          "gated" -> gated.count(),
          "exact_deduped" -> e.count(),
          "curated" -> ctx.spark.read.parquet(path).count())
      }
    }
  }
}
