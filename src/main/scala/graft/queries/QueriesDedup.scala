package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Fingerprint, Fnv64, LogParse, SigHash, TextFunctions, Timestamps, VectorFunctions}
import graft.operators.{Dedup, Explodes, Flatten, Multimodal, Pin, Sampling, Similarity}
import graft.sources.Tables

import QueryHelpers._

/** dedup / graph / CDC / snapshot / layout / profiling / data-quality — one registry slice of [[graft.SparkEntry.queries]]
  * (mechanical split; entries verbatim).
  */
private[graft] object QueriesDedup {

  /** The corpus_curation body: gate -> exact dedup -> MinHash near-dedup
    * -> enrich over the whole documents table.
    */
  private def curateCorpusQuery(docs: DataFrame,
                                cfg: graft.pipelines.CorpusPipeline.Config): DataFrame = {
    import graft.pipelines.CorpusPipeline
    val gated = CorpusPipeline.qualityGate(CorpusPipeline.annotate(docs), cfg)
    val deduped = CorpusPipeline.nearDedup(CorpusPipeline.exactDedup(gated), cfg)
    CorpusPipeline.enrich(deduped, cfg)
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
        col("simhash"), size(col("fingerprints")).as("n_fp"),
        size(col("features")).as("n_features"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- LLM-pipeline: dedup ------------------------------------------
    "dedup_exact" -> ((s, dir) => {
      Dedup.exactKeepMinId(t(s, dir, "documents"), col("text"), col("doc_id"))
    }),
    "dedup_dup_ids" -> ((s, dir) => {
      Dedup.exactDuplicateIds(t(s, dir, "documents"), col("lang"), col("doc_id"))
    }),
    "ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"),
        col("text"), n = 3, minJaccard = 0.5)
    }),
    "ngram_containment" -> ((s, dir) => {
      // asymmetric twin of ngram_jaccard: |A∩B|/|A| — catches a short
      // doc embedded verbatim in a long one (containment ~1, Jaccard
      // ~|A|/|B| → arbitrarily low). Directed pairs, both directions.
      Dedup.ngramContainmentPairs(t(s, dir, "documents"), col("doc_id"),
        col("text"), n = 3, minContainment = 0.8)
    }),
    "dedup_containment_prune" -> ((s, dir) => {
      // end-to-end superset dedup: drop docs that are near-subsets of
      // another doc; mutual (near-identical) pairs keep their min id
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramContainmentPairs(docs, col("doc_id"),
        col("text"), n = 3, minContainment = 0.8)
      Dedup.applyContainmentPrune(docs, col("doc_id"), pairs)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    "dedup_containment_capped" -> ((s, dir) => {
      // the r15 audit's slowest absolute row, with the documented
      // df-cap actually EXERCISED: shingles held by more than
      // maxDocFreq docs are dropped from intersections AND
      // denominators on both engines, so the result is the exact
      // containment prune over the capped shingle universe — still
      // hash-green. The cap never bites at sf ≤ 0.1 (max shingle df
      // 25 < 64, so this row equals dedup_containment_prune there);
      // at the 10× fixture it removes ~99 % of the Σ df² join rows
      // (229M of 232M), which is the measured form of the "maxDocFreq
      // bounds the worst key at 100 TB" claim. cap = 64 ≈ 2–3× the
      // sf0.1 p99 df: genuine near-superset evidence survives,
      // boilerplate shingles (which everything "contains") do not.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramContainmentPairs(docs, col("doc_id"),
        col("text"), n = 3, minContainment = 0.8, maxDocFreq = Some(64L))
      Dedup.applyContainmentPrune(docs, col("doc_id"), pairs)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    "dedup_corpus" -> ((s, dir) => {
      // end-to-end: near-dup pairs -> pruned corpus (greedy min-id keep)
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
      Dedup.applyPairDedup(docs, col("doc_id"), pairs)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    "dedup_clusters" -> ((s, dir) => {
      // transitive near-dup clusters: every doc labelled with the min id
      // reachable through the exact n-gram pair graph (singletons label
      // themselves) — the cluster view that greedy pruning can't give
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
      val cc = Dedup.connectedComponents(pairs, checkpointEvery = 4)
      docs.select(col("doc_id"))
        .join(cc, docs("doc_id") === cc("id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("component"))
    }),
    "dedup_cluster_sizes" -> ((s, dir) => {
      // the cluster-level product: size distribution of the transitive
      // near-dup components (how much of the corpus sits in 2-doc
      // pairs vs template families). The pair-gen + CC recompute here
      // is a HARNESS ARTIFACT — registered queries must be
      // self-contained; a production run derives this with ONE agg
      // over the stored dedup_clusters labels
      // (Dedup.clusterSizeHistogram, spec'd against a written table)
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
      val cc = Dedup.connectedComponents(pairs, checkpointEvery = 4)
      Dedup.clusterSizeHistogram(
        docs.select(col("doc_id"))
          .join(cc, docs("doc_id") === cc("id"), "left")
          .select(coalesce(col("comp"), col("doc_id")).as("component")),
        col("component"))
    }),
    "doc_pagerank" -> ((s, dir) => {
      // template-centrality of each doc: exact fixed-point PageRank
      // (integer arithmetic, bit-portable — Centrality scaladoc) over
      // the same exact 3-gram Jaccard pair graph dedup_clusters uses,
      // 3 iterations unrolled as CTEs on the oracle side.
      import graft.operators.Centrality
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
      Centrality.fixedPointPageRank(docs, col("doc_id"), pairs,
        iterations = 3)
        .select(col("id").as("doc_id"), col("score"))
    }),
    "graph_triangles" -> ((s, dir) => {
      // clique-ness of each doc's near-dup neighborhood: per-node
      // triangle counts + local clustering coefficient over the same
      // exact 3-gram Jaccard pair graph dedup_clusters/doc_pagerank
      // use. Degree-ordered forward enumeration (skew-proof — the
      // Centrality.triangleStats scaladoc); coefficient is one IEEE
      // division of exact longs, so the whole frame hash-matches the
      // brute-force 3-way-join oracle.
      import graft.operators.Centrality
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
      Centrality.triangleStats(docs, col("doc_id"), pairs)
        .select(col("id").as("doc_id"), col("degree"),
          col("n_triangles"), col("clustering"))
    }),
    "doc_pagerank_weighted" -> ((s, dir) => {
      // similarity-weighted template centrality: score flows ∝
      // floor(jaccard·10⁶) instead of uniformly — a hub held by
      // 0.95-mirrors outranks one held by borderline 0.5 matches.
      // Quantization is floor of one IEEE multiply of one IEEE
      // division, so the weights (and the whole integer iteration)
      // reproduce bit-for-bit in DuckDB (iterations unrolled as CTEs).
      import graft.operators.Centrality
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
      Centrality.fixedPointPageRankWeighted(docs, col("doc_id"), pairs,
          floor(col("jaccard") * 1000000).cast("long"), iterations = 3)
        .select(col("id").as("doc_id"), col("score"))
    }),
    "graph_communities" -> ((s, dir) => {
      // community detection on the near-dup graph: deterministic
      // synchronous label propagation (frequency voting, ties to the
      // min label), 3 rounds — splits a connected component into its
      // DENSE cores, the signal dedup_clusters' CC can't give (two
      // template families bridged by one borderline pair vote apart).
      // Exact integer counts + deterministic tie-break make the round-3
      // labelling bit-reproducible, so the whole frame hash-matches the
      // unrolled-CTE DuckDB oracle (the doc_pagerank convention).
      import graft.operators.Centrality
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
      Centrality.labelPropagation(docs, col("doc_id"), pairs,
          iterations = 3)
        .select(col("id").as("doc_id"), col("label").as("community"))
    }),
    "graph_kcore" -> ((s, dir) => {
      // cohesive-subgraph membership: the 2-core of the near-dup graph
      // (nodes that remain after iteratively peeling degree<2 members)
      // — density classifier for template families on top of the
      // triangle/PageRank signals. Bounded peeling with the in-plan
      // convergence gate (one extra peel must be a no-op or the job
      // fails), unrolled as CTEs on the oracle side.
      import graft.operators.Centrality
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
      Centrality.kCoreBounded(docs, col("doc_id"), pairs, k = 2,
          maxPeels = 4)
        .select(col("id").as("doc_id"), col("in_kcore"))
    }),
    "dedup_keep_best" -> ((s, dir) => {
      // quality-aware survivor policy over the same transitive near-dup
      // components as dedup_clusters: keep the member with the HIGHEST
      // rational-sigmoid quality score (ties → min id) instead of the
      // min id — the production canonical-pick (near-dup clusters mix a
      // clean original with truncated / boilerplate-wrapped mirrors;
      // keep the best, not the first-crawled). Exact IEEE scoring end
      // to end, so the full survivor set hash-matches the
      // recursive-CTE + window-arg-max oracle.
      import graft.operators.Quality
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
      val q = Quality.logisticQualityScore(docs, col("doc_id"), col("text"))
        .select(col("doc_id").as("__qid"), col("quality_score"))
      val ranked = docs.join(q, docs("doc_id") === col("__qid"))
      Dedup.applyClusterDedupByRank(ranked, col("doc_id"), pairs,
          col("quality_score"))
        .select(col("doc_id"), col("source"), col("quality_score"))
    }),
    "dedup_clusters_capped" -> ((s, dir) => {
      // the PRODUCTION path for the transitive-cluster family (r16
      // verdict #1): the 100x audit MEASURED the uncapped pair graph
      // blowing the 900 s watchdog in the closed-vocab (boilerplate-
      // saturated) regime — Σdf² grows ~10,000x when every shingle is
      // hot. Same df-cap as dedup_containment_capped (maxDocFreq=64 ≈
      // 2-3x the sf0.1 p99 df): hot shingles leave intersections AND
      // set sizes on BOTH engines, so the clustering is the exact CC
      // over the capped shingle universe — hash-green, not gated. The
      // cap is inert at sf <= 0.1 (max df 25), bites at 10x+; the
      // uncapped dedup_clusters stays registered as the exact-oracle
      // envelope edge (grown-vocab corpora, where df stays constant).
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5, maxDocFreq = Some(64L))
      val cc = Dedup.connectedComponents(pairs, checkpointEvery = 4)
      docs.select(col("doc_id"))
        .join(cc, docs("doc_id") === cc("id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("component"))
    }),
    "dedup_keep_best_capped" -> ((s, dir) => {
      // dedup_keep_best on the capped pair graph — the quality-aware
      // survivor pick inherits the same uncapped scale cliff (it
      // rebuilds the identical pair graph), so the production variant
      // threads the same maxDocFreq through. Oracle twin carries the
      // identical cap; exact IEEE scoring end to end as the uncapped
      // row.
      import graft.operators.Quality
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5, maxDocFreq = Some(64L))
      val q = Quality.logisticQualityScore(docs, col("doc_id"), col("text"))
        .select(col("doc_id").as("__qid"), col("quality_score"))
      val ranked = docs.join(q, docs("doc_id") === col("__qid"))
      Dedup.applyClusterDedupByRank(ranked, col("doc_id"), pairs,
          col("quality_score"))
        .select(col("doc_id"), col("source"), col("quality_score"))
    }),
    "doc_pagerank_capped" -> ((s, dir) => {
      // template centrality on the capped pair graph — completes the
      // capped family (clusters / keep-best / pagerank share one pair
      // graph, so one uncapped member re-opens the closed-vocab cliff).
      // Integer fixed-point iteration unchanged: bit-portable, so the
      // full frame hash-matches the capped-CTE oracle.
      import graft.operators.Centrality
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5, maxDocFreq = Some(64L))
      Centrality.fixedPointPageRank(docs, col("doc_id"), pairs,
        iterations = 3)
        .select(col("id").as("doc_id"), col("score"))
    }),
    "minhash_pairs" -> ((s, dir) => {
      // LSH candidates -> EXACT shingle-Jaccard verify (the
      // embed_near_dup_srp construction), so the pair set answers the
      // same exact DuckDB oracle as ngram_jaccard. rows=128/64=2 hash
      // rows per band: a true pair at j>=0.5 is missed with probability
      // (1-j^2)^64 <= 0.75^64 ~ 1e-8 — recall 1 at oracle scale.
      // The estimate-threshold variant stays available as
      // Dedup.minhashDedupPairs (benched inside corpus_curation).
      Dedup.minhashVerifiedPairs(t(s, dir, "documents"), col("doc_id"),
        col("text"), numHashes = 128, shingleSize = 3, bands = 64,
        minJaccard = 0.5)
    }),
    "snapshot_diff" -> ((s, dir) => {
      // two synthetic snapshots of the documents table: old = src0-14,
      // new = src5-19 with German docs' text uppercased — so the
      // overlap splits into changed (de) and unchanged (rest), the
      // src0-4 tail is removed, the src15-19 head added. Exact-text
      // content compare here (the digest form is the scale path).
      import graft.operators.Snapshot
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("source").rlike("^src([0-9]|1[0-4])$"))
      val neu = docs.filter(col("source").rlike("^src([5-9]|1[0-9])$"))
        .withColumn("text",
          when(col("lang") === "de", upper(col("text"))).otherwise(col("text")))
      Snapshot.diff(old, neu, col("doc_id"), col("text"))
    }),
    "snapshot_diff_digest" -> ((s, dir) => {
      // the 100-TB form of snapshot_diff: only an 8-byte xxhash64(text)
      // digest crosses the full-outer join, never the document. The
      // in-query gate proves class-identical output to the exact-text
      // form on this data (a digest collision would THROW, not silently
      // differ), which is what lets the exact-form DuckDB oracle check
      // this entry too. Bucketed-by-id snapshots plan the join with
      // zero exchange (PlanAuditSpec pins it via writeBucketed).
      import graft.operators.Snapshot
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("source").rlike("^src([0-9]|1[0-4])$"))
      val neu = docs.filter(col("source").rlike("^src([5-9]|1[0-9])$"))
        .withColumn("text",
          when(col("lang") === "de", upper(col("text"))).otherwise(col("text")))
      val dig = Snapshot.diff(old, neu, col("doc_id"), xxhash64(col("text")))
      val exact = Snapshot.diff(old, neu, col("doc_id"), col("text"))
        .withColumnRenamed("status", "__exact")
      dig.join(exact, Seq("id"))
        .where(assert_true(col("status") === col("__exact"),
          concat(lit("digest snapshot status diverged from exact for id "),
            col("id"))).isNull)
        .select(col("id"), col("status"))
    }),
    "ivm_refresh" -> ((s, dir) => {
      // incremental view maintenance over the snapshot_diff scenario:
      // the stored per-doc annotation table (token/stopword counts +
      // exact mean token length) is refreshed by RE-DERIVING ONLY the
      // added/changed slice — survivors pass through, removed ids drop.
      // The oracle recomputes the WHOLE table from the new snapshot, so
      // a hash match IS the full-recompute-equivalence proof (the IVM
      // contract: derive is row-local, content compare covers derive's
      // inputs). At 100 TB the derive slice is churn-sized; SnapshotSpec
      // pins that unchanged rows never reach the derive (a poisoned
      // derive that throws on them stays green).
      import graft.operators.Snapshot
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("source").rlike("^src([0-9]|1[0-4])$"))
      val neu = docs.filter(col("source").rlike("^src([5-9]|1[0-9])$"))
        .withColumn("text",
          when(col("lang") === "de", upper(col("text"))).otherwise(col("text")))
      def derive(d: DataFrame): DataFrame =
        d.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.stopwordCount(col("text"),
            TextFunctions.DefaultStopwords).as("n_stopwords"),
          TextFunctions.avgTokenLength(col("text")).as("avg_token_len"))
      Snapshot.incrementalRefresh(derive(old), old, neu, "doc_id",
        col("text"), derive)
    }),
    "ivm_refresh_agg" -> ((s, dir) => {
      // the AGGREGATE half of IVM over the same snapshot churn: the
      // stored per-language (count, sum n_chars) table is folded
      // forward by delta algebra — added/changed rows add, removed/
      // changed-old rows subtract, groups that empty disappear — and
      // the oracle recomputes the whole aggregate from the new
      // snapshot, so the hash match proves the algebra. Exact because
      // the value column is integral (integer addition commutes; float
      // sums stay with the tolerance-gated sketch family).
      import graft.operators.Snapshot
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("source").rlike("^src([0-9]|1[0-4])$"))
      val neu = docs.filter(col("source").rlike("^src([5-9]|1[0-9])$"))
        .withColumn("text",
          when(col("lang") === "de", upper(col("text"))).otherwise(col("text")))
      val prev = old.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_chars").cast("long")).as("sum_value"))
      Snapshot.incrementalRefreshAgg(prev, old, neu, "doc_id",
        col("text"), "lang", col("n_chars"))
    }),
    "cdc_merge" -> ((s, dir) => {
      // nightly-refresh MERGE: base = the src0-14 snapshot; the delta
      // mixes inserts (src15-19 arrive), in-place updates (de docs
      // uppercase), deletes (doc_id%7), and a later-seq re-upsert
      // (doc_id%11, overriding the delete where both hit) — so
      // latest-wins, idempotent-delete and insert-vs-update all face
      // the oracle. One window + one full-outer join, both keyed on
      // doc_id (the change side's exchange is planned once).
      import graft.operators.Cdc
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("source").rlike("^src([0-9]|1[0-4])$"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      Cdc.applyChangeSet(base, cdcChanges(docs, base), "doc_id")
    }),
    "cdc_merge_summary" -> ((s, dir) => {
      // the reconciliation line of the same merge: per-action counts
      // incl. delete_noop (replayed deletes must not fail or count as
      // deletions) — what a nightly job logs and alerts on
      import graft.operators.Cdc
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("source").rlike("^src([0-9]|1[0-4])$"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      Cdc.changeSetSummary(base, cdcChanges(docs, base), "doc_id")
    }),
    "cdc_merge_versioned" -> ((s, dir) => {
      // the STORE form of the merge: versioned snapshot (per-id applied
      // seq + delete tombstones) folded in two batches with the
      // HIGH-seq batch first and the stale stragglers second — the
      // stored seq must shield every newer value and tombstone, making
      // the fold batch-order-invariant. Final live view ≡ the one-shot
      // merge, so it answers cdc_merge's oracle verbatim.
      import graft.operators.Cdc
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("source").rlike("^src([0-9]|1[0-4])$"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val changes = cdcChanges(docs, base)
      Cdc.snapshotView(
        Cdc.applyChangeSetVersioned(
          Cdc.applyChangeSetVersioned(Cdc.versionSnapshot(base),
            changes.where(col("seq") >= 2), "doc_id"),
          changes.where(col("seq") <= 1), "doc_id"))
    }),
    "cdc_merge_evolve" -> ((s, dir) => {
      // schema DRIFT through the merge: the same delta suddenly carries
      // a column the base has never seen (`rev`) — the base widens
      // with nulls (mergeSchema semantics), rows the changeset wins
      // carry the value, and a same-name/different-type column fails
      // at plan assembly instead (CdcSpec). Mirrors the reference's
      // schema-on-read drift: a new JSON field just appears one day
      // and the canonical table follows (SURVEY §7.4.2).
      import graft.operators.Cdc
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("source").rlike("^src([0-9]|1[0-4])$"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val changes = cdcChanges(docs, base)
        .withColumn("rev", (col("doc_id") % 5).cast("int"))
      Cdc.applyChangeSet(base, changes, "doc_id")
    }),
    "cdc_generation_diff" -> ((s, dir) => {
      // generation time travel, oracle-composed: g1 = the versioned
      // fold of the high-seq batch (what a cdcMergeStream store's
      // PREVIOUS generation held), g2 = g1 + the straggler batch (the
      // live generation — equal, by batch-order invariance, to the
      // one-shot merge the oracle recomputes); the output is
      // Snapshot.diff over the two LIVE views — the very composition
      // Streams.generationDiff runs against a store's gen-* dirs
      // (spec-verified against real dirs in StreamsSpec; inlined here
      // so DuckDB can recompute both snapshots). Exercises tombstone
      // shielding ACROSS the generation boundary: stale seq-1 rows for
      // ids g1 deleted at seq 2-4 stay absent from both views.
      import graft.operators.{Cdc, Snapshot}
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("source").rlike("^src([0-9]|1[0-4])$"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val changes = cdcChanges(docs, base)
      val g1 = Cdc.applyChangeSetVersioned(Cdc.versionSnapshot(base),
        changes.where(col("seq") >= 2), "doc_id")
      val g2 = Cdc.applyChangeSetVersioned(g1,
        changes.where(col("seq") <= 1), "doc_id")
      Snapshot.diff(Cdc.snapshotView(g1), Cdc.snapshotView(g2),
        col("doc_id"), col("text"))
    }),
    "fuzzy_name_pairs" -> ((s, dir) => {
      // entity canonicalization on the DICTIONARY: distinct part names
      // + corpus frequencies (one hash agg), token-blocked candidates,
      // exact Levenshtein verify at dist<=2 — candidates bounded by
      // dictionary token df², independent of corpus size
      import graft.operators.FuzzyJoin
      val dict = t(s, dir, "part").groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n"))
      FuzzyJoin.tokenBlockedEditJoin(dict, col("name"), col("name"),
          maxDist = 2)
        .select(col("name_a"), col("name_b"), col("dist"))
        .join(dict.select(col("name").as("name_a"), col("n").as("n_a")),
          Seq("name_a"))
        .join(dict.select(col("name").as("name_b"), col("n").as("n_b")),
          Seq("name_b"))
        .select(col("name_a"), col("name_b"), col("dist"),
          col("n_a"), col("n_b"))
    }),
    "entity_resolution" -> ((s, dir) => {
      // the END of the record-linkage pipeline: fuzzy pairs
      // (token-blocked banded Levenshtein, the fuzzy_name_pairs
      // machinery) → transitive closure (the Dedup CC operator, keyed
      // on portable 60-bit md5 name ids so DuckDB can replay the
      // labels) → survivorship: the cluster's most frequent spelling
      // wins (ties to the lexicographically smallest), every variant
      // mapped to its canonical form. One row per dictionary name —
      // the lookup a normalization pass joins against.
      import graft.operators.{Dedup, FuzzyJoin}
      import org.apache.spark.sql.expressions.Window
      val dict = t(s, dir, "part").groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n"))
      val named = dict.withColumn("name_id",
        conv(substring(md5(col("name")), 1, 15), 16, 10).cast("long"))
      val idPairs = FuzzyJoin.tokenBlockedEditJoin(dict, col("name"),
          col("name"), maxDist = 2)
        .select(col("name_a"), col("name_b")) // id_a/id_b here are names
        .join(named.select(col("name").as("name_a"),
          col("name_id").as("id_a")), Seq("name_a"))
        .join(named.select(col("name").as("name_b"),
          col("name_id").as("id_b")), Seq("name_b"))
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(idPairs)
      val lab = named.join(cc, named("name_id") === cc("id"), "left")
        .select(col("name"), col("n"),
          coalesce(col("comp"), col("name_id")).as("cluster"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("n").desc, col("name").asc)
      val canon = lab.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("cluster"), col("name").as("canonical_name"))
      val sizes = lab.groupBy("cluster")
        .agg(count(lit(1)).as("cluster_size"))
      lab.join(broadcast(canon), Seq("cluster"))
        .join(broadcast(sizes), Seq("cluster"))
        .select(col("name"), col("canonical_name"), col("cluster_size"),
          col("n"))
    }),
    "fuzzy_pairs_exact" -> ((s, dir) => {
      // ground-truth twin: all-pairs edit join over the same 64-name
      // dictionary (dictionary-sized by construction — the capped
      // anchor convention) — recall auditor for fuzzy_name_pairs
      import graft.operators.FuzzyJoin
      val dict = t(s, dir, "part").select(col("p_name").as("name"))
        .distinct()
      FuzzyJoin.allPairsEditJoin(dict, col("name"), col("name"),
        maxDist = 2)
        .select(col("name_a"), col("name_b"), col("dist"))
    }),
    "zorder_zonemap" -> ((s, dir) => {
      // OPTIMIZE-ZORDER's deterministic twin: lineitem's
      // (partkey, suppkey) normalized to 16 bits from a broadcast
      // 1-row stats frame, Morton-interleaved, prefix-bucketed into 64
      // zones with raw per-zone min/max — ONE map-side-combining agg,
      // zero sorts, bit-portable (Layout scaladoc)
      import graft.operators.Layout
      val li = t(s, dir, "lineitem")
      val stats = li.agg(max(col("l_partkey")).cast("long").as("px"),
        max(col("l_suppkey")).cast("long").as("sx"))
      val df = li.crossJoin(broadcast(stats))
      Layout.zoneMap(df,
        Layout.normalize16(col("l_partkey"), col("px")),
        Layout.normalize16(col("l_suppkey"), col("sx")),
        bucketBits = 6)
    }),
    "zorder_zonemap_incremental" -> ((s, dir) => {
      // the maintenance algebra at 100 TB: per-slice zone maps (an
      // ingest batch computes its own) merged by one bucket-keyed agg
      // ≡ the full rebuild, asserted IN-PLAN cell by cell; historical
      // data is never rescanned. Oracle = the full-rebuild SQL (the
      // gate makes the merged frame answer it).
      import graft.operators.Layout
      val li = t(s, dir, "lineitem")
      val stats = li.agg(max(col("l_partkey")).cast("long").as("px"),
        max(col("l_suppkey")).cast("long").as("sx"))
      val df = li.crossJoin(broadcast(stats))
      def zm(d: DataFrame) = Layout.zoneMap(d,
        Layout.normalize16(col("l_partkey"), col("px")),
        Layout.normalize16(col("l_suppkey"), col("sx")),
        bucketBits = 6)
      val merged = Layout.mergeZoneMaps(
        zm(df.where(col("l_orderkey") % 2 === 0)),
        zm(df.where(col("l_orderkey") % 2 === 1)))
      val full = zm(df).select(col("bucket"),
        col("min_x").as("__fx0"), col("max_x").as("__fx1"),
        col("min_y").as("__fy0"), col("max_y").as("__fy1"),
        col("n_rows").as("__fn"))
      merged.join(full, Seq("bucket"), "full_outer")
        .where(assert_true(
          col("min_x") === col("__fx0") && col("max_x") === col("__fx1") &&
            col("min_y") === col("__fy0") && col("max_y") === col("__fy1") &&
            col("n_rows") === col("__fn"),
          concat(lit("merged zone map diverged from rebuild at bucket "),
            col("bucket"))).isNull)
        .select(col("bucket"), col("min_x"), col("max_x"),
          col("min_y"), col("max_y"), col("n_rows"))
    }),
    "zorder_pruning" -> ((s, dir) => {
      // the point of the layout, measured: candidate buckets/rows for
      // the same 2-D box under z-order vs a partkey-only layout, plus
      // the true match count — min/max skipping is sound (candidates
      // ⊇ exact, the LayoutSpec property), and the zorder row's
      // n_candidate_rows is the fraction of the table a scan planner
      // actually reads
      import graft.operators.Layout
      val li = t(s, dir, "lineitem")
      val stats = li.agg(max(col("l_partkey")).cast("long").as("px"),
        max(col("l_suppkey")).cast("long").as("sx"))
      val df = li.crossJoin(broadcast(stats))
      val nx = Layout.normalize16(col("l_partkey"), col("px"))
      val ny = Layout.normalize16(col("l_suppkey"), col("sx"))
      // box in raw units, normalized with the same exact arithmetic
      val box = stats.select(
        Layout.normalize16(lit(500L), col("px")).as("x0"),
        Layout.normalize16(lit(600L), col("px")).as("x1"),
        Layout.normalize16(lit(20L), col("sx")).as("y0"),
        Layout.normalize16(lit(30L), col("sx")).as("y1"))
      def stats4(zm: DataFrame, tag: String) =
        Layout.pruningStats(zm.crossJoin(broadcast(box)),
          col("x0"), col("x1"), col("y0"), col("y1"))
          .withColumn("layout", lit(tag))
      val exact = li.where(col("l_partkey").between(500L, 600L) &&
          col("l_suppkey").between(20L, 30L))
        .agg(count(lit(1)).as("n_exact_rows"))
      stats4(Layout.zoneMap(df, nx, ny, 6), "zorder")
        .unionByName(stats4(Layout.linearZoneMap(df, nx, ny, 6), "linear"))
        .crossJoin(broadcast(exact))
        .select(col("layout"), col("n_buckets"), col("n_candidate_buckets"),
          col("n_candidate_rows"), col("n_exact_rows"))
    }),
    "hilbert_zonemap" -> ((s, dir) => {
      // zorder_zonemap's Hilbert twin: same normalize16 inputs, same
      // prefix bucketing, but the curve is the codegen Hilbert kernel
      // (Kernels.hilbert — the rotation reads both coordinates, so a
      // builtin-composition unrolling would double per level). Exact
      // integer walk, hence hash-checkable with the 16 levels unrolled
      // as CTEs on the oracle side.
      import graft.operators.Layout
      val li = t(s, dir, "lineitem")
      val stats = li.agg(max(col("l_partkey")).cast("long").as("px"),
        max(col("l_suppkey")).cast("long").as("sx"))
      val df = li.crossJoin(broadcast(stats))
      Layout.hilbertZoneMap(df,
        Layout.normalize16(col("l_partkey"), col("px")),
        Layout.normalize16(col("l_suppkey"), col("sx")),
        bucketBits = 6)
    }),
    "hilbert_pruning" -> ((s, dir) => {
      // Hilbert vs Morton where curve choice ACTUALLY matters: the
      // same box query against 64 curve-contiguous EQUAL-COUNT file
      // chunks of each layout (prefix buckets of the two curves are
      // the same quadtree cells relabeled and prune identically — the
      // Layout.hilbertValue scaladoc; FILE boundaries fall at
      // arbitrary curve positions, where Morton's quadrant seams bloat
      // chunk boxes). Measured here: Hilbert chunks admit ~2.5x fewer
      // candidate rows for the same predicate. All exact integer
      // arithmetic, deterministic chunking — hash-checkable.
      import graft.operators.Layout
      val li = t(s, dir, "lineitem")
      val stats = li.agg(max(col("l_partkey")).cast("long").as("px"),
        max(col("l_suppkey")).cast("long").as("sx"))
      val df = li.crossJoin(broadcast(stats))
      val nx = Layout.normalize16(col("l_partkey"), col("px"))
      val ny = Layout.normalize16(col("l_suppkey"), col("sx"))
      val box = stats.select(
        Layout.normalize16(lit(500L), col("px")).as("x0"),
        Layout.normalize16(lit(600L), col("px")).as("x1"),
        Layout.normalize16(lit(20L), col("sx")).as("y0"),
        Layout.normalize16(lit(30L), col("sx")).as("y1"))
      def stats4(zm: DataFrame, tag: String) =
        Layout.pruningStats(zm.crossJoin(broadcast(box)),
          col("x0"), col("x1"), col("y0"), col("y1"))
          .withColumn("layout", lit(tag))
      val exact = li.where(col("l_partkey").between(500L, 600L) &&
          col("l_suppkey").between(20L, 30L))
        .agg(count(lit(1)).as("n_exact_rows"))
      stats4(Layout.curveFileMap(df, nx, ny,
          Layout.hilbertValue(nx, ny), 64), "hilbert")
        .unionByName(stats4(Layout.curveFileMap(df, nx, ny,
          Layout.zValue(nx, ny), 64), "zorder"))
        .crossJoin(broadcast(exact))
        .select(col("layout"), col("n_buckets"), col("n_candidate_buckets"),
          col("n_candidate_rows"), col("n_exact_rows"))
    }),
    "zorder3_zonemap" -> ((s, dir) => {
      // 3-column OPTIMIZE ZORDER (the real lakehouse arity): 48-bit
      // 3-D Morton over (partkey, suppkey, quantity), prefix-bucketed
      // zone map carrying min/max of ALL THREE dims — one map-side
      // agg, exact bit arithmetic, hash-checkable against the
      // triple-spread CTE chain.
      import graft.operators.Layout
      val li = t(s, dir, "lineitem")
      val stats = li.agg(max(col("l_partkey")).cast("long").as("px"),
        max(col("l_suppkey")).cast("long").as("sx"),
        max(col("l_quantity")).cast("long").as("qx"))
      val df = li.crossJoin(broadcast(stats))
      Layout.zoneMap3(df,
        Layout.normalize16(col("l_partkey"), col("px")),
        Layout.normalize16(col("l_suppkey"), col("sx")),
        Layout.normalize16(col("l_quantity"), col("qx")),
        bucketBits = 6)
    }),
    "zorder3_pruning" -> ((s, dir) => {
      // what the third curve column BUYS — and what it costs: the same
      // 3-D box predicate against the 3-D and 2-D zone maps at EQUAL
      // bucket count. The third dimension needs curve DEPTH to pay its
      // way (each prefix level spends 3 bits instead of 2): at 64
      // buckets the z-ranges span the whole quantity domain and the
      // 3-D map is marginally WORSE (measured 1844 vs 1812 candidate
      // rows); at the 4096 buckets used here the 2-D map bottoms out
      // at the matching x/y cells (433 rows — it cannot skip on
      // quantity at all) while the 3-D map reads 94. All exact
      // integers, full oracle.
      import graft.operators.Layout
      val li = t(s, dir, "lineitem")
      val stats = li.agg(max(col("l_partkey")).cast("long").as("px"),
        max(col("l_suppkey")).cast("long").as("sx"),
        max(col("l_quantity")).cast("long").as("qx"))
      val df = li.crossJoin(broadcast(stats))
      val nx = Layout.normalize16(col("l_partkey"), col("px"))
      val ny = Layout.normalize16(col("l_suppkey"), col("sx"))
      val nz = Layout.normalize16(col("l_quantity"), col("qx"))
      val box = stats.select(
        Layout.normalize16(lit(500L), col("px")).as("x0"),
        Layout.normalize16(lit(600L), col("px")).as("x1"),
        Layout.normalize16(lit(20L), col("sx")).as("y0"),
        Layout.normalize16(lit(30L), col("sx")).as("y1"),
        Layout.normalize16(lit(1L), col("qx")).as("z0"),
        Layout.normalize16(lit(10L), col("qx")).as("z1"))
      val s3 = Layout.pruningStats3(
          Layout.zoneMap3(df, nx, ny, nz, 12).crossJoin(broadcast(box)),
          col("x0"), col("x1"), col("y0"), col("y1"), col("z0"), col("z1"))
        .withColumn("layout", lit("zorder3"))
      val s2 = Layout.pruningStats(
          Layout.zoneMap(df, nx, ny, 12).crossJoin(broadcast(box)),
          col("x0"), col("x1"), col("y0"), col("y1"))
        .withColumn("layout", lit("zorder2d"))
      val exact = li.where(col("l_partkey").between(500L, 600L) &&
          col("l_suppkey").between(20L, 30L) &&
          col("l_quantity") >= 1.0 && col("l_quantity") <= 10.0)
        .agg(count(lit(1)).as("n_exact_rows"))
      s3.unionByName(s2).crossJoin(broadcast(exact))
        .select(col("layout"), col("n_buckets"), col("n_candidate_buckets"),
          col("n_candidate_rows"), col("n_exact_rows"))
    }),
    "dq_audit" -> ((s, dir) => {
      // declarative data-quality audit over lineitem, the gate a load
      // runs before promoting to serving: nulls, candidate key,
      // domains, referential integrity — a MIX of clean and violated
      // rules so both count paths face the oracle (and the audit
      // earned its keep immediately: the synthetic lineitem REUSES
      // (l_orderkey, l_linenumber) pairs — ~26k rows at sf0.01 share
      // their would-be TPC-H primary key — which this query now pins
      // as a data fact). All row-local rules share ONE aggregation
      // pass (adding a rule adds a sum column, not a scan); unique is
      // one keyed agg; the FK target broadcasts.
      import graft.operators.Constraints
      import graft.operators.Constraints._
      val li = t(s, dir, "lineitem")
      Constraints.audit(li, Seq(
        NotNull("l_orderkey"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        InRange("l_quantity", 1L, 50L),
        InRange("l_linenumber", 1L, 4L), // deliberately violated
        Matches("l_returnflag", "^[ARN]$"),
        Matches("l_linestatus", "^F$"), // deliberately violated ('O')
        ForeignKey("l_orderkey", t(s, dir, "orders"), "o_orderkey")))
    }),
    "table_profile" -> ((s, dir) => {
      // one-pass column profiler (operators/Profile.scala) — the
      // DISCOVERY twin of dq_audit: null counts, exact distincts,
      // native-typed min/max, mean rendered length and candidate-key
      // detection for four orders columns in a SINGLE aggregation
      // scan (count(distinct) per column plans through one Expand;
      // the exactDistinct=false knob swaps HLL++ in at 100 TB).
      import graft.operators.Profile
      Profile.table(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    }),
    "dq_suggest" -> ((s, dir) => {
      // profiler → auditor composition (the pairing both scaladocs
      // promise): the one-pass profile's facts rendered as a suggested
      // rule table — not_null where null-free, unique where the key
      // verdict held, in_range ONLY for integral-typed columns (the
      // profile's data_type gate keeps a text column whose values
      // render as integers from founding a numeric range rule).
      // ConstraintsSpec drives the
      // second half: the suggestions re-audit green on the same table
      // and flag injected violations on a drifted load. The derivation
      // is row-local over the columns-sized profile, so the oracle
      // replays it verbatim over the profile CTE.
      import graft.operators.{Constraints, Profile}
      Constraints.suggestFromProfile(Profile.table(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")))
    }),
    "profile_top_values" -> ((s, dir) => {
      // the per-column frequent-values half of profiling: each column
      // costs one thin projected scan + hash agg, and the top-k is
      // TakeOrderedAndProject (per-partition partial top-k), never a
      // global sort; ties break by value so the result is exact and
      // deterministic even on the high-cardinality o_custkey column.
      import graft.operators.Profile
      Profile.topValues(t(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey"), 3)
    }),
    "profile_fds" -> ((s, dir) => {
      // cross-column structure discovery: o_orderkey->o_custkey must
      // HOLD (orderkey is the key), the reverse and custkey->status
      // must NOT (customers place many orders) — one violated and one
      // held dependency face the oracle on both count paths. Each
      // candidate is one thin two-column scan + keyed agg.
      import graft.operators.Profile
      Profile.functionalDependencies(t(s, dir, "orders"), Seq(
        "o_orderkey" -> "o_custkey",
        "o_custkey" -> "o_orderkey",
        "o_custkey" -> "o_orderstatus",
        "o_orderpriority" -> "o_orderstatus"))
    }),
    "langid_confusion" -> ((s, dir) => {
      // EVAL of the langId heuristic against the labeled lang column:
      // the full confusion matrix (one hash agg over a pure
      // projection). The heuristic's marker-word argmax is exactly
      // SQL-replayable (the corpus_curation_portable pattern), so
      // even the misclassifications are oracle-pinned — the matrix is
      // the honest accuracy statement a quality report needs.
      import graft.functions.TextFunctions
      t(s, dir, "documents")
        .select(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    }),
    "profile_drift" -> ((s, dir) => {
      // load-over-load drift audit, the schema-on-read reality check
      // (SURVEY §7.4.2: the reference's JSON inference yields
      // different columns/types per day): today's orders vs a
      // deterministically drifted twin — o_orderpriority dropped,
      // o_channel appeared, o_custkey changed type bigint→string,
      // o_orderstatus nulled on every 10th key. One profile pass per
      // side, full-outer joined on column name.
      import graft.operators.Profile
      val orders = t(s, dir, "orders")
      val drifted = orders.select(
        col("o_orderkey"),
        col("o_custkey").cast("string").as("o_custkey"),
        when(col("o_orderkey") % 10 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        concat(lit("web-"), (col("o_orderkey") % 3).cast("string"))
          .as("o_channel"))
      Profile.drift(orders, drifted,
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_channel"))
    }),
    "profile_psi" -> ((s, dir) => {
      // distribution drift: reference octile boundaries frozen on
      // today's o_custkey, tomorrow simulated as a +300 (mod)
      // customer-mass shift — the per-bucket ref/new counts ARE the
      // PSI inputs, kept as exact integers so the whole comparison
      // hash-matches (the ln-weighted score is one projection
      // downstream). Mass visibly piles into shifted buckets.
      import graft.operators.Profile
      val orders = t(s, dir, "orders")
      val drifted = orders.select(
        ((col("o_custkey") + 300) % 1500).as("o_custkey"))
      Profile.stabilityCounts(orders, drifted, "o_custkey", 8)
    }),
    "profile_histogram" -> ((s, dir) => {
      // equi-DEPTH distribution view of o_custkey: 8 buckets cut at
      // exact interpolated octiles (k a power of two keeps every
      // interior fraction an exact binary, so the lo + frac·(hi−lo)
      // interpolation is exact arithmetic in both engines); bucket
      // membership is the portable strict-> comparison chain. Two
      // aggregation passes over one projected column; swap
      // exactBoundaries=false (t-digest) at 100 TB.
      import graft.operators.Profile
      Profile.equiDepthHistogram(t(s, dir, "orders"), "o_custkey", 8)
    }),
    "corpus_balanced_sample" -> ((s, dir) => {
      // fixed k=16 docs PER LANGUAGE — the balanced-eval draw a
      // fraction-keyed stratified sample can't give (rare strata keep
      // ~nothing); md5-ranked so the draw is stable under re-runs and
      // engine changes. One keyed exchange + per-group window.
      import graft.operators.Sampling
      Sampling.fixedPerGroupSample(t(s, dir, "documents"),
        col("doc_id"), col("lang"), k = 16)
        .select(col("doc_id"), col("lang"), col("sample_rank"))
    }),
    "event_anomalies" -> ((s, dir) => {
      // robust volume monitoring (operators/Anomaly.scala): hourly
      // event counts per type, median/MAD center+spread (50 %
      // breakdown — a broken day can't mask itself the way it drags a
      // mean/stddev z-score), flag = |cnt−med| > 3·mad. All exact
      // integer/half arithmetic, so DuckDB replays the decision
      // bit-for-bit; the events frame collapses to the ~680-bucket
      // count series in one map-side agg and the per-type stats
      // broadcast back.
      import graft.operators.Anomaly
      Anomaly.robustCountAnomalies(t(s, dir, "events"),
        col("event_type"), ntz(date_trunc("hour", col("ts"))), 3.0)
        .withColumnRenamed("group", "event_type")
        .withColumnRenamed("bucket", "event_hour")
    }),
    "event_drift" -> ((s, dir) => {
      // the LEVEL-SHIFT twin of event_anomalies: one-sided CUSUM in
      // MAD units (slack 0.5, decision h=5), computed closed-form as
      // S − min(0, running-min S) — two per-group ordered windows, no
      // recursion, exact half-integer arithmetic end to end. Catches
      // the sustained small shift the per-bucket z-score structurally
      // cannot.
      import graft.operators.Anomaly
      Anomaly.cusumDrift(t(s, dir, "events"),
        col("event_type"), ntz(date_trunc("hour", col("ts"))),
        slack = 0.5, h = 5.0)
        .withColumnRenamed("group", "event_type")
        .withColumnRenamed("bucket", "event_hour")
    }),
    "event_anomalies_dense" -> ((s, dir) => {
      // the OUTAGE-aware form of event_anomalies: countSeries produces
      // no row for a zero-event bucket, so a complete outage — the
      // exact failure the monitor exists for — is invisible to the
      // sparse detector. denseCountSeries fills every (type, hour)
      // against the hourly calendar spanning the load with cnt=0, so
      // a dark hour becomes the loudest row in its group. The dense
      // frame is groups × calendar (calendar-bounded, never
      // event-scaled); same exact median/MAD arithmetic after.
      import graft.operators.Anomaly
      val ev = t(s, dir, "events")
      val hour = ntz(date_trunc("hour", col("ts")))
      val calendar = ev
        .agg(min(hour).as("lo"), max(hour).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 hour"))).as("bucket"))
      Anomaly.robustCountAnomaliesFromSeries(
          Anomaly.denseCountSeries(ev, col("event_type"), hour, calendar),
          3.0)
        .withColumnRenamed("group", "event_type")
        .withColumnRenamed("bucket", "event_hour")
    }),
    "bloom_index_build" -> ((s, dir) => {
      // file-level Bloom index (operators/BloomIndex.scala) — the
      // EQUALITY twin of the zone-map family: 256-row order "files"
      // indexed on the NON-clustered o_custkey (zone maps can't serve
      // a point lookup on a column the layout wasn't sorted by). The
      // md5-derived bit positions make the filter engine-portable, so
      // DuckDB rebuilds the index bit-for-bit — false positives and
      // all. One projected scan + one bit_or agg; ~2.4k-row output
      // for a 15k-row table at sf0.01.
      import graft.operators.BloomIndex
      BloomIndex.build(t(s, dir, "orders"),
        expr("CAST(o_orderkey DIV 256 AS BIGINT)"), col("o_custkey"),
        k = 3, mBits = 4096)
    }),
    "bloom_store_compaction" -> ((s, dir) => {
      // OPTIMIZE for the streaming Bloom store: four "daily" partial
      // builds appended as SliceStore.Bloom slices, one OR-fold
      // compaction (one commit of the store's log), then the
      // SERVED VIEW is the query result — and its oracle is the
      // bloom_index_build SQL VERBATIM, because OR-folding partial
      // builds must equal building over the whole table. A hash match
      // here is a bit-level losslessness proof for the maintenance
      // op, not a checksum-boolean; the driver-side require pins the
      // file-count drop.
      import graft.operators.BloomIndex
      import graft.streaming.{SliceStore, Txn}
      val storePath = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_bloomstore_" + java.lang.Integer.toHexString(dir.hashCode) +
          "_" + s.sparkContext.applicationId
            .replaceAll("[^A-Za-z0-9]", "")).toString
      val fsP = new org.apache.hadoop.fs.Path(storePath)
      val fs = fsP.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(fsP, true)
      val orders = t(s, dir, "orders")
      (0 until 4).foreach { i =>
        SliceStore.Bloom.append(
          BloomIndex.build(orders.where(col("o_orderkey") % 4 === i),
            expr("CAST(o_orderkey DIV 256 AS BIGINT)"), col("o_custkey"),
            3, 4096), Txn("bloom_store_compaction", i.toLong), storePath)
      }
      val res = SliceStore.Bloom.compact(s, storePath)
      require(res.filesAfter < res.filesBefore,
        s"bloom store compaction did not reduce files: $res")
      SliceStore.Bloom.view(s, storePath)
    }),
    "count_store_compaction" -> ((s, dir) => {
      // the count-store twin of bloom_store_compaction: the events
      // stream's count partials appended as three batches of one
      // writer to a SliceStore.Count store, compacted into one slice,
      // then the served ANOMALY VERDICT is the query
      // result — and its oracle is event_anomalies' SQL VERBATIM,
      // because fold-then-detect must equal detecting over all events
      // ever streamed. Hash match == losslessness proof for the
      // maintenance op; driver require pins the file-count drop.
      import graft.operators.Anomaly
      import graft.streaming.{SliceStore, Txn}
      val storePath = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_countstore_" + java.lang.Integer.toHexString(dir.hashCode) +
          "_" + s.sparkContext.applicationId
            .replaceAll("[^A-Za-z0-9]", "")).toString
      val fsP = new org.apache.hadoop.fs.Path(storePath)
      val fs = fsP.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(fsP, true)
      val ev = t(s, dir, "events")
      (0 until 3).foreach { i =>
        SliceStore.Count.append(
          Anomaly.countSeries(ev.where(col("event_id") % 3 === i),
            col("event_type"), ntz(date_trunc("hour", col("ts")))),
          Txn("count_store_compaction", i.toLong), storePath)
      }
      val res = SliceStore.Count.compact(s, storePath)
      require(res.filesAfter < res.filesBefore,
        s"count store compaction did not reduce files: $res")
      Anomaly.robustCountAnomaliesFromSeries(
          SliceStore.Count.view(s, storePath), 3.0)
        .withColumnRenamed("group", "event_type")
        .withColumnRenamed("bucket", "event_hour")
    }),
    "bloom_index_prune" -> ((s, dir) => {
      // the LOOKUP half: 5 present + 3 absent customer keys probed
      // against the index; output compares candidate chunks (bloom
      // "maybe") with true chunks per key — the gap IS the measured
      // false-positive cost, and the oracle reproduces it exactly
      // because the hash is portable. The in-plan assert_true pins
      // the Bloom contract: NO false negatives (every true chunk is a
      // candidate), for present and absent keys alike. Probe side
      // broadcasts; the index never shuffles.
      import s.implicits._
      import graft.operators.BloomIndex
      val orders = t(s, dir, "orders")
      val chunkCol = expr("CAST(o_orderkey DIV 256 AS BIGINT)")
      // cache the shared frames: the audit references the index,
      // candidates and truth 2-3 times each, and without pinning them
      // the plan re-scans orders four times (measured — ReuseExchange
      // does not fire across the differently-aliased subtrees). All
      // three are index-sized, not table-sized.
      val index = Pin.cache(BloomIndex.build(orders, chunkCol,
        col("o_custkey"), 3, 4096))
      val probes = Seq("7", "42", "137", "999", "1250",
        "100007", "100042", "100137").toDF("probe_key")
      val cand = Pin.cache(BloomIndex.candidates(index, probes,
        col("probe_key"), 3, 4096))
      val truth = Pin.cache(orders
        .select(chunkCol.as("chunk"),
          col("o_custkey").cast("string").as("probe_key"))
        .join(broadcast(probes), Seq("probe_key")).distinct())
      val candCnt = cand.groupBy("probe_key")
        .agg(count(lit(1)).as("n_candidates"))
      val trueCnt = truth.groupBy("probe_key").agg(count(lit(1)).as("n_true"))
      val missed = truth.join(cand, Seq("probe_key", "chunk"), "left_anti")
        .groupBy("probe_key").agg(count(lit(1)).as("n_missed"))
      probes
        .join(candCnt, Seq("probe_key"), "left")
        .join(trueCnt, Seq("probe_key"), "left")
        .join(missed, Seq("probe_key"), "left")
        .select(col("probe_key"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_true"), lit(0L)).as("n_true"))
        .where(assert_true(coalesce(col("n_missed"), lit(0L)) === 0,
          concat(lit("bloom false negative for key "), col("probe_key")))
          .isNull)
    }),
    "zonemap_prune_scan" -> ((s, dir) => {
      // zone-map data skipping as a Catalyst OPTIMIZER RULE
      // (plans/ZoneMapPruning.scala — the injectable-rule extension
      // point): lineitem's key columns are clustered ONCE per session
      // into z-bucket partition directories (store convention), and
      // every scan of the store with x/y range conjuncts gets
      // `z_bucket IN (...)` injected, which FileSourceStrategy turns
      // into directory pruning (ZoneMapPruningSpec pins the
      // PartitionFilters and the bail-outs). Registration is a
      // METADATA READ, not a rescan: the build appends per-ingest
      // rawZoneMap slices to a SliceStore.ZoneStats store (what its
      // stream does per micro-batch), compacts it into one slice,
      // and attachFromStore collects only the bucket-bounded boxes —
      // the spec proves it by attaching with the table absent. The
      // oracle recomputes the SAME filter over raw lineitem — a hash
      // match is the proof the rewrite lost and duplicated nothing.
      import graft.operators.Layout
      import graft.plans.ZoneMapPruning
      import graft.streaming.{SliceStore, Txn}
      val appTag = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      val store = new org.apache.hadoop.fs.Path(wh, "graft_zcluster_" +
        java.lang.Integer.toHexString(dir.hashCode) + "_" + appTag)
      val statsStore = new org.apache.hadoop.fs.Path(wh,
        "graft_zstats_" + java.lang.Integer.toHexString(dir.hashCode) +
          "_" + appTag)
      if (!fs.exists(store)) {
        val staleBefore = System.currentTimeMillis() - 30L * 60 * 1000
        if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
          val nm = st.getPath.getName
          if ((nm.startsWith("graft_zcluster_") ||
              nm.startsWith("graft_zstats_")) && !nm.contains(appTag) &&
              st.getModificationTime < staleBefore)
            fs.delete(st.getPath, true)
        }
        val li = t(s, dir, "lineitem")
        val stats = li.agg(max(col("l_partkey")).cast("long").as("px"),
          max(col("l_suppkey")).cast("long").as("sx"))
        li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"))
          .crossJoin(broadcast(stats))
          .withColumn("z_bucket", shiftright(Layout.zValue(
            Layout.normalize16(col("l_partkey"), col("px")),
            Layout.normalize16(col("l_suppkey"), col("sx"))), 26))
          .drop("px", "sx")
          .write.partitionBy("z_bucket").parquet(store.toString)
        // the maintenance path: three "ingest batch" stats slices
        // appended (each one agg over its slice only), then the
        // store fold — history never rescanned
        val clustered = s.read.parquet(store.toString)
        (0 until 3).foreach { b =>
          SliceStore.ZoneStats.append(
            Layout.rawZoneMap(clustered.where(col("l_orderkey") % 3 === b),
              col("z_bucket"), Seq("l_partkey", "l_suppkey")),
            Txn("zonemap_prune_scan", b.toLong), statsStore.toString)
        }
        val cres = SliceStore.ZoneStats.compact(s, statsStore.toString)
        require(cres.filesAfter < cres.filesBefore,
          s"zone-stats compaction did not reduce files: $cres")
        ZoneMapPruning.attachFromStore(s, store.toString, "z_bucket",
          statsStore.toString)
      }
      s.read.parquet(store.toString)
        .where(col("l_partkey") >= 500L && col("l_partkey") <= 600L &&
          col("l_suppkey") >= 20L && col("l_suppkey") <= 30L)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
    }),
    "zonemap3_prune_scan" -> ((s, dir) => {
      // the pruning rule in THREE dimensions, serving the zValue3
      // layout it could not before: lineitem clustered by the 3-D
      // Morton prefix of (partkey, suppkey, orderkey), boxes kept per
      // bucket for all three raw columns, and a 3-D range conjunction
      // pruned on every dimension at once. Same full-scan-identity
      // oracle discipline as zonemap_prune_scan.
      import graft.operators.Layout
      import graft.plans.ZoneMapPruning
      val appTag = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      val store = new org.apache.hadoop.fs.Path(wh, "graft_z3cluster_" +
        java.lang.Integer.toHexString(dir.hashCode) + "_" + appTag)
      if (!fs.exists(store)) {
        val staleBefore = System.currentTimeMillis() - 30L * 60 * 1000
        if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
          val nm = st.getPath.getName
          if (nm.startsWith("graft_z3cluster_") && !nm.contains(appTag) &&
              st.getModificationTime < staleBefore)
            fs.delete(st.getPath, true)
        }
        val li = t(s, dir, "lineitem")
        val stats = li.agg(max(col("l_partkey")).cast("long").as("px"),
          max(col("l_suppkey")).cast("long").as("sx"),
          max(col("l_orderkey")).cast("long").as("ox"))
        li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"))
          .crossJoin(broadcast(stats))
          // 48-bit curve, top 6 bits -> ≤64 partition directories
          .withColumn("z_bucket", shiftright(Layout.zValue3(
            Layout.normalize16(col("l_partkey"), col("px")),
            Layout.normalize16(col("l_suppkey"), col("sx")),
            Layout.normalize16(col("l_orderkey"), col("ox"))), 42))
          .drop("px", "sx", "ox")
          .write.partitionBy("z_bucket").parquet(store.toString)
        // writer-persisted stats (one agg over the clustered rows);
        // attach is the O(buckets) metadata read
        val statsPath = store.toString + ".__zonemap"
        Layout.rawZoneMap(s.read.parquet(store.toString), col("z_bucket"),
            Seq("l_partkey", "l_suppkey", "l_orderkey"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(statsPath)
        ZoneMapPruning.attachFromStats(s, store.toString, "z_bucket",
          s.read.parquet(statsPath))
      }
      s.read.parquet(store.toString)
        .where(col("l_partkey") >= 300L && col("l_partkey") <= 900L &&
          col("l_suppkey") >= 5L && col("l_suppkey") <= 60L &&
          col("l_orderkey") <= 300000L)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
    }),
    "zonemap_prune_string" -> ((s, dir) => {
      // STRING min/max boxes — the reference's own partition pattern
      // (date-encoded paths: zoom_proc.py:325-336, jhub_proc.py:
      // 258-276) makes string-range skipping on load_date/ISO
      // timestamps the single most common real pruning predicate.
      // lineitem staged with ship_date rendered 'yyyy-MM-dd' and
      // bucketed by calendar month; boxes compare in binary UTF-8
      // order (Spark's own string comparison), and a half-open
      // [>= lo, < hi) date-string range prunes to the touched months.
      // Oracle = the same filter on raw lineitem, strftime-rendered.
      import graft.operators.Layout
      import graft.plans.ZoneMapPruning
      val appTag = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      val store = new org.apache.hadoop.fs.Path(wh, "graft_zdatestr_" +
        java.lang.Integer.toHexString(dir.hashCode) + "_" + appTag)
      if (!fs.exists(store)) {
        val staleBefore = System.currentTimeMillis() - 30L * 60 * 1000
        if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
          val nm = st.getPath.getName
          if (nm.startsWith("graft_zdatestr_") && !nm.contains(appTag) &&
              st.getModificationTime < staleBefore)
            fs.delete(st.getPath, true)
        }
        t(s, dir, "lineitem")
          .select(col("l_orderkey"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
            col("l_quantity"),
            (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
              .cast("long").as("z_bucket"))
          .write.partitionBy("z_bucket").parquet(store.toString)
        val statsPath = store.toString + ".__zonemap"
        Layout.rawZoneMap(s.read.parquet(store.toString), col("z_bucket"),
            Seq("ship_date"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(statsPath)
        ZoneMapPruning.attachFromStats(s, store.toString, "z_bucket",
          s.read.parquet(statsPath))
      }
      s.read.parquet(store.toString)
        .where(col("ship_date") >= "1995-03-01" &&
          col("ship_date") < "1995-06-01")
        .select(col("l_orderkey"), col("ship_date"), col("l_quantity"))
    }),
    "compaction_stats" -> ((s, dir) => {
      // the OPTIMIZE half of the reference's append cadence: stage
      // lineitem's key columns as 64 small files (one "hourly append"
      // each — the pattern jhub_proc's calendar batches accrete), then
      // bin-pack with Maintenance.compactTable and PROVE the rewrite
      // lossless against the SOURCE with data aggregates (row count +
      // an exact integral checksum, covering staging AND compaction).
      // File counts are environment facts (parquet encoder sizes
      // vary), so the oracle pins data identity and the reduction
      // CONTRACT as booleans while the driver-side require enforces
      // the actual file-count drop; the benched number prices the
      // whole maintenance op (stage + rewrite + swap).
      import graft.operators.Maintenance
      val stagePath = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_compact_" + java.lang.Integer.toHexString(dir.hashCode) +
          "_" + s.sparkContext.applicationId
            .replaceAll("[^A-Za-z0-9]", "")).toString
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val fsP = new org.apache.hadoop.fs.Path(stagePath)
      val fs = fsP.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(fsP, true) // fresh staging: the op itself is the measure
      li.repartition(64).write.parquet(stagePath)
      val src = li.agg(count(lit(1)).cast("long").as("n"),
        sum(col("l_orderkey")).cast("long").as("ck")).head()
      val (nSrc, ckSrc) = (src.getLong(0), src.getLong(1))
      val res = Maintenance.compactTable(s, stagePath,
        targetBytes = 64L << 20)
      require(res.filesAfter < res.filesBefore,
        s"compaction did not reduce files: $res")
      s.read.parquet(stagePath)
        .agg(count(lit(1)).cast("long").as("n_rows_after"),
          sum(col("l_orderkey")).cast("long").as("sum_okey_after"))
        .select(lit(nSrc).as("n_rows_before"), col("n_rows_after"),
          lit(ckSrc).as("sum_okey_before"), col("sum_okey_after"),
          (col("n_rows_after") === nSrc &&
            col("sum_okey_after") === ckSrc).as("row_identity"),
          lit(res.filesAfter < res.filesBefore).as("files_reduced"))
        .where(assert_true(col("row_identity"),
          lit(s"compacted table diverged from source at $stagePath")).isNull)
    }),
    "compaction_partitioned_stats" -> ((s, dir) => {
      // the PARTITIONED form of compaction_stats — the reference's
      // actual layout (date-partitioned staging, one slice per
      // calendar batch): lineitem staged under 3 l_returnflag
      // partitions x 16 small files each, every partition bin-packed
      // independently, and the rewrite proven lossless per partition
      // against the source's GROUP BY — so a partition swapped with
      // another's data (not just lost rows) would hash-mismatch.
      import graft.operators.Maintenance
      val stagePath = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_compact_part_" + java.lang.Integer.toHexString(dir.hashCode) +
          "_" + s.sparkContext.applicationId
            .replaceAll("[^A-Za-z0-9]", "")).toString
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_quantity"))
      val fsP = new org.apache.hadoop.fs.Path(stagePath)
      val fs = fsP.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(fsP, true)
      li.repartition(16).write.partitionBy("l_returnflag").parquet(stagePath)
      val results = Maintenance.compactPartitioned(s, stagePath,
        targetBytes = 64L << 20)
      require(results.nonEmpty &&
        results.values.forall(r => r.filesAfter < r.filesBefore),
        s"partitioned compaction did not reduce files: $results")
      s.read.parquet(stagePath)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("l_orderkey")).cast("long").as("sum_okey"))
        .withColumn("compacted", lit(true))
    }),
    "novelty_scores" -> ((s, dir) => {
      // per-doc novelty of the src1x increment vs the accumulated
      // src0-9 reference (the dedup_incremental split): integral
      // (n_sh, n_known) projection for the oracle; the novelty double
      // stays on the operator output
      val docs = t(s, dir, "documents")
      // hashShingles=false: the oracle computes exact text shingles, so
      // the registered entry must too — a 64-bit gram-hash collision
      // would flip the counts. Production keeps the hashed default.
      Dedup.noveltyScores(
        docs.filter(col("source").rlike("^src1[0-9]$")),
        docs.filter(col("source").rlike("^src[0-9]$")),
        col("doc_id"), col("text"), n = 3, hashShingles = false)
        .select(col("doc_id"), col("n_sh"), col("n_known"))
    }),
    "duplicate_spans" -> ((s, dir) => {
      // substring-level dedup signal (Lee et al. 2022): per doc, the
      // count of corpus-duplicated 8-token spans and the tokens covered
      // by their union. All-integral output -> exact DuckDB oracle.
      // hashShingles=false to match the exact-text oracle (see
      // novelty_scores); hashed remains the production default
      Dedup.duplicateSpanStats(t(s, dir, "documents"), col("doc_id"),
        col("text"), n = 8, minCount = 2, hashShingles = false)
    }),
    "strip_duplicate_spans" -> ((s, dir) => {
      // the action half: cut every corpus-duplicated 8-token span from
      // every document (all occurrences — boilerplate semantics).
      // clean_text reconstructs from kept tokens, so both engines emit
      // byte-identical strings.
      Dedup.stripDuplicateSpans(t(s, dir, "documents"), col("doc_id"),
        col("text"), n = 8, minCount = 2, hashShingles = false)
    }),
    "corpus_curation" -> ((s, dir) => { // engine-hash based: rows-only
      // the composed training-data path: annotate -> quality/lang gate ->
      // exact dedup -> MinHash near-dedup -> enriched curated corpus
      curateCorpusQuery(t(s, dir, "documents"), curationCfg)
    }),
    "corpus_curation_portable" -> ((s, dir) => {
      // oracle twin of the composed funnel under SigHash.Md5 (md5
      // minhash self-dedup, md5-vote simhash, md5 winnowing), so the
      // END-TO-END composition — gate ∘ exact-dedup ∘ LSH-dedup ∘
      // enrich — hash-matches one DuckDB query, not just each primitive
      // in isolation. Engine-hash corpus_curation stays the production
      // path.
      curateCorpusQuery(t(s, dir, "documents"),
        curationCfg.copy(hash = SigHash.Md5))
    }),
    "source_jaccard_exact" -> ((s, dir) => {
      // the audit-time exact twin of source_minhash_jaccard: true
      // distinct-shingle-set Jaccard per source pair, every pair
      // emitted, all-integral counts + one 0/0-guarded IEEE division.
      // hashShingles=false so the DuckDB oracle recomputes the
      // identical text-shingle sets (production uses hashed keys)
      Dedup.sourceJaccardExact(t(s, dir, "documents"), col("source"),
        col("text"), n = 3, hashShingles = false)
    }),
    "source_minhash_jaccard" -> ((s, dir) => { // engine-hash: rows-only
      // group-level sketches via the TypedImperativeAggregate: MinHash
      // union per source, then pairwise estimated Jaccard across sources
      import graft.functions.MinHashUnionAgg
      val docs = t(s, dir, "documents")
      val sigs = Dedup.minhashSignatures(docs, col("doc_id"), col("text"),
        numHashes = 64, shingleSize = 3)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      val grouped = sigs.groupBy(col("source"))
        .agg(MinHashUnionAgg.minhashUnion(col("sig"), 64).as("gsig"))
      grouped.as("a").join(grouped.as("b"),
          col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          (graft.functions.Kernels.agreeCountCol(col("a.gsig"), col("b.gsig"))
            .cast("double") / lit(64.0)).as("est_jaccard"))
    }),
    "source_minhash_jaccard_portable" -> ((s, dir) => {
      // md5 twin of the group-sketch query: per-(source, k) min over the
      // portable per-doc signatures IS the MinHash union (min over a
      // union of sets = min over per-set mins), so the whole sketch —
      // signature elements, group union, agree-count/64 estimate —
      // reproduces bit-for-bit in DuckDB. Same two-shuffle shape as the
      // production TypedImperativeAggregate form (one agg, one tiny
      // sources×sources join); the engine-hash form stays the bench
      // default (4-byte kernel hashes vs 16-char md5 strings).
      // Bounded anchor (the vec_id<1000 convention): the md5 kernel is
      // ~10x the engine hash per (shingle, k), so the twin runs on the
      // deterministic doc_id%10 slice — every source keeps 1/10 of its
      // docs, the construction is exercised end-to-end, and the oracle
      // applies the same cut (still the costliest query in the spread
      // at %5; the sketch math is size-independent).
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      val sigs = Dedup.minhashSignatures(docs, col("doc_id"),
          col("text"), numHashes = 64, shingleSize = 3, SigHash.Md5)
        // n_sh, not size(sig): a size(sig) predicate pushes the md5
        // kernel into the pre-exchange Filter (2-3 evals/row, one task —
        // measured 8x the query's real cost); see Dedup.lshBands
        .filter(col("n_sh") > 0)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      // group union via the typed aggregate, NOT posexplode-then-min:
      // exploding a kernel-derived array makes InferFiltersFromGenerate
      // add isnotnull(sig), which pushdown rewrites into a pre-exchange
      // Filter evaluating the md5 kernel 2-3x per row in one task; the
      // aggregate leaves the kernel in its parallel Project. The
      // per-(source, k) rows (identical values) come from exploding the
      // TINY group signatures after the agg.
      import graft.functions.MinHashUnionAgg
      val grouped = sigs.groupBy(col("source"))
        .agg(MinHashUnionAgg.minhashUnionMd5(col("sig"), 64).as("gsig"))
        .select(col("source"), posexplode(col("gsig")).as(Seq("k", "h")))
      grouped.as("a").join(grouped.as("b"),
          col("a.k") === col("b.k") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg((sum(when(col("a.h") === col("b.h"), 1L).otherwise(0L))
          .cast("double") / lit(64.0)).as("est_jaccard"))
    }),
    "simhash_codes" -> ((s, dir) => { // FNV-1a based: rows-only check
      Dedup.simhash64(t(s, dir, "documents"), col("doc_id"), col("text"))
    }),
    "simhash_pairs" -> ((s, dir) => { // FNV-1a based: rows-only check
      Dedup.simhashPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        maxHamming = 3)
    }),
    "simhash_codes_portable" -> ((s, dir) => {
      // md5-vote twin of simhash_codes: same ±1-vote per-row reduction,
      // zero shuffle, but the code derives from substr(md5(token),1,16)
      // so DuckDB reproduces it bit-for-bit → the whole simhash
      // construction is oracle-checked (FNV stays production)
      Dedup.simhash64(t(s, dir, "documents"), col("doc_id"), col("text"),
        SigHash.Md5)
    }),
    "simhash_pairs_portable" -> ((s, dir) => {
      // the pigeonhole block join is EXACT at a fixed code function
      // (hamming<=3 forces >=1 of 4 16-bit blocks equal), so with
      // portable codes the pair set answers an exact all-pairs hamming
      // oracle — the LSH recall proof the FNV twin can only property-test
      Dedup.simhashPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        maxHamming = 3, SigHash.Md5)
    }),
    "winnow_fingerprints" -> ((s, dir) => { // FNV-1a based: rows-only check
      t(s, dir, "documents").select(col("doc_id"),
        Fingerprint.winnow(col("text"), k = 5, w = 4).as("fp"))
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          element_at(col("fp"), 1).as("min_fp"))
    }),
    "winnow_fingerprints_portable" -> ((s, dir) => {
      // md5 twin of winnow_fingerprints at the same (k=5, w=4): the
      // kernel's distinct-ascending output makes element 1 the minimum
      // fingerprint, so both the count and the min are oracle-exact
      // (the k=8/w=8 variant is already proven inside boilerplate_scores;
      // this pins the standalone fingerprint query). FNV stays default.
      t(s, dir, "documents").select(col("doc_id"),
        SigHash.Md5.winnow(col("text"), k = 5, w = 4).as("fp"))
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          element_at(col("fp"), 1).as("min_fp"))
    }),
    "boilerplate_scores" -> ((s, dir) => {
      // repeated-passage fraction per doc from the winnowed fingerprint
      // sample — template/licence-block detection; only the fingerprint
      // sample ever shuffles, never the text. SigHash.Md5: the
      // md5-hex fingerprint variant reproduces in DuckDB SQL, so the
      // whole operator is oracle-checked; production keeps the FNV
      // default (winnow_fingerprints benches that kernel)
      Dedup.boilerplateScores(t(s, dir, "documents"), col("doc_id"),
        col("text"), k = 8, w = 8, minDocs = 2, SigHash.Md5)
    })
  )
}
