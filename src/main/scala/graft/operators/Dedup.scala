package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.JoinBridge
import org.apache.spark.storage.StorageLevel

import graft.functions.{Fnv64, SigHash, TextFunctions}

/** Deduplication operators for training-data pipelines, designed to scale:
  * every variant is expressed as shuffle-on-key DataFrame operations
  * (groupBy / equi-join on shingle or band keys) so Catalyst plans
  * map-side partial aggregation and AQE can handle skew. No driver-side
  * loops, no cartesian products — candidate generation is always a hash
  * join on a derived key, which is the property that survives 100 TB.
  */
object Dedup {

  // --- exact ---------------------------------------------------------------

  /** Exact dedup: one surviving row id per distinct value of `on`; the
    * survivor is the minimum id (deterministic). Single hash aggregation.
    * At scale, pass a digest as the key (`on = xxhash64(col("text"))` or
    * sha2) instead of a multi-KB raw text column — the group-by then
    * shuffles 8-64 bytes per row instead of the document.
    */
  def exactKeepMinId(df: DataFrame, on: Column, id: Column): DataFrame =
    df.groupBy(on.as("dedup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("group_size"))

  /** Ids of rows that would be dropped by [[exactKeepMinId]]. */
  def exactDuplicateIds(df: DataFrame, on: Column, id: Column): DataFrame = {
    val kept = exactKeepMinId(df, on, id)
    df.select(on.as("dedup_key"), id.as("row_id"))
      .join(kept, "dedup_key")
      .filter(col("row_id") =!= col("keep_id"))
      .select("row_id", "keep_id")
  }

  // --- exact n-gram Jaccard ---------------------------------------------

  /** Exact Jaccard similarity over distinct word `n`-gram shingles for
    * every pair of documents sharing at least one shingle: explode
    * shingles, self-join on the shingle (hash join on a high-cardinality
    * key — NOT all-pairs), count intersections, then
    * |A∩B| / (|A| + |B| - |A∩B|). Pairs below `minJaccard` are dropped.
    * Output: (id_a, id_b, jaccard) with id_a < id_b.
    */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column, n: Int,
                        minJaccard: Double,
                        maxDocFreq: Option[Long] = None,
                        hashShingles: Boolean = true): DataFrame = {
    val (sizes, inter) = shinglePairCounts(df, id, text, n, maxDocFreq,
      hashShingles)
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** The shared skeleton of [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]]: per-doc distinct shingle counts (`doc_id`,
    * `n_sh`) and the intersection count of every unordered pair sharing
    * a shingle (`id_a` < `id_b`, `inter`), over the df-capped shingle
    * universe when `maxDocFreq` is set.
    */
  private def shinglePairCounts(df: DataFrame, id: Column, text: Column,
                                n: Int, maxDocFreq: Option[Long],
                                hashShingles: Boolean)
      : (DataFrame, DataFrame) = {
    // Shingles are hashed to int64 before the self-join by default: an
    // 8-byte fixed-width key shuffles a fraction of the raw text and
    // hash-joins faster. A 64-bit collision (~1e-7 at millions of
    // distinct shingles) can perturb one intersection count; pass
    // hashShingles=false for the exact-text variant.
    val shingleKey =
      if (hashShingles) xxhash64(col("sh_text")) else col("sh_text")
    // per-doc uniqueness via array_distinct BEFORE the explode — a pure
    // per-row op. A global .distinct() here would be a full extra
    // exchange of the entire shingle stream on a key the self-join
    // doesn't even reuse (it shuffles on sh alone). Deduping the TEXT
    // shingles (not their hashes) also keeps per-doc set sizes exact
    // even if two of a doc's shingles ever collided in 64 bits.
    //
    // The explode input stays the RAW EXPRESSION on purpose (r17): a
    // shape that first names the array in a projection turns the
    // generator input into an attribute, and InferFiltersFromGenerate
    // then plants a `size(arr) > 0` filter that pushdown drags below
    // the scan-side exchange — re-evaluating the interpreted HOF
    // shingle pipeline per row, single-threaded before the repartition
    // (measured +2-4 s on every pair-family query at sf0.1).
    val shRaw = df
      .select(id.as("doc_id"),
        explode(array_distinct(TextFunctions.wordShingles(text, n))).as("sh_text"))
      .select(col("doc_id"), shingleKey.as("sh"))
    // Skew guard for the self-join: a boilerplate shingle shared by k docs
    // contributes k^2 join rows. Capping shingle document-frequency bounds
    // the worst key at maxDocFreq^2 and is standard practice at scale; the
    // uncapped form stays available for exact-oracle verification. The cap
    // is applied consistently to intersections AND set sizes, so the
    // result is the exact Jaccard / containment over the capped shingle
    // universe (hash-checkable by a twin with the identical cap).
    //
    // Fans out 3 ways (self-join both sides + sizes); caching beats
    // recomputing the shingle explode per consumer.
    //
    // CAPPED case: the persist goes on the RAW shingle stream, not the
    // capped one (r18) — the hot-shingle aggregate AND the anti-join probe
    // side both read shRaw, so persisting only the capped stream paid the
    // interpreted shingle-explode pipeline TWICE to fill it (once inside
    // the broadcast build, once on the probe side; 2.4x the uncapped
    // sibling's wall at the 10x closed-vocab fixture, where the explode
    // dominates). With shRaw cached, the broadcast build fills the cache
    // and every downstream consumer pays one cheap broadcast-hash probe
    // over cached 8-byte rows instead.
    val sh = maxDocFreq match {
      case None => Pin.cache(shRaw)
      case Some(cap) =>
        val base = Pin.cache(shRaw, StorageLevel.DISK_ONLY)
        val hot = base.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("sh")
        Pin.cache(base.join(broadcast(hot), Seq("sh"), "left_anti"))
    }
    // Per-doc set sizes as ONE eagerly-materialized frame (r17): the
    // callers' endpoint joins consume `sizes`, and with a lazy frame
    // Catalyst plans the aggregate subtree TWICE inside the final job
    // (two aggregate + broadcast builds over the cached stream). The
    // eager pin runs the (map-side-combined, n_docs-row) aggregate once
    // in its own small job and hands both joins the materialized frame —
    // measured 3.2 s → 2.1 s on the full pair build at sf0.1,
    // bit-identical output. Reliable when a checkpoint dir is set (Pin).
    val sizes = Pin.eager(sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")))
    val inter = sh.as("a").join(sh.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    (sizes, inter)
  }

  /** Exact shingle-set CONTAINMENT — the asymmetric companion to
    * [[ngramJaccardPairs]]: C(a→b) = |A∩B| / |A|, the fraction of `a`'s
    * distinct `n`-gram shingles also present in `b`. Containment is the
    * right lens for near-SUPERSET duplication (a short doc embedded
    * verbatim in a long one scores ~1.0 here but arbitrarily low
    * Jaccard, because the union is dominated by the long doc), which is
    * exactly the quote/aggregator-page shape symmetric dedup misses.
    * Output: every DIRECTED pair (id_a, id_b, containment) with
    * containment ≥ `minContainment`, id_a ≠ id_b.
    *
    * Scale: same shingle-explode + equi-self-join skeleton as
    * [[ngramJaccardPairs]] (hash join on the shingle key — never
    * all-pairs). The self-join and intersection aggregate run on the
    * UNORDERED id_a < id_b half — half the shuffled aggregate rows —
    * and both directions are emitted afterwards by a cheap projection
    * union on the already-reduced pair frame, each direction joined to
    * its own denominator. The division |A∩B|/|A| is one shared IEEE op
    * over exact longs, so the scores are engine-portable and
    * DuckDB-oracle-checkable (the tfidf RationalIdf argument).
    */
  def ngramContainmentPairs(df: DataFrame, id: Column, text: Column, n: Int,
                            minContainment: Double,
                            maxDocFreq: Option[Long] = None,
                            hashShingles: Boolean = true): DataFrame = {
    // Same skew guard, consistency rule and cache as
    // ngramJaccardPairs (its helper). A df-capped shingle is boilerplate
    // by definition — it stops being evidence that one doc CONTAINS
    // another precisely because everything contains it.
    val (sizes, inter) = shinglePairCounts(df, id, text, n, maxDocFreq,
      hashShingles)
    // mirror AFTER the reduction, and as ONE explode projection — a
    // union of two selects over `inter` makes Catalyst plan the whole
    // self-join + aggregate subtree TWICE (observed in the physical
    // plan), doubling the most expensive stage; the explode emits both
    // directions in a single pass over the reduced pair frame
    val directed = inter
      .select(explode(array(
        struct(col("id_a"), col("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("p"),
        col("inter"))
      .select(col("p.id_a"), col("p.id_b"), col("inter"))
    directed
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .withColumn("containment", col("inter").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= minContainment)
      .select("id_a", "id_b", "containment")
  }

  /** EXACT pairwise shingle-set Jaccard between GROUPS (sources) — the
    * audit-time twin of the MinHash-union sketch diagnostic
    * (`source_minhash_jaccard`): the sketch estimates these numbers
    * from 64 retained hashes per group, this computes them from the
    * true distinct-shingle sets, so it both calibrates the sketch
    * (spec asserts the estimate tracks it) and answers an exact DuckDB
    * oracle. Emits EVERY ordered group pair, zero-intersection pairs
    * included, with a 0/0-safe jaccard (two all-empty groups score
    * 0.0, not NULL/NaN — Spark Divide and DuckDB disagree on 0/0, see
    * the budget-alloc note).
    *
    * Scale: one distinct over (group, shingle-key) — 8-byte hashed
    * keys by default (`hashShingles = false` for the exact-text oracle
    * form) — then an equi-self-join on the key whose output is bounded
    * by (groups sharing a shingle choose 2) ≤ (nGroups choose 2) rows
    * PER DISTINCT SHINGLE, independent of corpus row count; the final
    * pair frame is nGroups², driver-trivial. The sketch form stays the
    * cheap per-day production diagnostic (no self-join at all); run
    * this one at audit cadence.
    */
  def sourceJaccardExact(df: DataFrame, group: Column, text: Column,
                         n: Int,
                         hashShingles: Boolean = true): DataFrame = {
    val shingleKey =
      if (hashShingles) xxhash64(col("sh_text")) else col("sh_text")
    val shRaw = df
      .select(group.as("source"),
        explode(TextFunctions.wordShingles(text, n)).as("sh_text"))
      .select(col("source"), shingleKey.as("sh"))
      .distinct()
    // fans out 3 ways (sizes + both self-join sides), cached as in
    // ngramJaccardPairs
    val sh = Pin.cache(shRaw)
    // group universe from the INPUT, not the shingle stream: a group
    // whose docs are all too short for a single shingle still audits
    // (n=0, every pair 0/0-guarded), instead of silently vanishing
    val sizes = df.select(group.as("source")).distinct()
      .join(sh.groupBy("source").agg(count(lit(1)).as("__n")),
        Seq("source"), "left")
      .select(col("source"), coalesce(col("__n"), lit(0L)).as("n"))
    val ints = sh.as("a").join(sh.as("b"), col("a.sh") === col("b.sh") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_int"))
    val ni = coalesce(col("n_int"), lit(0L))
    val nu = col("n_a") + col("n_b") - ni
    sizes.as("x").join(sizes.as("y"), col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
      .join(ints, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        ni.as("n_int"), nu.as("n_union"),
        when(nu === 0L, lit(0.0))
          .otherwise(ni.cast("double") / nu.cast("double")).as("jaccard"))
  }

  /** Materialize a deduplicated corpus from any pair list produced by the
    * operators below: every id appearing as the GREATER member of a
    * duplicate pair is dropped (greedy min-id survivor — the standard
    * one-pass policy; full transitive clustering would need iterative
    * connected components, overkill for near-dup pruning).
    */
  def applyPairDedup(df: DataFrame, id: Column, pairs: DataFrame): DataFrame =
    // no distinct() on the pair list: left_anti semantics are identical
    // with a duplicated right side, and the distinct was a whole extra
    // exchange of the pair list before the join's own build
    df.join(pairs.select(col("id_b").as("__drop_id")), id === col("__drop_id"),
      "left_anti")

  /** Prune documents that are near-SUBSETS of another document, from a
    * [[ngramContainmentPairs]] directed pair list: drop `id_a` of every
    * (id_a, id_b) pair — a's shingles are (mostly) inside b — EXCEPT
    * when the containment is mutual (near-identical twins, both
    * directions above threshold): dropping both would lose the content
    * entirely, so the pair keeps its min-id member, [[applyPairDedup]]'s
    * deterministic survivor rule. The quote-page / aggregator shape:
    * the contained short doc goes, the superset stays.
    *
    * Scale: one self-join of the (tiny, already-thresholded) pair list
    * on the reversed key to detect mutuality, then a left_anti against
    * the corpus — corpus rows shuffle once, pair-list work is
    * candidate-sized.
    */
  def applyContainmentPrune(df: DataFrame, id: Column,
                            pairs: DataFrame): DataFrame = {
    val rev = pairs.select(col("id_a").as("r_b"), col("id_b").as("r_a"))
    val drops = pairs
      .join(rev, col("id_a") === col("r_a") && col("id_b") === col("r_b"),
        "left")
      // one-way containment: a always drops; mutual: min id survives
      .filter(col("r_a").isNull || col("id_a") > col("id_b"))
      .select(col("id_a").as("__drop_id"))
    df.join(drops, id === col("__drop_id"), "left_anti")
  }

  /** One survivor per TRANSITIVE near-dup component under a caller-chosen
    * rank — the quality-aware canonical-document policy of production
    * curation (near-dup clusters routinely mix a clean original with
    * truncated / boilerplate-wrapped mirrors; min-id keeps whichever
    * crawled first, this keeps the BEST one). `rank` is any Column over
    * `df` (typically [[Quality.logisticQualityScore]]'s rational-sigmoid
    * score — exact IEEE arithmetic, so the whole operator stays
    * oracle-checkable); the survivor is the component member maximizing
    * it, ties to the smaller id, making the choice deterministic and
    * engine-portable.
    *
    * Scale shape: [[connectedComponents]] over the (tiny, thresholded)
    * pair list, then the survivor pick is a map-side-combining
    * `min_by(id, (-rank, id))` per component — no per-component window
    * sort, a giant component costs the same as many small ones (the
    * [[SemDedup.semanticPrune]] argument). The corpus shuffles once, in
    * the final left_anti against the dropped members; docs outside any
    * pair are untouched survivors by construction. Returns `df` filtered
    * to survivors, schema unchanged.
    */
  def applyClusterDedupByRank(df: DataFrame, id: Column, pairs: DataFrame,
                              rank: Column,
                              checkpointEvery: Int = 4): DataFrame = {
    val cc = connectedComponents(pairs, checkpointEvery = checkpointEvery)
    val ranked = df.select(id.as("__rid"), rank.cast("double").as("__rank"))
    val members = cc.join(ranked, col("id") === col("__rid"))
    // min over (-rank, id) = max rank, tie → smaller id; ranks are finite
    // IEEE doubles (negation exact), ids totally ordered
    val keeps = members.groupBy(col("comp"))
      .agg(min_by(col("id"), struct((-col("__rank")).as("r"), col("id")))
        .as("__keep_id"))
    val drops = members.join(keeps, "comp")
      .filter(col("id") =!= col("__keep_id"))
      .select(col("id").as("__drop_id"))
    df.join(drops, id === col("__drop_id"), "left_anti")
  }

  /** Transitive duplicate CLUSTERS from a pair list: iterative min-label
    * propagation — every vertex adopts the smallest id it can reach — to
    * fixpoint. [[applyPairDedup]]'s greedy one-pass policy is right for
    * pruning; clustering is what you need when the duplicate groups
    * themselves are the product (choose a canonical doc per cluster,
    * count cluster sizes, audit chains A~B~C where A,C never paired
    * directly).
    *
    * Each round propagates labels across edges AND across the label
    * mapping itself (pointer jumping: a vertex adopts its label's label),
    * so rounds needed grow with log(component diameter), not the diameter
    * — a chain of 1M near-identical docs resolves in ~20 rounds instead
    * of 1M. Convergence is detected from the SUM of labels: propagation
    * is pointwise non-increasing (every round takes a min over a superset
    * that includes the old label), so an unchanged sum is an exact
    * fixpoint test — one map-side-partial aggregate per round instead of
    * a labels⋈labels diff join. Each round's labels are cached and the
    * previous round freed, so RE-COMPUTE cost stays O(1) rounds
    * while cached (on cached-block loss, replay is bounded by the rounds
    * run — the usual iterative-algorithm caveat). Deterministic: the
    * label is min(reachable ids), independent of iteration order.
    *
    * `checkpointEvery > 0` additionally checkpoints the label frame
    * every N rounds, truncating the logical lineage: after k rounds the
    * plan is otherwise k joins deep and a replay after cached-block
    * loss costs O(rounds-run); with checkpointing the replay window is
    * O(checkpointEvery). When the SparkContext has a checkpoint dir set
    * (`sc.setCheckpointDir` — do this on a cluster) the checkpoint is
    * RELIABLE: written to that filesystem and immune to executor loss.
    * Without one it falls back to `localCheckpoint`, whose blocks live
    * in executor storage — lineage is truncated, so losing an executor
    * mid-run FAILS the job (it cannot recompute a truncated leaf)
    * rather than slowly replaying; acceptable for single-JVM/local use,
    * wrong for long multi-executor runs, hence the dir-based upgrade.
    *
    * ON by default (every 4 rounds) because the alternative is not just
    * slow replay — it is unbounded PLAN growth: each round unions the
    * propagation join and (from round 3) a labels⋈labels pointer jump,
    * so the logical plan roughly quadruples per round, and `persist()`
    * bounds recompute but NOT the plan. Every round's convergence
    * action then stringifies that plan for the SQL-listener event —
    * at ~20 rounds that is a multi-GiB string build per action (this
    * exact failure mode timed out a full bench run at sf0.1 before the
    * default flipped). The `edges` frame is likewise lineage-truncated
    * up front so the (typically expensive) pair-generation plan does
    * not re-inline into every round's join. Pass `checkpointEvery = 0`
    * only for shallow graphs where pinning checkpoint blocks for the
    * run's lifetime matters more than plan hygiene.
    *
    * Size-gated hybrid: when the materialized pair count is at most
    * `driverEdgeLimit` (default 2M — ~80 MB of driver arrays), the
    * labels come from driver-side union-find over the collected pairs
    * instead of the loop: identical min-reachable-id output, none of
    * the per-round scheduler latency that dominates small graphs (a
    * few hundred thresholded near-dup pairs do not deserve ten Spark
    * jobs). The distributed loop is the contract for everything above
    * the limit; pass `driverEdgeLimit = 0` to force it.
    *
    * Contract: throws IllegalStateException if maxIter rounds don't reach
    * the fixpoint (silently returning split components would corrupt
    * downstream canonical-doc picks); raise maxIter for deep chains. The
    * RETURNED DataFrame is the materialized fixpoint, cached or pinned
    * and owned by the caller's [[Pin.scope]]; every intermediate is freed
    * before returning. Output: (id, component)
    * for every id occurring in `pairs`; callers left-join singletons back
    * if they need total coverage.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          checkpointEvery: Int = 4,
                          driverEdgeLimit: Long = 2000000L): DataFrame = {
    require(checkpointEvery >= 0,
      s"checkpointEvery must be >= 0 (0 = off), got $checkpointEvery")
    require(driverEdgeLimit >= 0,
      s"driverEdgeLimit must be >= 0 (0 = always distributed), got " +
        driverEdgeLimit)
    Pin.scoped {
      // the pair lineage is typically expensive (an n-gram or LSH self-join)
      // and the symmetric union below references it twice — cache it so
      // edge materialization computes it once (a caller's cache is reused)
      val p = Pin.cache(pairs)
      // Size-gated driver fast path: label propagation pays ~1 s of
      // scheduler latency PER ROUND (join + agg + convergence action +
      // periodic checkpoint — several multi-stage jobs) regardless of
      // data size, so a small pair graph burns seconds of fixed cost on
      // microseconds of work. Near-dup pair lists are usually small even
      // when the corpus is not (they're threshold-filtered), so when the
      // materialized pair count fits `driverEdgeLimit`, collect it and
      // run union-find on the driver: identical output by construction
      // (component label = min reachable id — union-by-min-root keeps
      // exactly that invariant), deterministic under any edge order, and
      // ~80 MB of driver arrays at the 2M default (well under any sane
      // driver heap). Above the limit — the genuinely big graphs the
      // operator exists for — the distributed loop below runs unchanged.
      // The count is one cheap aggregate over the already-cached pair
      // frame the loop would materialize anyway. `driverEdgeLimit = 0`
      // forces the distributed path (the lineage specs pin it).
      if (p.count() <= driverEdgeLimit) unionFindLabels(p)
      else propagateLabels(p, maxIter, checkpointEvery)
    }
  }

  /** [[connectedComponents]]' driver path: union-find over `p`. */
  private def unionFindLabels(p: DataFrame): DataFrame = {
    val rows = p.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect()
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](
      math.max(16, rows.length * 2))
    def find(x0: Long): Long = {
      var x = x0
      var px = parent.get(x).longValue()
      while (px != x) {
        val ppx = parent.get(px).longValue()
        parent.put(x, ppx) // path halving
        x = ppx
        px = parent.get(x).longValue()
      }
      x
    }
    rows.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val spark = p.sparkSession
    import spark.implicits._
    val labelled = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) {
      val id = it.next().longValue()
      labelled(i) = (id, find(id))
      i += 1
    }
    Pin.cache(labelled.toSeq.toDF("id", "comp"))
  }

  /** [[connectedComponents]]' distributed path: label propagation. */
  private def propagateLabels(p: DataFrame, maxIter: Int,
                              checkpointEvery: Int): DataFrame = {
    // edges joins into EVERY round's plan — truncating its lineage here
    // (one materialization, which the cache below pays anyway) keeps
    // the pair-generation plan from re-inlining into each round
    val edgesBase = p.select(col("id_a").as("s"), col("id_b").as("t"))
      .union(p.select(col("id_b").as("s"), col("id_a").as("t")))
    val edges =
      if (checkpointEvery > 0) Pin.eager(edgesBase)
      else Pin.cache(edgesBase)
    var labels = Pin.cache(edges.select(col("s").as("id")).distinct()
      .select(col("id"), col("id").as("comp")))
    // ids are arbitrary longs; decimal(38,0) keeps the convergence sum
    // exact (a double would round above 2^53 and could miss a change);
    // empty input sums to SQL NULL -> ZERO
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val prop = edges.join(labels.withColumnRenamed("id", "s"), "s")
        .select(col("t").as("id"), col("comp"))
      // Pointer jump: follow the current label one step (id -> comp ->
      // comp's comp), collapsing chains in logarithmic rounds. Engaged
      // only once plain propagation hasn't converged in 3 rounds: typical
      // near-dup components are diameter <= 3 and finish before paying
      // the extra labels-by-comp shuffle; pathological chains switch to
      // ~3 + log2(diameter) rounds instead of diameter.
      val base = labels.union(prop)
      val withJump = if (iter < 3) base else base.union(
        labels.as("a")
          .join(labels.select(col("id").as("comp"), col("comp").as("comp2")),
            "comp")
          .select(col("id"), col("comp2").as("comp")))
      val nextBase = withJump.groupBy("id")
        .agg(min(col("comp")).as("comp"))
      // eager checkpoint both materializes AND truncates lineage — the
      // round's labels become a leaf, so later rounds (and any replay)
      // never re-walk the join chain behind it. A cache alone keeps
      // the full logical plan. Reliable (dir-backed) when available;
      // executor-local otherwise — see the contract note above.
      val next =
        if (checkpointEvery > 0 && (iter + 1) % checkpointEvery == 0)
          Pin.eager(nextBase)
        else Pin.cache(nextBase)
      val curSum = labelSum(next)
      // rolling free: at most two rounds' labels are held at once
      Pin.free(labels)
      labels = next
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — a " +
          "component's diameter exceeds maxIter; raise it (labels would " +
          "be WRONG: one real component split into several ids)")
    labels
  }

  /** Cluster-size histogram from MATERIALIZED cluster labels — the
    * production form of `dedup_cluster_sizes`: a run that has already
    * written the (doc_id, component) cluster view (the dedup_clusters
    * output) derives the size distribution with two chained map-side-
    * partial aggregates over that table and NOTHING else — no pair
    * generation, no CC iteration. The registered harness query
    * recomputes the labels only because registered queries must be
    * self-contained (SCALE.md); at 100 TB you always read the stored
    * labels.
    */
  def clusterSizeHistogram(labels: DataFrame,
                           component: Column): DataFrame =
    labels.groupBy(component.as("component"))
      .agg(count(lit(1)).as("n_members"))
      .groupBy(col("n_members")).agg(count(lit(1)).as("n_clusters"))

  // --- eval-set contamination -------------------------------------------

  /** Benchmark/eval-set contamination check — the standard pre-training
    * decontamination pass: for every corpus document, the number of
    * DISTINCT word `n`-gram shingles it shares with the evaluation
    * corpus. Matching is an equi-join on the shingle string; eval sets
    * are tiny next to a training corpus, so the distinct eval-shingle
    * side is broadcast by default and the corpus is never shuffled —
    * the scan streams through a map-side hash join + partial count.
    * Docs with zero overlap are absent from the output (filter with a
    * left_anti on this result to keep the clean ones).
    */
  def shingleContamination(corpus: DataFrame, eval: DataFrame,
                           id: Column, text: Column, n: Int,
                           broadcastEval: Boolean = true): DataFrame = {
    val evShRaw = eval
      .select(explode(TextFunctions.wordShingles(text, n)).as("sh"))
      .distinct()
    val evSh = if (broadcastEval) broadcast(evShRaw) else evShRaw
    // join BEFORE any distinct: the corpus-side shingle stream hits the
    // broadcast hash table with zero exchange, and only the (rare)
    // matches reach the distinct-count shuffle — a corpus-wide
    // distinct() first would shuffle every shingle of the training set
    corpus
      .select(id.as("doc_id"), explode(TextFunctions.wordShingles(text, n)).as("sh"))
      .join(evSh, "sh")
      .groupBy("doc_id")
      .agg(count_distinct(col("sh")).as("n_contam"))
  }

  /** [[shingleContamination]] with a Bloom pre-filter — the
    * runtime-filter shape for when the distinct eval-shingle set is too
    * wide to broadcast as a join hash relation: the driver builds a
    * Bloom filter over the eval shingles (`bitsPerItem` bits each —
    * 20-50x smaller than broadcast rows) and embeds it in the plan as a
    * BINARY LITERAL, so the corpus shingle stream drops non-members in
    * whole-stage codegen with zero exchange. Blooms admit false
    * positives but no false negatives, so the exact equi-join still
    * runs after the filter — over the rare survivors only — and the
    * result is IDENTICAL to the exact operator (same oracle). The join
    * deliberately does NOT broadcast the eval side: in the regime this
    * variant exists for, that side doesn't fit an executor, while the
    * post-bloom corpus side is survivor-sized and shuffles cheaply.
    *
    * Driver-side cost is the sketch only (numBits/8 bytes ~ a few MB at
    * 10 bits x millions of shingles) — the bounded-model pattern of
    * Ivf.fit. `expectedItems` sizes the filter (a stats estimate in a
    * real pipeline); overestimating costs bits, underestimating costs
    * false-positive rate, never correctness. The eval shingle set is
    * cached across its two uses (bloom build + verify join).
    */
  def bloomShingleContamination(corpus: DataFrame, eval: DataFrame,
                                id: Column, text: Column, n: Int,
                                expectedItems: Long = 1L << 20,
                                bitsPerItem: Int = 10): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(bitsPerItem > 0, s"bitsPerItem must be positive, got $bitsPerItem")
    val evSh = Pin.cache(eval
      .select(explode(TextFunctions.wordShingles(text, n)).as("sh"))
      .distinct())
    val bloomBytes = bloomOverShingles(evSh, expectedItems, bitsPerItem)
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.expression(lit(bloomBytes)),
      ColumnBridge.expression(xxhash64(col("sh")))))
    corpus
      .select(id.as("doc_id"), explode(TextFunctions.wordShingles(text, n)).as("sh"))
      .filter(mightContain)
      .join(evSh, "sh")
      .groupBy("doc_id")
      .agg(count_distinct(col("sh")).as("n_contam"))
  }

  /** Bloom filter bytes over the distinct word-`n`-gram shingles of
    * `eval` — the sketch [[bloomShingleContamination]] builds
    * internally, exposed for gates that probe it elsewhere (e.g. the
    * streaming [[decontaminationGate]], which must build it ONCE at
    * stream setup, not per micro-batch).
    */
  def buildShingleBloom(eval: DataFrame, text: Column, n: Int,
                        expectedItems: Long = 1L << 20,
                        bitsPerItem: Int = 10): Array[Byte] = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(bitsPerItem > 0, s"bitsPerItem must be positive, got $bitsPerItem")
    val evSh = eval
      .select(explode(TextFunctions.wordShingles(text, n)).as("sh"))
      .distinct()
    bloomOverShingles(evSh, expectedItems, bitsPerItem)
  }

  private def bloomOverShingles(evSh: DataFrame, expectedItems: Long,
                                bitsPerItem: Int): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bloomAgg = ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col("sh"))),
      Literal(expectedItems), Literal(expectedItems * bitsPerItem))
      .toAggregateExpression())
    evSh.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
  }

  /** Cross-document repeated-passage (boilerplate) scores: for every
    * document, the fraction of its winnowed fingerprints that also
    * appear in at least `minDocs` OTHER-or-same distinct documents —
    * headers, footers, templates and licence blocks score near 1,
    * original prose near 0. The winnowing guarantee (Schleimer et al.
    * 2003) makes this a position-robust substring-match sample: any
    * shared run of >= w+k-1 chars shares at least one fingerprint. The
    * k=8/w=8 defaults target passage-level runs (>= 15 chars) — short
    * k floods the score with chance k-gram collisions between
    * unrelated prose. Documents too short to yield any fingerprint
    * (text under ~k+w-1 chars) still appear in the output, as
    * (n_fp=0, n_shared=0, boilerplate_frac=0.0).
    *
    * Scale: the corpus text itself is never shuffled — only the
    * winnowed fingerprint SAMPLE (density ~2/w of the k-gram stream,
    * 8-byte longs) crosses the wire: one groupBy(fp) counts document
    * frequency, and the per-doc shared/total counts are fp- and
    * doc-keyed aggregates of that same exploded sample, which is
    * cached at its 3-way fan-out. Fingerprints are FNV-1a engine hashes by default
    * (`SigHash.Md5` gives the md5-hex variant, identical window
    * semantics, that answers an exact DuckDB oracle).
    */
  def boilerplateScores(df: DataFrame, id: Column, text: Column,
                        k: Int = 8, w: Int = 8,
                        minDocs: Int = 2,
                        hash: SigHash = SigHash.Engine): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val fpArr = hash.winnow(text, k, w)
    // explode_OUTER: a document shorter than ~k+w-1 chars yields no
    // fingerprints, and a plain explode would drop it from the output
    // entirely (r7 advice) — the outer row carries fp=null and the doc
    // surfaces as (n_fp=0, n_shared=0, boilerplate_frac=0.0)
    val fps = Pin.cache(df.select(id.as("doc_id"),
        explode_outer(array_distinct(fpArr)).as("fp")))
    // per-doc distinct fps (array_distinct above), so count per fp IS
    // the document frequency; null fps (fingerprint-less docs) must not
    // form a df group of their own
    val shared = fps.filter(col("fp").isNotNull)
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("fp"))
    // left_semi equi-join: null fp rows never match — correct, they are
    // not shared fingerprints
    val nShared = fps.join(shared, Seq("fp"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    fps.groupBy(col("doc_id")).agg(count(col("fp")).as("n_fp"))
      .join(nShared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_fp"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_fp") === 0L, lit(0.0))
          .otherwise(coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_fp"))
          .as("boilerplate_frac"))
  }

  /** Stateless decontamination gate: drops every document whose shingle
    * set probably intersects the eval bloom — one per-row codegen probe
    * with early exit, NO shuffle, NO state, so it composes with
    * Structured Streaming as a plain filter (the streaming twin of
    * [[bloomShingleContamination]]). Conservative by construction:
    * blooms have no false negatives, so every truly contaminated
    * document is dropped; ~fpp of clean documents fall with them
    * (size `expectedItems` accordingly). Pipelines that can't afford
    * that loss route the gate's complement through the exact batch
    * path instead.
    */
  def decontaminationGate(docs: DataFrame, bloomBytes: Array[Byte],
                          text: Column, n: Int): DataFrame = {
    import graft.functions.Kernels
    docs.filter(!Kernels.bloomContainsAnyCol(
      TextFunctions.wordShingles(text, n), bloomBytes))
  }

  /** Shared front half of the duplicate-span operators: the (doc_id,
    * pos) stream of token-`n`-gram START positions whose gram occurs at
    * least `minCount` times corpus-wide. One 8-byte-key aggregate with
    * map-side partials + a left_semi back onto the (persisted) gram
    * stream; only hot positions flow out.
    */
  private def hotSpanPositions(df: DataFrame, id: Column, text: Column,
                               n: Int, minCount: Long,
                               hashShingles: Boolean): DataFrame = {
    require(n >= 2, s"span length must be >= 2 tokens, got $n")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val shingleKey =
      if (hashShingles) xxhash64(col("sh_text")) else col("sh_text")
    val grams = Pin.cache(df
      .select(id.as("doc_id"),
        posexplode(TextFunctions.wordShingles(text, n)).as(Seq("pos", "sh_text")))
      .select(col("doc_id"), col("pos"), shingleKey.as("sh")))
    val hot = grams.groupBy("sh").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCount).select("sh")
    grams.join(hot, Seq("sh"), "left_semi")
  }

  /** Per-document NOVELTY against a reference corpus: for every doc in
    * `docs`, how many of its distinct word-`n`-gram shingles already
    * occur anywhere in `ref` — the daily-crawl question ("how much of
    * today's batch is new text?") that drives dedup-before-ingest and
    * crawl-source budgeting. The inverse view of the contamination
    * family: [[shingleContamination]] scores EVAL docs against the
    * training corpus; this scores INCOMING docs against the accumulated
    * reference.
    *
    * Plan shape at 100 TB: both sides reduce to 8-byte shingle hashes
    * (`hashShingles` — pass false for the exact-text oracle variant);
    * the reference set distincts once on the hash, the incoming side
    * left-joins it (equi-join on a fixed-width key; Catalyst broadcasts
    * when the ref fits, AQE otherwise), and per-doc counts aggregate
    * with map-side partials. Raw text never shuffles. For a
    * boolean-gate variant with ZERO shuffle, use
    * [[decontaminationGate]]'s bloom-probe kernel instead.
    *
    * Output: (doc_id, n_sh, n_known, novelty) for EVERY input doc —
    * n_sh/n_known integral (hash-stable for the oracle), novelty =
    * 1 - n_known/n_sh as a convenience double (1.0 for shingle-less
    * docs: nothing about them is known to the reference).
    */
  def noveltyScores(docs: DataFrame, ref: DataFrame, id: Column,
                    text: Column, n: Int,
                    hashShingles: Boolean = true): DataFrame = {
    val key =
      if (hashShingles) xxhash64(col("sh_text")) else col("sh_text")
    val docSh = docs.select(id.as("doc_id"),
        explode(array_distinct(TextFunctions.wordShingles(text, n))).as("sh_text"))
      .select(col("doc_id"), key.as("sh"))
    val refSh = ref
      .select(explode(array_distinct(TextFunctions.wordShingles(text, n))).as("sh_text"))
      .select(key.as("sh"))
      .distinct()
    // ref side is distinct, so the left join preserves doc-shingle
    // cardinality; count(__known) counts exactly the matched shingles
    val counts = docSh
      .join(refSh.withColumn("__known", lit(1)), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), count(col("__known")).as("n_known"))
    docs.select(id.as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        when(coalesce(col("n_sh"), lit(0L)) === 0L, lit(1.0))
          .otherwise(lit(1.0) -
            coalesce(col("n_known"), lit(0L)).cast("double") /
              col("n_sh").cast("double")).as("novelty"))
  }

  /** Duplicate-span statistics — the exact SUBSTRING-level dedup signal
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): for every document, the number of its token
    * `n`-gram spans whose exact text occurs at least `minCount` times
    * across the WHOLE corpus (within-doc repeats included), and the
    * number of its tokens covered by the union of those spans.
    * Near-dup operators (MinHash/SimHash) score whole documents; this
    * scores the duplicated PASSAGES inside otherwise-unique documents —
    * the signal used to cut memorization-prone training text.
    *
    * Plan shape at 100 TB: the n-gram stream is hashed to 8-byte keys
    * per row (`hashShingles`, default — pass false for the exact-text
    * variant the oracle uses at verification scale), aggregated once by
    * key with map-side partial counts to find hot spans, and
    * left_semi-joined back; only the HOT positions (a small fraction of
    * the corpus by construction) reach the per-doc window that unions
    * overlapping spans via the lag-gap identity
    * `covered = Σ min(n, pos - prev_pos)`. The gram stream is cached at
    * its 2-way fan-out (count + semi-join), as in [[ngramJaccardPairs]].
    *
    * Output (all-integral, hash-stable for the DuckDB oracle):
    * (doc_id, n_tokens, n_dup_spans, dup_tokens) — every input doc
    * appears, zeros when nothing is duplicated.
    */
  def duplicateSpanStats(df: DataFrame, id: Column, text: Column,
                         n: Int = 8, minCount: Long = 2,
                         hashShingles: Boolean = true): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val covered = hotSpanPositions(df, id, text, n, minCount, hashShingles)
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(when(col("__prev").isNull, lit(n.toLong))
          .otherwise(least(lit(n.toLong),
            (col("pos") - col("__prev")).cast("long")))).as("dup_tokens"))
    df.select(id.as("doc_id"),
        TextFunctions.tokenCount(text).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** The ACTION half of [[duplicateSpanStats]]: strip every token
    * covered by a corpus-duplicated `n`-gram span from every document —
    * aggressive template/boilerplate removal, the "cut the memorized
    * passage" edit of Lee et al. 2022. Note the semantics: ALL
    * occurrences are removed (right for boilerplate a pipeline never
    * wants); occurrence-level dedup that KEEPS one canonical copy needs
    * a global survivor choice per span — compose [[exactKeepMinId]]
    * over span hashes if that is the goal.
    *
    * Plan shape: the hot-position front half is [[hotSpanPositions]]
    * (text never shuffles there); the per-doc sorted start list rides a
    * collect_list aggregate (bounded by tokens-per-doc, and hot spans
    * are rare by construction), left-joins the corpus, and tokens drop
    * in a per-row filter+exists HOF — interpreted, O(tokens × spans)
    * per doc with early exit, so cost concentrates exactly on the
    * templated docs being cleaned. Docs with no hot span short-circuit
    * to the original text (join miss), paying zero HOF evals.
    *
    * Output: (doc_id, clean_text, n_tokens, n_removed). clean_text is
    * the space-join of surviving tokens — byte-identical to the input
    * for untouched docs (split/join on single space is lossless).
    */
  def stripDuplicateSpans(df: DataFrame, id: Column, text: Column,
                          n: Int = 8, minCount: Long = 2,
                          hashShingles: Boolean = true): DataFrame = {
    val starts = hotSpanPositions(df, id, text, n, minCount, hashShingles)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    df.select(id.as("doc_id"), text.as("__text"))
      .join(starts, Seq("doc_id"), "left")
      .withColumn("__tk", TextFunctions.tokens(col("__text")))
      .withColumn("__kept",
        when(col("__starts").isNull, col("__tk"))
          .otherwise(filter(col("__tk"), (_, i) =>
            !exists(col("__starts"), s => s <= i && i < s + n))))
      .select(col("doc_id"),
        concat_ws(" ", col("__kept")).as("clean_text"),
        size(col("__tk")).cast("long").as("n_tokens"),
        (size(col("__tk")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  // --- MinHash + LSH -------------------------------------------------------

  /** MinHash signature: for each of `numHashes` hash functions, the
    * minimum remixed xxhash64 over the document's distinct
    * word-`shingleSize`-gram shingles. Entirely per-row (no shuffle),
    * computed by the codegen kernel ([[graft.functions.Kernels]]) — the
    * nested-HOF form costs numHashes × shingles INTERPRETED evals per
    * document, which is minutes-per-core at even 5k docs.
    * `SigHash.Md5` emits md5-hex elements instead (array<string>).
    * Output columns: doc_id, sig, n_sh.
    */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
                        numHashes: Int = 128, shingleSize: Int = 5,
                        hash: SigHash = SigHash.Engine): DataFrame =
    df.select(id.as("doc_id") +:
      minhashSigCols(text, numHashes, shingleSize, hash): _*)

  /** The `sig` and `n_sh` columns of [[minhashSignatures]], for a caller
    * that keeps its other columns beside the signature.
    */
  def minhashSigCols(text: Column, numHashes: Int, shingleSize: Int,
                     hash: SigHash): Seq[Column] = {
    val sh = array_distinct(TextFunctions.wordShingles(text, shingleSize))
    Seq(hash.minhash(sh, numHashes).as("sig"), size(sh).as("n_sh"))
  }

  /** LSH banding over MinHash signatures: split the signature into
    * `bands` bands of `rows = numHashes / bands` values, key each band
    * ([[graft.functions.SigHash.bandKey]]), and emit
    * (doc_id, band_idx, band_hash) — candidate pairs are rows agreeing
    * on any (band_idx, band_hash), found with an equi-join.
    */
  def lshBands(signatures: DataFrame, numHashes: Int, bands: Int,
               hash: SigHash = SigHash.Engine): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands
    val bandKeys = array((0 until bands).map { b =>
      hash.bandKey(col("sig"), b, rowsPerBand)
    }: _*)
    signatures
      // gate on n_sh, NOT size(sig): sig is empty exactly when n_sh = 0
      // (both signature builders emit n_sh; the store persists it), and a
      // size(sig) predicate gets alias-substituted through the projection
      // by predicate pushdown — the SIGNATURE KERNEL lands inside the
      // Filter below the parallelizing exchange and runs 2-3x per row in
      // one pre-repartition task (measured 8x wall on the md5 form)
      .filter(col("n_sh") > 0)
      .select(col("doc_id"), posexplode(bandKeys))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** Candidate duplicate pairs from MinHash LSH, verified by the MinHash
    * Jaccard estimate (fraction of agreeing signature positions) and
    * filtered at `minEstJaccard`. Output: (id_a, id_b, est_jaccard).
    */
  def minhashDedupPairs(df: DataFrame, id: Column, text: Column,
                        numHashes: Int = 128, shingleSize: Int = 5,
                        bands: Int = 32, minEstJaccard: Double = 0.5,
                        hash: SigHash = SigHash.Engine): DataFrame = {
    // The signature lineage fans out 4 ways (both sides of the banding
    // self-join + both est_jaccard lookups); without the cache Spark
    // recomputes the full minhash kernel per consumer.
    val sigs = Pin.cache(
      minhashSignatures(df, id, text, numHashes, shingleSize, hash))
    minhashDedupPairsFromSigs(sigs, numHashes, bands, minEstJaccard, hash)
  }

  /** Within-corpus LSH pair generation over PRE-COMPUTED signatures — the
    * body of [[minhashDedupPairs]], split out (r18) so a caller that
    * already holds a (cached or pinned) signature frame — e.g. the incremental
    * funnel, which needs the SAME signatures again for its cross-corpus
    * join — generates self-pairs without paying the per-row minhash
    * kernel a second time. `sigs` is a (doc_id, sig, n_sh) frame from
    * [[minhashSignatures]] under the same `hash`; it is referenced four
    * times here (both banding sides + both verification lookups), so the
    * caller should cache or pin it.
    */
  def minhashDedupPairsFromSigs(sigs: DataFrame, numHashes: Int, bands: Int,
                                minEstJaccard: Double,
                                hash: SigHash = SigHash.Engine): DataFrame =
    verifyCandidatePairs(selfBandCandidates(sigs, numHashes, bands, hash),
      sigs, sigs, minEstJaccard, hash)

  /** Distinct (id_a, id_b) over banded rows `a` × `b` matching `on` —
    * the candidate step of every LSH pair generator.
    */
  private def bandCandidates(a: DataFrame, b: DataFrame, on: Column): DataFrame =
    a.as("a").join(b.as("b"), on)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

  /** Both band columns in the key: collisions stay within a band
    * (expected spurious candidates ~ N_a·N_b·bands/2^32, not ·bands²).
    */
  private def sameBand: Column =
    col("a.band_idx") === col("b.band_idx") && col("a.band_hash") === col("b.band_hash")

  /** Self-join candidates (id_a < id_b) of signatures sharing any band. */
  private def selfBandCandidates(sigs: DataFrame, numHashes: Int, bands: Int,
                                 hash: SigHash): DataFrame = {
    val banded = lshBands(sigs, numHashes, bands, hash)
    bandCandidates(banded, banded, sameBand && col("a.doc_id") < col("b.doc_id"))
  }

  /** MinHash-LSH candidate pairs verified by the EXACT shingle Jaccard —
    * the `embed_near_dup_srp` construction applied to text: the sketch
    * only GENERATES candidates; every candidate is re-scored on the true
    * distinct word-`shingleSize`-gram sets, so the output is a subset of
    * [[ngramJaccardPairs]] (exact values, exact threshold) and answers
    * the same exact DuckDB oracle whenever LSH recall is 1 on the data.
    * Choose banding for near-certain recall at the threshold: with
    * `rows = numHashes/bands` hash rows per band, a true pair at
    * jaccard `j >= minJaccard` is missed with probability
    * `(1 - j^rows)^bands` — at rows=2, bands=64, j=0.5 that is
    * 0.75^64 ~ 1e-8. Cost shape at 100 TB: the per-row minhash kernel +
    * a banded equi-join generate few candidates; only those candidates
    * (not the corpus) pay the exact set intersection, via codegen
    * array_intersect on the two shingle arrays.
    * Output: (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashVerifiedPairs(df: DataFrame, id: Column, text: Column,
                           numHashes: Int = 128, shingleSize: Int = 3,
                           bands: Int = 64, minJaccard: Double = 0.5): DataFrame = {
    val sigs = Pin.cache(minhashSignatures(df, id, text, numHashes, shingleSize))
    val cands = selfBandCandidates(sigs, numHashes, bands, SigHash.Engine)
    // exact verification: distinct TEXT shingle sets joined onto the
    // (small) candidate pair set. The pair side broadcasts, so the
    // corpus streams through two broadcast-hash probes — two projected
    // (id, text) scans + per-row shingle kernels, NO corpus shuffle and
    // no pipeline stall. The tempting alternative (semi-join the corpus
    // down to candidate ids before computing shingles) measured 3.2x
    // SLOWER here: materializing the derived id list for the semi-join
    // serializes the whole LSH stage behind a broadcast build and adds
    // a union+distinct exchange — scans are cheap, stalls are not.
    // array_intersect is a codegen collection op; the arrays ride the
    // candidate-sized join rows, never a corpus-wide shuffle of text.
    val shingles = df.select(id.as("doc_id"),
      array_distinct(TextFunctions.wordShingles(text, shingleSize)).as("sh_set"))
    cands
      .join(shingles.select(col("doc_id").as("id_a"), col("sh_set").as("sh_a")), "id_a")
      .join(shingles.select(col("doc_id").as("id_b"), col("sh_set").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental near-dedup: candidate pairs between a NEW increment's
    * signatures and an accumulated REFERENCE corpus's signatures — the
    * shape a daily pipeline needs at scale, where re-LSHing the whole
    * lake per increment is not an option. Both inputs are
    * (doc_id, sig) frames from [[minhashSignatures]] under the same
    * `hash`; the reference side is typically read back from a staged
    * signature table (store it bucketed/partitioned by band hash and the
    * daily join prunes to the increment's buckets — the increment is
    * small, so its banded form broadcasts). Output: (id_a = ref doc,
    * id_b = new doc, est_jaccard); feed to [[applyPairDedup]] to drop
    * the increment's duplicates.
    * Contract: the two id spaces should be disjoint; self-pairs are
    * excluded defensively if they overlap. Dedup WITHIN the increment is
    * [[minhashDedupPairs]] on the increment alone.
    */
  def minhashPairsAgainst(newSigs: DataFrame, refSigs: DataFrame,
                          numHashes: Int, bands: Int,
                          minEstJaccard: Double,
                          hash: SigHash = SigHash.Engine): DataFrame = {
    // the REFERENCE side is consumed twice (banding + candidate
    // verification) and its lineage is typically the expensive half — a
    // full annotate/gate/minhash chain over the accumulated corpus when
    // no signature store is staged (dedup_incremental's shape) — so it
    // is cached here (a caller's cache is reused). The NEW side is also
    // read twice, but every funnel caller hands in an already-pinned (or
    // trivially derived) frame.
    val ref = Pin.cache(refSigs)
    val bn = lshBands(newSigs, numHashes, bands, hash)
    // the reference's bands are never the broadcast side: the reference
    // is the side that grows, so the band join builds on the new bands
    // or shuffles both. Left to sizes, a reference about the size of
    // the new side (a young store) is broadcast or not by which of the
    // two runtime sizes adaptive execution reads first, and each flip
    // plans, and compiles, another join
    val cands = bandCandidates(
      JoinBridge.noBroadcast(lshBands(ref, numHashes, bands, hash)), bn,
      sameBand && col("a.doc_id") =!= col("b.doc_id"))
    verifyCandidatePairs(cands, newSigs, ref, minEstJaccard, hash)
  }

  /** [[minhashPairsAgainst]] where the reference side is a PRE-BANDED
    * store: `refBanded` is (doc_id, band_idx, band_hash) — the read-back
    * of [[graft.pipelines.CorpusPipeline.writeSignatureStore]]. Staging
    * the banded form bucketed by band_hash means the daily band join
    * reads co-located buckets and plans NO store-side exchange: the only
    * shuffle is the increment's, which is the whole point at 100 TB.
    * `refSigs` supplies the signature arrays for verification and is
    * only joined for the (rare) candidates.
    *
    * The join key here is band_hash ALONE — the price of the bucket
    * co-partitioning: Spark skips the store-side shuffle only when ALL
    * join keys are bucket keys (spark.sql.requireAllClusterKeysForCoPartition),
    * and the store is bucketed by the one column. [[lshBands]] seeds each
    * band's hash with its band index, so band identity is still encoded
    * in the hash (the `SigHash.Md5` key is the raw slice: a cross-band
    * match needs equal md5 values at different positions); the cost is cross-band 32-bit collisions inflating the
    * candidate set ~bands× relative to the two-key join (still
    * ~N_ref·N_new·bands²/2^32 — negligible until corpus×increment
    * approaches 2^32/bands², and every candidate is verified against the
    * full signatures). [[minhashPairsAgainst]] keeps the tighter two-key
    * join since it gains nothing from a single-column key.
    */
  def minhashPairsAgainstBanded(newSigs: DataFrame, refBanded: DataFrame,
                                refSigs: DataFrame, numHashes: Int, bands: Int,
                                minEstJaccard: Double,
                                hash: SigHash = SigHash.Engine): DataFrame = {
    val cands = bandCandidates(refBanded, lshBands(newSigs, numHashes, bands, hash),
      col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") =!= col("b.doc_id"))
    verifyCandidatePairs(cands, newSigs, refSigs, minEstJaccard, hash)
  }

  /** Shared verification tail of the pair generators: fetch both
    * signatures for each candidate and keep pairs whose agreeing
    * fraction clears `minEstJaccard` — an integer agree count over one
    * exact IEEE division, so the md5 form answers an exact oracle.
    */
  private def verifyCandidatePairs(cands: DataFrame, newSigs: DataFrame,
                                   refSigs: DataFrame,
                                   minEstJaccard: Double,
                                   hash: SigHash): DataFrame =
    cands
      .join(refSigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(newSigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      // codegen kernel on the engine form, not zip_with+filter: the HOF
      // form runs 3 interpreted lambdas × numHashes per candidate pair
      .withColumn("est_jaccard",
        hash.agreeCount(col("sig_a"), col("sig_b"))
          .cast("double") / size(col("sig_a")).cast("double"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")


  // --- SimHash ---------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: each token votes ±1 on every
    * bit of its FNV-1a hash; the sign of the per-bit sum forms the final
    * code. SimHash is a per-document reduction, so it needs NO shuffle at
    * all — one codegen kernel call per row (the round-1 explode +
    * double-shuffle plan inflated rows 64× for nothing).
    * `SigHash.Md5` votes over md5-derived bits instead
    * ([[graft.functions.Kernels.simhashMd5]]), which a DuckDB oracle
    * reproduces exactly; FNV stays the production default.
    */
  def simhash64(df: DataFrame, id: Column, text: Column,
                hash: SigHash = SigHash.Engine): DataFrame =
    df.select(id.as("doc_id"),
      hash.simhash(TextFunctions.tokens(text)).as("simhash"))

  /** Pairs with SimHash Hamming distance ≤ `maxHamming`, using the
    * pigeonhole block trick: split the 64-bit code into `maxHamming + 1`
    * 16-bit blocks (for maxHamming ≤ 3); any pair within distance must
    * agree on ≥ 1 block → equi-join on (block_idx, block_value), then
    * verify with bit_count(xor).
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
                   maxHamming: Int = 3,
                   hash: SigHash = SigHash.Engine): DataFrame = {
    require(maxHamming <= 3, "block trick below uses 4 blocks of 16 bits")
    // persist the (tiny: id + long) code frame at the fan-out: the block
    // join reads it TWICE, and without the cache boundary the join keys'
    // inferred isnotnull(block_val) traces back to isnotnull(simhash64(
    // text)) and pushdown plants the HASH KERNEL inside each side's scan
    // Filter — 2 extra kernel evals per row per side (the lshBands
    // pushdown lesson; same persist convention as minhashDedupPairs)
    val codes = Pin.cache(simhash64(df, id, text, hash))
    val blockVals = array((0 until 4).map { b =>
      shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))
    }: _*)
    val blocks = codes.select(col("doc_id"), col("simhash"),
      posexplode(blockVals))
      .withColumnRenamed("pos", "block_idx")
      .withColumnRenamed("col", "block_val")
    blocks.as("a").join(blocks.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
        col("a.block_val") === col("b.block_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // --- embedding near-duplicates ---------------------------------------

  /** Embedding-cosine near-duplicate pairs above `minCosine`. Candidate
    * generation via LSH-OR over `bands` INDEPENDENT signed-random-
    * projection codes (band-seeded): a pair is a candidate if ANY band's
    * `bits`-bit code matches — an equi-join on (band_idx, code) — then
    * every candidate is verified with exact cosine. A single SRP code
    * misses any pair the hyperplanes happen to split (P[one-band match]
    * = (1 - θ/π)^bits); OR-ing bands drives miss probability to
    * (1 - p)^bands while keeping candidate generation a hash join.
    * For guaranteed-exhaustive small inputs set `bits = 0` (single
    * bucket = verified all-pairs; only for testing).
    */
  /** Corpus-derived SRP LSH operating point for
    * [[embeddingNearDupPairs]] — the embedding-near-dup analogue of
    * [[Ivf.operatingPoint]], and the code form of the scale contract
    * a PINNED (bits, bands) cannot keep: with bits fixed, same-(band,
    * bucket) candidates are Θ(n²/2^bits) — the r15 full-spread audit
    * measured exactly that quadratic term emerging (18× wall at 10×
    * data for the fixed bits=4/bands=16 point). The standard LSH
    * scaling discipline instead derives both knobs from the corpus:
    *
    *   - `bits` ≈ log₂(n / targetOccupancy): holds per-(band, bucket)
    *     occupancy roughly constant, so PER-BAND candidate work is
    *     Θ(n·occupancy) — linear in n at any corpus size. Floor 4;
    *     cap 30 (2^30 buckets — beyond that per-band hash cost
    *     dominates and a multi-probe scheme is the right structure,
    *     the same escape hatch Ivf.operatingPoint documents at its
    *     2^20 cap).
    *   - `bands` from PER-PAIR recall at the threshold angle: one
    *     band's hyperplanes all agree for a pair at angle θ with
    *     probability p = (1 − θ/π)^bits, and OR-ing k bands leaves
    *     miss probability (1−p)^k ≤ 1−pairRecall, so
    *     k = ⌈ln(1−pairRecall) / ln(1−p)⌉. As bits rise with n, p
    *     falls and bands grow ∝ (1/p) = (n/occ)^{log₂(1/(1−θ/π))} —
    *     total candidate work then scales as the classic
    *     sub-quadratic n^(1+ρ), ρ = log₂(1/(1−θ/π)) < 1 for any
    *     θ < π/2, instead of n². Bands cap at 512 (hash cost bound;
    *     reaching it means the threshold is too low for LSH-OR and
    *     candidates should come from an IVF-style index instead).
    *
    * Recall is gated, not hash-anchored: a derived point recovers
    * pairs AT the threshold with probability ≥ pairRecall (better
    * above it), so the scaled query (`embed_near_dup_srp_scaled`)
    * holds a recall floor against the exact pair set on a fixed id
    * window — the fixed point's full-recall hash oracle
    * (`embed_near_dup_srp`) stays registered as the envelope's-edge
    * documentation, exactly the split `pq_topk_scaled_recall` /
    * `pq_topk_recall` established for IVF-PQ.
    */
  /** `bandsDemanded` is the UNCLAMPED band count the recall target asked
    * for; `capped` is true when the 512-band clamp bound it — at which
    * point `bands` no longer delivers `pairRecall` at the threshold and
    * the caller should take the IVF candidate arm instead
    * ([[nearDupArm]] encodes that rule). The r16 audit showed the cap is
    * one step away at cos ≥ 0.5 / 100× (447 of 512): a silent clamp
    * would degrade per-pair recall with nothing loud until a 400 s run
    * hits the in-plan gate.
    */
  final case class SrpOperatingPoint(bits: Int, bands: Int,
                                     bandsDemanded: Long) {
    def capped: Boolean = bandsDemanded > bands
  }

  val SrpMaxBands = 512L

  def srpOperatingPoint(n: Long, minCosine: Double,
                        targetOccupancy: Long = 32,
                        pairRecall: Double = 0.9,
                        strict: Boolean = false): SrpOperatingPoint = {
    require(n > 0, s"srpOperatingPoint needs a positive corpus size, got $n")
    require(minCosine > -1.0 && minCosine < 1.0,
      s"minCosine must be in (-1, 1), got $minCosine")
    require(pairRecall > 0.0 && pairRecall < 1.0,
      s"pairRecall must be in (0, 1), got $pairRecall")
    require(targetOccupancy >= 1,
      s"targetOccupancy must be >= 1, got $targetOccupancy")
    val exp = math.round(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0))
    val bits = math.max(4L, math.min(30L, exp)).toInt
    val pBand = math.pow(1.0 - math.acos(minCosine) / math.Pi, bits.toDouble)
    val demanded = math.max(1L,
      math.ceil(math.log1p(-pairRecall) / math.log1p(-pBand)).toLong)
    if (strict) require(demanded <= SrpMaxBands,
      s"SRP operating point demands $demanded bands (> $SrpMaxBands cap) " +
        s"for pairRecall=$pairRecall at minCosine=$minCosine, n=$n — " +
        "LSH-OR cannot reach this threshold at this scale; use the IVF " +
        "candidate arm (Dedup.nearDupArm / SemDedup.nearDupPairsIvf)")
    SrpOperatingPoint(bits, math.min(SrpMaxBands, demanded).toInt, demanded)
  }

  /** Candidate-arm selection for embedding near-dup pairs by (n, θ):
    * SRP LSH-OR while the derived operating point's band demand fits
    * under [[SrpMaxBands]] (sub-quadratic n^(1+ρ) candidate work,
    * ρ = log₂(1/(1−θ/π))), the multi-probe IVF arm once the threshold
    * is too low for OR-amplification to reach at the target recall
    * (per-band match probability collapses and bands — i.e. full
    * corpus re-hashes — blow past the hash-cost bound). The crossover
    * is exactly the clamp [[srpOperatingPoint]] reports: bands demand
    * grows ∝ (n/occ)^ρ, so every threshold has a corpus size where SRP
    * stops being the right structure. SCALE.md's r16 audit located it
    * empirically: cos ≥ 0.5 at 100× needs 447 of the 512 cap; cos ≥
    * 0.3 at the same scale demands ~1.9k bands — IVF territory.
    */
  sealed trait NearDupArm
  final case class SrpArm(point: SrpOperatingPoint) extends NearDupArm
  final case class IvfArm(point: Ivf.OperatingPoint) extends NearDupArm

  def nearDupArm(n: Long, minCosine: Double,
                 targetOccupancy: Long = 32,
                 pairRecall: Double = 0.9): NearDupArm = {
    val srp = srpOperatingPoint(n, minCosine, targetOccupancy, pairRecall)
    if (srp.capped) IvfArm(Ivf.operatingPoint(n)) else SrpArm(srp)
  }

  def embeddingNearDupPairs(df: DataFrame, id: Column, vec: Column,
                            minCosine: Double, dim: Int,
                            bits: Int = 8, bands: Int = 4): DataFrame = {
    import graft.functions.VectorFunctions
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val coded = df.select(id.as("vec_id"), vec.as("v"))
    val bandCodes = array((0 until bands).map { b =>
      if (bits > 0) VectorFunctions.srpCode(vec, dim, bits, seed = 42L + b)
      else lit(0L)
    }: _*)
    val buckets = df.select(id.as("vec_id"), posexplode(bandCodes))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "bucket")
    // distinct BEFORE the vector rejoin: a pair agreeing in several bands
    // would otherwise be cosine-scored once per agreeing band
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cands
      .join(coded.select(col("vec_id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(coded.select(col("vec_id").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }
}
