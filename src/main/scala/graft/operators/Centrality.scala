package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph centrality over document-similarity graphs — PageRank (Page et
  * al. 1999, "The PageRank citation ranking") on the near-duplicate
  * pair graph, scoring how *template-central* each document is: hubs of
  * big near-dup families rank high, singletons sit at the base score.
  * Useful as a curation signal (drop or down-weight the center of a
  * boilerplate family, keep its periphery) on top of the binary
  * keep/drop the dedup operators give.
  *
  * EXACT FIXED-POINT ARITHMETIC, deliberately: scores are maintained as
  * BIGINT multiples of 1/`scale` and every step is integer
  * multiply/floor-divide/sum —
  *
  *   s0     = scale div n
  *   s_i+1  = (15 * s0) div 100  +  (85 * Σ_{j~i} (s_j div deg_j)) div 100
  *
  * Integer addition is order-independent where float addition is not,
  * so the result is bit-identical across engines, partitionings and
  * retries — the same trick the repo's RationalIdf twins use, extended
  * to an ITERATIVE graph algorithm: the registered query is
  * DuckDB-hash-checkable end to end with the iterations unrolled as
  * CTEs. Floor-division loses < 1/scale per term (damping also keeps
  * the drift contractive), so ranks at `scale` = 1e12 match float
  * PageRank to ~9 significant digits while being exactly reproducible.
  *
  * Scale shape: the symmetrized, degree-annotated edge list is built
  * once and persisted (reused every iteration); one iteration is one
  * equi-join (scores ⋈ edges on the node id) + one map-side-combining
  * SUM keyed by the node id + one left join back to the node set —
  * nothing materializes adjacency per node, so degree skew costs rows,
  * not memory. The plan grows linearly in iterations; past
  * `truncateEvery` the score frame is localCheckpoint'd (the
  * [[Dedup.connectedComponents]] lineage lesson — persist bounds
  * recompute, only checkpointing bounds the PLAN). The node count `n`
  * is one driver-side action (a scalar count, same contract as the
  * A1 metric gates).
  *
  * Cache lifecycle: each iterative operator runs in a nested
  * [[Pin.scoped]] scope. The RETURNED frame is an eager pin owned by
  * the caller's scope: the iterations run exactly once inside this
  * call, every caller action scans the pinned result instead of
  * replaying the whole loop, and the pair cache, the edge cache and the
  * loop's pins are freed before returning. CentralitySpec pins the
  * returned plan free of the iteration joins.
  */
object Centrality {

  /** PageRank scores `(id, score)` for every node in `nodes`, damping
    * 0.85, over the undirected pair graph `pairs` (`id_a`, `id_b`;
    * each pair contributes both directions). `score` is a BIGINT in
    * units of 1/`scale`; isolated nodes converge to the base term
    * `(15 * (scale div n)) div 100`.
    */
  def fixedPointPageRank(nodes: DataFrame, id: Column, pairs: DataFrame,
                         iterations: Int, scale: Long = 1000000000000L,
                         truncateEvery: Int = 8): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(scale >= 1000L, s"scale must be >= 1000, got $scale")
    require(truncateEvery >= 1,
      s"truncateEvery must be >= 1, got $truncateEvery")
    Pin.scoped {
      val ids = nodes.select(id.as("id"))
      // Cache the PAIR frame, not the exploded edge list (r17): the
      // degree join consumes edges twice (probe + agg side), so the
      // expensive pair generation must be materialized exactly once —
      // but caching the small thresholded pair frame makes the explode +
      // degree join trivially recomputable from cache (the eager fill
      // runs pair generation alone, not pair generation + explode +
      // degree join). Symmetrize with ONE explode rather than a
      // self-union: a union of two selects would re-evaluate the
      // subtree once per branch inside the same job.
      val p = Pin.cache(pairs.select(col("id_a"), col("id_b")))
      p.count() // eager fill
      val edges = p
        .select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // reused every iteration (fills on iteration 1's scan)
      val degreed = Pin.cache(edges
        .join(edges.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src"))
      val n = ids.count()
      require(n > 0, "PageRank over an empty node set")
      val s0 = scale / n
      val base = 15L * s0 / 100L
      var scores = ids.select(col("id"), lit(s0).as("score"))
      for (iter <- 1 to iterations) {
        val inflow = degreed
          .join(scores, degreed("src") === scores("id"))
          .select(col("dst"), expr("score div deg").as("contrib"))
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("inflow"))
        scores = ids
          .join(inflow, ids("id") === inflow("dst"), "left_outer")
          .select(col("id"),
            (lit(base) +
              coalesce(expr("(85 * inflow) div 100"), lit(0L))).as("score"))
        if (iter % truncateEvery == 0 && iter < iterations)
          scores = Pin.eager(scores)
      }
      // pinned into the caller's scope: the iterations run ONCE here and
      // callers get a frame whose plan is just the pinned scan
      scores
    }
  }

  /** WEIGHTED fixed-point PageRank: each undirected pair carries a
    * positive INTEGER weight (the caller quantizes its similarity —
    * e.g. floor(jaccard·10⁶) — because only integer arithmetic keeps
    * the iteration order-independent and bit-portable), and a node's
    * score flows to its neighbors ∝ weight instead of uniformly:
    *
    *   contrib(u→v) = (s(u) * w(u,v)) div W(u),  W(u) = Σ_x w(u,x)
    *
    * On a near-dup graph this is the centrality that distinguishes a
    * hub tied to its family by 0.95-Jaccard mirrors from one tied by
    * borderline 0.5 matches — the unweighted walk treats both alike.
    *
    * Overflow contract: scale · max(weight) must stay below 2^62
    * (defaults: 10¹² · 10⁶ = 10¹⁸ < 4.6·10¹⁸ ✓); non-positive-weight
    * pairs are dropped (a zero weight is a non-edge). Same plan shape,
    * caching and lineage treatment as [[fixedPointPageRank]]; same
    * unrolled-CTE oracle trick (weights reproduce exactly in DuckDB
    * because the quantization is floor of one IEEE multiply of one
    * IEEE division).
    */
  def fixedPointPageRankWeighted(nodes: DataFrame, id: Column,
                                 pairs: DataFrame, weight: Column,
                                 iterations: Int,
                                 scale: Long = 1000000000000L,
                                 truncateEvery: Int = 8): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(scale >= 1000L, s"scale must be >= 1000, got $scale")
    require(truncateEvery >= 1,
      s"truncateEvery must be >= 1, got $truncateEvery")
    Pin.scoped {
      val ids = nodes.select(id.as("id"))
      // same pair-frame cache rationale as [[fixedPointPageRank]]
      val p = Pin.cache(pairs
        .select(col("id_a"), col("id_b"), weight.cast("long").as("w"))
        .where(col("w") > 0))
      p.count() // eager fill
      val edges = p
        .select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst"), col("w")),
          struct(col("id_b").as("src"), col("id_a").as("dst"), col("w"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
      // reused every iteration (fills on iteration 1's scan)
      val weighted = Pin.cache(edges
        .join(edges.groupBy(col("src")).agg(sum(col("w")).as("wsum")), "src"))
      val n = ids.count()
      require(n > 0, "PageRank over an empty node set")
      val s0 = scale / n
      val base = 15L * s0 / 100L
      var scores = ids.select(col("id"), lit(s0).as("score"))
      for (iter <- 1 to iterations) {
        val inflow = weighted
          .join(scores, weighted("src") === scores("id"))
          .select(col("dst"), expr("(score * w) div wsum").as("contrib"))
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("inflow"))
        scores = ids
          .join(inflow, ids("id") === inflow("dst"), "left_outer")
          .select(col("id"),
            (lit(base) +
              coalesce(expr("(85 * inflow) div 100"), lit(0L))).as("score"))
        if (iter % truncateEvery == 0 && iter < iterations)
          scores = Pin.eager(scores)
      }
      scores
    }
  }

  /** Per-node triangle participation and local clustering coefficient
    * over the undirected pair graph `pairs` (`id_a`, `id_b`) — the
    * structural complement to [[fixedPointPageRank]]: PageRank scores
    * how CENTRAL a doc is in its near-dup family, the clustering
    * coefficient scores how CLIQUE-LIKE the family is around it
    * (mirror farms and template families are near-cliques, coeff → 1;
    * chains of pairwise-similar revisions are triangle-free, coeff 0).
    *
    * Enumeration is the degree-ordered "forward" algorithm (Schank &
    * Wagner 2005): every undirected edge is oriented from its
    * lower-(degree, id) endpoint to the higher, wedges are generated
    * only from each node's OUT-neighbors, and a wedge (v, w) counts iff
    * v→w is itself an oriented edge — each triangle is found exactly
    * once, and the wedge fan-out per node is bounded by its
    * out-degree, which the orientation caps at O(√m) on any graph
    * (the reason this survives skew: a celebrity node with degree 10⁶
    * contributes NO wedges from its own id — its edges all point INTO
    * it from the low-degree side). A naive a<b-by-id wedge join is
    * quadratic in the hottest node's degree; by-(degree, id) it is
    * quadratic only in the GRAPH's arboricity.
    *
    * Scale shape: one agg for degrees, two hash joins to annotate
    * endpoints, one self-join on the wedge apex, one equi-join to
    * close wedges, one explode+agg for per-node counts — all keyed
    * joins, nothing collected. The coefficient is a single IEEE
    * division of two exact longs (2T / d(d-1)), so the whole output is
    * bit-portable and DuckDB-oracle-checkable.
    *
    * Output: (id, degree, n_triangles, clustering) for EVERY node in
    * `nodes` (isolated nodes: 0, 0, 0.0; degree-1 nodes: coeff 0.0).
    */
  /** One synchronous peel: survivors of `surv` whose degree WITHIN the
    * surviving subgraph is ≥ k. Two semi-joins (edge endpoints against
    * the survivor set) + one map-side-combining degree agg, all keyed
    * on the node id.
    */
  private def peelOnce(und: DataFrame, surv: DataFrame, k: Int): DataFrame = {
    val alive = und
      .join(surv.select(col("id").as("u")), Seq("u"))
      .join(surv.select(col("id").as("v")), Seq("v"))
    // explode-symmetrize, don't self-union: a union would evaluate the
    // two-join `alive` subtree once per branch (the PageRank edge-list
    // lesson)
    alive.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .where(col("d") >= k).select(col("n").as("id"))
  }

  /** Canonical deduped undirected edges (u < v) from a pair frame. */
  private def canonicalEdges(pairs: DataFrame): DataFrame =
    pairs.select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .where(col("u") < col("v")).distinct()

  /** k-core membership via BOUNDED synchronous peeling: `maxPeels`
    * rounds of "drop every node with in-subgraph degree < k", with an
    * IN-PLAN convergence gate — one extra peel is computed and the job
    * FAILS unless it changes nothing, so a green run certifies the
    * true fixpoint (the k-core), never a half-peeled prefix. The
    * bounded unrolling is what makes the result expressible as a
    * chain of DuckDB CTEs (the doc_pagerank trick); the peel count
    * needed in practice is small on similarity graphs (near-dup
    * families are near-cliques — one or two rounds strips the
    * pendants). [[kCoreFixpoint]] is the unbounded production twin.
    *
    * Output: (id, in_kcore) for every node in `nodes`. Scale shape:
    * per peel one small eager job (two node-keyed semi-joins + one
    * degree agg over the checkpointed canonical edge list — eager
    * because both semi-joins reference the same survivor frame inside
    * one job, where a lazy cache cannot help; see the in-body
    * comment); the convergence gate is two 1-row count frames
    * cross-joined into the returned plan, so the FAILURE still
    * surfaces in-plan at read time.
    */
  def kCoreBounded(nodes: DataFrame, id: Column, pairs: DataFrame,
                   k: Int, maxPeels: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxPeels >= 1, s"maxPeels must be >= 1, got $maxPeels")
    // EAGER materialization, not lazy persist: every peel references
    // its input twice (both endpoint semi-joins), and within ONE job
    // both references materialize concurrently BEFORE either fills a
    // lazy cache — so an unpinned chain re-evaluates the (expensive)
    // pair generation ~2^depth times (measured: 78s -> 3s at sf0.01
    // when these checkpoints went in). One small job per peel instead.
    val und = Pin.eager(canonicalEdges(pairs))
    val all = nodes.select(id.as("id"))
    var surv = all
    for (_ <- 1 to maxPeels) surv = Pin.eager(peelOnce(und, surv, k))
    val extra = peelOnce(und, surv, k)
    val cA = surv.agg(count(lit(1)).as("__n_peeled"))
    val cB = extra.agg(count(lit(1)).as("__n_extra"))
    val members = surv.withColumn("__in", lit(true))
    all.join(members, Seq("id"), "left")
      .crossJoin(broadcast(cA)).crossJoin(broadcast(cB))
      .where(assert_true(col("__n_peeled") === col("__n_extra"),
        concat(lit(s"kCoreBounded: not converged after $maxPeels peels ("),
          col("__n_peeled"), lit(" -> "), col("__n_extra"),
          lit(" survivors); raise maxPeels"))).isNull)
      .select(col("id"), coalesce(col("__in"), lit(false)).as("in_kcore"))
  }

  /** Unbounded k-core: peel to the true fixpoint with a driver-side
    * convergence loop (one scalar count per round — the CC/A1-metric
    * contract), survivor frames localCheckpoint-truncated every
    * `truncateEvery` rounds so the plan stays bounded however deep the
    * peeling goes (degenerate graphs can need O(n) rounds; real
    * similarity graphs need a handful).
    */
  def kCoreFixpoint(nodes: DataFrame, id: Column, pairs: DataFrame,
                    k: Int, truncateEvery: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(truncateEvery >= 1,
      s"truncateEvery must be >= 1, got $truncateEvery")
    Pin.scoped {
      // eager edge materialization (see kCoreBounded: both endpoint
      // semi-joins of round 1 would otherwise race the lazy cache and
      // run pair generation twice); rounds are serialized by their
      // count() actions, so a lazy cache suffices for the survivor lists
      val und = Pin.eager(canonicalEdges(pairs))
      val all = nodes.select(id.as("id"))
      var surv = all
      var prev = surv.count()
      var round = 0
      var done = false
      while (!done) {
        round += 1
        // cache every round (each peel scans its input twice); pin on
        // the truncate cadence so the PLAN stays bounded too — a cache
        // alone bounds recompute, only pinning bounds lineage (the CC
        // lesson)
        surv = peelOnce(und, surv, k)
        surv = if (round % truncateEvery == 0) Pin.eager(surv) else Pin.cache(surv)
        val n = surv.count()
        done = n == prev
        prev = n
      }
      all.join(surv.withColumn("__in", lit(true)), Seq("id"), "left")
        .select(col("id"), coalesce(col("__in"), lit(false)).as("in_kcore"))
    }
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara 2007, "Near linear time algorithm to detect
    * community structures in large-scale networks"), made DETERMINISTIC:
    * every node starts with its own id as label, and each round adopts
    * the label most frequent among its NEIGHBORS, ties broken toward
    * the smallest label; isolated nodes keep their own id. Unlike
    * [[Dedup.connectedComponents]] (which a min-label fixpoint would
    * reproduce), frequency voting splits a component into its dense
    * cores: two template families bridged by one borderline pair stay
    * separate communities, because one cross-edge is always outvoted —
    * the curation signal CC cannot give ("this near-dup blob is really
    * two families").
    *
    * Determinism is the whole trick (the paper's random tie-break makes
    * runs incomparable): argmax-by-(count, min-label) over exact counts
    * is a pure function of the previous labelling, so a FIXED number of
    * synchronous rounds is bit-reproducible across engines,
    * partitionings and retries — and the registered query answers a
    * DuckDB oracle with the rounds unrolled as CTEs (the doc_pagerank
    * convention). Synchronous LPA on a bipartite-ish subgraph can
    * 2-cycle rather than converge; a fixed `iterations` makes that a
    * non-issue (both engines compute the same round-k labelling).
    *
    * Scale shape: the symmetrized edge list is persisted once; each
    * round is one src-keyed equi-join (labels onto edges), one
    * map-side-combining (dst, label) count, one dst-keyed window argmax
    * (rows per node bounded by its distinct neighbor labels ≤ degree),
    * and one left join back to the node set — all exchanges keyed on
    * the node id, nothing collected. Plan lineage is truncated every
    * `truncateEvery` rounds and the result is an eager checkpoint (the
    * [[fixedPointPageRank]] lifecycle).
    *
    * Output: (id, label) for every node in `nodes`; `label` is the id
    * of some member of the node's community.
    */
  def labelPropagation(nodes: DataFrame, id: Column, pairs: DataFrame,
                       iterations: Int, truncateEvery: Int = 4): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(truncateEvery >= 1,
      s"truncateEvery must be >= 1, got $truncateEvery")
    Pin.scoped {
      val ids = nodes.select(id.as("id"))
      // same pair-frame cache rationale as [[fixedPointPageRank]]: cache
      // the small thresholded pair frame, derive the (2x-sized) edge list
      // from cache per round instead of caching it
      val p = Pin.cache(pairs.select(col("id_a"), col("id_b")))
      p.count() // eager fill
      val edges = p
        .select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst")).orderBy(col("c").desc, col("label").asc)
      var labels = ids.select(col("id"), col("id").as("label"))
      for (iter <- 1 to iterations) {
        val pick = edges
          .join(labels, edges("src") === labels("id"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
          .select(col("dst"), col("label").as("__new"))
        labels = ids.join(pick, ids("id") === pick("dst"), "left")
          .select(col("id"), coalesce(col("__new"), col("id")).as("label"))
        if (iter % truncateEvery == 0 && iter < iterations)
          labels = Pin.eager(labels)
      }
      labels
    }
  }

  def triangleStats(nodes: DataFrame, id: Column,
                    pairs: DataFrame): DataFrame = {
    // cache the canonical edge list FIRST: `pairs` is typically an
    // expensive similarity join, and und feeds the degree agg, both
    // annotate joins and (via deg) the final zero-fill — without the
    // cache the pair generation re-runs once per consumer (measured
    // 10.8s -> 2.9s on the sf0.1 near-dup graph). deg is node-sized;
    // caching it spares three re-aggregations of und.
    //
    // LAZY caches. r18 tried eager pins here and rejected them: a pin's
    // leaf then kept the origin plan's size estimate, so every
    // downstream broadcast-hash join (the degree annotates, the
    // wedge-closing join) flipped to sort-merge (plan diff: 54
    // BroadcastHashJoins -> 0) and the 10x closed-vocab fixture
    // regressed 28 s -> 40-52 s. Pins have carried their measured size
    // since, so that objection is gone; converting these caches to pins
    // (closing the sibling-race duplicate evaluation, bounded here: the
    // caches fill early, and the duplicate is the thresholded pair
    // frame, not the shingle stream) is a separate, measured change.
    val und = Pin.cache(canonicalEdges(pairs))
    val deg = Pin.cache(und.select(col("u").as("n"))
      .unionAll(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d")))
    // annotate both endpoints with degree, then orient low -> high
    val ann = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    // cached: the oriented edge list is scanned three times (both
    // wedge sides + the closing join)
    val oriented = Pin.cache(ann.select(
      when(struct(col("du").as("d"), col("u").as("i")) <
          struct(col("dv").as("d"), col("v").as("i")),
        struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t")))
    // wedges from each apex's out-neighbors; closed iff v->w oriented.
    // Exactly one of (v,w)/(w,v) can match: orientation is a DAG.
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"),
        col("o1.s") === col("o2.s") && col("o1.t") =!= col("o2.t"))
      .select(col("o1.s").as("a"), col("o1.t").as("b"), col("o2.t").as("c"))
    val triangles = wedges.join(oriented,
      col("b") === col("s") && col("c") === col("t"))
      .select(col("a"), col("b"), col("c"))
    val perNode = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("t"))
    nodes.select(id.as("id"))
      .join(deg.withColumnRenamed("n", "__dn"), col("id") === col("__dn"),
        "left")
      .join(perNode.withColumnRenamed("n", "__tn"), col("id") === col("__tn"),
        "left")
      .select(col("id"),
        coalesce(col("d"), lit(0L)).as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        when(coalesce(col("d"), lit(0L)) >= 2,
          (coalesce(col("t"), lit(0L)) * 2).cast("double") /
            (col("d") * (col("d") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }
}
