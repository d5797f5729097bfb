package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Kernels, VectorFunctions, VectorSumAgg}

/** IVF (inverted-file) approximate nearest neighbor — the centroid-
  * partitioned scale path complementing the SRP-LSH variant
  * ([[Similarity.srpBucketTopK]]):
  *
  *   1. fit k-means centroids on (a sample of) the corpus;
  *   2. assign every corpus vector to its nearest centroid — the
  *      "inverted lists", a plain (list_id → rows) partitioning;
  *   3. per query, probe the `nprobe` nearest centroids and rerank only
  *      those lists' vectors exactly.
  *
  * Both the corpus assignment and the query probe list are PER-ROW codegen
  * kernels over the broadcast centroid matrix ([[Kernels.nearestCentroid]]
  * / [[Kernels.topCentroids]]) — zero shuffle, zero row inflation. The
  * former crossJoin(centroids) + row_number plan inflated the corpus
  * ×nlist and shuffled the inflated corpus just to compute an argmin; at
  * nlist=1024 on a real corpus that is a 1000× intermediate in the write
  * path. Candidate generation at query time is an equi-join on list_id,
  * never a cross join.
  *
  * At scale the corpus assignment is write-once (store `list_id` as a
  * partition column) and queries touch nprobe/nlist of the data.
  */
object Ivf {

  /** Model = the centroid matrix (nlist × dim, driver-side — it IS the
    * model, nlist rows) plus its DataFrame form for inspection/persist.
    */
  case class IvfModel(centroids: DataFrame /* (list_id, centroid) */,
                      matrix: Array[Array[Double]])

  /** Data-size-derived IVF(-PQ) operating point — the code form of the
    * r15 full-spread audit's finding: `pq_topk_recall`'s FIXED
    * sf0.1-calibrated point (nlist=16, nprobe=4, factor=4) correctly
    * fails its recall floor at a 10× corpus; an ANN operating point is
    * a function of corpus size, not a constant. Rules (the standard
    * IVF scaling discipline):
    *   - `nlist` ≈ √n rounded to the nearest power of two (list size
    *     ≈ √n keeps both the centroid ranking and the per-probe list
    *     scan ∝ √n), floor 16;
    *   - `nprobe` = nlist/4 (floor 4) — a CONSTANT fraction of the
    *     lists, so probe COVERAGE (the recall driver) is stable as the
    *     corpus grows while probe cost still grows only as √n;
    *   - `candidateFactor` = max(4, nlist/8) — the exact-rerank pool
    *     deepens with corpus density, where fixed ADC error is
    *     increasingly swamped by near-ties (measured at the 10× fixture:
    *     nlist/16 left macro-recall 0.2525, a 1% margin on the 0.25
    *     floor; nlist/8 is the measured-comfortable depth and the
    *     rerank join still touches only k·factor float rows per query).
    * `pq_topk_scaled_recall` holds this point to the same 0.25 floor
    * at sf0.1 AND the 10× fixture; the fixed-point gate stays
    * registered as the envelope's-edge documentation.
    */
  case class OperatingPoint(nlist: Int, nprobe: Int, candidateFactor: Int)

  /** Deterministic (hash, vector-lexicographic) order for collected fit
    * samples — shared by [[fit]] and [[Pq.fit]] so both driver-side
    * k-means trainers see a placement-independent iteration order.
    */
  private[operators] val sampleOrder =
    new java.util.Comparator[(Long, Array[Double])] {
      override def compare(a: (Long, Array[Double]),
                           b: (Long, Array[Double])): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) return c
        val (x, y) = (a._2, b._2)
        val m = math.min(x.length, y.length)
        var i = 0
        while (i < m) {
          val d = java.lang.Double.compare(x(i), y(i))
          if (d != 0) return d
          i += 1
        }
        Integer.compare(x.length, y.length)
      }
    }

  def operatingPoint(n: Long): OperatingPoint = {
    require(n > 0, s"operatingPoint needs a positive corpus size, got $n")
    // Long shift + an explicit 2^20 cap: an Int shift wraps negative at
    // exp >= 31 (n >= ~2.3e18) and would silently collapse nlist to the
    // 16 floor at exactly the scale this function exists for; 1M lists
    // is also where a flat centroid scan stops being the right probe
    // structure anyway (beyond it, use a hierarchical coarse quantizer)
    val exp = math.min(20L,
      math.round(math.log(math.sqrt(n.toDouble)) / math.log(2.0)))
    val nlist = math.max(16L, 1L << exp).toInt
    OperatingPoint(nlist, math.max(4, nlist / 4), math.max(4, nlist / 8))
  }

  /** Fit nlist centroids by spherical k-means on a BOUNDED sample,
    * trained driver-side. This is the standard IVF design (an IVF model
    * is always trained on a sample — centroid positions are insensitive
    * to sampling; only the lists' rough geometry matters), and it is the
    * scale-correct shape: the sample is capped at `maxSample` rows
    * regardless of corpus size, one distributed job collects it, and the
    * Lloyd iterations are in-memory instead of 10 scheduled Spark jobs
    * (which dominated the fit cost — the model itself is driver-side
    * either way, it IS an nlist × dim matrix).
    *
    * Spherical variant (centroids renormalized each round) because
    * assignment/probing use cosine. Deterministic: seeded init, parallel
    * assignment into a preallocated array, sequential accumulation.
    * Driver fit cost is maxSample × nlist × dim × maxIter multiplies —
    * size maxSample/nlist accordingly (defaults: 25k × 256 × 64 × 10
    * ≈ 4 × 10^9, a few seconds across cores).
    */
  def fit(corpus: DataFrame, vec: Column, nlist: Int,
          sampleFraction: Double = 1.0, seed: Long = 42L,
          maxSample: Int = 25000, maxIter: Int = 10): IvfModel = {
    // PLACEMENT-INDEPENDENT sampling (r18, closing r17 verdict #6): both
    // the caller's fraction thinning and the maxSample cap select on a
    // seeded 64-bit hash of the VECTOR VALUE, and the collected sample
    // is sorted on the driver by (hash, vector) before the fit runs — so
    // the realized training set AND its iteration order (which feeds the
    // seeded init indices and the sequential float accumulation of the
    // centroid update) are pure functions of the data and the seed,
    // independent of partitioning, core count and file layout. The
    // previous sample()/limit()/collect() chain was seeded per PARTITION
    // and kept partition order: the same corpus produced a different
    // model under a different core count or loader layout (the r17
    // disclosed drift on semantic_contamination / semantic_prune).
    // Uniformity is preserved — a hash threshold is the classic
    // deterministic Bernoulli sample, so a sorted/clustered corpus still
    // cannot bias the cap (the old anti-limit() argument). Cost shape
    // unchanged: one count aggregate, then one filtered collect bounded
    // near maxSample rows; the 1.1 slack absorbs hash variance exactly
    // like the old sample(1.1x)+limit pair.
    val vecs = corpus.select(vec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val n = vecs.count()
    require(n > 0, "Ivf.fit: empty sample")
    val hashMod = 1L << 40
    val frac = if (sampleFraction >= 1.0) 1.0 else sampleFraction
    val p = math.min(frac, math.min(1.0, maxSample * 1.1 / n.toDouble))
    val hashed = vecs.select(col("v"),
      pmod(xxhash64(col("v"), lit(seed)), lit(hashMod)).as("__h"))
    val sampled =
      if (p >= 1.0) hashed
      else hashed.filter(col("__h") < lit(math.round(p * hashMod)))
    val collected: Array[(Long, Array[Double])] = sampled.collect()
      .map(r => (r.getLong(1), r.getSeq[Double](0).toArray))
    java.util.Arrays.sort(collected, sampleOrder)
    val pts: Array[Array[Double]] = collected.take(maxSample).map(_._2)
    require(pts.nonEmpty, "Ivf.fit: empty sample")
    val k = math.min(nlist, pts.length)
    val dim = pts(0).length
    // Uniform dimensionality is a fit precondition, not a best-effort:
    // the hoisted pNorm/cNorm accumulate over each vector's FULL length,
    // so a ragged input would make hoisted-norm cosines differ from the
    // min-prefix form the pre-hoist code computed. Requiring one dim
    // makes the "bit-identical to the inlined form" equivalence hold by
    // construction (and a ragged embedding column is corrupt input
    // anyway — better a loud error than a silently skewed fit).
    pts.foreach(p => require(p.length == dim,
      s"Ivf.fit: ragged embedding dims (${p.length} vs $dim) — " +
        "uniform dimensionality required"))
    // seeded distinct-point init
    val rnd = new java.util.Random(seed)
    val centroids = rnd.ints(0, pts.length).distinct().limit(k.toLong)
      .toArray.map(i => pts(i).clone())
    val assignArr = new Array[Int](pts.length)
    // Hoisted norms: the per-pair cosine recomputed BOTH operand norms
    // (3x the needed flops per element, and each point's norm k times
    // per iteration — at nlist=512 the fit was ~25 s of the
    // pq_topk_scaled_recall 100x row, r16 audit). Bit-identical to the
    // inlined form: each norm accumulates in the same index order a
    // standalone loop uses, and the final expression is the same
    // dot / (sqrt(na) * sqrt(nb)) with the same operands.
    val pNorm = new Array[Double](pts.length)
    java.util.stream.IntStream.range(0, pts.length).parallel().forEach { i =>
      val p = pts(i); var na = 0.0; var d = 0
      while (d < p.length) { na += p(d) * p(d); d += 1 }
      pNorm(i) = math.sqrt(na)
    }
    val cNorm = new Array[Double](k)
    var iter = 0
    while (iter < maxIter) {
      var cn = 0
      while (cn < k) {
        val cv = centroids(cn); var nb = 0.0; var d = 0
        while (d < cv.length) { nb += cv(d) * cv(d); d += 1 }
        cNorm(cn) = math.sqrt(nb)
        cn += 1
      }
      // parallel argmax-cosine assignment (deterministic: per-point slot)
      java.util.stream.IntStream.range(0, pts.length).parallel().forEach { i =>
        val p = pts(i)
        var best = 0; var bestSim = Double.NegativeInfinity; var c = 0
        while (c < k) {
          val cv = centroids(c)
          var dot = 0.0; var d = 0
          while (d < dim) { dot += p(d) * cv(d); d += 1 }
          val s = if (pNorm(i) == 0.0 || cNorm(c) == 0.0) -1.0
            else dot / (pNorm(i) * cNorm(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        assignArr(i) = best
      }
      // sequential mean + renormalize (spherical); empty list keeps its
      // centroid so every list_id stays populated in the model
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var i = 0
      while (i < pts.length) {
        val a = assignArr(i); val p = pts(i); val s = sums(a)
        var d = 0
        while (d < dim) { s(d) += p(d); d += 1 }
        counts(a) += 1; i += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          val s = sums(c)
          var norm = 0.0
          var d = 0
          while (d < dim) { norm += s(d) * s(d); d += 1 }
          norm = math.sqrt(norm)
          if (norm > 0) {
            d = 0
            while (d < dim) { centroids(c)(d) = s(d) / norm; d += 1 }
          }
        }
        c += 1
      }
      iter += 1
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = centroids.toSeq.zipWithIndex.map { case (cn, i) => (i, cn) }
    IvfModel(rows.toDF("list_id", "centroid"), centroids)
  }

  /** Distributed spherical k-means (Lloyd) — the fit path for corpora
    * whose geometry a bounded driver sample cannot represent (very large
    * nlist, or heavy multi-modal structure where rare modes vanish from
    * a 25k sample). [[fit]] remains the default — an IVF coarse
    * quantizer genuinely only needs sample-level geometry — but when
    * the centroids themselves are the product (cluster-balanced
    * sampling, SemDeDup's cluster bound, corpus cartography), the fit
    * must see every row, and that is this operator.
    *
    * Per iteration, ONE distributed pass:
    *   - assignment is the [[Kernels.nearestCentroid]] argmax-cosine
    *     codegen kernel over the broadcast centroid matrix — a narrow
    *     projection, no shuffle, no row inflation;
    *   - the update is a groupBy(list_id) of [[VectorSumAgg]] + count:
    *     map-side partial merge means each task ships at most
    *     nlist × dim doubles regardless of row count — the only
    *     shuffle, k rows wide;
    *   - the k (sum, n) rows collect to the driver (the model IS an
    *     nlist × dim matrix), are renormalized (spherical), and embed
    *     as literals in the next iteration's kernel.
    *
    * The LOGICAL PLAN is constant-size per iteration — each round's
    * frame derives from the persisted base projection plus a fresh
    * literal matrix, never from the previous round's frame, so there is
    * no lineage growth to checkpoint (the connectedComponents lesson
    * does not arise by construction). Early exit when every centroid
    * moves by less than `tol` in cosine distance.
    *
    * Determinism: the kernel's argmax ties break to the lower list_id,
    * and init picks the nlist rows with the smallest
    * md5(id ++ "#" ++ seed) — hash order is uncorrelated with corpus
    * layout, so the seeds spread like a uniform sample yet are exactly
    * reproducible across partitionings and engines (the md5-rank trick
    * of [[Sampling.hashSplit]]). Double summation order inside a list
    * DOES vary with partitioning, so centroid floats are reproducible
    * only to summation ulps — assignments on separated data are stable
    * (spec-asserted); exact cross-engine hashes are not a goal here.
    *
    * Empty lists keep their previous centroid (same contract as [[fit]])
    * so every list_id stays populated.
    *
    * `quantScale > 0` switches the update to
    * [[VectorSumAgg.vectorSumQuantized]]: each element quantizes to
    * floor(x·scale + 0.5) before summing, so the summands are integral
    * doubles whose addition is EXACT and order-independent — the whole
    * fit becomes bit-reproducible across partitionings, executor counts
    * and re-runs (spherical normalization cancels the scale factor, so
    * no de-scaling is needed). The cost is ~1/scale absolute centroid
    * quantization per update — at the 1e6 default granularity, noise
    * far below any clustering signal. 0 disables (raw IEEE sums,
    * reproducible only to summation ulps).
    */
  def fitDistributed(corpus: DataFrame, id: Column, vec: Column, nlist: Int,
                     maxIter: Int = 10, tol: Double = 1e-6, seed: Long = 42L,
                     quantScale: Double = 1e6): IvfModel = {
    require(nlist > 0, s"nlist must be positive, got $nlist")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // the input is read once per Lloyd round: cached for the fit, freed
    // when it returns (the model holds driver values only)
    Pin.scope {
      val vecs = Pin.cache(corpus
        .select(id.cast("string").as("__kid"), vec.cast("array<double>").as("v"))
        .filter(col("v").isNotNull))
      val initRows = vecs
        .select(col("v"), md5(concat(col("__kid"), lit(s"#$seed"))).as("__h"))
        .orderBy(col("__h")) // TakeOrderedAndProject: nlist rows to driver
        .limit(nlist)
        .collect()
      require(initRows.nonEmpty, "Ivf.fitDistributed: empty input")
      val k = initRows.length // < nlist iff corpus has fewer rows
      val dim = initRows(0).getSeq[Double](0).length
      def unit(a: Array[Double]): Array[Double] = {
        var n = 0.0; var i = 0
        while (i < a.length) { n += a(i) * a(i); i += 1 }
        n = math.sqrt(n)
        if (n > 0) { i = 0; while (i < a.length) { a(i) /= n; i += 1 } }
        a
      }
      var mat = initRows.map(r => unit(r.getSeq[Double](0).toArray))
      var iter = 0
      var shift = Double.PositiveInfinity
      while (iter < maxIter && shift > tol) {
        val sumAgg =
          if (quantScale > 0)
            VectorSumAgg.vectorSumQuantized(col("v"), dim, quantScale)
          else VectorSumAgg.vectorSum(col("v"), dim)
        val agg = vecs
          .select(Kernels.nearestCentroidCol(col("v"), mat).as("list_id"),
            col("v"))
          .groupBy(col("list_id"))
          .agg(sumAgg.as("s"))
          .collect()
        val next = mat.map(_.clone()) // empty list keeps its centroid
        agg.foreach { r =>
          val c = r.getInt(0)
          val s = r.getSeq[Double](1).toArray
          var norm = 0.0; var d = 0
          while (d < dim) { norm += s(d) * s(d); d += 1 }
          if (norm > 0) next(c) = unit(s)
        }
        shift = 0.0
        var c = 0
        while (c < k) {
          val move = 1.0 - localCosine(mat(c), next(c))
          if (move > shift) shift = move
          c += 1
        }
        mat = next
        iter += 1
      }
      val spark = corpus.sparkSession
      import spark.implicits._
      val rows = mat.toSeq.zipWithIndex.map { case (cn, i) => (i, cn) }
      IvfModel(rows.toDF("list_id", "centroid"), mat)
    }
  }

  private def localCosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) -1.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Assign each corpus row to its nearest centroid: one argmin kernel
    * call per row over the broadcast centroid matrix — a narrow map with
    * NO exchange and NO row inflation (this is the 100-TB write path).
    * Ties break to the lower list_id (same contract as an ORDER BY
    * cosine DESC, list_id ASC argmin).
    */
  def assign(model: IvfModel, corpus: DataFrame, id: Column,
             vec: Column): DataFrame =
    corpus.select(id.as("vec_id"), vec.as("v"),
      Kernels.nearestCentroidCol(vec, model.matrix).as("list_id"))

  /** ANN top-k: probe the `nprobe` closest lists per query (per-row
    * kernel, no shuffle of the query side), rerank exactly. Candidate
    * generation = equi-join on list_id. `assigned` is [[assign]]'s output
    * or a stored index of the same rows (the view of a
    * [[graft.streaming.SliceStore.Ivf]] store, whose `list_id`
    * directories the join's filter prunes).
    */
  def topK(model: IvfModel, assigned: DataFrame, queries: DataFrame,
           queryId: Column, queryVec: Column, k: Int, nprobe: Int,
           excludeSelf: Boolean = true): DataFrame = {
    val probes = queries
      .select(queryId.as("query_id"), queryVec.as("qv"),
        explode(Kernels.topCentroidsCol(queryVec, model.matrix, nprobe))
          .as("list_id"))
    val candsAll = assigned.join(probes, Seq("list_id"))
    val cands = if (excludeSelf)
      candsAll.filter(col("query_id") =!= col("vec_id")) else candsAll
    val scored = cands.select(col("query_id"), col("vec_id").as("neighbor_id"),
      VectorFunctions.cosine(col("qv"), col("v")).as("cosine"))
    Similarity.rankTopK(scored, k)
  }
}
