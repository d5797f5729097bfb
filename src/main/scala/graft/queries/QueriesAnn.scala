package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Fingerprint, Fnv64, LogParse, TextFunctions, Timestamps, VectorFunctions}
import graft.operators.{Dedup, Explodes, Flatten, Multimodal, Pin, Sampling, Similarity}
import graft.sources.Tables

import QueryHelpers._

/** similarity search, ANN (IVF/PQ), PCA, semantic dedup, sampling/packing/sharding — one registry slice of [[graft.SparkEntry.queries]]
  * (mechanical split; entries verbatim).
  */
private[graft] object QueriesAnn {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- LLM-pipeline: similarity search ------------------------------
    // Every similarity/ANN query set below is PINNED to the constant
    // `% 50 === 0 && < 3200` window (≤ 64 ids — all of them at sf ≤ 0.1,
    // where max vec_id is 2000, so results and oracle hashes are
    // unchanged at every driver SF): benched queries must measure CORPUS
    // scaling, never query-load scaling. The r16 100× audit caught
    // ivf_topk growing its query set with the corpus (29× wall at 100×
    // data for what is a √n-shaped probe) — the same defect class
    // hybrid_rrf had in r15; the oracle SQL carries the identical pin.
    "cosine_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
      Similarity.bruteForceTopK(embs, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 10)
    }),
    "hard_negatives" -> ((s, dir) => {
      // contrastive-training prep: for each anchor, the k=5 NEAREST
      // vectors carrying a DIFFERENT label — the hard negatives that
      // make a contrastive loss learn boundaries (random negatives
      // are trivially separable). Exact-cosine arm over the capped
      // anchor set (the cosine_topk construction), label filter
      // BEFORE the rank so the k survivors are all negatives.
      val embs = t(s, dir, "embeddings")
      val anchors = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
      val labels = embs.select(col("vec_id"), col("label"))
      // score all (anchor, candidate) pairs with a DIFFERENT label,
      // then the bounded k=5 heap — the label filter runs BEFORE the
      // rank so at most 5 rows per anchor cross the shuffle
      val scored = embs
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
          col("label").as("n_label"))
        .join(broadcast(anchors.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), col("label").as("q_label"))),
          col("query_id") =!= col("neighbor_id"))
        .where(col("q_label") =!= col("n_label"))
        .select(col("query_id"), col("neighbor_id"),
          graft.functions.VectorFunctions.cosine(col("qv"), col("cv"))
            .as("cosine"))
      Similarity.rankTopK(scored, 5)
        .join(broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("label", "neg_label")), Seq("neighbor_id"))
        .select(col("query_id").as("anchor_id"), col("neighbor_id"),
          col("neg_label"), col("cosine"), col("rank").as("neg_rank"))
    }),
    "hard_negatives_ann" -> ((s, dir) => {
      // the SCALE arm of hard_negatives: candidates from nprobe=4 of
      // 16 IVF lists (the memoized bit-stable distributed fit)
      // instead of the full corpus, label-filtered BEFORE the bounded
      // k=5 heap — at 100 TB the all-pairs arm is the capped oracle
      // anchor and THIS is the production shape. Approximate by
      // design (a probe can miss a list): rows-only here, the
      // _recall twin gates it in-plan against the exact arm.
      import graft.operators.Ivf
      import graft.functions.{Kernels, VectorFunctions}
      val embs = t(s, dir, "embeddings")
      val model = ivfModelFor(s, dir)
      val assigned = Ivf.assign(model, embs, col("vec_id"), col("embedding"))
        .join(broadcast(embs.select(col("vec_id"),
          col("label").as("n_label"))), Seq("vec_id"))
      val probes = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label").as("q_label"),
          explode(Kernels.topCentroidsCol(col("embedding"), model.matrix,
            4)).as("list_id"))
      val scored = assigned.join(probes, Seq("list_id"))
        .filter(col("query_id") =!= col("vec_id") &&
          col("q_label") =!= col("n_label"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          VectorFunctions.cosine(col("qv"), col("v")).as("cosine"))
      Similarity.rankTopK(scored, 5)
        .select(col("query_id").as("anchor_id"), col("neighbor_id"),
          col("cosine"), col("rank").as("neg_rank"))
    }),
    "hard_negatives_ann_recall" -> ((s, dir) => {
      // in-plan gate: macro recall of the IVF-armed hard negatives vs
      // the exact arm, floor 0.3 (the ivf_topk_recall operating
      // point; label filtering doesn't change which lists a probe
      // visits). Both arms rebuilt inline — registered queries are
      // self-contained by convention.
      import graft.operators.Ivf
      import graft.functions.{Kernels, VectorFunctions}
      val embs = t(s, dir, "embeddings")
      val model = ivfModelFor(s, dir)
      def exactArm = {
        val scored = embs
          .select(col("vec_id").as("neighbor_id"),
            col("embedding").as("cv"), col("label").as("n_label"))
          .join(broadcast(embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("qv"), col("label").as("q_label"))),
            col("query_id") =!= col("neighbor_id"))
          .where(col("q_label") =!= col("n_label"))
          .select(col("query_id"), col("neighbor_id"),
            VectorFunctions.cosine(col("qv"), col("cv")).as("cosine"))
        Similarity.rankTopK(scored, 5)
      }
      def annArm = {
        val assigned = Ivf.assign(model, embs, col("vec_id"),
            col("embedding"))
          .join(broadcast(embs.select(col("vec_id"),
            col("label").as("n_label"))), Seq("vec_id"))
        val probes = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            col("label").as("q_label"),
            explode(Kernels.topCentroidsCol(col("embedding"), model.matrix,
              4)).as("list_id"))
        val scored = assigned.join(probes, Seq("list_id"))
          .filter(col("query_id") =!= col("vec_id") &&
            col("q_label") =!= col("n_label"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            VectorFunctions.cosine(col("qv"), col("v")).as("cosine"))
        Similarity.rankTopK(scored, 5)
      }
      recallGate(exactArm, annArm, floor = 0.3, what = "hard-negative ANN")
    }),
    "retrieval_label_precision" -> ((s, dir) => {
      // label-based retrieval EVAL: for every query vector, how many
      // of its exact-cosine top-10 neighbors share its label —
      // precision@10 against the only ground truth the corpus carries,
      // reported as exact integer counts per query (aggregate
      // precision is n_same/n_top downstream; keeping integers keeps
      // the oracle exact). The recall gates certify the ANN arms
      // against the exact arm; this certifies the exact arm against
      // MEANING.
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
      val top = Similarity.bruteForceTopK(embs, col("vec_id"),
        col("embedding"), queries, col("vec_id"), col("embedding"), k = 10)
      val labels = embs.select(col("vec_id"), col("label"))
      top
        .join(broadcast(labels.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "q_label")), Seq("query_id"))
        .join(broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("label", "n_label")), Seq("neighbor_id"))
        .groupBy(col("query_id"), col("q_label").as("label"))
        .agg(count(lit(1)).as("n_top"),
          sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L))
            .as("n_same_label"))
    }),
    "ann_topk" -> ((s, dir) => { // SRP-plane based: rows-only check
      // bits=4/probes=4 is AnnRecallSpec's operating point: random
      // 64-dim embeddings are the adversarial LSH case (neighbors
      // near-orthogonal), so coarse buckets are needed for recall —
      // measured 0.44-0.45 macro-recall at sf0.01/sf0.1 vs 0.07 at
      // bits=8. The ann_topk_recall gate enforces the 0.3 floor at this
      // exact operating point every harness run.
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
      Similarity.srpBucketTopK(embs, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 10, dim = 64,
        bits = 4, probes = 4)
    }),
    "label_centroids" -> ((s, dir) => {
      // Group centroids via the element-wise vector-sum aggregate with
      // in-loop micro-unit quantization (floor(x*1e6+0.5) — the same
      // engine-portable tie rule as embed_quantize): integral doubles
      // sum exactly and order-independently below 2^53, which makes the
      // emitted components oracle-hashable. This is the money-sum
      // DECIMAL trick adapted to floats, whose exact decimal expansion
      // can exceed DECIMAL(38) and so can't be decimal-staged directly.
      // Quantization lives INSIDE the aggregate's update loop — a
      // transform() HOF here would run 64 interpreted lambda evals per
      // row on the hot aggregation input.
      import graft.functions.VectorSumAgg
      t(s, dir, "embeddings").groupBy(col("label"))
        .agg(VectorSumAgg.vectorSumQuantized(col("embedding"), 64, 1e6)
          .as("qsum"),
          count(lit(1)).as("n_vectors"))
        .select(col("label"), col("n_vectors"),
          (element_at(col("qsum"), 1) / lit(1e6) / col("n_vectors")).as("c0"),
          (element_at(col("qsum"), 64) / lit(1e6) / col("n_vectors")).as("c63"))
    }),
    "pca_gram" -> ((s, dir) => {
      // the exact integer moment pass under PCA: quantized Gram upper
      // triangle as long sums — map-side-combining typed aggregate, ONE
      // 2080-long buffer per task crosses the wire; engine-portable by
      // construction (integral products, exact long addition), so the
      // full 64x64 triangle hash-matches DuckDB
      import graft.operators.Pca
      Pca.gramTriangle(t(s, dir, "embeddings"), col("embedding"), dim = 64)
    }),
    "pca_project" -> ((s, dir) => { // driver eigen: rows-only check
      // fit = the same moment pass + dim x dim Jacobi on the driver
      // (O(dim^3) once, row-count independent); project = per-row
      // codegen kernel, zero shuffle. Deterministic bit-for-bit (exact
      // triangle + pinned eigenvector sign) but not SQL-expressible —
      // PcaSpec gates variance-vs-eigenvalue agreement, orthonormality
      // and ordering; IN-PLAN, every row asserts the orthonormal-
      // projection contract |Px|² <= |x−μ|² (a rotated-then-truncated
      // vector can never grow), so a broken eigenbasis fails every
      // harness run loudly, not just the spec.
      import graft.operators.Pca
      val embs = t(s, dir, "embeddings")
      val model = Pca.fit(embs, col("embedding"), dim = 64, k = 8)
      val mean = typedLit(model.mean.toSeq)
      val centeredSq = aggregate(
        zip_with(col("embedding").cast("array<double>"), mean,
          (x, m) => (x - m) * (x - m)),
        lit(0.0), (acc, v) => acc + v)
      val projSq = aggregate(transform(col("pca"), p => p * p),
        lit(0.0), (acc, v) => acc + v)
      Pca.project(model, embs, col("embedding"))
        .where(assert_true(projSq <= centeredSq * lit(1.0 + 1e-9) + lit(1e-9),
          lit("pca_project: |Px|^2 exceeded |x-mean|^2 — basis not orthonormal"))
          .isNull)
        .select(col("vec_id") +:
          (1 to 8).map(c => element_at(col("pca"), c).as(s"p$c")): _*)
    }),
    "ivf_topk" -> ((s, dir) => { // k-means based: rows-only check
      import graft.operators.Ivf
      val embs = t(s, dir, "embeddings")
      // sampled fit: centroid positions are insensitive to a 4× sample,
      // and the fit is the expensive part of the bench profile
      val model = Ivf.fit(embs, col("embedding"), nlist = 16,
        sampleFraction = 0.25)
      val assigned = Ivf.assign(model, embs, col("vec_id"), col("embedding"))
      val queries = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
      Ivf.topK(model, assigned, queries, col("vec_id"), col("embedding"),
        k = 10, nprobe = 4)
    }),
    "ivf_stored_topk" -> ((s, dir) => { // engine-hash: rows-only
      // the STORED-index probe cost — dedup_incremental_stored's ANN
      // twin: ivf_topk re-assigns the corpus inline, so its number
      // conflates index build with the probe; this entry probes a
      // PRE-MATERIALIZED list-partitioned index (built once per
      // session+dir, the SliceStore.Ivf layout: one slice per batch,
      // partitioned by list_id so probes prune directories —
      // PlanAuditSpec pins the PartitionFilters). The build REPLAYS
      // slice 1 under the same transaction, which the store's log
      // commits nothing for, so the self-hit gate below doubles as the
      // replay certificate: had the replay landed, every odd-id query
      // would see its self-hit TWICE and the === 1 assert fails. Full
      // identity to the fresh in-memory index is spec-pinned
      // (StreamsSpec).
      import graft.operators.Ivf
      import graft.streaming.{SliceStore, Txn}
      val model = ivfModelFor(s, dir) // memoized bit-stable fit
      val embs = t(s, dir, "embeddings")
      val appTag = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      val store = new org.apache.hadoop.fs.Path(wh, "graft_ivfindex_" +
        java.lang.Integer.toHexString(dir.hashCode) + "_" + appTag)
      if (!fs.exists(store)) {
        // sweep stale stores left by dead application ids (the sigstore
        // hygiene discipline; same 30-minute concurrent-JVM floor)
        val staleBefore = System.currentTimeMillis() - 30L * 60 * 1000
        if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
          val nm = st.getPath.getName
          if (nm.startsWith("graft_ivfindex_") && !nm.contains(appTag) &&
              st.getModificationTime < staleBefore)
            fs.delete(st.getPath, true)
        }
        def appendSlice(p: Column, bid: Long): Unit =
          SliceStore.Ivf.append(Ivf.assign(model, embs.filter(p),
            col("vec_id"), col("embedding")), Txn("ivf_stored_topk", bid),
            store.toString)
        appendSlice(col("vec_id") % 2 === 0, 0L)
        appendSlice(col("vec_id") % 2 === 1, 1L)
        appendSlice(col("vec_id") % 2 === 1, 1L) // the replay: a no-op
      }
      val q = embs.filter(col("vec_id") < 64)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Ivf.topK(model, SliceStore.Ivf.view(s, store.toString), q,
          col("qid"), col("qv"), k = 10, nprobe = 4, excludeSelf = false)
        .withColumn("__self",
          sum(when(col("query_id") === col("neighbor_id"), 1L).otherwise(0L))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id"))))
        .where(assert_true(col("__self") === 1,
          concat(lit("stored IVF probe lost (or duplicated) the self-hit " +
            "for query "), col("query_id"))).isNull)
        .drop("__self")
    }),
    "ann_topk_recall" -> ((s, dir) => {
      // Recall gate for ann_topk's exact operating point (bits=4,
      // probes=4): macro-averaged recall vs the in-query brute-force
      // top-10, assert_true'd against the floor — harness runs fail
      // loudly if a refactor degrades ANN quality. Random 64-dim
      // embeddings are the adversarial LSH case (AnnRecallSpec), hence
      // the loose floor (measured 0.44-0.45 at sf0.01/sf0.1).
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
      recallGate(
        Similarity.bruteForceTopK(embs, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = 10),
        Similarity.srpBucketTopK(embs, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = 10, dim = 64,
          bits = 4, probes = 4),
        floor = 0.3, what = "SRP ANN")
    }),
    "ivf_topk_recall" -> ((s, dir) => {
      // Same gate for ivf_topk's operating point (nlist=16, nprobe=4,
      // sampled fit).
      import graft.operators.Ivf
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
      val model = Ivf.fit(embs, col("embedding"), nlist = 16,
        sampleFraction = 0.25)
      val assigned = Ivf.assign(model, embs, col("vec_id"), col("embedding"))
      recallGate(
        Similarity.bruteForceTopK(embs, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = 10),
        Ivf.topK(model, assigned, queries, col("vec_id"), col("embedding"),
          k = 10, nprobe = 4),
        floor = 0.3, what = "IVF ANN")
    }),
    "kmeans_cluster_profile" -> ((s, dir) => {
      // distributed Lloyd k-means over the FULL corpus (Ivf.fitDistributed):
      // per iteration one narrow argmax-cosine kernel pass + one
      // nlist-row-wide VectorSumAgg shuffle; each round's plan derives
      // from the persisted base + a fresh literal matrix, so plan size
      // is CONSTANT per iteration (no CC-style lineage growth by
      // construction). Registered rows-only — an iterative float fit is
      // engine-specific — with the coverage identity enforced IN-PLAN:
      // cluster sizes must sum to exactly the corpus row count, so a
      // dropped/duplicated assignment fails every harness run loudly.
      import graft.operators.Ivf
      import org.apache.spark.sql.expressions.Window
      val embs = t(s, dir, "embeddings")
      val model = Ivf.fitDistributed(embs, col("vec_id"), col("embedding"),
        nlist = 16, maxIter = 8)
      val assigned = Ivf.assign(model, embs, col("vec_id"), col("embedding"))
      val prof = assigned.join(broadcast(model.centroids), "list_id")
        .groupBy(col("list_id"))
        .agg(count(lit(1)).as("n_vecs"),
          avg(VectorFunctions.cosine(col("v"), col("centroid")))
            .as("mean_cos"),
          min(VectorFunctions.cosine(col("v"), col("centroid")))
            .as("min_cos"))
      val total = embs.agg(count(lit(1)).as("__n_corpus"))
      prof.crossJoin(broadcast(total))
        .withColumn("__cover",
          sum(col("n_vecs")).over(Window.partitionBy()))
        .where(assert_true(col("__cover") === col("__n_corpus"),
          concat(lit("kmeans coverage broken: "), col("__cover"),
            lit(" of "), col("__n_corpus"))).isNull)
        .select(col("list_id"), col("n_vecs"), col("mean_cos"),
          col("min_cos"))
    }),
    "kmeans_profile_portable" -> ((s, dir) => {
      // the PORTABLE member of the k-means family (the r12 verdict's
      // salvage ask): the integerLloydFit (see its scaladoc — exact
      // long arithmetic end to end) profiled per cluster; the
      // (list_id, n_vecs, ssd) rows replay bit-for-bit in DuckDB and
      // hash-match. Deliberately the UNMEMOIZED fit: this entry prices
      // the full fit (the ivf_topk convention); the consumer twins
      // read the memoized model.
      integerLloydFit(s, dir)._1.groupBy(col("list_id"))
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum(col("dist")).cast("long").as("ssd"))
    }),
    "pca_power_portable" -> ((s, dir) => {
      // the PORTABLE member of the PCA family: top-principal-direction
      // scores via INTEGER power iteration. Quantize to longs, center
      // by the exact floor-mean, then three rounds of v' = Gᵀ(G v)
      // computed WITHOUT materializing the Gram — s_r = ⟨y_r, v⟩ then
      // v'_d = Σ_r y_rd·s_r, two corpus passes per round (the same
      // factorization that keeps covariance power methods linear in
      // rows at 100 TB) — with v rescaled to |v|∞ ≤ 1024 by exact
      // floor division each round. Every operation is exact long
      // arithmetic, so the direction AND the per-row scores replay
      // bit-for-bit in DuckDB; pca_project (true eigenbasis, Jacobi)
      // keeps the float fidelity story, this pins the distributed
      // moment/projection machinery to a hash.
      val embs = t(s, dir, "embeddings").where(col("embedding").isNotNull)
      val q = embs.select(col("vec_id"), quantized(col("embedding")).as("q"))
      val mRows = q.select(posexplode(col("q")).as(Seq("d", "v")))
        .groupBy(col("d")).agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .select(col("d"), ((col("sv") - pmod(col("sv"), col("n"))) /
          col("n")).cast("long").as("m"))
        .collect()
      val m: Seq[Long] = mRows.sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
      val y = Pin.cache(q.select(col("vec_id"),
        zip_with(col("q"), typedLit(m), (a, b) => a - b).as("y")))
      var v: Seq[Long] = Seq.fill(m.length)(1024L)
      for (_ <- 1 to 3) {
        val sCol = aggregate(zip_with(col("y"), typedLit(v),
          (a, b) => a * b), lit(0L), (acc, x) => acc + x)
        val wRows = y.select(posexplode(col("y")).as(Seq("d", "yi")),
            sCol.as("s"))
          .groupBy(col("d")).agg(sum(col("yi") * col("s")).as("w"))
          .collect()
        val w = wRows.sortBy(_.getInt(0)).map(_.getLong(1))
        val maxabs = math.max(w.map(math.abs).max, 0L)
        val div = math.max(1L, (maxabs + 1023L) / 1024L)
        v = w.map(Math.floorDiv(_, div)).toSeq
      }
      y.select(col("vec_id"),
        aggregate(zip_with(col("y"), typedLit(v), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("p1"))
    }),
    "d4_prototype_prune" -> ((s, dir) => {
      // the diversification half of D4 (SemDeDup is semantic_prune):
      // SSL-prototype pruning drops the floor(dropFrac·n) most
      // prototypical members of each embedding cluster — closest to
      // centroid = least marginal information. Rows-only (the Lloyd
      // centroid matrix is float-sum order-dependent) with the floor
      // identity enforced IN-PLAN per cluster: a rank-logic regression
      // fails every harness run, not just the spec.
      import graft.operators.{Diversify, Ivf}
      val embs = t(s, dir, "embeddings")
      val dropFrac = 0.25
      val model = Ivf.fitDistributed(embs, col("vec_id"), col("embedding"),
        nlist = 16, maxIter = 8)
      Diversify.prototypePruneProfile(embs, col("vec_id"),
          col("embedding"), model, dropFrac)
        .where(assert_true(
          col("n_dropped") === floor(lit(dropFrac) * col("n_before")),
          concat(lit("prototype prune floor identity broken on list "),
            col("list_id"))).isNull)
    }),
    "d4_prototype_prune_portable" -> ((s, dir) => {
      // the HASH-CHECKABLE twin of d4_prototype_prune (the r13
      // verdict's salvage ask), built on integerLloydAssigned's
      // bit-exact assignments: per cluster, drop the floor(0.25·n)
      // members CLOSEST to the centroid (rank by exact long distance,
      // ties to the lower vec_id — fully deterministic cross-engine)
      // and emit the survivors. Same window-rank shape as the float
      // prune; the float family keeps the production-geometry story,
      // this pins the rank/floor/drop machinery to a DuckDB hash.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("list_id"))
      integerLloydAssigned(s, dir)
        .withColumn("rn",
          row_number().over(w.orderBy(col("dist"), col("vec_id"))))
        .withColumn("n_before", count(lit(1)).over(w))
        .where(col("rn") > floor(lit(0.25) * col("n_before")))
        .select(col("vec_id"), col("list_id"), col("dist"))
    }),
    "pq_topk" -> ((s, dir) => { // IVF-PQ: compressed-candidate ANN, rows-only
      import graft.operators.{Ivf, Pq}
      val embs = t(s, dir, "embeddings")
      val ivf = Ivf.fit(embs, col("embedding"), nlist = 16,
        sampleFraction = 0.25)
      val pq = Pq.fit(embs, col("embedding"), m = 8, k = 16)
      val encoded = Pq.assignEncode(ivf, pq, embs, col("vec_id"),
        col("embedding"))
      val queries = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
      Pq.topK(ivf, pq, encoded, queries, col("vec_id"), col("embedding"),
        k = 10, nprobe = 4)
    }),
    "pq_topk_recall" -> ((s, dir) => {
      // Recall gate on the PRODUCTION retrieval shape (ADC-rank 4k
      // candidates from codes, exact-rerank the survivors): measured
      // 0.43 / 0.38 / 0.315 at sf0.001/0.01/0.1 vs IVF-exact's
      // 0.53/0.43/0.49 — the rerank recovers most of what quantization
      // costs. Plain ADC-only ordering degrades with corpus density on
      // these adversarial uniform-random embeddings (0.24→0.16 over the
      // same sfs — near-ties swamp the ~0.08 ADC error), which is
      // exactly why production IVF-PQ ALWAYS reranks; gating the
      // unreranked form would gate a shape nothing should deploy.
      import graft.operators.{Ivf, Pq}
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 3200L)
      val ivf = Ivf.fit(embs, col("embedding"), nlist = 16,
        sampleFraction = 0.25)
      val pq = Pq.fit(embs, col("embedding"), m = 8, k = 16)
      val encoded = Pq.assignEncode(ivf, pq, embs, col("vec_id"),
        col("embedding"))
      recallGate(
        Similarity.bruteForceTopK(embs, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = 10),
        Pq.topKReranked(ivf, pq, encoded,
          embs, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"),
          k = 10, nprobe = 4, candidateFactor = 4),
        floor = 0.25, what = "IVF-PQ reranked ANN")
    }),
    "pq_topk_scaled_recall" -> ((s, dir) => {
      // the r15 full-spread audit finding, answered in code:
      // pq_topk_recall's FIXED sf0.1-calibrated operating point
      // correctly fails its floor at a 10× corpus (0.157 < 0.25) —
      // because an ANN operating point is a function of corpus size.
      // This gate derives (nlist ≈ √n as a power of two, nprobe =
      // nlist/4 so probe COVERAGE stays a constant fraction,
      // candidateFactor deepening with density) from the corpus count
      // (Ivf.operatingPoint) and holds the SAME 0.25 floor at sf0.1
      // AND the 10× fixture — the scale path, tested. Queries are the
      // PINNED ≤64-id set (vec_id % 50 = 0 AND < 3200): corpus
      // scaling, never query-load scaling (the hybrid_rrf lesson).
      import graft.operators.{Ivf, Pq}
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") % 50 === 0 &&
        col("vec_id") < 3200)
      val op = Ivf.operatingPoint(
        embs.where(col("embedding").isNotNull).count())
      val ivf = Ivf.fit(embs, col("embedding"), nlist = op.nlist,
        sampleFraction = 0.25)
      val pq = Pq.fit(embs, col("embedding"), m = 8, k = 16)
      val encoded = Pq.assignEncode(ivf, pq, embs, col("vec_id"),
        col("embedding"))
      recallGate(
        Similarity.bruteForceTopK(embs, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = 10),
        Pq.topKReranked(ivf, pq, encoded,
          embs, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"),
          k = 10, nprobe = op.nprobe,
          candidateFactor = op.candidateFactor),
        floor = 0.25, what = "scaled-operating-point IVF-PQ reranked ANN")
    }),
    "embed_near_dup_exact" -> ((s, dir) => {
      // bits = 0 -> single bucket = verified all-pairs: an ORACLE
      // ANCHOR, never a production path. The id cap (< 1000, the full
      // table at sf<=0.01) bounds the O(n²) twin to a CONSTANT cost as
      // sf grows — the oracle applies the identical predicate, so
      // exactness on the capped range is preserved while the anchor
      // stops scaling quadratically with the corpus (r9: the uncapped
      // twins were on track to dominate bench totals).
      Dedup.embeddingNearDupPairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 1000L),
        col("vec_id"), col("embedding"), minCosine = 0.5, dim = 64,
        bits = 0, bands = 1)
    }),
    "embed_near_dup_srp" -> ((s, dir) => { // SRP LSH-OR based
      // Operating point matched to the threshold: at cos>=0.5 (theta/pi
      // ~ 1/3) a band matches with p = (2/3)^bits, so 4 bits x 16 bands
      // gives ~97% recall. A true near-dup threshold (cos>=0.9) would use
      // more bits / fewer bands — see DedupSpec's recall test.
      // Oracle-checked against the SAME exact-cosine DuckDB oracle as
      // embed_near_dup_exact: candidates are verified with the exact
      // cosine kernel, so every emitted pair carries the exact score,
      // and at this operating point the LSH recovers the full exact pair
      // set (DedupSpec recall test) — identical output, a fraction of
      // the comparisons.
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), col("vec_id"),
        col("embedding"), minCosine = 0.5, dim = 64, bits = 4, bands = 16)
    }),
    "embed_near_dup_srp_scaled" -> ((s, dir) => {
      // The r15 full-spread audit's worst row (18× wall at 10× data),
      // answered in code: embed_near_dup_srp's FIXED bits=4/bands=16
      // point is pinned by its full-recall hash oracle, so its
      // candidate set grows Θ(n²/2^bits). This query derives (bits ≈
      // log2(n/occupancy), bands from per-pair recall at the threshold
      // angle) from the corpus count (Dedup.srpOperatingPoint — the
      // n^(1+ρ) sub-quadratic scale path, ρ<1) and gates RECALL
      // instead of hash: the exact arm is all-pairs on the PINNED
      // vec_id < 2000 window (the full sf0.1 original corpus; 10×
      // copies live at vec_id ≥ 1e6) — constant cost as the corpus
      // grows, the embed_near_dup_exact anchor convention — while the
      // LSH arm runs over the FULL corpus at the derived point, so the
      // measured wall time IS the production scale path. Floor 0.6
      // with the point derived for 0.9 per-pair recall at cos=0.5
      // (every fixture pair sits in [0.5, 0.6], the hard borderline
      // band).
      val embs = t(s, dir, "embeddings")
      val op = Dedup.srpOperatingPoint(
        embs.where(col("embedding").isNotNull).count(), minCosine = 0.5)
      // NO eager checkpoint here, unlike embed_near_dup_ivf_scaled (r17,
      // measured): the window-recall consumer is CONSTANT-cost by
      // construction — Catalyst prunes its LSH to the vec_id < 2000
      // window (see the arm-split comment below) — so a checkpoint
      // would remove a constant-cost duplicate while paying a
      // scale-growing materialization of the full pair frame and
      // losing the two arms' in-job overlap (10× A/B: 8.6 s without
      // vs 10.2 s with the checkpoint). The ivf/auto_arm queries keep
      // theirs because BOTH their extra consumers are full-cost.
      val approx = Dedup.embeddingNearDupPairs(embs, col("vec_id"),
        col("embedding"), minCosine = 0.5, dim = 64,
        bits = op.bits, bands = op.bands)
      val exact = Dedup.embeddingNearDupPairs(
        embs.filter(col("vec_id") < 2000L), col("vec_id"),
        col("embedding"), minCosine = 0.5, dim = 64, bits = 0, bands = 1)
      // Two arms, deliberately split. (1) RECALL on the window: letting
      // Catalyst prune the LSH to vec_id < 2000 here is CORRECT — a
      // pair's bucket codes depend only on its own two vectors, so
      // window-pair recall is identical computed on the pruned or the
      // full corpus (and Catalyst prunes whether asked or not: it
      // infers the truth side's < 2000 constraint across the semi-join
      // equality). (2) SCALE: a full-corpus pair count in the SAME
      // summary row — no join to the truth side, so no constraint can
      // prune it; this is what makes the measured wall time the
      // production n^(1+ρ) path (without it the gate silently measured
      // the window: 1.7 s at 10× vs the real ~17 s full-corpus run).
      val truth = exact.select(col("id_a").as("query_id"),
        col("id_b").as("neighbor_id"))
      val window = approx
        .filter(col("id_a") < 2000L && col("id_b") < 2000L)
        .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
      recallGate(truth, window, floor = 0.6,
          what = "scaled-operating-point SRP near-dup")
        .crossJoin(approx.agg(count(lit(1)).as("n_pairs_total")))
    }),
    "embed_near_dup_ivf_scaled" -> ((s, dir) => {
      // The IVF candidate arm for near-dup pairs (r16 verdict #2b),
      // gated on what the structure actually GUARANTEES. The r17
      // operating-point lab measured the borderline-pair geometry on
      // unstructured embeddings: symmetric multi-probe recall tracks
      // nprobe²/nlist (0.894 at κ=0.5, 0.638 at 0.125, τ-edge pairs,
      // 10×), which makes τ-EDGE recall cost κ·n²/2 — quadratic at any
      // fixed floor, i.e. SCALE.md r16's "IVF beats SRP at cos ≥ 0.5"
      // prediction is WRONG for borderline pairs (SRP's n^(1+ρ) wins
      // there whenever its band demand fits the cap). What IVF
      // candidates DO deliver at Σ|list|² ≈ nprobe²·n^1.5 cost is the
      // SemDeDup co-clustering contract: NEAR-IDENTICAL pairs share
      // probed lists with certainty. So this gate plants up to 500
      // deterministic twins (the semantic_prune_scaled recipe,
      // cos ≈ 0.999) and holds THEIR recall ≥ 0.9 at the bounded
      // point (nlist = √n-derived, nprobe = 4), while the borderline
      // window recall is EMITTED as an observed column — honest
      // partial coverage, never silently claimed.
      import graft.operators.{Ivf, SemDedup}
      val embs = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))
      val op = Ivf.operatingPoint(embs.count())
      val planted = embs.filter(col("vec_id") < 500L)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + (pmod(i * lit(37), lit(11)) - lit(5)).cast("float") *
              lit(0.003f)).as("embedding"))
      val corpus = embs.unionByName(planted)
      // the candidate pair frame feeds THREE consumers (the recall gate,
      // the n_pairs_total scale counter, the window-hit semi-join), all
      // inside ONE final action, where a lazy persist cannot help (the
      // kCoreBounded lesson) — without the eager checkpoint the whole
      // IVF fit + probe self-join + cosine verify ran three times per
      // pass (measured: 1.3-2.8 s per evaluation at sf0.1). Same for
      // the 2000-vector exact window (two consumers). The checkpointed
      // frames are the small thresholded outputs, never the candidate
      // fan-out.
      val approx = Pin.eager(
        SemDedup.nearDupPairsIvf(corpus, col("vec_id"),
          col("embedding"), minCosine = 0.5, nlist = op.nlist, nprobe = 4))
      val truth = embs.filter(col("vec_id") < 500L)
        .select(col("vec_id").as("query_id"),
          (col("vec_id") + lit(1000000000L)).as("neighbor_id"))
      val exactWindow = Pin.eager(
        Dedup.embeddingNearDupPairs(
          embs.filter(col("vec_id") < 2000L), col("vec_id"),
          col("embedding"), minCosine = 0.5, dim = 64, bits = 0, bands = 1)
          .select(col("id_a"), col("id_b")))
      val windowHits = exactWindow.join(
        approx.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"),
        "left_semi")
      recallGate(truth,
          approx.select(col("id_a").as("query_id"),
            col("id_b").as("neighbor_id")),
          floor = 0.9, what = "IVF-candidate planted-twin near-dup")
        .crossJoin(approx.agg(count(lit(1)).as("n_pairs_total")))
        .crossJoin(exactWindow.agg(count(lit(1)).as("n_window_exact")))
        .crossJoin(windowHits.agg(count(lit(1)).as("n_window_hit")))
        .withColumn("window_recall_observed",
          col("n_window_hit") / greatest(col("n_window_exact"), lit(1L)))
    }),
    "embed_near_dup_auto_arm" -> ((s, dir) => {
      // End-to-end arm selection (r16 verdict #2 + stretch #8): at
      // cos >= 0.3 the SRP band demand crosses the 512 cap between
      // sf0.1 (n=2k -> 50 bands, SRP) and the 100x fixture (n=200k ->
      // 1,882 bands, IVF) — this query routes through Dedup.nearDupArm
      // so the ARM ITSELF switches with the corpus: the registered
      // artifact proves the selection rule end to end. The gate is the
      // guarantee BOTH arms carry at their bounded operating points —
      // planted near-identical twins (SRP: per-pair band match prob
      // ≈ 1 at cos 0.999; IVF: co-clustering) — while the borderline
      // τ-edge window recall is emitted observed-only with the chosen
      // arm, because below the band cap NO bounded structure holds a
      // τ-edge floor on unstructured embeddings (the r17 lab's κ·n²
      // measurement, SCALE.md).
      import graft.operators.{Dedup => D, Ivf, SemDedup}
      val embs = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))
      val n = embs.count()
      val tau = 0.3
      val planted = embs.filter(col("vec_id") < 500L)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + (pmod(i * lit(37), lit(11)) - lit(5)).cast("float") *
              lit(0.003f)).as("embedding"))
      val corpus = embs.unionByName(planted)
      // eager checkpoints for the multi-consumer frames, exactly as in
      // embed_near_dup_ivf_scaled: approx feeds gate + total counter +
      // window semi-join, exactWindow feeds counter + semi-join — all
      // in one action, so without the checkpoint the chosen arm's full
      // candidate pipeline evaluated three times per pass
      val (armName, approx0) = D.nearDupArm(n, tau) match {
        case D.SrpArm(p) => ("srp", D.embeddingNearDupPairs(corpus,
          col("vec_id"), col("embedding"), minCosine = tau, dim = 64,
          bits = p.bits, bands = p.bands))
        case D.IvfArm(p) => ("ivf", SemDedup.nearDupPairsIvf(corpus,
          col("vec_id"), col("embedding"), minCosine = tau,
          nlist = p.nlist, nprobe = 4))
      }
      val approx = Pin.eager(approx0)
      val truth = embs.filter(col("vec_id") < 500L)
        .select(col("vec_id").as("query_id"),
          (col("vec_id") + lit(1000000000L)).as("neighbor_id"))
      val exactWindow = Pin.eager(
        D.embeddingNearDupPairs(
          embs.filter(col("vec_id") < 2000L), col("vec_id"),
          col("embedding"), minCosine = tau, dim = 64, bits = 0, bands = 1)
          .select(col("id_a"), col("id_b")))
      val windowHits = exactWindow.join(
        approx.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"),
        "left_semi")
      recallGate(truth,
          approx.select(col("id_a").as("query_id"),
            col("id_b").as("neighbor_id")),
          floor = 0.9, what = s"auto-arm ($armName) planted-twin near-dup")
        .crossJoin(approx.agg(count(lit(1)).as("n_pairs_total")))
        .crossJoin(exactWindow.agg(count(lit(1)).as("n_window_exact")))
        .crossJoin(windowHits.agg(count(lit(1)).as("n_window_hit")))
        .withColumn("window_recall_observed",
          col("n_window_hit") / greatest(col("n_window_exact"), lit(1L)))
        .withColumn("arm", lit(armName))
    }),
    "semantic_prune_exact" -> ((s, dir) => {
      // SemDeDup keep-one-per-component prune, exact twin (nlist=1 =
      // verified all-pairs): DuckDB reproduces it with the list-cosine
      // pair join + the recursive-CTE reach from dedup_clusters, keeping
      // rows whose component label is their own id. tau=0.4 so the
      // uniform-random harness embeddings actually form components.
      // Same vec_id < 1000 cap as embed_near_dup_exact (constant-cost
      // oracle anchor; predicate mirrored in the oracle SQL).
      import graft.operators.SemDedup
      val embs = t(s, dir, "embeddings").filter(col("vec_id") < 1000L)
      SemDedup.semanticPrune(embs, col("vec_id"), col("embedding"),
        minCosine = 0.4, dim = 64, nlist = 1)
        .select(col("vec_id"), col("label"))
    }),
    "semantic_prune" -> ((s, dir) => {
      // The production SemDeDup shape: cluster-bounded candidates
      // (Σ|list|²/2 comparisons instead of n²/2), exact cosine inside.
      // Approximate BY CONSTRUCTION (cross-cluster duplicates are
      // unseen) so rows-only here; semantic_dup_recall is the gate, and
      // SemDedupSpec pins the survivors ⊇ exact-survivors containment.
      import graft.operators.SemDedup
      val embs = t(s, dir, "embeddings")
      SemDedup.semanticPrune(embs, col("vec_id"), col("embedding"),
        minCosine = 0.4, dim = 64, nlist = 4)
        .select(col("vec_id"), col("label"))
    }),
    "semantic_prune_scaled" -> ((s, dir) => {
      // SemDeDup at a CORPUS-DERIVED operating point — the third member
      // of the scaled family (pq_topk_scaled_recall /
      // embed_near_dup_srp_scaled): semantic_prune's fixed nlist=4 keeps
      // candidate work Θ(n²/4) — fine at sf0.1, quadratic at any real
      // corpus. SemDeDup's own discipline (Abbas 2023 runs 50k clusters
      // for 60M docs — lists sized ≈ √n) is exactly the √n rule
      // Ivf.operatingPoint codifies, which bounds candidate pairs at
      // Σ|list|² ≈ n²/nlist = n^1.5, sub-quadratic.
      // Truth is PLANTED, not windowed: up to 500 deterministic
      // near-identical twins (vec_id + 1e9, tiny per-index jitter,
      // cos ≈ 0.999) union'd into the corpus. SemDeDup's contract is
      // that NEAR-IDENTICAL pairs co-cluster (tau-boundary pairs are
      // best-effort — semantic_dup_recall gates those at the fixed
      // point), and a planted truth set stays constant-cost at every
      // corpus size (the anchor convention). One aggregation arm over
      // the survivors covers both the recall verdict and a full-corpus
      // survivor count, so the measured wall IS the production prune —
      // no constraint-propagation can narrow it to the planted rows
      // (the embed_near_dup_srp_scaled lesson).
      import graft.operators.{Ivf, SemDedup}
      val embs = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))
      val op = Ivf.operatingPoint(embs.count())
      val planted = embs.filter(col("vec_id") < 500L)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + (pmod(i * lit(37), lit(11)) - lit(5)).cast("float") *
              lit(0.003f)).as("embedding"))
      val corpus = embs.unionByName(planted)
      val survivors = SemDedup.semanticPrune(corpus, col("vec_id"),
        col("embedding"), minCosine = 0.5, dim = 64, nlist = op.nlist)
      val nPlanted = corpus.filter(col("vec_id") >= 1000000000L)
        .agg(count(lit(1)).as("n_planted"))
      survivors
        .agg(count(lit(1)).as("n_survivors"),
          sum(when(col("vec_id") >= 1000000000L, 1L).otherwise(0L))
            .as("n_planted_kept"))
        .crossJoin(nPlanted)
        .withColumn("planted_recall",
          (col("n_planted") - col("n_planted_kept")) /
            greatest(col("n_planted"), lit(1L)))
        .withColumn("recall_floor", lit(0.9))
        .where(assert_true(
          col("n_planted") === 0 ||
            col("planted_recall") >= col("recall_floor"),
          concat(lit("scaled SemDeDup planted-twin recall below floor: "),
            col("planted_recall"))).isNull)
    }),
    "semantic_prune_portable" -> ((s, dir) => {
      // the HASH-CHECKABLE twin of semantic_prune (the r13 verdict's
      // salvage ask): SemDeDup's cluster-bounded keep-one-per-component
      // with every float replaced by exact long arithmetic — clusters
      // from integerLloydAssigned (bit-exact cross-engine), candidate
      // pairs same-cluster only (the Σ|list|² bound, the production
      // shape), and the cosine-≥-0.4 verdict as the cross-multiplied
      // integer test dot>0 ∧ 25·dot² ≥ 4·|a|²·|b|². The guard's
      // products run in DECIMAL, not LONG (same as the contamination
      // twin): at quantized magnitudes ≳3100 per element, 25·dot²
      // exceeds 2⁶³ and a silent long wrap would flip verdicts exactly
      // on the strongest near-duplicate pairs while DuckDB's HUGEINT
      // oracle stays exact. decimal(19,0) operands keep every product
      // ≤ 31 digits — exact under Spark's 38-digit cap. CC
      // keep-min-id then replays in DuckDB as the recursive reach from
      // semantic_prune_exact — survivors hash-match end to end.
      import graft.operators.Dedup
      val a = integerLloydAssigned(s, dir)
      // codegen'd long dot (functions/Kernels.LongDot), NOT the HOF
      // aggregate(zip_with(...)) fold: the verdict runs once per
      // CANDIDATE PAIR (Σ|list|² of them), and interpreted per-element
      // lambdas there cost 9× at the 10× fixture — the same
      // kernel-vs-HOF call SCALE.md's global note mandates for every
      // pair-quadratic hot path
      def dot(x: Column, y: Column): Column =
        graft.functions.Kernels.longDotCol(x, y)
      def big(c: Column): Column = c.cast("decimal(19,0)")
      val pairs = a.as("x").join(a.as("y"),
          col("x.list_id") === col("y.list_id") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
          dot(col("x.q"), col("y.q")).as("dp"),
          dot(col("x.q"), col("x.q")).as("na"),
          dot(col("y.q"), col("y.q")).as("nb"))
        .where(col("dp") > 0L &&
          big(lit(25L)) * big(col("dp")) * big(col("dp")) >=
            big(lit(4L)) * big(col("na")) * big(col("nb")))
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(pairs, checkpointEvery = 4)
      val drops = cc.filter(col("id") =!= col("comp"))
        .select(col("id").as("__drop_id"))
      t(s, dir, "embeddings").where(col("embedding").isNotNull)
        .join(drops, col("vec_id") === col("__drop_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    }),
    "ann_ivf_topk_portable" -> ((s, dir) => {
      // the HASH-CHECKABLE member of the ANN family: the ENTIRE IVF
      // probe path — query-to-centroid ranking, nprobe list selection,
      // candidate generation from the probed lists only, exact
      // distance rank with deterministic ties — in exact long
      // arithmetic over the shared integer-grid fit, so the top-k
      // neighbor lists replay bit-for-bit in DuckDB. The float family
      // (ivf_topk etc.) keeps the production geometry + recall gates;
      // this pins the probe MACHINERY itself to a hash. Same pinned
      // 64-query convention as hybrid_rrf_ann; probing 2 of 8 lists
      // reads 1/4 of the corpus per query, the IVF contract.
      val (assigned, cents) = integerLloydFitMemo(s, dir)
      val w = org.apache.spark.sql.expressions.Window
      val queries = assigned.where(col("vec_id") < 64)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      val probed = queries
        .select(col("query_id"), col("qq"),
          posexplode(array(cents.toSeq.map(c =>
            sqDistL(col("qq"), typedLit(c))): _*)).as(Seq("pl", "cdist")))
        .withColumn("prn", row_number().over(w.partitionBy(col("query_id"))
          .orderBy(col("cdist"), col("pl"))))
        .where(col("prn") <= 2)
        .select(col("query_id"), col("qq"),
          col("pl").cast("long").as("list_id"))
      probed.join(assigned, "list_id")
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          sqDistL(col("qq"), col("q")).as("dist"))
        .withColumn("rank", row_number().over(w.partitionBy(col("query_id"))
          .orderBy(col("dist"), col("neighbor_id"))))
        .where(col("rank") <= 10)
        .select(col("query_id"), col("neighbor_id"), col("dist"),
          col("rank"))
    }),
    "pq_adc_portable" -> ((s, dir) => {
      // the HASH-CHECKABLE member of the PQ family (pq_topk/_recall
      // stay rows-only on the float fit): product quantization with
      // every stage in exact long arithmetic — quantize once, split
      // into m=8 subspaces of 8 dims, fit each sub-codebook (k=4) by
      // md5-rank init + ONE exact floor-average Lloyd round with
      // empty-code carry, encode the corpus per subspace (ties to the
      // lower code), then the ASYMMETRIC DISTANCE COMPUTATION for the
      // pinned 64-query set: adc(query, cand) = Σ_j ‖query_j −
      // codebook_j[code_j(cand)]‖² — the real ADC shape, codes-only on
      // the candidate side, summed from the m per-subspace lookup
      // tables (query × 4 codes each, metadata-sized). Top-10 per
      // query by (adc, vec_id) replays bit-for-bit in DuckDB. Scale
      // shape: the fit collects m×k×(dim/m) longs; encode is per-row;
      // the ADC join is (queries × corpus) rows of LONG sums — the
      // codes-not-vectors contract that makes PQ candidates cheap.
      val embs = t(s, dir, "embeddings").where(col("embedding").isNotNull)
      val m = 8; val sub = 8; val k = 4
      // ONE exploded (vec, subspace) frame serves every stage: the fit
      // is 2 driver actions TOTAL (seeds, update) instead of 2 per
      // subspace — at 8 subspaces the per-job scheduler latency was
      // the whole cost (10.4 s → ~4 s at sf0.1), and one corpus pass
      // for all m sub-fits is the shape a real PQ fit wants anyway
      val sv = Pin.cache(embs
        .select(col("vec_id"), quantized(col("embedding")).as("q"))
        .select(col("vec_id"), posexplode(array((0 until m).map(j =>
          struct(lit(j).as("j"),
            slice(col("q"), j * sub + 1, sub).as("v"),
            md5(concat(col("vec_id").cast("string"), lit(s"#pq13s$j")))
              .as("h"))): _*)).as(Seq("__i", "s")))
        .select(col("vec_id"), col("s.j").as("j"), col("s.v").as("v"),
          col("s.h").as("h")))
      val w = org.apache.spark.sql.expressions.Window
      // md5-rank seeds, all subspaces in one action
      val seedRows = sv
        .withColumn("rn", row_number().over(w.partitionBy(col("j"))
          .orderBy(col("h"))))
        .where(col("rn") <= k)
        .select(col("j"), col("rn") - 1, col("v")).collect()
      val seeds: Array[Array[Seq[Long]]] = {
        val a = Array.fill(m)(new Array[Seq[Long]](k))
        seedRows.foreach(r => a(r.getInt(0))(r.getInt(1)) = r.getSeq[Long](2))
        a
      }
      // per-row distance array to the row's OWN subspace's codebook:
      // 8-way CASE on j, each branch a k-ary array of kernel calls
      def distsTo(books: Array[Array[Seq[Long]]], v: Column): Column =
        (0 until m).foldLeft(lit(null)
            .cast("array<bigint>")) { (acc, j) =>
          when(col("j") === j, array(books(j).toSeq.map(c =>
            sqDistL(v, typedLit(c))): _*)).otherwise(acc)
        }
      def codeOf(books: Array[Array[Seq[Long]]]): Column = {
        val d = distsTo(books, col("v"))
        (array_position(d, array_min(d)) - 1L).cast("long")
      }
      // one exact floor-average Lloyd round, all subspaces in one agg
      val upd = sv.withColumn("code", codeOf(seeds))
        .select(col("j"), col("code"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("j"), col("code"), col("d"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .select(col("j"), col("code"), col("d"),
          ((col("sx") - pmod(col("sx"), col("n"))) / col("n"))
            .cast("long").as("cx"))
        .collect()
      val books: Array[Array[Seq[Long]]] = seeds.map(_.clone())
      upd.groupBy(r => (r.getInt(0), r.getLong(1))).foreach {
        case ((j, code), rows) =>
          val c = new Array[Long](sub)
          rows.foreach(r => c(r.getInt(2)) = r.getLong(3))
          books(j)(code.toInt) = c.toSeq
      }
      // corpus encode (all subspaces, zero shuffle) + the query-side
      // ADC lookup table (64 queries × m×k codes, broadcast)
      val enc = sv.select(col("vec_id"), col("j"), codeOf(books).as("code"))
      def distToCode(c: Int): Column =
        (0 until m).foldLeft(lit(null).cast("long")) { (acc, j) =>
          when(col("j") === j, sqDistL(col("v"), typedLit(books(j)(c))))
            .otherwise(acc)
        }
      val qd = sv.where(col("vec_id") < 64)
        .select(col("vec_id").as("query_id"), col("j"),
          posexplode(array((0 until k).map(distToCode): _*))
            .as(Seq("code_i", "d")))
        .select(col("query_id"), col("j"),
          col("code_i").cast("long").as("code"), col("d"))
      enc.join(broadcast(qd), Seq("j", "code"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("d")).as("adc"))
        .withColumn("rank", row_number().over(w.partitionBy(col("query_id"))
          .orderBy(col("adc"), col("vec_id"))))
        .where(col("rank") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("adc"), col("rank"))
    }),
    "semantic_contamination_portable" -> ((s, dir) => {
      // the HASH-CHECKABLE twin of semantic_contamination: cross-set
      // (train = label≠0 vs eval = label=0) embedding contamination
      // with the cluster-bounded candidate shape, every float replaced
      // by exact long arithmetic — same integer-grid clusters and
      // LongDot verdict as semantic_prune_portable, tau = 0.35 as the
      // exact rational 49/400 (dot > 0 ∧ 400·dot² ≥ 49·|a|²·|b|²). The
      // guard's products run in DECIMAL, not LONG: at |q_i| ≤ 2000,
      // |dot| reaches 2.56e8 and 400·dot² reaches 2.6e19 > 2⁶³ — a
      // silent long wrap would flip verdicts exactly on the strongest
      // (near-duplicate) pairs while DuckDB's HUGEINT stays exact.
      // decimal(19,0) operands keep every product ≤ 31 digits — exact
      // under Spark's 38-digit cap — for any |q_i| up to 10⁶.
      // Emits every matching (train_id, eval_id, dp) pair; dp is the
      // exact integer dot, so the hash also pins the arithmetic.
      val a = integerLloydAssigned(s, dir)
      val labels = t(s, dir, "embeddings").select(col("vec_id"),
        col("label"))
      val al = a.join(labels, "vec_id")
      val train = al.where(col("label") =!= 0)
        .select(col("vec_id").as("train_id"), col("q").as("tq"),
          col("list_id"))
      val eval_ = al.where(col("label") === 0)
        .select(col("vec_id").as("eval_id"), col("q").as("eq"),
          col("list_id"))
      def dot(x: Column, y: Column): Column =
        graft.functions.Kernels.longDotCol(x, y)
      def big(c: Column): Column = c.cast("decimal(19,0)")
      train.join(eval_, "list_id")
        .select(col("train_id"), col("eval_id"),
          dot(col("tq"), col("eq")).as("dp"),
          dot(col("tq"), col("tq")).as("na"),
          dot(col("eq"), col("eq")).as("nb"))
        .where(col("dp") > 0L &&
          big(lit(400L)) * big(col("dp")) * big(col("dp")) >=
            big(lit(49L)) * big(col("na")) * big(col("nb")))
        .select(col("train_id"), col("eval_id"), col("dp"))
    }),
    "semantic_dup_recall" -> ((s, dir) => {
      // In-plan gate for the clustered candidate generation, two claims:
      // (1) IDENTITY — every clustered pair is an exact pair (same ids,
      // exact cosine attached, so a left_semi hit count equalling the
      // clustered count proves subset-with-identical-scores); (2)
      // RECALL — the cluster-boundary miss rate stays above the floor.
      // Floor 0.25 measured against 0.58/0.63/0.53 at sf0.001/0.01/0.1
      // on the capped range (deterministic per SF — seeded fit, no run
      // variance) on uniform-random embeddings, the adversarial case:
      // real duplicate pairs sit far inside clusters, these sit at the
      // tau boundary.
      // Measured on the vec_id < 1000 anchor range (the all-pairs exact
      // side must stay constant-cost as sf grows; the clustered side is
      // capped to the SAME subset so identity/recall compare like for
      // like — the production query stays uncapped).
      import graft.operators.SemDedup
      val embs = t(s, dir, "embeddings").filter(col("vec_id") < 1000L)
      val exact = SemDedup.semanticDupPairs(embs, col("vec_id"),
        col("embedding"), minCosine = 0.4, dim = 64, nlist = 1)
        .select("id_a", "id_b")
      val clustered = SemDedup.semanticDupPairs(embs, col("vec_id"),
        col("embedding"), minCosine = 0.4, dim = 64, nlist = 4)
        .select("id_a", "id_b")
      val nHit = clustered.join(exact, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(clustered.agg(count(lit(1)).as("n_clustered")))
        .crossJoin(nHit)
        .withColumn("recall",
          col("n_hit") / greatest(col("n_exact"), lit(1L)))
        .withColumn("recall_floor", lit(0.25))
        .where(assert_true(col("n_hit") === col("n_clustered"),
          lit("clustered SemDeDup pair outside the exact pair set")).isNull)
        // vacuously true when the capped anchor range holds no exact
        // pair at all — recall is 0/0 then, not a regression
        .where(assert_true(
          col("n_exact") === 0 || col("recall") >= col("recall_floor"),
          concat(lit("SemDeDup cluster recall below floor: "),
            col("recall"))).isNull)
    }),
    "semantic_contamination_exact" -> ((s, dir) => {
      // Cross-set (train vs eval) embedding contamination, exact twin:
      // nlist=0 -> broadcast nested-loop all-pairs over the tiny eval
      // side. label=0 plays the held-out benchmark (the src0 convention
      // from dsir_weights applied to embeddings); the vec_id < 1000 cap
      // bounds the anchor to constant cost as sf grows, same contract
      // as embed_near_dup_exact. ORACLE ANCHOR — production is the
      // IVF-bucketed form below.
      import graft.operators.SemDedup
      val embs = t(s, dir, "embeddings").filter(col("vec_id") < 1000L)
      SemDedup.crossContamination(
        embs.filter(col("label") =!= 0), col("vec_id"), col("embedding"),
        embs.filter(col("label") === 0), col("vec_id"), col("embedding"),
        minCosine = 0.35, nlist = 0)
    }),
    "semantic_contamination" -> ((s, dir) => {
      // the production path, uncapped: IVF assignment of the train side
      // (projection, zero exchange), eval probe lists broadcast,
      // candidate join on list_id. Engine-dependent recall at the
      // nlist/nprobe operating point -> rows-only; the _recall gate
      // below holds it to an identity + floor contract.
      import graft.operators.SemDedup
      val embs = t(s, dir, "embeddings")
      SemDedup.crossContamination(
        embs.filter(col("label") =!= 0), col("vec_id"), col("embedding"),
        embs.filter(col("label") === 0), col("vec_id"), col("embedding"),
        minCosine = 0.35, nlist = 16, nprobe = 4)
    }),
    "semantic_contamination_recall" -> ((s, dir) => {
      // In-plan gate, same two claims as semantic_dup_recall: every
      // bucketed pair is an exact pair (identity — left_semi hit count
      // equals the bucketed count), and probe-miss recall stays above
      // the floor. Floor 0.5 measured 0.70/0.67/0.74 at sf0.001/0.01/0.1
      // (nlist=4, nprobe=2 on the capped range, seeded fit -> run-stable)
      // on uniform embeddings — adversarial placement: τ=0.35 pairs sit
      // AT the cluster boundary, so nprobe=2-of-4 misses ~30%; real
      // contaminated pairs (cos→1) co-cluster and the production
      // nprobe=4-of-16 point probes a similar list fraction.
      import graft.operators.SemDedup
      val embs = t(s, dir, "embeddings").filter(col("vec_id") < 1000L)
      def pairs(nl: Int, np: Int) = SemDedup.crossContamination(
        embs.filter(col("label") =!= 0), col("vec_id"), col("embedding"),
        embs.filter(col("label") === 0), col("vec_id"), col("embedding"),
        minCosine = 0.35, nlist = nl, nprobe = np)
        .select("train_id", "eval_id")
      val exact = pairs(0, 1)
      val bucketed = pairs(4, 2)
      val nHit = bucketed.join(exact, Seq("train_id", "eval_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(bucketed.agg(count(lit(1)).as("n_bucketed")))
        .crossJoin(nHit)
        .withColumn("recall",
          col("n_hit") / greatest(col("n_exact"), lit(1L)))
        .withColumn("recall_floor", lit(0.5))
        .where(assert_true(col("n_hit") === col("n_bucketed"),
          lit("bucketed contamination pair outside the exact pair set")).isNull)
        // vacuously true when the capped anchor range holds no exact
        // contamination pair — recall is 0/0 then, not a regression
        .where(assert_true(
          col("n_exact") === 0 || col("recall") >= col("recall_floor"),
          concat(lit("cross-contamination recall below floor: "),
            col("recall"))).isNull)
    }),
    "semantic_contamination_scaled" -> ((s, dir) => {
      // The fourth scaled-family member (pq / srp / semantic_prune /
      // THIS): semantic_contamination's fixed nlist=16, nprobe=4 keeps
      // the candidate join at n·|eval|/4 — and the registered query's
      // eval side GROWS with the corpus, so the fixed point is
      // quadratic by construction at scale. Real decontamination runs
      // a FIXED benchmark suite against a growing corpus, so this
      // query pins the eval side to the constant vec_id < 2000
      // window (label=0 rows of the original 1× corpus — the anchor
      // convention) and derives (nlist, nprobe) from the TRAIN count
      // (Ivf.operatingPoint): probe COVERAGE stays the constant 1/4
      // fraction while per-probe list length shrinks as √n — candidate
      // work n·|eval|·nprobe/nlist with √n lists, the IVF scale path.
      // Gate: recall vs the exact all-pairs arm on the SAME pinned
      // window restricted to the window's train rows (constant-cost
      // truth); a full-corpus contamination count rides the same row
      // so no constraint-propagation can narrow the production arm to
      // the window (the embed_near_dup_srp_scaled lesson).
      import graft.operators.{Ivf, SemDedup}
      val embs = t(s, dir, "embeddings").where(col("embedding").isNotNull)
      val train = embs.filter(col("label") =!= 0)
      val evalSet = embs.filter(col("label") === 0 &&
        col("vec_id") < 2000L)
      val op = Ivf.operatingPoint(train.count())
      val bucketed = SemDedup.crossContamination(
        train, col("vec_id"), col("embedding"),
        evalSet, col("vec_id"), col("embedding"),
        minCosine = 0.35, nlist = op.nlist, nprobe = op.nprobe)
      val exactWindow = SemDedup.crossContamination(
        train.filter(col("vec_id") < 2000L), col("vec_id"),
        col("embedding"),
        evalSet, col("vec_id"), col("embedding"),
        minCosine = 0.35, nlist = 0)
        .select(col("eval_id").as("query_id"),
          col("train_id").as("neighbor_id"))
      val bucketedWindow = bucketed
        .filter(col("train_id") < 2000L)
        .select(col("eval_id").as("query_id"),
          col("train_id").as("neighbor_id"))
      // floor 0.4: measured macro-recall 0.524 at sf0.01 (35 eval
      // queries — the driver-gate SF, and the binding margin) and green
      // at sf0.1 / 10× / 100× fixtures; tau=0.35 window pairs sit AT
      // cluster boundaries (the adversarial case, same as the fixed
      // point's gate), so the floor keeps headroom for fixture
      // regeneration rather than hugging one seed's 0.52
      recallGate(exactWindow, bucketedWindow, floor = 0.4,
          what = "scaled-operating-point cross-contamination")
        .crossJoin(bucketed.agg(count(lit(1)).as("n_contaminated_total")))
    }),
    "corpus_pack" -> ((s, dir) => {
      // concat-and-chunk sequence packing: where each doc's tokens start
      // in its source's fixed-512-token training windows. One exchange
      // (hash on source) + in-partition running sum.
      import graft.operators.Packing
      Packing.packAssignments(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
        col("source"), col("doc_id"),
        TextFunctions.tokenCount(col("text")), budget = 512L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("pack_id"), col("pack_offset"))
    }),
    "corpus_pack_chunked" -> ((s, dir) => {
      // The two-level scan variant (chunkSize > 0): same assignments as
      // corpus_pack byte-for-byte (exact long arithmetic both paths),
      // held to the SAME DuckDB oracle — but the giant-group prefix sum
      // parallelizes over (group, chunk) instead of serializing per
      // group. The shape for a 100-TB corpus with a handful of sources.
      import graft.operators.Packing
      Packing.packAssignments(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
        col("source"), col("doc_id"),
        TextFunctions.tokenCount(col("text")), budget = 512L,
        chunkSize = 64L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("pack_id"), col("pack_offset"))
    }),
    "corpus_mixture" -> ((s, dir) => {
      // training-mix temperature sampling: per-source token masses
      // tempered by alpha=0.5 — sqrt is IEEE-correctly-rounded (pow is
      // not) and the micro-unit quantization is an exact long, so the
      // registered projection is all-integral. The normalized `weight`
      // double stays available on the operator output but is NOT
      // projected here: the driver's hash gate is fragile on raw double
      // cells even when bit-identical to the oracle (round-7 finding).
      Sampling.temperatureWeights(t(s, dir, "documents"), col("source"),
        TextFunctions.tokenCount(col("text")))
        .select(col("source"), col("n_units"), col("q_units"))
    }),
    "corpus_budget_alloc" -> ((s, dir) => {
      // epoch-capped water-filling: 52k-token training budget split by
      // the alpha=0.5 tempered mixture, every source capped at 2 epochs
      // of its own tokens. Closed-form λ via one window pass over the
      // source-cardinality table; all-integral output. 52k sits in the
      // MIXED regime at sf0.01 (the smallest sources hit their 2-epoch
      // caps, the rest water-fill), is uncapped at sf0.1, and degrades
      // to the caps at sf0.001 (budget above every cap) — the three
      // regimes of the operator across the harness scale factors.
      Sampling.allocateBudget(t(s, dir, "documents"), col("source"),
        TextFunctions.tokenCount(col("text")),
        totalTokens = 52000L, maxEpochs = 2.0)
    }),
    "corpus_fixed_sample" -> ((s, dir) => {
      // fixed-size eval-set construction: the 5 smallest md5-ranked docs
      // per language — count-based where corpus_stratified is
      // fraction-based; md5 hex order is engine-portable, hence the
      // oracle. WindowGroupLimit bounds the shuffle at n per stratum
      // per input partition.
      Sampling.fixedSizeSample(t(s, dir, "documents"), col("doc_id"),
        col("lang"), n = 5)
        .select(col("doc_id"), col("lang"))
    }),
    "corpus_weighted_sample" -> ((s, dir) => {
      // length-weighted (PPS) systematic sample, 5 docs per language:
      // pure integer cut arithmetic over md5-shuffled weighted
      // positions, so the selected set is engine-portable — unlike the
      // u^(1/w) exponential-key form, which orders by a transcendental
      Sampling.weightedSystematicSample(t(s, dir, "documents"),
        col("doc_id"), col("lang"), col("n_chars"), k = 5)
        .select(col("doc_id"), col("lang"), col("weight"))
    }),
    "corpus_length_buckets" -> ((s, dir) => {
      // length-curriculum bucketing: quartile cut points of n_chars in
      // one array-percentile aggregate, broadcast into a codegen'd
      // when-chain label — quantile_cont semantics, hash-exact vs DuckDB
      Sampling.quantileBuckets(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        col("n_chars"))
        .select(col("doc_id"), col("n_chars"), col("bucket"))
    }),
    "corpus_fluency_buckets" -> ((s, dir) => {
      // quality-curriculum composition: unigram-LM mean corpus frequency
      // per doc (exact rational projection), quartile-bucketed with the
      // same percentile/when-chain machinery as the length curriculum —
      // the "train easy/fluent docs first" ordering signal
      import graft.operators.UnigramLm
      // quantileBuckets necessarily reads its input twice (global cut
      // points, then the label pass — the operator's documented two-scan
      // contract, which is right for a RAW pruned source at 100 TB). Here
      // the input is a DERIVED aggregate (the unigram-LM per-doc stats),
      // so the two references planned the whole docUnigramStats subtree
      // twice per run (r18, guide §2.4); the eager pin materializes the
      // small (n_docs-row) stats frame once and hands both passes a leaf.
      val stats = Pin.eager(
        UnigramLm.docUnigramStats(t(s, dir, "documents"),
          col("doc_id"), col("text"))
          .select(col("doc_id"), col("mean_freq")))
      Sampling.quantileBuckets(stats, col("mean_freq"),
        outCol = "fluency_bucket")
        .select(col("doc_id"), col("mean_freq"), col("fluency_bucket"))
    }),
    "chunk_documents" -> ((s, dir) => {
      // context-window prep: 200-char windows advancing 120 chars
      // (overlapping), zero-shuffle generate+project — see Chunking
      import graft.operators.Chunking
      Chunking.chunkDocuments(t(s, dir, "documents"), col("doc_id"),
        col("text"), chunkChars = 200, strideChars = 120)
    }),
    "chunk_tokens" -> ((s, dir) => {
      // tokenizer-aware windows: 40 whitespace tokens advancing 30
      import graft.operators.Chunking
      Chunking.chunkByTokens(t(s, dir, "documents"), col("doc_id"),
        col("text"), chunkTokens = 40, strideTokens = 30)
    }),
    "chunk_stats" -> ((s, dir) => {
      // per-doc chunk audit over the same windows: count, surviving
      // chars (> n_chars under overlap), coverage bound
      import graft.operators.Chunking
      Chunking.chunkStats(t(s, dir, "documents"), col("doc_id"),
        col("text"), chunkChars = 200, strideChars = 120)
    }),
    "bpe_pair_counts" -> ((s, dir) => {
      // one BPE-iteration statistic: top adjacent whitespace-token
      // pairs, deterministic total-order cut at k
      import graft.operators.BpeStats
      BpeStats.pairCounts(t(s, dir, "documents"), col("text"), k = 40)
    }),
    "bpe_encode" -> ((s, dir) => { // trained-merge path: rows-only check
      // the tokenizer APPLY side: train a small merge table (driver
      // loop, one count job per step — memoized per session+dir, the
      // sigstore convention: a vocabulary is trained once and applied
      // daily, so timed passes measure ENCODE), then encode the corpus
      // through the single-call merge kernel — one plan node for the
      // whole table, zero shuffle (BpeStatsSpec pins merge semantics
      // against the per-step kernel; rows-only here because the merge
      // list is runtime-trained — the kernel itself is hash-checked by
      // bpe_encode_portable over the pinned vocabulary)
      import graft.operators.BpeStats
      val docs = t(s, dir, "documents")
      val merges = bpeMergeCache.getOrElseUpdate(
        (s.sparkContext.applicationId, dir),
        BpeStats.trainMerges(docs, col("text"), steps = 6))
      BpeStats.encode(docs, col("doc_id"), col("text"), merges)
        .select(col("doc_id"), col("n_tokens"),
          array_join(slice(col("tokens"), 1, 8), " ").as("head_tokens"))
    }),
    "bpe_encode_portable" -> ((s, dir) => {
      // the ORACLE-CHECKED encode twin: the same single-call merge
      // kernel (one plan node, zero shuffle — the production path) over
      // the PINNED BpePortableMerges vocabulary, so DuckDB can replay
      // the identical greedy merge sequence as nested replaces (the
      // oracle SQL is generated from the same constant — see
      // bpeEncodePortableOracle). bpe_encode keeps the trained-merge
      // registration; this row moves the kernel itself from
      // spec-checked to hash-checked.
      import graft.operators.BpeStats
      BpeStats.encode(t(s, dir, "documents"), col("doc_id"), col("text"),
        BpePortableMerges)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          array_join(slice(col("tokens"), 1, 8), " ").as("head_tokens"))
    }),
    "corpus_split" -> ((s, dir) => {
      // deterministic 90/10 train/holdout split — a pure function of the
      // row id (md5 bucket), identical on any cluster size/engine
      Sampling.hashSplit(t(s, dir, "documents"), col("doc_id"),
        trainFrac = 0.9).select(col("doc_id"), col("split"))
    }),
    "corpus_stratified" -> ((s, dir) => {
      // per-language deterministic subsample: half the en docs, all de
      Sampling.stratifiedSample(t(s, dir, "documents"), col("doc_id"),
        col("lang"), Map("en" -> 0.5, "de" -> 1.0))
        .select(col("doc_id"), col("lang"))
    }),
    "group_safe_split" -> ((s, dir) => {
      // the FIX for what split_leakage audits: assign train/holdout by
      // the CONTENT key, so exact copies can never straddle the split
      // (and passing a Dedup cluster id as the group extends that to
      // near-dups). Still a zero-shuffle projection; the in-plan gate
      // proves the guarantee on this corpus (max splits-per-group = 1)
      // rather than asserting it on faith.
      import graft.operators.Sampling
      val sp = Sampling.groupSafeSplit(t(s, dir, "documents"),
        col("text"), trainFrac = 0.9)
      val gate = sp.groupBy(col("text"))
        .agg(count_distinct(col("split")).as("k"))
        .agg(coalesce(max(col("k")), lit(0L)).as("max_k"))
      sp.crossJoin(broadcast(gate))
        .where(assert_true(col("max_k") <= 1,
          lit("group-safe split leaked a content group")).isNull)
        .select(col("doc_id"), col("split"))
    }),
    "group_safe_split_clusters" -> ((s, dir) => {
      // the NEAR-DUP extension of group_safe_split: split by the
      // transitive dedup component (dedup_clusters' CC labels), so
      // not just exact copies but whole near-duplicate families land
      // on one side — the guarantee an eval holdout actually needs
      // (a paraphrased train doc in the holdout inflates eval just
      // as surely as an exact copy). Same zero-shuffle md5
      // projection once the labels exist; the in-plan gate proves no
      // component straddles.
      import graft.operators.{Dedup, Sampling}
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"),
        col("text"), n = 3, minJaccard = 0.5)
      val cc = Dedup.connectedComponents(pairs, checkpointEvery = 4)
      val labelled = docs.select(col("doc_id"))
        .join(cc, docs("doc_id") === cc("id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("component"))
      val sp = Sampling.groupSafeSplit(labelled, col("component"),
        trainFrac = 0.9)
      val gate = sp.groupBy("component")
        .agg(count_distinct(col("split")).as("k"))
        .agg(coalesce(max(col("k")), lit(0L)).as("max_k"))
      sp.crossJoin(broadcast(gate))
        .where(assert_true(col("max_k") <= 1,
          lit("near-dup cluster straddled the split")).isNull)
        .select(col("doc_id"), col("component"), col("split"))
    }),
    "split_leakage" -> ((s, dir) => {
      // eval-contamination audit of the 90/10 split: exact-content keys
      // present in BOTH splits, via one content-keyed hash agg (never a
      // train x holdout self-join)
      Sampling.splitLeakage(t(s, dir, "documents"), col("doc_id"),
        col("text"), trainFrac = 0.9)
    }),
    "corpus_shards" -> ((s, dir) => {
      // training-shard assignment: md5 hash-range over 16 shards — a
      // pure zero-shuffle projection (the writer's partitionBy spends
      // the only exchange), engine-portable and stable under re-runs
      import graft.operators.Sharding
      Sharding.assignShards(t(s, dir, "documents"), col("doc_id"),
          numShards = 16)
        .select(col("doc_id"), col("shard_key"), col("shard"))
    }),
    "shard_stats" -> ((s, dir) => {
      // per-shard balance audit: doc count, token mass, observed key
      // range — one map-side-partial agg to a 16-row frame
      import graft.operators.Sharding
      Sharding.shardStats(
        Sharding.assignShards(t(s, dir, "documents"), col("doc_id"),
          numShards = 16),
        TextFunctions.tokenCount(col("text")))
    })
  )
}
