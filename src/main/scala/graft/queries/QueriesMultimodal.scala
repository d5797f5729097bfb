package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Fingerprint, Fnv64, LogParse, TextFunctions, Timestamps, VectorFunctions}
import graft.operators.{Dedup, Explodes, Flatten, Multimodal, Sampling, Similarity}
import graft.sources.Tables

import QueryHelpers._

/** multimodal (image/audio/video) columns, PII, contamination, incremental dedup — one registry slice of [[graft.SparkEntry.queries]]
  * (mechanical split; entries verbatim).
  */
private[graft] object QueriesMultimodal {

  /** The dedup_incremental body: sources src10-src19 are the increment,
    * curated against the signatures of the gated src0-src9 reference.
    */
  private def curateIncrementQuery(docs: DataFrame,
                                   cfg: graft.pipelines.CorpusPipeline.Config): DataFrame = {
    import graft.pipelines.CorpusPipeline
    val ref = docs.filter(col("source").rlike("^src[0-9]$"))
    val inc = docs.filter(col("source").rlike("^src1[0-9]$"))
    val refSigs = Dedup.minhashSignatures(
      CorpusPipeline.qualityGate(CorpusPipeline.annotate(ref), cfg),
      col("doc_id"), col("text"), cfg.numHashes, cfg.shingleSize, cfg.hash)
    val (curated, _) = CorpusPipeline.curateIncrement(inc, refSigs, cfg)
    curated.select(col("doc_id"), col("lang_pred"), col("n_tokens"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- LLM-pipeline: multimodal columns -----------------------------
    "media_meta" -> ((s, dir) => {
      // REAL image metadata decode: per-document PNGs are synthesized
      // ON EXECUTORS (dims a pure function of doc_id — no image assets
      // exist in the container) and decoded back through javax.imageio.
      // The in-plan gate asserts the DECODED dims equal the encoded
      // ones (the kmeans_cluster_profile identity-gate pattern), so a
      // codec break fails the harness run; the registered projection is
      // the decoded metadata, which the DuckDB twin recomputes from the
      // doc_id arithmetic — the oracle is green only if ImageIO
      // round-trips real PNG bytes. n_bytes is PNG-encoder-specific and
      // stays out of the projection (gated > 0 instead).
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 13 + 4).cast("int").as("w"),
        (col("doc_id") % 11 + 3).cast("int").as("h"))
      val media = Multimodal.synthesizeImages(dims, col("doc_id"),
        col("w"), col("h"))
      Multimodal.decodeMeta(media)
        .where(assert_true(
          col("width") === col("true_width") &&
            col("height") === col("true_height") && col("channels") === 3,
          concat(lit("ImageIO decode does not round-trip encoded dims: "),
            col("asset_id"))).isNull)
        .where(assert_true(col("n_bytes") > 0,
          lit("empty encoded payload")).isNull)
        .select(col("asset_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          (col("width") * col("height")).cast("long").as("n_pixels"))
    }),
    "media_pixel_stats" -> ((s, dir) => {
      // the codec round-trip PROOF: encode synthetic pixels to real PNG,
      // decode, sum each channel over the raster — PNG is lossless 8-bit
      // sRGB, so the sums equal the DuckDB twin's arithmetic recompute
      // of the synthetic pixel function exactly. Also the shape of real
      // non-model feature extraction (per-channel statistics).
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 13 + 4).cast("int").as("w"),
        (col("doc_id") % 11 + 3).cast("int").as("h"))
      val media = Multimodal.synthesizeImages(dims, col("doc_id"),
        col("w"), col("h"))
      Multimodal.imageChannelStats(media, col("asset_id"))
    }),
    "media_grid_features" -> ((s, dir) => {
      // REAL visual features from DECODED pixels: 2x2 grid grayscale
      // means over the synthesized PNGs — exact integer cell sums plus
      // a single IEEE division each, so the extraction (decode included)
      // hash-matches the DuckDB arithmetic twin. The pre-ML image
      // descriptor; the ML-embedding SHAPE stays covered by
      // media_features' stub extractor.
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 13 + 4).cast("int").as("w"),
        (col("doc_id") % 11 + 3).cast("int").as("h"))
      val media = Multimodal.synthesizeImages(dims, col("doc_id"),
        col("w"), col("h"))
      Multimodal.imageGridFeatures(media, col("asset_id"),
        gridW = 2, gridH = 2)
    }),
    "image_near_dup" -> ((s, dir) => {
      // IMAGE near-dup on REAL pixel content, oracle-proven end to end:
      // a capped anchor corpus of originals (PNG) plus one planted
      // variant each — a BMP RE-ENCODE (same pixels, zero shared
      // bytes), a CROP (offset + smaller dims) or an UNRELATED image
      // (different seed) — is decoded, reduced to centered 3x3
      // grid-sum vectors (exact longs), and ALL pairs are scored with
      // the INTEGER-exact cosine>=0.999 decision: byte dedup finds
      // nothing (every payload differs), content dedup must find
      // exactly the re-encodes (cos = 1), and crops/unrelated stay
      // below (measured negative max 0.9976 on this fixture). Every
      // output cell is integer/boolean, so the DuckDB twin recomputes
      // decode + features + decision verbatim — hash-green only if the
      // whole codec-to-decision pipeline round-trips.
      val (media, _) = imageVariantCorpus(s, dir)
      val vecs = Multimodal.imageGridSumVector(media, col("asset_id"),
        gridW = 3, gridH = 3)
      Similarity.integerCosinePairs(vecs, col("asset_id"), col("features"),
          tNum = 999, tDen = 1000, bits = 0)
        .select(col("id_a").as("asset_a"), col("id_b").as("asset_b"),
          col("dot"), col("is_dup"))
    }),
    "image_near_dup_lsh" -> ((s, dir) => {
      // the SCALE arm of image_near_dup: SRP-banded candidate
      // generation (equi-join on (band, code) — never all-pairs) with
      // the SAME integer-exact verify. Identical vectors collide in
      // every band, so recall on true re-encode pairs is 1.0 by
      // construction — which is why this arm can answer a DETERMINISTIC
      // oracle (the exact arm's duplicate set) instead of a recall
      // floor: LSH only thins candidates BELOW the threshold.
      val (media, _) = imageVariantCorpus(s, dir)
      val vecs = Multimodal.imageGridSumVector(media, col("asset_id"),
        gridW = 3, gridH = 3)
      Similarity.integerCosinePairs(vecs, col("asset_id"), col("features"),
          tNum = 999, tDen = 1000, bits = 12, bands = 4)
        .where(col("is_dup"))
        .select(col("id_a").as("asset_a"), col("id_b").as("asset_b"),
          col("dot"))
    }),
    "media_video_frames" -> ((s, dir) => {
      // REAL video frame extraction: per-document containers of
      // length-prefixed PNG frames (a real variable-size framing, so
      // the reader is a demuxer, not a stride slicer), every 2nd frame
      // DECODED through ImageIO with exact per-channel pixel sums.
      // The DuckDB twin recomputes frame coverage, dims and sums
      // arithmetically — green only if framing AND codec round-trip.
      val vids = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 7 + 3).cast("int").as("nf"))
      val media = Multimodal.synthesizeVideo(vids, col("doc_id"), col("nf"),
        w = 6, h = 4)
      Multimodal.sampleVideoFrames(media, col("asset_id"), step = 2)
    }),
    "media_features_learned" -> ((s, dir) => { // rows-only (PCA floats)
      // the model-INFERENCE shape with a REAL learned model — what the
      // declared stubFeatureVector stands in for, minus the external
      // ML runtime: content features from DECODED pixels (grid sums),
      // a PCA basis FITTED on this corpus (the training step, one
      // distributed moment pass + driver Jacobi), and per-row
      // projection through the broadcast weight matrix (the batched
      // inference step — swap the projection kernel for an ONNX/CLIP
      // call and nothing upstream or downstream changes). IN-PLAN
      // gate: a BMP re-encode's learned embedding must be IDENTICAL
      // to its PNG original's (same decoded content -> same features
      // -> same projection, bit-for-bit) — the gate a fake extractor
      // that hashed BYTES instead of content would fail.
      import graft.operators.Pca
      val (media, _) = imageVariantCorpus(s, dir)
      val vecs = Multimodal.imageGridSumVector(media, col("asset_id"),
          gridW = 3, gridH = 3)
        .select(col("asset_id"),
          // exact scaling into unit range (one IEEE division by a
          // power of two per component — keeps the gram aggregate's
          // quantization guard satisfied and re-encode equality exact)
          transform(col("features"), x => x.cast("double") / lit(1 << 20))
            .as("fv"))
      val model = Pca.fit(vecs, col("fv"), dim = 9, k = 4)
      val proj = Pca.project(model, vecs, col("fv"))
        .select(col("asset_id"), col("pca"))
      // re-encode pairs: variant id = doc_id + 100000, kind 0
      val reenc = proj.filter(col("asset_id") >= 100000L &&
          (col("asset_id") - 100000) % 24 === 0)
        .select((col("asset_id") - 100000).as("asset_id"),
          col("pca").as("__v_pca"))
      val gated = proj.join(reenc, Seq("asset_id"), "left")
        .where(assert_true(col("__v_pca").isNull ||
            col("pca") === col("__v_pca"),
          concat(lit("re-encoded content diverged in the learned " +
            "embedding for asset "), col("asset_id"))).isNull)
        .drop("__v_pca")
      gated.select(col("asset_id"), posexplode(col("pca")))
        .withColumnRenamed("pos", "feature_idx")
        .withColumnRenamed("col", "feature")
    }),
    "video_near_dup" -> ((s, dir) => {
      // near-dup-by-content for VIDEO, closing the multimodal triangle
      // (image_near_dup / audio_near_dup siblings): a capped anchor
      // corpus of frame containers — PNG-framed originals; variants =
      // the SAME frames re-encoded as BMP (content dup, zero shared
      // bytes) or an unrelated seed — demuxed, every 2nd frame
      // DECODED, grid sums accumulated across sampled frames into one
      // centered 3x3 signature, all pairs scored with the
      // integer-exact cosine>=0.9995 verdict (re-encodes cos=1
      // exactly; unrelated measured <=0.9992 — thin because 6x4
      // synthetic frames carry little content, but the integer
      // decision makes even a thin margin bit-decisive).
      val (media, _) = videoVariantCorpus(s, dir)
      val vecs = Multimodal.videoGridSumVector(media, col("asset_id"),
        gridW = 3, gridH = 3, step = 2)
      Similarity.integerCosinePairs(vecs, col("asset_id"), col("features"),
          tNum = 9995, tDen = 10000, bits = 0)
        .select(col("id_a").as("asset_a"), col("id_b").as("asset_b"),
          col("dot"), col("is_dup"))
    }),
    "media_audio_meta" -> ((s, dir) => {
      // REAL audio metadata decode: per-document WAV clips synthesized
      // ON EXECUTORS (mono 16-bit PCM, length a pure function of
      // doc_id) and decoded back through javax.sound.sampled — the
      // audio twin of media_meta, same gate/oracle construction: the
      // in-plan gate pins decoded frames ≡ encoded samples, and the
      // DuckDB twin recomputes the projection arithmetically, so the
      // row is green only if the WAV container round-trips.
      val lens = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 97 + 40).cast("int").as("n"))
      val media = Multimodal.synthesizeAudio(lens, col("doc_id"), col("n"))
      Multimodal.decodeAudioMeta(media)
        .where(assert_true(
          col("n_frames") === col("true_n_samples") &&
            col("channels") === 1 && col("bits") === 16 &&
            col("sample_rate") === col("true_sample_rate"),
          concat(lit("WAV decode does not round-trip the clip shape: "),
            col("asset_id"))).isNull)
        .select(col("asset_id"),
          col("n_frames").cast("long").as("n_samples"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"))
    }),
    "media_audio_stats" -> ((s, dir) => {
      // the audio codec round-trip PROOF (media_pixel_stats' twin):
      // synthetic 16-bit samples encode to real WAV, decode, aggregate
      // as exact integers — PCM is lossless, so the sums hash-match the
      // DuckDB arithmetic recompute of the sample function.
      val lens = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 97 + 40).cast("int").as("n"))
      val media = Multimodal.synthesizeAudio(lens, col("doc_id"), col("n"))
      Multimodal.audioSampleStats(media, col("asset_id"))
    }),
    "media_audio_features" -> ((s, dir) => {
      // REAL audio content features: the windowed energy contour (the
      // pre-ML audio descriptor — what VAD/loudness gates run on) over
      // decoded PCM. 16-frame windows, exact long sums + one IEEE
      // division per window, so the whole decode→window→aggregate
      // pipeline hash-matches the DuckDB k//16 arithmetic twin.
      val lens = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 97 + 40).cast("int").as("n"))
      val media = Multimodal.synthesizeAudio(lens, col("doc_id"), col("n"))
      Multimodal.audioWindowFeatures(media, col("asset_id"), windowSize = 16)
    }),
    "audio_near_dup" -> ((s, dir) => {
      // near-dup-by-SOUND, the audio twin of image_near_dup: a capped
      // anchor corpus of chirp clips (WAV originals; variants = AIFF
      // re-encode of the SAME samples / truncation to 4/5 length /
      // unrelated seed) decoded to centered 12-cell proportional
      // contour vectors (exact longs) and all-pairs scored with the
      // integer-exact cosine>=0.99 verdict — re-encodes land at cos=1
      // exactly, truncated/unrelated measured <=0.954. Byte dedup sees
      // nothing (WAV vs AIFF differ in every byte incl. endianness);
      // content dedup finds exactly the re-encodes, oracle-proven.
      val (media, _) = audioVariantCorpus(s, dir)
      val vecs = Multimodal.audioGridSumVector(media, col("asset_id"),
        cells = 12)
      Similarity.integerCosinePairs(vecs, col("asset_id"), col("features"),
          tNum = 99, tDen = 100, bits = 0)
        .select(col("id_a").as("asset_a"), col("id_b").as("asset_b"),
          col("dot"), col("is_dup"))
    }),
    "media_resize_image" -> ((s, dir) => {
      // REAL bilinear resample to a fixed thumbnail size, re-encoded
      // PNG, then decoded again: the gate asserts the decoded dims are
      // exactly the target (resampled pixel VALUES are interpolation-
      // implementation-specific, so only the dims project). Every 10th
      // doc: the resample is the most expensive per-row step of the
      // media family and the plumbing claim needs coverage, not volume.
      val dims = t(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          (col("doc_id") % 13 + 4).cast("int").as("w"),
          (col("doc_id") % 11 + 3).cast("int").as("h"))
      val media = Multimodal.synthesizeImages(dims, col("doc_id"),
        col("w"), col("h"))
      val resized = Multimodal.resizeImages(media, targetW = 8, targetH = 6)
        .select(col("asset_id"), col("resized").as("media"))
      Multimodal.decodeMeta(resized)
        .where(assert_true(col("width") === 8 && col("height") === 6,
          concat(lit("resample missed target dims: "), col("asset_id"))).isNull)
        .select(col("asset_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"))
    }),
    "media_frames" -> ((s, dir) => {
      val media = Multimodal.packTextAsMedia(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      // frames stay binary inside the operator; the registered query emits
      // hex so the driver's pandas hash compare has a hashable column
      Multimodal.sampleFrames(media, col("asset_id"), col("media"),
        frameSize = 16, step = 4)
        .withColumn("frame", hex(col("frame")))
    }),
    "media_features" -> ((s, dir) => {
      val media = Multimodal.packTextAsMedia(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      media.filter(octet_length(col("media")) > 0)
        .select(col("asset_id"),
        posexplode(Multimodal.stubFeatureVector(col("media"), dim = 8)))
        .withColumnRenamed("pos", "feature_idx")
        .withColumnRenamed("col", "feature")
    }),
    "media_resize" -> ((s, dir) => {
      // byte-level crop/pad to a fixed frame size; hex'd for the driver's
      // hash compare (same convention as media_frames)
      val media = Multimodal.packTextAsMedia(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      media.select(col("asset_id"),
        hex(Multimodal.stubResize(col("media"), targetBytes = 64)).as("resized_hex"))
    }),
    "text_scrub" -> ((s, dir) => {
      // the source docs carry no PII, so the query plants a synthetic
      // email / account number / URL derived from doc_id and verifies the
      // scrubber masks exactly those spans (oracle replays both steps)
      val dirty = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com ref 1234567890 via https://ex.com/d/"),
        col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.scrubPii(dirty).as("scrubbed"))
    }),
    "pii_density" -> ((s, dir) => {
      // the MEASUREMENT half of scrubbing: per-source counts of each
      // PII pattern (same planted-span construction as text_scrub, so
      // the expected density is known and the oracle validates the
      // non-overlapping match semantics both engines must share).
      // Run BEFORE scrubPii to decide whether a source needs it, and
      // AFTER to prove the output is clean.
      val dirty = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com ref 1234567890 via https://ex.com/d/"),
        col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), dirty.as("t"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(regexp_count(col("t"), lit("https?://[^ ]+")))
            .cast("bigint").as("n_urls"),
          sum(regexp_count(col("t"),
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")))
            .cast("bigint").as("n_emails"),
          sum(regexp_count(col("t"), lit("[0-9]{6,}")))
            .cast("bigint").as("n_numbers"))
    }),
    "contamination" -> ((s, dir) => {
      // eval-set decontamination: docs from src0 act as the benchmark;
      // every other doc is scored by distinct shared word-3-gram shingles
      val docs = t(s, dir, "documents")
      Dedup.shingleContamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        col("doc_id"), col("text"), n = 3)
    }),
    "contamination_bloom" -> ((s, dir) => {
      // the runtime-filter shape of decontamination: driver-built Bloom
      // filter over eval shingles rides the plan as a binary literal
      // and drops non-members in codegen before the exact verify join —
      // no false negatives, so the result (and oracle) is identical to
      // `contamination`
      val docs = t(s, dir, "documents")
      Dedup.bloomShingleContamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        col("doc_id"), col("text"), n = 3, expectedItems = 1L << 17)
    }),
    "dedup_incremental" -> ((s, dir) => { // engine-hash based: rows-only
      // the daily-increment shape: docs from sources src10-src19 arrive as
      // the new batch and are near-deduped against the accumulated corpus
      // (src0-src9) via its STORED MinHash signatures — the accumulated
      // text is never rescanned
      curateIncrementQuery(t(s, dir, "documents"), curationCfg)
    }),
    "dedup_incremental_portable" -> ((s, dir) => {
      // oracle twin of dedup_incremental: the SAME funnel under
      // SigHash.Md5 (md5-hex signatures, raw-slice band keys), so every
      // signature element, band key, candidate pair and est_jaccard
      // reproduces bit-for-bit in DuckDB. Runs on the deterministic
      // doc_id%5 slice (the bounded-anchor convention, like
      // source_minhash_jaccard_portable): the md5 signature kernel is
      // ~10x the engine hash — the oracle applies the same predicate,
      // so exactness is untouched.
      curateIncrementQuery(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        curationCfg.copy(hash = graft.functions.SigHash.Md5))
    }),
    "dedup_incremental_stored" -> ((s, dir) => { // engine-hash: rows-only
      // the 100-TB-relevant DAILY MARGINAL COST: dedup_incremental above
      // rebuilds the reference signature store inline, so its benched
      // number conflates store-build with the increment (r7 verdict).
      // This entry curates the same increment against the
      // PRE-MATERIALIZED bucketed store: built once per session+dir
      // (first bench pass / first Verify call), then every timed pass
      // measures only what a daily run pays — the store side of the
      // band join plans no exchange (PlanAuditSpec pins it).
      import graft.pipelines.CorpusPipeline
      // The table name is scoped by applicationId: a FRESH JVM's
      // in-memory catalog does not know tables a previous JVM created,
      // but their warehouse LOCATIONS survive on disk, and saveAsTable
      // throws LOCATION_ALREADY_EXISTS rather than adopt one (caught
      // silently by Verify's per-query try in round 8 until the bench
      // surfaced it). Per-app names make the first build of every JVM
      // collision-free; stale locations from prior JVMs are deleted
      // below so the (gitignored) warehouse does not accrete.
      val appTag = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "")
      val table = "graft_sigstore_" +
        java.lang.Integer.toHexString(dir.hashCode) + "_" + appTag
      // guard on BOTH halves: writeSignatureStore's two writes are not
      // transactional, and a crash between them would otherwise leave
      // the raw table present, the build skipped forever, and the
      // banded-index read failing (or, worse, silently stale) — the
      // exact hazard verifySignatureStore/repairSignatureStore exist
      // for. Overwrite mode makes the rebuild safe over either half.
      if (!s.catalog.tableExists(table) ||
          !s.catalog.tableExists(table + "_banded")) {
        // sweep stale store locations left by other (dead) application
        // ids — rebuildable caches, safe to drop; this JVM's own stores
        // (any sf dir) carry the current appTag and are preserved. The
        // 30-minute age floor keeps a CONCURRENT harness JVM's live
        // store (bench + verify sharing spark-warehouse run in minutes)
        // from being deleted mid-run; only genuinely dead leftovers go.
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"))
        val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        val staleBefore = System.currentTimeMillis() - 30L * 60 * 1000
        if (fs.exists(wh)) {
          fs.listStatus(wh).foreach { st =>
            val nm = st.getPath.getName
            if (nm.startsWith("graft_sigstore_") && !nm.contains(appTag) &&
                st.getModificationTime < staleBefore)
              fs.delete(st.getPath, true)
          }
        }
        val ref = t(s, dir, "documents")
          .filter(col("source").rlike("^src[0-9]$"))
        val refSigs = Dedup.minhashSignatures(
          CorpusPipeline.qualityGate(CorpusPipeline.annotate(ref), curationCfg),
          col("doc_id"), col("text"), curationCfg.numHashes, curationCfg.shingleSize)
        CorpusPipeline.writeSignatureStore(refSigs, table, curationCfg,
          buckets = 32, org.apache.spark.sql.SaveMode.Overwrite)
      }
      val inc = t(s, dir, "documents")
        .filter(col("source").rlike("^src1[0-9]$"))
      val (curated, _) = CorpusPipeline.curateIncrementFromStore(inc, table,
        curationCfg)
      curated.select(col("doc_id"), col("lang_pred"), col("n_tokens"))
    }),
    "embed_quantize" -> ((s, dir) => {
      // int8 symmetric quantization of the embedding column; codes
      // emitted CSV-joined (the driver's hash compare needs scalar cells)
      val emb = t(s, dir, "embeddings")
      emb.select(col("vec_id"),
        array_join(VectorFunctions.quantize8(col("embedding"))
          .cast("array<string>"), ",").as("q_csv"),
        VectorFunctions.quantScale(col("embedding")).as("scale"))
    })
  )
}
