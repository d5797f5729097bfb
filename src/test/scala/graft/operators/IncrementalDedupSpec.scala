package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.SigHash
import graft.pipelines.CorpusPipeline

/** Incremental near-dedup: a day's increment is deduped against the
  * accumulated corpus via its stored MinHash signatures — never against
  * the accumulated text. These specs pin the cross-join contract
  * (minhashPairsAgainst) and the full incremental funnel
  * (curateIncrement): within-increment dups, cross-increment dups, the
  * quality gate, and the signature hand-off for the next increment.
  */
class IncrementalDedupSpec extends SparkTestBase {
  import testImplicits._

  private lazy val testImplicits = spark.implicits

  private val refText1 = "the cat and the dog walk to the old mill by the river road"
  private val refText2 = "the sun is warm and the wind is cold over the high green hills"
  private val novel = "the children read the books and the teacher is glad of the quiet room"

  private def refDocs = Seq((1L, refText1), (2L, refText2)).toDF("doc_id", "text")

  private val cfg = CorpusPipeline.Config(minQuality = 0.0,
    keepLangs = Seq("en"), minTokens = 5, shingleSize = 3,
    numHashes = 64, bands = 16, minEstJaccard = 0.5, featureDim = 4)

  test("minhashPairsAgainst finds cross-corpus duplicates, not unrelated docs") {
    val refSigs = Dedup.minhashSignatures(refDocs, col("doc_id"), col("text"),
      cfg.numHashes, cfg.shingleSize)
    val newSigs = Dedup.minhashSignatures(
      Seq((10L, refText1), (11L, novel)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), cfg.numHashes, cfg.shingleSize)
    val pairs = Dedup.minhashPairsAgainst(newSigs, refSigs,
        cfg.numHashes, cfg.bands, cfg.minEstJaccard)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 10L, 1.0))) // exact copy: every band agrees
  }

  test("minhashPairsAgainst builds its band join on the new side even " +
    "when the reference is the smaller one") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    object Nodes extends AdaptiveSparkPlanHelper {
      def apply(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
    }
    // one reference document against twenty new ones, both sides' sizes
    // measured (the reference's cache filled, the new side pinned): by
    // size alone the reference's bands would be the broadcast side
    val refSigs = Dedup.minhashSignatures(Seq((1L, refText1)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), cfg.numHashes, cfg.shingleSize)
    val newSigs = Dedup.minhashSignatures(
      (10L until 30L).map(i => (i, if (i == 10L) refText1 else s"$novel $i"))
        .toDF("doc_id", "text"),
      col("doc_id"), col("text"), cfg.numHashes, cfg.shingleSize)
    val (pairs, plan) = Pin.scope {
      val ref = Pin.cache(refSigs)
      ref.count()
      val p = Dedup.minhashPairsAgainst(Pin.eager(newSigs), ref,
        cfg.numHashes, cfg.bands, cfg.minEstJaccard)
      (p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
        p.queryExecution.executedPlan)
    }
    assert(pairs == Seq((1L, 10L, 1.0)))
    val bandJoins = Nodes(plan).collect {
      case j: BroadcastHashJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "band_idx")) => j
    }
    assert(bandJoins.nonEmpty, plan.toString)
    assert(bandJoins.forall(_.buildSide == BuildRight),
      bandJoins.map(_.simpleString(200)).mkString("\n"))
  }

  test("curateIncrement: drops cross-increment and within-increment dups, keeps novel, gates junk") {
    val increment = Seq(
      (10L, refText1), // exact copy of accumulated doc 1 -> dropped cross
      (11L, novel),    // genuinely new -> kept
      (12L, novel),    // within-increment exact dup of 11 -> dropped self
      (13L, "bad")     // fails the minTokens gate
    ).toDF("doc_id", "text")
    val refSigs = Dedup.minhashSignatures(refDocs, col("doc_id"), col("text"),
      cfg.numHashes, cfg.shingleSize)
    val (curated, keptSigs) = CorpusPipeline.curateIncrement(increment, refSigs, cfg)
    assert(curated.select("doc_id").as[Long].collect().toSeq == Seq(11L))
    assert(keptSigs.select("doc_id").as[Long].collect().toSeq == Seq(11L))
    // the kept signature is usable as tomorrow's reference: a re-sent copy
    // of the novel doc is now a cross-increment duplicate
    val tomorrow = Seq((20L, novel)).toDF("doc_id", "text")
    val (curated2, _) = CorpusPipeline.curateIncrement(tomorrow, keptSigs, cfg)
    assert(curated2.isEmpty)
  }

  test("bucketed signature store round-trip: curateIncrementFromStore matches curateIncrement") {
    val table = "inc_sig_store"
    val refSigs = Dedup.minhashSignatures(refDocs, col("doc_id"), col("text"),
      cfg.numHashes, cfg.shingleSize)
    CorpusPipeline.writeSignatureStore(refSigs, table, cfg, buckets = 4,
      mode = org.apache.spark.sql.SaveMode.Overwrite)
    try {
      val increment = Seq(
        (10L, refText1), // copy of stored doc 1 -> dropped via the store
        (11L, novel)     // new -> kept
      ).toDF("doc_id", "text")
      val (curated, keptSigs) =
        CorpusPipeline.curateIncrementFromStore(increment, table, cfg)
      assert(curated.select("doc_id").as[Long].collect().toSeq == Seq(11L))
      // day 2: append the survivors' signatures; a re-sent copy of the
      // novel doc is now a cross-increment duplicate via the store
      CorpusPipeline.writeSignatureStore(keptSigs, table, cfg, buckets = 4)
      val (curated2, _) = CorpusPipeline.curateIncrementFromStore(
        Seq((20L, novel)).toDF("doc_id", "text"), table, cfg)
      assert(curated2.isEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_banded")
    }
  }

  test("signature store reconcile detects a partial write; repair rebuilds the index") {
    val table = "inc_sig_repair"
    val refSigs = Dedup.minhashSignatures(refDocs, col("doc_id"), col("text"),
      cfg.numHashes, cfg.shingleSize)
    CorpusPipeline.writeSignatureStore(refSigs, table, cfg, buckets = 4,
      mode = org.apache.spark.sql.SaveMode.Overwrite)
    try {
      assert(CorpusPipeline.verifySignatureStore(spark, table))
      // simulate a crash between writeSignatureStore's two writes: a
      // day lands in the raw table but never reaches the banded index
      val day2 = Dedup.minhashSignatures(
        Seq((30L, novel)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), cfg.numHashes, cfg.shingleSize)
      day2.write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(table)
      assert(!CorpusPipeline.verifySignatureStore(spark, table))
      CorpusPipeline.repairSignatureStore(spark, table, cfg, buckets = 4)
      assert(CorpusPipeline.verifySignatureStore(spark, table))
      // the repaired index actually serves candidates for the day that
      // had been missing from it
      val (curated, _) = CorpusPipeline.curateIncrementFromStore(
        Seq((40L, novel)).toDF("doc_id", "text"), table, cfg)
      assert(curated.isEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_banded")
    }
  }

  test("portable md5 signatures match a Spark-SQL md5 recomputation exactly") {
    // the kernel's contract is that ANY engine derives the same values
    // as substr(md5(sh || ':' || k), 1, 16); pin it against Spark's own
    // md5 (itself standard, hence equal to DuckDB's) via the HOF twin
    val docs = Seq((1L, refText1), (2L, refText2)).toDF("doc_id", "text")
    val kernel = Dedup.minhashSignatures(docs, col("doc_id"),
      col("text"), numHashes = 8, shingleSize = 3, SigHash.Md5)
      .select("doc_id", "sig").as[(Long, Seq[String])].collect().toMap
    val sh = array_distinct(
      graft.functions.TextFunctions.wordShingles(col("text"), 3))
    val hof = docs.select(col("doc_id"),
        transform(sequence(lit(0), lit(7)), k =>
          array_min(transform(sh, g =>
            substring(md5(concat(g, lit(":"), k.cast("string"))), 1, 16))))
          .as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    assert(kernel == hof)
    assert(kernel(1L).forall(_.matches("[0-9a-f]{16}")))
    // shingle-less doc -> empty signature (mirrors the engine kernel)
    val empty = Dedup.minhashSignatures(
      Seq((9L, "one two")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), numHashes = 8, shingleSize = 3, SigHash.Md5)
      .select("sig").as[Seq[String]].head()
    assert(empty.isEmpty)
  }

  test("portable pair generators mirror the engine-hash semantics") {
    for (hash <- SigHash.values) {
      val refSigs = Dedup.minhashSignatures(refDocs, col("doc_id"),
        col("text"), cfg.numHashes, cfg.shingleSize, hash)
      val newSigs = Dedup.minhashSignatures(
        Seq((10L, refText1), (11L, novel)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), cfg.numHashes, cfg.shingleSize, hash)
      val cross = Dedup.minhashPairsAgainst(newSigs, refSigs,
          cfg.numHashes, cfg.bands, cfg.minEstJaccard, hash = hash)
        .as[(Long, Long, Double)].collect()
      assert(cross.toSeq == Seq((1L, 10L, 1.0)), s"$hash")
      val selfPairs = Dedup.minhashDedupPairs(
        Seq((20L, novel), (21L, novel), (22L, refText2))
          .toDF("doc_id", "text"),
        col("doc_id"), col("text"), cfg.numHashes, cfg.shingleSize,
        cfg.bands, cfg.minEstJaccard, hash = hash)
        .as[(Long, Long, Double)].collect()
      assert(selfPairs.toSeq == Seq((20L, 21L, 1.0)), s"$hash")
    }
  }

  test("keptSigs are the curated docs' own signatures, under every SigHash") {
    // the funnel carries each survivor's signature on its row; what it
    // hands forward must equal a fresh signature pass over the curated
    // documents — same ids, same sig and n_sh
    val increment = Seq(
      (10L, refText1), // cross-increment dup -> dropped
      (11L, novel),
      (12L, novel),    // within-increment dup of 11 -> dropped
      (13L, "the old boat sails past the grey harbour wall at first light"),
      (14L, "one two")  // gated out by minTokens
    ).toDF("doc_id", "text")
    for (hash <- SigHash.values) {
      val hcfg = cfg.copy(hash = hash)
      val refSigs = Dedup.minhashSignatures(refDocs, col("doc_id"),
        col("text"), cfg.numHashes, cfg.shingleSize, hash)
      val (curated, keptSigs) =
        CorpusPipeline.curateIncrement(increment, refSigs, hcfg)
      val recomputed = Dedup.minhashSignatures(curated, col("doc_id"),
        col("text"), cfg.numHashes, cfg.shingleSize, hash)
      val kept = keptSigs.orderBy("doc_id").collect().toSeq
      assert(kept.map(_.getLong(0)) == Seq(11L, 13L), s"$hash")
      assert(kept == recomputed.orderBy("doc_id").collect().toSeq, s"$hash")
      assert(keptSigs.columns.toSeq == Seq("doc_id", "sig", "n_sh"), s"$hash")
    }
  }

  test("curateIncrement with an empty reference keeps the whole (self-deduped) increment") {
    val increment = Seq((10L, refText1), (11L, novel)).toDF("doc_id", "text")
    val emptyRef = Dedup.minhashSignatures(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      col("doc_id"), col("text"), cfg.numHashes, cfg.shingleSize)
    val (curated, _) = CorpusPipeline.curateIncrement(increment, emptyRef, cfg)
    assert(curated.select("doc_id").as[Long].collect().sorted.toSeq == Seq(10L, 11L))
  }
}
