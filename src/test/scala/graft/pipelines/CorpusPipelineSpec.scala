package graft.pipelines

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sinks.MockServingSink

class CorpusPipelineSpec extends SparkTestBase {

  private def rawDocs = {
    import graft.TestSpark.spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs into the field"),
      (2L, "the quick brown fox jumps over the lazy dog and runs into the field"), // exact dup
      (3L, "the quick brown fox jumps over the lazy dog and runs into the meadow"), // near dup
      (4L, "der hund und die katze ist im haus und der garten ist gross"), // non-en
      (5L, "short text"), // too few tokens
      (6L, "a completely different and is on the document about the engines of to spark")
    ).toDF("doc_id", "text")
  }

  test("end-to-end curation: gate, exact dedup, near dedup, enrich") {
    val ctx = new PipelineContext(spark, new MockServingSink,
      tempDir("corpus").toString, SaveMode.Overwrite)
    val cfg = CorpusPipeline.Config(minQuality = 0.3, keepLangs = Seq("en"),
      minTokens = 5, shingleSize = 2, numHashes = 64, bands = 16,
      minEstJaccard = 0.5)
    val counts = CorpusPipeline.run(ctx, rawDocs, cfg)

    assert(counts("raw") == 6)
    assert(counts("gated") == 4)          // drops de doc and short doc
    assert(counts("exact_deduped") == 3)  // drops exact dup (id 2)
    assert(counts("curated") == 2)        // near-dedup drops id 3

    val curated = spark.read.parquet(s"${ctx.stagingDir}/corpus_curated")
    val ids = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 6L))
    // enrichment artifacts present and well-formed
    val r = curated.filter(col("doc_id") === 1).head()
    assert(r.getAs[scala.collection.Seq[Long]]("fingerprints").nonEmpty)
    assert(r.getAs[scala.collection.Seq[Double]]("features").length == 16)
    assert(r.getAs[String]("lang_pred") == "en")
  }

  test("curateIncrement keeps the same doc_ids under SigHash.Md5 as under Engine") {
    import graft.TestSpark.spark.implicits._
    import graft.functions.SigHash
    import graft.operators.Dedup
    val refDocs = Seq(
      (1L, "the cat and the dog walk to the old mill by the river road"),
      (2L, "the sun is warm and the wind is cold over the high green hills")
    ).toDF("doc_id", "text")
    val increment = Seq(
      (10L, "the cat and the dog walk to the old mill by the river road"), // re-sent
      (11L, "the children read the books and the teacher is glad of the quiet room")
    ).toDF("doc_id", "text")
    val kept = SigHash.values.map { hash =>
      val cfg = CorpusPipeline.Config(minQuality = 0.0, keepLangs = Seq("en"),
        minTokens = 5, shingleSize = 3, numHashes = 64, bands = 16,
        minEstJaccard = 0.5, featureDim = 4, hash = hash)
      val refSigs = Dedup.minhashSignatures(refDocs, col("doc_id"),
        col("text"), cfg.numHashes, cfg.shingleSize, hash)
      val (curated, _) = CorpusPipeline.curateIncrement(increment, refSigs, cfg)
      hash -> curated.select("doc_id").as[Long].collect().sorted.toSeq
    }.toMap
    assert(kept(SigHash.Engine) == Seq(11L), kept)
    assert(kept(SigHash.Md5) == kept(SigHash.Engine), kept)
  }

  test("funnel plan guard: the drop-list anti-joins broadcast and no " +
    "execution of the curated write sort-merges") {
    import graft.TestSpark.spark.implicits._
    import graft.operators.Dedup
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      SortMergeJoinExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    // 200 documents, enough that a leaf keeping a join's product
    // estimate would exceed the broadcast threshold: 160 distinct, 20
    // exact and 20 near copies of them; the reference holds 50 of them
    val vocab = "the and of river stone light green cold warm field road " +
      "book child window garden house night morning bird tree water hill"
    val words = vocab.split(" ")
    def text(i: Int): String = {
      val r = new scala.util.Random(i)
      Seq.fill(24)(words(r.nextInt(words.length))).mkString(" ") + s" w$i"
    }
    val docs = (0 until 160).map(i => (i.toLong, text(i))) ++
      (0 until 20).map(i => (1000L + i, text(i))) ++
      (20 until 40).map(i => (2000L + i, text(i).replaceFirst("^\\S+", "zzz")))
    val increment = docs.toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(minQuality = 0.0, keepLangs = Seq("en"),
      minTokens = 5, shingleSize = 3, numHashes = 64, bands = 16,
      minEstJaccard = 0.5, featureDim = 4)
    val refSigs = Dedup.minhashSignatures(
      (100 until 150).map(i => (5000L + i, text(i))).toDF("doc_id", "text"),
      col("doc_id"), col("text"), cfg.numHashes, cfg.shingleSize)
    object Nodes extends AdaptiveSparkPlanHelper {
      def apply(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
    }
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[SparkPlan]())
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val kept = try graft.operators.Pin.scope {
      val (curated, keptSigs) =
        CorpusPipeline.curateIncrement(increment, refSigs, cfg)
      curated.write.format("noop").mode(SaveMode.Overwrite).save()
      val kept = keptSigs.select("doc_id").as[Long].collect().toSet
      org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
      kept
    } finally spark.listenerManager.unregister(listener)
    // exact and near copies and the reference's docs are dropped
    assert(kept.forall(id => id < 100 || (id >= 150 && id < 160)), kept)
    assert(kept.size == 110, kept.size)
    import scala.jdk.CollectionConverters._
    val nodes = plans.asScala.toSeq.flatMap(p => Nodes(p))
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, smj.map(_.simpleString(200)).mkString("\n"))
    val antiJoins = nodes.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
    }
    // selfClean's drop of the self pairs, clean's drop of the cross pairs
    assert(antiJoins.size >= 2,
      s"${antiJoins.size} broadcast anti-joins in ${plans.size} executions")
  }

  test("cluster products derive from the STORED label table, not a recompute") {
    // the production path behind dedup_cluster_sizes: materialize the
    // (doc_id, component) cluster view once, then every cluster-level
    // product is an agg over that table — here the size histogram via
    // Dedup.clusterSizeHistogram, checked against the from-scratch form
    import graft.operators.Dedup
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      n = 3, minJaccard = 0.5)
    val cc = Dedup.connectedComponents(pairs)
    val labels = docs.select(col("doc_id"))
      .join(cc, docs("doc_id") === cc("id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"))
    val labelDir = s"${tempDir("labels")}/dedup_clusters"
    labels.write.mode(SaveMode.Overwrite).parquet(labelDir)

    val fromStore = Dedup.clusterSizeHistogram(
      spark.read.parquet(labelDir), col("component"))
    // the stored-label derivation is one join-free two-agg plan
    val plan = fromStore.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = toMap(Dedup.clusterSizeHistogram(labels, col("component")))
    assert(toMap(fromStore) == expected, s"expected $expected")
    assert(expected.nonEmpty && expected.keySet.exists(_ >= 2),
      s"fixture should contain a real multi-doc cluster: $expected")
    spark.catalog.clearCache()
  }
}
