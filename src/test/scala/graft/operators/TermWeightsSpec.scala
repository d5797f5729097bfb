package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TermWeightsSpec extends SparkTestBase {

  private lazy val testImplicits = spark.implicits
  import testImplicits._

  private val docs = Seq(
    (1L, "a a b c"),
    (2L, "a b b"),
    (3L, "c")
  ).toDF("doc_id", "text")

  test("tfidfTopTerms: rational weights, ranks and tie-break by token") {
    // N=3; df: a->2, b->2, c->2; score = tf*4/(df+1) = tf*4/3
    val got = TermWeights.tfidfTopTerms(docs, col("doc_id"), col("text"), k = 2)
      .select("doc_id", "token", "tf", "df", "score", "rank")
      .as[(Long, String, Long, Long, Double, Int)].collect().toSet
    assert(got == Set(
      (1L, "a", 2L, 2L, 8.0 / 3, 1), // tf 2 dominates
      (1L, "b", 1L, 2L, 4.0 / 3, 2), // b==c score tie -> token asc
      (2L, "b", 2L, 2L, 8.0 / 3, 1),
      (2L, "a", 1L, 2L, 4.0 / 3, 2),
      (3L, "c", 1L, 2L, 4.0 / 3, 1)))
  }

  test("tfidfTopTerms: shuffle-join vocabulary path is identical") {
    def run(bcast: Boolean) = TermWeights
      .tfidfTopTerms(docs, col("doc_id"), col("text"), k = 2,
        broadcastVocab = bcast)
      .select("doc_id", "token", "tf", "df", "score", "rank")
      .as[(Long, String, Long, Long, Double, Int)].collect().toSet
    assert(run(true) == run(false))
  }

  test("tfidfTopTerms: log weight runs and keeps per-doc rank contract") {
    val got = TermWeights.tfidfTopTerms(docs, col("doc_id"), col("text"),
        k = 2, weight = TermWeights.LogIdf)
      .select("doc_id", "rank").as[(Long, Int)].collect()
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    byDoc.foreach { case (_, ranks) =>
      assert(ranks == (1 to ranks.size))
    }
  }

  test("tfidfTopTerms: single explode pass — df derives from the persisted tf") {
    spark.catalog.clearCache()
    try {
      val plan = TermWeights
        .tfidfTopTerms(docs, col("doc_id"), col("text"), k = 2)
        .queryExecution.executedPlan.toString
      // both fan-out consumers (score join + df aggregate) read the
      // cached tf — the explode runs once and lives inside the cached
      // relation. (Generate occurrences in the STRING aren't countable:
      // every InMemoryTableScan prints the cached plan it reads.)
      assert("InMemoryTableScan".r.findAllIn(plan).length >= 2, plan)
    } finally spark.catalog.clearCache()
  }

  test("tfidfTopTerms rejects k < 1") {
    intercept[IllegalArgumentException] {
      TermWeights.tfidfTopTerms(docs, col("doc_id"), col("text"), k = 0)
    }
  }
}
