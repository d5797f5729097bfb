package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

class Bm25Spec extends SparkTestBase {

  private lazy val testImplicits = spark.implicits
  import testImplicits._

  // 3 docs, hand-checkable: "cat" in 2 docs, "dog" in 1, "the" in all
  private def tiny = Seq(
    (1L, "the cat sat"),
    (2L, "the cat cat ran the mile"),
    (3L, "the dog")).toDF("doc_id", "text")

  private def referenceScores(k1: Double, b: Double,
                              logIdf: Boolean): Map[(Long, String), Double] = {
    val docs = Map(
      1L -> Seq("the", "cat", "sat"),
      2L -> Seq("the", "cat", "cat", "ran", "the", "mile"),
      3L -> Seq("the", "dog"))
    val n = docs.size.toLong
    val dfreq = docs.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val avgdl = docs.values.map(_.size).sum.toDouble / n.toDouble
    (for {
      (id, toks) <- docs.toSeq
      (t, tf) <- toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    } yield {
      val df = dfreq(t)
      val ratio = ((n - df).toDouble + 0.5) / (df.toDouble + 0.5)
      val idf = if (logIdf) math.log(1.0 + ratio) else ratio
      val dl = toks.size.toDouble
      val score = idf * ((tf.toDouble * (k1 + 1.0)) /
        (tf.toDouble + k1 * ((1.0 - b) + (b * dl) / avgdl)))
      (id, t) -> score
    }).toMap
  }

  private def indexMap(weight: TermWeights.IdfWeight,
                       k1: Double = 1.2, b: Double = 0.75) =
    Bm25.bm25Index(tiny, col("doc_id"), col("text"), k1 = k1, b = b,
      weight = weight)
      .select("doc_id", "token", "score").as[(Long, String, Double)]
      .collect().map(r => ((r._1, r._2), r._3)).toMap

  test("index matches a hand-rolled reference for both idf flavours") {
    for (logIdf <- Seq(true, false)) {
      val weight = if (logIdf) TermWeights.LogIdf else TermWeights.RationalIdf
      val got = indexMap(weight)
      val want = referenceScores(1.2, 0.75, logIdf)
      assert(got.keySet == want.keySet)
      got.foreach { case (key, s) =>
        assert(math.abs(s - want(key)) < 1e-12, s"$key: $s vs ${want(key)}")
      }
    }
  }

  test("saturation, rarity, and length-normalization behave like BM25") {
    val got = indexMap(TermWeights.LogIdf)
    // rarity: dog (df=1) outweighs cat (df=2) outweighs the (df=3) at tf=1
    assert(got((3L, "dog")) > got((1L, "cat")))
    assert(got((1L, "cat")) > got((1L, "the")))
    // tf saturation: doc2 has cat twice but scores < 2x doc1's single cat
    // (and > 1x despite doc2 being longer than average)
    assert(got((2L, "cat")) < 2.0 * got((1L, "cat")))
    // b=0 kills length normalization: same (tf, df) => same score
    // regardless of dl ("the" at tf=1 in docs 1 and 3)
    val noLen = indexMap(TermWeights.LogIdf, b = 0.0)
    assert(noLen((1L, "the")) == noLen((3L, "the")))
    assert(got((1L, "the")) != got((3L, "the")))
    // k1=0 disables saturation entirely: score == idf for every row
    val k0 = indexMap(TermWeights.LogIdf, k1 = 0.0)
    assert(math.abs(k0((2L, "cat")) - k0((1L, "cat"))) < 1e-15)
  }

  test("search ranks by summed matched weights, ties on doc_id") {
    val idx = Bm25.bm25Index(tiny, col("doc_id"), col("text"))
    val queries = Seq((10L, "cat mile"), (20L, "dog"),
      (30L, "unicorn"), (40L, "cat cat")).toDF("qid", "qtext")
    val got = Bm25.bm25Search(idx, queries, col("qid"), col("qtext"), k = 2)
      .select("query_id", "doc_id", "n_matched", "bm25", "rank")
      .as[(Long, Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._5)).toMap
    val want = referenceScores(1.2, 0.75, logIdf = true)
    // q10: doc2 matches cat+mile, doc1 matches cat only
    val q10 = got(10L)
    assert(q10.map(r => (r._2, r._3)).toSeq == Seq((2L, 2L), (1L, 1L)))
    assert(math.abs(q10.head._4 - (want((2L, "cat")) + want((2L, "mile")))) < 1e-12)
    // q20: only doc3 contains dog
    assert(got(20L).map(_._2).toSeq == Seq(3L))
    // q30: no term in corpus -> no rows at all
    assert(!got.contains(30L))
    // q40: repeated query term counts once -> same as plain "cat",
    // doc ORDER decided by weight (doc2 cat-twice outscores doc1)
    assert(got(40L).map(_._2).toSeq == Seq(2L, 1L))
    assert(math.abs(got(40L).head._4 - want((2L, "cat"))) < 1e-12)
  }

  test("index over real documents: positive weights, consistent dl/df") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val idx = Bm25.bm25Index(docs, col("doc_id"), col("text"))
      .persist()
    assert(idx.filter(col("score") <= 0.0).count() == 0L)
    // dl on every row equals the sum of tf over that doc's rows
    val badDl = idx.groupBy("doc_id")
      .agg(sum(col("tf")).as("s"), first(col("dl")).as("dl"),
        countDistinct(col("dl")).as("ndl"))
      .filter(col("s") =!= col("dl") || col("ndl") =!= 1L)
    assert(badDl.count() == 0L)
    // df on every row equals the number of docs carrying that token
    val badDf = idx.groupBy("token")
      .agg(count(lit(1)).as("n"), first(col("df")).as("df"),
        countDistinct(col("df")).as("ndf"))
      .filter(col("n") =!= col("df") || col("ndf") =!= 1L)
    assert(badDf.count() == 0L)
    idx.unpersist()
  }

  test("portable search: identical ranking to plain sum, ulp-close scores") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val idx = Bm25.bm25Index(docs, col("doc_id"), col("text"),
      weight = TermWeights.RationalIdf).persist()
    val qs = Seq((91L, "fast hash join"), (92L, "vector scan"))
      .toDF("qid", "qtext")
    val plain = Bm25.bm25Search(idx, qs, col("qid"), col("qtext"), k = 10)
      .as[(Long, Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    val portable = Bm25.bm25SearchPortable(idx, qs, col("qid"), col("qtext"),
      k = 10).as[(Long, Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    idx.unpersist()
    // the portable fold changes only ADDITION ORDER: same keys, same
    // n_matched, same rank, scores within accumulated-ulp distance
    assert(plain.keySet == portable.keySet)
    assert(plain.nonEmpty)
    plain.foreach { case (k, (n, s, r)) =>
      val (pn, ps, pr) = portable(k)
      assert(n == pn && r == pr, s"$k: ($n,$r) vs ($pn,$pr)")
      assert(math.abs(s - ps) <= math.ulp(s) * 8, s"$k: $s vs $ps")
    }
  }

  test("parameter contracts") {
    intercept[IllegalArgumentException] {
      Bm25.bm25Index(tiny, col("doc_id"), col("text"), k1 = -0.1)
    }
    intercept[IllegalArgumentException] {
      Bm25.bm25Index(tiny, col("doc_id"), col("text"), b = 1.5)
    }
    intercept[IllegalArgumentException] {
      Bm25.bm25Search(tiny.select(col("doc_id"), col("text")), tiny,
        col("doc_id"), col("text"), k = 0)
    }
  }
}
