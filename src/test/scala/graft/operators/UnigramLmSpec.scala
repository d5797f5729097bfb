package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class UnigramLmSpec extends SparkTestBase {

  // corpus: a:2, b:2, c:1 → N = 5
  private def docs = {
    import graft.TestSpark.spark.implicits._
    Seq((1L, "a a b"), (2L, "b c")).toDF("id", "text")
  }

  test("docUnigramStats: exact integer columns on a hand-checked fixture") {
    val out = UnigramLm.docUnigramStats(docs, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) == 3L) // n_tokens
    assert(r1.getLong(2) == 6L) // sum_freq = 2·cf(a)=4 + 1·cf(b)=2
    assert(r1.getLong(3) == 2L) // min_freq: both a and b occur twice
    assert(r1.getDouble(4) == 2.0) // mean_freq = 6/3
    val r2 = out(2L)
    assert(r2.getLong(1) == 2L)
    assert(r2.getLong(2) == 3L) // cf(b)=2 + cf(c)=1
    assert(r2.getLong(3) == 1L) // c is a hapax
    assert(r2.getDouble(4) == 1.5)
  }

  test("docUnigramStats: logprob is the mean token log-probability") {
    val out = UnigramLm.docUnigramStats(docs, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    // doc 1: (2·ln2 + 1·ln2)/3 − ln5 = ln(2/5)
    assert(math.abs(out(1L) - math.log(0.4)) < 1e-12, s"got ${out(1L)}")
    // doc 2: (ln2 + ln1)/2 − ln5
    assert(math.abs(out(2L) - (math.log(2.0) / 2 - math.log(5.0))) < 1e-12)
    // gibberish scores strictly below fluent text in a larger corpus
    import graft.TestSpark.spark.implicits._
    val corpus = ((1L to 20L).map(i => (i, "the cat sat on the mat")) :+
      (99L, "zxqv wkjh pmtr")).toDF("id", "text")
    val lp = UnigramLm.docUnigramStats(corpus, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(lp(99L) < lp(1L))
  }

  test("docUnigramStats: empty text follows string_split semantics " +
    "(one empty token) rather than dropping the doc") {
    import graft.TestSpark.spark.implicits._
    val d = Seq((1L, ""), (2L, "a a")).toDF("id", "text")
    val out = UnigramLm.docUnigramStats(d, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // split("", " ") = [""] in Spark AND DuckDB — the doc scores against
    // the "" pseudo-token (cf=1) instead of vanishing from the output
    assert(out.contains(1L) && out(1L).getLong(1) == 1L)
    assert(out(1L).getLong(3) == 1L) // min_freq: "" is a hapax
  }

  test("docUnigramStats: broadcast and shuffle vocab joins agree") {
    def run(b: Boolean) =
      UnigramLm.docUnigramStats(docs, col("id"), col("text"),
        broadcastVocab = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
    assert(run(true) == run(false))
  }

  // ---- interpolated bigram LM -------------------------------------------

  test("docBigramStats: exact integer columns on a hand-checked fixture") {
    // doc1 "a a b" → bigrams {"a a","a b"}; doc2 "b c" → {"b c"}
    // cf2 all 1; left(a)=2, left(b)=1; right(a)=1, right(b)=1, right(c)=1
    val out = UnigramLm.docBigramStats(docs, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) == 2L) // n_bigrams
    assert(r1.getLong(2) == 2L) // sum_freq: both bigrams are hapax
    assert(r1.getLong(3) == 1L)
    assert(r1.getDouble(4) == 1.0)
    val r2 = out(2L)
    assert(r2.getLong(1) == 1L)
    assert(r2.getLong(2) == 1L)
  }

  test("docBigramStats: logprob is the mean interpolated conditional " +
    "log-probability") {
    val lambda = 0.75
    val out = UnigramLm.docBigramStats(docs, col("id"), col("text"),
        lambda = lambda)
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    // N2 = 3. doc1: p(a|a) = λ·1/2 + (1−λ)·right(a)/3 = 0.375 + 1/12
    //          p(b|a) = λ·1/2 + (1−λ)·right(b)/3 = same value
    val p = lambda / 2.0 + (1 - lambda) / 3.0
    assert(math.abs(out(1L) - math.log(p)) < 1e-12, s"got ${out(1L)}")
    // doc2: p(c|b) = λ·1/1 + (1−λ)·right(c)/3
    val p2 = lambda + (1 - lambda) / 3.0
    assert(math.abs(out(2L) - math.log(p2)) < 1e-12)
  }

  test("docBigramStats: sub-2-token docs drop out; repeated boilerplate " +
    "bigrams score higher than novel text") {
    import graft.TestSpark.spark.implicits._
    val d = Seq((1L, "solo"), (2L, "a b")).toDF("id", "text")
    val out = UnigramLm.docBigramStats(d, col("id"), col("text")).collect()
    assert(out.length == 1 && out(0).getLong(0) == 2L)

    val corpus = ((1L to 20L).map(i => (i, "the cat sat on the mat")) :+
      (99L, "mat the on sat cat the")).toDF("id", "text")
    val lp = UnigramLm.docBigramStats(corpus, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    // reversed word order shares NO bigram with the template: the
    // conditional model separates it where unigram stats cannot
    assert(lp(99L) < lp(1L))
  }

  test("docBigramStats: broadcast and shuffle vocab joins agree") {
    def run(b: Boolean) =
      UnigramLm.docBigramStats(docs, col("id"), col("text"),
        broadcastVocab = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
    assert(run(true) == run(false))
  }
}
