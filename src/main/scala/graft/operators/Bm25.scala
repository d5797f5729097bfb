package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Okapi BM25 (Robertson et al., TREC-3) — the lexical-retrieval
  * counterpart to the embedding ANN operators: build a per-(doc, term)
  * weighted index from the corpus, then score short queries against it
  * by summing matched-term weights. In a training-data pipeline this is
  * the standard tool for keyword-conditioned corpus slicing and for the
  * lexical arm of hybrid (BM25 + dense) retrieval.
  *
  * Weight function: `idf(df) * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`.
  * Like [[TermWeights]], the idf comes in two flavours with the same
  * trade: [[TermWeights.LogIdf]] is the classic Lucene-shaped
  * `ln(1 + (N − df + 0.5)/(df + 0.5))` (always positive, engine-specific
  * at ulp level because libm `log` differs — rows-only checkable), and
  * [[TermWeights.RationalIdf]] drops the log: `(N − df + 0.5)/(df + 0.5)`.
  * The rational form is monotone in the same ratio, and since every
  * remaining operation is IEEE `+ * /` over exact-long inputs applied in
  * a fixed order, its scores are bit-identical in any IEEE engine —
  * which is what lets `bm25_index` answer a DuckDB hash oracle. The
  * saturation term (BM25's actual innovation over tf-idf) is identical
  * in both flavours.
  *
  * Scale shape (100 TB): ONE explode pass over the text; `tf` is its
  * (doc, token) aggregate, and `dl` (doc length) and `df` both derive
  * from the already-reduced `tf` table — never a second pass over the
  * corpus. `tf` fans out three ways (score rows, dl, df), so it is
  * cached (same Catalyst non-reuse rationale as
  * [[TermWeights.tfidfTopTerms]]). The df/avgdl aggregates
  * keep map-side partial combine; the vocabulary-sized df table
  * broadcasts back (`broadcastVocab`), and the two corpus scalars
  * (N, avgdl) ride a broadcast 1-row cross join. Search-side, the query
  * term list is tiny by construction and broadcasts against the
  * token-keyed index — the index (the big side) never reshuffles per
  * query batch; per-(query, doc) summation is one partial-aggregated
  * groupBy and the top-k cut a per-query window.
  */
object Bm25 {

  /** Per-(doc, term) BM25 index rows:
    * `(doc_id, token, tf, dl, df, score)`.
    */
  def bm25Index(df: DataFrame, id: Column, text: Column,
                k1: Double = 1.2, b: Double = 0.75,
                weight: TermWeights.IdfWeight = TermWeights.LogIdf,
                broadcastVocab: Boolean = true): DataFrame = {
    require(k1 >= 0.0, s"k1 must be >= 0, got $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0, 1], got $b")
    val tok = df.select(id.as("doc_id"),
      explode(TextFunctions.tokens(text)).as("token"))
    val tf = Pin.cache(tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val vocab = if (broadcastVocab) broadcast(dfreq) else dfreq
    // both corpus scalars in ONE 1-row broadcast: doc count from the
    // corpus (not dl — a tokenless doc must still count toward N) and
    // avgdl as the single shared division of two exact longs
    val stats = df.agg(count(lit(1)).as("__n_docs"))
      .crossJoin(dl.agg(sum(col("dl")).as("__total_dl")))
      .select(col("__n_docs"),
        (col("__total_dl").cast("double") / col("__n_docs").cast("double"))
          .as("__avgdl"))
    // fixed operation order, mirrored token-for-token by the DuckDB
    // oracle: every subexpression is either exact long arithmetic or an
    // IEEE double op on identical inputs
    val idf = weight match {
      case TermWeights.RationalIdf =>
        ((col("__n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))
      case TermWeights.LogIdf =>
        log(lit(1.0) +
          ((col("__n_docs") - col("df")).cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)))
    }
    val num = col("tf").cast("double") * (lit(k1) + lit(1.0))
    val den = col("tf").cast("double") +
      lit(k1) * ((lit(1.0) - lit(b)) +
        (lit(b) * col("dl").cast("double")) / col("__avgdl"))
    tf.join(vocab, "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"), col("tf"), col("dl"), col("df"),
        (idf * (num / den)).as("score"))
  }

  /** Top-`k` documents per query by summed matched-term BM25 weight.
    * Input `queries(qid, qtext)`; output
    * `(query_id, doc_id, n_matched, bm25, rank)` — queries with no
    * matching term return no rows (lexical retrieval has nothing to
    * rank), ties break on doc_id ascending. Repeated query terms count
    * once (bag-of-words query, the standard BM25 form).
    */
  def bm25Search(index: DataFrame, queries: DataFrame,
                 qid: Column, qtext: Column, k: Int): DataFrame =
    searchImpl(index, queries, qid, qtext, k, portableSum = false)

  /** [[bm25Search]] with a PORTABLE per-(query, doc) summation: matched
    * term scores are sorted ascending and left-folded, so the double
    * additions happen in one fixed order in ANY engine — `sum(double)`
    * is order-dependent at ulp level and Spark's partial aggregation
    * order is nondeterministic, which is the one thing that keeps the
    * plain form from hash-matching a DuckDB oracle even over the
    * RationalIdf index. The collect_list per group is bounded by the
    * query's term count (tiny by construction), so the scale shape is
    * unchanged: the index side still never reshuffles per query batch.
    * Production stays on [[bm25Search]] (partial-agg `sum` — cheaper
    * and the ulp order noise is irrelevant to retrieval); this form is
    * the oracle anchor, same division of labour as RationalIdf vs
    * LogIdf.
    */
  def bm25SearchPortable(index: DataFrame, queries: DataFrame,
                         qid: Column, qtext: Column, k: Int): DataFrame =
    searchImpl(index, queries, qid, qtext, k, portableSum = true)

  private def searchImpl(index: DataFrame, queries: DataFrame,
                         qid: Column, qtext: Column, k: Int,
                         portableSum: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qterms = queries
      .select(qid.as("query_id"),
        explode(TextFunctions.tokens(qtext)).as("token"))
      .distinct()
    // project the index to the three columns the scorer reads BEFORE the
    // fan-out join (guide §2.3): the per-(doc, term) stream the join
    // multiplies by the query count would otherwise carry tf/dl/df
    // through the join, the aggregate and its exchange for nothing
    val matched = index.select(col("token"), col("doc_id"), col("score"))
      .join(broadcast(qterms), "token")
    val scoreSum =
      if (portableSum)
        // codegen kernel (sort + left fold in one compiled loop),
        // bit-identical to aggregate(sort_array(collect_list), 0.0,
        // acc + x) — see Kernels.sortedSum: the interpreted HOF fold
        // here ran once per (query, doc) group and was the full
        // spread's worst 10× row (hybrid_rrf 66 s)
        graft.functions.Kernels.sortedSumCol(collect_list(col("score")))
      else sum(col("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
    matched.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matched"), scoreSum.as("bm25"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("n_matched"),
        col("bm25"), col("rank"))
  }
}
