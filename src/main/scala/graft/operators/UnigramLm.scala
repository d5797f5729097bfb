package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Self-supervised unigram language-model scoring — the cheapest member
  * of the model-based quality-filter family (CCNet/Gopher use a KenLM
  * 5-gram; the unigram form needs no external model because the corpus
  * IS the model): estimate p(w) = cf(w) / N from corpus token counts,
  * then score every document by its mean token log-probability. Low
  * scores flag gibberish / OCR noise / wrong-tokenization docs whose
  * tokens are rare corpus-wide; suspiciously high scores flag
  * stopword-soup boilerplate. The exact integer companions (`min_freq`,
  * `mean_freq`) are the rare-token signals used for threshold filters.
  *
  * Output: (doc_id, n_tokens, sum_freq, min_freq, mean_freq, logprob)
  *   n_tokens  — doc token count (long, exact)
  *   sum_freq  — Σ over doc tokens of corpus frequency cf(w) (long, exact)
  *   min_freq  — rarest token's corpus frequency (long, exact)
  *   mean_freq — sum_freq / n_tokens, ONE shared IEEE division over
  *               exact longs → bit-portable, DuckDB-oracle-checkable
  *   logprob   — (Σ tf·ln cf)/n_tokens − ln N, the actual mean token
  *               log-prob. A SUM of doubles is order-dependent across
  *               engines (ulp level), so this column is spec-checked
  *               with tolerance, not oracle-hashed — the tfidf
  *               RationalIdf-vs-LogIdf split, same reasoning.
  *
  * Scale shape (100 TB): ONE explode pass; per-(doc, token) counts
  * first (`tf`), so every downstream join and aggregate runs on the
  * reduced frame, not the raw token stream. The vocabulary aggregate
  * derives from `tf` with map-side partial combine (hot tokens collapse
  * before the shuffle) and BROADCASTS back (vocabulary-sized, fine to
  * ~100M tokens; `broadcastVocab = false` falls back to a shuffle
  * join). `tf` fans out two ways (vocab aggregate + score join), so it
  * is cached — the TermWeights lineage-sharing argument. The corpus
  * total N is a 1-row aggregate attached by broadcast. Per-doc
  * aggregation is an equi-shuffle on doc_id — documents are the
  * parallelism unit.
  */
object UnigramLm {

  def docUnigramStats(df: DataFrame, id: Column, text: Column,
                      broadcastVocab: Boolean = true): DataFrame = {
    val tok = df.select(id.as("doc_id"),
      explode(TextFunctions.tokens(text)).as("token"))
    val tf = Pin.cache(tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val cfAgg = tf.groupBy(col("token")).agg(sum(col("tf")).as("cf"))
    val vocab = if (broadcastVocab) broadcast(cfAgg) else cfAgg
    val totals = tf.agg(sum(col("tf")).as("__n_total"))
    tf.join(vocab, "token")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("cf")).as("sum_freq"),
        min(col("cf")).as("min_freq"),
        sum(col("tf").cast("double") * log(col("cf").cast("double")))
          .as("__sum_log_cf"))
      .crossJoin(broadcast(totals))
      .withColumn("mean_freq",
        col("sum_freq").cast("double") / col("n_tokens").cast("double"))
      .withColumn("logprob",
        col("__sum_log_cf") / col("n_tokens").cast("double") -
          log(col("__n_total").cast("double")))
      .select(col("doc_id"), col("n_tokens"), col("sum_freq"),
        col("min_freq"), col("mean_freq"), col("logprob"))
  }

  /** Interpolated BIGRAM language-model scoring — one order up from
    * [[docUnigramStats]], the closest Spark-shaped stand-in for the
    * CCNet/Gopher KenLM perplexity filter: score each document by its
    * mean conditional log-probability under
    *
    *   p(w2|w1) = λ · cf2(w1 w2)/left(w1) + (1−λ) · right(w2)/N2
    *
    * where cf2 is the corpus bigram count and BOTH marginals derive from
    * the SAME bigram table — `left(w1) = Σ_w cf2(w1 w)` (context count:
    * positions where w1 has a successor) and `right(w2) = Σ_w cf2(w w2)`
    * (continuation mass), with `N2 = Σ cf2`. Deriving the marginals from
    * cf2 instead of a separate token count removes the second corpus
    * pass AND makes the conditional exact: left(w1) is precisely the
    * denominator positions cf2 is counted over, so Σ_w2 p(w2|w1) = 1.
    * Interpolation (λ < 1) keeps unseen-in-context bigrams finite — the
    * continuation term is the Jelinek-Mercer backoff.
    *
    * Output: (doc_id, n_bigrams, sum_freq, min_freq, mean_freq, logprob)
    * with the same oracle contract as [[docUnigramStats]]: the integer
    * columns and the single-division mean are exact/hash-portable; the
    * logprob is a libm+double-sum and is spec-checked with tolerance.
    * Documents with fewer than 2 tokens have no bigrams and drop out
    * (the inner-join semantics a caller left-joins back if needed).
    *
    * Scale shape (100 TB): ONE explode pass over per-row generated
    * bigrams; per-(doc, gram) counts first so all downstream work runs
    * on the reduced frame; the bigram vocabulary aggregates with
    * map-side partials, its two marginals are vocab-sized groupBys of
    * the vocab table itself (corpus never re-scanned), and the scored
    * join broadcasts the vocabulary back (`broadcastVocab = false` for
    * a shuffle join when the bigram vocab outgrows broadcast). `tf`
    * fans out (vocab + score join) and is cached.
    */
  def docBigramStats(df: DataFrame, id: Column, text: Column,
                     lambda: Double = 0.75,
                     broadcastVocab: Boolean = true): DataFrame = {
    require(lambda > 0.0 && lambda <= 1.0, s"lambda must be in (0,1]: $lambda")
    val grams = df.select(id.as("doc_id"),
      explode(TextFunctions.wordShingles(text, 2)).as("gram"))
    val tf = Pin.cache(grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("tf")))
    val cf2 = tf.groupBy(col("gram")).agg(sum(col("tf")).as("cf2"))
      .withColumn("__w1", substring_index(col("gram"), " ", 1))
      .withColumn("__w2", substring_index(col("gram"), " ", -1))
    // both marginals are groupBys of the VOCAB-SIZED cf2 table; cache
    // it across its 3-way fan-out (left, right, score join)
    val cf2P = Pin.cache(cf2)
    val leftM = cf2P.groupBy(col("__w1")).agg(sum(col("cf2")).as("left_n"))
    val rightM = cf2P.groupBy(col("__w2")).agg(sum(col("cf2")).as("right_n"))
    val vocabAll = cf2P
      .join(leftM, "__w1")
      .join(rightM, "__w2")
      .select(col("gram"), col("cf2"), col("left_n"), col("right_n"))
    val vocab = if (broadcastVocab) broadcast(vocabAll) else vocabAll
    val totals = cf2P.agg(sum(col("cf2")).as("__n2"))
    tf.join(vocab, "gram")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("cf2")).as("sum_freq"),
        min(col("cf2")).as("min_freq"),
        sum(col("tf").cast("double") *
            log(lit(lambda) * col("cf2").cast("double") /
                  col("left_n").cast("double") +
                lit(1.0 - lambda) * col("right_n").cast("double") /
                  col("__n2").cast("double")))
          .as("__sum_log_p"))
      .withColumn("mean_freq",
        col("sum_freq").cast("double") / col("n_bigrams").cast("double"))
      .withColumn("logprob",
        col("__sum_log_p") / col("n_bigrams").cast("double"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_freq"),
        col("min_freq"), col("mean_freq"), col("logprob"))
  }
}
