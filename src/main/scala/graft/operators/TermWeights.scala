package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Per-document characteristic terms by TF-IDF — the "what is this
  * document about" primitive behind corpus exploration, topic-balanced
  * sampling and keyword-conditioned filtering in a training-data
  * pipeline.
  *
  * Weight function: `tf * (N + 1) / (df + 1)` — the tf-idf SHAPE with a
  * rational rarity weight instead of `log((N+1)/(df+1))`. Deliberate:
  * the product `tf * (N+1)` is exact long arithmetic and the single
  * IEEE division by `(df+1)` rounds identically in every engine, so the
  * scores (and the top-k cut they induce) are bit-reproducible and
  * DuckDB-oracle-checkable. A log weight is monotone in the same ratio
  * but `tf * log(ratio)` orders pairs differently than `tf * ratio` —
  * callers who want the classic damping pass `weight = LogIdf` and
  * accept engine-specific ulp differences (rows-only checkable).
  *
  * Scale shape (100 TB): ONE explode pass over the text; `tf` is the
  * (doc, token) aggregate of it; `df` is then derived from `tf` (count
  * of rows per token — already deduplicated), NOT from a second explode
  * of the corpus. `tf` fans out two ways (the score join and the df
  * aggregate), so it is cached ([[Pin.cache]]) — lineage-sharing alone
  * does not help here because Catalyst prunes the count from the df
  * branch's copy of the aggregate, making the two exchange subtrees
  * non-identical and hence non-reusable (observed: two full
  * explode+agg passes without the cache). The df aggregate keeps
  * map-side partial combine (no hot-token skew: a token's rows
  * collapse before the shuffle), and the vocabulary-sized result
  * broadcasts (`broadcastVocab = true`, right up to ~100M-token
  * vocabularies at a few bytes per token); set it false to fall back
  * to a shuffle join when the vocabulary genuinely outgrows executor
  * memory. The final top-k is a per-document window — documents are
  * the parallelism unit, so no single partition outgrows its task.
  */
object TermWeights {

  sealed trait IdfWeight
  /** Exact rational weight tf*(N+1)/(df+1): bit-reproducible. */
  case object RationalIdf extends IdfWeight
  /** Classic smoothed log idf tf*(ln((N+1)/(df+1))+1): engine-specific
    * at ulp level (libm vs Math.log), rows-only checkable. */
  case object LogIdf extends IdfWeight

  /** Output: (doc_id, token, tf, df, score, rank) — the `k` highest
    * scored tokens per document, ties broken by token ascending.
    */
  def tfidfTopTerms(df: DataFrame, id: Column, text: Column, k: Int,
                    weight: IdfWeight = RationalIdf,
                    broadcastVocab: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tok = df.select(id.as("doc_id"),
      explode(TextFunctions.tokens(text)).as("token"))
    val tf = Pin.cache(tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    // df from the reduced tf table: one row per (doc, token) already
    val dfreq = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val vocab = if (broadcastVocab) broadcast(dfreq) else dfreq
    val n = df.agg(count(lit(1)).as("__n_docs"))
    val score = weight match {
      case RationalIdf =>
        (col("tf") * (col("__n_docs") + lit(1L))).cast("double") /
          (col("df") + lit(1L))
      case LogIdf =>
        col("tf").cast("double") *
          (log((col("__n_docs") + lit(1L)).cast("double") /
            (col("df") + lit(1L))) + lit(1.0))
    }
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(vocab, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("score"), col("rank"))
  }
}
