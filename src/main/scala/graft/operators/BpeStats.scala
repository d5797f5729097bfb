package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Kernels

/** Corpus statistics for tokenizer training — the distributed half of a
  * BPE build. One BPE iteration is "count every adjacent symbol pair,
  * merge the most frequent"; the count is the data-scale part (one pass
  * over 100 TB of text) while the merge-table update is O(vocab) on the
  * driver. This operator computes that count: adjacent whitespace-token
  * pairs ranked by frequency. Iterating an actual BPE training loop is
  * a driver-side loop that re-invokes this with the previous winner
  * merged — each iteration one Spark job, state = the merge list
  * (kilobytes), which is exactly how distributed tokenizer trainers
  * split the work.
  *
  * Scale shape: explode the zipped (tokens[i], tokens[i+1]) stream —
  * codegen generator, no shuffle — into ONE hash aggregation on the
  * pair key. Partial (map-side) aggregation collapses each task's
  * stream to its local distinct pairs before the exchange, so the
  * shuffle carries ~|local vocab²∩seen| rows per task, not one row per
  * corpus token. The top-k is a TakeOrderedAndProject (per-partition
  * heap + driver merge of k rows), never a global sort.
  */
object BpeStats {

  /** Top-`k` adjacent token pairs: (a, b, cnt), ordered cnt desc with
    * (a, b) as the total-order tie-break so the cut at rank k is
    * deterministic on any partitioning. Tokens are single-space splits
    * (TextFunctions.tokens semantics — empties kept, matching
    * `string_split`); documents with fewer than two tokens contribute
    * nothing.
    */
  def pairCounts(docs: DataFrame, text: Column, k: Int): DataFrame =
    pairCountsTokens(docs, split(text, " "), k)

  /** [[pairCounts]] over an already-tokenized column — the form the
    * training loop iterates (merged symbols must stay distinct tokens;
    * re-joining to text would conflate a merged pair with an identical
    * pre-existing token).
    */
  def pairCountsTokens(docs: DataFrame, tokens: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    docs.select(tokens.as("__t"))
      .where(size(col("__t")) >= 2)
      .select(explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(k)
  }

  /** One greedy left-to-right merge of (a, b) in a token-array column —
    * a per-row codegen kernel ([[Kernels.mergeTokens]]), zero shuffle.
    */
  def applyMerge(tokens: Column, a: String, b: String,
                 sep: String = ""): Column =
    Kernels.mergeTokensCol(tokens, a, b, sep)

  /** ENCODE with a trained merge table: apply every merge, in learned
    * order, via the single-call kernel
    * ([[graft.functions.Kernels.mergeTokensAll]]) — greedy left-to-right
    * per merge, identical semantics to folding [[applyMerge]], but ONE
    * plan node regardless of table size. Folding instead would nest one
    * expression per merge: a production 30k-merge vocabulary would be a
    * 30k-deep expression tree (codegen gives up, analysis crawls — the
    * trainMerges lineage lesson on the encode side). Zero shuffle;
    * output is (id, `tokens` array<string>, `n_tokens` after merging).
    */
  def encode(docs: DataFrame, id: Column, text: Column,
             merges: Seq[(String, String)], sep: String = ""): DataFrame = {
    val toks = Kernels.mergeTokensAllCol(split(text, " "), merges, sep)
    docs.select(id.as("doc_id"), toks.as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))
  }

  /** Full BPE training loop: `steps` iterations of count-top-pair /
    * merge-everywhere. Returns the learned merge list in order. The
    * driver state is the merge list (kilobytes) — each iteration is one
    * Spark job over the corpus, which is how a distributed tokenizer
    * trainer splits the work (the 100-TB part is counting; the argmax
    * is one row). The token column's lineage grows by one kernel per
    * step; `persistEvery` LINEAGE-TRUNCATES the frame every N steps via
    * an eager `localCheckpoint` (reliable `checkpoint` when the context
    * has a checkpoint dir — same discipline and same executor-loss
    * trade-off as [[Dedup.connectedComponents]]). A plain `persist`
    * here is NOT enough: persist bounds recompute, but every step's
    * `collect` re-ANALYZES the full merge-kernel chain and stringifies
    * it for the SQL-listener event, so a real 30k-merge vocab build
    * would degrade quadratically on the driver even with all data
    * cached. After truncation the plan is a leaf plus at most
    * `persistEvery` kernels, so per-step analysis cost is O(1) in the
    * number of completed merges.
    */
  def trainMerges(docs: DataFrame, text: Column, steps: Int,
                  sep: String = "", persistEvery: Int = 8): Seq[(String, String)] =
    trainMergesProbed(docs, text, steps, sep, persistEvery, _ => ())

  /** [[trainMerges]] with a per-step observation hook (called with the
    * CURRENT token frame after each merge) — exists so the lineage-
    * truncation contract is testable: a spec can assert the analyzed
    * plan's node count stays O(persistEvery) regardless of step count.
    * Not part of the training API surface.
    */
  private[graft] def trainMergesProbed(docs: DataFrame, text: Column,
      steps: Int, sep: String, persistEvery: Int,
      probe: DataFrame => Unit): Seq[(String, String)] = {
    require(steps >= 0, s"steps must be non-negative: $steps")
    require(persistEvery > 0, s"persistEvery must be positive: $persistEvery")
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // the scope frees the last anchor, also on the early return
    def train(): Unit = {
      var frame = docs.select(split(text, " ").as("__toks"))
      var anchored: Option[DataFrame] = None
      var step = 0
      while (step < steps) {
        val top = pairCountsTokens(frame, col("__toks"), k = 1).collect()
        if (top.isEmpty) return // corpus fully merged
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        frame = frame.select(applyMerge(col("__toks"), a, b, sep).as("__toks"))
        step += 1
        probe(frame)
        if (step % persistEvery == 0 && step < steps) {
          // eager truncation materializes the frame AND replaces its plan
          // with a leaf; the previous anchor's blocks are then safe to drop
          val p = Pin.eager(frame)
          anchored.foreach(Pin.free)
          anchored = Some(p)
          frame = p
        }
      }
    }
    Pin.scope(train())
    merges.toSeq
  }
}
