package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust time-series anomaly detection over event counts — the
  * monitor a pipeline that ingests per-date batches (the reference's
  * daily cadence) runs to catch a broken day BEFORE it poisons the
  * store: bucket events per group, then flag buckets whose volume
  * deviates from that group's typical volume by more than `thresh`
  * robust deviations.
  *
  * Median/MAD, not mean/stddev, on purpose: one broken day IS the
  * outlier the statistic must not absorb — a mean-based z-score drags
  * the center toward the anomaly (masking) and inflates the spread
  * (swamping); the median and the median-absolute-deviation have a
  * 50 % breakdown point, so half the series can be garbage and the
  * gate still fires. The flag rule is the exact comparison
  * `|cnt − med| > thresh · mad` — counts are integers, medians of
  * integers are exact halves, so the whole decision is
  * engine-portable arithmetic (no division, no libm).
  *
  * Scale shape: the raw frame collapses to the `(group, bucket)`
  * count series in ONE map-side-combining aggregation — everything
  * after runs on `groups × buckets` rows (hours-per-year-sized, not
  * event-sized). The exact per-group percentile buffers one group's
  * BUCKET COUNTS (bounded by the calendar, never by data volume), and
  * the per-group stats frame broadcasts back onto the series.
  */
object Anomaly {

  /** The raw-rows → `(group, bucket, cnt)` collapse both detectors
    * share: one map-side-combining aggregation.
    *
    * Blind spot, by construction: a bucket with ZERO events produces
    * NO row, so a complete outage is invisible to the detectors (no
    * row, no flag) and the median/MAD are computed over OBSERVED
    * buckets only — biased for sparse groups. Counting can't know
    * which buckets were EXPECTED; when you can enumerate them (hourly
    * calendar between load bounds), use [[denseCountSeries]], which
    * fills the gaps with cnt=0 so an outage becomes the loudest row
    * in its group instead of a missing one.
    */
  def countSeries(df: DataFrame, group: Column, bucket: Column): DataFrame =
    df.groupBy(group.as("group"), bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** [[countSeries]] densified against an expected bucket `calendar`
    * (a one-column `bucket` frame — e.g. every hour between the load's
    * bounds): every (observed group) × (expected bucket) pair gets a
    * row, absent ones with cnt = 0, so outages surface as zero-count
    * anomalies instead of silently missing rows. Observed buckets
    * OUTSIDE the calendar are kept too (a densification must never
    * hide data the sparse series would have shown).
    *
    * Scale shape: the dense frame is groups × calendar rows —
    * calendar-bounded metadata, never event-scaled; the calendar
    * broadcasts onto the distinct-group frame.
    *
    * A NULL group is NOT densified — it passes through exactly as the
    * sparse series shows it: the USING join below is not null-safe, so
    * a (null, bucket) dense row could never meet the series' null-group
    * rows and the full-outer would emit BOTH a fabricated cnt=0 row and
    * the real count for the same key, skewing that group's median/MAD.
    * Filtering null out of the distinct-group frame keeps the join
    * honest; a null group with an outage stays invisible, same as any
    * sparse series (group your unknowns under a sentinel before calling
    * if you need them calendar-checked).
    */
  def denseCountSeries(df: DataFrame, group: Column, bucket: Column,
                       calendar: DataFrame): DataFrame = {
    require(calendar.columns.sameElements(Array("bucket")),
      s"calendar must have exactly one column named 'bucket', got " +
        calendar.columns.mkString(","))
    val series = countSeries(df, group, bucket)
    series.select(col("group")).where(col("group").isNotNull).distinct()
      .crossJoin(broadcast(calendar))
      .join(series, Seq("group", "bucket"), "full_outer")
      .select(col("group"), col("bucket"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** Median/MAD annotation of an existing `(group, bucket, cnt)`
    * series (e.g. one served by a streaming count store): two exact
    * percentile rollups, stats broadcast back onto the series.
    */
  private def robustStats(series: DataFrame): DataFrame = {
    val med = series.groupBy("group")
      .agg(percentile(col("cnt"), lit(0.5)).as("med"))
    val withMed = series.join(broadcast(med), Seq("group"))
      .withColumn("adev", abs(col("cnt") - col("med")))
    val mad = withMed.groupBy("group")
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    withMed.join(broadcast(mad), Seq("group"))
  }

  /** Count-volume anomalies: one row per `(group, bucket)` with the
    * count, the group's median/MAD and the flag.
    */
  def robustCountAnomalies(df: DataFrame, group: Column, bucket: Column,
                           thresh: Double = 3.0): DataFrame =
    robustCountAnomaliesFromSeries(countSeries(df, group, bucket), thresh)

  /** [[robustCountAnomalies]] over a pre-aggregated
    * `(group, bucket, cnt)` series — the form a streaming count store
    * feeds ([[graft.streaming.SliceStore.Count]]'s view).
    */
  def robustCountAnomaliesFromSeries(series: DataFrame,
                                     thresh: Double = 3.0): DataFrame = {
    require(thresh > 0, "thresh must be positive")
    robustStats(series)
      .select(col("group"), col("bucket"), col("cnt"), col("med"),
        col("mad"), (col("adev") > lit(thresh) * col("mad")).as("is_anomaly"))
  }

  /** CUSUM drift detection — the LEVEL-SHIFT twin of
    * [[robustCountAnomalies]]: a point spike trips the MAD z-score,
    * but a sustained small shift (volume quietly up 30 % since
    * Tuesday) never deviates 3 MADs in any single bucket; the
    * cumulative sum of deviations catches exactly that. Classic
    * one-sided CUSUM in MAD units: per bucket (ordered within group),
    *
    *   `s⁺_t = max(0, s⁺_{t−1} + (cnt_t − med) − slack·mad)`
    *
    * (mirrored for s⁻), drift flagged when either side exceeds
    * `h·mad`. The recursion is computed CLOSED-FORM as
    * `S_t − min(0, min_{i≤t} S_i)` over the plain cumulative sum `S`
    * — two ordered-window passes, no iterative loop, and because
    * counts are integers and medians are exact halves the whole
    * computation is engine-portable arithmetic.
    *
    * Scale shape: identical to the z-score path (everything after the
    * first agg runs on the bucket series), plus two window passes
    * partitioned BY GROUP — each group's series sorts independently,
    * no global sort.
    */
  def cusumDrift(df: DataFrame, group: Column, bucket: Column,
                 slack: Double = 0.5, h: Double = 5.0): DataFrame =
    cusumDriftFromSeries(countSeries(df, group, bucket), slack, h)

  /** [[cusumDrift]] over a pre-aggregated `(group, bucket, cnt)`
    * series — the streaming-store form.
    */
  def cusumDriftFromSeries(series: DataFrame,
                           slack: Double = 0.5, h: Double = 5.0): DataFrame = {
    require(slack >= 0, "slack must be >= 0")
    require(h > 0, "h must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("group")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    robustStats(series)
      .withColumn("__dp",
        col("cnt") - col("med") - lit(slack) * col("mad"))
      .withColumn("__dn",
        (col("med") - col("cnt")) - lit(slack) * col("mad"))
      .withColumn("__sp", sum(col("__dp")).over(w))
      .withColumn("__sn", sum(col("__dn")).over(w))
      .withColumn("cusum_pos",
        col("__sp") - least(lit(0.0), min(col("__sp")).over(w)))
      .withColumn("cusum_neg",
        col("__sn") - least(lit(0.0), min(col("__sn")).over(w)))
      .select(col("group"), col("bucket"), col("cnt"),
        col("cusum_pos"), col("cusum_neg"),
        (col("cusum_pos") > lit(h) * col("mad") ||
          col("cusum_neg") > lit(h) * col("mad")).as("is_drift"))
  }
}
