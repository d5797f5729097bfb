package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Fingerprint, Fnv64, LogParse, TextFunctions, Timestamps, VectorFunctions}
import graft.operators.{Dedup, Explodes, Flatten, Multimodal, Pin, Sampling, Similarity}
import graft.sources.Tables

import QueryHelpers._

/** Catalyst-surface core (TPC-H-ish agg/join/window), events, and reference-parity operators (SURVEY §2) — one registry slice of [[graft.SparkEntry.queries]]
  * (mechanical split; entries verbatim).
  */
private[graft] object QueriesCore {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- aggregation / join / window core (Catalyst surface) ----------
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("bigint").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")))).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty",
          col("sum_qty").cast("double") / col("count_order").cast("double"))
    }),
    "q3_top_revenue" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), ntz(col("o_orderdate")).as("o_orderdate"),
          col("revenue"))
    }),
    "q5_region_revenue" -> ((s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val l = t(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("revenue"))
    }),
    "q6_forecast_revenue" -> ((s, dir) => {
      // classic predicate-pushdown shape: all four filters reach the scan
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(dec6(col("l_extendedprice") * col("l_discount")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    }),
    "q_semi_join" -> ((s, dir) => {
      val heavy = t(s, dir, "lineitem").filter(col("l_quantity") >= 48)
      t(s, dir, "orders")
        .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"))
    }),
    "q_anti_join" -> ((s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
    }),
    "q_window_top3" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    }),
    "q_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
    }),
    "q_distinct_approx" -> ((s, dir) => {
      // HLL++ sketch twin of q_distinct_agg: constant memory per group
      // where exact countDistinct expands each group by its distinct
      // count. Rows-only (sketch estimates are engine-specific) — the
      // PLAIN sketch plan, so the benched number is the operator's real
      // production cost. Drift against the exact twin is enforced by the
      // separate q_distinct_approx_gate entry (the ann_topk /
      // ann_topk_recall pattern): r7's folded-in gate made this "approx"
      // query bench ~35% slower than its exact counterpart.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), rsd = 0.01).as("n_parts"),
          approx_count_distinct(col("l_suppkey"), rsd = 0.01).as("n_supps"),
          count(lit(1)).as("n_rows"))
    }),
    "heavy_hitters_gate" -> ((s, dir) => {
      // count-min heavy hitters: per-source CMS sketches (the built-in
      // count_min_sketch aggregate — mergeable, constant size, the
      // 100-TB path for "how often does term X occur per slice" without
      // a per-(source,term) shuffle) probed for the global top-10 terms
      // via the codegen count_min_estimate kernel. In-plan gates pin
      // the CMS contract against the exact counts: never-under is the
      // sketch's DETERMINISTIC guarantee; the over-count bound eps*N
      // holds per probe only with the confidence probability (0.99
      // here), so the gate allows 3x headroom — it exists to catch
      // implementation breakage (wrong hashing, wrong merge), not to
      // hard-assert a probabilistic tail on every future dataset.
      // Rows-only (the sketch layout is engine-specific) — the exact
      // side is covered by the vocabulary oracles.
      import graft.functions.Kernels
      // fans out 3 ways (exact counts, top terms, sketches)
      val toks = Pin.cache(t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0))
      val exact = toks.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("n_exact"))
      val top = toks.groupBy(col("term"))
        .agg(count(lit(1)).as("n_total"))
        .orderBy(col("n_total").desc, col("term").asc)
        .limit(10).select(col("term"))
      val sketches = toks.groupBy(col("source"))
        .agg(expr("count_min_sketch(term, 0.001d, 0.99d, 42)").as("cms"),
          count(lit(1)).as("n_tokens"))
      sketches.crossJoin(broadcast(top))
        .select(col("source"), col("term"), col("n_tokens"),
          Kernels.countMinEstimateCol(col("cms"), col("term")).as("n_est"))
        .join(exact, Seq("source", "term"), "left_outer")
        .withColumn("n_exact", coalesce(col("n_exact"), lit(0L)))
        .where(assert_true(col("n_est") >= col("n_exact"),
          lit("count-min under-count: impossible by construction")).isNull)
        .where(assert_true(
          col("n_est") <= col("n_exact") +
            lit(3L) * greatest(lit(1L),
              ceil(col("n_tokens") * lit(0.001)).cast("long")),
          concat(lit("count-min over-count far beyond eps*N: "),
            col("n_est") - col("n_exact"))).isNull)
        .select(col("source"), col("term"), col("n_exact"), col("n_est"))
    }),
    "q_distinct_approx_gate" -> ((s, dir) => {
      // Drift gate for q_distinct_approx: the exact twin rides a
      // SEPARATE aggregate, broadcast-joined on the 3-row group key, and
      // assert_true throws on >5% relative drift (PlanAuditSpec's
      // tolerance) — sketch quality is a hard gate at every harness run,
      // priced apart from the plain sketch query. Separate aggs on
      // purpose: mixing countDistinct with the HLL aggregate in ONE agg
      // triggers Catalyst's multi-distinct Expand rewrite, which
      // replicates every input row per distinct column and made the
      // sketch pass 4x slower than the two passes combined (measured
      // 6.6 s vs 0.8 + 1.5 at sf0.1).
      val approx = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), rsd = 0.01).as("n_parts"),
          approx_count_distinct(col("l_suppkey"), rsd = 0.01).as("n_supps"))
      val exact = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("__x_parts"),
          countDistinct(col("l_suppkey")).as("__x_supps"))
      approx.join(broadcast(exact), Seq("l_returnflag"))
        .where(assert_true(
          abs(col("n_parts") - col("__x_parts")) <= col("__x_parts") * 0.05 &&
          abs(col("n_supps") - col("__x_supps")) <= col("__x_supps") * 0.05,
          concat(lit("approx_count_distinct drifted >5% from exact for "),
            col("l_returnflag"))).isNull)
        .select(col("l_returnflag"), col("n_parts"), col("__x_parts"),
          col("n_supps"), col("__x_supps"))
    }),
    "hll_distinct_by_source" -> ((s, dir) => {
      // mergeable-sketch distinct tokens per source (DataSketches HLL):
      // the PLAIN production plan — one map-side-combining aggregate,
      // constant 2^12-byte registers per group crossing the wire where
      // countDistinct would shuffle every distinct token. Rows-only
      // (sketch estimates are engine-specific); quality + the merge
      // algebra are enforced by hll_merge_identity_gate, priced apart
      // (the q_distinct_approx / _gate convention).
      import graft.operators.Cardinality
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      Cardinality.distinctEstimate(toks, col("source"), col("token"))
        .select(col("group").as("source"), col("n_distinct"))
    }),
    "hll_merge_identity_gate" -> ((s, dir) => {
      // the property that makes the sketch store MAINTAINABLE, gated
      // in-plan: per-slice sketches (slice = lang, standing in for
      // ingest batches) union to EXACTLY the one-shot sketch of the
      // union — register-max union of a partition of the data, the
      // same argument as the zone-map merge identity — and the
      // estimate tracks exact countDistinct within 3 sigma
      // (1.04/sqrt(2^12) ~ 1.6% per side; breakage detector, not a
      // probabilistic-tail assertion — the heavy_hitters_gate
      // convention). Rows-only: estimates are engine hashes.
      import graft.operators.Cardinality
      val toks = t(s, dir, "documents")
        .select(col("source"), col("lang"),
          explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val merged = Cardinality.mergeSliceSketches(
          Cardinality.sliceSketches(toks, col("lang"), col("source"),
            col("token")))
        .drop("sketch")
      val oneShot = Cardinality.distinctEstimate(toks, col("source"),
          col("token"))
        .withColumnRenamed("n_distinct", "__one_shot")
      val exact = toks.groupBy(col("source").as("group"))
        .agg(countDistinct(col("token")).as("__exact"))
      merged.join(broadcast(oneShot), Seq("group"))
        .join(broadcast(exact), Seq("group"))
        .where(assert_true(col("n_distinct") === col("__one_shot"),
          concat(lit("HLL merge identity violated for "),
            col("group"))).isNull)
        .where(assert_true(
          abs(col("n_distinct") - col("__exact")) <=
            greatest(lit(1L), ceil(col("__exact") * 0.05).cast("long")),
          concat(lit("HLL estimate drifted >5% from exact for "),
            col("group"))).isNull)
        .select(col("group").as("source"), col("n_distinct"),
          col("__one_shot").as("n_one_shot"), col("__exact").as("n_exact"),
          col("n_rows"), col("n_slices"))
    }),
    "vocabulary_topk" -> ((s, dir) => {
      // approx_top_k heavy hitters over the token stream: one mergeable
      // sketch instead of vocabulary's full groupBy+filter — the shape
      // for "top 1000 tokens of a 100-TB corpus" where the full
      // vocabulary agg would shuffle billions of (token, count) groups.
      // Oracle-checkable: the sketch is EXACT whenever the vocabulary
      // fits maxItemsTracked (space-saving sketches admit no evictions
      // below capacity), so asking it for more than k and re-ranking
      // with a deterministic tie-break (count DESC, token ASC — mirrored
      // in the DuckDB oracle's ORDER BY) yields the exact top-k
      // including boundary ties. Above capacity the same plan degrades
      // gracefully to approximate heavy hitters.
      // The exactness precondition is ASSERTED in-query: an HLL distinct
      // estimate of the vocabulary rides the same single-pass agg, and
      // the query throws if it approaches maxItemsTracked (8000 guard
      // band covers the ~5% HLL rsd) — so a saturated sketch fails
      // loudly instead of going silently approximate and red at the
      // oracle (r7 advice).
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .agg(expr("approx_top_k(token, 100, 10000)").as("top"),
          approx_count_distinct(col("token")).as("__n_vocab"))
        .where(assert_true(col("__n_vocab") <= 8000,
          concat(lit("vocabulary_topk sketch near saturation: ~"),
            col("__n_vocab"),
            lit(" distinct tokens vs maxItemsTracked=10000 — exactness "
              + "precondition broken; raise maxItemsTracked or accept "
              + "approximate heavy hitters"))).isNull)
        .select(explode(col("top")).as("e"))
        .select(col("e.item").as("token"), col("e.count").as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("token").asc)
        .limit(10)
    }),
    "q_intersect_custs" -> ((s, dir) => {
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("custkey")))
    }),
    "q_percentiles" -> ((s, dir) => {
      // exact interpolated percentiles (same definition as quantile_cont)
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5)").as("median_price"),
          expr("percentile(l_extendedprice, 0.95)").as("p95_price"),
          expr("percentile(l_quantity, 0.5)").as("median_qty"))
    }),
    "q_percentiles_approx" -> ((s, dir) => {
      // The scale path: approx_percentile (KLL-style mergeable sketch,
      // bounded memory per group) where exact `percentile` buffers every
      // value of a group on one executor — OOM territory for a hot group
      // at 100x (SCALE.md). Rows-only entry (the sketch is
      // engine-specific, so there is no DuckDB-bitexact oracle) — the
      // PLAIN sketch plan, so the benched number is the operator's real
      // production cost (r7's folded-in exact twin made the "approx"
      // query bench 5x slower than it runs in production). Drift is
      // enforced by the separate q_percentiles_approx_gate entry.
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("median_price"),
          expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("p95_price"),
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("median_qty"))
    }),
    "q_percentiles_approx_gate" -> ((s, dir) => {
      // Drift gate for q_percentiles_approx: exact percentiles ride the
      // same agg and assert_true throws on >2% relative drift
      // (PlanAuditSpec's tolerance) at every harness run — sketch
      // quality stays a hard gate, priced apart from the plain query
      // (the ann_topk / ann_topk_recall pattern).
      def ok(a: String, e: String) =
        abs(col(a) - col(e)) <= abs(col(e)) * 0.02
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("median_price"),
          expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("p95_price"),
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("median_qty"),
          expr("percentile(l_extendedprice, 0.5)").as("__x_median_price"),
          expr("percentile(l_extendedprice, 0.95)").as("__x_p95_price"),
          expr("percentile(l_quantity, 0.5)").as("__x_median_qty"))
        .where(assert_true(
          ok("median_price", "__x_median_price") &&
          ok("p95_price", "__x_p95_price") &&
          ok("median_qty", "__x_median_qty"),
          concat(lit("approx_percentile drifted >2% from exact for "),
            col("l_returnflag"))).isNull)
        .select(col("l_returnflag"), col("median_price"),
          col("__x_median_price"), col("p95_price"), col("__x_p95_price"),
          col("median_qty"), col("__x_median_qty"))
    }),
    "q_sql_correlated" -> ((s, dir) => {
      // SQL frontend + correlated scalar subquery (Catalyst decorrelates
      // it into an aggregate + outer join)
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql("""SELECT c_custkey, c_mktsegment,
              |  (SELECT COUNT(*) FROM orders_v o
              |    WHERE o.o_custkey = c.c_custkey) AS n_orders,
              |  (SELECT CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
              |    FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS total_spend
              |FROM customer_v c""".stripMargin)
    }),
    "q_running_total" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // cumulative window frame with exact decimal accumulation
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        ntz(col("o_orderdate")).as("o_orderdate"),
        sum(dec2(col("o_totalprice"))).over(w).cast("double")
          .as("running_spend"))
    }),
    "q_moving_spend" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // RANGE frame (value-based, peers included) vs q_running_total's
      // ROWS frame: 30-day trailing spend per customer
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("epoch_s"))
        .rangeBetween(-30L * 86400, 0)
      t(s, dir, "orders")
        .withColumn("epoch_s", col("o_orderdate").cast("timestamp").cast("long"))
        .select(col("o_custkey"), col("o_orderkey"),
          ntz(col("o_orderdate")).as("o_orderdate"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double")
            .as("trailing_30d_spend"))
    }),
    "q_pivot_events" -> ((s, dir) => {
      // per-user event-type counts pivoted to columns (fixed type set so
      // the pivot needs no extra distinct-values job)
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
        .select(col("user_id"), col("click").as("n_click"),
          col("view").as("n_view"), col("purchase").as("n_purchase"),
          col("signup").as("n_signup"), col("error").as("n_error"))
    }),
    "q_except_custs" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_custkey").as("custkey"))
        .except(t(s, dir, "orders")
          .filter(col("o_totalprice") > 200000)
          .select(col("o_custkey").as("custkey")))
    }),
    "q_agg_gate" -> ((s, dir) => {
      // A1/A2/O3: the global scalar that gates a pipeline run.
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("bigint").as("total_qty"))
    }),
    // ----- events (ns timestamp handling, JSON props) --------------------
    "q_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(ntz(date_trunc("hour", col("ts"))).as("event_hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
    }),
    "q_events_json" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
    }),
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("bigint").as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),
    "q_cube" -> ((s, dir) => {
      // full grouping-set lattice (2^2 groupings in one pass — Catalyst
      // expands to a single Expand + one aggregate, not 4 scans)
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("bigint").as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),
    "q_lag_lead" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // offset window functions: days since the previous order and the
      // next order's key, per customer (deterministic orderkey tiebreak)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        ntz(col("o_orderdate")).as("o_orderdate"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast("int").as("days_since_prev"),
        lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
    }),
    "q_cond_agg" -> ((s, dir) => {
      // conditional aggregation (FILTER/CASE) + exact distinct count
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(count(when(col("o_totalprice") > 100000, 1)).as("n_big"),
          count(lit(1)).as("n_all"),
          sum(when(col("o_orderstatus") === "F", dec2(col("o_totalprice"))))
            .cast("double").as("spend_f"),
          countDistinct(col("o_custkey")).as("n_custs"))
    }),
    "q_histogram" -> ((s, dir) => {
      // data-profiling histogram: fixed-width value buckets in one
      // map-side-combinable aggregate (floor arithmetic is IEEE-exact so
      // the oracle hash-matches; no width_bucket needed)
      val bucket = least(greatest(floor(
        (col("l_extendedprice").cast("double") - lit(900.0)) / lit(5205.0)),
        lit(0.0)), lit(19.0)).cast("bigint")
      t(s, dir, "lineitem")
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice").cast("double")).as("lo"),
          max(col("l_extendedprice").cast("double")).as("hi"))
    }),
    "q_rank_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // distribution window functions: quartile bucket, percentile rank
      // and cumulative distribution of order value within its priority
      // class (deterministic orderkey tiebreak)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    }),
    "q_range_join" -> ((s, dir) => {
      import graft.operators.RangeJoin
      // incident blast radius: for each error event, every event landing
      // in the following hour — a pure interval join (no equi key), made
      // an equi-join on 1h time cells instead of a nested-loop
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val incidents = t(s, dir, "events")
        .filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      // incidents are a filtered slice of events -> broadcast them; the
      // full point stream then joins with zero exchange
      RangeJoin.rangeJoin(ev, "ts", incidents, "w_start", "w_end",
          granuleSeconds = 3600, broadcastRight = true)
        .groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    "q_asof_join" -> ((s, dir) => {
      import graft.operators.AsofJoin
      // for each event, the customer's most recent order at/before the
      // event time; right side deduped per (key, ts) for determinism
      val orders = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("ok"),
          expr("max_by(o_totalprice, o_orderkey)").as("op"))
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("ts"))
      AsofJoin.asofJoin(
        ev, col("user_id"), col("ts"),
        orders, col("o_custkey"), col("o_orderdate").cast("timestamp"),
        Seq("last_orderkey" -> col("ok"), "last_totalprice" -> col("op")))
        .select(col("event_id"), col("user_id"), ntz(col("ts")).as("ts"),
          col("last_orderkey"), col("last_totalprice"))
    }),
    "q_sessions" -> ((s, dir) => {
      import graft.operators.Sessionize
      Sessionize.sessions(t(s, dir, "events"), col("user_id"), col("ts"),
        gapSeconds = 3600)
        .select(col("user_id"), col("session_idx"),
          ntz(col("session_start")).as("session_start"),
          ntz(col("session_end")).as("session_end"), col("n_events"))
    }),
    "q_session_cooccurrence" -> ((s, dir) => {
      // market-basket over sessions: which event types co-occur in a
      // user session, with each type's own support — exact integer
      // inputs to lift/PMI (scores stay downstream so the whole
      // comparison hash-matches). Pair fan-out is bounded by the type
      // vocabulary per session, never the event count.
      import graft.operators.EventAnalytics
      EventAnalytics.sessionCooccurrence(t(s, dir, "events"),
        col("user_id"), col("ts"), col("event_type"), gapSeconds = 3600)
    }),
    "q_funnel_users" -> ((s, dir) => {
      // per-user greedy-earliest ordered funnel completion; every stage
      // aggregates/joins on the user key — every exchange hashes on
      // user_id (PlanAuditSpec pins it).
      import graft.operators.EventAnalytics
      EventAnalytics.funnelTimes(t(s, dir, "events"), col("user_id"),
        col("ts"), col("event_type"), Seq("view", "click", "purchase"))
        .select(col("user_id"), ntz(col("t1")).as("t1"),
          ntz(col("t2")).as("t2"), ntz(col("t3")).as("t3"))
    }),
    "q_funnel_reach" -> ((s, dir) => {
      import graft.operators.EventAnalytics
      EventAnalytics.funnelReach(t(s, dir, "events"), col("user_id"),
        col("ts"), col("event_type"), Seq("view", "click", "purchase"))
    }),
    "q_funnel_windowed" -> ((s, dir) => {
      // the conversion-window form: each step must land within 6h of
      // the previous one (greedy-earliest reading, the oracle pins it)
      import graft.operators.EventAnalytics
      EventAnalytics.funnelTimes(t(s, dir, "events"), col("user_id"),
        col("ts"), col("event_type"), Seq("view", "click", "purchase"),
        maxStepGapSeconds = Some(21600L))
        .select(col("user_id"), ntz(col("t1")).as("t1"),
          ntz(col("t2")).as("t2"), ntz(col("t3")).as("t3"))
    }),
    "q_retention_cohorts" -> ((s, dir) => {
      import graft.operators.EventAnalytics
      EventAnalytics.retentionCohorts(t(s, dir, "events"), col("user_id"),
        col("ts"), granularity = "day", horizon = 7)
        .select(ntz(col("cohort")).as("cohort"), col("offset_n"),
          col("n_active"))
    }),
    "q_scd2_history" -> ((s, dir) => {
      // gaps-and-islands SCD2: consecutive per-user runs of event_type
      // as half-open validity intervals.
      import graft.operators.EventAnalytics
      EventAnalytics.changeHistory(t(s, dir, "events"), col("user_id"),
        col("ts"), col("event_id"), col("event_type"))
        .select(col("user_id"), col("value"),
          ntz(col("valid_from")).as("valid_from"),
          ntz(col("valid_to")).as("valid_to"), col("n_events"))
    }),
    // ----- reference-parity operators (SURVEY §2) ------------------------
    "flatten_struct" -> ((s, dir) => {
      // P1 default aliasing: structCol_field.
      val df = t(s, dir, "orders").select(col("o_orderkey"),
        struct(col("o_orderstatus").as("status"),
          col("o_totalprice").as("price")).as("ord"))
      Flatten.flatten(df)
    }),
    "flatten_prefix" -> ((s, dir) => {
      // P1 quirk: one prefix applied to the fields of EVERY struct column.
      val df = t(s, dir, "orders").select(col("o_orderkey"),
        struct(col("o_orderstatus").as("status")).as("a"),
        struct(col("o_orderpriority").as("priority")).as("b"))
      Flatten.flatten(df, Some("f_"))
    }),
    "flatten_all_nested" -> ((s, dir) => {
      val df = t(s, dir, "customer").select(col("c_custkey"),
        struct(struct(col("c_name").as("name"),
          col("c_mktsegment").as("seg")).as("info")).as("cust"))
      Flatten.flattenAll(df)
    }),
    "explode_carry" -> ((s, dir) => {
      // G1 + P3: key-carry explode.
      val df = t(s, dir, "part")
      Explodes.explodeCarry(
        df.select(col("p_partkey"), array(col("p_brand"), col("p_type")).as("arr")),
        Seq("p_partkey"), col("arr"), "attr")
    }),
    "explode_pos" -> ((s, dir) => {
      val df = t(s, dir, "part")
      Explodes.posExplodeCarry(
        df.select(col("p_partkey"), array(col("p_brand"), col("p_type")).as("arr")),
        Seq("p_partkey"), col("arr"), "attr_idx", "attr")
    }),
    "explode_map_label" -> ((s, dir) => {
      // G2: map-wrapped labelled explode (reference zoom_proc.py:181-190).
      Explodes.explodeMapWrapped(
        t(s, dir, "supplier"), "suppliers", array(col("s_name")))
    }),
    "explode_chain" -> ((s, dir) => {
      // G3: rebuild a 2-level nested document (region -> nations -> customers)
      // then take it apart with the explode+flatten chain, like the
      // reference's survey-answers path (monkey_proc.py:448-475).
      val custs = t(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(collect_list(struct(col("c_custkey"), col("c_name"))).as("custs"))
      val nats = t(s, dir, "nation")
        .join(custs, col("c_nationkey") === col("n_nationkey"))
        .select(col("n_regionkey"),
          struct(col("n_nationkey"), col("n_name"), col("custs")).as("nat"))
        .groupBy(col("n_regionkey")).agg(collect_list(col("nat")).as("nats"))
      val tree = t(s, dir, "region")
        .join(nats, col("r_regionkey") === col("n_regionkey"))
      val lvl1 = Flatten.flatten(
        Explodes.explodeCarry(tree, Seq("r_name"), col("nats"), "nat"))
      val lvl2 = Flatten.flatten(
        Explodes.explodeCarry(lvl1, Seq("r_name", "nat_n_name"),
          col("nat_custs"), "cust"))
      lvl2.select(col("r_name"), col("nat_n_name").as("n_name"),
        col("cust_c_custkey").as("c_custkey"), col("cust_c_name").as("c_name"))
    }),
    "timestamps_multi" -> ((s, dir) => {
      // F1: the reference's four timestamp encodings + epoch seconds.
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss.SSS").as("plain"),
        col("o_orderdate").cast("timestamp").cast("long").as("epoch_s"))
      base.select(col("o_orderkey"),
        ntz(Timestamps.parseIsoZulu(concat(col("iso"), lit("Z")))).as("t_zulu"),
        ntz(Timestamps.parseIsoNoZone(col("iso"))).as("t_nozone"),
        ntz(Timestamps.parseFluentBitNanos(concat(col("iso"), lit(".123456789Z"))))
          .as("t_nanos"),
        ntz(Timestamps.parsePlainMillis(col("plain"))).as("t_millis"),
        ntz(Timestamps.parseEpochSeconds(col("epoch_s"))).as("t_epoch"),
        col("epoch_s"))
    }),
    "sqbrackets_logs" -> ((s, dir) => {
      // F8: the reference's only UDF, incl. the all-or-nothing fallback.
      val lines = t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderkey") % 10 === 0,
          concat(lit("plain line "), col("o_orderpriority")))
          .otherwise(concat(lit("[I 2024-01-01 00:00:00.000 JupyterHub app:"),
            col("o_orderkey"), lit("] msg "), col("o_orderpriority")))
          .as("line"))
      val parsed = lines.select(col("o_orderkey"), col("line"),
        LogParse.sqbracketsCol(col("line")).as("p"))
      parsed.select(col("o_orderkey"),
        col("p").getItem(0).as("head"), col("p").getItem(1).as("ts"),
        col("p").getItem(2).as("service"), col("p").getItem(3).as("typ"),
        col("p").getItem(4).as("code"), col("p").getItem(5).as("msg"))
    }),
    "jhub_pipeline_transform" -> ((s, dir) => {
      // the JhubPipeline lineage (kuber_ flatten -> drop -> sqbrackets ->
      // unpack -> 2 timestamp parses -> contract) over a fluent-bit-shaped
      // frame synthesized from orders
      import graft.pipelines.JhubPipeline
      val raw = t(s, dir, "orders").select(
        concat(lit("[I 2024-01-01 00:00:00.000 JupyterHub app:"),
          col("o_orderkey"), lit("] served "), col("o_orderpriority")).as("log"),
        concat(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"),
          lit(".000000000Z")).as("time"),
        struct(
          concat(lit("hub-"), col("o_orderkey") % 3).as("container_name"),
          concat(lit("node"), col("o_custkey") % 5).as("host"),
          concat(lit("pod-"), col("o_orderkey")).as("pod_name"),
          struct(lit("x").as("noise")).as("annotations"),
          struct(lit("y").as("app")).as("labels")).as("kubernetes"))
      JhubPipeline.transform(raw)
        .withColumn("time_stamp", ntz(col("time_stamp")))
        .withColumn("log_timestamp", ntz(col("log_timestamp")))
    }),
    "zoom_meetings_transform" -> ((s, dir) => {
      // the ZoomPipeline meetings lineage (explode -> meet_ flatten ->
      // ISO-Zulu parse -> 13-col contract) over a meetings-log-shaped
      // frame: one meetings array element per order
      import graft.pipelines.ZoomPipeline
      val raw = t(s, dir, "orders").select(
        lit(1L).as("total_records"),
        array(struct(
          concat(lit("acct"), col("o_custkey") % 7).as("account_id"),
          (col("o_orderkey") % 120).as("duration"),
          concat(lit("host"), col("o_custkey"), lit("@x.io")).as("host_email"),
          concat(lit("h"), col("o_custkey")).as("host_id"),
          col("o_orderkey").as("id"),
          (col("o_orderkey") % 4).as("recording_count"),
          concat(lit("https://share/"), col("o_orderkey")).as("share_url"),
          concat(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"),
            lit("Z")).as("start_time"),
          lit("UTC").as("timezone"),
          concat(lit("Topic "), col("o_orderpriority")).as("topic"),
          (col("o_orderkey") * 1000).as("total_size"),
          lit(2L).as("type"),
          concat(lit("uuid-"), col("o_orderkey")).as("uuid"),
          array(struct(lit("u").as("download_url")))
            .as("recording_files"))).as("meetings"))
      ZoomPipeline.meetings.select(ZoomPipeline.meetingsTransform(raw))
        .withColumn("meet_start_time", ntz(col("meet_start_time")))
    }),
    "contract_select" -> ((s, dir) => {
      // P2/P4/P5/P6: contract projection + rename + drop + audit literal.
      t(s, dir, "customer")
        .withColumnRenamed("c_custkey", "customer_id")
        .drop("c_nationkey", "c_acctbal")
        .withColumn("load_src", lit("graft"))
        .select(col("customer_id"), col("c_name").as("customer_name"),
          col("c_mktsegment").as("segment"), col("load_src"))
    }),
    "concat_ws_csv" -> ((s, dir) => {
      // F2: array -> CSV string for a varchar serving column.
      t(s, dir, "customer").select(col("c_custkey"),
        concat_ws(",", array(col("c_name"), col("c_mktsegment"))).as("csv"))
    })
  )
}
