package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest

/** Relational query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object RelationalRegistry extends QueryRegistry {

  /** Exact sum: decimal arithmetic, double surface. */
  private[registry] def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Shared by q_rate_anomalies and its streaming twin: exact integer
    * counts make the two engines' flagged sets bit-identical. */
  private[registry] lazy val rateAnomalySql: String =
    """WITH c AS (
      |  SELECT CAST(event_type AS VARCHAR) AS key,
      |    epoch_us(ts) // 3600000000 AS bucket, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT min(bucket) AS mn, max(bucket) AS mx FROM c),
      |grid AS (
      |  SELECT k.key, g.bucket
      |  FROM (SELECT DISTINCT key FROM c) k, span,
      |    LATERAL (SELECT unnest(range(span.mn, span.mx + 1)) AS bucket) g),
      |f AS (
      |  SELECT grid.key, grid.bucket, COALESCE(c.cnt, 0) AS cnt
      |  FROM grid LEFT JOIN c ON c.key = grid.key AND c.bucket = grid.bucket),
      |r AS (
      |  SELECT key, bucket, cnt,
      |    SUM(cnt) OVER win AS trail_sum,
      |    SUM(cnt * cnt) OVER win AS trail_sumsq,
      |    COUNT(*) OVER win AS np
      |  FROM f WINDOW win AS (PARTITION BY key ORDER BY bucket
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT key, bucket, cnt, CAST(trail_sum AS BIGINT) AS trail_sum,
      |  CAST(trail_sumsq AS BIGINT) AS trail_sumsq
      |FROM r
      |WHERE np = 24
      |  AND (24 * cnt - trail_sum) * (24 * cnt - trail_sum)
      |      > 9 * (24 * trail_sumsq - trail_sum * trail_sum)
      |ORDER BY key, bucket""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_agg_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        (dsum(col("l_discount"), 4) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),


    "q_join_nation_revenue" -> ((s, dir) => {
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),


    // Exact interpolated percentiles (SortAggregate path). At 100 TB the
    // right default is approx_percentile's mergeable sketch; the exact form
    // is kept for bounded groups — and because its linear interpolation is
    // bit-identical to DuckDB's quantile_cont, it carries the oracle.
    "q_agg_percentiles" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.95)).as("p95"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))),


    // Data selection without scoring weights: the Pareto front of
    // documents over (length, vocabulary richness) — the rows no other
    // row dominates in both. Rows collapse to the x-DOMAIN frame before
    // the (domain-sized, deliberately unpartitioned) running-max window;
    // survivors join back broadcast. Oracle is the NOT EXISTS dominance
    // definition itself, so the window derivation is proven against the
    // semantics, not a replay of itself.
    "q_pareto_front" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(operators.Dedup.cleanTokens(col("text"))).as("__tok"))
        .groupBy(col("doc_id"), col("n_chars"))
        .agg(countDistinct(col("__tok")).as("__vocab"),
          count(lit(1)).as("__total"))
        // lexical diversity trades off against length, so the front is a
        // genuine curve, not the two corner points
        .select(col("doc_id"), col("n_chars"),
          expr("(1000000 * __vocab) div __total").as("diversity_ppm"))
      operators.DataSelect.paretoFront2D(toks, "n_chars", "diversity_ppm")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("diversity_ppm"))
        .orderBy(col("doc_id"))
    }),


    // The per-GROUP skyline — a front per source (the realistic shape:
    // per-language/per-split selection curves); the window partitions by
    // the group, still over the x-domain frame.
    "q_pareto_by_group" -> ((s, dir) => {
      val pts = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          explode(operators.Dedup.cleanTokens(col("text"))).as("__tok"))
        .groupBy(col("doc_id"), col("source"), col("n_chars"))
        .agg(countDistinct(col("__tok")).as("__vocab"),
          count(lit(1)).as("__total"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr("(1000000 * __vocab) div __total").as("diversity_ppm"))
      operators.DataSelect.paretoFront2D(pts, "n_chars", "diversity_ppm",
          groupCols = Seq("source"))
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"), col("diversity_ppm"))
        .orderBy(col("doc_id"))
    }),


    // Bloom-prefiltered semi-join: result is EXACTLY the plain semi-join
    // (bloom false positives are removed by the verifying join), so the
    // oracle is a plain IN-subquery; the bloom only cuts shuffle volume.
    "q_join_bloom" -> ((s, dir) =>
      operators.BloomJoin.bloomSemiJoin(
        t(s, dir, "orders"),
        t(s, dir, "customer").filter(col("c_nationkey") === 3),
        "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),


    // As-of join (backward, inclusive): each click event attached to the
    // same user's latest view event at-or-before it — one window shuffle,
    // no range join. Oracled against DuckDB's native ASOF LEFT JOIN.
    "q_asof_join" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts", EventTime.timestamp(ev0))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      operators.AsOfJoin.asOfBackward(clicks, views, Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("view_event_id", "view_value"), tieCol = "view_event_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("view_event_id"), col("view_value"))
        .orderBy(col("event_id"))
    }),


    // Range join: clicks falling inside each view's 1-day attribution
    // window, as a bucketized equi-join (micros-long arithmetic; bucket =
    // window width so each interval spans <= 2 bins). Oracled against a
    // plain inequality join in DuckDB.
    "q_range_join" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("us", EventTime.micros(ev0))
      val win = 86400L * 1000 * 1000 // 1 day in micros
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_event_id"),
          col("us").as("w_start"), (col("us") + win).as("w_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_event_id"),
          col("us").as("click_us"))
      operators.RangeJoin.pointInIntervalJoin(clicks, views, Seq("user_id"),
        pointCol = "click_us", startCol = "w_start", endCol = "w_end",
        bucketWidth = win)
        .select(col("view_event_id"), col("click_event_id"))
        .orderBy(col("view_event_id"), col("click_event_id"))
    }),


    // Interval-interval overlap join: view vs purchase 1-hour windows per
    // user — bucketized equi-join with bin-ownership dedup (each pair meets
    // in exactly the bin holding max(starts); no post-join distinct).
    "q_overlap_join" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("us", EventTime.micros(ev0))
      val win = 3600L * 1000 * 1000
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("vid"),
          col("us").as("vs"), (col("us") + win).as("ve"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          col("us").as("ps"), (col("us") + win).as("pe"))
      operators.RangeJoin.intervalOverlapJoin(views, purchases, Seq("user_id"),
        "vs", "ve", "ps", "pe", bucketWidth = win)
        .select(col("l_vid").as("view_event_id"),
          col("r_pid").as("purchase_event_id"))
        .orderBy(col("view_event_id"), col("purchase_event_id"))
    }),


    "q_join_bucketed" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val tag = Scratch.runTag(dir)
      Scratch.warehouseDir(s).foreach(Scratch.sweep(_,
        Seq("graft_q_orders_b_", "graft_q_customer_b_")))
      sink.Warehouse.writeBucketed(
        orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        s"graft_q_orders_b_$tag", Seq("o_custkey"), numBuckets = 8)
      sink.Warehouse.writeBucketed(
        customer.select(col("c_custkey"), col("c_mktsegment")),
        s"graft_q_customer_b_$tag", Seq("c_custkey"), numBuckets = 8)
      s.table(s"graft_q_orders_b_$tag")
        .join(s.table(s"graft_q_customer_b_$tag"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("c_mktsegment"))
    }),


    // The events capstone: sessionize + funnel + pivot composed into one
    // user-level feature table (the session/conversion/engagement shape an
    // events warehouse serves) — hash-matched as ONE chain so the
    // operators' interfaces compose, not just pass alone. All three
    // subtrees key on user_id, so the join stage reuses one partitioning.
    "q_events_pipeline" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0
        .select(col("user_id"), col("event_id"), col("event_type"),
          EventTime.micros(ev0).as("us"))
      val sessions = operators.Sessionize.sessionize(ev, Seq("user_id"),
          tsCol = "us", tieCol = "event_id", gap = 1800L * 1000 * 1000)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"))
      val fun = operators.Funnel.funnel(ev, Seq("user_id"), "us", Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .select(col("user_id"), col("depth"))
      val piv = ev.groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("view", "click", "purchase"))
        .select(col("user_id"), col("view").cast("long").as("n_view"),
          col("click").cast("long").as("n_click"),
          col("purchase").cast("long").as("n_purchase"))
      sessions.join(fun, "user_id").join(piv, "user_id")
        .orderBy(col("user_id"))
    }),


    // Recency-weighted user features: Σ value·2^(-age/halfLife) per user
    // at a FIXED as-of instant (mid-span, so the future-event leakage
    // filter is exercised). One narrow projection + one key-keyed agg.
    "q_decay_agg" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      operators.TimeDecay.decayedAgg(
        ev0.select(col("user_id"), EventTime.micros(ev0).as("us"), col("value")),
        "user_id", "us", "value",
        asOfMicros = 1705276800000000L, halfLifeDays = 7.0)
        .orderBy(col("user_id"))
    }),


    // Ingest-rate anomaly gate: hourly per-type counts (empty hours
    // zero-filled — a dead source must surface, not vanish) vs the
    // trailing 24h, flagged beyond 3 population-σ by a pure-integer
    // rearrangement of the z-test — no division/sqrt, hash-exact.
    "q_rate_anomalies" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      operators.TimeSeries.rateAnomalies(ev0, "event_type",
        EventTime.micros(ev0), bucketMicros = 3600L * 1000 * 1000,
        window = 24, k = 3)
        .orderBy(col("key"), col("bucket"))
    }),


    "q_sessionize" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0
        .select(col("user_id"), col("event_id"), EventTime.micros(ev0).as("us"))
      operators.Sessionize.sessionize(ev, Seq("user_id"), tsCol = "us",
        tieCol = "event_id", gap = 1800L * 1000 * 1000)
        .select(col("user_id"), col("session_seq").cast("long").as("session_seq"),
          col("session_start"), col("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_seq"))
    }),


    // Histogram: fixed-width binning as pure integer arithmetic (identical
    // in any engine — no width_bucket dialect dependence), clamped to
    // [0, nbins-1]; one narrow projection + one aggregation.
    "q_histogram" -> ((s, dir) => {
      val lo = 0.0; val w = 50000.0; val nbins = 12
      val bin = least(greatest(floor((col("o_totalprice") - lo) / w), lit(0)),
        lit(nbins - 1)).cast("long")
      t(s, dir, "orders")
        .select(bin.as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        .orderBy(col("bin"))
    }),


    // arg-min/arg-max per group with a TIE-FREE composite key (epoch-day
    // in the high bits, orderkey below): min_by/arg_min tie behavior is
    // engine-arbitrary, so determinism must come from the ordering key.
    // Radix 2^40 keeps the key order-preserving for orderkeys < 2^40
    // (~1.1e12 — far past TPC-H SF 100k) and days < 2^23.
    "q_agg_argminmax" -> ((s, dir) => {
      val combined = (datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long") * 1099511627776L + col("o_orderkey"))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(min_by(col("o_orderkey"), combined).as("first_orderkey"),
          max_by(col("o_orderkey"), combined).as("last_orderkey"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),


    // Correlation/covariance per group, rounded to 6 dp: both engines use
    // the same single-pass co-moment formulas; rounding absorbs the
    // last-ulp accumulation-order differences.
    "q_agg_corr" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),


    // Dispersion aggregates, rounded to absorb accumulation-order ulps.
    "q_agg_stddev" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_extendedprice")), 4).as("var_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),


    // Moving-window aggregation: trailing 4-row average in a total order —
    // the sliding-frame surface (ROWS BETWEEN), distinct from the
    // rank/lag/running-sum windows elsewhere.
    "q_window_moving" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
        .rowsBetween(-3, Window.currentRow)
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 1000)
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(avg(col("o_totalprice")).over(w), 6).as("ma4"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }),


    // Exact distinct per group: two-level aggregation (partial distinct on
    // (type, user) then count) — the plan Spark expands COUNT(DISTINCT) to.
    "q_distinct_users" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))),


    // Anti join: customers who never ordered — LeftAnti is the plan-level
    // NOT EXISTS (one hash join, no materialized null-padded rows).
    "q_join_anti" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),


    // Set difference: customers who ordered but never with status F.
    "q_set_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_custkey").as("custkey"))
        .except(o.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey"))
    }),


    // The SQL front door: the same engine surface through spark.sql with a
    // correlated EXISTS (Catalyst rewrites it to a semi join).
    "q_sql_exists" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""SELECT c_custkey, c_name FROM customer_v c
              |WHERE EXISTS (SELECT 1 FROM orders_v o
              |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
              |ORDER BY c_custkey""".stripMargin)
    }),


    // INTERSECT (set semantics, the except sibling): one aggregate-style
    // shuffle after Catalyst rewrites it to a distinct semi join.
    "q_set_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("custkey"))
        .intersect(o.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey"))
    }),


    // Scalar subqueries through the SQL front door: two CORRELATED scalars
    // (Catalyst rewrites both into ONE left outer aggregate join — merged
    // because they share the correlation key) plus an UNCORRELATED scalar
    // in the WHERE clause (computed once, broadcast as a literal filter).
    "q_sql_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""SELECT c_custkey, c_name,
              |  (SELECT COUNT(*) FROM orders_v o
              |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
              |  (SELECT MAX(o_totalprice) FROM orders_v o
              |   WHERE o.o_custkey = c.c_custkey) AS max_price
              |FROM customer_v c
              |WHERE c_custkey <= (SELECT MAX(o_custkey) FROM orders_v)
              |ORDER BY c_custkey""".stripMargin)
    }),


    // Rank-normalized features per group: percent_rank/cume_dist are exact
    // small-integer ratios ((rank-1)/(n-1), n_le/n) — identical doubles in
    // every engine, unlike sums. One key-window shuffle for both.
    "q_window_percent_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
        .orderBy(col("o_orderkey"))
    }),


    // Multi-level rollup aggregation (OLAP surface): grouping_id
    // disambiguates rolled-up NULLs from data NULLs and pins the sort.
    "q_agg_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))),


    // Full CUBE over the rollup's dims — all four grouping sets in one
    // pass (Spark expands grouping sets before the partial aggregate, so
    // it stays a single shuffle).
    "q_agg_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))),


    "q_window_ntile" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          ntile(4).over(Window.partitionBy(col("o_custkey"))
              .orderBy(col("o_totalprice").desc, col("o_orderkey")))
            .cast("long").as("price_quartile"))
        .orderBy(col("o_orderkey"))),


    // Explicit GROUPING SETS (the general form rollup/cube specialize):
    // Spark expands the sets before the partial aggregate — still ONE
    // shuffle, not one per set.
    "q_agg_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))),


    // FULL OUTER join of two aggregated sides — date spines rarely line up
    // (shipments trail orders by months; the bulk filter sparsifies one
    // side), so unmatched rows survive from BOTH sides. Aggregating BEFORE
    // the join keeps the outer join |dates|-sized, not row-sized.
    "q_join_full_outer" -> ((s, dir) => {
      val od = t(s, dir, "orders")
        .select(col("o_orderdate").cast("date").as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("n_orders"))
      val ld = t(s, dir, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_shipdate").cast("date").as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("n_bulk_items"))
      od.join(ld, Seq("d"), "full_outer")
        .select(col("d"), coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_bulk_items"), lit(0L)).as("n_bulk_items"))
        .orderBy(col("d"))
    }),


    // lead/lag event context per user — the feature-extraction window shape
    // (previous-gap, next-action). One key-window shuffle, tie-broken on
    // event_id so the frame order is total.
    "q_window_leadlag" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val ev0 = t(s, dir, "events")
      ev0
        .select(col("user_id"), col("event_id"), col("event_type"),
          EventTime.micros(ev0).as("us"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          (col("us") - lag(col("us"), 1).over(w)).as("gap_us"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy(col("user_id"), col("event_id"))
    }),


    // Top-k per group — the canonical "best k examples per key" selection.
    // The rank filter is pushed into the shuffle as a WindowGroupLimit
    // (per-partition top-k heaps before the exchange), so the full sort
    // never materializes per group (plan-guarded in PlanSpec).
    "q_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast("long").as("rk"))
        .filter(col("rk") <= 3)
        .orderBy(col("o_custkey"), col("rk"))
    }),


    // Two-phase salted aggregation: decomposable aggregates partial-agg on
    // (keys, salt) then combine — identical to the plain groupBy, so the
    // oracle IS the plain groupBy (3 heavily-skewed return-flag keys).
    "q_agg_salted" -> ((s, dir) =>
      operators.Skew.saltedAggregate(
        t(s, dir, "lineitem")
          .withColumn("lq", col("l_quantity").cast("decimal(18,2)")),
        Seq("l_returnflag"),
        Seq(operators.Skew.AggSpec("sum", "lq", "sum_qty"),
          operators.Skew.AggSpec("count", "l_orderkey", "n_rows"),
          operators.Skew.AggSpec("min", "l_orderkey", "lo_key"),
          operators.Skew.AggSpec("max", "l_orderkey", "hi_key")),
        numSalts = 16, saltCols = Seq("l_orderkey", "l_linenumber"))
        .select(col("l_returnflag"), col("sum_qty").cast("double").as("sum_qty"),
          col("n_rows"), col("lo_key"), col("hi_key"))
        .orderBy(col("l_returnflag"))),


    // Salted join: probe-side skew spread across 8 salt replicas of the
    // build side; result provably identical to the plain join, so the
    // oracle IS the plain join.
    "q_join_salted" -> ((s, dir) => {
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_extendedprice"),
          col("l_discount"), col("l_linenumber"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      operators.Skew.saltedJoin(li, ord, Seq("okey"), numSalts = 8,
        saltCols = Seq("okey", "l_linenumber"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),


    // Funnel: view → click → purchase per user, earliest ordered chain —
    // one key-window shuffle for all three steps (no joins/collect_list).
    "q_funnel" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0
        .select(col("user_id"), col("event_type"), EventTime.micros(ev0).as("us"))
      operators.Funnel.funnel(ev, Seq("user_id"), "us", Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase")))
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"), col("depth"))
        .orderBy(col("user_id"))
    }),


    // Pivot: event-type counts as columns per user — the explicit value
    // list keeps the output schema static (a dynamic pivot would need a
    // driver-side distinct over the pivot column at plan time).
    "q_pivot_events" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("view", "click", "purchase"))
        .select(col("user_id"), col("view").cast("long").as("n_view"),
          col("click").cast("long").as("n_click"),
          col("purchase").cast("long").as("n_purchase"))
        .orderBy(col("user_id"))),

  )

  /** q_pareto_front's dominance-definition oracle, shared verbatim by
    * its streaming twin q_stream_pareto (mergeable dominance). */
  private[registry] lazy val paretoFrontOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, n_chars,
      |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) AS tok
      |  FROM documents),
      |pts AS (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
      |    CAST((1000000 * COUNT(DISTINCT tok)) // COUNT(*) AS BIGINT) AS diversity_ppm
      |  FROM toks GROUP BY 1, 2)
      |SELECT doc_id, n_chars, diversity_ppm FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.n_chars >= p.n_chars AND q.diversity_ppm >= p.diversity_ppm
      |    AND (q.n_chars > p.n_chars OR q.diversity_ppm > p.diversity_ppm))
      |ORDER BY doc_id""".stripMargin

  def oracles: Map[String, String] = Map(

    "q_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,


    "q_join_nation_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,


    "q_agg_percentiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.95) AS p95,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    // Time decay: per-term 6dp rounding then decimal sums; age from exact
    // integer micros so the double division is engine-identical.
    "q_decay_agg" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, value FROM events
        |  WHERE epoch_us(ts) <= 1705276800000000 AND value IS NOT NULL),
        |w AS (
        |  SELECT user_id,
        |    CAST(ROUND(exp(-(ln(2) / 7.0) * ((1705276800000000 - us) / 86400000000.0))
        |      * value, 6) AS DECIMAL(18,6)) AS wv,
        |    CAST(ROUND(exp(-(ln(2) / 7.0) * ((1705276800000000 - us) / 86400000000.0)),
        |      6) AS DECIMAL(18,6)) AS w
        |  FROM e)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(wv) AS DOUBLE) AS decayed_sum,
        |  CAST(SUM(w) AS DOUBLE) AS decayed_count
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,


    "q_join_bucketed" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,


    "q_asof_join" ->
      """SELECT c.event_id, c.user_id, c.ts, v.event_id AS view_event_id, v.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin,


    "q_overlap_join" ->
      """SELECT v.event_id AS view_event_id, p.event_id AS purchase_event_id
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.ts < p.ts + INTERVAL 1 HOUR
        | AND p.ts < v.ts + INTERVAL 1 HOUR
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |ORDER BY view_event_id, purchase_event_id""".stripMargin,


    "q_range_join" ->
      """SELECT v.event_id AS view_event_id, c.event_id AS click_event_id
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 1 DAY
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |ORDER BY view_event_id, click_event_id""".stripMargin,


    // The dominance DEFINITION as the oracle: a row is on the front iff
    // no row beats it weakly in both coordinates and strictly in one —
    // NOT a replay of the window derivation.
    "q_pareto_front" -> paretoFrontOracleSql,


    // Per-group dominance definition, grouped by source.
    "q_pareto_by_group" ->
      """WITH toks AS (
        |  SELECT doc_id, source, n_chars,
        |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) AS tok
        |  FROM documents),
        |pts AS (
        |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST((1000000 * COUNT(DISTINCT tok)) // COUNT(*) AS BIGINT) AS diversity_ppm
        |  FROM toks GROUP BY 1, 2, 3)
        |SELECT doc_id, source, n_chars, diversity_ppm FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.source = p.source
        |    AND q.n_chars >= p.n_chars AND q.diversity_ppm >= p.diversity_ppm
        |    AND (q.n_chars > p.n_chars OR q.diversity_ppm > p.diversity_ppm))
        |ORDER BY doc_id""".stripMargin,


    "q_events_pipeline" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |labeled AS (
        |  SELECT user_id, us,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_seq, COUNT(*) AS n_ev
        |  FROM labeled GROUP BY user_id, session_seq),
        |sessions AS (
        |  SELECT user_id, COUNT(*) AS n_sessions, MAX(n_ev) AS max_session_events
        |  FROM per_session GROUP BY user_id),
        |t1 AS (SELECT user_id, MIN(us) FILTER (WHERE event_type = 'view') AS t_view
        |       FROM ev GROUP BY user_id),
        |t2 AS (SELECT ev.user_id,
        |         MIN(us) FILTER (WHERE event_type = 'click' AND t_view IS NOT NULL AND us > t_view) AS t_click
        |       FROM ev JOIN t1 USING (user_id) GROUP BY ev.user_id),
        |t3 AS (SELECT ev.user_id,
        |         MIN(us) FILTER (WHERE event_type = 'purchase' AND t_click IS NOT NULL AND us > t_click) AS t_purchase
        |       FROM ev JOIN t2 USING (user_id) GROUP BY ev.user_id),
        |fun AS (
        |  SELECT user_id,
        |    CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |              WHEN t_click IS NOT NULL THEN 2
        |              WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth
        |  FROM t1 JOIN t2 USING (user_id) JOIN t3 USING (user_id)),
        |piv AS (
        |  SELECT user_id,
        |    COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
        |    COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
        |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
        |  FROM ev GROUP BY user_id)
        |SELECT user_id, n_sessions, max_session_events, depth, n_view, n_click, n_purchase
        |FROM sessions JOIN fun USING (user_id) JOIN piv USING (user_id)
        |ORDER BY user_id""".stripMargin,


    "q_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |labeled AS (
        |  SELECT user_id, us,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  MIN(us) AS session_start, MAX(us) AS session_end, COUNT(*) AS n_events
        |FROM labeled GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,


    "q_join_bloom" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 3)
        |ORDER BY o_orderkey""".stripMargin,


    "q_distinct_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    // Rate anomalies: same densified grid (LATERAL range over the global
    // bucket span), same ROWS window, same integer z-test. The STREAMING
    // twin is bit-identical (exact counts), so it shares this oracle.
    "q_rate_anomalies" -> rateAnomalySql,


    "q_agg_stddev" ->
      """SELECT l_returnflag,
        |  ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
        |  ROUND(var_samp(l_extendedprice), 4) AS var_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "q_window_moving" ->
      """SELECT o_orderpriority, o_orderkey,
        |  ROUND(AVG(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS ma4
        |FROM orders WHERE o_orderkey < 1000
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,


    "q_histogram" ->
      """SELECT CAST(LEAST(GREATEST(FLOOR(o_totalprice / 50000.0), 0), 11) AS BIGINT) AS bin,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin,


    "q_agg_argminmax" ->
      """SELECT o_orderpriority,
        |  arg_min(o_orderkey, date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) * 1099511627776 + o_orderkey) AS first_orderkey,
        |  arg_max(o_orderkey, date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) * 1099511627776 + o_orderkey) AS last_orderkey,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    "q_agg_corr" ->
      """SELECT l_returnflag,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  ROUND(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,


    "q_set_except" ->
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin,


    "q_sql_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,


    "q_set_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin,


    "q_sql_scalar_subquery" ->
      """SELECT c_custkey, c_name,
        |  (SELECT COUNT(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT MAX(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |WHERE c_custkey <= (SELECT MAX(o_custkey) FROM orders)
        |ORDER BY c_custkey""".stripMargin,


    "q_window_percent_rank" ->
      """SELECT o_orderkey, o_orderpriority,
        |  PERCENT_RANK() OVER w AS pr, CUME_DIST() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,


    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,


    "q_agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,


    "q_agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,


    "q_join_full_outer" ->
      """WITH od AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |ld AS (
        |  SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n_bulk_items
        |  FROM lineitem WHERE l_quantity >= 48 GROUP BY 1)
        |SELECT COALESCE(od.d, ld.d) AS d,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  COALESCE(n_bulk_items, 0) AS n_bulk_items
        |FROM od FULL OUTER JOIN ld ON od.d = ld.d
        |ORDER BY d""".stripMargin,


    "q_window_leadlag" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |            FROM events)
        |SELECT user_id, event_id, event_type,
        |  us - LAG(us) OVER w AS gap_us,
        |  LEAD(event_type) OVER w AS next_type
        |FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |ORDER BY user_id, event_id""".stripMargin,


    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders) r
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,


    "q_agg_salted" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(l_orderkey) AS n_rows,
        |  MIN(l_orderkey) AS lo_key, MAX(l_orderkey) AS hi_key
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    // Salting refines partitioning, never the match predicate — the oracle
    // is the PLAIN join the salted plan must reproduce exactly.
    "q_join_salted" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    "q_window_ntile" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(NTILE(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin,


    // Same greedy earliest-chain: t1 = min view; t2 = min click AFTER t1;
    // t3 = min purchase AFTER t2 (strict inequalities, as in Funnel).
    "q_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (SELECT user_id, MIN(us) FILTER (WHERE event_type = 'view') AS t_view
        |       FROM ev GROUP BY user_id),
        |t2 AS (SELECT ev.user_id,
        |         MIN(us) FILTER (WHERE event_type = 'click' AND t_view IS NOT NULL AND us > t_view) AS t_click
        |       FROM ev JOIN t1 USING (user_id) GROUP BY ev.user_id),
        |t3 AS (SELECT ev.user_id,
        |         MIN(us) FILTER (WHERE event_type = 'purchase' AND t_click IS NOT NULL AND us > t_click) AS t_purchase
        |       FROM ev JOIN t2 USING (user_id) GROUP BY ev.user_id)
        |SELECT user_id, t_view, t_click, t_purchase,
        |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |            WHEN t_click IS NOT NULL THEN 2
        |            WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth
        |FROM t1 JOIN t2 USING (user_id) JOIN t3 USING (user_id)
        |ORDER BY user_id""".stripMargin,


    "q_pivot_events" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

  )
}
