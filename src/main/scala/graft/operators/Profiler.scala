package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-pass table profiling — the data-quality summary a pipeline runs
  * before trusting a new corpus drop: per column, row count, null count,
  * distinct count, and min/max, as ONE aggregation over ONE scan (the
  * naive per-column loop reads the table N times).
  *
  * Output: (col_name, n_rows, n_nulls, n_distinct, min_value, max_value)
  * — min/max surfaced as strings so one schema profiles every column
  * type, and NULL for all-null columns (min/max of nothing).
  *
  * Scale shape: one scan; the exact-distinct form expands the aggregate
  * (Spark's multi-COUNT(DISTINCT) Expand — one shuffle carrying n_cols
  * replicas of the key columns), which is the exact-oracle contract.
  * `exact = false` swaps in HyperLogLog++ `approx_count_distinct`: the
  * Expand disappears, the whole profile becomes one partial-agg pass with
  * fixed-size sketch state — the 100 TB default, at ±1% accuracy. */
object Profiler {

  def profile(df: DataFrame, columns: Seq[String] = Nil,
              exact: Boolean = true): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    require(cols.nonEmpty, "profile: no columns")
    require(cols.forall(df.columns.contains), s"profile: unknown column in $cols")
    require(cols.distinct.size == cols.size, s"profile: duplicate column in $cols")
    // internal aliases are INDEXED, never derived from user column names —
    // a name containing '.' or '`' would break col()-re-resolution
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"__nn_$i"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c), 0.01)).as(s"__nd_$i"),
        min(col(c)).cast("string").as(s"__mn_$i"),
        max(col(c)).cast("string").as(s"__mx_$i"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    // one row -> one output row per column, via an exploded struct array
    // (pure projection — no second aggregation, no extra scan)
    val entries = array(cols.zipWithIndex.map { case (c, i) => struct(
      lit(c).as("col_name"),
      col("__n").as("n_rows"),
      col(s"__nn_$i").as("n_nulls"),
      col(s"__nd_$i").as("n_distinct"),
      col(s"__mn_$i").as("min_value"),
      col(s"__mx_$i").as("max_value")) }: _*)
    one.select(explode(entries).as("__e")).select(col("__e.*"))
  }

  /** Population Stability Index between two slices of one table — the
    * standard distribution-drift monitor a continuously-ingesting corpus
    * runs per batch (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 major
    * shift). Values bin against LITERAL bounds (callers derive them once
    * from a frozen reference — bounds must not float with the data being
    * monitored, or drift hides inside the moving bins); output is one row
    * per occupied bin with counts, proportions, and the PSI term
    * (q−p)·ln(q/p), which consumers sum. A bin empty on either side has
    * an UNDEFINED term and surfaces as NULL — deliberately not
    * epsilon-smoothed, because a bin that lost (or invented) all its mass
    * is precisely the signal that must not be numerically papered over.
    *
    * Determinism: proportions are exact count/total divisions; ln is
    * rounded to 6 dp per the cross-engine contract. Scale: one
    * map-side-combined count aggregate over bin index (key space = bin
    * count), ONE-ROW totals broadcast back; values never shuffle. */
  def driftPsi(df: DataFrame, sliceCol: String, refSlice: String,
               curSlice: String, valueCol: String,
               bounds: Seq[Double]): DataFrame = {
    require(bounds.nonEmpty && bounds == bounds.sorted &&
      bounds.distinct.size == bounds.size,
      "bounds must be non-empty, strictly increasing")
    val v = col(valueCol).cast("double")
    val bin = bounds.zipWithIndex.foldRight(lit(bounds.size): Column) {
      case ((b, i), acc) => when(v <= b, lit(i)).otherwise(acc)
    }
    val counts = df
      .filter(col(sliceCol).isin(refSlice, curSlice) && v.isNotNull)
      .select(col(sliceCol).as("__s"), bin.cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(when(col("__s") === refSlice, 1)).as("n_ref"),
        count(when(col("__s") === curSlice, 1)).as("n_cur"))
    val totals = counts.agg(sum(col("n_ref")).as("__tr"),
      sum(col("n_cur")).as("__tc"))
    // Non-ANSI Divide yields NULL on a zero total while ANSI engines give
    // Infinity — and an entirely-empty slice is a monitoring ERROR, not a
    // drift measurement: fail loudly inside the used expression.
    val tr = when(col("__tr") > 0, col("__tr"))
      .otherwise(raise_error(lit("driftPsi: reference slice is empty")))
    val tc = when(col("__tc") > 0, col("__tc"))
      .otherwise(raise_error(lit("driftPsi: current slice is empty")))
    val pRef = col("n_ref").cast("double") / tr
    val pCur = col("n_cur").cast("double") / tc
    counts.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(pRef, 6).as("p_ref"), round(pCur, 6).as("p_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          round((pCur - pRef) * log(pCur / pRef), 6)).as("psi_term"))
  }

  /** Robust (median/MAD) outlier flags for one numeric column — the
    * data-quality gate that survives the outliers it hunts: mean/stddev
    * thresholds are dragged by the very tail they should flag, while the
    * median and the median absolute deviation both have a 50% breakdown
    * point. A row is flagged when |x − median| > k·MAD (callers wanting
    * the normal-consistent sigma scale fold the 1.4826 factor into k).
    *
    * Determinism: median and MAD are exact interpolated percentiles (the
    * `quantile_cont` identity q_agg_percentiles establishes); the flag
    * comparison and deviation run in plain IEEE doubles, with the output
    * deviation rounded to 6 dp per the cross-engine contract.
    *
    * Scale shape: two aggregation passes (median, then MAD of the
    * deviations) plus the flag projection — each a map-side-combined
    * aggregate whose ONE-ROW result broadcasts back; the data never
    * shuffles. Output: flagged rows only —
    * (idCol, value, deviation, is_high).
    *
    * MAD = 0 (at least half the values identical, e.g. a sparse column
    * that is mostly zeros) makes every deviating row an "outlier" — a
    * known MAD breakdown mode this gate refuses to paper over: the run
    * fails loudly and the caller picks a gate suited to quasi-constant
    * data. */
  def robustOutliers(df: DataFrame, idCol: String, valueCol: String,
                     k: Double = 3.5): DataFrame = {
    require(k > 0, "k must be positive")
    val v = col(valueCol).cast("double")
    val medF = df.agg(percentile(v, lit(0.5)).as("__med"))
    val madF = df.crossJoin(broadcast(medF))
      .agg(first(col("__med")).as("__med"),
        percentile(abs(v - col("__med")), lit(0.5)).as("__mad"))
    val mad = when(col("__mad") > 0, col("__mad"))
      .otherwise(raise_error(lit(
        "robustOutliers: MAD is 0 (>=50% of values identical) — the " +
          "k*MAD threshold would flag every deviating row; use a gate " +
          "suited to quasi-constant columns")))
    df.crossJoin(broadcast(madF))
      .filter(abs(v - col("__med")) > lit(k) * mad)
      .select(col(idCol), v.as("value"),
        round(v - col("__med"), 6).as("deviation"),
        (v > col("__med")).as("is_high"))
  }

  /** Sketch-based quantiles (GK `percentile_approx`) — the 100-TB
    * percentile path: fixed-size mergeable state, one partial-agg pass, no
    * sort — where the exact interpolated `percentile` must see all values.
    * Output: (p, qv) per requested probability. Sketch internals are
    * engine-specific, so the harness row is rows-only and driver-gated by
    * [[approxQuantileViolations]]. */
  def approxQuantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
                      accuracy: Int): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      "approxQuantiles: probabilities must be in [0,1]")
    val v = col(valueCol).cast("double")
    df.filter(v.isNotNull).select(v.as("x"))
      .agg(percentile_approx(col("x"), typedlit(ps), lit(accuracy)).as("__q"))
      .select(posexplode(col("__q")).as(Seq("__i", "qv")))
      .select(element_at(typedlit(ps), col("__i") + 1).as("p"), col("qv"))
  }

  /** GK rank-error gate, in-engine: a returned quantile value's exact rank
    * range [cnt_lt+1, cnt_le] must intersect [(p−ε)n, (p+ε)n] with
    * ε = 1/accuracy — the published approx_percentile guarantee, checked
    * against the REAL data by one broadcast join + one aggregation.
    * Violations-only output (empty relation when the sketch honors its
    * contract). */
  def approxQuantileViolations(df: DataFrame, valueCol: String,
      ps: Seq[Double], accuracy: Int): DataFrame = {
    val v = col(valueCol).cast("double")
    val vals = df.filter(v.isNotNull).select(v.as("x"))
    val apx = approxQuantiles(df, valueCol, ps, accuracy)
    val eps = 1.0 / accuracy
    vals.crossJoin(broadcast(apx))
      .groupBy(col("p"), col("qv"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") < col("qv"), 1L).otherwise(0L)).as("cnt_lt"),
        sum(when(col("x") <= col("qv"), 1L).otherwise(0L)).as("cnt_le"))
      .filter(col("cnt_le").cast("double") < (col("p") - eps) * col("n") - 1e-9
        || (col("cnt_lt") + 1).cast("double") > (col("p") + eps) * col("n") + 1e-9)
      .select(col("p"), col("qv"), col("cnt_lt"), col("cnt_le"), col("n"))
  }

  /** Mergeable distinct-count ROLLUP via DataSketches HLL: one sketch per
    * segment, then the GLOBAL distinct from `hll_union_agg` over the
    * per-segment sketches — no second scan of the raw data. This is the
    * sketch property exact distinct lacks: per-segment exact distincts
    * cannot be combined (overlap unknown), so a naive rollup rescans the
    * corpus once per grouping level; sketches merge in segment-count time.
    * At 100 TB the per-segment sketches are the stored pre-aggregate and
    * every coarser rollup is derived without touching data.
    *
    * Output: one row per segment plus a `__TOTAL__` row, each with the
    * sketch estimate rounded to a long. Estimates are engine-specific →
    * the harness gates with [[segmentDistinctViolations]]. */
  def segmentDistinctRollup(df: DataFrame, segCol: String,
                            valueCol: String): DataFrame = {
    val sk = df.filter(col(valueCol).isNotNull)
      .groupBy(col(segCol).cast("string").as("segment"))
      .agg(expr(s"hll_sketch_agg($valueCol)").as("__sk"))
    val perSeg = sk.select(col("segment"),
      expr("hll_sketch_estimate(__sk)").cast("long").as("est_distinct"))
    val total = sk.agg(expr("hll_union_agg(__sk)").as("__u"))
      .select(lit("__TOTAL__").as("segment"),
        expr("hll_sketch_estimate(__u)").cast("long").as("est_distinct"))
    perSeg.unionAll(total)
  }

  /** In-engine error gate for [[segmentDistinctRollup]]: every estimate —
    * per-segment AND the unioned total — must be within 5% of the
    * exact distinct count (the default lgConfigK=12 HLL has ~1.6% standard
    * error; 5% is a >3-sigma bound). The exact side pays the full
    * distinct shuffle — affordable at oracle scale, which is the point of
    * gating the sketch instead of shipping exact. Violations only. */
  def segmentDistinctViolations(df: DataFrame, segCol: String,
                                valueCol: String): DataFrame = {
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(segCol).cast("string").as("segment"), col(valueCol).as("v"))
    val exactSeg = vals.groupBy(col("segment"))
      .agg(countDistinct(col("v")).as("exact"))
    val exactTot = vals.agg(countDistinct(col("v")).as("exact"))
      .select(lit("__TOTAL__").as("segment"), col("exact"))
    // null-SAFE join key (<=>): a NULL segment is a real segment on both
    // sides; a plain equi-join would pair neither copy and report two
    // spurious violations
    val est = segmentDistinctRollup(df, segCol, valueCol).alias("e")
    val exact = exactSeg.unionAll(exactTot).alias("x")
    est.join(exact, col("e.segment") <=> col("x.segment"), "full_outer")
      .filter(col("e.est_distinct").isNull || col("x.exact").isNull ||
        abs(col("e.est_distinct") - col("x.exact")).cast("double") >
          lit(0.05) * col("x.exact").cast("double"))
      .select(coalesce(col("e.segment"), col("x.segment")).as("segment"),
        col("e.est_distinct").as("est_distinct"), col("x.exact").as("exact"))
  }

  // ---- native HLL (graft.expr.HllAggregate): the engine's own mergeable
  // sketch lattice, independent of the built-in DataSketches functions ----

  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Sketch-building aggregate: BIGINT values → BINARY sketch. */
  def hllSketch(valueCol: Column, lgK: Int): Column =
    ColumnBridge.column(graft.expr.HllSketchAgg(
      ColumnBridge.expression(valueCol), lgK).toAggregateExpression())

  /** Sketch-union aggregate: BINARY sketches → merged BINARY sketch. */
  def hllMerge(sketchCol: Column): Column =
    ColumnBridge.column(graft.expr.HllMergeAgg(
      ColumnBridge.expression(sketchCol)).toAggregateExpression())

  /** Scalar sketch → struct(n, est). */
  def hllEstimate(sketchCol: Column): Column =
    ColumnBridge.column(graft.expr.HllEstimate(
      ColumnBridge.expression(sketchCol)))

  /** [[segmentDistinctRollup]] re-expressed over the NATIVE HLL aggregate:
    * one m-byte sketch per segment, global distinct from the sketch-union
    * aggregate over those sketches — rows are scanned exactly once, every
    * coarser rollup level merges in segment-count time. Output adds the
    * exact per-segment row count (`n_rows`) the sketch carries for free. */
  def nativeDistinctRollup(df: DataFrame, segCol: String, valueCol: String,
                           lgK: Int = 12): DataFrame =
    rollupFromSketches(df.filter(col(valueCol).isNotNull)
      .groupBy(col(segCol).cast("string").as("segment"))
      .agg(hllSketch(col(valueCol).cast("long"), lgK).as("__sk")))

  /** perSeg + sketch-union `__TOTAL__` derivation from a (segment, __sk)
    * frame. Split out because the STREAMING twin materializes the same
    * sketch frame from its state store and must derive the identical
    * output shape — its bit-exact stream ≡ batch gate depends on the two
    * paths sharing this code, not re-implementing it. */
  def rollupFromSketches(sk: DataFrame): DataFrame = {
    val perSeg = sk.select(col("segment"), hllEstimate(col("__sk")).as("__e"))
    val total = sk.agg(hllMerge(col("__sk")).as("__u"))
      .select(lit("__TOTAL__").as("segment"), hllEstimate(col("__u")).as("__e"))
    perSeg.unionAll(total)
      .select(col("segment"), col("__e.n").as("n_rows"),
        col("__e.est").as("est_distinct"))
  }

  /** In-engine gate for [[nativeDistinctRollup]], two properties:
    *   - ERROR BOUND: every estimate (per-segment and merged total) within
    *     5% of the exact distinct — >3σ for the lgK=12 sketch
    *     (RSE 1.04/√4096 ≈ 1.6%);
    *   - MERGE CONSISTENCY: the union of per-segment sketches must yield
    *     BIT-EXACTLY the estimate of one direct global aggregate —
    *     register-wise max is associative/commutative, so any grouping of
    *     the same input set produces identical registers (this is the
    *     determinism MG summaries don't have, and it is what makes stored
    *     per-segment sketches a trustworthy rollup lattice).
    * Violations only; oracle = empty relation. */
  def nativeDistinctViolations(df: DataFrame, segCol: String,
                               valueCol: String): DataFrame = {
    val lgK = 12
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(segCol).cast("string").as("segment"), col(valueCol).as("v"))
    val exactSeg = vals.groupBy(col("segment"))
      .agg(countDistinct(col("v")).as("exact"))
    val exactTot = vals.agg(countDistinct(col("v")).as("exact"))
      .select(lit("__TOTAL__").as("segment"), col("exact"))
    // ONE rollup subtree reused for both checks (two independently-built
    // copies could silently drift apart), joined null-SAFELY — a NULL
    // segment is a real segment on both sides, and a plain equi-join would
    // pair neither copy and report two spurious violations
    val roll = nativeDistinctRollup(df, segCol, valueCol, lgK)
    val errors = roll.alias("e")
      .join(exactSeg.unionAll(exactTot).alias("x"),
        col("e.segment") <=> col("x.segment"), "full_outer")
      .filter(col("e.est_distinct").isNull || col("x.exact").isNull ||
        abs(col("e.est_distinct") - col("x.exact")).cast("double") >
          lit(0.05) * col("x.exact").cast("double"))
      .select(coalesce(col("e.segment"), col("x.segment")).as("segment"),
        lit("error_bound").as("issue"))
    val direct = vals.agg(hllSketch(col("v").cast("long"), lgK).as("__g"))
      .select(hllEstimate(col("__g")).getField("est").as("est_direct"))
    val merged = roll
      .filter(col("segment") === "__TOTAL__")
      .select(col("est_distinct").as("est_merged"))
    val consistency = merged.crossJoin(direct)
      .filter(col("est_merged") =!= col("est_direct"))
      .select(lit("__TOTAL__").as("segment"),
        lit("merge_vs_direct").as("issue"))
    errors.unionAll(consistency)
  }
}
