package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Segment set-overlap profiling over the native K-Minimum-Values (theta)
  * sketch ([[graft.expr.KmvAggregate]]) — the question HLL cannot answer:
  * how much do two segments' distinct-value sets OVERLAP? Union,
  * intersection, difference, and Jaccard for every segment pair, from one
  * scan of the rows plus segment-pair-count sketch combinations.
  *
  * Scale shape: rows are scanned once into per-segment sketches (partial
  * aggregation — only ≤k-entry hash sets cross the shuffle); the pairwise
  * stage operates on the segment-count-sized sketch frame, never on rows.
  * The exact sibling's value-level self-join (distinct pairs ⋈ distinct
  * pairs) is the thing that does NOT survive 100 TB — its shuffle carries
  * every distinct (segment, value) pair twice, and it cannot pre-compute:
  * adding one segment re-runs it. Stored sketches answer any later
  * combination in sketch-space.
  */
object SetSketch {

  /** Sketch-building aggregate: BIGINT values → BINARY sketch. */
  def kmvSketch(valueCol: Column, k: Int): Column =
    ColumnBridge.column(graft.expr.KmvSketchAgg(
      ColumnBridge.expression(valueCol), k).toAggregateExpression())

  /** Sketch-union aggregate: BINARY sketches → merged BINARY sketch. */
  def kmvMerge(sketchCol: Column): Column =
    ColumnBridge.column(graft.expr.KmvMergeAgg(
      ColumnBridge.expression(sketchCol)).toAggregateExpression())

  /** Scalar sketch → struct(n, est). */
  def kmvEstimate(sketchCol: Column): Column =
    ColumnBridge.column(graft.expr.KmvEstimate(
      ColumnBridge.expression(sketchCol)))

  /** Scalar sketch pair → struct(union_est, intersect_est, diff_ab_est,
    * jaccard_ppm). */
  def kmvSetOp(a: Column, b: Column): Column =
    ColumnBridge.column(graft.expr.KmvSetOp(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** One KMV sketch per segment: (segment, __sk). */
  def segmentSketches(df: DataFrame, segCol: String, valueCol: String,
                      k: Int): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(segCol).cast("string").as("segment"))
      .agg(kmvSketch(col(valueCol).cast("long"), k).as("__sk"))

  /** Pairwise overlap derivation from a (segment, __sk) frame. Split out
    * because the STREAMING twin materializes the same sketch frame from
    * its state store and must derive the identical output — the bit-exact
    * stream ≡ batch gate depends on the two paths sharing this code.
    *
    * The `<` self-join runs on the segment-count-sized sketch frame (a
    * deliberate broadcast nested-loop over s rows, s = segments, yielding
    * C(s,2) pairs) — bounded by construction, never row-scale. */
  def pairOverlapFromSketches(sk: DataFrame): DataFrame =
    // |segments|-row sketch frame on BOTH sides — broadcast explicitly so
    // the bounded non-equi self-join plans as a BNLJ even when the frame
    // sits under a subtree the planner cannot size (window-heavy inputs
    // otherwise fall back to a shuffled CartesianProduct)
    sk.select(col("segment").as("seg_a"), col("__sk").as("__ska"))
      .join(broadcast(sk.select(col("segment").as("seg_b"), col("__sk").as("__skb"))),
        col("seg_a") < col("seg_b"))
      .select(col("seg_a"), col("seg_b"),
        kmvSetOp(col("__ska"), col("__skb")).as("__o"))
      .select(col("seg_a"), col("seg_b"),
        col("__o.union_est").as("union_est"),
        col("__o.intersect_est").as("intersect_est"),
        col("__o.diff_ab_est").as("diff_ab_est"),
        col("__o.jaccard_ppm").as("jaccard_ppm"))

  /** Estimated union/intersection/difference/Jaccard for every ordered
    * segment pair (seg_a < seg_b). */
  def pairOverlap(df: DataFrame, segCol: String, valueCol: String,
                  k: Int): DataFrame =
    pairOverlapFromSketches(segmentSketches(df, segCol, valueCol, k))

  /** Exact oracled sibling, same shape. Jaccard in ppm via pure INTEGER
    * arithmetic — `(1e6 · i) div u` — so the oracle can reproduce it
    * bit-for-bit with integer division (no float rounding-mode drift).
    * This is the pre-sketch shape whose value-level self-join motivates
    * the sketch: correct, and quadratic in distinct pairs per value. */
  def pairOverlapExact(df: DataFrame, segCol: String,
                       valueCol: String): DataFrame = {
    val sv = df.filter(col(valueCol).isNotNull)
      .select(col(segCol).cast("string").as("segment"),
        col(valueCol).cast("long").as("v"))
      .distinct()
    val sizes = sv.groupBy(col("segment")).agg(count(lit(1)).as("sz"))
    val inter = sv.as("a").join(sv.as("b"),
        col("a.v") === col("b.v") && col("a.segment") < col("b.segment"))
      .groupBy(col("a.segment").as("seg_a"), col("b.segment").as("seg_b"))
      .agg(count(lit(1)).as("i"))
    // LEFT join from all pairs: disjoint segment pairs are real rows with
    // intersection 0, not silently dropped ones
    // same bounded-side broadcast rationale as pairOverlapFromSketches
    val pairs = sizes.select(col("segment").as("seg_a"), col("sz").as("sza"))
      .join(broadcast(sizes.select(col("segment").as("seg_b"), col("sz").as("szb"))),
        col("seg_a") < col("seg_b"))
      .join(inter, Seq("seg_a", "seg_b"), "left")
      .withColumn("i", coalesce(col("i"), lit(0L)))
    pairs.select(col("seg_a"), col("seg_b"),
      (col("sza") + col("szb") - col("i")).as("union_cnt"),
      col("i").as("intersect_cnt"),
      (col("sza") - col("i")).as("diff_ab_cnt"),
      expr("(1000000 * i) div (sza + szb - i)").as("jaccard_ppm"))
  }

  /** In-engine gate for [[pairOverlap]], two properties:
    *   - ERROR BOUND: every union/intersection/difference estimate within
    *     6·RSE·|A∪B| of exact (absolute error of the θ*-sampled
    *     counts scales with the UNION size, the sampled domain — an
    *     intersection near 0 still carries union-scale noise), and the
    *     Jaccard within 6·½/√k (binomial proportion over the ~k
    *     pooled candidates); +1 slack absorbs the two rounding steps.
    *   - MERGE CONSISTENCY: the union-merge of the per-segment sketches
    *     must be BYTE-IDENTICAL to one direct global sketch — the k
    *     smallest distinct hashes are a pure function of the input set,
    *     so any grouping of the same rows yields the same bytes (the
    *     determinism that makes stored per-segment sketches a trustworthy
    *     overlap lattice).
    * Violations only; oracle = empty relation. */
  def pairOverlapViolations(df: DataFrame, segCol: String, valueCol: String,
                            k: Int): DataFrame = {
    val sigmas = 6.0
    val rse = graft.expr.KmvBuffer.rse(k)
    val est = pairOverlap(df, segCol, valueCol, k)
      .withColumnRenamed("jaccard_ppm", "jaccard_est_ppm")
    val exact = pairOverlapExact(df, segCol, valueCol)
      .withColumnRenamed("jaccard_ppm", "jaccard_exact_ppm")
    val joined = est.join(exact, Seq("seg_a", "seg_b"), "full_outer")
    val cntBound = lit(sigmas * rse) * col("union_cnt").cast("double") + lit(1.0)
    val jacBound = lit(sigmas * 0.5 / math.sqrt(k.toDouble) * 1e6) + lit(1.0)
    def over(e: String, x: String, bound: Column, issue: String) =
      joined.filter(col(e).isNull || col(x).isNull ||
          abs(col(e) - col(x)).cast("double") > bound)
        .select(col("seg_a"), col("seg_b"), lit(issue).as("issue"))
    val errors = over("union_est", "union_cnt", cntBound, "union_bound")
      .unionAll(over("intersect_est", "intersect_cnt", cntBound,
        "intersect_bound"))
      .unionAll(over("diff_ab_est", "diff_ab_cnt", cntBound, "diff_bound"))
      .unionAll(over("jaccard_est_ppm", "jaccard_exact_ppm", jacBound,
        "jaccard_bound"))
    val sk = segmentSketches(df, segCol, valueCol, k)
    val merged = sk.agg(kmvMerge(col("__sk")).as("__m"))
    val direct = df.filter(col(valueCol).isNotNull)
      .agg(kmvSketch(col(valueCol).cast("long"), k).as("__g"))
    val consistency = merged.crossJoin(broadcast(direct))
      .filter(md5(col("__m")) =!= md5(col("__g")))
      .select(lit("__GLOBAL__").as("seg_a"), lit("__GLOBAL__").as("seg_b"),
        lit("merge_vs_direct").as("issue"))
    errors.unionAll(consistency)
  }
}
