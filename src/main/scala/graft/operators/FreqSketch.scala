package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.expr.{CmsEstimate, CmsInnerProduct, CmsMergeAgg, CmsSketchAgg}

/** Dataset-API face of the native Count-Min sketch
  * ([[graft.expr.CountMinAggregate]]) — point-frequency estimates over a
  * bounded depth×width counter grid. Completes the native sketch family:
  * Misra–Gries answers "which items are heavy", HLL answers "how many
  * distinct", CMS answers "how often did THIS item occur" for probe items
  * chosen AFTER the scan — the ad-hoc frequency lookup a 100 TB log store
  * cannot answer exactly without a per-key shuffle.
  *
  * Default shape depth=10, width=2048: 160 KB of state, ε = e/2048 ≈
  * 0.13% of n additive error at confidence 1 − e⁻¹⁰ per probe.
  */
object FreqSketch {

  private val Depth = 10
  private val Width = 2048

  def cmsSketch(itemCol: Column, depth: Int, width: Int): Column =
    ColumnBridge.column(CmsSketchAgg(
      ColumnBridge.expression(itemCol), depth, width).toAggregateExpression())

  def cmsMerge(sketchCol: Column): Column =
    ColumnBridge.column(CmsMergeAgg(
      ColumnBridge.expression(sketchCol)).toAggregateExpression())

  def cmsEstimate(sketchCol: Column, itemCol: Column): Column =
    ColumnBridge.column(CmsEstimate(
      ColumnBridge.expression(sketchCol), ColumnBridge.expression(itemCol)))

  def cmsInner(a: Column, b: Column): Column =
    ColumnBridge.column(CmsInnerProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Estimated EQUI-JOIN CARDINALITY |A ⋈ₖ B| from two CMS sketches —
    * the optimizer's pre-join question (broadcast? shuffle? salt?)
    * answered WITHOUT running the join: each side folds to one
    * depth×width grid (map-side partial aggregation; at a warehouse the
    * sketches would already be stored per table/partition), and the
    * estimate is one sketch-pair inner product. Never underestimates;
    * overcount within e·nA·nB/width w.p. 1−exp(−depth).
    * Output (one row): (n_a, n_b, est). */
  def joinSizeEstimate(dfA: DataFrame, keyA: String, dfB: DataFrame,
                       keyB: String, depth: Int = 8,
                       width: Int = 8192): DataFrame = {
    def side(df: DataFrame, key: String, alias: String) =
      df.filter(col(key).isNotNull)
        .agg(cmsSketch(col(key).cast("long"), depth, width).as(alias))
    side(dfA, keyA, "__a").crossJoin(side(dfB, keyB, "__b"))
      .select(cmsInner(col("__a"), col("__b")).as("__o"))
      .select(col("__o.n_a").as("n_a"), col("__o.n_b").as("n_b"),
        col("__o.est").as("est"))
  }

  /** Gate for [[joinSizeEstimate]] against the true join count:
    *   - UNDERCOUNT: `est < true` is impossible by construction
    *     (colliding keys only ADD to every row's dot product);
    *   - OVERCOUNT: `est > true + e·nA·nB/width` — the published
    *     bound holds per row with constant probability and the min over
    *     `depth` independent rows misses with ~exp(−depth).
    * Violations only; oracle = empty relation. */
  def joinSizeViolations(dfA: DataFrame, keyA: String, dfB: DataFrame,
                         keyB: String, depth: Int = 8,
                         width: Int = 8192): DataFrame = {
    val est = joinSizeEstimate(dfA, keyA, dfB, keyB, depth, width)
    val exact = dfA.select(col(keyA).cast("long").as("__k"))
      .filter(col("__k").isNotNull)
      .join(dfB.select(col(keyB).cast("long").as("__k"))
        .filter(col("__k").isNotNull), Seq("__k"))
      .agg(count(lit(1)).as("true_size"))
    est.crossJoin(exact)
      .select(col("n_a"), col("n_b"), col("est"), col("true_size"),
        (col("true_size").cast("double") + lit(math.E / width) *
          col("n_a").cast("double") * col("n_b").cast("double")).as("__hi"))
      .select(
        when(col("est") < col("true_size"), lit("undercount"))
          .when(col("est").cast("double") > col("__hi"), lit("overcount"))
          .as("issue"))
      .filter(col("issue").isNotNull)
      .select(lit("__GLOBAL__").as("subject"), col("issue"))
  }

  /** CMS estimates for the exact top-`k` items: the probe set comes from
    * the exact counts (deterministic (cnt desc, item) order), the ONE-ROW
    * sketch frame is crossed into it — estimation happens per probe item,
    * never per input row. Output: (item, exact_cnt, est_cnt). */
  def topItemEstimates(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    val items = df.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("long").as("item"))
    probeTopK(items, items.agg(cmsSketch(col("item"), Depth, Width).as("__sk")), k)
  }

  /** Exact-top-`k` probe of a ONE-ROW (`__sk`) sketch frame. Split out
    * because the STREAMING twin materializes the same sketch from its
    * state store and must derive the identical output shape — its
    * bit-exact stream ≡ batch gate depends on sharing this code. */
  def probeTopK(items: DataFrame, sketchFrame: DataFrame, k: Int): DataFrame = {
    val top = items.groupBy(col("item")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("item")).limit(k)
    top.crossJoin(sketchFrame)
      .select(col("item"), col("exact_cnt"),
        cmsEstimate(col("__sk"), col("item")).as("est_cnt"))
  }

  /** In-engine gate over EVERY distinct item (affordable at oracle scale —
    * that is the point of gating the sketch instead of shipping exact):
    *   - UNDERCOUNT: `est < true` is impossible by construction (counters
    *     only ever add) — any hit is a hard bug;
    *   - OVERCOUNT: `est > true + 2·e·n/width` — the CMS bound holds
    *     per item with probability 1 − exp(−depth); the slack of 2 pushes the
    *     residual failure probability far below one expected hit at
    *     fixture scale (Markov on the per-row excess);
    *   - MERGE ≠ DIRECT: per-segment sketches summed must be BYTE-equal to
    *     the one-pass global sketch (elementwise sum is associative and
    *     commutative, and the carried n adds up) — the mergeability
    *     contract itself, the same gate the HLL lattice carries.
    * Violations only; oracle = empty relation. */
  def violations(df: DataFrame, itemCol: String, segCol: String): DataFrame = {
    val items = df.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("long").as("item"),
        col(segCol).cast("string").as("seg"))
    val exact = items.groupBy(col("item")).agg(count(lit(1)).as("true_cnt"))
    val direct = items.agg(cmsSketch(col("item"), Depth, Width).as("__sk"),
      count(lit(1)).as("n"))
    val bound = lit(2.0 * math.E / Width) * col("n").cast("double")
    val est = exact.crossJoin(direct)
      .select(col("item"), col("true_cnt"),
        cmsEstimate(col("__sk"), col("item")).as("est_cnt"), bound.as("__b"))
    val itemViolations = est
      .select(col("item").cast("string").as("subject"), when(
          col("est_cnt") < col("true_cnt"), lit("undercount"))
        .when(col("est_cnt").cast("double") >
          col("true_cnt").cast("double") + col("__b"), lit("overcount"))
        .as("issue"))
      .filter(col("issue").isNotNull)
    val merged = items.groupBy(col("seg"))
      .agg(cmsSketch(col("item"), Depth, Width).as("__s"))
      .agg(cmsMerge(col("__s")).as("__m"))
    // Guard on n > 0: over an empty/all-null input the merged path's global
    // agg sees zero per-segment rows and emits the 16-byte zero-state marker
    // sketch, while the direct path emits a full depth×width zero sketch —
    // byte-unequal but both correctly empty, so the contract is vacuous.
    val mergeViolation = merged
      .crossJoin(direct.select(col("__sk"), col("n")))
      .filter(col("n") > 0 && md5(col("__m")) =!= md5(col("__sk")))
      .select(lit("__GLOBAL__").as("subject"),
        lit("merge_vs_direct").as("issue"))
    itemViolations.unionAll(mergeViolation)
  }
}
