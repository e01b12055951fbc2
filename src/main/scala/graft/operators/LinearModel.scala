package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed linear regression by NORMAL EQUATIONS — the trainable
  * quality-scorer shape (fit interpretable feature weights on corpus
  * statistics, score every document): the same at-scale split as
  * [[VectorStats.pcaComponents]]. Data-sized work stays in-engine as ONE
  * fixed-point Gram aggregation over the augmented vector
  * [1, x₁…xₚ, y] (so X'X, X'y and y'y all come from one triangle);
  * only the (p+1)²-sized system reaches the driver, where Gaussian
  * elimination with partial pivoting (+ optional ridge λ) solves for w.
  *
  * The fixed-point moment contract ([[VectorStats.gramSums]]:
  * Σ floor(vᵢ·vⱼ·grid) as longs) is what makes the moments engine- and
  * order-reproducible — hash-oracleable — at the price of a bounded
  * quantization: each moment entry is off by at most n/grid, so the
  * fitted w satisfies the TRUE normal equations only up to
  * |X'(y−Xw)|ⱼ ≤ (n/grid)·(1+Σ|w|) per coefficient. The harness verify
  * query re-derives that gradient in-engine and flags any coefficient
  * outside 4× the bound — solver bugs (wrong pivot, index slip, sign)
  * blow the bound by orders of magnitude, quantization never does. */
object LinearModel {

  /** Fitted model: intercept-first coefficients plus the fit context the
    * verification bound needs. A ridge fit solves (A+λI)w = b, so the
    * UNPENALIZED gradient [[gradientSums]] measures is λ·wⱼ per feature,
    * not ~0 — the bound carries the λ·max|w| term so the gate stays valid
    * for ridged fits too. */
  final case class Fit(weights: Array[Double], n: Long, grid: Double,
                       ridge: Double) {
    def gradientBound: Double =
      n / grid * (1.0 + weights.iterator.map(math.abs).sum) +
        ridge * weights.iterator.map(math.abs).max
  }

  /** Fixed-point scale of the moments [[fit]] solves from. */
  private val Grid = 1e6

  /** The augmented [1, features…, y] vector column. */
  private def augmented(featureCols: Seq[String], yCol: String): Column =
    array((lit(1.0) +: featureCols.map(c => col(c).cast("double")) :+
      col(yCol).cast("double")): _*)

  /** Fixed-point moment sums of the augmented vector — the distributed
    * half, exactly [[VectorStats.gramSums]] over [1, x…, y]. Exposed so
    * the harness can oracle the moments the fit consumes. */
  def moments(df: DataFrame, featureCols: Seq[String], yCol: String,
              grid: Double = Grid): DataFrame =
    VectorStats.gramSums(
      df.select(augmented(featureCols, yCol).as("fv")), "fv", grid)

  /** Fit w for y ≈ w₀ + Σ wᵢ·xᵢ from the distributed moments. `ridge`
    * adds λ to every feature's (not the intercept's) diagonal entry. */
  def fit(df: DataFrame, featureCols: Seq[String], yCol: String,
          ridge: Double = 0.0): Fit = {
    val p = featureCols.length + 1
    val rows = moments(df, featureCols, yCol, Grid).collect()
    require(rows.nonEmpty, "LinearModel.fit: empty input")
    val n = rows.head.getAs[Long]("n")
    val m = Array.ofDim[Double](p + 1, p + 1) // augmented incl. y slot
    rows.foreach { r =>
      val (i, j) = (r.getAs[Long]("i").toInt, r.getAs[Long]("j").toInt)
      val v = r.getAs[java.math.BigDecimal]("qsum").doubleValue() / Grid
      m(i)(j) = v; m(j)(i) = v
    }
    // A = X'X (p×p block), b = X'y (last column's first p entries)
    val a = Array.tabulate(p, p)((i, j) =>
      m(i)(j) + (if (i == j && i > 0) ridge else 0.0))
    val b = Array.tabulate(p)(i => m(i)(p))
    Fit(solve(a, b), n, Grid, ridge)
  }

  /** In-place Gaussian elimination with partial pivoting — (p+1)² driver
    * work, never data-sized. */
  private[operators] def solve(a: Array[Array[Double]],
                               b: Array[Double]): Array[Double] = {
    val p = a.length
    val w = b.clone()
    val mat = a.map(_.clone())
    // Singularity threshold relative to each COLUMN's own scale in the
    // original matrix: moment entries grow as n·feature², so a cancelled
    // pivot retains elimination roundoff of order ulp of its column norm
    // — an absolute 1e-12 misses exact collinearity on large matrices and
    // false-alarms on tiny-unit ones, while a single GLOBAL scale would
    // reject well-conditioned systems whose features merely live in
    // disparate units (a 1e-6-scale column is not singular just because
    // another column is 1e+6-scale).
    val colScale = Array.tabulate(p)(k =>
      math.max(1e-300, (0 until p).iterator.map(i => math.abs(a(i)(k))).max))
    for (k <- 0 until p) {
      var piv = k
      for (r <- k + 1 until p) if (math.abs(mat(r)(k)) > math.abs(mat(piv)(k))) piv = r
      require(math.abs(mat(piv)(k)) > 1e-10 * colScale(k),
        s"LinearModel.solve: singular system at column $k — drop collinear " +
          "features or add ridge")
      if (piv != k) { val t = mat(piv); mat(piv) = mat(k); mat(k) = t
        val tb = w(piv); w(piv) = w(k); w(k) = tb }
      for (r <- k + 1 until p) {
        val f = mat(r)(k) / mat(k)(k)
        for (c2 <- k until p) mat(r)(c2) -= f * mat(k)(c2)
        w(r) -= f * w(k)
      }
    }
    for (k <- p - 1 to 0 by -1) {
      var s = w(k)
      for (c2 <- k + 1 until p) s -= mat(k)(c2) * w(c2)
      w(k) = s / mat(k)(k)
    }
    w
  }

  /** Score every row: ŷ = w₀ + Σ wᵢ·xᵢ plus the residual — plain codegen
    * arithmetic on literal weights, no shuffle, no UDF. */
  def withPrediction(df: DataFrame, featureCols: Seq[String], yCol: String,
                     fit: Fit): DataFrame = {
    val yHat = featureCols.zipWithIndex.foldLeft(lit(fit.weights(0)): Column) {
      case (acc, (c, i)) => acc + lit(fit.weights(i + 1)) * col(c).cast("double")
    }
    df.withColumn("y_hat", yHat)
      .withColumn("residual", col(yCol).cast("double") - col("y_hat"))
  }

  /** Per-coefficient normal-equation gradient Σ xⱼ·(y − ŷ), re-derived
    * IN-ENGINE under the same fixed-point contract — the verification
    * companion of [[fit]]. Output: (j, qgrad, n) with qgrad the
    * quantized-long gradient sum; |qgrad|/grid must stay within
    * [[Fit.gradientBound]] (up to its own quantization, another n/grid). */
  def gradientSums(df: DataFrame, featureCols: Seq[String], yCol: String,
                   fit: Fit): DataFrame = {
    val scored = withPrediction(df, featureCols, yCol, fit)
    val feats = lit(1.0) +: featureCols.map(c => col(c).cast("double"))
    val terms = array(feats.zipWithIndex.map { case (f, j) =>
      struct(lit(j).cast("long").as("j"),
        floor(f * col("residual") * fit.grid).cast("long").as("q"))
    }: _*)
    scored.select(explode(terms).as("__t"))
      .select(col("__t.j").as("j"), col("__t.q").as("__q"))
      .groupBy(col("j"))
      // decimal for the same reason as gramSums: char-scale terms reach
      // ~1e10/row and a long sum would wrap silently past ~1e9 rows
      .agg(sum(col("__q").cast("decimal(38,0)")).as("qgrad"),
        count(lit(1)).as("n"))
  }

  /** Per-GROUP simple OLS as pure integer sufficient statistics: one
    * map-side-combining shuffle on the group key carrying the six moment
    * sums (n, Σx, Σy, Σx², Σy², Σxy), from which slope and intercept are
    * closed-form — thousands of independent regressions in one pass, no
    * per-group solver, no driver loop. Everything stays BIGINT so the
    * result hashes identically cross-engine: slope_num/slope_den are the
    * exact rational slope (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), and
    * slope_milli its integer-division rendering in thousandths (NULL for
    * a degenerate group with zero x-variance).
    *
    * Overflow bound: pre-scale inputs so n·max(Σy², Σxy) < 2⁶³ — e.g.
    * whole currency units, not cents, and an epoch-offset year. The
    * moments ladder to coarser groupings by plain addition (they are the
    * scalar case of [[moments]]' Gram matrix), so per-group rows can be
    * stored and re-aggregated without rescanning. */
  def groupedOls(df: DataFrame, groupCol: String, x: Column,
                 y: Column): DataFrame =
    df.select(col(groupCol).cast("string").as("grp"),
        x.cast("long").as("__x"), y.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"),
        sum(col("__x") * col("__y")).as("sxy"))
      .select(col("grp"), col("n"), col("sx"), col("sy"),
        col("sxx"), col("syy"), col("sxy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      // `div` TRUNCATES toward zero — measured to agree with DuckDB's `//`
      // on negative quotients (-7 // 2 = -3 there, not Python's -4), which
      // matters because slope_num is legitimately negative for falling
      // trends. slope_den ≥ 0 always (Cauchy–Schwarz); zero guard only.
      .withColumn("slope_milli", when(col("slope_den") =!= 0L,
        expr("(1000 * slope_num) div slope_den")))
}
