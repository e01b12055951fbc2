package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group statistics over an `Array[Float]` embedding column — the
  * building blocks of centroid-based vector workflows (IVF training,
  * cluster drift monitoring, class prototypes for dataset pruning à la
  * SemDeDup/SSL-prototypes).
  *
  * Scale shape: `posexplode` multiplies rows by the dimension (64× here),
  * but the exploded frame is three narrow columns (group, pos, value) and
  * aggregates with map-side partial combine on (group, pos) — one shuffle
  * whose key space is |groups|·dim, independent of corpus size. No
  * collect, no UDF; everything stays in whole-stage codegen.
  */
object VectorStats {

  /** Fixed-point scale of every quantized sum here (`floor(v · Grid)`). */
  private val Grid = 1e6

  /** Element-wise FIXED-POINT sum + member count per (group, 1-based
    * position). Each value is quantized once — `floor(v · grid)` in double
    * arithmetic — and aggregated as a long. Integer addition is associative
    * and commutative, so the result is independent of partition layout and
    * merge order: bit-reproducible across runs, partitionings, AND engines
    * (floor of the same IEEE-754 product is the same long everywhere —
    * unlike float→decimal casts, whose last-digit rounding is
    * engine-specific, and unlike double sums, which are merge-order-
    * dependent). This is the reproducible-reduction trick production
    * pipelines use for auditable aggregates at cluster scale; quantization
    * error is bounded by 1/grid per element and is part of the contract.
    *
    * Output: (group, pos, qsum, n, mean) where `mean = qsum / grid / n`
    * — a fixed operation order on deterministic operands, so the double
    * mean is reproducible too. */
  def centroidSums(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("__p", "__v")))
      .select(col(groupCol), (col("__p") + 1).cast("long").as("pos"),
        floor(col("__v").cast("double") * Grid).cast("long").as("__q"))
      .groupBy(col(groupCol), col("pos"))
      .agg(sum(col("__q")).as("qsum"), count(lit(1)).as("n"))
      .withColumn("mean",
        col("qsum").cast("double") / Grid / col("n").cast("double"))

  /** Per-group mean vector as `Array[Double]`, assembled back into one row
    * per group (the form IVF seeding / prototype lookup consumes). Plain
    * double math — the fast in-engine path; for bit-reproducible output
    * use [[centroidSums]]. */
  def centroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col(groupCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("centroid"))

  /** Upper-triangle Gram-matrix sums in the same fixed-point contract as
    * [[centroidSums]]: entry (i, j), i <= j 0-based, carries
    * `qsum = Σ_rows floor(v_i · v_j · grid)` plus the row count — the
    * second moment a distributed covariance/PCA needs, engine- and
    * order-reproducible (the product of two IEEE doubles is the same
    * double everywhere; floor → long; long sums commute).
    *
    * Scale shape: the pair explode is d(d+1)/2 per row (2080 at d=64) but
    * the rows are three narrow ints/longs and flow straight into a
    * map-side-combined aggregate whose key space is d(d+1)/2 — the
    * shuffle is dimension-sized, independent of corpus size. The nested
    * transform runs over a BOUND array column (the HOF re-evaluation
    * trap), entirely in codegen; no UDF. */
  def gramSums(df: DataFrame, vecCol: String, grid: Double = Grid): DataFrame = {
    val c = col("__v")
    df.select(col(vecCol).as("__v"))
      .select(explode(flatten(transform(sequence(lit(0), size(c) - 1), i =>
        transform(sequence(i, size(c) - 1), j =>
          struct(i.cast("long").as("i"), j.cast("long").as("j"),
            floor(element_at(c, (i + lit(1)).cast("int")).cast("double") *
              element_at(c, (j + lit(1)).cast("int")).cast("double") * grid)
              .cast("long").as("q")))))).as("__p"))
      .select(col("__p.i").as("i"), col("__p.j").as("j"), col("__p.q").as("__q"))
      .groupBy(col("i"), col("j"))
      // decimal(38,0), not long: per-row terms are bounded by max(v)²·grid,
      // and for char-count-sized features (~1e3 → 1e12/row) a long sum
      // wraps silently past ~1e7 rows while DuckDB's HUGEINT sum stays
      // exact — the decimal sum matches the oracle digit-for-digit to 1e38
      .agg(sum(col("__q").cast("decimal(38,0)")).as("qsum"), count(lit(1)).as("n"))
  }

  /** Embedding-norm outlier flags — the cheap vector-quality gate run
    * before any similarity work (truncated/zeroed vectors at the bottom,
    * un-normalized or corrupted ones at the top). The squared norm is
    * computed in the fixed-point contract (`Σ floor(v²·grid)` per row — a
    * pure HOF fold, deterministic in every engine), percentile thresholds
    * come from the same exact interpolated `percentile` the oracle mirrors
    * with `quantile_cont`, and the flags are plain comparisons. One tiny
    * aggregate broadcast back; no shuffle of the vectors themselves. */
  def normOutliers(df: DataFrame, idCol: String, vecCol: String,
                   lowPct: Double = 0.01, highPct: Double = 0.99): DataFrame = {
    require(lowPct >= 0 && highPct <= 1 && lowPct < highPct)
    val q = df.select(col(idCol),
      aggregate(
        transform(col(vecCol),
          v => floor(v.cast("double") * v.cast("double") * Grid).cast("long")),
        lit(0L), (acc, x) => acc + x).as("qnorm2"))
    val thr = q.agg(
      percentile(col("qnorm2"), typedlit(Seq(lowPct, highPct))).as("__t"))
    q.crossJoin(broadcast(thr))
      .select(col(idCol), col("qnorm2"),
        (col("qnorm2").cast("double") < element_at(col("__t"), 1)).as("is_low"),
        (col("qnorm2").cast("double") > element_at(col("__t"), 2)).as("is_high"))
  }

  /** PCA from distributed moments: mean vector and d×d second-moment
    * matrix aggregate in-engine (double sums — internal math, no
    * cross-engine contract), then the d×d covariance eigenproblem is
    * solved ON THE DRIVER with cyclic Jacobi rotations (Golub & Van Loan
    * §8.5) — the classic at-scale split: data-sized work distributed,
    * dimension-sized work (d² doubles, d ≪ 10⁴) local. Returns
    * (mean, eigenvalues desc, row-major eigenvectors) of the top-k.
    *
    * Two passes over the input (mean+moment could fuse into one explode;
    * kept separate for clarity — both are map-side-combined shuffles of
    * dimension-sized key spaces). */
  def pcaComponents(df: DataFrame, vecCol: String,
                    k: Int): (Array[Double], Array[Double], Array[Array[Double]]) = {
    val c = col("__v")
    val moments = df.select(col(vecCol).as("__v"))
      .select(explode(flatten(transform(sequence(lit(0), size(c) - 1), i =>
        transform(sequence(i, size(c) - 1), j =>
          struct(i.as("i"), j.as("j"),
            (element_at(c, (i + lit(1)).cast("int")).cast("double") *
              element_at(c, (j + lit(1)).cast("int")).cast("double")).as("p"),
            when(j === i, element_at(c, (i + lit(1)).cast("int")).cast("double"))
              .otherwise(lit(0.0)).as("v")))))).as("__e"))
      .select(col("__e.i").as("i"), col("__e.j").as("j"),
        col("__e.p").as("p"), col("__e.v").as("v"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p")).as("sp"), sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .collect() // d(d+1)/2 rows — dimension-sized, bounded by design
    require(moments.nonEmpty, "pcaComponents: empty input")
    // Ragged inputs are an ERROR, not a silent mis-estimate: a shorter
    // vector contributes to fewer (i,j) cells, so its cells carry a
    // smaller n and the covariance normalization would silently mix
    // denominators. Equal counts across every cell <=> every vector has
    // the same dimension (each must reach the max-j cell), after which
    // reading n from any row is order-independent.
    val cellCounts = moments.iterator.map(_.getAs[Long]("n")).toSet
    require(cellCounts.size == 1,
      s"pcaComponents: ragged vector lengths — per-cell counts differ " +
        s"(${cellCounts.toSeq.sorted.mkString(", ")}); all input vectors " +
        "must share one dimension")
    val d = moments.iterator.map(_.getAs[Int]("j")).max + 1
    val n = cellCounts.head.toDouble
    val mean = new Array[Double](d)
    val cov = Array.ofDim[Double](d, d)
    moments.foreach { r =>
      val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
      cov(i)(j) = r.getAs[Double]("sp") / n
      cov(j)(i) = cov(i)(j)
      if (i == j) mean(i) = r.getAs[Double]("sv") / n
    }
    for (i <- 0 until d; j <- 0 until d) cov(i)(j) -= mean(i) * mean(j)
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(i => -evals(i)).take(k)
    (mean, order.map(evals).toArray, order.map(evecs).toArray)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: rotate away
    * the largest off-diagonal entries until convergence. O(d³) per sweep,
    * fine for d ≤ a few thousand — this runs on the driver over a
    * dimension-sized matrix, never over data. The loop has a fixed bound
    * of 64 sweeps and a fixed off-diagonal tolerance of 1e-12. Returns
    * (eigenvalues, row-major eigenvectors). */
  private[operators] def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val maxSweeps = 64
    val tol = 1e-12
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > tol) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > tol) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          // sign(0) must be +1 here: equal diagonal entries (theta = 0)
          // still need the full 45-degree rotation, not a no-op
          val sgn = if (theta >= 0.0) 1.0 else -1.0
          val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val cos = 1.0 / math.sqrt(t * t + 1.0)
          val sin = t * cos
          for (i <- 0 until d) {
            val (aip, aiq) = (a(i)(p), a(i)(q))
            a(i)(p) = cos * aip - sin * aiq
            a(i)(q) = sin * aip + cos * aiq
          }
          for (i <- 0 until d) {
            val (api, aqi) = (a(p)(i), a(q)(i))
            a(p)(i) = cos * api - sin * aqi
            a(q)(i) = sin * api + cos * aqi
          }
          for (i <- 0 until d) {
            val (vip, viq) = (v(i)(p), v(i)(q))
            v(i)(p) = cos * vip - sin * viq
            v(i)(q) = sin * vip + cos * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), Array.tabulate(d)(i => Array.tabulate(d)(j => v(j)(i))))
  }

  /** Project each vector onto the top-k principal components (centered
    * dot products) — whitening-lite before cosine dedup, à la the
    * SemDeDup-style pipelines. The k×d component matrix and mean ship as
    * LITERAL arrays inside the plan (dimension-sized, not data) and the
    * projection is pure HOF arithmetic over a bound centered column —
    * codegen, no UDF, no shuffle. */
  def pcaProject(df: DataFrame, vecCol: String, outCol: String,
                 k: Int): DataFrame = {
    val (mean, _, comps) = pcaComponents(df, vecCol, k)
    pcaProject(df, vecCol, outCol, mean, comps)
  }

  /** Persist a solved PCA basis as plain parquet: one row per component
    * (kind='comp', idx=rank) plus the mean row (kind='mean') — doubles
    * round-trip parquet bit-exactly, so a reloaded basis projects
    * identically to the solve-fresh one (spec-pinned). */
  def savePcaBasis(spark: org.apache.spark.sql.SparkSession,
                   mean: Array[Double], comps: Array[Array[Double]],
                   path: String): Unit = {
    import spark.implicits._
    (("mean", -1, mean.toSeq) +:
        comps.toSeq.zipWithIndex.map { case (c, i) => ("comp", i, c.toSeq) })
      .toDF("kind", "idx", "vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Rebuild (mean, components) from [[savePcaBasis]] output. */
  def loadPcaBasis(spark: org.apache.spark.sql.SparkSession,
                   path: String): (Array[Double], Array[Array[Double]]) = {
    val rows = spark.read.parquet(path).collect()
    val mean = rows.find(_.getAs[String]("kind") == "mean")
      .map(_.getAs[Seq[Double]]("vec").toArray)
      .getOrElse(throw new IllegalStateException(s"no mean row in $path"))
    val comps = rows.filter(_.getAs[String]("kind") == "comp")
      .sortBy(_.getAs[Int]("idx"))
      .map(_.getAs[Seq[Double]]("vec").toArray)
    (mean, comps)
  }

  /** Projection against ALREADY-SOLVED components — callers that need the
    * (mean, comps) themselves (verification, reuse across frames) pass
    * them here instead of paying the O(n·d²) moment aggregation twice;
    * two projections from one solve are then bitwise-identical. */
  def pcaProject(df: DataFrame, vecCol: String, outCol: String,
                 mean: Array[Double], comps: Array[Array[Double]]): DataFrame = {
    val meanLit = typedlit(mean.toSeq)
    val compsLit = typedlit(comps.map(_.toSeq).toSeq)
    // the size() guard is a second syntactic reference to __ctr: with only
    // one, CollapseProject inlines the centering INTO the component lambda
    // and re-centers once per component (the measured HOF re-eval trap)
    df.withColumn("__ctr",
        zip_with(col(vecCol), meanLit, (x, m) => x.cast("double") - m))
      .withColumn(outCol,
        when(size(col("__ctr")) < 0, typedlit(Seq.empty[Double]))
          .otherwise(transform(compsLit, comp =>
            aggregate(zip_with(col("__ctr"), comp, (a, b) => a * b),
              lit(0.0), (acc, x) => acc + x))))
      .drop("__ctr")
  }
}
