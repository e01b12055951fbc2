package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Distributed Lloyd k-means over an embedding column — the first-class
  * clustering operator (corpus topic cells, SemDeDup-style bucketing, IVF
  * coarse quantizers all sit on this primitive; [[IvfIndex]] trains on a
  * bounded driver SAMPLE, this is the full in-engine variant).
  *
  * Spark-first shape, per iteration:
  *   - assignment is a NARROW codegen projection: per row, argmin over k
  *     literal centroid arrays via `array_min` of (distance, cluster)
  *     structs — no crossJoin, no window, no shuffle;
  *   - the update is ONE (cluster, pos)-keyed aggregation (map-side
  *     combined to k·d groups) followed by a k·d-bounded driver collect —
  *     the MLlib iteration shape, driver state is centroids only.
  * At 100 TB each iteration costs one scan + one tiny agg; the input
  * projection is checkpointed once so iterations do not re-read the source.
  *
  * Determinism (cross-engine, the reason this is ORACLED unlike any
  * stock k-means): inputs are quantized to 6dp decimal, so squared
  * distances are EXACT decimal arithmetic — argmin ties break on cluster
  * id, bit-for-bit reproducible in any engine. Centroid updates round
  * sum/count to 6dp (double division of exact decimal sums — the
  * q_vec_centroid contract). Initial centroids are the vectors of the k
  * smallest ids: deterministic, re-derivable in SQL.
  *
  * Input contract (loud gate): all vectors share one dimension and contain
  * no nulls, and |x| < 1000 so the 6dp quantization cannot overflow — a
  * violating row fails fast instead of silently poisoning every distance
  * (under ANSI mode the overflow throws at the quantize projection itself;
  * the ragged/null gate below catches the rest).
  */
object KMeansOp {

  private val QuantType = "decimal(9,6)"

  private def quantize(vecCol: Column): Column =
    transform(vecCol, x => round(x.cast("double"), 6).cast(QuantType))

  /** Exact-decimal squared distance between the bound quantized vector
    * column and a literal centroid. The accumulator is decimal(26,12): the
    * merge (26,12)+(21,12) widens to (27,12) — still EXACT, under Spark's
    * 38-precision ceiling where scale would start getting dropped — and
    * the cast back to (26,12) is exact while the running sum stays below
    * 10^14, guaranteed by the |x| < 1000 input gate (d·(2·10^3)^2 ≤ 4·10^8
    * per the dimension bound d ≤ 10^5). */
  private def d2(vq: Column, centroid: Seq[JBigDecimal]): Column = {
    val carr = array(centroid.map(b => lit(b).cast(QuantType)): _*)
    aggregate(zip_with(vq, carr, (a, b) => (a - b) * (a - b)),
      lit(JBigDecimal.ZERO).cast("decimal(26,12)"),
      (acc, x) => (acc + x).cast("decimal(26,12)"))
  }

  /** Run `iters` Lloyd iterations with k clusters; returns one row per
    * input id: (idCol, cluster ∈ 1..k, d2) where d2 is the final squared
    * distance to the winning centroid, rounded to 6dp. */
  def lloyd(df: DataFrame, idCol: String, vecCol: String, k: Int,
            iters: Int): DataFrame = {
    require(k > 0 && iters > 0, "lloyd: k and iters must be positive")
    // iterations and the final pass share one scan
    val base = Materialize(df.select(col(idCol), quantize(col(vecCol)).as("__vq")))
    val initRows = base.orderBy(col(idCol)).limit(k).collect()
    require(initRows.length == k, s"lloyd: need at least k=$k rows")
    val dim = {
      val v0 = initRows.head.getSeq[JBigDecimal](1)
      require(v0 != null && v0.nonEmpty, "lloyd: null/empty seed vector")
      v0.length
    }
    // loud degenerate gate: ragged/null/overflowed vectors poison every
    // distance downstream — fail fast on the first offender
    val bad = base.filter(col("__vq").isNull || size(col("__vq")) =!= dim ||
      exists(col("__vq"), x => x.isNull)).limit(1).count()
    require(bad == 0L,
      "lloyd: input has null/ragged vectors or |x| >= 1000 (quantization overflow)")

    var centroids: Seq[Seq[JBigDecimal]] = initRows.map(_.getSeq[JBigDecimal](1)).toSeq

    // narrow per-row argmin against the current literal centroids; keeps
    // __vq so the update step needs no join back
    def assign(): DataFrame = {
      val scored = array(centroids.zipWithIndex.map { case (c, j) =>
        struct(d2(col("__vq"), c).as("d2"), lit(j + 1).as("cluster"))
      }: _*)
      base.withColumn("__best", array_min(scored))
    }

    for (_ <- 1 to iters) {
      val sums = assign()
        .select(col("__best.cluster").as("cluster"),
          posexplode(col("__vq")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect() // bounded: k·d rows — driver state is centroids only
      val byCluster = sums.groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, j) =>
        byCluster.get(j + 1) match {
          case None => old // empty cluster keeps its centroid
          case Some(rows) =>
            val byPos = rows.map(r => r.getInt(1) ->
              (r.getDecimal(2), r.getLong(3))).toMap
            (0 until dim).map { p =>
              val (sx, n) = byPos(p)
              // Spark round(double, 6) semantics: shortest-repr HALF_UP
              JBigDecimal.valueOf(sx.doubleValue() / n)
                .setScale(6, RoundingMode.HALF_UP)
            }
        }
      }
    }
    assign().select(col(idCol), col("__best.cluster").cast("int").as("cluster"),
      round(col("__best.d2").cast("double"), 6).as("d2"))
  }
}
