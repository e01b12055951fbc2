package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range (interval) join — the second time-series operator Spark lacks a
  * native physical strategy for. A naive formulation
  * (`points JOIN intervals ON key AND t BETWEEN s AND e`) planifies as a
  * BroadcastNestedLoopJoin or shuffled cartesian per key — quadratic in the
  * hot key's row count.
  *
  * Bucketized formulation: quantize time into `bucketWidth` bins; each
  * point lands in exactly ONE bin, each interval explodes to the bins it
  * covers (intervals spanning b bins appear b times — pick the width near
  * the typical interval length so b stays small). The join is then a plain
  * EQUI-join on (key, bin) + an exact containment filter. Because a point
  * has one bin, every qualifying (interval, point) pair meets exactly once
  * — no post-join dedup. One hash shuffle each side; skew follows
  * (key, bin) density, salt upstream if one bin dominates. */
object RangeJoin {

  /** Pairs (interval, point) with `startCol <= pointCol < endCol` per key.
    * Time columns must be long-valued (e.g. epoch micros); `endCol` is
    * exclusive. Output: key columns + all interval columns + all point
    * columns (caller projects). */
  def pointInIntervalJoin(points: DataFrame, intervals: DataFrame,
                          keyCols: Seq[String], pointCol: String,
                          startCol: String, endCol: String,
                          bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val p = points.withColumn("__bin", floor(col(pointCol) / bucketWidth))
    // Guard degenerate rows BEFORE the explode: a half-open interval with
    // end <= start contains no point, and Spark's sequence(start, stop)
    // auto-DESCENDS when stop < start — an inverted interval from corrupt
    // data would otherwise fan out into (start-end)/bucketWidth bin rows.
    val i = intervals.filter(col(endCol) > col(startCol)).withColumn("__bin",
      explode(sequence(floor(col(startCol) / bucketWidth),
        floor((col(endCol) - 1) / bucketWidth))))
    i.join(p, keyCols :+ "__bin")
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__bin")
  }

  /** Interval-interval OVERLAP join per key: pairs with
    * `aStart < bEnd AND bStart < aEnd` (half-open intervals). Both sides
    * explode to their covered bins, but — unlike the point case — an
    * overlapping pair shares EVERY bin their overlap spans, so the join
    * additionally requires the bin to be the one containing
    * `max(aStart, bStart)` (the overlap's first bin): each qualifying pair
    * then meets in exactly ONE bin — exact and duplicate-free with no
    * post-join distinct. Left/right non-key columns are prefixed `l_`/`r_`
    * to disambiguate. */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          keyCols: Seq[String],
                          leftStart: String, leftEnd: String,
                          rightStart: String, rightEnd: String,
                          bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val leftPrefix = "l_"
    val rightPrefix = "r_"
    def binned(df: DataFrame, s: String, e: String, prefix: String): DataFrame = {
      val renamed = df.columns.foldLeft(df)((acc, c) =>
        if (keyCols.contains(c)) acc else acc.withColumnRenamed(c, prefix + c))
      // Same degenerate-row guard as pointInIntervalJoin: empty half-open
      // intervals overlap nothing (and would still pass the naive
      // ls < re && rs < le predicate), inverted ones explode descending
      // sequences — drop both before binning.
      renamed.filter(col(prefix + e) > col(prefix + s)).withColumn("__bin",
        explode(sequence(floor(col(prefix + s) / bucketWidth),
          floor((col(prefix + e) - 1) / bucketWidth))))
    }
    val l = binned(left, leftStart, leftEnd, leftPrefix)
    val r = binned(right, rightStart, rightEnd, rightPrefix)
    val ls = col(leftPrefix + leftStart); val le = col(leftPrefix + leftEnd)
    val rs = col(rightPrefix + rightStart); val re = col(rightPrefix + rightEnd)
    l.join(r, keyCols :+ "__bin")
      .filter(ls < re && rs < le)
      .filter(col("__bin") === floor(greatest(ls, rs) / bucketWidth))
      .drop("__bin")
  }
}
