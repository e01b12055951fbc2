package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar (int8) quantization for embedding columns — the storage/bandwidth
  * operator of a 100 TB vector corpus: a 64-dim float32 embedding is 256
  * bytes; its int8 codes are 64 bytes (+ one tiny per-dimension codebook),
  * a 4× cut in scan I/O and shuffle volume for every downstream ANN pass,
  * at a recall cost the rerank stage absorbs (quantized candidates → exact
  * float rerank, the standard IVF-SQ pipeline shape).
  *
  * Codebook = per-dimension (lo, hi) ranges — one bounded aggregate
  * (dimension-count rows, driver-collected like the IVF centroids); codes =
  * `floor((v - lo) · 127 / (hi - lo) + 0.5)` per element, a pure codegen'd
  * `transform` with the codebook inlined as literal arrays (no join, no
  * UDF, no shuffle). The arithmetic is fixed-order double math —
  * float32→double casts are exact — so codes are ANSI-reproducible and the
  * whole operator DuckDB-oracle-able.
  */
object VectorQuantize {

  /** Per-dimension (lo, hi) codebook over the full corpus: one
    * posexplode + groupBy(dim) aggregate, collected to the driver
    * (dimension-count rows — bounded, like IVF centroid training). */
  def trainMinMax(df: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = df
      .select(posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(min(col("v").cast("double")).as("lo"), max(col("v").cast("double")).as("hi"))
      .orderBy(col("d"))
      .collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Append `qcode` = int8 codes (as an int array column) for `vecCol`
    * under the given codebook. Degenerate dimensions (hi == lo) code to 0. */
  def quantize(df: DataFrame, vecCol: String,
               lo: Array[Double], hi: Array[Double]): DataFrame = {
    require(lo.length == hi.length && lo.nonEmpty, "codebook must be non-empty")
    val loC = lit(lo)
    val hiC = lit(hi)
    df.withColumn("qcode",
      transform(col(vecCol), (v, i) => {
        val l = element_at(loC, i + 1)
        val h = element_at(hiC, i + 1)
        when(h === l, lit(0L))
          .otherwise(floor((v.cast("double") - l) * 127.0 / (h - l) + 0.5))
          .cast("int")
      }))
  }

  /** Dequantized value: `lo + code · (hi - lo) / 127` — for rerank-free
    * approximate scoring and for measuring reconstruction error. */
  def dequantize(codes: Column, lo: Array[Double], hi: Array[Double]): Column = {
    val loC = lit(lo)
    val hiC = lit(hi)
    transform(codes, (c, i) => {
      val l = element_at(loC, i + 1)
      val h = element_at(hiC, i + 1)
      l + c.cast("double") * (h - l) / 127.0
    })
  }
}
