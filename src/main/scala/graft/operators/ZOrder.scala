package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — multi-dimensional clustering for
  * scan pruning. Beyond-reference extension (SURVEY.md §7.1.9).
  *
  * Why it matters at 100 TB: parquet readers prune row groups with per-file
  * min/max statistics, but sorting by ONE column makes stats selective for
  * that column only — a filter on a second dimension still scans everything.
  * Interleaving the bits of two key columns into a single Morton value and
  * range-partitioning + sorting by it keeps files tight in BOTH dimensions
  * (each file covers a small square of the key space, not a thin stripe),
  * so predicates on either column prune most files. This is the layout
  * technique behind Delta/Iceberg `ZORDER BY`, rebuilt on plain
  * `repartitionByRange` + `sortWithinPartitions` — no table format needed.
  *
  * The encoding is pure codegen'd bit arithmetic (shift/or/mask spread —
  * no UDF, no lookup table), identically expressible in ANSI SQL, so the
  * z-value computation itself is DuckDB-oracle-able.
  */
object ZOrder {

  /** Spread the low 16 bits of `c` to even bit positions (Morton spread):
    * bit i moves to bit 2i. Classic shift-or-mask ladder — 4 rounds, all
    * BIGINT-safe, whole-stage-codegen friendly. */
  def spread16(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(65535L))
    val x1 = (x0.bitwiseOR(shiftleft(x0, 8))).bitwiseAND(lit(0x00FF00FFL))
    val x2 = (x1.bitwiseOR(shiftleft(x1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = (x2.bitwiseOR(shiftleft(x2, 2))).bitwiseAND(lit(0x33333333L))
    (x3.bitwiseOR(shiftleft(x3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton value of two 16-bit keys: bits of `a` on odd positions,
    * bits of `b` on even. Keys are masked to 16 bits — callers quantize
    * wider domains first (rank/bucket/`% 65536`). */
  def zValue(a: Column, b: Column): Column =
    shiftleft(spread16(a), 1).bitwiseOR(spread16(b))

  /** Reference JVM implementation (for specs and driver-side checks). */
  def zValueLong(a: Long, b: Long): Long = {
    def spread(v: Long): Long = {
      var x = v & 0xFFFFL
      x = (x | (x << 8)) & 0x00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0FL
      x = (x | (x << 2)) & 0x33333333L
      (x | (x << 1)) & 0x55555555L
    }
    (spread(a) << 1) | spread(b)
  }

  /** Hilbert-curve value of two `bits`-bit keys — the better-locality
    * sibling of [[zValue]]: consecutive Hilbert values are always
    * Manhattan-ADJACENT cells (spec-verified exhaustively), where the
    * Morton curve takes long diagonal jumps at power-of-two boundaries,
    * so equal-size file ranges cover tighter key-space squares and
    * min/max pruning discards more files for the same range predicate —
    * the reason Iceberg and recent lakehouse engines offer Hilbert
    * alongside Z-order.
    *
    * The classic per-level rotate-and-accumulate (Hamilton's xy2d) as a
    * NATIVE expression ([[graft.expr.HilbertValue]]) — the recurrence
    * carries mutable (x, y, d) state per level, which Column arithmetic
    * can't express compactly: a fused Column tree copies x/y several
    * times per level and blows up ~5^bits (measured: OOM at bits=16),
    * and a 16-step projection ladder pushes whole-stage codegen past the
    * huge-method limit into interpreted evaluation (measured 7.2 s vs
    * z-order's 0.8 s at sf0.1). The expression generates one static call
    * to a 16-iteration JIT'd loop, keeping the stage fused and the cost
    * within noise of [[zValue]]. */
  def hilbertColumn(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expr.HilbertValue(
      ColumnBridge.expression(a.cast("long")),
      ColumnBridge.expression(b.cast("long")), 16))
  }

  def withHilbertValue(df: DataFrame, aCol: String, bCol: String,
                       outCol: String): DataFrame =
    df.withColumn(outCol, hilbertColumn(col(aCol), col(bCol)))

  /** Reference JVM entry point (specs/driver) — the same loop the
    * expression's generated code calls. */
  def hilbertValueLong(a: Long, b: Long, bits: Int = 16): Long =
    graft.expr.HilbertCodegen.xy2d(a, b, bits)

  /** Equi-depth (rank/histogram) bucket boundaries for BOTH key columns in
    * ONE Greenwald-Khanna sketch pass (the multi-column approxQuantile —
    * two single-column calls would scan the frame twice). Boundaries are
    * deduplicated (a heavy repeated value yields repeated boundaries;
    * keeping one preserves a monotone bucket map). Driver state is the two
    * boundary arrays (≤ buckets doubles each), the same bounded-driver
    * budget as the IVF training sample. */
  private[operators] def rankBounds(df: DataFrame, colA: String, colB: String,
                                    buckets: Int): (Array[Double], Array[Double]) = {
    val qs = (1 until buckets).map(_.toDouble / buckets).toArray
    val both = df.stat.approxQuantile(Array(colA, colB), qs, 1.0 / (4.0 * buckets))
    (both(0).distinct.sorted, both(1).distinct.sorted)
  }

  /** Rank-quantize `c` against precomputed boundaries: the bucket is the
    * number of boundaries ≤ value — a pure-expression fold over the
    * broadcast boundary array (no UDF; O(buckets) interpreted adds per row,
    * immaterial next to the write path it feeds). Null keys stay null, like
    * the linear quantizer. */
  private[operators] def rankQuant(c: Column, bounds: Array[Double]): Column =
    when(c.isNull, lit(null).cast("long")).otherwise(
      aggregate(typedLit(bounds.toSeq), lit(0L),
        (acc, b) => acc + when(c.cast("double") >= b, 1L).otherwise(0L)))

  /** Cluster `df` on the Morton curve of (colA, colB) and write parquet:
    * range-partition into `numFiles` z-ranges (one shuffle with a sampled
    * range boundary pass — Spark's RangePartitioner), sort each partition
    * by z, write one file per partition. Files then cover compact squares
    * of the (A, B) key space — min/max stats prune on either column.
    *
    * Keys are first QUANTIZED to 16 bits ([[zValue]] masks to the low 16
    * bits, which for a wider domain would interleave `key mod 65536` —
    * adjacent curve positions for values 65536 apart, i.e. no locality at
    * all). Two quantizers:
    *  - `"linear"` (default): min/max scaling, one cheap agg pass. Monotone,
    *    but a skewed domain collapses most values into few buckets and the
    *    curve degenerates to stripes in the other dimension;
    *  - `"rank"`: equi-depth buckets from an approxQuantile sketch
    *    (`rankBuckets` of them) — every bucket holds ~equal row mass, so
    *    square locality survives arbitrarily skewed monotone domains
    *    (ZOrderSpec asserts it on an exponentially-skewed fixture). */
  def zorderWrite(df: DataFrame, colA: String, colB: String, path: String,
                  numFiles: Int, quantizer: String = "linear",
                  rankBuckets: Int = 256): Unit =
    curveWrite(df, colA, colB, path, numFiles, quantizer, rankBuckets, zValue)

  /** [[zorderWrite]] with the Hilbert curve as the layout order — the
    * linear quantizer, the same range-partitioned write; files cover tighter
    * key-space squares because consecutive curve positions are adjacent
    * cells (no Morton diagonal jumps across file boundaries). */
  def hilbertWrite(df: DataFrame, colA: String, colB: String, path: String,
                   numFiles: Int): Unit =
    curveWrite(df, colA, colB, path, numFiles, "linear", 256,
      hilbertColumn(_, _))

  private def curveWrite(df: DataFrame, colA: String, colB: String,
                         path: String, numFiles: Int, quantizer: String,
                         rankBuckets: Int,
                         curve: (Column, Column) => Column): Unit = {
    require(quantizer == "linear" || quantizer == "rank",
      s"unknown quantizer '$quantizer' (use \"linear\" or \"rank\")")
    require(rankBuckets > 1 && rankBuckets <= 65536,
      "rankBuckets must be in (1, 65536]")
    val z =
      if (quantizer == "rank") {
        val (bA, bB) = rankBounds(df, colA, colB, rankBuckets)
        if (bA.isEmpty || bB.isEmpty) { // empty frame, or a key all null —
          // same either-column guard as the linear path: without boundaries
          // the all-null key would rank-quantize every row to null and the
          // range partitioner would funnel the whole frame into one task
          df.write.mode("overwrite").parquet(path)
          return
        }
        curve(rankQuant(col(colA), bA), rankQuant(col(colB), bB))
      } else {
        val r = df.agg(
          min(col(colA)).cast("double"), max(col(colA)).cast("double"),
          min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
        if (r.isNullAt(0) || r.isNullAt(2)) { // empty (or all-null keys)
          df.write.mode("overwrite").parquet(path)
          return
        }
        def quant(c: Column, lo: Double, hi: Double): Column =
          if (hi <= lo) lit(0L)
          else floor((c.cast("double") - lo) * 65536.0 / (hi - lo + 1.0)).cast("long")
        curve(quant(col(colA), r.getDouble(0), r.getDouble(1)),
              quant(col(colB), r.getDouble(2), r.getDouble(3)))
      }
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
