package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Fixture-encoding adapter for event-time columns.
  *
  * The `events.ts` column has shipped under two physical encodings:
  *   - parquet TIMESTAMP(NANOS), which Spark cannot represent natively and
  *     reads as int64 nanoseconds under
  *     `spark.sql.legacy.parquet.nanosAsLong=true`;
  *   - parquet TIMESTAMP_MICROS without a zone, which Spark reads as
  *     TIMESTAMP_NTZ.
  * Every consumer (sessionize, as-of/range/overlap joins, funnels, decay
  * aggregation, watermarked streams) wants one of exactly two shapes —
  * epoch-MICROS longs for arithmetic, or TIMESTAMP (LTZ) for
  * watermarks/windows — so this is the single place that branches on the
  * physical type. All sessions in this engine pin
  * `spark.sql.session.timeZone=UTC`, which makes the NTZ→LTZ cast the
  * identity on the underlying micros value and keeps results bit-equal to
  * DuckDB's `epoch_us(ts)` oracle reading the same file.
  *
  * Integer arithmetic throughout: nano values exceed 2^53, so any double
  * path would corrupt them.
  */
object EventTime {

  /** Epoch-micros BIGINT column for `tsCol` of physical type `dt`.
    *
    * Nanos→micros uses FLOOR division (`x - pmod(x, 1000)) div 1000`), not
    * bare `div`: `div` truncates toward zero, while DuckDB's `epoch_us` on
    * TIMESTAMP_NS floors, so a pre-1970 (negative) nano value would land
    * one micro off under truncation. Post-epoch the two agree; this form
    * agrees everywhere. */
  def microsFor(dt: DataType, tsCol: String): Column = dt match {
    case LongType => expr(s"(`$tsCol` - pmod(`$tsCol`, 1000)) div 1000")
    case TimestampNTZType => unix_micros(col(tsCol).cast(TimestampType))
    case TimestampType    => unix_micros(col(tsCol))
    case other => throw new IllegalArgumentException(
      s"EventTime: unsupported event-time encoding $other for column $tsCol " +
        "(expected LONG nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
  }

  /** Epoch-micros BIGINT column for `df`'s `ts`, whatever its encoding. */
  def micros(df: DataFrame): Column =
    microsFor(df.schema("ts").dataType, "ts")

  /** TIMESTAMP (LTZ) column for `tsCol` of physical type `dt` — the shape
    * watermarks and time windows require (`withWatermark` rejects NTZ). */
  def timestampFor(dt: DataType, tsCol: String): Column = dt match {
    case LongType =>
      timestamp_micros(expr(s"(`$tsCol` - pmod(`$tsCol`, 1000)) div 1000"))
    case TimestampNTZType => col(tsCol).cast(TimestampType)
    case TimestampType    => col(tsCol)
    case other => throw new IllegalArgumentException(
      s"EventTime: unsupported event-time encoding $other for column $tsCol " +
        "(expected LONG nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
  }

  /** TIMESTAMP (LTZ) column for `df`'s `ts`, whatever its encoding. */
  def timestamp(df: DataFrame): Column =
    timestampFor(df.schema("ts").dataType, "ts")

  /** A literal at `micros` expressed in the SAME physical encoding as `dt` —
    * for synthesized rows (e.g. the bounded-stream watermark sentinel) that
    * must union with a raw-schema source. */
  def literalFor(dt: DataType, micros: Long): Column = dt match {
    case LongType         => lit(micros * 1000L) // back to nanos
    case TimestampNTZType => timestamp_micros(lit(micros)).cast(TimestampNTZType)
    case TimestampType    => timestamp_micros(lit(micros))
    case other => throw new IllegalArgumentException(
      s"EventTime: unsupported event-time encoding $other " +
        "(expected LONG nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
  }
}
