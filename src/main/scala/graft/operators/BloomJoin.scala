package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** Bloom-prefiltered semi-join — membership filtering against a key set
  * that is too large to broadcast as an exact hash relation but whose
  * BLOOM BITS fit comfortably (~1.2 bytes/key at 1% fpp: 10^8 keys ≈
  * 120 MB of bits vs many GB of hashed rows). The decontamination /
  * blocklist shape at 100 TB: filter the corpus map-side with the bloom
  * filter (drops ~99% of non-members before any exchange), then verify
  * the surviving candidates with a real shuffle semi-join so bloom false
  * positives never reach the output — the result is EXACTLY the plain
  * semi-join, only the shuffle volume changes (candidates ≈ matches +
  * fpp·non-matches instead of the whole corpus).
  *
  * This is the manual form of what AQE's runtime bloom pruning
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects for joins
  * it can see through; materializing it as an operator covers semi-joins
  * against a PRE-BUILT key set (reused across many runs) and makes the
  * plan shape explicit and assertable.
  */
object BloomJoin {

  /** Semi-join `big` to the distinct keys of `keys`, bloom-prefiltered.
    * A count of `keys` (one cheap aggregate on the small side) sizes the
    * filter for a 1% false-positive rate.
    * Key must be integral or string (the bloom filter's put domain). */
  def bloomSemiJoin(big: DataFrame, keys: DataFrame,
                    bigKey: String, keysKey: String): DataFrame = {
    // Normalize integral keys to LONG on BOTH sides so the bloom put
    // domain (putLong) and the probe (mightContainLong) always agree.
    val integral = Set[org.apache.spark.sql.types.DataType](
      LongType, IntegerType, ShortType, ByteType)
    val keysNorm = keys.schema(keysKey).dataType match {
      case t if integral(t) => keys.select(col(keysKey).cast("long").as(keysKey))
      case StringType       => keys.select(col(keysKey))
      case other => throw new IllegalArgumentException(
        s"bloom key must be integral or string, got $other")
    }
    // Both sides must live in the same bloom put/probe domain — a
    // string-vs-integral mismatch would probe a different hash space and
    // SILENTLY drop true matches (the verifying semi-join can only remove
    // false positives, never restore rows the bloom dropped).
    val bigIntegral = integral(big.schema(bigKey).dataType)
    require(bigIntegral == integral(keys.schema(keysKey).dataType),
      s"key type mismatch: $bigKey is ${big.schema(bigKey).dataType}, " +
        s"$keysKey is ${keys.schema(keysKey).dataType}")
    val n = keysNorm.count()
    if (n == 0) return big.limit(0)
    val bf = keysNorm.stat.bloomFilter(keysKey, n, 0.01)
    val bc = big.sparkSession.sparkContext.broadcast(bf)
    val pred = big.schema(bigKey).dataType match {
      case t if integral(t) =>
        val f = udf((v: java.lang.Long) => v != null && bc.value.mightContainLong(v))
        f(col(bigKey).cast("long"))
      case StringType =>
        val f = udf((v: String) => v != null && bc.value.mightContainString(v))
        f(col(bigKey))
      case other => throw new IllegalArgumentException(
        s"bloom key must be integral or string, got $other")
    }
    // no distinct() on the build side: left_semi output is identical with
    // duplicate build keys, and the extra aggregate costs a pass
    big.filter(pred)
      .join(keysNorm.select(col(keysKey).as(bigKey)), Seq(bigKey), "left_semi")
  }
}
