package graft.sink

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = tempDir("graft_zm_spec_")

  test("range read skips files and equals the full-scan filter exactly") {
    val base = freshDir()
    val df = (1L to 10000L).map(v => (v, s"row_$v")).toDF("k", "payload")
    ZoneMap.writeClustered(df, base, "k", nFiles = 10)
    val st = ZoneMap.stats(spark, base).collect()
    assert(st.length == 10 && st.map(_.getAs[Long]("n_rows")).sum == 10000L)
    // a 1500-wide range over 10 range-clustered files must prune most
    val survivors = ZoneMap.survivingFiles(spark, base, lit(3000L), lit(4500L))
    assert(survivors.nonEmpty && survivors.length <= 3,
      s"expected <=3 surviving files, got ${survivors.length}")
    val pruned = ZoneMap.readRange(spark, base, "k", lit(3000L), lit(4500L))
      .orderBy(col("k")).collect()
    val full = df.filter(col("k") >= 3000L && col("k") <= 4500L)
      .orderBy(col("k")).collect()
    assert(pruned.toSeq == full.toSeq)
    // inclusive boundaries on both ends
    assert(pruned.head.getLong(0) == 3000L && pruned.last.getLong(0) == 4500L)
  }

  test("a range beyond every envelope yields an empty, schema-correct frame") {
    val base = freshDir()
    ZoneMap.writeClustered((1L to 100L).toDF("k"), base, "k", nFiles = 4)
    val out = ZoneMap.readRange(spark, base, "k", lit(5000L), lit(6000L))
    assert(out.columns.toSeq == Seq("k"))
    assert(out.count() == 0)
    assert(ZoneMap.survivingFiles(spark, base, lit(5000L), lit(6000L)).isEmpty)
  }

  test("stats are derived from disk, and clustering bounds the envelopes") {
    val base = freshDir()
    // adversarial input order: reverse-sorted — repartitionByRange must
    // still produce disjoint-ish envelopes per file
    ZoneMap.writeClustered((10000L to 1L by -1L).toDF("k"), base, "k", 8)
    val st = ZoneMap.stats(spark, base)
      .select(col("mn").cast("long"), col("mx").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // sanctioned-bounded-collect pin (see survivingFiles scaladoc): the
    // stats relation — everything the driver ever collects here — is
    // FILE-count sized, never row-count sized
    assert(st.length == 8, s"stats must be one row per file: ${st.length}")
    // envelopes must not overlap: file i's max < file i+1's min
    st.sliding(2).foreach {
      case Array((_, mxA), (mnB, _)) =>
        assert(mxA < mnB, s"overlapping envelopes: $mxA >= $mnB")
      case _ =>
    }
    // every row accounted for exactly once across envelopes
    assert(st.map { case (mn, mx) => mx - mn + 1 }.sum >= 10000L)
  }

  test("residual filter drops boundary-file rows outside the range") {
    val base = freshDir()
    ZoneMap.writeClustered((1L to 1000L).toDF("k"), base, "k", 2)
    // range [400, 600] straddles the file boundary; both files survive,
    // but rows outside must not leak through
    val vals = ZoneMap.readRange(spark, base, "k", lit(400L), lit(600L))
      .select(col("k")).collect().map(_.getLong(0)).sorted
    assert(vals.toSeq == (400L to 600L).toSeq)
  }
}
