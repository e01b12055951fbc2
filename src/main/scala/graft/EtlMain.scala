package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{current_date, lit}

/** CLI entry point for the batch ETL — the rebuild of the reference's
  * `python main.py` (`main.py:141-165`).
  *
  * Usage: EtlMain <csvDataDir> <outDir> [asOfDate yyyy-MM-dd]
  *
  * Reads every CSV layout under `csvDataDir`, harmonizes + validates,
  * quarantines invalid rows to `outDir/invalid_records`, writes the
  * warehouse table to `outDir/warehouse` (parquet, partitioned by COUNTRY),
  * registers one temp view per country, and prints each view.
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: EtlMain <csvDataDir> <outDir> [asOf yyyy-MM-dd]")
    val Array(dataDir, outDir) = args.take(2)
    val asOf = args.lift(2).map(d => lit(d).cast("date")).getOrElse(current_date())
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = Pipeline.run(spark, dataDir, outDir, asOf)
      println(s"valid records written: ${result.validCount}")
      println(s"quarantined records:   ${result.quarantineCount}")
      def counts(m: Map[String, Long]) =
        m.toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString(", ")
      println(s"quarantined by reason: ${counts(result.quarantinedByReason)}")
      println(s"valid by country:      ${counts(result.validByCountry)}")
      println(s"countries:             ${result.countries.mkString(", ")}")
      result.views.foreach { v =>
        println(s"\n== $v ==")
        spark.sql(s"SELECT * FROM $v ORDER BY CUST_I").show(20, truncate = false)
      }
    } finally spark.stop()
  }
}
