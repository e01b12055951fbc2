package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_date
import org.apache.spark.storage.StorageLevel
import graft.ingest.Harmonizer
import graft.validate.Validator
import graft.sink.Warehouse
import graft.views.CountryViews

/** End-to-end batch ETL orchestration — the Spark rebuild of the reference's
  * `main.main()` (`main.py:141-165`, lifecycle in SURVEY.md §3.1):
  *
  *   scan CSVs → harmonize → validate/quarantine → valid-record filter →
  *   warehouse write → enumerate countries → register per-country views.
  *
  * Each stage is a lazy DataFrame transform; Catalyst plans the whole chain.
  * The annotated validation frame is persisted (MEMORY_AND_DISK — spill-safe
  * at scale) because the counters, the quarantine and the warehouse write all
  * read it (SURVEY.md §7.4.3).
  *
  * Job budget: a run issues at most 6 Spark jobs, whatever the number of
  * input layouts —
  *  - the header probe of [[Harmonizer.groupByLayout]] (layout schemas and
  *    the embedded-header check need no job);
  *  - one grouped aggregate, [[Validator.Validated.counts]], which gives the
  *    valid and quarantine counts, the countries and the run report; under
  *    adaptive execution it is three jobs: the cache fill, the shuffle map
  *    stage and the result;
  *  - the quarantine CSV write, only when the quarantine is non-empty;
  *  - the warehouse write.
  * The warehouse is read back with the schema it was written with, so no
  * footer-read job runs and `COUNTRY` stays a string whatever its values
  * look like. The views are lazy.
  */
object Pipeline {

  /** `quarantinedByReason` keys are [[Validator.reasonOf]] reasons;
    * `validByCountry` counts the rows written per country (a null country
    * is keyed ""). */
  final case class Result(
      warehouse: DataFrame,
      quarantineCount: Long,
      quarantinePath: Option[String],
      validCount: Long,
      countries: Seq[String],
      views: Seq[String],
      quarantinedByReason: Map[String, Long],
      validByCountry: Map[String, Long])

  def run(spark: SparkSession, dataDir: String, outDir: String,
          asOf: org.apache.spark.sql.Column = current_date()): Result = {
    val raw = Harmonizer.loadSourceData(spark, dataDir)
    val validated = Validator.validate(raw)
    val annotated = validated.annotated.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = validated.counts
      val quarantinePath =
        if (counts.quarantined == 0) None
        else Some(Validator.writeInvalidRecords(validated.quarantine, s"$outDir/invalid_records"))

      val physical = Warehouse.toWarehouse(validated.validRecords)
      Warehouse.write(physical, s"$outDir/warehouse", mode = "overwrite")

      val warehouse = spark.read.schema(physical.schema).parquet(s"$outDir/warehouse")
      val views = CountryViews.registerCountryViews(spark, warehouse, counts.countries, asOf)
      Result(warehouse, counts.quarantined, quarantinePath, counts.valid,
        counts.countries, views, counts.quarantinedByReason, counts.validByCountry)
    } finally annotated.unpersist()
  }
}
