package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{current_date, input_file_name}
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
  * The annotated validation frame goes through [[Materialize]] because the
  * counters, the quarantine and the warehouse write all read it (SURVEY.md
  * §7.4.3): they scan its checkpointed rows, and the run releases them when
  * it ends.
  *
  * Job budget: a run issues at most 6 Spark jobs, whatever the number of
  * input layouts —
  *  - the header probe of [[Harmonizer.groupByLayout]] (layout schemas and
  *    the embedded-header check need no job);
  *  - the materialization of the annotated frame: the one scan and date
  *    parse of the input;
  *  - one grouped aggregate, [[Validator.Validated.counts]], which gives the
  *    valid and quarantine counts, the countries and the run report; under
  *    adaptive execution it is two jobs: the shuffle map stage and the
  *    result;
  *  - the quarantine CSV write, only when the quarantine is non-empty;
  *  - the warehouse write, unpartitioned: one file per write task.
  * The warehouse is read back with the schema it was written with, so no
  * footer-read job runs and `COUNTRY` stays a string whatever its values
  * look like. The views are lazy: registering them plans their latest-row
  * set, a [[Materialize.onFirstRead]] checkpoint, with adaptive execution
  * off, so it starts no job and fills nothing. The first view read ranks
  * and fills the set in one job; every later lookup is one job of one
  * stage over the lineage-free set.
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
    // Lineage is taken at the scan: input_file_name() is empty over the
    // materialized annotated frame the warehouse is written from.
    val raw = Harmonizer.loadSourceData(spark, dataDir)
      .withColumn("Source_File", input_file_name())
    val validated = Validator.Validated(Materialize(Validator.validate(raw).annotated))
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
    } finally Materialize.release(validated.annotated)
  }
}
