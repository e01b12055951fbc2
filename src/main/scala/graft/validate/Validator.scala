package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.schema.Schemas
import graft.functions.GraftFunctions

/** Row-level validation + clean/quarantine split (reference
  * `data_validator.py:110-192` and `:252-285`; operators E2/P5/P6/S5).
  *
  * Spark-first shape: ONE annotation projection computes every date column's
  * `(error, value)` struct in a single pass (the UDF parses each value exactly
  * once); `clean` and `quarantine` are two cheap filters over that frame. The
  * caller should `cache()` [[Validated.annotated]] when materializing both
  * outputs so the parse doesn't run twice (SURVEY.md §7.4.3) — at cluster
  * scale use `persist(MEMORY_AND_DISK)` or write-once/read-twice.
  *
  * Intentional divergence from the reference (SURVEY.md §7.4.2): pandas
  * `astype(str)` turns missing values into the literal string `"nan"`, which
  * then *passes* the non-empty mandatory check; the rebuild keeps nulls as
  * nulls, so rows with a missing name/id are filtered as invalid. Missing
  * dates likewise error as "Empty date string" rather than the reference's
  * accidental parse-of-"nan" message.
  */
object Validator {

  private def p(c: String) = s"__p_$c"

  /** P6 (`data_validator.py:267-281`) given each date column's parsed value:
    * mandatory dates present, mandatory strings present and non-empty. */
  private def isValid(dateValue: String => Column): Column =
    Schemas.mandatoryDateColumns.map(c => dateValue(c).isNotNull).reduce(_ && _) &&
      Seq("Customer_Name", "Customer_Id")
        .map(c => col(c).isNotNull && col(c) =!= "")
        .reduce(_ && _)

  /** A quarantine reason: the error message up to its value-specific tail
    * ("Invalid month: 13 (...)" → "Invalid month"; every "Unable to parse
    * date '<value>': ..." → "Unable to parse date"). */
  def reasonOf(error: Column): Column =
    when(error.startsWith("Unable to parse date"), lit("Unable to parse date"))
      .otherwise(substring_index(error, ":", 1))

  /** What one validation produced: valid rows per country (a null country
    * is keyed "") and quarantine rows per [[reasonOf reason]]. */
  final case class Counts(validByCountry: Map[String, Long],
                          quarantinedByReason: Map[String, Long]) {
    def valid: Long = validByCountry.values.sum
    def quarantined: Long = quarantinedByReason.values.sum
    /** The non-empty countries with valid rows, sorted. */
    def countries: Seq[String] = validByCountry.keys.filter(_.nonEmpty).toSeq.sorted
  }

  final case class Validated(annotated: DataFrame) {

    /** Non-canonical passthrough columns (e.g. lineage added upstream by a
      * streaming source, where `input_file_name()` must be captured before
      * the micro-batch boundary). */
    private def extraCols: Seq[String] =
      annotated.columns.filter(c =>
        !Schemas.canonicalColumns.contains(c) && !c.startsWith("__p_")).toSeq

    /** Clean frame: canonical columns with date columns typed `DateType`;
      * invalid date values nulled (`data_validator.py:174`, `:190`).
      * Extra (non-canonical) columns pass through untouched. */
    def clean: DataFrame = {
      val cols = Schemas.canonicalColumns.map { c =>
        if (Schemas.dateColumns.contains(c)) col(p(c)).getField("value").as(c)
        else col(c)
      } ++ extraCols.map(col)
      annotated.select(cols: _*)
    }

    /** Quarantine frame: original (string) rows that failed a *mandatory*
      * date column, annotated with `Validation_Error` + `Invalid_Field`
      * (`data_validator.py:154-174`). Optional date failures only null out
      * (`:177-190`), matching the reference. */
    def quarantine: DataFrame = {
      val frames = Schemas.mandatoryDateColumns.map { c =>
        annotated
          .filter(col(p(c)).getField("error").isNotNull)
          .select((Schemas.canonicalColumns ++ extraCols).map(col) :+
            col(p(c)).getField("error").as("Validation_Error") :+
            lit(c).as("Invalid_Field"): _*)
      }
      frames.reduce(_.unionByName(_))
    }

    /** Typed view of the valid records (SURVEY.md §1.4) — the API boundary
      * where nullability is the business rule: mandatory fields are plain,
      * optional fields are Options. */
    def validRecordsTyped: org.apache.spark.sql.Dataset[graft.schema.VaccinationRecord] =
      validRecords.as(org.apache.spark.sql.Encoders.product[graft.schema.VaccinationRecord])

    /** P6 (`data_validator.py:267-281`): mandatory dates present, mandatory
      * strings present and non-empty. */
    def validRecords: DataFrame = clean.filter(isValid(col))

    /** [[Counts]] of [[validRecords]] and [[quarantine]] in one grouped
      * aggregate over [[annotated]] (persisted, this query fills the cache).
      * A row counts once per failed mandatory date column, as the quarantine
      * union counts it. */
    def counts: Counts = {
      val validCountry = when(isValid(c => col(p(c)).getField("value")),
        coalesce(col("Country"), lit("")))
      val reasons = Schemas.mandatoryDateColumns.map(c => reasonOf(col(p(c)).getField("error")))
      val rows = annotated.groupBy(validCountry +: reasons: _*).count().collect()
      def sumBy(pairs: Seq[(String, Long)]) = pairs.groupMapReduce(_._1)(_._2)(_ + _)
      def n(r: Row) = r.getLong(reasons.size + 1)
      Counts(
        sumBy(rows.toSeq.flatMap(r => Option(r.getString(0)).map(_ -> n(r)))),
        sumBy(rows.toSeq.flatMap(r =>
          reasons.indices.flatMap(i => Option(r.getString(i + 1))).map(_ -> n(r)))))
    }
  }

  /** E2: annotate every date column with its parse struct in one projection. */
  def validate(df: DataFrame): Validated = {
    val withParsed = Schemas.dateColumns.foldLeft(df) { (acc, c) =>
      acc.withColumn(p(c), GraftFunctions.parse_date_struct(col(c)))
    }
    Validated(withParsed)
  }

  /** S5: quarantine sink — CSV with header, with the reference's timestamped
    * artifact naming (`data_validator.py:195-216`): each run lands in a fresh
    * `invalid_records_<yyyyMMdd_HHmmss>` directory under `dir`, so successive
    * runs ACCUMULATE (a user diffing runs sees one artifact per run, as with
    * the reference's per-run CSV file) and an empty quarantine writes nothing
    * (the reference skips empty too). Returns the written path, if any.
    * `timestamp` is injectable for deterministic tests. */
  def saveInvalidRecords(quarantine: DataFrame, dir: String,
                         timestamp: Option[String] = None): Option[String] =
    if (quarantine.isEmpty) None
    else Some(writeInvalidRecords(quarantine, dir, timestamp))

  /** The write half of [[saveInvalidRecords]], for a caller that already
    * knows the quarantine is non-empty. Returns the written path. */
  def writeInvalidRecords(quarantine: DataFrame, dir: String,
                          timestamp: Option[String] = None): String = {
    val ts = timestamp.getOrElse(java.time.LocalDateTime.now.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")))
    // two runs inside the same second must both land (accumulate-per-run
    // semantics) — suffix a sequence number instead of failing the write.
    // Resolve the filesystem FROM the target path: FileSystem.get(conf)
    // returns the default FS, whose exists-probe is wrong when `dir` is on
    // s3a:// or hdfs:// while the default is file:// (or vice versa).
    val base = s"$dir/invalid_records_$ts"
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      quarantine.sparkSession.sparkContext.hadoopConfiguration)
    val path = Iterator.from(0)
      .map(i => if (i == 0) base else s"${base}_$i")
      .find(p => !fs.exists(new org.apache.hadoop.fs.Path(p)))
      .get
    quarantine.write.mode("errorifexists").option("header", "true").csv(path)
    path
  }
}
