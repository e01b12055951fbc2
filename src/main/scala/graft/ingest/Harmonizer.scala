package graft.ingest

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.schema.{ColumnMappings, Schemas}

/** Schema harmonization: heterogeneous per-country CSVs → one canonical
  * string-typed layout (reference `main.py:30-62` + `data_validator.py:53-108`,
  * operators S1/S2/P1-P5/U1 in SURVEY.md §2).
  *
  * Spark-first shape: each *layout* is one lazy `DataFrame`; harmonization is
  * a single `select` of `coalesce(...)` expressions computed from the column
  * map, so Catalyst sees a plain projection (prunable, pushdown-friendly) and
  * the files of a layout are scanned with full input-split parallelism.
  *
  * Scale note (100 TB): files are grouped by header so N files collapse into
  * a handful of scans — per-layout `spark.read.csv(paths*)`, not a
  * per-file loop. Only the header probe (1 line per file) touches the driver;
  * with millions of files you would instead pre-bucket paths by layout
  * convention, which this API accepts directly via [[loadGrouped]].
  *
  * Job count: the header probe is the one Spark job of ingest. Each layout's
  * schema is derived from its probed header line ([[headerSchema]]) and its
  * embedded-header check reads one data line on the driver, so no layout
  * adds a job however many there are.
  */
object Harmonizer {

  /** Coalesce-projection (P3): source columns → canonical names.
    *
    * Reproduces `data_validator.py:66-87` exactly:
    *  - only mapped source columns survive (unmapped ones silently dropped);
    *  - when several source columns feed one target, they coalesce in
    *    *column-map insertion order* (`:76-82`), not frame order;
    *  - a canonical column with no source is emitted as a typed null so every
    *    harmonized frame shares one fixed schema (the reference omits the
    *    column and lets `pd.concat` null-fill — same data, dynamic schema).
    *
    * Country enrichment (P4): when no source column maps to `Country`, derive
    * `upper(filename[:3])` (`data_validator.py:89-93`).
    */
  def harmonize(df: DataFrame, filename: Option[String] = None,
                strict: Boolean = false): DataFrame =
    harmonizeWith(df, filename.map(f => lit(f.take(3).toUpperCase)), strict)

  /** Like [[harmonize]] but the country fallback is any Column — at scale the
    * caller passes a per-row `input_file_name()`-derived expression so one
    * scan can span files from many countries. */
  def harmonizeWith(df: DataFrame, countryFallback: Option[org.apache.spark.sql.Column],
                    strict: Boolean = false): DataFrame = {
    val present = df.columns.toSet
    val exprs = Schemas.canonicalColumns.map { target =>
      val sources = ColumnMappings.columnMap.collect {
        case (src, tgt) if tgt == target && present.contains(src) => col(src)
      }.toSeq
      target match {
        case _ if sources.nonEmpty =>
          (if (sources.size > 1) coalesce(sources: _*) else sources.head).as(target)
        case "Country" if countryFallback.isDefined =>
          countryFallback.get.cast("string").as("Country")
        case _ => lit(null).cast("string").as(target)
      }
    }
    val mapped = present.flatMap(ColumnMappings.columnMap.get)
    val missingMandatory = ColumnMappings.mandatoryColumns.filterNot(mapped.contains)
    if (strict && missingMandatory.nonEmpty)
      throw new IllegalArgumentException(
        s"Missing mandatory columns: ${missingMandatory.mkString("[", ", ", "]")}")
    stripSentinelRows(df).select(exprs: _*)
  }

  /** P1: drop embedded `|`-prefixed records (the dormant `|H|...` header
    * convention, `data_validator.py:227-230`). The reference indexes row 0
    * and throws on non-string frames; the rebuild filters robustly, same
    * intent (SURVEY.md §7.4.7). */
  def stripSentinelRows(df: DataFrame): DataFrame = {
    val first = col(df.columns.head)
    df.filter(first.isNull || !first.startsWith("|"))
  }

  /** P2 on one parsed row: the first of its values that is an embedded `|H|`
    * header. The reference probes ANY column of `df.iloc[0]`
    * (`data_validator.py:227-230` uses `.any()` across the row), so every
    * value is checked, not just the first. */
  def embeddedHeaderIn(values: Seq[String]): Option[String] =
    values.find(v => v != null && v.startsWith("|H|"))

  def headerMatches(header: String): Boolean = header == Schemas.expectedHeader

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** P2 check of one parsed row: WARN (only — never fail) when it holds an
    * embedded `|H|` header that does not match, reproducing
    * `data_validator.py:227-230` + `:37-50`. Returns Some(matched) when an
    * embedded header exists, None otherwise. */
  def checkEmbeddedHeaderRow(values: Seq[String]): Option[Boolean] =
    embeddedHeaderIn(values).map { h =>
      val ok = headerMatches(h)
      if (!ok) log.warn(
        s"Header does not match expected format.\nExpected: ${Schemas.expectedHeader}\nReceived: $h")
      ok
    }

  /** The values of a frame's FIRST ROW ONLY: bounded work, where a
    * filter-then-limit over the whole frame would scan every row of a layout
    * that has no embedded header before concluding so. Caveat (documented,
    * matching the reference's own file-order assumption): `limit(1)` without
    * an ordering returns the first row in file order by convention only. */
  private def firstRowValues(df: DataFrame): Option[Seq[String]] =
    df.limit(1).collect().headOption.map { row =>
      (0 until row.length).map(i => if (row.isNullAt(i)) null else row.get(i).toString)
    }

  /** P2 over a frame: [[embeddedHeaderIn]] of its first row. */
  def extractEmbeddedHeader(df: DataFrame): Option[String] =
    firstRowValues(df).flatMap(embeddedHeaderIn)

  /** P2 over a frame: [[checkEmbeddedHeaderRow]] of its first row. The load
    * path checks a layout's first data line instead, without a job. */
  def checkEmbeddedHeader(df: DataFrame): Option[Boolean] =
    firstRowValues(df).flatMap(checkEmbeddedHeaderRow)

  /** Reader options of every layout scan; [[headerSchema]] parses headers
    * with the same options. */
  private val csvReadOptions = Map("header" -> "true", "inferSchema" -> "false")

  /** S1/S2: read one CSV layout all-string (`inferSchema=false` reproduces
    * the reference's string-first ingestion, `data_validator.py:141-143`)
    * with the layout's [[headerSchema]], so Spark runs no header-inference
    * job. */
  def readCsv(spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame =
    spark.read.options(csvReadOptions).schema(schema).csv(paths: _*)

  private def csvOptions(spark: SparkSession): CSVOptions =
    new CSVOptions(csvReadOptions, true, spark.conf.get("spark.sql.session.timeZone"))

  /** The all-string schema Spark infers for a CSV whose header is `header`:
    * the line parsed with Spark's own parser settings (which also drop a
    * leading U+FEFF byte order mark), then Spark's safe-header renames (a
    * blank name becomes `_c<i>`; duplicates, case-insensitively unless the
    * session is case-sensitive, become name + index). */
  def headerSchema(spark: SparkSession, header: String): StructType = {
    val options = csvOptions(spark)
    val names = CSVUtils.makeSafeHeader(new CsvParser(options.asParserSettings).parseLine(header),
      spark.conf.get("spark.sql.caseSensitive").toBoolean, options)
    StructType(names.map(StructField(_, StringType)))
  }

  /** The first `n` non-blank lines of one file, read on the driver. Blank
    * means empty after trim, the lines Spark's CSV reader skips, so the
    * first is the line Spark takes as the file's header. */
  private def firstLines(spark: SparkSession, path: String, n: Int): List[String] = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try {
      val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      Iterator.continually(reader.readLine()).takeWhile(_ != null)
        .filter(_.trim.nonEmpty).take(n).toList
    } finally in.close()
  }

  /** P2 for one layout, without a job: [[checkEmbeddedHeaderRow]] on the
    * first data line of the layout's first file (sorted path), read and
    * parsed on the driver — one open per layout. */
  def checkLayoutHeader(spark: SparkSession, paths: Seq[String]): Option[Boolean] =
    firstLines(spark, paths.min, 2).drop(1).headOption.flatMap { line =>
      checkEmbeddedHeaderRow(new CsvParser(csvOptions(spark).asParserSettings).parseLine(line).toSeq)
    }

  /** Files whose first line is blank regrouped by their first non-blank
    * line, the header Spark reads for them. A file with no such line holds
    * no rows: it is skipped with a WARN that names it. */
  private def regroupBlankHeaders(spark: SparkSession,
                                  groups: Map[String, Seq[String]]): Map[String, Seq[String]] = {
    val (blank, headed) = groups.partition(_._1.trim.isEmpty)
    val rekeyed = blank.values.flatten.toSeq.sorted
      .map(p => firstLines(spark, p, 1).headOption -> p)
    val empty = rekeyed.collect { case (None, p) => p }
    if (empty.nonEmpty)
      log.warn(s"Skipping CSV files without a header line (no rows): ${empty.mkString(", ")}")
    rekeyed.collect { case (Some(h), p) => h -> p }.foldLeft(headed) {
      case (acc, (h, p)) => acc.updated(h, acc.getOrElse(h, Seq.empty) :+ p)
    }
  }

  /** Group CSV paths by header line so each distinct layout becomes ONE scan.
    * The one-line-per-file header probe runs as a tiny Spark job over the
    * path list (~128 paths per task): at millions of input files a serial
    * driver-side open+readLine loop is an O(n_files) bottleneck before the
    * first real task launches. The collect is bounded by design — one
    * (header, path) pair per file, the same metadata the grouping needs
    * on the driver to plan the per-layout scans. */
  def groupByLayout(spark: SparkSession, dir: String): Map[String, Seq[String]] = {
    // Resolve the filesystem from the probed path (not the default FS) so
    // s3a://, hdfs://, and file:// directories all probe correctly.
    val globPath = new org.apache.hadoop.fs.Path(s"$dir/*.csv")
    val fs = globPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus returns null (not an empty array) for a nonexistent
    // parent directory on some FS implementations — normalize before map.
    val files = Option(fs.globStatus(globPath)).getOrElse(Array.empty)
      .map(_.getPath.toString).toSeq
    if (files.isEmpty) return Map.empty
    // Ship the session's Hadoop conf so executor-side opens see the same
    // credentials/FS settings the driver resolved (s3a keys, etc.).
    val confSer = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1, math.min(files.length / 128 + 1,
      spark.sparkContext.defaultParallelism))
    val probed = spark.sparkContext.parallelize(files, slices).map { pStr =>
      val p = new org.apache.hadoop.fs.Path(pStr)
      val in = p.getFileSystem(confSer.value).open(p)
      val header = try {
        new java.io.BufferedReader(new java.io.InputStreamReader(
          in, java.nio.charset.StandardCharsets.UTF_8)).readLine()
      } finally in.close()
      (if (header == null) "" else header) -> pStr
    }.collect()
    probed.groupBy(_._1).map { case (h, ps) => h -> ps.map(_._2).toSeq }
  }

  /** Per-row country-from-filename expression (P4, `data_validator.py:89-93`):
    * first 3 chars of the basename, uppercased — computed from real file
    * lineage instead of a driver-side literal. */
  def countryFromFileName: org.apache.spark.sql.Column =
    upper(substring(regexp_extract(input_file_name(), "([^/]+)$", 1), 1, 3))

  /** U1: harmonize each layout group and union by name (`pd.concat` aligns by
    * column name, `main.py:60`); fixed canonical schema makes the union a
    * zero-copy plan concat.
    *
    * Runs no Spark job: each layout is read with the [[headerSchema]] of its
    * header line and gets the warn-only [[checkLayoutHeader]]. Files without
    * a header line hold no rows and are skipped. */
  def loadGrouped(spark: SparkSession, groups: Map[String, Seq[String]]): DataFrame = {
    require(groups.nonEmpty, "no CSV files found to load")
    val layouts = regroupBlankHeaders(spark, groups)
    require(layouts.nonEmpty, "no CSV file with a header line found to load")
    val frames = layouts.toSeq.sortBy(_._1).map { case (header, paths) =>
      checkLayoutHeader(spark, paths)
      harmonizeWith(readCsv(spark, paths, headerSchema(spark, header)), Some(countryFromFileName))
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** S1 end-to-end: enumerate the directory's CSVs, group by layout,
    * harmonize, union (reference `load_source_data`, `main.py:30-62`). */
  def loadSourceData(spark: SparkSession, dir: String): DataFrame =
    loadGrouped(spark, groupByLayout(spark, dir))
}
