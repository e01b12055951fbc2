package graft.views

import java.util.Locale
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-country analytic views (reference `view_generator.py:4-72` +
  * `main.py:64-139`; operators S6/S7/S8/A1/W1/E4/E5/P9 in SURVEY.md §2).
  *
  * Semantics preserved exactly from the generated Snowflake view:
  *  - W1: `ROW_NUMBER() OVER (PARTITION BY CUST_I ORDER BY CONSUL_DT DESC)`
  *    then `RowNum = 1` — dedup to the latest consultation
  *    (`view_generator.py:42-45`, `:63`).
  *  - The rank runs over the WHOLE table; the country filter applies AFTER
  *    (`view_generator.py:63-64`), so a customer seen in two countries
  *    surfaces only under the country of their latest consultation
  *    (SURVEY.md §7.4.6).
  *  - E4: `AGE = DATEDIFF(YEAR, DOB, CURRENT_DATE())` — Snowflake year-diff
  *    is calendar-year subtraction, NOT birthday-aware (`view_generator.py:33`).
  *  - E5: stale flag with NULL→FALSE coercion via the CASE else branch
  *    (`view_generator.py:36-40`).
  *
  * Determinism: the reference's sort is ambiguous on `CONSUL_DT` ties; the
  * rebuild appends stable tie-break keys (SURVEY.md §7.4.4) and takes the
  * "as of" date as a parameter instead of `current_date()` so results are
  * reproducible (§7.4.5). Pass `asOf = current_date()` for live parity.
  *
  * Scale: the dedup is one hash-shuffle on `CUST_I` + per-partition sort —
  * the single shuffle this pipeline needs, run once per registration: the
  * per-country views are filters over one latest-row set (base columns
  * only), a lazy local checkpoint that the first view read fills, so N
  * countries do not mean N shuffles. A request after the first reads the
  * checkpoint as a leaf with no lineage: one stage, no shuffle. The as-of
  * columns are computed over the set per query.
  */
object CountryViews {

  /** Deterministic tie-break extension of `ORDER BY CONSUL_DT DESC`. */
  private def dedupOrder: Seq[Column] = Seq(
    col("CONSUL_DT").desc_nulls_last,
    col("OPEN_DT").desc_nulls_last,
    col("VAC_ID").asc_nulls_last,
    col("NAME").asc_nulls_last)

  private val baseColumns = Seq(
    "CUST_I", "NAME", "OPEN_DT", "CONSUL_DT", "VAC_ID", "DR_NAME", "STATE",
    "COUNTRY", "DOB", "FLAG")

  /** W1: the latest-consultation row per customer, base columns only
    * (`view_generator.py:42-45`, `:63`). Nothing in it depends on the
    * as-of date, so it can be cached across queries. */
  private def latestRows(warehouse: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("CUST_I")).orderBy(dedupOrder: _*)
    warehouse
      .withColumn("RowNum", row_number().over(w))
      .filter(col("RowNum") === 1)
      .select(baseColumns.map(col): _*)
  }

  /** E4+E5: the as-of columns (`view_generator.py:33-40`). */
  private def withAsOf(latest: DataFrame, asOf: Column): DataFrame =
    latest.select(col("*"),
      (year(asOf) - year(col("DOB"))).as("AGE"),
      when(datediff(asOf, col("CONSUL_DT")) > 30, true).otherwise(false)
        .as("DAYS_SINCE_CONSUL_GT_30"))

  /** Latest-consultation row per customer with derived columns — the view
    * body before the country predicate (`view_generator.py:19-63`). */
  def dedupedCustomers(warehouse: DataFrame, asOf: Column): DataFrame =
    withAsOf(latestRows(warehouse), asOf)

  /** P9: one country's view (`view_generator.py:64`) — filter AFTER rank. */
  def countryView(warehouse: DataFrame, country: String,
                  asOf: Column): DataFrame =
    dedupedCustomers(warehouse, asOf).filter(col("COUNTRY") === lit(country))

  /** S8/A1: enumerate countries (`SELECT DISTINCT COUNTRY`, `main.py:74-81`,
    * dropping null/empty like the driver-side `if row[0]` filter). The result
    * is small (bounded by world country count) — the one sanctioned
    * driver-side collect in the pipeline. */
  def distinctCountries(warehouse: DataFrame): Seq[String] =
    warehouse.select(col("COUNTRY")).distinct()
      .filter(col("COUNTRY").isNotNull && col("COUNTRY") =!= "")
      .collect().map(_.getString(0)).sorted.toSeq

  /** S6 parity: the view name the reference generates (`view_generator.py:16`). */
  def viewName(country: String): String =
    s"VIEW_${country.replace(' ', '_').toUpperCase(Locale.ROOT)}"

  /** S6: the generated view DDL — the reference's Snowflake template
    * (`view_generator.py:17-65`) re-expressed in Spark SQL over a registered
    * warehouse table/view, deterministic tie-breaks included. */
  def viewSql(country: String, warehouseTable: String,
              asOfSql: String): String = {
    val name = viewName(country)
    s"""CREATE OR REPLACE TEMPORARY VIEW $name AS
       |WITH RankedCustomers AS (
       |    SELECT
       |        CUST_I, NAME, OPEN_DT, CONSUL_DT, VAC_ID, DR_NAME, STATE,
       |        COUNTRY, DOB, FLAG,
       |        year($asOfSql) - year(DOB) AS AGE,
       |        CASE
       |            WHEN datediff($asOfSql, CONSUL_DT) > 30
       |            THEN TRUE
       |            ELSE FALSE
       |        END AS DAYS_SINCE_CONSUL_GT_30,
       |        ROW_NUMBER() OVER (
       |            PARTITION BY CUST_I
       |            ORDER BY CONSUL_DT DESC NULLS LAST, OPEN_DT DESC NULLS LAST,
       |                     VAC_ID ASC NULLS LAST, NAME ASC NULLS LAST
       |        ) AS RowNum
       |    FROM $warehouseTable
       |)
       |SELECT
       |    CUST_I, NAME, OPEN_DT, CONSUL_DT, VAC_ID, DR_NAME, STATE,
       |    COUNTRY, DOB, FLAG, AGE, DAYS_SINCE_CONSUL_GT_30
       |FROM RankedCustomers
       |WHERE RowNum = 1
       |AND COUNTRY = '${country.replace("'", "''")}'
       |""".stripMargin
  }

  /** S6: render one `VIEW_<C>.sql` file per country (the reference writes
    * `scripts/dml/generated/VIEW_<C>.sql`, `view_generator.py:66-72`). */
  def writeViewSqlFiles(countries: Seq[String], warehouseTable: String,
                        outputDir: String,
                        asOfSql: String): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outputDir))
    countries.map { c =>
      val path = java.nio.file.Paths.get(outputDir, s"${viewName(c)}.sql")
      java.nio.file.Files.writeString(path, viewSql(c, warehouseTable, asOfSql))
      path.toString
    }
  }

  /** S7: enumerate `*.sql` in a directory, sort by name, execute each —
    * mirroring `execute_country_views` (`main.py:107-139`, incl. the
    * filename sort at `main.py:119`). */
  def executeViewSqlFiles(spark: SparkSession, dir: String): Seq[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".sql")).map(_.getPath).sorted.toSeq
    files.foreach(f => spark.sql(java.nio.file.Files.readString(
      java.nio.file.Paths.get(f))))
    files
  }

  /** One registration: its country views and the RDD its latest-row set
    * reads. The set's frame is not kept: it would pin the session. */
  private final case class Registration(views: Seq[String], latest: Option[RDD[_]])

  /** The last registration of each session. */
  private val registered = new java.util.WeakHashMap[SparkSession, Registration]()

  /** S6+S7: register each country view as a temp view — the Spark-native
    * replacement for generating SQL text files and executing them remotely
    * (`view_generator.py:17-72`, `main.py:107-139`). Views are lazy,
    * mirroring the reference's views-not-tables design (README.md:89-98).
    *
    * The views share one latest-row set per registration, a
    * [[graft.Materialize.onFirstRead]] checkpoint on disk: registering runs
    * no job, the first view read ranks the warehouse and fills the blocks
    * in one job, and every later read is one stage over a lineage-free
    * leaf, with no shuffle. The set holds no storage memory. It is
    * executor-local even under a checkpoint dir, because it is a read cache
    * of the durable warehouse; a lost block therefore fails a view read
    * loudly instead of recomputing it, and the next registration builds a
    * new set. The as-of columns are computed over the set per query, so
    * `current_date()` is still evaluated per query.
    * Each registration releases the session's previous set, read or not,
    * so a session holds at most one. The views of the previous
    * registration for countries this one lacks are dropped, so none
    * answers from an earlier warehouse; temp views this method did not
    * register are left alone. */
  def registerCountryViews(spark: SparkSession, warehouse: DataFrame,
                           countries: Seq[String],
                           asOf: Column = current_date()): Seq[String] = {
    val latest = graft.Materialize.onFirstRead(latestRows(warehouse))
    val deduped = withAsOf(latest, asOf)
    val names = countries.sorted.map { c =>
      val name = viewName(c)
      deduped.filter(col("COUNTRY") === lit(c)).createOrReplaceTempView(name)
      name
    }
    val previous = registered.synchronized(
      Option(registered.put(spark, Registration(names, graft.Materialize.checkpointOf(latest)))))
    previous.foreach { p =>
      p.views.filterNot(names.contains).foreach(spark.catalog.dropTempView)
      p.latest.foreach(graft.Materialize.release)
    }
    names
  }
}
