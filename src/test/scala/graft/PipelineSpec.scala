package graft

import org.apache.spark.sql.functions._
import graft.ingest.Harmonizer
import graft.validate.Validator
import graft.sink.Warehouse
import graft.views.CountryViews

/** Golden end-to-end test over the three reference CSVs (SURVEY.md §5.3).
  * Expected values hand-derived from the reference semantics:
  *
  * AUS file (country from filename):
  *  r1 Mike: DOB literal "NULL" → invalid optional → null; Open 2022-05-11 ✓
  *  r2 Jonnathan: Open "2021-13-13" → Invalid month: 20 → QUARANTINED
  *  r3 Cristina: DOB 1998-03-12... source "03/12/1998" → ✓; Open 2022-03-12 ✓
  * IND file: all valid, "Free or Paid" dropped; 08/13/1982 month-first.
  * USA file: compact digits all valid; no DOB column → null.
  */
class PipelineSpec extends SparkSpec {

  private lazy val dataDir = resourcePath("vaccination")
  private lazy val outDir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
  private lazy val result =
    Pipeline.run(spark, dataDir, outDir, asOf = lit("2026-08-12").cast("date"))

  test("harmonization: canonical schema, unmapped columns dropped") {
    val raw = Harmonizer.loadSourceData(spark, dataDir)
    assert(raw.columns.toSeq == graft.schema.Schemas.canonicalColumns)
    assert(raw.count() == 9)
    // country fallback from filename for all three files
    val countries = raw.select("Country").distinct().collect().map(_.getString(0)).sorted
    assert(countries.toSeq == Seq("AUS", "IND", "USA"))
  }

  test("validation: one quarantined row (invalid mandatory Open_Date)") {
    assert(result.quarantineCount == 1)
    // timestamped artifact naming per reference data_validator.py:195-216:
    // one invalid_records_<yyyyMMdd_HHmmss> directory per run, accumulated
    val path = result.quarantinePath.get
    assert(new java.io.File(path).getName.matches("invalid_records_\\d{8}_\\d{6}"))
    val q = spark.read.option("header", "true").csv(path)
    val row = q.collect().head
    assert(row.getAs[String]("Customer_Name") == "Jonnathan")
    assert(row.getAs[String]("Validation_Error") ==
      "Invalid month: 20 (must be between 1 and 12)")
    assert(row.getAs[String]("Invalid_Field") == "Open_Date")
  }

  test("quarantine runs accumulate; empty quarantine writes no artifact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-quarantine").toString
    val raw = Harmonizer.loadSourceData(spark, dataDir)
    val v = Validator.validate(raw)
    val p1 = Validator.saveInvalidRecords(v.quarantine, dir, Some("20260812_000001"))
    val p2 = Validator.saveInvalidRecords(v.quarantine, dir, Some("20260812_000002"))
    assert(p1.get.endsWith("invalid_records_20260812_000001"))
    assert(p2.get.endsWith("invalid_records_20260812_000002"))
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("invalid_records_")) == 2)
    val empty = v.quarantine.filter(lit(false))
    assert(Validator.saveInvalidRecords(empty, dir, Some("20260812_000003")).isEmpty)
    // same-second collision: second run with an identical timestamp must
    // land in a suffixed directory, not fail the write
    val p3 = Validator.saveInvalidRecords(v.quarantine, dir, Some("20260812_000001"))
    assert(p3.get.endsWith("invalid_records_20260812_000001_1"))
  }

  test("P2: mismatched embedded header warns only — rows unaffected") {
    import spark.implicits._
    val bad = Seq(
      ("|H|Wrong|Header|Layout", "x"),
      ("Alice", "1"), ("Bob", "2"),
    ).toDF("Name", "ID")
    // mismatch is reported but load semantics are unchanged (warn-only)
    assert(Harmonizer.checkEmbeddedHeader(bad).contains(false))
    assert(Harmonizer.harmonize(bad).count() == 2)
    val good = Seq(
      (graft.schema.Schemas.expectedHeader, "x"),
      ("Alice", "1"),
    ).toDF("Name", "ID")
    assert(Harmonizer.checkEmbeddedHeader(good).contains(true))
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val noHeader = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("Name", StringType), StructField("ID", StringType))))
    assert(Harmonizer.checkEmbeddedHeader(noHeader).isEmpty)
  }

  test("valid records: 8 rows, typed dates, physical names") {
    assert(result.validCount == 8)
    val wh = result.warehouse
    assert(wh.schema("OPEN_DT").dataType.typeName == "date")
    assert(wh.schema("DOB").dataType.typeName == "date")
    val mike = wh.filter(col("NAME") === "Mike" && col("COUNTRY") === "AUS").collect().head
    assert(mike.getAs[java.sql.Date]("OPEN_DT").toString == "2022-05-11")
    assert(mike.getAs[java.sql.Date]("DOB") == null) // literal "NULL" → invalid optional
    val sameer = wh.filter(col("NAME") === "Sameer").collect().head
    assert(sameer.getAs[java.sql.Date]("DOB").toString == "1952-08-13") // month-first
    val sam = wh.filter(col("NAME") === "Sam").collect().head
    assert(sam.getAs[java.sql.Date]("OPEN_DT").toString == "2022-06-15") // "6152022"
  }

  test("country views: dedup + AGE + stale flag semantics") {
    assert(result.countries == Seq("AUS", "IND", "USA"))
    assert(result.views == Seq("VIEW_AUS", "VIEW_IND", "VIEW_USA"))
    // Customer ids collide across the three files (1..3 each) and the
    // reference ranks globally BEFORE the country filter, so each id
    // surfaces under exactly one country: with all CONSUL_DT null the
    // deterministic tie-break (latest OPEN_DT) picks 1→Sam(USA),
    // 2→Rahul(IND), 3→Cristina(AUS).
    val aus = spark.sql("SELECT * FROM VIEW_AUS").collect()
    assert(aus.map(_.getAs[String]("NAME")).toSeq == Seq("Cristina"))
    assert(spark.sql("SELECT NAME FROM VIEW_IND").collect()
      .map(_.getString(0)).toSeq == Seq("Rahul"))
    assert(spark.sql("SELECT NAME FROM VIEW_USA").collect()
      .map(_.getString(0)).toSeq == Seq("Sam"))
    val cristina = aus.find(_.getAs[String]("NAME") == "Cristina").get
    // AGE = year(asOf) - year(DOB) = 2026 - 1998, NOT birthday-aware
    assert(cristina.getAs[Int]("AGE") == 28)
    // CONSUL_DT is null in all files → NULL→FALSE coercion
    assert(!cristina.getAs[Boolean]("DAYS_SINCE_CONSUL_GT_30"))
  }

  test("dedup keeps latest consultation per customer across countries") {
    import spark.implicits._
    val wh = Seq(
      ("C1", "A", "2022-01-01", "2024-05-01", "IND"),
      ("C1", "A", "2022-01-01", "2024-06-01", "USA"),
      ("C2", "B", "2022-01-01", null, "IND"),
    ).toDF("CUST_I", "NAME", "OPEN_DT", "CONSUL_DT", "COUNTRY")
      .withColumn("OPEN_DT", col("OPEN_DT").cast("date"))
      .withColumn("CONSUL_DT", col("CONSUL_DT").cast("date"))
      .withColumn("VAC_ID", lit(null).cast("string"))
      .withColumn("DR_NAME", lit(null).cast("string"))
      .withColumn("STATE", lit(null).cast("string"))
      .withColumn("DOB", lit(null).cast("date"))
      .withColumn("FLAG", lit(null).cast("string"))
    val asOf = lit("2024-06-15").cast("date")
    // C1's latest consultation is in USA → surfaces ONLY under USA
    val ind = CountryViews.countryView(wh, "IND", asOf).collect()
    assert(ind.map(_.getAs[String]("CUST_I")).toSeq == Seq("C2"))
    val usa = CountryViews.countryView(wh, "USA", asOf).collect()
    assert(usa.map(_.getAs[String]("CUST_I")).toSeq == Seq("C1"))
    // stale flag: 2024-06-01 → 14 days → false; null → false
    assert(!usa.head.getAs[Boolean]("DAYS_SINCE_CONSUL_GT_30"))
    assert(!ind.head.getAs[Boolean]("DAYS_SINCE_CONSUL_GT_30"))
    val indStale = CountryViews.countryView(wh, "IND", lit("2024-12-31").cast("date"))
    assert(!indStale.collect().head.getAs[Boolean]("DAYS_SINCE_CONSUL_GT_30"))
  }

  test("sentinel rows are stripped and header extracted") {
    import spark.implicits._
    val df = Seq(
      ("|H|Customer_Name|Customer_Id|Open_Date|Last_Consulted_Date|Vaccination_Id|Dr_Name|State|Country|DOB|Is_Active", "x"),
      ("Alice", "1"), ("Bob", "2"),
    ).toDF("Name", "ID")
    assert(Harmonizer.stripSentinelRows(df).count() == 2)
    val h = Harmonizer.extractEmbeddedHeader(df)
    assert(h.isDefined && Harmonizer.headerMatches(h.get))
  }

  test("coalesce order follows column-map insertion order") {
    import spark.implicits._
    // Both "ID" and "Unique ID" map to Customer_Id; map order puts "ID" first.
    val df = Seq((null.asInstanceOf[String], "u1", "n"), ("i2", "u2", "n"))
      .toDF("ID", "Unique ID", "Name")
    val got = Harmonizer.harmonize(df).select("Customer_Id")
      .collect().map(_.getString(0)).toSeq
    assert(got.sorted == Seq("i2", "u1")) // null ID coalesces to Unique ID
  }

  test("strict mode raises on missing mandatory columns") {
    import spark.implicits._
    val df = Seq(("x")).toDF("SomethingElse")
    intercept[IllegalArgumentException] {
      Harmonizer.harmonize(df, strict = true)
    }
  }

  test("typed valid records expose business nullability") {
    val raw = Harmonizer.loadSourceData(spark, dataDir)
    val typed = Validator.validate(raw).validRecordsTyped.collect()
    assert(typed.length == 8)
    typed.foreach { r =>
      assert(r.Customer_Name != null && r.Customer_Id != null && r.Open_Date != null)
    }
    val mike = typed.find(r => r.Customer_Name == "Mike" && r.Country.contains("AUS")).get
    assert(mike.DOB.isEmpty) // literal "NULL" string → invalid optional → None
    assert(mike.Open_Date.toString == "2022-05-11")
  }

  test("streaming ETL: micro-batches append warehouse + quarantine with checkpoint") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-out").toString
    // one layout (the IND header); first file arrives before the stream starts
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(resourcePath("vaccination/IND (1) 1(in).csv")),
      java.nio.file.Paths.get(s"$inDir/IND_1.csv"))
    val q = graft.streaming.StreamingIngest.streamingEtl(spark, inDir,
      Seq("ID", "Name", "DOB", "VaccinationType", "VaccinationDate", "Free or Paid"),
      outDir)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$outDir/warehouse").count() == 3)
      // a second file lands mid-stream → incremental micro-batch, appended
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$inDir/NZL_2.csv"),
        "ID,Name,DOB,VaccinationType,VaccinationDate,Free or Paid\n9,Tui,01/02/1990,ABC,2021-13-13,F\n10,Kea,03/04/1992,XYZ,04/05/2022,P\n".getBytes)
      q.processAllAvailable()
      val wh = spark.read.parquet(s"$outDir/warehouse")
      assert(wh.count() == 4) // Tui quarantined (invalid Open_Date)
      assert(wh.filter(col("NAME") === "Kea" && col("COUNTRY") === "NZL").count() == 1)
      val quarantine = spark.read.option("header", "true").csv(s"$outDir/invalid_records")
      assert(quarantine.filter(col("Customer_Name") === "Tui").count() == 1)
    } finally q.stop()
  }

  test("generated view SQL files execute and match the DataFrame views") {
    result.warehouse.createOrReplaceTempView("wh_for_sql")
    val sqlDir = java.nio.file.Files.createTempDirectory("graft-ddl").toString
    val files = CountryViews.writeViewSqlFiles(result.countries, "wh_for_sql",
      sqlDir, asOfSql = "DATE'2026-08-12'")
    assert(files.map(f => new java.io.File(f).getName).sorted ==
      Seq("VIEW_AUS.sql", "VIEW_IND.sql", "VIEW_USA.sql"))
    // executing the text files must register views identical to the
    // DataFrame-built ones (register under fresh names to compare)
    CountryViews.executeViewSqlFiles(spark, sqlDir)
    for (c <- result.countries) {
      val fromSql = spark.sql(
        s"SELECT * FROM ${CountryViews.viewName(c)} ORDER BY CUST_I").collect()
      val fromDf = CountryViews.countryView(result.warehouse, c,
        lit("2026-08-12").cast("date")).orderBy("CUST_I").collect()
      assert(fromSql.map(_.toSeq).toSeq == fromDf.map(_.toSeq).toSeq, s"country $c")
    }
  }

  test("run report: quarantined rows per reason, valid rows per country") {
    assert(result.quarantinedByReason == Map("Invalid month" -> 1L))
    assert(result.validByCountry == Map("AUS" -> 2L, "IND" -> 3L, "USA" -> 3L))
  }

  /** A fresh input directory holding the given golden files and extra files. */
  private def inputDir(golden: Seq[String], extra: (String, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-in")
    val src = new java.io.File(dataDir).listFiles().filter(f => golden.exists(f.getName.startsWith))
    src.foreach(f => java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    extra.foreach { case (name, text) =>
      java.nio.file.Files.write(dir.resolve(name), text.getBytes("UTF-8"))
    }
    dir.toString
  }

  private def runAt(in: String): Pipeline.Result = Pipeline.run(spark, in,
    java.nio.file.Files.createTempDirectory("graft-out").toString,
    asOf = lit("2026-08-12").cast("date"))

  test("numeric-looking country from a file name stays a string") {
    val in = inputDir(Nil, "007 x.csv" -> Seq(
      "ID,Name,DOB,VaccinationType,VaccinationDate",
      "1,Ann,01/02/1990,ABC,04/05/2022", "2,Bo,01/02/1991,ABC,04/06/2022",
      "3,Cy,01/02/1992,XYZ,04/07/2022").mkString("", "\n", "\n"))
    val r = runAt(in)
    assert(r.countries == Seq("007"))
    assert(r.views == Seq("VIEW_007"))
    assert(spark.table("VIEW_007").count() == 3)
    assert(r.warehouse.schema("COUNTRY").dataType.typeName == "string")
  }

  test("a 0-byte CSV is skipped; only header-less files fail loudly") {
    val r = runAt(inputDir(Seq("AUS", "IND", "USA"), "ZZZ empty.csv" -> ""))
    assert(r.validByCountry == Map("AUS" -> 2L, "IND" -> 3L, "USA" -> 3L))
    assert(r.quarantineCount == 1)
    val e = intercept[IllegalArgumentException](runAt(inputDir(Nil, "ZZZ.csv" -> "")))
    assert(e.getMessage.contains("no CSV file with a header line"))
  }

  test("a CSV whose first line is blank takes its first non-blank line as header") {
    val r = runAt(inputDir(Seq("AUS"), "NZL late.csv" ->
      "\n  \nID,Name,DOB,VaccinationType,VaccinationDate\n9,Tui,01/02/1990,ABC,04/05/2022\n"))
    assert(r.validByCountry == Map("AUS" -> 2L, "NZL" -> 1L))
  }

  test("job budget: at most 6 jobs, the same for one layout as for three") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    def jobsOf(in: String): Int = {
      val group = s"budget-${java.util.UUID.randomUUID()}"
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null &&
              e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, "job budget")
        try runAt(in) finally sc.clearJobGroup()
        org.apache.spark.graft.ListenerFlush.flush(sc)
        jobs.get()
      } finally sc.removeSparkListener(listener)
    }
    // the AUS file alone is one layout and, like the golden set, has a
    // quarantined row, so both runs write a quarantine CSV
    val threeLayouts = jobsOf(dataDir)
    val oneLayout = jobsOf(inputDir(Seq("AUS")))
    assert(threeLayouts == oneLayout)
    assert(threeLayouts <= 6, s"$threeLayouts jobs")
  }

  test("warehouse name normalization uppercases and strips") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("some col", "other-\"col\"")
    assert(Warehouse.normalizeNames(df).columns.toSeq == Seq("SOME_COL", "OTHER_COL"))
  }
}
