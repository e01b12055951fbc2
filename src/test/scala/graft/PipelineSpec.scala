package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import graft.ingest.Harmonizer
import graft.validate.Validator
import graft.sink.Warehouse
import graft.views.CountryViews
import scala.jdk.CollectionConverters._

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
  private lazy val outDir = tempDir("graft-e2e")
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
    val dir = tempDir("graft-quarantine")
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
    val inDir = tempDir("graft-stream-in")
    val outDir = tempDir("graft-stream-out")
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
    val sqlDir = tempDir("graft-ddl")
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

  test("lineage: every warehouse row names the CSV it came from") {
    val csvs = new java.io.File(dataDir).listFiles().map(_.getName).toSet
    val rows = result.warehouse.select("SOURCE_FILE", "COUNTRY").collect()
    assert(rows.length == 8)
    val names = rows.map { r =>
      // input_file_name() is a URI: the file name is percent-encoded
      val name = new java.io.File(new java.net.URI(r.getString(0)).getPath).getName
      assert(csvs.contains(name), r.getString(0))
      // the fixtures carry no country column: it is the file name's prefix
      assert(name.take(3) == r.getString(1), name)
      name
    }
    assert(names.toSet == csvs)
  }

  test("run report: quarantined rows per reason, valid rows per country") {
    assert(result.quarantinedByReason == Map("Invalid month" -> 1L))
    assert(result.validByCountry == Map("AUS" -> 2L, "IND" -> 3L, "USA" -> 3L))
  }

  /** A fresh input directory holding the given golden files and extra files. */
  private def inputDir(golden: Seq[String], extra: (String, String)*): String = {
    val dir = java.nio.file.Paths.get(tempDir("graft-in"))
    val src = new java.io.File(dataDir).listFiles().filter(f => golden.exists(f.getName.startsWith))
    src.foreach(f => java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    extra.foreach { case (name, text) =>
      java.nio.file.Files.write(dir.resolve(name), text.getBytes("UTF-8"))
    }
    dir.toString
  }

  private def runAt(in: String): Pipeline.Result = Pipeline.run(spark, in,
    tempDir("graft-out"),
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
    def jobsOf(in: String): Int = jobsIn(runAt(in))
    // the AUS file alone is one layout and, like the golden set, has a
    // quarantined row, so both runs write a quarantine CSV
    val threeLayouts = jobsOf(dataDir)
    val oneLayout = jobsOf(inputDir(Seq("AUS")))
    assert(threeLayouts == oneLayout)
    assert(threeLayouts <= 6, s"$threeLayouts jobs")
  }

  /** The cached latest-row set a country view reads: its plan's one RDD leaf. */
  private def latestSet(view: String): LogicalRDD = {
    val leaves = spark.table(view).queryExecution.optimizedPlan.collect { case r: LogicalRDD => r }
    assert(leaves.size == 1, s"$view reads ${leaves.size} RDD leaves")
    leaves.head
  }

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The partitions of `rdd` that hold a block. */
  private def filled(rdd: org.apache.spark.rdd.RDD[_]): Int =
    spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id).map(_.numCachedPartitions).getOrElse(0)

  private def names(view: String): Seq[String] =
    spark.table(view).collect().map(_.getAs[String]("NAME")).toSeq.sorted

  test("two loads in one session keep one cached latest-row set, filled by the first read") {
    val before = persistentRdds
    runAt(dataDir)
    val first = latestSet("VIEW_AUS").rdd
    assert(filled(first) == 0, "Pipeline.run filled the set")
    assert(!first.isCheckpointed)
    assert(persistentRdds -- before == Set(first.id))

    // the first read ranks the warehouse and fills every block in one job
    assert(jobsIn(assert(names("VIEW_AUS") == Seq("Cristina"))) == 1)
    assert(first.isCheckpointed)
    assert(filled(first) == first.getNumPartitions)
    assert(persistentRdds -- before == Set(first.id))

    // the AUS file alone: ids 1 and 3 no longer lose to IND and USA rows
    runAt(inputDir(Seq("AUS")))
    val second = latestSet("VIEW_AUS").rdd
    assert(second.id != first.id)
    assert(persistentRdds -- before == Set(second.id))
    assert(filled(first) == 0)
    assert(names("VIEW_AUS") == Seq("Cristina", "Mike"))
    assert(persistentRdds -- before == Set(second.id))

    // a set that no view ever read is released too
    runAt(dataDir)
    runAt(dataDir)
    assert(persistentRdds -- before == Set(latestSet("VIEW_AUS").rdd.id))
  }

  test("the cached set holds base columns only; the views equal countryView at their as-of") {
    val r = runAt(dataDir)
    val set = latestSet("VIEW_IND")
    assert(set.output.map(_.name) == Seq("CUST_I", "NAME", "OPEN_DT",
      "CONSUL_DT", "VAC_ID", "DR_NAME", "STATE", "COUNTRY", "DOB", "FLAG"))
    def rows(df: DataFrame) = df.orderBy("CUST_I").collect().map(_.toSeq).toSeq
    // the same rows under a plan that does not read the set: a fresh rank
    val copy = spark.createDataFrame(
      spark.sparkContext.parallelize(r.warehouse.collect().toSeq), r.warehouse.schema)
    for (c <- r.countries) {
      val view = spark.table(CountryViews.viewName(c))
      assert(view.columns.takeRight(2).toSeq == Seq("AGE", "DAYS_SINCE_CONSUL_GT_30"))
      val fresh = CountryViews.countryView(copy, c, lit("2026-08-12").cast("date"))
      val plan = fresh.queryExecution.optimizedPlan
      assert(plan.exists(_.isInstanceOf[Window]), plan)
      assert(!plan.exists { case l: LogicalRDD => l.rdd.id == set.rdd.id; case _ => false }, plan)
      assert(rows(view) == rows(fresh), s"country $c")
    }
  }

  test("after the first read a lookup is one job over the cached set, with no exchange") {
    runAt(dataDir)
    spark.table("VIEW_IND").collect()
    val set = latestSet("VIEW_IND").rdd
    val lookup = spark.table("VIEW_IND").filter(col("CUST_I") === "2")
    assert(jobStagesIn(assert(lookup.collect().map(_.getAs[String]("NAME")).toSeq ==
      Seq("Rahul"))) == Seq(1))
    val plan = lookup.queryExecution.executedPlan
    val nodes = new AdaptiveSparkPlanHelper {}.collect(plan) { case n => n }
    assert(nodes.exists { case s: RDDScanExec => s.rdd.id == set.id; case _ => false }, plan)
    assert(!nodes.exists(_.isInstanceOf[Exchange]), plan)
  }

  test("a lost block of the cached set fails a view read loudly, never returns rows") {
    runAt(dataDir)
    assert(names("VIEW_IND") == Seq("Rahul"))
    val set = latestSet("VIEW_IND").rdd
    // what an executor loss does to the set's executor-local blocks
    spark.sparkContext.getPersistentRDDs(set.id).unpersist(blocking = true)
    assert(filled(set) == 0)
    val err = intercept[SparkException](spark.table("VIEW_IND").collect())
    assert(err.getMessage.contains("Checkpoint block"), err.getMessage)
    // the next registration builds a new set
    runAt(dataDir)
    assert(names("VIEW_IND") == Seq("Rahul"))
  }

  test("a reload drops the previous load's views of countries it lacks, and no other temp view") {
    runAt(dataDir)
    spark.range(1).createOrReplaceTempView("VIEW_NOT_A_LOAD")
    assert(spark.catalog.tableExists("VIEW_IND"))
    assert(runAt(inputDir(Seq("AUS"))).views == Seq("VIEW_AUS"))
    assert(!spark.catalog.tableExists("VIEW_IND"))
    assert(!spark.catalog.tableExists("VIEW_USA"))
    assert(names("VIEW_AUS") == Seq("Cristina", "Mike"))
    assert(spark.catalog.tableExists("VIEW_NOT_A_LOAD"))
    spark.catalog.dropTempView("VIEW_NOT_A_LOAD")
  }

  test("the warehouse is one flat table: no COUNTRY= directory, one file per write task") {
    // one CSV holding three countries in its Country column: one write task
    val in = inputDir(Nil, "mixed.csv" -> Seq(
      "ID,Name,VaccinationType,VaccinationDate,Doctor,State,Country,Consultation Date,Post Code",
      "1,Ann,ABC,04/05/2022,Dr A,S1,AUS,05/05/2022,1",
      "2,Bo,ABC,04/06/2022,Dr B,S2,IND,05/06/2022,2",
      "3,Cy,XYZ,04/07/2022,Dr C,S3,USA,05/07/2022,3").mkString("", "\n", "\n"))
    val out = tempDir("graft-out")
    val r = Pipeline.run(spark, in, out, asOf = lit("2026-08-12").cast("date"))
    assert(r.validByCountry == Map("AUS" -> 1L, "IND" -> 1L, "USA" -> 1L))
    // the write tasks are the input's scan partitions: nothing in between shuffles
    def assertFlat(input: String, warehouse: String): Unit = {
      val entries = new java.io.File(warehouse).listFiles().toSeq
      assert(!entries.exists(_.isDirectory), entries)
      val files = entries.filter(_.getName.endsWith(".parquet"))
      val writeTasks = Harmonizer.loadSourceData(spark, input).rdd.getNumPartitions
      assert(files.nonEmpty && files.size <= writeTasks, s"$warehouse: ${files.size} files")
    }
    assertFlat(in, s"$out/warehouse")
    assert(result.validCount == 8)
    assertFlat(dataDir, s"$outDir/warehouse")
    assert(r.warehouse.columns.count(_ == "COUNTRY") == 1)
    assert(spark.read.parquet(s"$out/warehouse").schema == r.warehouse.schema)
  }

  test("under a checkpoint dir a run gives the local result and leaves no checkpoint files") {
    def report(r: Pipeline.Result) = (r.validCount, r.quarantineCount, r.countries,
      r.views, r.quarantinedByReason, r.validByCountry)
    def viewRows(r: Pipeline.Result) =
      r.views.map(v => spark.table(v).orderBy("CUST_I").collect().map(_.toSeq).toSeq)
    val local = runAt(dataDir)
    val (localReport, localViews) = (report(local), viewRows(local))
    val dir = java.nio.file.Paths.get(tempDir("graft-ckpt"))
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val reliable = runAt(dataDir)
      assert(report(reliable) == localReport)
      assert(viewRows(reliable) == localViews)
      val left = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
      assert(left.isEmpty, left)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("a load under a Turkish default locale gives the same columns, views and lineage") {
    // the golden files plus a country whose name holds a lowercase i
    val in = inputDir(Seq("AUS", "IND", "USA"), "ZZZ india.csv" -> Seq(
      "ID,Name,DOB,VaccinationType,VaccinationDate,Country",
      "9,Tui,01/02/1990,ABC,04/05/2022,India").mkString("", "\n", "\n"))
    def load() = {
      val r = runAt(in)
      (r.warehouse.columns.toSeq, r.views,
        // EtlMain reads each view through an unquoted name
        r.views.map(v => spark.sql(s"SELECT * FROM $v").count()),
        r.warehouse.select("SOURCE_FILE").collect().map(_.getString(0)).toSeq.sorted)
    }
    val expected = load()
    assert(expected._2.contains("VIEW_INDIA"))
    val prev = java.util.Locale.getDefault
    val turkish =
      try {
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
        load()
      } finally java.util.Locale.setDefault(prev)
    assert(turkish == expected)
    assert(turkish._4.length == 9 && turkish._4.forall(_.nonEmpty), turkish._4)
  }

  test("warehouse name normalization uppercases and strips") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("some col", "other-\"col\"")
    assert(Warehouse.normalizeNames(df).columns.toSeq == Seq("SOME_COL", "OTHER_COL"))
  }
}
