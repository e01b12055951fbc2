package graft.ingest

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

import graft.SparkSpec

/** A `counting://` filesystem over the local disk that tallies every
  * `open()` — the only way to PIN (not argue) that the distributed header
  * probe reads each file exactly once. local-mode executors share the
  * JVM, so the static counter sees executor-side opens too. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("counting:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}
object CountingFs {
  val opens = new java.util.concurrent.atomic.AtomicLong(0)
}

/** Spec-pins for [[Harmonizer.groupByLayout]], the distributed header
  * probe (one tiny Spark job over the path list instead of a serial
  * driver loop):
  *
  *  - each file is OPENED exactly once (counting-FS tally) and appears
  *    in exactly one layout group — the probe's cost is one first-line
  *    read per file, nothing re-read, nothing dropped;
  *  - the driver-side collect is bounded to one (header, path) pair per
  *    file — the same metadata any planner must hold to schedule the
  *    per-layout scans (sanctioned-collect inventory entry);
  *  - empty directory and NONEXISTENT directory both return an empty
  *    map (globStatus returns null for a missing parent on some FS
  *    implementations — pinned so the Option guard can't regress);
  *  - an empty file groups under the "" header key instead of throwing;
  *  - a non-ASCII UTF-8 header is preserved byte-exactly as the key.
  */
class HarmonizerProbeSpec extends SparkSpec {

  private def writeCsv(dir: JPath, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  private def countingUri(dir: JPath): String = s"counting://${dir.toAbsolutePath}"

  private def withCountingFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.counting.impl", classOf[CountingFs].getName)
    body
  }

  test("probe opens each file exactly once and groups every path exactly once") {
    val dir = Files.createTempDirectory("probe_once")
    writeCsv(dir, "usa1.csv", "ID,Name,VaccinationType,VaccinationDate", "1,a,covid,01012021")
    writeCsv(dir, "usa2.csv", "ID,Name,VaccinationType,VaccinationDate", "2,b,flu,02012021")
    writeCsv(dir, "ind1.csv", "ID,Name,VaccinationType,VaccinationDate,FreeOrPaid", "3,c,covid,03012021,F")
    writeCsv(dir, "aus1.csv", "Unique ID,Patient Name,Vaccine Type,Date of Birth,Date of Vaccination",
      "4,d,covid,,04012021")
    withCountingFs {
      CountingFs.opens.set(0)
      val groups = Harmonizer.groupByLayout(spark, countingUri(dir))
      assert(CountingFs.opens.get() === 4L,
        "header probe must open each file exactly once")
      // Exactly-once membership: every path in exactly one group, none lost.
      val allPaths = groups.values.flatten.toSeq
      assert(allPaths.size === 4)
      assert(allPaths.distinct.size === 4)
      // Grouped by literal header line: 3 distinct layouts above.
      assert(groups.size === 3)
      val fourCol = groups("ID,Name,VaccinationType,VaccinationDate")
      assert(fourCol.size === 2)
      assert(fourCol.forall(p => p.endsWith("usa1.csv") || p.endsWith("usa2.csv")))
    }
  }

  test("empty directory returns an empty map") {
    val dir = Files.createTempDirectory("probe_empty")
    assert(Harmonizer.groupByLayout(spark, dir.toAbsolutePath.toString) === Map.empty)
  }

  test("nonexistent directory returns an empty map (null globStatus guarded)") {
    val dir = Files.createTempDirectory("probe_gone")
    val missing = dir.resolve("does_not_exist").toAbsolutePath.toString
    assert(Harmonizer.groupByLayout(spark, missing) === Map.empty)
  }

  test("empty file groups under the empty-string header key") {
    val dir = Files.createTempDirectory("probe_zero")
    Files.write(dir.resolve("zero.csv"), Array.empty[Byte])
    writeCsv(dir, "ok.csv", "ID,Name", "1,a")
    val groups = Harmonizer.groupByLayout(spark, dir.toAbsolutePath.toString)
    assert(groups.size === 2)
    assert(groups("").exists(_.endsWith("zero.csv")))
    assert(groups("ID,Name").exists(_.endsWith("ok.csv")))
  }

  test("non-ASCII UTF-8 header is preserved byte-exactly as the group key") {
    val dir = Files.createTempDirectory("probe_utf8")
    val header = "ID,Namé,Größe,名前"
    writeCsv(dir, "intl.csv", header, "1,a,b,c")
    val groups = Harmonizer.groupByLayout(spark, dir.toAbsolutePath.toString)
    assert(groups.keySet === Set(header))
  }

  test("derived layout schema equals the schema Spark infers from the header") {
    val headers = Seq(
      "\"a,b\",c,\"d, e\"",                // quoted names containing commas
      "\"q\"\"z\",id",                        // an escaped quote
      "Name,name,NAME,id",                  // case-only duplicates
      "id,id,x,id",                         // exact duplicates
      ",id,,x",                             // blank names
      "ID,Namé,Größe,名前",                  // non-ASCII names
      "\uFEFFID,Name,DOB")                  // a byte order mark
    val dir = Files.createTempDirectory("probe_schema")
    def check(header: String, i: Int): Unit = {
      val name = s"h$i-${System.nanoTime()}.csv"
      writeCsv(dir, name, header, "1,2,3,4")
      val path = dir.resolve(name).toString
      val inferred = spark.read.option("header", "true").csv(path).schema
      assert(Harmonizer.headerSchema(spark, header) === inferred, header)
    }
    headers.zipWithIndex.foreach { case (h, i) => check(h, i) }
    val prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try check("Name,name,NAME,id", headers.size)
    finally spark.conf.set("spark.sql.caseSensitive", prev)
  }

  test("a BOM-prefixed header maps its first column") {
    val dir = Files.createTempDirectory("probe_bom")
    writeCsv(dir, "usa.csv", "\uFEFFID,Name,VaccinationType,VaccinationDate", "7,a,covid,01012021")
    val df = Harmonizer.loadSourceData(spark, dir.toAbsolutePath.toString)
    assert(df.select("Customer_Id", "Customer_Name").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq === Seq(("7", "a")))
  }

  test("layout plan: one driver open per layout, the first data line checked for |H|") {
    val dir = Files.createTempDirectory("probe_plan")
    val expected = graft.schema.Schemas.expectedHeader
    writeCsv(dir, "a1.csv", "ID,Name", s"\"$expected\",x", "1,a")
    writeCsv(dir, "a2.csv", "ID,Name", "2,b")
    writeCsv(dir, "b1.csv", "Unique ID,Patient Name", "|H|Wrong|Layout,x", "3,c")
    writeCsv(dir, "c1.csv", "\"Name\",ID", "", "d,4")
    withCountingFs {
      val groups = Harmonizer.groupByLayout(spark, countingUri(dir))
      def check(header: String) = Harmonizer.checkLayoutHeader(spark, groups(header))
      CountingFs.opens.set(0)
      assert(check("ID,Name") === Some(true))
      assert(check("Unique ID,Patient Name") === Some(false))
      assert(check("\"Name\",ID") === None)
      assert(CountingFs.opens.get() === 3L)
      CountingFs.opens.set(0)
      Harmonizer.loadGrouped(spark, groups)
      assert(CountingFs.opens.get() === 3L, "one open per layout, no scan")
    }
  }
}
