package graft

import java.util.Locale

import org.apache.spark.sql.functions._

import graft.expr.MinHashExpressions
import graft.ingest.WarcIngest
import graft.operators.{Dedup, RobotsTxt}

/** Under a Turkish default locale `"I".toLowerCase` is dotless `ı`, so any
  * case conversion that takes the JVM default silently changes keys. Each
  * case runs the same work under the default locale and under `tr-TR`
  * (local mode: the executors share the driver's JVM default) and asserts
  * identical results. */
class TurkishLocaleSpec extends SparkSpec {
  import spark.implicits._

  private def underTurkish[T](body: => T): T = {
    val prev = Locale.getDefault
    try {
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      body
    } finally Locale.setDefault(prev)
  }

  test("tr-TR: WARC record ids and target URIs parse as under the default locale") {
    val out = tempDir("graft_trlocale_warc")
    val docs = (0L until 4L).map(i => (i, s"https://example.org/d/$i", s"<p>body $i</p>"))
      .toDF("doc_id", "uri", "body")
    WarcIngest.writeSyntheticWarc(spark, docs, "doc_id", "uri", "body", out, nFiles = 2)
    def ids() = WarcIngest.readRecords(spark, out)
      .select(col("warc_type"), col("record_id"), col("target_uri")).collect()
      .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2)))).toSet
    val expected = ids()
    assert(expected.size === 6 && expected.forall(_._2.nonEmpty), expected)
    assert(expected.count(_._3.nonEmpty) === 4, expected)
    assert(underTurkish(ids()) === expected)
  }

  test("tr-TR: an ImageBot robots group still matches its agent") {
    val txt = Seq(
      "User-agent: *",
      "Disallow: /",
      "",
      "User-agent: ImageBot",
      "Allow: /img/",
      "Disallow: /x",
      "Crawl-delay: 3").mkString("\n")
    val rules = RobotsTxt.parseRules(
      Seq(("d.com", txt)).toDF("domain", "txt"), "domain", "txt")
    val urls = Seq((1L, "https://www.d.com/img/a.png"), (2L, "https://www.d.com/x"))
      .toDF("id", "url")
    def decisions() = (
      RobotsTxt.gate(urls, "url", rules, "ImageBot").orderBy("id")
        .select("id", "allowed").as[(Long, Boolean)].collect().toSeq,
      RobotsTxt.schedule(urls, "url", "id", rules, "ImageBot").orderBy("id")
        .select("id", "delay_ms").as[(Long, Long)].collect().toSeq,
      RobotsTxt.scheduleByRegistrableDomain(urls, "url", "id", rules, "ImageBot")
        .orderBy("id").select("id", "delay_ms").as[(Long, Long)].collect().toSeq)
    val expected = decisions()
    assert(expected === ((Seq((1L, true), (2L, false)), Seq((1L, 3000L)), Seq((1L, 3000L)))))
    assert(underTurkish(decisions()) === expected)
  }

  test("tr-TR: MinHash shingles and signatures of text holding I are unchanged") {
    val df = Seq((1L, "DIGITAL INDEX OF ITEMS IN ISTANBUL"), (2L, "Index items In Izmir"))
      .toDF("id", "text")
    def signatures() = (
      df.select(col("id"), MinHashExpressions.shingle_array(col("text"), 2).as("sh"))
        .withColumn("sig", MinHashExpressions.minhash_signature(col("sh"), 16))
        .orderBy("id").collect().toSeq,
      df.select(col("id"), Dedup.shingleUdf(2)(col("text")).as("sh"))
        .orderBy("id").collect().toSeq)
    val expected = signatures()
    assert(expected._1.head.getSeq[String](1).head === "digital index")
    assert(underTurkish(signatures()) === expected)
  }
}
