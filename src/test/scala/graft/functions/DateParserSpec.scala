package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Branch-level checks + the 543-case golden corpus generated from the
  * reference implementation (src/test/resources/dateparser_golden.json). */
class DateParserSpec extends AnyFunSuite {

  private def ok(s: String): String =
    DateParser.parseDate(s).fold(e => fail(s"'$s' should parse, got: $e"), _.toString)
  private def err(s: String): String =
    DateParser.parseDate(s).fold(identity, d => fail(s"'$s' should fail, got: $d"))

  test("compact path: month-first M(M)-DD-YY(YY)") {
    assert(ok("05/11/2022") == "2022-05-11")
    assert(ok("12/13/1997") == "1997-12-13")
    assert(ok("03/12/2022") == "2022-03-12") // ambiguous day/month → month-first
    assert(ok("12282021") == "2021-12-28")   // 8 digits
    assert(ok("6152022") == "2022-06-15")    // 7 digits → 1-digit month
    assert(ok("1052022") == "2022-01-05")
  }

  test("2-digit years get +2000") {
    assert(ok("12/31/21") == "2021-12-31")
    assert(ok("01/02/99") == "2099-01-02")
  }

  test("float normalization truncates and strips leading zeros") {
    assert(ok("6152022.0") == "2022-06-15")
    assert(ok("0102022") == "2022-10-20") // "0102022"→float→"102022"→M=10,D=20,Y=2022
  }

  test("ISO dates always fail via the compact path") {
    assert(err("1998-03-12") == "Invalid month: 19 (must be between 1 and 12)")
    assert(err("2021-13-13") == "Invalid month: 20 (must be between 1 and 12)")
    assert(err("2022/1/1") == "Invalid month: 20 (must be between 1 and 12)")
  }

  test("reference's %4 leap rule (1900/2100 treated as leap)") {
    assert(ok("02/29/2000") == "2000-02-29")
    assert(ok("2/29/2096") == "2096-02-29")
    assert(err("02/30/2020") == "Invalid day: 30 (maximum 29 days in month 2)")
    // passes %4 rule, fails real calendar → falls through to fallback error
    assert(err("02/29/1900").startsWith("Unable to parse date '02/29/1900'"))
  }

  test("range checks with reference messages") {
    assert(err("13/13/2022") == "Invalid month: 13 (must be between 1 and 12)")
    assert(err("123456789") == "Invalid year: 56789 (must be between 1900 and 2100)")
  }

  test("empty / null") {
    assert(err("") == "Empty date string")
    assert(err("   ") == "Empty date string")
    assert(err(null) == "Empty date string")
  }

  test("golden corpus: full parity with the reference parser") {
    val stream = getClass.getClassLoader.getResourceAsStream("dateparser_golden.json")
    val root = new ObjectMapper().readTree(stream)
    var n = 0
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    root.elements().asScala.foreach { node =>
      val in = node.get("in").asText()
      val got = DateParser.parseDate(in)
      if (node.has("ok")) {
        val want = node.get("ok").asText()
        if (!got.toOption.map(_.toString).contains(want))
          failures += s"'$in': want OK $want, got $got"
      } else if (node.has("err")) {
        val want = node.get("err").asText()
        if (!got.left.toOption.contains(want))
          failures += s"'$in': want ERR [$want], got $got"
      }
      n += 1
    }
    assert(n > 500, s"corpus unexpectedly small: $n")
    assert(failures.isEmpty,
      s"${failures.size}/$n mismatches:\n${failures.take(20).mkString("\n")}")
  }

  /** The float normalization as it was before strings Java's parser must
    * reject skipped `toDouble`: try it on every string. */
  private def normalizedByTrying(s: String): String =
    try {
      val f = s.toDouble
      if (!f.isNaN && !f.isInfinite) f.toLong.toString else s
    } catch { case _: NumberFormatException => s }

  test("float normalization agrees with trying toDouble on every string") {
    val rng = new scala.util.Random(20260812)
    val dates = Seq.fill(500)(java.time.LocalDate.ofEpochDay(rng.nextInt(80000) - 25000))
    def two(n: Int) = f"$n%02d"
    // the benchmark generator's valid and invalid spellings
    val generated = dates.flatMap { d =>
      val (m, dd, y) = (d.getMonthValue, d.getDayOfMonth, d.getYear)
      Seq(s"${two(m)}/${two(dd)}/$y", s"${two(m)}-${two(dd)}-$y", s"${two(m)}${two(dd)}$y",
        s"$m${two(dd)}$y", d.toString, s"13/${two(dd)}/$y", s"${two(m)}/00/$y",
        s"02/30/$y", s"${two(m)}/${two(dd)}/1850", s"$m/$dd")
    } ++ Seq("", "02/29/1900", "NULL")
    val edges = Seq("1e6", "12f", "0x1p3", "NaN", "+5", "0102022", "-5", "5-", "1e-5",
      "1E+5", "1-2", "1+2", "+-1", "--1", "Infinity", "-Infinity", "0x1P-3", "0x1p+3",
      "12d", "1.5e3f", "1/2", "1.", ".5", "e5", "6152022.0", "-6152022", "1e400",
      "9e18", "1 -2", "1e5-", "0xA-1", "\u0663-1")
    // random strings over the characters Java's float grammar gives meaning to
    val alphabet = "0123456789/-+.eEfFdDxXpPNaIinfty "
    val random = Seq.fill(20000)(
      Seq.fill(rng.nextInt(12))(alphabet(rng.nextInt(alphabet.length))).mkString.trim)
    val diffs = (generated ++ edges ++ random).filter(s =>
      DateParser.floatNormalized(s) != normalizedByTrying(s))
    assert(diffs.isEmpty, diffs.take(20))
  }
}
