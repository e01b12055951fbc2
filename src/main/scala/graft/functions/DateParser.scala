package graft.functions

import java.time.LocalDate
import scala.util.matching.Regex

/** Faithful Scala port of the reference's multi-format date parser
  * (reference `src/utils/date_parser.py:13-151`), including its quirks —
  * verified branch-for-branch against a 543-case golden corpus generated from
  * the reference implementation (`src/test/resources/dateparser_golden.json`).
  *
  * Algorithm (same control flow as `date_parser.py`):
  *  1. null/blank → error "Empty date string" (`:27-28`).
  *  2. Float normalization (`:32-37`): if the trimmed string parses as a
  *     float, replace it with the integer part — so `"6152022.0"` → `"6152022"`
  *     and (quirk) `"0102022"` → `"102022"` (leading zeros stripped).
  *  3. Compact path (`:41-77`): strip non-digits; if ≥6 digits remain, parse
  *     M-DD-YY(YY) — 7 digits means a 1-digit month (`:46-49`) — with
  *     2-digit years +2000 (`:56-57`), range checks year∈[1900,2100],
  *     month∈[1,12], and a deliberately wrong `year % 4 == 0` leap rule
  *     (`:70`). Range violations are terminal ("Invalid ..." errors re-raise,
  *     `:75-77`); a date that passes the %4 rule but is not a real calendar
  *     date (e.g. 1900-02-29) falls through to step 4, like the reference's
  *     `datetime()` constructor failure.
  *  4. Fallback (`:82-134`): keep only `[\d/-]`, try 9 strptime formats in
  *     priority order. Because any string with ≥6 digits already took step 3,
  *     this path can only ever produce error messages in practice; it is
  *     ported anyway (message-for-message, emulating CPython `strptime`
  *     errors) because the error strings land in the quarantine output.
  *
  * Notable consequences (all verified against the reference):
  *  - ISO dates are ALWAYS invalid: `"1998-03-12"` compacts to 8 digits and
  *    fails with "Invalid month: 19".
  *  - The parser is month-first: `"03/12/2022"` is March 12.
  *  - `"02/29/1900"` passes the %4 leap rule, fails real-calendar
  *    construction, and ends with a fallback mismatch error.
  */
object DateParser {

  private val daysBase = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

  /** The reference's leap rule is `year % 4 == 0` (`date_parser.py:70`) —
    * wrong for 1900/2100, preserved deliberately. */
  private def refDaysInMonth(year: Long, month: Int): Int =
    if (month == 2 && year % 4 == 0) 29 else daysBase(month - 1)

  private def realDaysInMonth(year: Int, month: Int): Int =
    if (month == 2 && java.time.Year.isLeap(year.toLong)) 29
    else daysBase(month - 1)

  /** Parse one date string; Left = the reference's error message. */
  def parseDate(raw: String): Either[String, LocalDate] = {
    if (raw == null || raw.trim.isEmpty) return Left("Empty date string")
    val s = floatNormalized(raw.trim)
    val digits = s.filter(_.isDigit)
    if (digits.length >= 6) {
      compact(digits) match {
        case CompactOk(d)     => return Right(d)
        case CompactErr(msg)  => return Left(msg)
        case CompactFallThrough => // datetime() construction failed (:75-77)
      }
    }
    fallback(s.filter(c => c.isDigit || c == '/' || c == '-'))
  }

  def validateDate(raw: String): Boolean = parseDate(raw).isRight

  /** Float normalization (date_parser.py:32-37): a string that parses as a
    * finite float becomes its integer part. Scala's toDouble accepts the
    * same shapes as Python float() for this domain ("123", "1.5", "1e6"). */
  private[functions] def floatNormalized(s: String): String =
    if (!mayParseAsDouble(s)) s
    else
      try {
        val f = s.toDouble
        if (!f.isNaN && !f.isInfinite) f.toLong.toString else s
      } catch { case _: NumberFormatException => s }

  /** False where `java.lang.Double.parseDouble` must reject `s`: it holds a
    * '/', or a sign right after a digit (a sign is valid only first or after
    * an exponent letter). That covers `MM/DD/YYYY` and `MM-DD-YYYY`, most
    * dates, which then skip the exception `toDouble` would throw. */
  private def mayParseAsDouble(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '/') return false
      if ((c == '-' || c == '+') && i > 0 && Character.isDigit(s.charAt(i - 1))) return false
      i += 1
    }
    true
  }

  private sealed trait CompactResult
  private case class CompactOk(d: LocalDate) extends CompactResult
  private case class CompactErr(msg: String) extends CompactResult
  private case object CompactFallThrough extends CompactResult

  /** date_parser.py:43-77 — digits-only M(M)-DD-YY(YY) parse. */
  private def compact(digits: String): CompactResult = {
    val (month, day, yearStr) =
      if (digits.length == 7)
        (digits.substring(0, 1).toInt, digits.substring(1, 3).toInt, digits.substring(3))
      else
        (digits.substring(0, 2).toInt, digits.substring(2, 4).toInt, digits.substring(4))
    // Python int() has no overflow; BigInt keeps absurdly long year strings
    // printing exactly as the reference does in its error message.
    var year = BigInt(yearStr)
    if (year < 100) year += 2000

    if (month < 1 || month > 12)
      return CompactErr(s"Invalid month: $month (must be between 1 and 12)")
    if (day < 1)
      return CompactErr(s"Invalid day: $day (must be greater than 0)")
    if (year < 1900 || year > 2100)
      return CompactErr(s"Invalid year: $year (must be between 1900 and 2100)")
    val dim = refDaysInMonth(year.toLong, month)
    if (day > dim)
      return CompactErr(s"Invalid day: $day (maximum $dim days in month $month)")
    // Mirror datetime(year, month, day): a %4-leap-only date (1900-02-29,
    // 2100-02-29) raises a non-"Invalid" ValueError → falls to the fallback.
    if (day > realDaysInMonth(year.toInt, month)) CompactFallThrough
    else CompactOk(LocalDate.of(year.toInt, month, day))
  }

  /** The 9 formats of date_parser.py:85-100, priority order. */
  private val fallbackFormats: Seq[String] = Seq(
    "%m/%d/%Y", "%Y/%m/%d", "%d/%m/%Y",
    "%Y-%m-%d", "%m-%d-%Y", "%d-%m-%Y",
    "%Y%m%d", "%m%d%Y", "%d%m%Y")

  // CPython _strptime.TimeRE patterns for the three directives used here.
  private val directiveRe = Map(
    'm' -> "(1[0-2]|0[1-9]|[1-9])",
    'd' -> "(3[01]|[12]\\d|0[1-9]|[1-9])",
    'Y' -> "(\\d\\d\\d\\d)")

  private val fmtRegexCache: Map[String, (Regex, Seq[Char])] =
    fallbackFormats.map { fmt =>
      val sb = new StringBuilder
      val groups = scala.collection.mutable.ArrayBuffer[Char]()
      var i = 0
      while (i < fmt.length) {
        if (fmt(i) == '%') { groups += fmt(i + 1); sb ++= directiveRe(fmt(i + 1)); i += 2 }
        else { sb ++= Regex.quote(fmt(i).toString); i += 1 }
      }
      fmt -> (sb.toString.r, groups.toSeq)
    }.toMap

  private sealed trait StrpResult
  private case class StrpOk(y: Int, m: Int, d: Int) extends StrpResult
  private case class StrpErr(msg: String) extends StrpResult

  /** Emulates datetime.strptime(s, fmt) for %m/%d/%Y-class formats,
    * reproducing CPython's three error messages. */
  private def strptime(s: String, fmt: String): StrpResult = {
    val (re, groups) = fmtRegexCache(fmt)
    re.findPrefixMatchOf(s) match {
      case None =>
        StrpErr(s"time data '$s' does not match format '$fmt'")
      case Some(m) if m.end != s.length =>
        StrpErr(s"unconverted data remains: ${s.substring(m.end)}")
      case Some(m) =>
        var y = 1900; var mo = 1; var d = 1
        groups.zipWithIndex.foreach { case (g, i) =>
          val v = m.group(i + 1).toInt
          g match { case 'Y' => y = v; case 'm' => mo = v; case 'd' => d = v }
        }
        if (d > realDaysInMonth(y, mo)) StrpErr("day is out of range for month")
        else StrpOk(y, mo, d)
    }
  }

  /** date_parser.py:103-134 — try each format, remembering the last error. */
  private def fallback(cleaned: String): Either[String, LocalDate] = {
    var lastError: String = null
    for (fmt <- fallbackFormats) {
      strptime(cleaned, fmt) match {
        case StrpErr(msg) => lastError = msg
        case StrpOk(y, mo, d) =>
          if (y < 1900 || y > 2100)
            lastError = s"Invalid year: $y (must be between 1900 and 2100)"
          else {
            val dim = refDaysInMonth(y.toLong, mo)
            if (d < 1 || d > dim)
              lastError = s"Invalid day: $d (maximum $dim days in month $mo)"
            else return Right(LocalDate.of(y, mo, d))
          }
      }
    }
    if (lastError != null) Left(s"Unable to parse date '$cleaned': $lastError")
    else Left(s"Unable to parse date '$cleaned': format not recognized")
  }
}
