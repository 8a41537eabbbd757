package graft.core

import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.time.{LocalDate, YearMonth}

/** Date-selection spec for the funnel sources.
  *
  * The reference engine selects data by *constructing paths* from one of three
  * spec shapes (see `/root/reference/.../report_engine.py:65-112`):
  *   - a single day  `dd_mm_yyyy`          (e.g. `15_02_2026`)
  *   - a whole month `*mm_yyyy`            (e.g. `*02_2026`, a path glob)
  *   - an inclusive range `a -> b`         (whitespace-tolerant around `->`)
  *
  * Pure Scala (no Spark): these drive path construction on the driver, never
  * row data. Row-data dates use a different format (`dd-MM-yyyy`, dashes) —
  * see [[graft.io.FunnelSources]].
  */
sealed trait DateSpec {
  /** Every day covered by the spec, ascending (reference `_date_range`). */
  def days: Seq[LocalDate]

  /** Month-glob tokens `*MM_yyyy` covering the spec (reference
    * `_month_prefixes`, report_engine.py:77-86: first-of-month stepping).
    */
  def monthPrefixes: Seq[String]
}

object DateSpec {
  final case class Day(date: LocalDate) extends DateSpec {
    def days: Seq[LocalDate] = Seq(date)
    def monthPrefixes: Seq[String] = Seq("*" + formatMonth(YearMonth.from(date)))
  }

  /** A whole month, selected via path glob — the reference never enumerates
    * its days (the `*mm_yyyy` token goes straight into the path).
    */
  final case class Month(month: YearMonth) extends DateSpec {
    def days: Seq[LocalDate] =
      (1 to month.lengthOfMonth).map(month.atDay)
    def monthPrefixes: Seq[String] = Seq("*" + formatMonth(month))
  }

  final case class Range(start: LocalDate, end: LocalDate) extends DateSpec {
    def days: Seq[LocalDate] =
      Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).toSeq
    def monthPrefixes: Seq[String] = {
      val first = YearMonth.from(start)
      val last = YearMonth.from(end)
      Iterator.iterate(first)(_.plusMonths(1)).takeWhile(!_.isAfter(last))
        .map(m => "*" + formatMonth(m)).toSeq
    }
  }

  // STRICT: an impossible day (31_02_2026) is an error, as with the
  // reference's strptime, not clamped to the month's last day. STRICT
  // needs the proleptic year `uuuu`; `yyyy` (year-of-era) would need an era.
  private val dayFmt =
    DateTimeFormatter.ofPattern("dd_MM_uuuu").withResolverStyle(ResolverStyle.STRICT)
  private val monthFmt =
    DateTimeFormatter.ofPattern("MM_uuuu").withResolverStyle(ResolverStyle.STRICT)

  def formatDay(d: LocalDate): String = d.format(dayFmt)
  def formatMonth(m: YearMonth): String = m.format(monthFmt)
  def parseDay(s: String): LocalDate = LocalDate.parse(s.trim, dayFmt)

  /** Parse the three spec shapes; `->` beats `*` beats day (matches the
    * reference's dispatch order in each fetch_*, report_engine.py:96,113).
    */
  def parse(spec: String): DateSpec = {
    val s = spec.trim
    if (s.contains("->")) {
      // first two parts only, extras ignored — matches the reference's
      // parts[0]/parts[1] indexing (report_engine.py:95-96)
      val parts = s.split("->").map(_.trim)
      require(parts.length >= 2,
        s"date range needs a day on both sides of '->', got '$spec'")
      Range(parseDay(parts(0)), parseDay(parts(1)))
    } else if (s.startsWith("*")) {
      Month(YearMonth.parse(s.drop(1).trim, monthFmt))
    } else Day(parseDay(s))
  }
}
