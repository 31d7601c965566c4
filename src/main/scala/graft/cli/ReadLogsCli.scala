package graft.cli

import java.time.{DayOfWeek, LocalDateTime, ZoneOffset}
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder, ResolverStyle, SignStyle}
import java.time.temporal.{ChronoField, ChronoUnit, Temporal, TemporalAccessor, TemporalField, TemporalUnit, ValueRange, WeekFields}

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.operators.{Reader, Tsv}

/** CLI parity with the reference's `kinesis_logs_reader` entry point
  * (reference: __main__.py:27-60): read gzipped CWL payloads, print a
  * sorted-key TSV of extractedFields to stdout.
  *
  * The Kinesis stream name becomes a path to parquet holding the raw
  * records (binary `data` column) — the only part of the surface this
  * environment can't reach is the live AWS API itself.
  *
  * Usage: ReadLogsCli <records_path> [--start-time "2016-05-14 14:30:00"]
  *   [--count N] [--time-format "%Y-%m-%d %H:%M:%S"] [--data-col name]
  */
object ReadLogsCli {

  /** Translate a Python-strptime format (what the reference's
    * --time-format accepts, __main__.py:44-47) to a java.time
    * pattern: the full directive set a datetime can carry (%Y %y %m
    * %d %H %I %M %S %f %j %p %a %A %b %B %z %Z %%), with literal
    * text quoted (a bare `T` is a pattern letter in java.time).
    * Week-number directives (%U %W %w) have no PATTERN-LETTER
    * equivalent and fail loudly here; [[strptimeFormatter]] (what
    * [[parseStartTimeMs]] actually uses) supports them via
    * java.time WeekFields. The locale-representation directives
    * %c/%x/%X are pre-expanded to their C-locale definitions
    * (`%a %b %d %H:%M:%S %Y`, `%m/%d/%y`, `%H:%M:%S` — what the
    * reference's Python sees in an un-localized container), with the
    * one strictness difference that %d inside them requires the
    * zero-padded day Python also emits.
    */
  private val cLocaleExpansions = Map(
    'c' -> "%a %b %d %H:%M:%S %Y", 'x' -> "%m/%d/%y", 'X' -> "%H:%M:%S")

  private def expandLocaleDirectives(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length && cLocaleExpansions.contains(fmt.charAt(i + 1))) {
        out.append(cLocaleExpansions(fmt.charAt(i + 1))); i += 2
      } else if (c == '%' && i + 1 < fmt.length) {
        out.append(c).append(fmt.charAt(i + 1)); i += 2
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private val patternMap = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
    'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
    'f' -> "SSSSSS", 'j' -> "DDD", 'p' -> "a",
    'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM", 'B' -> "MMMM",
    'z' -> "xx", 'Z' -> "zzz")

  private[cli] def strptimeToJava(fmt0: String): String = {
    val fmt = expandLocaleDirectives(fmt0)
    val map = patternMap
    val out = new StringBuilder
    val lit = new StringBuilder
    def flushLit(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(c => c.isLetter || c == '\''))
        out.append('\'').append(s.replace("'", "''")).append('\'')
      else out.append(s)
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val d = fmt.charAt(i + 1)
        if (d == '%') { lit.append('%'); i += 2 }
        else map.get(d) match {
          case Some(j) => flushLit(); out.append(j); i += 2
          case None => throw new IllegalArgumentException(
            s"unsupported strptime directive %$d in '$fmt'")
        }
      } else { lit.append(c); i += 1 }
    }
    flushLit()
    out.toString
  }

  /** Python's %w: day of week as a decimal 0=Sunday..6=Saturday —
    * offset by one from every java.time numbering, so parsing it
    * needs a custom field that resolves into the day-of-week field of
    * the week convention in play (`wf`: Sunday-start when the format
    * carries %U, Monday-start for %W — matching how Python's
    * strptime combines the triple %Y %U/%W %w into a date).
    */
  private final class PyDayOfWeek(wf: WeekFields) extends TemporalField {
    override def getBaseUnit: TemporalUnit = ChronoUnit.DAYS
    override def getRangeUnit: TemporalUnit = ChronoUnit.WEEKS
    override def range(): ValueRange = ValueRange.of(0, 6)
    override def isDateBased: Boolean = true
    override def isTimeBased: Boolean = false
    override def isSupportedBy(t: TemporalAccessor): Boolean =
      t.isSupported(ChronoField.DAY_OF_WEEK)
    override def rangeRefinedBy(t: TemporalAccessor): ValueRange = range()
    override def getFrom(t: TemporalAccessor): Long =
      t.getLong(ChronoField.DAY_OF_WEEK) % 7 // ISO Sunday=7 → 0
    override def adjustInto[R <: Temporal](t: R, v: Long): R =
      t.`with`(ChronoField.DAY_OF_WEEK, if (v == 0) 7 else v).asInstanceOf[R]
    override def resolve(
        fieldValues: java.util.Map[TemporalField, java.lang.Long],
        partial: TemporalAccessor, style: ResolverStyle): TemporalAccessor = {
      val py = fieldValues.remove(this).longValue()
      // convert 0=Sunday..6=Saturday into wf's 1..7 numbering
      val v =
        if (wf.getFirstDayOfWeek == DayOfWeek.SUNDAY) py + 1
        else if (py == 0) 7L else py
      fieldValues.put(wf.dayOfWeek(), java.lang.Long.valueOf(v))
      null
    }
    override def toString: String = "PythonDayOfWeek"
  }

  private val sundayWeeks = WeekFields.of(DayOfWeek.SUNDAY, 7)
  private val mondayWeeks = WeekFields.of(DayOfWeek.MONDAY, 7)

  /** Full strptime parse support, including the week-number
    * directives %U/%W/%w that have no java.time pattern letters:
    * runs of pattern-expressible directives go through
    * [[strptimeToJava]]; week fields are appended as WeekFields
    * values (Python semantics: %U counts Sunday-started weeks with
    * the pre-first-Sunday days as week 0 — exactly
    * `WeekFields.of(SUNDAY, 7).weekOfYear()` — %W the Monday
    * analogue, and %w joins whichever convention the format uses).
    */
  private[cli] def strptimeFormatter(fmt0: String): DateTimeFormatter = {
    val fmt = expandLocaleDirectives(fmt0)
    val wf = if (fmt.contains("%W")) mondayWeeks else sundayWeeks
    val b = new DateTimeFormatterBuilder
    val run = new StringBuilder // pattern-expressible prefix run
    var hasTime = false
    def flushRun(): Unit = if (run.nonEmpty) {
      b.appendPattern(strptimeToJava(run.toString)); run.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'U' =>
            flushRun()
            b.appendValue(sundayWeeks.weekOfYear(), 1, 2, SignStyle.NOT_NEGATIVE)
          case 'W' =>
            flushRun()
            b.appendValue(mondayWeeks.weekOfYear(), 1, 2, SignStyle.NOT_NEGATIVE)
          case 'w' =>
            flushRun()
            b.appendValue(new PyDayOfWeek(wf), 1)
          case d =>
            if ("HIMSf".contains(d)) hasTime = true
            run.append(c).append(d)
        }
        i += 2
      } else { run.append(c); i += 1 }
    }
    flushRun()
    // Python defaults missing time-of-day to midnight ("%Y-%m-%d"
    // parses fine); java.time needs explicit defaults to build a
    // LocalDateTime. Only when NO time directive is present — a
    // defaulted HOUR_OF_DAY would collide with %I/%p's
    // CLOCK_HOUR_OF_AMPM at resolution.
    if (!hasTime) {
      b.parseDefaulting(ChronoField.HOUR_OF_DAY, 0)
      b.parseDefaulting(ChronoField.MINUTE_OF_HOUR, 0)
      b.parseDefaulting(ChronoField.SECOND_OF_MINUTE, 0)
    }
    b.toFormatter(java.util.Locale.US)
  }

  private[cli] def parseStartTimeMs(value: String, fmt: String): Long = {
    val f = strptimeFormatter(fmt)
    val parsed = f.parse(value)
    // offset-aware formats (%z) carry their own zone; naive ones are
    // UTC, matching the reference's naive-UTC start_time
    if (parsed.isSupported(java.time.temporal.ChronoField.OFFSET_SECONDS))
      java.time.OffsetDateTime.from(parsed).toInstant.toEpochMilli
    else LocalDateTime.from(parsed).toInstant(ZoneOffset.UTC).toEpochMilli
  }

  def main(args: Array[String]): Unit = {
    var path: Option[String] = None
    var startTime: Option[String] = None
    var timeFormat = "%Y-%m-%d %H:%M:%S" // reference default
    var count = 0                        // reference default: no limit
    var dataCol = "data"
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--start-time" => startTime = Some(args(i + 1)); i += 2
        case "--count" => count = args(i + 1).toInt; i += 2
        case "--time-format" => timeFormat = args(i + 1); i += 2
        case "--data-col" => dataCol = args(i + 1); i += 2
        case p => path = Some(p); i += 1
      }
    }
    val records = path.getOrElse(
      sys.error("usage: ReadLogsCli <records_path> [--start-time ...] [--count N]"))

    val spark = SparkSession.getActiveSession.getOrElse(
      GraftSession.builder().getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    val flat = Reader.readLogs(
      spark.read.parquet(records),
      dataCol = dataCol,
      startTimeMs = startTime.map(parseStartTimeMs(_, timeFormat)),
      takeN = if (count > 0) Some(count) else None)
    // toLocalIterator: stream partitions to the driver one at a time,
    // like the reference's row-at-a-time print loop — never collect()
    Tsv.render(flat).toLocalIterator().forEachRemaining(r => println(r.getString(0)))
  }
}
