package graft.operators

import java.time.{LocalDate, LocalTime, ZonedDateTime, ZoneId}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** US market trading-hours calendar (reference
  * src/utils/time_utils.py:10-205 — MarketHours), in two forms:
  *
  *  - driver-side predicates over java.time (the producer's
  *    gate-the-ingest use, pipeline.py:155-169), and
  *  - Column forms that evaluate per row inside codegen, for gating
  *    historical data at scan time on a cluster (the form the
  *    reference never needed because its producer is a single
  *    process; at 100 TB the filter must ride the scan).
  *
  * Semantics mirror the reference exactly: regular hours are
  * 9:30–16:00 ET INCLUSIVE on both ends (time_utils.py:89-91),
  * pre-market 4:00 <= t < 9:30, after-hours 16:00 < t <= 20:00
  * (time_utils.py:108-115), weekends are Saturday/Sunday, and the
  * 2024–2025 holiday list is time_utils.py:31-52. The sub-second
  * nuance: the Column form compares whole seconds-of-day, so
  * 16:00:00.5 still counts as in-hours, where Python's time()
  * comparison would not — irrelevant at bar granularity, documented
  * here for exactness.
  */
object MarketHours {

  val Zone: ZoneId = ZoneId.of("America/New_York")
  val MarketOpen: LocalTime = LocalTime.of(9, 30)
  val MarketClose: LocalTime = LocalTime.of(16, 0)
  val PreMarketOpen: LocalTime = LocalTime.of(4, 0)
  val AfterHoursClose: LocalTime = LocalTime.of(20, 0)

  /** 2024–2025 US market holidays (time_utils.py:31-52). */
  val Holidays: Set[LocalDate] = Set(
    "2024-01-01", "2024-01-15", "2024-02-19", "2024-03-29", "2024-05-27",
    "2024-06-19", "2024-07-04", "2024-09-02", "2024-11-28", "2024-12-25",
    "2025-01-01", "2025-01-20", "2025-02-17", "2025-04-18", "2025-05-26",
    "2025-06-19", "2025-07-04", "2025-09-01", "2025-11-27", "2025-12-25"
  ).map(LocalDate.parse)

  private def et(dt: ZonedDateTime): ZonedDateTime = dt.withZoneSameInstant(Zone)

  def isWeekend(dt: ZonedDateTime): Boolean = et(dt).getDayOfWeek.getValue >= 6

  def isHoliday(dt: ZonedDateTime): Boolean = Holidays.contains(et(dt).toLocalDate)

  /** 9:30 <= t <= 16:00 ET on a trading day (time_utils.py:73-91). */
  def isRegularHours(dt: ZonedDateTime): Boolean = {
    val d = et(dt)
    if (isWeekend(d) || isHoliday(d)) false
    else {
      val t = d.toLocalTime
      !t.isBefore(MarketOpen) && !t.isAfter(MarketClose)
    }
  }

  /** Pre-market or after-hours on a trading day (time_utils.py:93-117). */
  def isExtendedHours(dt: ZonedDateTime): Boolean = {
    val d = et(dt)
    if (isWeekend(d) || isHoliday(d)) false
    else {
      val t = d.toLocalTime
      (!t.isBefore(PreMarketOpen) && t.isBefore(MarketOpen)) ||
        (t.isAfter(MarketClose) && !t.isAfter(AfterHoursClose))
    }
  }

  def isMarketOpen(dt: ZonedDateTime, includeExtended: Boolean = false): Boolean =
    if (includeExtended) isRegularHours(dt) || isExtendedHours(dt)
    else isRegularHours(dt)

  private def nextTradingDay(from: LocalDate): LocalDate = {
    var d = from.plusDays(1)
    while (d.getDayOfWeek.getValue >= 6 || Holidays.contains(d)) d = d.plusDays(1)
    d
  }

  /** Next market open in ET (time_utils.py:175-205): the current
    * session's open if inside regular hours, today's open if before
    * it on a trading day, else the next trading day's open.
    */
  def nextMarketOpen(dt: ZonedDateTime): ZonedDateTime = {
    val d = et(dt)
    val targetDate =
      if (isRegularHours(d)) d.toLocalDate
      else if (d.toLocalTime.isBefore(MarketOpen) && !isWeekend(d) && !isHoliday(d))
        d.toLocalDate
      else nextTradingDay(d.toLocalDate)
    ZonedDateTime.of(targetDate, MarketOpen, Zone)
  }

  /** Seconds until the next open; 0 while the market is open
    * (time_utils.py:135-161).
    */
  def secondsUntilOpen(dt: ZonedDateTime): Long = {
    if (isRegularHours(dt)) 0L
    else math.max(0L, java.time.Duration.between(et(dt), nextMarketOpen(dt)).getSeconds)
  }

  // ---- Column forms (per-row, codegen'd — for scan-time gating) ----
  //
  // Built from pure epoch arithmetic, NOT from hour()/date_format():
  // those render in spark.sql.session.timeZone, so the predicate
  // would silently misclassify on any cluster whose session zone is
  // not UTC (found in review). from_utc_timestamp shifts the epoch by
  // the NY offset (DST-aware); unix_seconds extracts the shifted
  // epoch session-independently, and seconds-of-day / day-of-week /
  // calendar date all derive from it with integer arithmetic
  // (1970-01-01 was a Thursday; epoch day + 4 mod 7 -> 0 = Sunday).

  private val holidayLits: Column =
    array(Holidays.toSeq.sorted.map(d => lit(java.sql.Date.valueOf(d.toString))): _*)

  /** NY-wall-clock epoch seconds — session-tz independent. */
  private def nySeconds(tsUtc: Column): Column =
    unix_seconds(from_utc_timestamp(tsUtc, Zone.getId))

  private def secondsOfDay(nySec: Column): Column = pmod(nySec, lit(86400L))

  private def epochDay(nySec: Column): Column =
    ((nySec - pmod(nySec, lit(86400L))) / 86400L).cast("int")

  private def onTradingDay(nySec: Column): Column = {
    val day = epochDay(nySec)
    val dow = pmod(day + 4, lit(7)) // 0 = Sunday ... 6 = Saturday
    dow =!= 0 && dow =!= 6 &&
      !array_contains(holidayLits, date_add(lit(java.sql.Date.valueOf("1970-01-01")), day))
  }

  /** Regular-hours predicate over a UTC timestamp column. */
  def isRegularHoursCol(tsUtc: Column): Column = {
    val sec = nySeconds(tsUtc)
    val s = secondsOfDay(sec)
    onTradingDay(sec) && s >= 34200 && s <= 57600
  }

  /** Extended-hours predicate over a UTC timestamp column. */
  def isExtendedHoursCol(tsUtc: Column): Column = {
    val sec = nySeconds(tsUtc)
    val s = secondsOfDay(sec)
    onTradingDay(sec) && ((s >= 14400 && s < 34200) || (s > 57600 && s <= 72000))
  }

  /** Keep only rows inside (optionally extended) trading hours —
    * the scan-time analog of the producer's market-hours gate.
    */
  def filterMarketHours(df: DataFrame, tsCol: String,
                        includeExtended: Boolean = false): DataFrame = {
    val ts = col(tsCol)
    if (includeExtended) df.filter(isRegularHoursCol(ts) || isExtendedHoursCol(ts))
    else df.filter(isRegularHoursCol(ts))
  }
}
