package graft.model

import java.time.{Duration, Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.DataFrame

/** Errors mirroring the reference's exception surface
  * (reference: alphalens/utils.py:20-34). */
class NonMatchingTimezoneError(msg: String) extends RuntimeException(msg)
class MaxLossExceededError(msg: String) extends RuntimeException(msg)

/** A forward-return horizon: `period` positional steps over the price
  * rows, with a human label like "1D", "1h", "3h15m" and the exact wall
  * duration it denotes (used for annualization).
  *
  * The reference encodes horizons as pd.Timedelta-parsable column-name
  * strings inferred from the data (reference: alphalens/utils.py:301-325,
  * 921-951); we carry them as typed values alongside the DataFrame and
  * never regex-sniff column names.
  */
final case class Horizon(period: Int, label: String, span: Duration) {
  /** 252 trading days / span — the reference's annualization factor
    * (reference: alphalens/performance.py:324). */
  def freqAdjust: Double =
    Duration.ofDays(252).toNanos.toDouble / span.toNanos.toDouble
}

object Horizon {
  /** Format a duration exactly like the reference's timedelta_to_string
    * (reference: alphalens/utils.py:921-951): concatenated non-zero
    * components, days always emitted when != 0.
    */
  def durationToLabel(d: Duration): String = {
    var nanos = d.toNanos
    val sign = if (nanos < 0) { nanos = -nanos; -1 } else 1
    val days = nanos / 86400000000000L; nanos %= 86400000000000L
    val hours = nanos / 3600000000000L; nanos %= 3600000000000L
    val minutes = nanos / 60000000000L; nanos %= 60000000000L
    val seconds = nanos / 1000000000L; nanos %= 1000000000L
    val millis = nanos / 1000000L; nanos %= 1000000L
    val micros = nanos / 1000L; nanos %= 1000L
    val sb = new StringBuilder
    if (days != 0) sb.append(s"${sign * days}D")
    if (hours > 0) sb.append(s"${hours}h")
    if (minutes > 0) sb.append(s"${minutes}m")
    if (seconds > 0) sb.append(s"${seconds}s")
    if (millis > 0) sb.append(s"${millis}ms")
    if (micros > 0) sb.append(s"${micros}us")
    if (nanos > 0) sb.append(s"${nanos}ns")
    sb.result()
  }

}

/** Trading calendar inferred from the observed dates: the traded weekdays
  * are the weekdays present in the data; holidays are dates on traded
  * weekdays inside [min, max] that never appear
  * (reference: alphalens/utils.py:173-213).
  *
  * All timestamps are UTC. The calendar is tiny (a weekday mask + a
  * holiday set) and is shipped to executors inside closures / UDFs —
  * effectively a broadcast variable.
  */
final case class TradingCalendar(
    tradedWeekdays: Set[Int],           // java.time DayOfWeek values 1(Mon)..7(Sun)
    holidays: Set[LocalDate]) extends Serializable {

  def isSession(d: LocalDate): Boolean =
    tradedWeekdays.contains(d.getDayOfWeek.getValue) && !holidays.contains(d)

  /** np.busday_count(start, end): number of valid days d with
    * start <= d < end, counted on calendar dates (reference fast path:
    * alphalens/utils.py:1026-1030). Negative when end < start. */
  def busdayCount(start: LocalDate, end: LocalDate): Long = {
    if (end.isBefore(start)) return -busdayCount(end, start)
    // iterate; spans in this workload are tiny (one horizon, <= weeks)
    var d = start; var n = 0L
    while (d.isBefore(end)) { if (isSession(d)) n += 1; d = d.plusDays(1) }
    n
  }

  /** diff_custom_calendar_timedeltas (reference: alphalens/utils.py:994-1039):
    * wall-clock (end - start) minus the whole days that were NOT sessions.
    */
  def diff(start: Instant, end: Instant): Duration = {
    val actualDays =
      busdayCount(start.atZone(ZoneOffset.UTC).toLocalDate,
                  end.atZone(ZoneOffset.UTC).toLocalDate)
    val timediff = Duration.between(start, end)
    // pandas Timedelta.components.days truncates toward zero for positive,
    // floors for negative; timediffs here are >= 0 in all call sites.
    val deltaDays = timediff.toDays - actualDays
    timediff.minus(Duration.ofDays(deltaDays))
  }

  /** add_custom_calendar_timedelta (reference: alphalens/utils.py:971-991):
    * input + freq*days + intraday offset, where freq*days rolls forward
    * `days` sessions (CustomBusinessDay semantics: if the start date is
    * not a session, first roll to the next session counts as part of the
    * first increment). */
  def addSessions(ts: Instant, td: Duration): Instant = {
    val days = td.toDays.toInt
    val offset = td.minus(Duration.ofDays(days))
    var d = ts.atZone(ZoneOffset.UTC).toLocalDate
    var remaining = days
    while (remaining > 0) {
      d = d.plusDays(1)
      while (!isSession(d)) d = d.plusDays(1)
      remaining -= 1
    }
    val dayShift = Duration.ofDays(
      java.time.temporal.ChronoUnit.DAYS.between(
        ts.atZone(ZoneOffset.UTC).toLocalDate, d))
    ts.plus(dayShift).plus(offset)
  }
}

/** Driver-side calendar index collection, fail-fast bounded.
  *
  * The parity layer materializes the DISTINCT trade/price instants on
  * the driver (the reference's DatetimeIndex is driver-side by
  * construction, utils.py:173-213) — correct for daily/hourly
  * calendars (10^3..10^4 instants), but at tick granularity a year of
  * distinct instants is 10^7..10^8 rows and the collect becomes the
  * one driver-side bottleneck in the pipeline. Rather than silently
  * OOM the driver, the collect is bounded: `limit(max + 1)` caps BOTH
  * the job output and driver memory in one pass, and crossing the
  * bound raises with the conf to raise it. The escape hatch for a true
  * tick-scale calendar is a distributed calendar build (keep the
  * instant index as a DataFrame and turn the interval resolution into
  * a range join) — recorded in SURVEY §4.
  */
object CalendarIndex {
  /** Conf key bounding the distinct-instant collect (default 1M). */
  val MaxInstantsKey = "spark.graft.calendar.maxInstants"
  val MaxInstantsDefault = 1000000

  /** Distinct sorted instants of `df.date`, failing fast past the
    * configured bound instead of flooding the driver. */
  def collectInstants(df: DataFrame, what: String): Array[Instant] = {
    val max = df.sparkSession.conf
      .get(MaxInstantsKey, MaxInstantsDefault.toString).toInt
    val rows = df.select("date").distinct().orderBy("date")
      .limit(max + 1).collect()
    if (rows.length > max)
      throw new IllegalArgumentException(
        s"$what has more than $max distinct instants; the driver-side " +
          s"calendar index is bounded by $MaxInstantsKey (raise it if " +
          "the driver has the memory, or pre-aggregate to a coarser " +
          "bar granularity before ingest)")
    rows.map(_.getTimestamp(0).toInstant)
  }
}

object TradingCalendar {
  /** Infer from the union of factor and price timestamps
    * (reference: alphalens/utils.py:173-213). */
  def infer(dates: Iterable[Instant]): TradingCalendar = {
    val local = dates.map(_.atZone(ZoneOffset.UTC).toLocalDate).toSet
    if (local.isEmpty) return TradingCalendar(Set.empty, Set.empty)
    val weekdays = local.map(_.getDayOfWeek.getValue)
    val min = local.min(Ordering.by((d: LocalDate) => d.toEpochDay))
    val max = local.max(Ordering.by((d: LocalDate) => d.toEpochDay))
    val holidays = Iterator.iterate(min)(_.plusDays(1))
      .takeWhile(!_.isAfter(max))
      .filter(d => weekdays.contains(d.getDayOfWeek.getValue) && !local.contains(d))
      .toSet
    TradingCalendar(weekdays, holidays)
  }
}
