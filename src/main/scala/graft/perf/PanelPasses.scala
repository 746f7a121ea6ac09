package graft.perf

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.FactorData

/** The shared panel passes of the tear-sheet fan-out (SURVEY §3: cache
  * factor_data once, fan out, collect small result tables).
  *
  * Each pass is one Spark aggregation over the date-clustered factor
  * panel (see [[graft.ingest.Quantize.quantizeFactor]]). Its output is
  * bounded by dates × quantiles × horizons rows (× groups for the
  * by-group passes), and dates are bounded by
  * `spark.graft.calendar.maxInstants`. A pass is collected the first
  * time a table needs it and never again; every table is then finished
  * on the driver in plain Scala and returned as a local DataFrame.
  * The cost of a tear sheet is per-job planning, code generation and
  * JIT, not data, so a fixed handful of passes replaces one Spark plan
  * per table.
  *
  * One instance serves one sheet (the full sheet shares one across its
  * components); the standalone entry points build a fresh one. Rows
  * come back sorted by their key columns.
  */
private[graft] final class PanelPasses(val fd: FactorData) {

  def spark: SparkSession = fd.df.sparkSession

  private val done = mutable.HashMap.empty[Any, Array[Row]]

  private def once(key: Any, nKeys: Int)(frame: => DataFrame): Array[Row] =
    synchronized {
      done.getOrElse(key, {
        val rows = frame.collect().sortWith(PanelPasses.keyLess(nKeys))
        done(key) = rows
        rows
      })
    }

  /** (factor_quantile, min, max, mean, std, count) of the factor. */
  def quantileStats: Array[Row] = once("quantileStats", 1) {
    val f = col("factor")
    fd.df.groupBy("factor_quantile")
      .agg(min(f), max(f), avg(f), stddev_samp(f), count(f))
  }

  /** (date, per-horizon weighted factor return). */
  def factorReturns(demeaned: Boolean, groupAdjust: Boolean,
      equalWeight: Boolean = false): Array[Row] =
    once(("factorReturns", demeaned, groupAdjust, equalWeight), 1)(
      Returns.factorReturnsByDate(fd, demeaned, groupAdjust, equalWeight))

  /** (factor_quantile, date, per horizon mean/std/count of the
    * (demeaned) returns, then per horizon the date's universe mean). */
  def stage1(demeaned: Boolean, groupAdjust: Boolean): Array[Row] =
    once(("stage1", demeaned, groupAdjust), 2)(
      Returns.stage1Frame(fd, demeaned, groupAdjust))

  /** date -> per-horizon universe mean return, read off the stage-1
    * pass; a panel without quantiles (alpha/beta alone) takes them from
    * a per-date pass of their own. */
  def universe(demeaned: Boolean, groupAdjust: Boolean): Map[Any, IndexedSeq[Option[Double]]] = {
    val n = fd.returnCols.size
    if (fd.df.columns.contains("factor_quantile"))
      stage1(demeaned, groupAdjust).map(r =>
        r.get(1) -> (0 until n).map(i => PanelPasses.opt(r, 2 + 3 * n + i))).toMap
    else
      once("universe", 1)(fd.df.groupBy("date").agg(
        avg(col(fd.returnCols.head)), fd.returnCols.tail.map(rc => avg(col(rc))): _*))
        .map(r => r.get(0) -> (0 until n).map(i => PanelPasses.opt(r, 1 + i))).toMap
  }

  /** (factor_quantile, [date,] group, per horizon mean/std/count). */
  def groupMoments(byDate: Boolean, demeaned: Boolean,
      groupAdjust: Boolean): Array[Row] =
    once(("groupMoments", byDate, demeaned, groupAdjust), if (byDate) 3 else 2)(
      Returns.groupMomentsFrame(fd, byDate, demeaned, groupAdjust))

  /** (date, per-horizon IC). */
  def ic(groupAdjust: Boolean): Array[Row] =
    once(("ic", groupAdjust), 1)(Information.icFrame(fd, groupAdjust))

  /** (date, group, per-horizon IC). */
  def icByGroup(groupAdjust: Boolean): Array[Row] =
    once(("icByGroup", groupAdjust), 2)(
      Information.icFrame(fd, groupAdjust, byGroup = true))

  /** (factor_quantile, date, per-period turnover or null). */
  def turnover(periods: Seq[Int]): Array[Row] =
    once(("turnover", periods), 2)(Turnover.turnoverFrame(fd, periods))

  /** (period, date, autocorr). */
  def autocorr(periods: Seq[Int]): Array[Row] =
    once(("autocorr", periods), 2)(
      Turnover.autocorrFrame(fd, periods, dateIndex))

  /** Every panel date in order with its 1-based index, as a local
    * frame. Every IC pass has one row per panel date, so the dates come
    * from whichever IC pass already ran. */
  private def dateIndex: DataFrame = {
    val ics = synchronized(done.collectFirst { case (("ic", _), rows) => rows })
    val dates = ics.getOrElse(ic(groupAdjust = false)).map(_.get(0))
    PanelPasses.local(spark,
      Seq(field("date"), StructField("__di", IntegerType)),
      dates.toSeq.zipWithIndex.map { case (d, i) => Row(d, i + 1) })
  }

  /** The panel's own field for a key column. */
  def field(name: String): StructField =
    StructField(name, fd.df.schema(name).dataType)
}

private[graft] object PanelPasses {

  /** A DataFrame over rows already in output order. It is a local
    * relation: collect(), projections and filters over it run no
    * Spark job (an orderBy would run several). */
  def local(spark: SparkSession, fields: Seq[StructField], rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))

  /** A nullable double cell. */
  def opt(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  /** A nullable double as a Row value. */
  def box(v: Option[Double]): Any = v.map(Double.box).orNull

  /** Spark's ascending order of key values: nulls first, strings by
    * UTF-8 bytes, everything else by its natural order. */
  def compareKeys(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => throw new IllegalArgumentException(s"unordered key $a")
  }

  def keyLess(nKeys: Int)(a: Row, b: Row): Boolean = {
    var i = 0
    var c = 0
    while (c == 0 && i < nKeys) { c = compareKeys(a.get(i), b.get(i)); i += 1 }
    c < 0
  }

  def seqLess(a: Seq[Any], b: Seq[Any]): Boolean =
    a.zip(b).iterator.map { case (x, y) => compareKeys(x, y) }
      .find(_ != 0).exists(_ < 0)
}
