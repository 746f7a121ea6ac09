package graft.sheets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StructField}

import graft.ingest.FactorData
import graft.perf.{Cumulative, EventStudy, Information, PanelPasses, Returns, Turnover}
import graft.stats.Tables

/** Tear-sheet composites (reference: alphalens/tears.py:61-732): each
  * reference entry point rendered figures; here each returns the result
  * TABLES (the numbers behind every figure).
  *
  * A composite is one fan-out over the date-clustered factor panel
  * (SURVEY §3 lifecycle — callers should persist `fd.df` first): a
  * fixed set of shared panel passes ([[graft.perf.PanelPasses]]:
  * quantile stats, weighted factor returns, stage-1 moments with the
  * universe means, by-group moments, the IC series, the by-group IC,
  * the turnover sets and the rank autocorrelation), each collected to
  * the driver the first time one of the sheet's tables needs it and
  * never again. Every table is then finished in plain Scala and
  * returned as a local DataFrame whose rows are already in order, so
  * reading, projecting or filtering it runs no Spark job. The tables
  * are lazy: building a sheet runs nothing, and only the passes behind
  * the tables read are run. The full sheet shares one set of passes
  * across its components.
  */
object Sheets {

  /** A sheet holds its collected series on the driver and no persisted
    * frame, so there is nothing to release; [[unpersist]] stays for
    * callers that release sheets, and does nothing. */
  sealed trait TearSheet {
    def unpersist(blocking: Boolean = false): Unit = ()
  }

  /** Horizons whose span is a whole-day multiple, as day counts — the
    * only ones turnover analysis runs on (reference: tears.py:429-435). */
  private def dayPeriods(fd: FactorData): Seq[Int] =
    fd.horizons.filter(h => h.span.toNanos % 86400000000000L == 0L)
      .map(_.span.toDays.toInt)

  // ---- summary --------------------------------------------------------

  final class SummaryTearSheet private[sheets] (
      p: PanelPasses, longShort: Boolean, groupNeutral: Boolean)
      extends TearSheet {
    private val periods = dayPeriods(p.fd)
    lazy val quantileStats: DataFrame = Tables.quantileStatsFrom(p)
    lazy val returnsTable: DataFrame = Tables.returnsTableFrom(p, longShort, groupNeutral)
    lazy val icSummary: DataFrame = Information.icSummaryTable(p, groupAdjust = false)
    lazy val quantileTurnoverMeans: DataFrame = Tables.turnoverMeansFrom(p, periods)
    lazy val autocorrelationMeans: DataFrame = Tables.autocorrMeansFrom(p, periods)
  }

  /** reference: tears.py:61-175 */
  def createSummaryTearSheet(
      fd: FactorData,
      longShort: Boolean = true,
      groupNeutral: Boolean = false): SummaryTearSheet =
    new SummaryTearSheet(new PanelPasses(fd), longShort, groupNeutral)

  // ---- returns --------------------------------------------------------

  /** The cumulative-return curves exist only when a one-day horizon is
    * present (tears.py:280-294). */
  final class ReturnsTearSheet private[sheets] (
      p: PanelPasses, longShort: Boolean, groupNeutral: Boolean, byGroup: Boolean)
      extends TearSheet {
    private val fd = p.fd
    private def means(byDate: Boolean, rate: Boolean, withStdErr: Boolean) = {
      val rows = Returns.meanRows(p, byDate, byGroup = false, longShort, groupNeutral)
      if (rate) Returns.rateConverted(fd, rows, withStdErr) else rows
    }
    private def meanTable(keys: Seq[String], rows: Seq[Returns.MeanRow]) =
      Returns.meanTable(p.spark, keys.map(p.field), fd.returnCols, rows)
    private lazy val byDateRate = means(byDate = true, rate = true, withStdErr = true)
    private val oneDay = fd.horizons.indexWhere(_.span == java.time.Duration.ofDays(1))

    lazy val factorReturns: DataFrame = Returns.factorReturnsTable(p, longShort, groupNeutral)
    lazy val meanQuantRateret: DataFrame =
      meanTable(Seq("factor_quantile"), means(byDate = false, rate = true, withStdErr = false))
    lazy val meanQuantRateretByDate: DataFrame =
      meanTable(Seq("factor_quantile", "date"), byDateRate)
    lazy val spread: DataFrame = meanTable(Seq("date"),
      Returns.spreadRows(byDateRate, byDateRate.last.keys.head.asInstanceOf[Int],
        byDateRate.head.keys.head.asInstanceOf[Int]))
    lazy val alphaBeta: DataFrame = Returns.statTable(p, Returns.alphaBetaRows(p,
      p.factorReturns(longShort, groupNeutral).toSeq, longShort, groupNeutral))
    lazy val returnsTable: DataFrame = Tables.returnsTableFrom(p, longShort, groupNeutral)
    lazy val cumulativeReturns: Option[DataFrame] = curve(Nil) {
      p.factorReturns(longShort, groupNeutral).toSeq
        .map(r => (Seq(r.get(0)), PanelPasses.opt(r, 1 + oneDay)))
    }
    lazy val cumulativeReturnsByQuantile: Option[DataFrame] = curve(Seq("factor_quantile")) {
      means(byDate = true, rate = false, withStdErr = false)
        .map(r => (r.keys, r.mean(oneDay)))
    }
    lazy val meanQuantRateretByGroup: Option[DataFrame] =
      if (!byGroup) None
      else Some(meanTable(Seq("factor_quantile", "group"), Returns.rateConverted(fd,
        Returns.meanRows(p, byDate = false, byGroup = true, longShort, groupNeutral),
        withStdErr = false)))

    /** cumprod(1 + r) of the one-day horizon per `keys` partition, over
      * (partition keys :+ date, return) rows in (keys, date) order. */
    private def curve(keys: Seq[String])(
        rows: => Seq[(Seq[Any], Option[Double])]): Option[DataFrame] =
      if (oneDay < 0) None
      else {
        val label = fd.returnCols(oneDay)
        val out = rows.groupBy(_._1.init).toSeq
          .sortWith((a, b) => PanelPasses.seqLess(a._1, b._1))
          .flatMap { case (_, rs) =>
            rs.zip(Cumulative.cumulative(rs.map(_._2)))
              .map { case ((k, _), c) => Row.fromSeq(k :+ c) }
          }
        Some(PanelPasses.local(p.spark,
          (keys :+ "date").map(p.field) :+ StructField(s"cum_$label", DoubleType),
          out))
      }
  }

  /** reference: tears.py:178-344 */
  def createReturnsTearSheet(
      fd: FactorData,
      longShort: Boolean = true,
      groupNeutral: Boolean = false,
      byGroup: Boolean = false): ReturnsTearSheet =
    new ReturnsTearSheet(new PanelPasses(fd), longShort, groupNeutral, byGroup)

  // ---- information ----------------------------------------------------

  final class InformationTearSheet private[sheets] (
      p: PanelPasses, groupNeutral: Boolean, byGroup: Boolean)
      extends TearSheet {
    lazy val ic: DataFrame = Information.icTable(p, groupNeutral)
    lazy val icSummary: DataFrame = Information.icSummaryTable(p, groupNeutral)
    lazy val monthlyMeanIc: DataFrame =
      Information.meanIcTable(p, groupNeutral, byGroup = false, byTime = Some("M"))
    lazy val meanIcByGroup: Option[DataFrame] =
      if (byGroup) Some(Information.meanIcTable(p, groupNeutral, byGroup = true, byTime = None))
      else None
  }

  /** reference: tears.py:347-406 */
  def createInformationTearSheet(
      fd: FactorData,
      groupNeutral: Boolean = false,
      byGroup: Boolean = false): InformationTearSheet =
    new InformationTearSheet(new PanelPasses(fd), groupNeutral, byGroup)

  // ---- turnover -------------------------------------------------------

  final class TurnoverTearSheet private[sheets] (p: PanelPasses, periods: Seq[Int])
      extends TearSheet {
    /** (period, factor_quantile, date, turnover) */
    lazy val quantileTurnover: DataFrame = Turnover.turnoverTable(p, periods)
    /** (period, date, autocorr) */
    lazy val autocorrelation: DataFrame = Turnover.autocorrTable(p, periods)
    lazy val quantileTurnoverMeans: DataFrame = Tables.turnoverMeansFrom(p, periods)
    lazy val autocorrelationMeans: DataFrame = Tables.autocorrMeansFrom(p, periods)
  }

  /** reference: tears.py:409-485 */
  def createTurnoverTearSheet(
      fd: FactorData,
      turnoverPeriods: Option[Seq[Int]] = None): TurnoverTearSheet =
    new TurnoverTearSheet(new PanelPasses(fd), turnoverPeriods.getOrElse(dayPeriods(fd)))

  // ---- full -----------------------------------------------------------

  /** The four component sheets over ONE set of passes. */
  final class FullTearSheet private[sheets] (
      p: PanelPasses, longShort: Boolean, groupNeutral: Boolean, byGroup: Boolean)
      extends TearSheet {
    lazy val quantileStats: DataFrame = Tables.quantileStatsFrom(p)
    val returns = new ReturnsTearSheet(p, longShort, groupNeutral, byGroup)
    val information = new InformationTearSheet(p, groupNeutral, byGroup)
    val turnover = new TurnoverTearSheet(p, dayPeriods(p.fd))
  }

  /** reference: tears.py:488-526 */
  def createFullTearSheet(
      fd: FactorData,
      longShort: Boolean = true,
      groupNeutral: Boolean = false,
      byGroup: Boolean = false): FullTearSheet =
    new FullTearSheet(new PanelPasses(fd), longShort, groupNeutral, byGroup)

  // ---- event sheets ---------------------------------------------------

  final case class EventReturnsTearSheet(
      avgCumulativeReturns: DataFrame,
      avgCumulativeReturnsByGroup: Option[DataFrame])

  /** reference: tears.py:529-632.
    * @param returns (date, asset, ret) simple returns of the priced
    *                universe; converted to levels internally */
  def createEventReturnsTearSheet(
      fd: FactorData,
      returns: DataFrame,
      periodsBefore: Int = 5,
      periodsAfter: Int = 15,
      longShort: Boolean = true,
      groupNeutral: Boolean = false,
      byGroup: Boolean = false): EventReturnsTearSheet = {
    val levels = EventStudy.toCumulative(returns)
    val avg = EventStudy.averageCumulativeReturnByQuantile(fd, levels,
      periodsBefore, periodsAfter, demeaned = longShort,
      groupAdjust = groupNeutral)
    val grp =
      if (byGroup)
        Some(EventStudy.averageCumulativeReturnByQuantile(fd, levels,
          periodsBefore, periodsAfter, demeaned = longShort,
          groupAdjust = groupNeutral, byGroup = true))
      else None
    EventReturnsTearSheet(avg, grp)
  }

  final case class EventStudyTearSheet(
      eventsDistribution: DataFrame,
      avgCumulativeReturns: DataFrame,
      factorReturns: DataFrame,
      meanReturnByQuantile: DataFrame)

  /** reference: tears.py:635-732 — event studies are long-only
    * (long_short=False, tears.py:666), factor returns equal-weighted
    * (tears.py:689-691). */
  def createEventStudyTearSheet(
      fd: FactorData,
      returns: DataFrame,
      periodsBefore: Int = 5,
      periodsAfter: Int = 15,
      nBars: Int = 50): EventStudyTearSheet = {
    val levels = EventStudy.toCumulative(returns)
    EventStudyTearSheet(
      eventsDistribution =
        Tables.eventsDistribution(fd.df.select("date"), nBars),
      avgCumulativeReturns =
        EventStudy.averageCumulativeReturnByQuantile(fd, levels,
          periodsBefore, periodsAfter, demeaned = false),
      factorReturns = Returns.factorReturns(fd, demeaned = false,
        equalWeight = true),
      meanReturnByQuantile = Returns.meanReturnByQuantile(fd,
        byDate = false, demeaned = false))
  }
}
