package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.{Horizon, MaxLossExceededError, TradingCalendar}

/** The canonical merged table every analytic consumes: one row per
  * (date, asset) with one forward-return column per horizon, `factor`,
  * optional `group`, and `factor_quantile`
  * (reference: alphalens/utils.py:559-588). */
final case class FactorData(
    df: DataFrame,
    horizons: Seq[Horizon],
    calendar: TradingCalendar) {
  def returnCols: Seq[String] = horizons.map(_.label)
}

/** get_clean_factor / get_clean_factor_and_forward_returns
  * (reference: alphalens/utils.py:453-663, 666-841).
  *
  * Pipeline: finite-filter factor -> align with forward returns (inner
  * equi-join on (date, asset)) -> broadcast group join -> drop incomplete
  * rows -> quantize -> drop unbinned rows -> 3-stage max-loss accounting.
  *
  * Scale notes: only the quantized panel is persisted, clustered by date
  * (the layout every per-date consumer reads without an exchange), and
  * one aggregate over it gives both loss counts; the group map is a
  * broadcast join (25-ish groups); the only shuffles are the (date,
  * asset) join and the quantizer's repartition by date.
  */
object CleanFactor {

  def getCleanFactor(
      spark: SparkSession,
      factor: DataFrame,
      forwardReturns: ForwardReturnsResult,
      groupby: Option[DataFrame] = None,
      groupbyLabels: Option[DataFrame] = None,
      binningByGroup: Boolean = false,
      spec: Quantize.Spec = Quantize.QuantilesInt(5),
      maxLoss: Double = 0.35,
      zeroAware: Boolean = false,
      verbose: Boolean = true): FactorData = {

    // clear precondition instead of an unresolved-column failure deep in
    // the quantize plan (mirrors the reference's ValueError semantics)
    require(groupby.isDefined || !binningByGroup,
      "you must pass a groupby mapping if binningByGroup is true")

    val initialAmount = factor.count().toDouble

    // np.isfinite filter (utils.py:595): drop null AND NaN AND +-inf
    val f = col("factor")
    val finiteFactor = factor.filter(
      f.isNotNull && !isnan(f) && abs(f) =!= Double.PositiveInfinity)

    // forward_returns rows are keyed by the factor's (date, asset) pairs;
    // the inner join realigns and drops rows whose factor was non-finite
    var merged = forwardReturns.df.join(finiteFactor, Seq("date", "asset"), "inner")

    groupby.foreach { g =>
      if (g.columns.contains("date")) {
        // TIME-VARYING membership — the reference's MultiIndexed
        // (date, asset) -> group Series (utils.py:517-522): sector
        // reclassifications over a long panel. Alignment semantics
        // (utils.py:600-625): `merged_data['group'] = groupby` index-
        // aligns on (date, asset); pairs ABSENT from the mapping get
        // NaN and fall out in the subsequent dropna — there is no
        // KeyError for the MultiIndex form (that check is dict-only).
        // The mapping is panel-scale, not dimension-scale, so this is
        // a plain (date, asset) equi-join — AQE still broadcasts it
        // when it happens to be small.
        merged = merged.join(g.select("date", "asset", "group"),
          Seq("date", "asset"), "left")
      } else {
        // static asset -> group dict: missing-asset check
        // (utils.py:602-607) = anti-join must be empty
        val missing = finiteFactor.select("asset").distinct()
          .join(g.select("asset"), Seq("asset"), "left_anti")
          .limit(5).collect().map(_.get(0))
        if (missing.nonEmpty)
          throw new NoSuchElementException(
            s"Assets ${missing.mkString("[", ", ", "]")} not in group mapping")
        merged = merged.join(broadcast(g.select("asset", "group")), Seq("asset"), "left")
      }
      // groupby_labels remap (utils.py:613-625): a (group, label) map
      // applied AFTER the membership join; a group value without a
      // label raises (the reference's KeyError)
      groupbyLabels.foreach { labels =>
        val missing = merged.select("group").distinct()
          .join(labels.select("group"), Seq("group"), "left_anti")
          .limit(5).collect().map(_.get(0))
        if (missing.nonEmpty)
          throw new NoSuchElementException(
            s"groups ${missing.mkString("[", ", ", "]")} not in passed group names")
        merged = merged
          .join(broadcast(labels.select("group", "label")), Seq("group"), "left")
          .drop("group")
          .withColumnRenamed("label", "group")
      }
    }

    merged = merged.na.drop()

    val noRaise = maxLoss != 0.0
    val quantized = Quantize.quantizeFactor(
      merged, spec, byGroup = binningByGroup, noRaise = noRaise, zeroAware = zeroAware)
    quantized.persist(StorageLevel.MEMORY_AND_DISK)
    // both loss stages from ONE aggregate over the persisted panel:
    // quantizing adds a column and drops no row, so its row count is
    // the merged count, and its non-null quantiles are the binned rows
    val counts = quantized.agg(count(lit(1)), count(col("factor_quantile"))).first()
    val fwdretAmount = counts.getLong(0).toDouble
    val binningAmount = counts.getLong(1).toDouble
    val out = quantized.filter(col("factor_quantile").isNotNull)

    val totLoss = (initialAmount - binningAmount) / initialAmount
    val fwdretLoss = (initialAmount - fwdretAmount) / initialAmount
    val binLoss = totLoss - fwdretLoss
    if (verbose)
      println(f"Dropped ${totLoss * 100}%.1f%% entries from factor data: " +
        f"${fwdretLoss * 100}%.1f%% in forward returns computation and " +
        f"${binLoss * 100}%.1f%% in binning phase (set max_loss=0 to see " +
        "potentially suppressed Exceptions).")
    if (totLoss > maxLoss)
      throw new MaxLossExceededError(
        f"max_loss (${maxLoss * 100}%.1f%%) exceeded ${totLoss * 100}%.1f%%, " +
        "consider increasing it.")
    else if (verbose)
      println(f"max_loss is ${maxLoss * 100}%.1f%%, not exceeded: OK!")

    // column order parity: horizons, factor, [group], factor_quantile
    val cols = Seq("date", "asset") ++ forwardReturns.horizons.map(_.label) ++
      Seq("factor") ++ (if (groupby.isDefined) Seq("group") else Nil) ++
      Seq("factor_quantile")
    FactorData(out.select(cols.map(col): _*), forwardReturns.horizons,
      forwardReturns.calendar)
  }

  /** One-call ingest (reference: alphalens/utils.py:666-841). */
  def getCleanFactorAndForwardReturns(
      spark: SparkSession,
      factor: DataFrame,
      prices: DataFrame,
      groupby: Option[DataFrame] = None,
      groupbyLabels: Option[DataFrame] = None,
      binningByGroup: Boolean = false,
      spec: Quantize.Spec = Quantize.QuantilesInt(5),
      periods: Seq[Int] = Seq(1, 5, 10),
      filterZscore: Option[Double] = Some(20),
      maxLoss: Double = 0.35,
      zeroAware: Boolean = false,
      cumulativeReturns: Boolean = true,
      verbose: Boolean = true): FactorData = {
    // reference utils.py:263-268 raises NonMatchingTimezoneError when the
    // factor and price indices carry different timezones; the Spark
    // analog is a TIMESTAMP vs TIMESTAMP_NTZ (or DATE) type split on the
    // join key, which would otherwise surface as a silent cast or a
    // confusing analysis error deep in the window plan
    val fDate = factor.schema("date").dataType
    val pDate = prices.schema("date").dataType
    if (fDate != pDate)
      throw new NonMatchingTimezoneError(
        "The timezone of 'factor' is not the same as the timezone of " +
          s"'prices': the date columns are $fDate vs $pDate. Cast both to " +
          "the same timestamp type (TIMESTAMP with session time zone, or " +
          "TIMESTAMP_NTZ).")
    val fwd = ForwardReturns.computeForwardReturns(
      spark, factor, prices, periods, filterZscore, cumulativeReturns)
    getCleanFactor(spark, factor, fwd, groupby, groupbyLabels,
      binningByGroup, spec, maxLoss, zeroAware, verbose)
  }
}

/** Mirrors the reference's NonMatchingTimezoneError
  * (alphalens/utils.py:26). */
final class NonMatchingTimezoneError(msg: String)
  extends IllegalArgumentException(msg)
