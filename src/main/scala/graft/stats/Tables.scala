package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.FactorData
import graft.perf.{Information, Returns, StatFunctions, Turnover}

/** The numbers behind every tear-sheet table/figure
  * (reference: alphalens/plotting.py — the table computations, not the
  * rendering). Each operator returns a DataFrame; long (stat, value)
  * or (key, per-horizon columns) shapes replace the reference's wide
  * pretty-printed frames.
  *
  * All operators aggregate the (already tiny) analytic series or the
  * factor panel itself; none collect to the driver.
  */
object Tables {

  val DecimalToBps = 10000.0

  /** Per-quantile factor statistics (reference: plotting.py:182-189).
    * Output: (factor_quantile, min, max, mean, std, count, count_pct). */
  def quantileStatsTable(fd: FactorData): DataFrame = {
    val f = col("factor")
    fd.df.groupBy("factor_quantile")
      .agg(min(f).as("min"), max(f).as("max"), avg(f).as("mean"),
        stddev_samp(f).as("std"), count(f).as("count"))
      .withColumn("count_pct",
        col("count") * 100.0 / sum(col("count")).over(Window.partitionBy()))
      .orderBy("factor_quantile")
  }

  /** Convert mean returns (and optionally std errors) of every horizon to
    * the base (first) horizon's rate, as the tear sheets do before
    * tabulating (reference: tears.py:92-115; utils.rate_of_return /
    * std_conversion). */
  def rateConvert(
      df: DataFrame,
      fd: FactorData,
      withStdErr: Boolean = false): DataFrame = {
    val base = fd.horizons.head.span.toNanos.toDouble
    fd.horizons.foldLeft(df) { (d, h) =>
      val ratio = base / h.span.toNanos.toDouble // base/period
      val d1 = d.withColumn(h.label, Returns.rateOfReturn(col(h.label), ratio))
      if (withStdErr)
        d1.withColumn(s"${h.label}_std_err",
          Returns.stdConversion(col(s"${h.label}_std_err"), 1.0 / ratio))
      else d1
    }
  }

  /** Returns analysis table (reference: plotting.py:134-147): Ann. alpha,
    * beta, top/bottom-quantile mean period-wise rate-converted return
    * (bps) and mean spread (bps), one column per horizon. Persists
    * nothing: the caller gets no handle to release, so a persisted
    * intermediate would stay cached until session end. */
  def returnsTable(
      fd: FactorData,
      demeaned: Boolean = true,
      groupAdjust: Boolean = false): DataFrame =
    returnsTable0(fd, demeaned, groupAdjust, persist = false)._1

  /** [[returnsTable]] plus the persisted intermediates backing it —
    * callers that build many tables (the tear-sheet composites) take
    * this variant and unpersist once materialized. */
  def returnsTableCached(
      fd: FactorData,
      demeaned: Boolean = true,
      groupAdjust: Boolean = false): (DataFrame, Seq[DataFrame]) =
    returnsTable0(fd, demeaned, groupAdjust, persist = true)

  private def returnsTable0(
      fd: FactorData,
      demeaned: Boolean,
      groupAdjust: Boolean,
      persist: Boolean): (DataFrame, Seq[DataFrame]) = {
    val ab = Returns.factorAlphaBeta(fd, demeaned = demeaned,
      groupAdjust = groupAdjust)
    // bounded (quantiles x dates) — when persisted, the top/bottom/
    // spread rows all read one materialization instead of
    // re-aggregating the panel per branch
    val stage1 = Returns.meanReturnsStage1(fd, demeaned = demeaned,
      groupAdjust = groupAdjust)
    val s1 =
      if (persist)
        stage1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else stage1
    val mrq = rateConvert(Returns.meanReturnFromStage1(fd, s1), fd)
    val mrqDate = rateConvert(
      Returns.meanReturnFromStage1(fd, s1, byDate = true), fd,
      withStdErr = true)
    (returnsTableFrom(fd, ab, mrq, mrqDate), if (persist) Seq(s1) else Nil)
  }

  /** [[returnsTable]] from precomputed components — the returns
    * tear-sheet composite shares its alpha/beta table and both
    * rate-converted mean-quantile tables with this summary row set
    * instead of re-aggregating the panel. `mrq`/`mrqDate` must already
    * be rate-converted (with std errors on the by-date table). */
  def returnsTableFrom(
      fd: FactorData,
      ab: DataFrame,
      mrq: DataFrame,
      mrqDate: DataFrame): DataFrame = {
    val qext = mrq.agg(max("factor_quantile").as("__qmax"),
      min("factor_quantile").as("__qmin"))
    val top = mrq.join(qext, mrq("factor_quantile") === qext("__qmax"))
      .select(lit("Mean Period Wise Return Top Quantile (bps)").as("stat") +:
        fd.returnCols.map(rc => (col(rc) * DecimalToBps).as(rc)): _*)
    val bottom = mrq.join(qext, mrq("factor_quantile") === qext("__qmin"))
      .select(lit("Mean Period Wise Return Bottom Quantile (bps)").as("stat") +:
        fd.returnCols.map(rc => (col(rc) * DecimalToBps).as(rc)): _*)
    val (qTop, qBottom) = Returns.quantileExtremes(fd)
    val spread = Returns.computeMeanReturnsSpread(mrqDate, qTop, qBottom,
      fd.returnCols)
    val spreadAggs = first(lit("Mean Period Wise Spread (bps)")).as("stat") +:
      fd.returnCols.map(rc => (avg(col(rc)) * DecimalToBps).as(rc))
    val spreadRow = spread.agg(spreadAggs.head, spreadAggs.tail: _*)
    ab.withColumnRenamed("stat", "stat")
      .unionByName(top).unionByName(bottom).unionByName(spreadRow)
  }

  /** Sets-once fusion of the summary sheet's turnover means
    * (reference: plotting.py:150-156): the per-(quantile, date)
    * membership sets are ONE panel aggregation, persisted (bounded:
    * quantiles × dates rows), and every period's lag reads that single
    * materialization — [[quantileTurnoverMeans]] re-aggregates the
    * panel once per period. A GROUPING SETS fusion with the quantile
    * stats table was measured SLOWER here (Expand doubles the panel
    * rows and the quantile-only grouping set drags universe-wide
    * collect_set buffers through every partial), so the fusion stops
    * at the genuinely shared work. The turnover path is float-free
    * until the final size ratio, so values are bit-identical by
    * construction; the staged bitwise replay (SURVEY §5) pins it.
    * Returns (turnoverMeans, persisted sets frame to unpersist). */
  private[graft] def quantileTurnoverMeansShared(
      fd: FactorData,
      periods: Seq[Int]): (DataFrame, DataFrame) = {
    val sets = fd.df.groupBy("date", "factor_quantile")
      .agg(collect_set(col("asset")).as("__names"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy("factor_quantile").orderBy("date")
    val series = periods.map { p =>
      sets.withColumn("__prev", lag(col("__names"), p).over(w))
        .withColumn("turnover",
          size(array_except(col("__names"), col("__prev"))).cast("double") /
            size(col("__names")))
        .filter(col("__prev").isNotNull)
        .select(col("date"), col("factor_quantile"), col("turnover"))
        .withColumn("period", lit(s"${p}D"))
    }.reduce(_.unionByName(_))
    (quantileTurnoverMeansFrom(series), sets)
  }

  /** Mean quantile turnover per period
    * (reference: plotting.py:150-156). Output: (factor_quantile,
    * period, mean_turnover). */
  def quantileTurnoverMeans(fd: FactorData, periods: Seq[Int]): DataFrame =
    quantileTurnoverMeansFrom(
      periods.map { p =>
        Turnover.allQuantileTurnover(fd, p).withColumn("period", lit(s"${p}D"))
      }.reduce(_.unionByName(_)))

  /** [[quantileTurnoverMeans]] over a precomputed (period,
    * factor_quantile, date, turnover) series — the turnover tear sheet
    * derives the means from its persisted series instead of
    * recomputing the set-lag windows per period. */
  def quantileTurnoverMeansFrom(series: DataFrame): DataFrame =
    series.groupBy("factor_quantile", "period")
      .agg(avg("turnover").as("mean_turnover"))
      .select("factor_quantile", "period", "mean_turnover")
      .orderBy("factor_quantile", "period")

  /** Mean factor rank autocorrelation per period
    * (reference: plotting.py:157-160). Output: (period, mean_autocorr). */
  def autocorrelationMeans(fd: FactorData, periods: Seq[Int]): DataFrame =
    autocorrMeansPost(Turnover.factorRankAutocorrelationMulti(fd, periods))

  /** [[autocorrelationMeans]] over precomputed per-date factor ranks —
    * the summary sheet's shared ranked panel. */
  private[graft] def autocorrelationMeansFrom(
      fd: FactorData, ranks: DataFrame, periods: Seq[Int]): DataFrame =
    autocorrMeansPost(
      Turnover.factorRankAutocorrelationMultiFrom(fd, ranks, periods))

  private def autocorrMeansPost(series: DataFrame): DataFrame =
    series.groupBy("period").agg(avg("autocorr").as("mean_autocorr"))
      .select(concat(col("period").cast("string"), lit("D")).as("period"),
        col("mean_autocorr"))
      .orderBy("period")

  /** [[autocorrelationMeans]] over a precomputed (period, date,
    * autocorr) series whose period labels are already "ND" strings —
    * the turnover tear sheet derives the means from its persisted
    * series instead of recomputing the lag joins per period. */
  def autocorrelationMeansFrom(series: DataFrame): DataFrame =
    series.groupBy("period").agg(avg("autocorr").as("mean_autocorr"))
      .select("period", "mean_autocorr")
      .orderBy("period")

  /** IC histogram table (the numbers behind plotting.py:248-289's
    * distplot): `bins` equal-width buckets over [-1, 1] (the IC domain),
    * NaN ICs counted as 0 like the reference's fillna(0). Output:
    * (period, bin, lo, hi, count, density). */
  def icHistTable(ic: DataFrame, returnCols: Seq[String], bins: Int = 20): DataFrame = {
    val width = 2.0 / bins
    returnCols.map { rc =>
      val v = coalesce(col(rc), lit(0.0))
      val bin = least(greatest(floor((v + 1.0) / width), lit(0.0)),
        lit((bins - 1).toDouble)).cast("int")
      ic.select(bin.as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("count"))
        .withColumn("period", lit(rc))
        .withColumn("lo", col("bin") * width - 1.0)
        .withColumn("hi", (col("bin") + 1) * width - 1.0)
        .withColumn("density",
          col("count") / sum(col("count")).over(Window.partitionBy()) / width)
    }.reduce(_.unionByName(_))
      .select("period", "bin", "lo", "hi", "count", "density")
      .orderBy("period", "bin")
  }

  /** IC Q-Q table vs the fitted normal (the numbers behind
    * plotting.py:292-338's qqplot(fit=True)): per horizon the sorted
    * standardized ICs (NaN -> 0) against normal quantiles at plotting
    * positions p_i = i/(n+1). Output: (period, p, theoretical, observed). */
  def icQQTable(ic: DataFrame, returnCols: Seq[String]): DataFrame = {
    val normInvUdf = udf((p: Double) => StatFunctions.normInv(p))
    returnCols.map { rc =>
      val v = coalesce(col(rc), lit(0.0))
      val base = ic.select(v.as("__v"))
      val w = Window.orderBy("__v")
      base
        .withColumn("__i", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
        .withColumn("p", col("__i") / (col("__n") + 1.0))
        .withColumn("period", lit(rc))
        .withColumn("observed",
          (col("__v") - avg(col("__v")).over(Window.partitionBy())) /
            stddev_samp(col("__v")).over(Window.partitionBy()))
        .withColumn("theoretical", normInvUdf(col("p")))
    }.reduce(_.unionByName(_))
      .select("period", "p", "theoretical", "observed")
      .orderBy("period", "p")
  }

  /** Event count per time bucket (reference: plotting.py:903-933): the
    * [min, max] span is cut into `numBars` equal intervals. Output:
    * (bucket, bucket_start, n_events). */
  def eventsDistribution(
      events: DataFrame,
      numBars: Int = 50,
      dateCol: String = "date"): DataFrame = {
    val t = col(dateCol).cast("double")
    val bounds = Window.partitionBy()
    val lo = min(t).over(bounds)
    val hi = max(t).over(bounds)
    val span = hi - lo
    val bucket = least(
      floor((t - lo) / span * numBars), lit((numBars - 1).toDouble)).cast("int")
    events
      .withColumn("bucket", when(span > 0, bucket).otherwise(lit(0)))
      .withColumn("bucket_start", // floored to whole seconds: fractional
        // epoch->timestamp conversions round differently across engines
        floor(lo + col("bucket") * span / numBars).cast("long").cast("timestamp"))
      .groupBy("bucket", "bucket_start")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("bucket")
  }

  /** Rolling mean of each IC column over `window` observations
    * (reference: plotting.py:219 — the 1-month moving average line).
    * Operates on the per-date IC series (bounded, post-aggregation). */
  def rollingMeanIc(ic: DataFrame, returnCols: Seq[String], window: Int = 22): DataFrame = {
    val w = Window.orderBy("date").rowsBetween(-(window - 1), 0)
    returnCols.foldLeft(ic) { (df, rc) =>
      df.withColumn(s"${rc}_rolling", avg(col(rc)).over(w))
    }
  }
}
