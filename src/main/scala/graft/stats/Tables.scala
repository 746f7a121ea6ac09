package graft.stats

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField}

import graft.ingest.FactorData
import graft.perf.{PanelPasses, Returns, StatFunctions, Turnover}
import graft.perf.PanelPasses.box

/** The numbers behind every tear-sheet table/figure
  * (reference: alphalens/plotting.py — the table computations, not the
  * rendering). Each operator returns a DataFrame; long (stat, value)
  * or (key, per-horizon columns) shapes replace the reference's wide
  * pretty-printed frames.
  *
  * The factor-panel tables (quantile stats, returns table, turnover and
  * autocorrelation means) read bounded series that the shared panel
  * passes ([[graft.perf.PanelPasses]]) collect to the driver once —
  * at most dates × quantiles × horizons rows each, with dates bounded
  * by `spark.graft.calendar.maxInstants` — and return local DataFrames
  * whose rows are already in order. The IC histogram, Q-Q, events and
  * rolling tables aggregate the DataFrame they are given in Spark.
  */
object Tables {

  val DecimalToBps = 10000.0

  /** Per-quantile factor statistics (reference: plotting.py:182-189).
    * Output: (factor_quantile, min, max, mean, std, count, count_pct). */
  def quantileStatsTable(fd: FactorData): DataFrame =
    quantileStatsFrom(new PanelPasses(fd))

  private[graft] def quantileStatsFrom(p: PanelPasses): DataFrame = {
    val rows = p.quantileStats.toSeq
    val total = rows.map(_.getLong(5)).sum.toDouble
    PanelPasses.local(p.spark,
      (p.field("factor_quantile") +:
        Seq("min", "max", "mean", "std").map(StructField(_, DoubleType))) ++
        Seq(StructField("count", LongType), StructField("count_pct", DoubleType)),
      rows.map(r => Row.fromSeq(r.toSeq :+ r.getLong(5) * 100.0 / total)))
  }

  /** Returns analysis table (reference: plotting.py:134-147): Ann. alpha,
    * beta, top/bottom-quantile mean period-wise rate-converted return
    * (bps) and mean spread (bps), one column per horizon. */
  def returnsTable(
      fd: FactorData,
      demeaned: Boolean = true,
      groupAdjust: Boolean = false): DataFrame =
    returnsTableFrom(new PanelPasses(fd), demeaned, groupAdjust)

  /** [[returnsTable]] with the list of intermediates a caller should
    * unpersist, for callers that release one. The table is finished on
    * the driver and persists nothing, so the list is empty. */
  def returnsTableCached(
      fd: FactorData,
      demeaned: Boolean = true,
      groupAdjust: Boolean = false): (DataFrame, Seq[DataFrame]) =
    (returnsTable(fd, demeaned, groupAdjust), Nil)

  /** [[returnsTable]] from the shared passes: the alpha/beta rows and
    * both rate-converted mean-quantile tables of the returns sheet. */
  private[graft] def returnsTableFrom(
      p: PanelPasses, demeaned: Boolean, groupAdjust: Boolean): DataFrame = {
    val n = p.fd.returnCols.size
    val ab = Returns.alphaBetaRows(p, p.factorReturns(demeaned, groupAdjust).toSeq,
      demeaned, groupAdjust)
    val mrq = Returns.rateConverted(p.fd,
      Returns.meanRows(p, byDate = false, byGroup = false, demeaned, groupAdjust),
      withStdErr = false)
    val mrqDate = Returns.rateConverted(p.fd,
      Returns.meanRows(p, byDate = true, byGroup = false, demeaned, groupAdjust),
      withStdErr = true)
    val top = mrq.last
    val bottom = mrq.head
    val spread = Returns.spreadRows(mrqDate,
      top.keys.head.asInstanceOf[Int], bottom.keys.head.asInstanceOf[Int])
    def bps(v: Option[Double]) = v.map(_ * DecimalToBps)
    Returns.statTable(p, ab ++ Seq(
      "Mean Period Wise Return Top Quantile (bps)" -> top.mean.map(bps),
      "Mean Period Wise Return Bottom Quantile (bps)" -> bottom.mean.map(bps),
      "Mean Period Wise Spread (bps)" -> (0 until n).map(i =>
        bps(StatFunctions.mean(spread.flatMap(_.mean(i)))))))
  }

  /** Mean quantile turnover per period
    * (reference: plotting.py:150-156). Output: (factor_quantile,
    * period, mean_turnover). */
  def quantileTurnoverMeans(fd: FactorData, periods: Seq[Int]): DataFrame =
    turnoverMeansFrom(new PanelPasses(fd), periods)

  /** [[quantileTurnoverMeans]] from the turnover pass: the membership
    * sets are aggregated once for every period. */
  private[graft] def turnoverMeansFrom(p: PanelPasses, periods: Seq[Int]): DataFrame = {
    val byKey = Turnover.turnoverRows(p, periods)
      .groupBy(r => Seq(r.get(1), r.get(0))).toSeq
      .sortWith((a, b) => PanelPasses.seqLess(a._1, b._1))
    PanelPasses.local(p.spark,
      Seq(p.field("factor_quantile"), StructField("period", StringType),
        StructField("mean_turnover", DoubleType)),
      byKey.map { case (k, rs) =>
        Row.fromSeq(k :+ box(StatFunctions.mean(rs.map(_.getDouble(3)))))
      })
  }

  /** Mean factor rank autocorrelation per period
    * (reference: plotting.py:157-160). Output: (period, mean_autocorr). */
  def autocorrelationMeans(fd: FactorData, periods: Seq[Int]): DataFrame =
    autocorrMeansFrom(new PanelPasses(fd), periods)

  /** [[autocorrelationMeans]] from the autocorrelation pass. */
  private[graft] def autocorrMeansFrom(p: PanelPasses, periods: Seq[Int]): DataFrame = {
    val byPeriod = Turnover.autocorrRows(p, periods).groupBy(_.getString(0)).toSeq
      .sortWith((a, b) => PanelPasses.compareKeys(a._1, b._1) < 0)
    PanelPasses.local(p.spark,
      Seq(StructField("period", StringType), StructField("mean_autocorr", DoubleType)),
      byPeriod.map { case (period, rs) =>
        Row(period, box(StatFunctions.mean(rs.filter(!_.isNullAt(2)).map(_.getDouble(2)))))
      })
  }

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
