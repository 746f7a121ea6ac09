package graft.perf

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField}

import graft.ingest.FactorData

/** Quantile membership turnover and factor rank autocorrelation
  * (reference: alphalens/performance.py:568-639). */
object Turnover {

  /** Fraction of names in `quantile` that were not in it `period` dates
    * ago (reference: alphalens/performance.py:568-598).
    *
    * Scale note: the heavy work (filter + per-date set collection) is a
    * distributed hash aggregate; the lag runs on the aggregated one-row-
    * per-date table, which is tiny (#sessions), so the single-partition
    * window is deliberate, not a bottleneck.
    * Output: (date, turnover), first `period` dates omitted. */
  def quantileTurnover(fd: FactorData, quantile: Int, period: Int = 1): DataFrame = {
    val sets = fd.df.filter(col("factor_quantile") === quantile)
      .groupBy("date").agg(collect_set(col("asset")).as("__names"))
    val w = Window.orderBy("date")
    sets
      .withColumn("__prev", lag(col("__names"), period).over(w))
      .withColumn("turnover",
        size(array_except(col("__names"), col("__prev"))).cast("double") /
          size(col("__names")))
      .filter(col("__prev").isNotNull)
      .select("date", "turnover").orderBy("date")
  }

  /** Turnover for every quantile at once, long output (date,
    * factor_quantile, turnover) ordered by quantile then date
    * (reference: alphalens/tears.py:443-452). */
  def allQuantileTurnover(fd: FactorData, period: Int = 1): DataFrame = {
    val t = col(s"__t_$period")
    turnoverFrame(fd, Seq(period)).filter(t.isNotNull)
      .select(col("date"), col("factor_quantile"), t.as("turnover"))
      .orderBy("factor_quantile", "date")
  }

  /** Cross-asset Pearson correlation between per-date factor ranks at t
    * and t-period (reference: alphalens/performance.py:601-639).
    *
    * pandas shifts POSITIONALLY over the pivoted date index, so dates
    * get a dense index di (broadcast: #sessions rows), each row's lagged
    * rank is the same asset's rank at di - period, then corr per date.
    * Output: (date, autocorr). */
  def factorRankAutocorrelation(fd: FactorData, period: Int = 1): DataFrame =
    factorRankAutocorrelationMulti(fd, Seq(period)).drop("period")

  /** Rank autocorrelation for several lags in ONE plan. Output:
    * (period, date, autocorr). */
  def factorRankAutocorrelationMulti(fd: FactorData, periods: Seq[Int]): DataFrame = {
    val dateIdx = fd.df.select("date").distinct()
      .withColumn("__di", row_number().over(Window.orderBy("date")))
    autocorrFrame(fd, periods, dateIdx).orderBy("period", "date")
  }

  /** (period, date, autocorr), unordered, over a (date, __di) index of
    * the panel's dates: the tear sheets' autocorrelation pass, which
    * passes the dates its IC pass already collected.
    *
    * The factor rank is the `__rf` column of the IC's ranked panel
    * (within each date partition, no exchange). The positional lag by
    * p dates is a RANGE frame [-p, -p] over the date index within each
    * asset: one exchange and one sort serve every lag, in place of the
    * shifted self-join. Doubled integer ranks keep the per-date corr on
    * exact long sums (bit-stable across runs and engines; see
    * exactRankCorr). */
  private[graft] def autocorrFrame(
      fd: FactorData,
      periods: Seq[Int],
      dateIdx: DataFrame): DataFrame = {
    val ranks = Information.rankedPanel(fd, fd.df)
      .select(col("date"), col("asset"), col("__rf").as("__rank"))
      .join(broadcast(dateIdx), Seq("date"))
    val w = Window.partitionBy("asset").orderBy("__di")
    val lagged = periods.foldLeft(ranks) { (df, p) =>
      df.withColumn(s"__prev_$p", first(col("__rank")).over(w.rangeBetween(-p, -p)))
    }
    val pairs = lagged.select(col("date"), col("__rank"),
        explode(array(periods.map(p =>
          struct(lit(p).as("period"), col(s"__prev_$p").as("__prev_rank"))): _*)).as("__s"))
      .select(col("date"), col("__rank"), col("__s.period").as("period"),
        col("__s.__prev_rank").as("__prev_rank"))
      .filter(col("__prev_rank").isNotNull)
    Information.exactRankCorr(pairs, Seq("period", "date"), "__rank",
      Seq("__prev_rank" -> "autocorr"))
  }

  /** Per-(factor_quantile, date) membership turnover for several lags
    * in one pass: the membership sets are one aggregation of the
    * date-clustered panel (no exchange), and one window per quantile
    * lags them for every period. Output: (factor_quantile, date,
    * __t_<p>...), null where the quantile has no set p dates back. */
  private[graft] def turnoverFrame(fd: FactorData, periods: Seq[Int]): DataFrame = {
    val sets = fd.df.groupBy("date", "factor_quantile")
      .agg(collect_set(col("asset")).as("__names"))
    val w = Window.partitionBy("factor_quantile").orderBy("date")
    val lagged = periods.foldLeft(sets) { (df, p) =>
      df.withColumn(s"__prev_$p", lag(col("__names"), p).over(w))
    }
    lagged.select(col("factor_quantile") +: col("date") +: periods.map { p =>
      val prev = col(s"__prev_$p")
      when(prev.isNotNull,
        size(array_except(col("__names"), prev)).cast("double") / size(col("__names")))
        .as(s"__t_$p")
    }: _*)
  }

  /** Label of a day period, as the tables carry it. */
  private[graft] def periodLabel(p: Int): String = s"${p}D"

  /** (period, factor_quantile, date, turnover) rows in table order:
    * periods as given, then quantile, then date. */
  private[graft] def turnoverRows(p: PanelPasses, periods: Seq[Int]): Seq[Row] = {
    val rows = p.turnover(periods).toSeq
    periods.zipWithIndex.flatMap { case (period, i) =>
      rows.filter(!_.isNullAt(2 + i)).map(r =>
        Row(periodLabel(period), r.get(0), r.get(1), r.getDouble(2 + i)))
    }
  }

  /** (period, date, autocorr) rows in table order: period, then date. */
  private[graft] def autocorrRows(p: PanelPasses, periods: Seq[Int]): Seq[Row] =
    p.autocorr(periods).toSeq.map(r =>
      Row(periodLabel(r.getInt(0)), r.get(1), if (r.isNullAt(2)) null else r.getDouble(2)))

  /** The turnover sheet's (period, factor_quantile, date, turnover)
    * table. */
  private[graft] def turnoverTable(p: PanelPasses, periods: Seq[Int]): DataFrame =
    PanelPasses.local(p.spark,
      Seq(StructField("period", StringType), p.field("factor_quantile"),
        p.field("date"), StructField("turnover", DoubleType)),
      turnoverRows(p, periods))

  /** The turnover sheet's (period, date, autocorr) table. */
  private[graft] def autocorrTable(p: PanelPasses, periods: Seq[Int]): DataFrame =
    PanelPasses.local(p.spark,
      Seq(StructField("period", StringType), p.field("date"),
        StructField("autocorr", DoubleType)),
      autocorrRows(p, periods))
}
