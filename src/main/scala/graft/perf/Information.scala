package graft.perf

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField}

import graft.ingest.FactorData
import graft.perf.PanelPasses.{box, opt}

/** Rank-correlation information analysis
  * (reference: alphalens/performance.py:28-126). */
object Information {

  /** DOUBLED average (midrank) rank = min rank + max rank of the tie
    * group — always an integer, so downstream sums are exact long
    * arithmetic. Pearson corr is scale-invariant, so corr over doubled
    * ranks equals Spearman (reference: performance.py:56-59 uses
    * scipy.stats.spearmanr).
    *
    * Both terms use the SAME ordered window spec — rank() gives the
    * minimum rank, and count(*) with an ORDER BY defaults to the RANGE
    * unbounded-to-current frame (tie peers included) = maximum rank —
    * so Spark plans ONE sort per ranked column instead of two (a
    * separate tie-count partition would double the window passes). */
  private[graft] def rank2(c: Column, part: Seq[Column]): Column = {
    val w = Window.partitionBy(part: _*).orderBy(c)
    (rank().over(w) + count(lit(1)).over(w)).cast("long")
  }

  /** Pearson correlation of integer (long) rank columns via EXACT sums:
    * n, Σx, Σx², Σy, Σy², Σxy are order-independent long aggregates, so
    * the result is bit-identical across runs, partitionings, and engines
    * — Spark's streaming co-moment `corr` merges in task-completion
    * order and drifts ~1e-13 run to run, which straddles any rounding
    * grid. The DuckDB oracle mirrors the identical final float ops
    * (see Pipelines.exactCorrSql). Exact while the sums stay < 2^53 and
    * products < 2^63: cross-sections up to ~1e6 rows per key.
    * `ys` maps input rank column -> output column name. */
  private[graft] def exactRankCorr(
      ranked: DataFrame,
      keys: Seq[String],
      x: String,
      ys: Seq[(String, String)]): DataFrame = {
    val xc = col(x)
    val aggs = Seq(
      count(lit(1)).cast("double").as("__n"),
      sum(xc).cast("double").as("__sx"),
      sum(xc * xc).cast("double").as("__sxx")) ++
      ys.flatMap { case (y, out) =>
        val yc = col(y)
        Seq(
          sum(yc).cast("double").as(s"__sy_$out"),
          sum(yc * yc).cast("double").as(s"__syy_$out"),
          sum(xc * yc).cast("double").as(s"__sxy_$out"))
      }
    val s = ranked.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val n = col("__n"); val sx = col("__sx"); val sxx = col("__sxx")
    val outs = ys.map { case (_, out) =>
      val sy = col(s"__sy_$out"); val syy = col(s"__syy_$out")
      val sxy = col(s"__sxy_$out")
      val den = sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)
      // zero denominator (constant ranks, e.g. single-asset group
      // cross-sections) -> null like pandas, dodging ANSI div-by-zero
      when(den === 0.0, lit(null).cast("double"))
        .otherwise((n * sxy - sx * sy) / den).as(out)
    }
    s.select(keys.map(col) ++ outs: _*)
  }

  /** Demean forward-return columns by cross-section (date [, group]) mean
    * (reference: alphalens/utils.py:379-416). */
  def demeanForwardReturns(fd: FactorData, byGroup: Boolean = false): DataFrame = {
    val keys: Seq[Column] = col("date") +:
      (if (byGroup) Seq(col("group")) else Nil)
    val w = Window.partitionBy(keys: _*)
    fd.returnCols.foldLeft(fd.df) { (df, rc) =>
      df.withColumn(rc, col(rc) - avg(col(rc)).over(w))
    }
  }

  /** Per-date (± per-group) Spearman IC between factor and each horizon's
    * forward return (reference: alphalens/performance.py:28-74).
    * Output: one row per date [, group], one column per horizon. */
  def factorInformationCoefficient(
      fd: FactorData,
      groupAdjust: Boolean = false,
      byGroup: Boolean = false): DataFrame =
    icFrame(fd, groupAdjust, byGroup)
      .orderBy((Seq("date") ++ (if (byGroup) Seq("group") else Nil)).map(col): _*)

  /** [[factorInformationCoefficient]] unordered: the tear sheets' IC
    * pass. */
  private[graft] def icFrame(
      fd: FactorData,
      groupAdjust: Boolean,
      byGroup: Boolean = false): DataFrame = {
    val base = if (groupAdjust) demeanForwardReturns(fd, byGroup = true) else fd.df
    val keyCols: Seq[String] = "date" +: (if (byGroup) Seq("group") else Nil)
    exactRankCorr(rankedPanel(fd, base, keyCols), keyCols, "__rf",
      fd.returnCols.map(rc => s"__rr_$rc" -> rc))
  }

  /** The per-date doubled-integer rank columns the IC series and the
    * rank autocorrelation both start from: `__rf` (factor rank) and
    * `__rr_<horizon>` (forward-return ranks), one window sort per
    * column within each date partition of the date-clustered panel.
    * A consumer that selects only `__rf` (the autocorrelation) gets the
    * other windows pruned. */
  private[graft] def rankedPanel(
      fd: FactorData,
      base: DataFrame,
      keyCols: Seq[String] = Seq("date")): DataFrame = {
    val part = keyCols.map(col)
    val fRank = rank2(col("factor"), part)
    fd.returnCols.foldLeft(base.withColumn("__rf", fRank)) {
      (df, rc) => df.withColumn(s"__rr_$rc", rank2(col(rc), part))
    }
  }

  /** Time bucket column for a pandas resample rule subset: "M" labels the
    * month end, "W" the week-ending Sunday, "D" the day
    * (reference: performance.py:107-124 uses pd.Grouper(freq=by_time)). */
  private def timeBucket(rule: String): Column = rule match {
    case "M" | "1M" => last_day(col("date")).cast("timestamp")
    case "W" | "1W" =>
      // dayofweek: Sun=1..Sat=7; label = this week's Sunday (inclusive)
      date_add(col("date").cast("date"),
        (lit(8) - dayofweek(col("date"))) % 7).cast("timestamp")
    case "D" | "1D" => date_trunc("day", col("date"))
    case "Y" | "1Y" =>
      last_day(make_date(year(col("date")), lit(12), lit(1))).cast("timestamp")
    case other => throw new IllegalArgumentException(s"unsupported time rule $other")
  }

  /** Mean IC, optionally bucketed by a time rule and/or group
    * (reference: alphalens/performance.py:77-126). */
  def meanInformationCoefficient(
      fd: FactorData,
      groupAdjust: Boolean = false,
      byGroup: Boolean = false,
      byTime: Option[String] = None): DataFrame =
    meanIcTable(new PanelPasses(fd), groupAdjust, byGroup, byTime)

  /** [[meanInformationCoefficient]] from the IC passes: each bucket's
    * mean over its dates in order. */
  private[graft] def meanIcTable(
      p: PanelPasses,
      groupAdjust: Boolean,
      byGroup: Boolean,
      byTime: Option[String]): DataFrame = {
    val n = p.fd.returnCols.size
    val (rows, nKeys) =
      if (byGroup) (p.icByGroup(groupAdjust), 2) else (p.ic(groupAdjust), 1)
    // the date -> bucket map is a projection over a local frame of the
    // distinct dates: Spark's own calendar functions, and no job
    val bucket = byTime.map { rule =>
      val dates = PanelPasses.local(p.spark, Seq(p.field("date")),
        rows.map(_.get(0)).distinct.toSeq.map(Row(_)))
        .select(col("date"), timeBucket(rule).as("__b"))
      (StructField("date", dates.schema("__b").dataType),
        dates.collect().map(r => r.get(0) -> r.get(1)).toMap)
    }
    val keyFields = bucket.map(_._1).toSeq ++
      (if (byGroup) Seq(p.field("group")) else Nil)
    def key(r: Row): Seq[Any] =
      bucket.map(_._2(r.get(0))).toSeq ++ (if (byGroup) Seq(r.get(1)) else Nil)
    val groups =
      if (keyFields.isEmpty) Seq(Seq.empty[Any] -> rows.toSeq)
      else rows.toSeq.groupBy(key).toSeq.sortWith((a, b) => PanelPasses.seqLess(a._1, b._1))
    PanelPasses.local(p.spark,
      keyFields ++ p.fd.returnCols.map(StructField(_, DoubleType)),
      groups.map { case (k, rs) =>
        Row.fromSeq(k ++ (0 until n).map(i =>
          box(StatFunctions.mean(rs.flatMap(opt(_, nKeys + i))))))
      })
  }

  /** IC summary statistics per horizon: mean, std, IR, t-stat, p-value,
    * skew, kurtosis (reference: alphalens/plotting.py:166-179). One row
    * per horizon; p-value via the regularized incomplete beta (exact
    * Student-t two-sided). */
  def icSummary(fd: FactorData, groupAdjust: Boolean = false): DataFrame =
    icSummaryTable(new PanelPasses(fd), groupAdjust)

  /** [[icSummary]] from the IC pass. */
  private[graft] def icSummaryTable(p: PanelPasses, groupAdjust: Boolean): DataFrame = {
    val ic = p.ic(groupAdjust)
    val rows = p.fd.returnCols.zipWithIndex.map { case (rc, i) =>
      val xs = ic.toSeq.flatMap(opt(_, 1 + i))
      val mean = StatFunctions.mean(xs)
      val std = StatFunctions.stddevSamp(xs)
      val n = xs.length.toLong
      val t = StatFunctions.div(mean, std.map(_ / math.sqrt(n.toDouble)))
      val pValue = t.map(t =>
        if (n < 2 || t.isNaN) Double.NaN
        else StatFunctions.tTwoSidedPValue(t, (n - 1).toDouble))
      Row(rc, box(mean), box(std), box(StatFunctions.div(mean, std)), box(t),
        box(pValue), box(StatFunctions.skewness(xs)), box(StatFunctions.kurtosis(xs)), n)
    }
    PanelPasses.local(p.spark,
      StructField("period", StringType) +:
        Seq("ic_mean", "ic_std", "risk_adjusted_ic", "t_stat", "p_value",
          "ic_skew", "ic_kurtosis").map(StructField(_, DoubleType)) :+
        StructField("n", LongType),
      rows)
  }

  /** The IC series of a sheet as a (date, horizons...) table. */
  private[graft] def icTable(p: PanelPasses, groupAdjust: Boolean): DataFrame =
    PanelPasses.local(p.spark,
      p.field("date") +: p.fd.returnCols.map(StructField(_, DoubleType)),
      p.ic(groupAdjust).toSeq)
}
