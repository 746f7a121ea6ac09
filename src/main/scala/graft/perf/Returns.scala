package graft.perf

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField}

import graft.ingest.FactorData
import graft.perf.PanelPasses.{box, opt}

/** Weighting and return attribution
  * (reference: alphalens/performance.py:129-330, 453-565). */
object Returns {

  /** Per-date (± group-neutral) portfolio weights
    * (reference: alphalens/performance.py:129-205).
    *
    * All paths are window aggregates over the cross-section — mean /
    * exact median / sign counts / sum(abs) — followed by the gross-
    * leverage normalization; group_adjust triggers the reference's second
    * normalization pass across the whole date (performance.py:203).
    */
  def factorWeights(
      fd: FactorData,
      demeaned: Boolean = true,
      groupAdjust: Boolean = false,
      equalWeight: Boolean = false): DataFrame = {
    val part: Seq[Column] = col("date") +:
      (if (groupAdjust) Seq(col("group")) else Nil)
    val w = Window.partitionBy(part: _*)
    val f = col("factor")

    val pre: Column =
      if (equalWeight) {
        val centered = if (demeaned) f - percentile(f, lit(0.5)).over(w) else f
        val sgn = when(centered < 0, -1.0).when(centered > 0, 1.0).otherwise(0.0)
        if (demeaned) {
          val negN = sum(when(centered < 0, 1).otherwise(0)).over(w)
          val posN = sum(when(centered > 0, 1).otherwise(0)).over(w)
          when(sgn < 0, sgn / negN).when(sgn > 0, sgn / posN).otherwise(sgn)
        } else sgn
      } else if (demeaned) f - avg(f).over(w)
      else f

    // gross-leverage normalization; a zero gross (e.g. a single-asset
    // group demeaned to 0) yields null, matching pandas 0/0 -> NaN
    def norm(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column = {
      val gross = sum(abs(c)).over(w)
      when(gross === 0.0, lit(null)).otherwise(c / gross)
    }
    val withPre = fd.df.withColumn("__pre", pre)
    var out = withPre.withColumn("weight",
      norm(col("__pre"), Window.partitionBy(part: _*))).drop("__pre")

    if (groupAdjust) {
      // second pass: renormalize across the full date (performance.py:203)
      out = out.withColumn("weight",
        norm(col("weight"), Window.partitionBy(col("date"))))
    }
    out
  }

  /** Period-wise factor-weighted portfolio returns
    * (reference: alphalens/performance.py:208-255). */
  def factorReturns(
      fd: FactorData,
      demeaned: Boolean = true,
      groupAdjust: Boolean = false,
      equalWeight: Boolean = false,
      byAsset: Boolean = false): DataFrame = {
    if (byAsset) {
      val weighted = factorWeights(fd, demeaned, groupAdjust, equalWeight)
      weighted.select((Seq(col("date"), col("asset")) ++
        fd.returnCols.map(rc => (col(rc) * col("weight")).as(rc))): _*)
    } else factorReturnsByDate(fd, demeaned, groupAdjust, equalWeight).orderBy("date")
  }

  /** [[factorReturns]] per date, unordered: the tear sheets' weighted
    * factor-returns pass. */
  private[graft] def factorReturnsByDate(
      fd: FactorData,
      demeaned: Boolean,
      groupAdjust: Boolean,
      equalWeight: Boolean): DataFrame = {
    val weighted = factorWeights(fd, demeaned, groupAdjust, equalWeight)
    // CANONICAL-ORDER fold, not sum(): a float sum's low bits depend
    // on summation order, and when a per-date sum lands within an ulp
    // of a .5e-9 boundary the final round(_, 9) flips with the order
    // — across partitionings here, across thread schedules in the
    // DuckDB twin (the 9x panel probe caught exactly one such date:
    // SURVEY §5 probe #12). Folding the per-asset contributions in
    // asset order makes the value a function of the DATA alone; the
    // oracle folds the identical sequence via list_reduce. The
    // per-date state is one struct array bounded by the universe
    // width (the positions-grid precedent), combinable map-side by
    // collect_list.
    // sum() semantics preserved exactly: nulls are skipped (possible
    // under equal-weight on a degenerate date) and an all-null group
    // yields null — tracked in the fold state, one pass
    val aggs = fd.returnCols.map { rc =>
      val arr = filter(
        array_sort(collect_list(struct(col("asset").as("a"),
          (col(rc) * col("weight")).as("x")))),
        s => s.getField("x").isNotNull)
      aggregate(arr,
        struct(lit(0.0).as("s"), lit(0L).as("n")),
        (acc, e) => struct(
          (acc.getField("s") + e.getField("x")).as("s"),
          (acc.getField("n") + 1L).as("n")),
        acc => when(acc.getField("n") > 0, acc.getField("s"))).as(rc)
    }
    weighted.groupBy("date").agg(aggs.head, aggs.tail: _*)
  }

  /** The weighted factor returns of a sheet as a (date, horizons...)
    * table. */
  private[graft] def factorReturnsTable(
      p: PanelPasses, demeaned: Boolean, groupAdjust: Boolean): DataFrame =
    PanelPasses.local(p.spark,
      p.field("date") +: p.fd.returnCols.map(StructField(_, DoubleType)),
      p.factorReturns(demeaned, groupAdjust).toSeq)

  /** Closed-form OLS alpha/beta of factor returns on the period-wise
    * universe mean return (reference: alphalens/performance.py:258-330).
    * beta = cov(x,y)/var(x); Ann. alpha = (1+a)^(252D/period) - 1.
    * Output: rows "Ann. alpha" and "beta", one column per horizon.
    * `returns`, when given, is a (date, horizons...) table. */
  def factorAlphaBeta(
      fd: FactorData,
      returns: Option[DataFrame] = None,
      demeaned: Boolean = true,
      groupAdjust: Boolean = false,
      equalWeight: Boolean = false): DataFrame = {
    val p = new PanelPasses(fd)
    val rets = returns
      .map(_.select(("date" +: fd.returnCols).map(col): _*).collect())
      .getOrElse(p.factorReturns(demeaned, groupAdjust, equalWeight))
    statTable(p, alphaBetaRows(p, rets, demeaned, groupAdjust))
  }

  /** Alpha/beta rows from (date, horizons...) factor returns and the
    * per-date universe means, inner-joined on date. */
  private[graft] def alphaBetaRows(
      p: PanelPasses,
      returns: Seq[Row],
      demeaned: Boolean,
      groupAdjust: Boolean): Seq[(String, IndexedSeq[Option[Double]])] = {
    val universe = p.universe(demeaned, groupAdjust)
    val joined = returns.flatMap(r => universe.get(r.get(0)).map(u => (u, r)))
    val perH = p.fd.horizons.zipWithIndex.map { case (h, i) =>
      val pairs = joined.map { case (u, r) => (u(i), opt(r, 1 + i)) }
      val xs = pairs.flatMap(_._1)
      val beta = StatFunctions.div(
        StatFunctions.covarSamp(pairs.collect { case (Some(x), Some(y)) => (x, y) }),
        StatFunctions.varSamp(xs))
      val alpha = for {
        ay <- StatFunctions.mean(pairs.flatMap(_._2))
        b <- beta
        ax <- StatFunctions.mean(xs)
      } yield ay - b * ax
      (alpha.map(a => StrictMath.pow(a + 1.0, h.freqAdjust) - 1.0), beta)
    }
    Seq("Ann. alpha" -> perH.map(_._1).toIndexedSeq,
      "beta" -> perH.map(_._2).toIndexedSeq)
  }

  /** A (stat, horizons...) table. */
  private[graft] def statTable(
      p: PanelPasses, rows: Seq[(String, IndexedSeq[Option[Double]])]): DataFrame =
    PanelPasses.local(p.spark,
      StructField("stat", StringType) +: p.fd.returnCols.map(StructField(_, DoubleType)),
      rows.map { case (stat, vs) => Row.fromSeq(stat +: vs.map(box)) })

  /** One row of a mean-return table: its key values, then per horizon
    * the mean and its standard error. */
  private[graft] final case class MeanRow(
      keys: Seq[Any],
      mean: IndexedSeq[Option[Double]],
      err: IndexedSeq[Option[Double]])

  /** Mean period-wise returns by factor quantile, with the reference's
    * two-stage estimator when by_date=False: the overall quantile mean is
    * the mean of daily means, and the standard error comes from the
    * second-stage std/sqrt(count)
    * (reference: alphalens/performance.py:453-517).
    * Output columns per horizon: `<label>` (mean) and `<label>_std_err`.
    */
  def meanReturnByQuantile(
      fd: FactorData,
      byDate: Boolean = false,
      byGroup: Boolean = false,
      demeaned: Boolean = true,
      groupAdjust: Boolean = false): DataFrame = {
    val p = new PanelPasses(fd)
    meanTable(p.spark, meanKeys(byDate, byGroup).map(p.field), fd.returnCols,
      meanRows(p, byDate, byGroup, demeaned, groupAdjust))
  }

  private[graft] def meanKeys(byDate: Boolean, byGroup: Boolean): Seq[String] =
    "factor_quantile" +: ((if (byDate) Seq("date") else Nil) ++
      (if (byGroup) Seq("group") else Nil))

  /** First stage of the estimator: per (factor_quantile, date) mean,
    * std and count of each horizon's (optionally demeaned) return, plus
    * the date's universe mean per horizon, which alpha/beta regresses
    * on — one pass over the panel. */
  private[graft] def stage1Frame(
      fd: FactorData,
      demeaned: Boolean,
      groupAdjust: Boolean): DataFrame = {
    val byDate = Window.partitionBy("date")
    val withU = fd.returnCols.foldLeft(fd.df) { (df, rc) =>
      df.withColumn(s"__u_$rc", avg(col(rc)).over(byDate))
    }
    val base =
      if (groupAdjust) Information.demeanForwardReturns(fd.copy(df = withU), byGroup = true)
      else if (demeaned)
        fd.returnCols.foldLeft(withU)((df, rc) => df.withColumn(rc, col(rc) - col(s"__u_$rc")))
      else withU
    val aggs = moments(fd) ++ fd.returnCols.map(rc => first(col(s"__u_$rc")))
    base.groupBy("factor_quantile", "date").agg(aggs.head, aggs.tail: _*)
  }

  /** The by-group estimator, kept in Spark: per (factor_quantile,
    * date, group) moments, and when `!byDate` the second stage per
    * (factor_quantile, group) over them. Only that result is
    * collected. */
  private[graft] def groupMomentsFrame(
      fd: FactorData,
      byDate: Boolean,
      demeaned: Boolean,
      groupAdjust: Boolean): DataFrame = {
    val base =
      if (groupAdjust) Information.demeanForwardReturns(fd, byGroup = true)
      else if (demeaned) Information.demeanForwardReturns(fd)
      else fd.df
    val keys = meanKeys(byDate = true, byGroup = true)
    val stage1 = base.groupBy(keys.map(col): _*).agg(moments(fd).head, moments(fd).tail: _*)
    if (byDate) stage1
    else stage1.groupBy("factor_quantile", "group")
      .agg(moments(fd).head, moments(fd).tail: _*)
  }

  /** mean, std and count of each horizon column. */
  private def moments(fd: FactorData): Seq[Column] =
    fd.returnCols.flatMap(rc => Seq(avg(col(rc)).as(rc),
      stddev_samp(col(rc)).as(s"__std_$rc"), count(col(rc)).as(s"__cnt_$rc")))

  /** The rows of [[meanReturnByQuantile]] from the shared passes. */
  private[graft] def meanRows(
      p: PanelPasses,
      byDate: Boolean,
      byGroup: Boolean,
      demeaned: Boolean,
      groupAdjust: Boolean): Seq[MeanRow] = {
    val n = p.fd.horizons.size
    def stdErr(std: Option[Double], cnt: Long): Option[Double] =
      std.map(_ / math.sqrt(cnt.toDouble))
    def fromMoments(r: Row, nKeys: Int): MeanRow = MeanRow(
      (0 until nKeys).map(r.get),
      (0 until n).map(i => opt(r, nKeys + 3 * i)),
      (0 until n).map(i => stdErr(opt(r, nKeys + 3 * i + 1), r.getLong(nKeys + 3 * i + 2))))
    if (byGroup)
      p.groupMoments(byDate, demeaned, groupAdjust).toSeq
        .map(fromMoments(_, if (byDate) 3 else 2))
    else if (byDate)
      p.stage1(demeaned, groupAdjust).toSeq.map(fromMoments(_, 2))
    else {
      // second stage on the driver, over the date-ordered daily means
      val byQ = p.stage1(demeaned, groupAdjust).toSeq.groupBy(_.get(0))
      byQ.keys.toSeq.sortWith(PanelPasses.compareKeys(_, _) < 0).map { q =>
        val daily = (0 until n).map(i => byQ(q).flatMap(opt(_, 2 + 3 * i)))
        MeanRow(Seq(q), daily.map(StatFunctions.mean),
          daily.map(xs => stdErr(StatFunctions.stddevSamp(xs), xs.length)))
      }
    }
  }

  /** A mean-return table: key columns, then per horizon `<label>` and
    * `<label>_std_err`. */
  private[graft] def meanTable(
      spark: SparkSession,
      keys: Seq[StructField],
      returnCols: Seq[String],
      rows: Seq[MeanRow]): DataFrame =
    PanelPasses.local(spark,
      keys ++ returnCols.flatMap(rc =>
        Seq(StructField(rc, DoubleType), StructField(s"${rc}_std_err", DoubleType))),
      rows.map(r => Row.fromSeq(r.keys ++
        r.mean.zip(r.err).flatMap { case (m, e) => Seq(box(m), box(e)) })))

  /** Every horizon's means (and optionally std errors) converted to the
    * base (first) horizon's rate, as the tear sheets tabulate them
    * (reference: tears.py:92-115; utils.rate_of_return /
    * std_conversion). */
  private[graft] def rateConverted(
      fd: FactorData, rows: Seq[MeanRow], withStdErr: Boolean): Seq[MeanRow] = {
    val base = fd.horizons.head.span.toNanos.toDouble
    val ratios = fd.horizons.map(h => base / h.span.toNanos.toDouble).toIndexedSeq
    rows.map(r => r.copy(
      mean = r.mean.zip(ratios).map { case (m, q) => m.map(rateOfReturn(_, q)) },
      err =
        if (withStdErr) r.err.zip(ratios).map { case (e, q) => e.map(stdConversion(_, 1.0 / q)) }
        else r.err))
  }

  /** Difference between upper- and lower-quantile mean returns with joint
    * standard error sqrt(s1^2 + s2^2)
    * (reference: alphalens/performance.py:520-565). Expects the by-date
    * output of meanReturnByQuantile. */
  def computeMeanReturnsSpread(
      meanReturns: DataFrame,
      upperQuant: Int,
      lowerQuant: Int,
      returnCols: Seq[String]): DataFrame = {
    val n = returnCols.size
    val rows = meanReturns.filter(col("factor_quantile").isin(upperQuant, lowerQuant))
      .select((Seq(col("factor_quantile"), col("date")) ++ returnCols.flatMap(rc =>
        Seq(col(rc), col(s"${rc}_std_err")))): _*)
      .collect().toSeq
      .map(r => MeanRow(Seq(r.get(0), r.get(1)),
        (0 until n).map(i => opt(r, 2 + 2 * i)), (0 until n).map(i => opt(r, 3 + 2 * i))))
    meanTable(meanReturns.sparkSession, Seq(meanReturns.schema("date")), returnCols,
      spreadRows(rows, upperQuant, lowerQuant))
  }

  /** The spread rows, keyed by date in order, over (factor_quantile,
    * date) mean rows: the dates both quantiles reach. */
  private[graft] def spreadRows(
      byDate: Seq[MeanRow], upperQuant: Int, lowerQuant: Int): Seq[MeanRow] = {
    val lower = byDate.filter(_.keys.head == lowerQuant).map(r => r.keys(1) -> r).toMap
    def minus(a: Option[Double], b: Option[Double]) = for (x <- a; y <- b) yield x - y
    def joint(a: Option[Double], b: Option[Double]) = for (x <- a; y <- b) yield
      math.sqrt(StrictMath.pow(x, 2) + StrictMath.pow(y, 2))
    byDate.filter(_.keys.head == upperQuant)
      .sortWith((a, b) => PanelPasses.compareKeys(a.keys(1), b.keys(1)) < 0)
      .flatMap(u => lower.get(u.keys(1)).map(l => MeanRow(Seq(u.keys(1)),
        u.mean.zip(l.mean).map((minus _).tupled), u.err.zip(l.err).map((joint _).tupled))))
  }

  /** Convert a 1-period return to a `base`-period rate of return:
    * (1+r)^(base/period) - 1 (reference: alphalens/utils.py:844-869). */
  def rateOfReturn(r: Double, conversionFactor: Double): Double =
    StrictMath.pow(r + 1.0, conversionFactor) - 1.0

  /** Standard-deviation horizon conversion: s / sqrt(period/base)
    * (reference: alphalens/utils.py:872-895). */
  def stdConversion(s: Double, periodOverBase: Double): Double =
    s / math.sqrt(periodOverBase)
}
