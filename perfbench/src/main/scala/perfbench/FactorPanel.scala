package perfbench

import java.sql.Timestamp
import java.time.{DayOfWeek, LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded equity-like panel with a planted factor-return correlation.
  *
  *  - Sessions are business days from 2021-01-04 with about 2% of them
  *    removed as holidays.
  *  - The universe is ragged: some assets list late, some delist early.
  *  - Each asset belongs to one of 25 groups.
  *  - The factor at t is a standard normal `z`; the return from t to
  *    t+1 is `rho*sigma*z + sqrt(1-rho^2)*sigma*eps`, so the Spearman IC of
  *    the 1-period horizon is (6/pi)*asin(rho/2) in expectation.
  *  - About 0.5% of factor cells are null, NaN or infinite, and about
  *    0.3% of price cells are missing.
  *
  * Everything the checks compare against is recomputed here in plain
  * Scala from these arrays. */
final class FactorPanel(seed: Long, val nDates: Int, val nAssets: Int) {
  import FactorPanel._

  private val rng = new java.util.Random(seed * 7919L + 17L)

  val dates: Array[LocalDate] = {
    val out = Array.newBuilder[LocalDate]
    var d = LocalDate.of(2021, 1, 4)
    var n = 0
    while (n < nDates) {
      val weekend = d.getDayOfWeek == DayOfWeek.SATURDAY ||
        d.getDayOfWeek == DayOfWeek.SUNDAY
      if (!weekend && !(n > 0 && rng.nextDouble() < 0.02)) { out += d; n += 1 }
      d = d.plusDays(1)
    }
    out.result()
  }

  /** Listing interval [start, end] of each asset, in session indices. */
  val (start, end): (Array[Int], Array[Int]) = {
    val s = new Array[Int](nAssets); val e = new Array[Int](nAssets)
    for (a <- 0 until nAssets) {
      val u = rng.nextDouble()
      s(a) = if (u < 0.15) rng.nextInt(nDates / 2) else 0
      e(a) = if (u > 0.85) nDates / 2 + rng.nextInt(nDates / 2) else nDates - 1
    }
    (s, e)
  }

  val group: Array[String] = Array.tabulate(nAssets)(a => f"G${(a * 7 + 3) % Groups}%02d")

  def listed(t: Int, a: Int): Boolean = t >= start(a) && t <= end(a)

  /** z(t)(a): the planted signal; factor(t)(a): the value handed to the
    * program (z, or a planted null/NaN/inf, encoded as NullFactor). */
  val z: Array[Array[Double]] = Array.fill(nDates, nAssets)(rng.nextGaussian())
  val factor: Array[Array[Double]] = Array.tabulate(nDates, nAssets) { (t, a) =>
    val u = rng.nextDouble()
    if (u < 0.0017) NullFactor
    else if (u < 0.0034) Double.NaN
    else if (u < 0.005) (if (u < 0.0042) Double.PositiveInfinity else Double.NegativeInfinity)
    else z(t)(a)
  }

  /** True price path; `priceObserved` marks the cells the program sees. */
  val price: Array[Array[Double]] = {
    val p = Array.ofDim[Double](nDates, nAssets)
    for (a <- 0 until nAssets) {
      p(0)(a) = 20.0 + 80.0 * rng.nextDouble()
      for (t <- 1 until nDates) {
        val r = Rho * Sigma * z(t - 1)(a) +
          math.sqrt(1 - Rho * Rho) * Sigma * rng.nextGaussian()
        p(t)(a) = p(t - 1)(a) * (1.0 + r)
      }
    }
    p
  }
  val priceObserved: Array[Array[Boolean]] =
    Array.tabulate(nDates, nAssets)((t, a) => listed(t, a) && rng.nextDouble() >= 0.003)

  def finiteFactor(t: Int, a: Int): Boolean = {
    val f = factor(t)(a)
    !java.lang.Double.isNaN(f) && !f.isInfinite && f != NullFactor
  }

  /** Forward return over `p` sessions as the program computes it. */
  def fwd(t: Int, a: Int, p: Int): Option[Double] =
    if (t + p < nDates && priceObserved(t)(a) && priceObserved(t + p)(a))
      Some(price(t + p)(a) / price(t)(a) - 1.0)
    else None

  /** Rows that survive ingest: listed, finite factor, all horizons'
    * forward returns present. */
  val kept: Array[Array[Boolean]] = Array.tabulate(nDates, nAssets) { (t, a) =>
    listed(t, a) && finiteFactor(t, a) && Periods.forall(p => fwd(t, a, p).isDefined)
  }
  val keptCount: Long = kept.map(_.count(identity).toLong).sum

  def keptAssets(t: Int): Array[Int] = (0 until nAssets).filter(kept(t)(_)).toArray

  /** qcut(5) labels of date t's kept rows, right-closed with the lowest
    * value included, edges interpolated as Spark's `percentile` does. */
  def quantiles(t: Int): Map[Int, Int] = {
    val as = keptAssets(t)
    if (as.isEmpty) return Map.empty
    val v = as.map(factor(t)(_)).sorted
    val n = v.length
    val edges = (0 to Quantiles).map { j =>
      val pos = (n - 1) * (j.toDouble / Quantiles)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      if (lo == hi) v(lo) else (hi - pos) * v(lo) + (pos - lo) * v(hi)
    }
    as.map { a =>
      val f = factor(t)(a)
      a -> (1 to Quantiles).find(i => f <= edges(i)).getOrElse(Quantiles)
    }.toMap
  }
  lazy val labels: Array[Map[Int, Int]] = Array.tabulate(nDates)(quantiles)

  /** Sessions that keep at least one row, in order. */
  lazy val factorDates: Array[Int] = (0 until nDates).filter(keptAssets(_).nonEmpty).toArray

  def spearmanIc(t: Int, p: Int): Double = {
    val as = keptAssets(t)
    Stats.spearman(as.map(factor(t)(_)), as.map(fwd(t, _, p).get))
  }

  /** Demeaned mean forward return of each quantile on date t. */
  def demeanedQuantileMeans(t: Int, p: Int): Map[Int, Double] = {
    val as = keptAssets(t)
    val r = as.map(fwd(t, _, p).get)
    val mean = r.sum / r.length
    as.indices.groupBy(i => labels(t)(as(i)))
      .map { case (q, is) => q -> is.map(i => r(i) - mean).sum / is.size }
  }

  /** Share of quantile q's names on factor date index di that were not
    * in it `lag` factor dates earlier. */
  def turnover(di: Int, q: Int, lag: Int): Double = {
    def names(k: Int) = labels(factorDates(k)).collect { case (a, `q`) => a }.toSet
    val now = names(di)
    (now -- names(di - lag)).size.toDouble / now.size
  }

  /** Pearson correlation of factor ranks on factor date index di with
    * the ranks `lag` factor dates earlier, over assets kept on both. */
  def rankAutocorr(di: Int, lag: Int): Double = {
    def ranks(k: Int): Map[Int, Double] = {
      val as = keptAssets(factorDates(k))
      as.zip(Stats.avgRanks(as.map(factor(factorDates(k))(_)))).toMap
    }
    val now = ranks(di); val prev = ranks(di - lag)
    val common = now.keys.filter(prev.contains).toArray.sorted
    Stats.pearson(common.map(now), common.map(prev))
  }

  /** Equal-weight mean forward return of the kept universe on date t. */
  def universeMean(t: Int, p: Int): Double = {
    val r = keptAssets(t).map(fwd(t, _, p).get)
    r.sum / r.length
  }

  /** Long-short factor-weighted 1-period return on date t. */
  def factorReturn(t: Int, p: Int): Double = {
    val as = keptAssets(t)
    val f = as.map(factor(t)(_))
    val m = f.sum / f.length
    val gross = f.map(x => math.abs(x - m)).sum
    as.indices.map(i => (f(i) - m) / gross * fwd(t, as(i), p).get).sum
  }

  def ts(t: Int): Timestamp =
    Timestamp.from(dates(t).atStartOfDay().toInstant(ZoneOffset.UTC))

  private lazy val dateIndex: Map[Long, Int] =
    dates.indices.map(t => dates(t).toEpochDay -> t).toMap

  /** Session index of a timestamp the program returned. */
  def session(ts: Timestamp): Int =
    dateIndex(ts.toInstant.atZone(ZoneOffset.UTC).toLocalDate.toEpochDay)

  /** Simple daily returns (date, asset, ret) of observed price pairs. */
  def dailyReturns(spark: SparkSession): DataFrame = {
    val rows = for (t <- 1 until nDates; a <- 0 until nAssets
        if priceObserved(t)(a) && priceObserved(t - 1)(a))
      yield Row(ts(t), a.toLong, price(t)(a) / price(t - 1)(a) - 1.0)
    spark.createDataFrame(spark.sparkContext.parallelize(rows), StructType(Seq(
      StructField("date", TimestampType), StructField("asset", LongType),
      StructField("ret", DoubleType))))
  }

  /** (factor, prices, groups) as DataFrames. */
  def frames(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    val fRows = for (t <- 0 until nDates; a <- 0 until nAssets if listed(t, a)) yield {
      val f = factor(t)(a)
      Row(ts(t), a.toLong, if (f == NullFactor) null else f)
    }
    val pRows = for (t <- 0 until nDates; a <- 0 until nAssets if priceObserved(t)(a))
      yield Row(ts(t), a.toLong, price(t)(a))
    val fSchema = StructType(Seq(StructField("date", TimestampType),
      StructField("asset", LongType), StructField("factor", DoubleType)))
    val pSchema = StructType(Seq(StructField("date", TimestampType),
      StructField("asset", LongType), StructField("price", DoubleType)))
    val gSchema = StructType(Seq(StructField("asset", LongType),
      StructField("group", StringType)))
    (spark.createDataFrame(spark.sparkContext.parallelize(fRows), fSchema),
      spark.createDataFrame(spark.sparkContext.parallelize(pRows), pSchema),
      spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until nAssets).map(a => Row(a.toLong, group(a)))), gSchema))
  }

  /** Writes the raw inputs as parquet under `dir`. */
  def writeParquet(spark: SparkSession, dir: String): Unit = {
    val (f, p, g) = frames(spark)
    f.write.mode("overwrite").parquet(s"$dir/factor")
    p.write.mode("overwrite").parquet(s"$dir/prices")
    g.write.mode("overwrite").parquet(s"$dir/groups")
  }

  /** Expected 1-period mean IC and the tolerance the check allows:
    * five standard errors of a mean of per-date rank correlations, plus
    * the bias of the large-sample formula at this cross-section size. */
  def plantedIc: (Double, Double) = {
    val rhoS = 6 / math.Pi * math.asin(Rho / 2)
    val n = factorDates.map(keptAssets(_).length).sum.toDouble / factorDates.length
    val se = math.sqrt((1 - rhoS * rhoS) / (n - 1)) / math.sqrt(factorDates.length)
    (rhoS, 5 * se + 0.01)
  }
}

object FactorPanel {
  val Periods: Seq[Int] = Seq(1, 5, 10)
  val Quantiles = 5
  val Groups = 25
  val Rho = 0.1
  val Sigma = 0.02
  /** Marker for a planted SQL null (no finite factor takes this value). */
  val NullFactor: Double = -9.87654321e300
}
