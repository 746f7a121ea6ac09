package graft.perf

/** Small numeric helpers with no external dependencies.
  * Student-t CDF via the regularized incomplete beta function
  * (standard continued-fraction evaluation; see Abramowitz & Stegun
  * 26.5.8 / 26.7.1). Used for the IC summary p-value
  * (reference: alphalens/plotting.py:172 uses scipy.stats.ttest_1samp). */
object StatFunctions extends Serializable {

  private def lnGamma(x: Double): Double = {
    // Lanczos approximation, g=7, n=9
    val g = 7.0
    val c = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5)
      math.log(math.Pi / math.sin(math.Pi * x)) - lnGamma(1.0 - x)
    else {
      val xx = x - 1.0
      var a = c(0)
      val t = xx + g + 0.5
      var i = 1
      while (i < 9) { a += c(i) / (xx + i); i += 1 }
      0.5 * math.log(2 * math.Pi) + (xx + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** Regularized incomplete beta I_x(a, b) via Lentz continued fraction. */
  def regIncBeta(x: Double, a: Double, b: Double): Double = {
    if (x <= 0.0) return 0.0
    if (x >= 1.0) return 1.0
    val lbeta = lnGamma(a) + lnGamma(b) - lnGamma(a + b)
    val front = math.exp(a * math.log(x) + b * math.log(1 - x) - lbeta)
    def cf(x: Double, a: Double, b: Double): Double = {
      val fpmin = 1e-300
      var c = 1.0
      var d = 1.0 - (a + b) * x / (a + 1.0)
      if (math.abs(d) < fpmin) d = fpmin
      d = 1.0 / d
      var h = d
      var m = 1
      while (m <= 300) {
        val m2 = 2 * m
        var aa = m * (b - m) * x / ((a + m2 - 1.0) * (a + m2))
        d = 1.0 + aa * d; if (math.abs(d) < fpmin) d = fpmin
        c = 1.0 + aa / c; if (math.abs(c) < fpmin) c = fpmin
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1.0))
        d = 1.0 + aa * d; if (math.abs(d) < fpmin) d = fpmin
        c = 1.0 + aa / c; if (math.abs(c) < fpmin) c = fpmin
        d = 1.0 / d
        val del = d * c
        h *= del
        if (math.abs(del - 1.0) < 1e-15) return h
        m += 1
      }
      h
    }
    if (x < (a + 1.0) / (a + b + 2.0)) front * cf(x, a, b) / a
    else 1.0 - math.exp(b * math.log(1 - x) + a * math.log(x) -
      (lnGamma(a) + lnGamma(b) - lnGamma(a + b))) * cf(1 - x, b, a) / b
  }

  // ---- driver folds over the collected tear-sheet series ---------------
  // Each takes the non-null values in the order the caller fixes (dates
  // ascending) and returns None where Spark's aggregate returns null.

  /** Spark `avg`: a left fold from 0.0, then one division. */
  def mean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.foldLeft(0.0)(_ + _) / xs.length)

  /** Sums of the 2nd, 3rd and 4th powers of the deviations from `mu`. */
  private def centralSums(xs: Seq[Double], mu: Double): (Double, Double, Double) =
    xs.foldLeft((0.0, 0.0, 0.0)) { case ((m2, m3, m4), x) =>
      val d = x - mu
      (m2 + d * d, m3 + d * d * d, m4 + d * d * d * d)
    }

  /** Spark `var_samp`. */
  def varSamp(xs: Seq[Double]): Option[Double] =
    if (xs.length < 2) None
    else mean(xs).map(mu => centralSums(xs, mu)._1 / (xs.length - 1))

  /** Spark `stddev_samp`. */
  def stddevSamp(xs: Seq[Double]): Option[Double] = varSamp(xs).map(math.sqrt)

  /** Spark `covar_samp` over the pairs where both values are present. */
  def covarSamp(xys: Seq[(Double, Double)]): Option[Double] =
    if (xys.length < 2) None
    else for {
      mx <- mean(xys.map(_._1))
      my <- mean(xys.map(_._2))
    } yield xys.foldLeft(0.0) { case (s, (x, y)) => s + (x - mx) * (y - my) } /
      (xys.length - 1)

  /** Spark `skewness` (population moments; null on zero variance). */
  def skewness(xs: Seq[Double]): Option[Double] =
    mean(xs).flatMap { mu =>
      val (m2, m3, _) = centralSums(xs, mu)
      if (m2 == 0.0) None else Some(math.sqrt(xs.length.toDouble) * m3 / math.sqrt(m2 * m2 * m2))
    }

  /** Spark `kurtosis` (excess, population moments; null on zero
    * variance). */
  def kurtosis(xs: Seq[Double]): Option[Double] =
    mean(xs).flatMap { mu =>
      val (m2, _, m4) = centralSums(xs, mu)
      if (m2 == 0.0) None else Some(xs.length * m4 / (m2 * m2) - 3.0)
    }

  /** Division with a null result for a missing operand or a zero
    * divisor. */
  def div(a: Option[Double], b: Option[Double]): Option[Double] =
    for (x <- a; y <- b if y != 0.0) yield x / y

  /** P(T <= t) for Student-t with df degrees of freedom. */
  def tCdf(t: Double, df: Double): Double = {
    val x = df / (df + t * t)
    val p = 0.5 * regIncBeta(x, df / 2.0, 0.5)
    if (t > 0) 1.0 - p else p
  }

  /** Two-sided p-value for a one-sample t test statistic. */
  def tTwoSidedPValue(t: Double, df: Double): Double =
    2.0 * (1.0 - tCdf(math.abs(t), df))

  /** Inverse standard-normal CDF (Acklam's rational approximation) —
    * used by the QQ-plot table (reference: alphalens/plotting.py:292-338). */
  def normInv(p: Double): Double = {
    if (p <= 0.0) return Double.NegativeInfinity
    if (p >= 1.0) return Double.PositiveInfinity
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val plow = 0.02425
    if (p < plow) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - plow) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }
}
