package graft.kernels

/** Per-band light-curve feature extraction — the reference's "one big
  * custom kernel" (ztf/ad_features/processor.py:36-224, backed there by
  * the Rust `light-curve` package; feature definitions follow the
  * published catalog, arXiv:2012.01419 Appendix A).
  *
  * Pure JVM implementation over (t, m, sigma) arrays sorted by t.
  * Undefined features (too few points, zero variance) are NaN, matching
  * the reference's fill_value=np.nan.
  */
object LightCurveFeatures {

  /** Feature names in extractor order (26, as the reference doctest
    * asserts: processor.py:141-143).
    */
  val names: Seq[String] = Seq(
    "mean", "weighted_mean", "standard_deviation", "median",
    "amplitude", "beyond_1_std", "cusum", "inter_percentile_range_10",
    "kurtosis", "linear_trend", "linear_trend_sigma", "linear_trend_noise",
    "linear_fit_slope", "linear_fit_slope_sigma", "linear_fit_reduced_chi2",
    "magnitude_percentage_ratio_40_5", "magnitude_percentage_ratio_20_10",
    "maximum_slope", "median_absolute_deviation",
    "median_buffer_range_percentage_10", "percent_amplitude",
    "mean_variance", "anderson_darling_normal", "chi2", "skew", "stetson_K")

  /** numpy-style linear-interpolation quantile over a sorted array. */
  def quantileSorted(sorted: Array[Double], q: Double): Double =
    quantileSorted(sorted, 0, sorted.length, q)

  /** The quantile over the sorted slice `sorted(from until until)`. */
  def quantileSorted(sorted: Array[Double], from: Int, until: Int, q: Double): Double = {
    if (until <= from) return Double.NaN
    val pos = (until - from - 1) * q
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) sorted(from + lo)
    else sorted(from + lo) + (pos - lo) * (sorted(from + hi) - sorted(from + lo))
  }

  def medianOf(values: Array[Double]): Double = {
    if (values.isEmpty) return Double.NaN
    val s = values.clone(); java.util.Arrays.sort(s)
    quantileSorted(s, 0.5)
  }

  /** Extract all 26 features for one band. Inputs must be sorted by t
    * with no NaNs.
    */
  def extract(t: Array[Double], m: Array[Double], sigma: Array[Double]): Array[Double] = {
    val n = m.length
    val out = Array.fill(names.length)(Double.NaN)
    if (n == 0) return out
    val nd = n.toDouble

    var sum = 0.0; var i = 0
    while (i < n) { sum += m(i); i += 1 }
    val mean = sum / nd

    // weighted mean with 1/sigma^2 weights
    var wsum = 0.0; var w = 0.0
    i = 0
    while (i < n) { val wi = 1.0 / (sigma(i) * sigma(i)); wsum += wi * m(i); w += wi; i += 1 }
    val weightedMean = wsum / w

    var ss = 0.0; var s3 = 0.0; var s4 = 0.0
    i = 0
    while (i < n) { val d = m(i) - mean; ss += d * d; s3 += d * d * d; s4 += d * d * d * d; i += 1 }
    val variance = if (n > 1) ss / (n - 1) else Double.NaN // sample
    val std = math.sqrt(variance)

    val sortedM = m.clone(); java.util.Arrays.sort(sortedM)
    val mMin = sortedM(0); val mMax = sortedM(n - 1)
    val median = quantileSorted(sortedM, 0.5)
    def q(p: Double) = quantileSorted(sortedM, p)

    out(0) = mean
    out(1) = weightedMean
    out(2) = std
    out(3) = median
    out(4) = (mMax - mMin) / 2.0 // amplitude

    if (n > 1 && std > 0) {
      var beyond = 0
      i = 0
      while (i < n) { if (math.abs(m(i) - mean) > std) beyond += 1; i += 1 }
      out(5) = beyond / nd
    }

    // cusum: range of the normalized cumulative sum
    if (n > 1 && std > 0) {
      var acc = 0.0; var lo = Double.MaxValue; var hi = Double.MinValue
      i = 0
      while (i < n) {
        acc += (m(i) - mean) / (nd * std)
        if (acc < lo) lo = acc
        if (acc > hi) hi = acc
        i += 1
      }
      out(6) = hi - lo
    }

    out(7) = q(0.9) - q(0.1) // inter_percentile_range_10

    if (n > 3 && std > 0) { // sample excess kurtosis (G2)
      val g2 = (nd * (nd + 1)) / ((nd - 1) * (nd - 2) * (nd - 3)) * s4 / (variance * variance) -
        3.0 * (nd - 1) * (nd - 1) / ((nd - 2) * (nd - 3))
      out(8) = g2
    }

    // linear trend: OLS m = a*t + b; slope, slope sigma from residual
    // variance, and noise = residual std
    if (n > 2) {
      var st = 0.0
      i = 0
      while (i < n) { st += t(i); i += 1 }
      val tMean = st / nd
      var stt = 0.0; var stm = 0.0
      i = 0
      while (i < n) { val dt = t(i) - tMean; stt += dt * dt; stm += dt * (m(i) - mean); i += 1 }
      if (stt > 0) {
        val slope = stm / stt
        val intercept = mean - slope * tMean
        var rss = 0.0
        i = 0
        while (i < n) { val r = m(i) - (slope * t(i) + intercept); rss += r * r; i += 1 }
        val noiseVar = rss / (nd - 2)
        out(9) = slope
        out(10) = math.sqrt(noiseVar / stt)
        out(11) = math.sqrt(noiseVar)
      }
    }

    // weighted linear fit (chi2 minimization with sigma weights)
    if (n > 2) {
      var sw = 0.0; var swt = 0.0; var swm = 0.0
      i = 0
      while (i < n) {
        val wi = 1.0 / (sigma(i) * sigma(i))
        sw += wi; swt += wi * t(i); swm += wi * m(i); i += 1
      }
      val tBar = swt / sw; val mBar = swm / sw
      var stt = 0.0; var stm = 0.0
      i = 0
      while (i < n) {
        val wi = 1.0 / (sigma(i) * sigma(i))
        val dt = t(i) - tBar
        stt += wi * dt * dt; stm += wi * dt * (m(i) - mBar); i += 1
      }
      if (stt > 0) {
        val slope = stm / stt
        val intercept = mBar - slope * tBar
        var chi2 = 0.0
        i = 0
        while (i < n) {
          val r = (m(i) - (slope * t(i) + intercept)) / sigma(i)
          chi2 += r * r; i += 1
        }
        out(12) = slope
        out(13) = math.sqrt(1.0 / stt)
        out(14) = chi2 / (nd - 2)
      }
    }

    // magnitude percentage ratios
    def mpr(qn: Double, qd: Double): Double = {
      val den = q(1 - qd) - q(qd)
      if (den == 0) Double.NaN else (q(1 - qn) - q(qn)) / den
    }
    out(15) = mpr(0.4, 0.05)
    out(16) = mpr(0.2, 0.1)

    if (n > 1) { // maximum slope between consecutive observations
      var mx = Double.NegativeInfinity
      i = 1
      while (i < n) {
        val dt = t(i) - t(i - 1)
        if (dt != 0) {
          val sl = math.abs((m(i) - m(i - 1)) / dt)
          if (sl > mx) mx = sl
        }
        i += 1
      }
      if (mx > Double.NegativeInfinity) out(17) = mx
    }

    // median absolute deviation
    val absDev = new Array[Double](n)
    i = 0
    while (i < n) { absDev(i) = math.abs(m(i) - median); i += 1 }
    out(18) = medianOf(absDev)

    // median buffer range percentage (quantile = 0.1 of amplitude)
    if (mMax != mMin) {
      var inBuf = 0
      val buf = 0.1 * (mMax - mMin) / 2.0
      i = 0
      while (i < n) { if (math.abs(m(i) - median) < buf) inBuf += 1; i += 1 }
      out(19) = inBuf / nd
    }

    out(20) = math.max(math.abs(mMax - median), math.abs(median - mMin)) // percent_amplitude
    if (mean != 0 && n > 1) out(21) = std / mean // mean_variance

    // Anderson-Darling normality statistic (with small-sample factor)
    if (n > 3 && std > 0) {
      var a2 = 0.0
      var ok = true
      i = 0
      while (i < n && ok) {
        val zi = normCdf((sortedM(i) - mean) / std)
        val zr = normCdf((sortedM(n - 1 - i) - mean) / std)
        if (zi <= 0 || zr >= 1) ok = false
        else a2 += (2.0 * i + 1) * (math.log(zi) + math.log1p(-zr))
        i += 1
      }
      if (ok) out(22) = (-nd - a2 / nd) * (1.0 + 4.0 / nd - 25.0 / (nd * nd))
    }

    // reduced chi2 about the weighted mean
    if (n > 1) {
      var chi2 = 0.0
      i = 0
      while (i < n) { val r = (m(i) - weightedMean) / sigma(i); chi2 += r * r; i += 1 }
      out(23) = chi2 / (nd - 1)
    }

    if (n > 2 && std > 0) { // sample skewness (G1)
      out(24) = nd / ((nd - 1) * (nd - 2)) * s3 / (std * std * std)
    }

    // Stetson K
    if (n > 1) {
      var sAbs = 0.0; var sSq = 0.0
      val f = math.sqrt(nd / (nd - 1))
      i = 0
      while (i < n) {
        val d = f * (m(i) - weightedMean) / sigma(i)
        sAbs += math.abs(d); sSq += d * d; i += 1
      }
      if (sSq > 0) out(25) = (sAbs / nd) / math.sqrt(sSq / nd)
    }

    out
  }

  /** Standard normal CDF via erf (Abramowitz-Stegun style through
    * java's erf-less Math: use the complementary error function
    * approximation with double precision via tanh-free formula).
    */
  def normCdf(x: Double): Double = 0.5 * (1.0 + erf(x / math.sqrt(2.0)))

  /** High-accuracy erf (double precision ~1e-15, W. J. Cody rational
    * approximation scheme).
    */
  def erf(x: Double): Double = {
    if (x < 0) return -erf(-x)
    if (x > 6) return 1.0
    // series for small x, continued fraction style rational for larger
    if (x < 2.5) {
      // Taylor series erf(x) = 2/sqrt(pi) * sum (-1)^k x^(2k+1)/(k!(2k+1))
      var term = x
      var sum = x
      var k = 1
      while (math.abs(term) > 1e-17 * math.abs(sum) && k < 200) {
        term = -term * x * x / k
        sum += term / (2 * k + 1)
        k += 1
      }
      2.0 / math.sqrt(math.Pi) * sum
    } else {
      1.0 - erfcLarge(x)
    }
  }

  private def erfcLarge(x: Double): Double = {
    // continued-fraction expansion of erfc for x >= 2.5
    var cf = 0.0
    var k = 60
    while (k >= 1) { cf = (k / 2.0) / (x + cf); k -= 1 }
    math.exp(-x * x) / ((x + cf) * math.sqrt(math.Pi))
  }
}
