package graft

import graft.kernels.{Fits, LightCurveFeatures}
import graft.kernels.ImageStats.{Masked, cropCenter, cropCenterMask, noiseFill}
import graft.kernels.PowerSpectrum.{ksTest, prepare}
import graft.operators.{HostlessDetection, RubinHostless}

/** The hostless kernel as it stood before its table-driven rewrite,
  * kept verbatim as the reference `HostlessKernelSpec` compares raw
  * bits against: the naive per-term-trig DFT, the clone-sort-search
  * Wasserstein distance, the boxed sigma clip, and the ZTF and Rubin
  * stamp kernels on `java.util.Random`. Test scope only.
  */
object HostlessReference {

  /** Naive 2-D DFT squared amplitudes, row-major flattened. Sizes here
    * are tiny (<= 63), so O(n^3) is fine and dependency-free.
    */
  def powerSpectrum2d(img: Array[Array[Double]]): Array[Double] = {
    val n = img.length
    val m = img(0).length
    // 1-D DFT along rows then columns
    val re = Array.ofDim[Double](n, m)
    val im = Array.ofDim[Double](n, m)
    var r = 0
    while (r < n) {
      var k = 0
      while (k < m) {
        var sr = 0.0; var si = 0.0
        var c = 0
        while (c < m) {
          val ang = -2.0 * math.Pi * k * c / m
          sr += img(r)(c) * math.cos(ang)
          si += img(r)(c) * math.sin(ang)
          c += 1
        }
        re(r)(k) = sr; im(r)(k) = si
        k += 1
      }
      r += 1
    }
    val out = new Array[Double](n * m)
    var k1 = 0
    while (k1 < n) {
      var k2 = 0
      while (k2 < m) {
        var sr = 0.0; var si = 0.0
        var rr = 0
        while (rr < n) {
          val ang = -2.0 * math.Pi * k1 * rr / n
          val (cr, ci) = (math.cos(ang), math.sin(ang))
          sr += re(rr)(k2) * cr - im(rr)(k2) * ci
          si += re(rr)(k2) * ci + im(rr)(k2) * cr
          rr += 1
        }
        out(k1 * m + k2) = sr * sr + si * si
        k2 += 1
      }
      k1 += 1
    }
    out
  }

  /** Radial binned-mean spectrum * annulus areas (scipy
    * binned_statistic semantics: right edge inclusive in last bin;
    * empty bin -> NaN).
    */
  def radialSpectrum(img: Array[Array[Double]], knrm: Array[Double],
      kbins: Array[Double], areas: Array[Double]): Array[Double] = {
    val amps = powerSpectrum2d(img)
    val nb = areas.length
    val sums = new Array[Double](nb)
    val counts = new Array[Int](nb)
    var i = 0
    while (i < amps.length) {
      val k = knrm(i)
      if (k >= kbins(0) && k <= kbins(nb)) {
        var b = ((k - kbins(0)) / (kbins(1) - kbins(0))).toInt
        if (b == nb) b = nb - 1
        sums(b) += amps(i)
        counts(b) += 1
      }
      i += 1
    }
    Array.tabulate(nb)(b =>
      if (counts(b) == 0) Double.NaN else sums(b) / counts(b) * areas(b))
  }

  /** 1-D Wasserstein distance between equal-weight samples. */
  def wasserstein(u0: Array[Double], v0: Array[Double]): Double = {
    val u = u0.clone(); java.util.Arrays.sort(u)
    val v = v0.clone(); java.util.Arrays.sort(v)
    val all = (u ++ v).sorted
    var d = 0.0
    var i = 0
    while (i < all.length - 1) {
      val x = all(i)
      val ucdf = countLE(u, x).toDouble / u.length
      val vcdf = countLE(v, x).toDouble / v.length
      d += math.abs(ucdf - vcdf) * (all(i + 1) - x)
      i += 1
    }
    d
  }

  private def countLE(sorted: Array[Double], x: Double): Int = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Host statistic for one image: KS(WD(real, shuffled), WD(shuffled,
    * shuffled)) (powerspectrum.py:120-233). Returns (-1,-1) when the
    * distance distributions are degenerate (the reference's guard).
    */
  def hostStatistic(image: Array[Array[Double]], cutoutSize: Int,
      iterations: Int, rng: java.util.Random): (Double, Double) = {
    val full = image.length
    val start = (full - cutoutSize) / 2
    val stop = start + cutoutSize
    def cutout(img: Array[Array[Double]]): Array[Array[Double]] =
      img.slice(start, stop).map(_.slice(start, stop))

    val (knrm, kbins, areas) = prepare(cutoutSize)
    val real = radialSpectrum(cutout(image), knrm, kbins, areas)

    val flat = image.flatten
    val shuffled = Array.ofDim[Double](iterations, areas.length)
    var it = 0
    while (it < iterations) {
      val copy = flat.clone()
      // Fisher-Yates
      var i = copy.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = copy(i); copy(i) = copy(j); copy(j) = t
        i -= 1
      }
      val img2 = Array.tabulate(full, full)((r, c) => copy(r * full + c))
      shuffled(it) = radialSpectrum(cutout(img2), knrm, kbins, areas)
      it += 1
    }

    val realToShuffled = shuffled.map(s => wasserstein(s, real))
    val pairs = for {
      i <- 0 until iterations; j <- (i + 1) until iterations
    } yield wasserstein(shuffled(i), shuffled(j))
    val s2s = pairs.toArray

    if (realToShuffled.distinct.length < 3 || s2s.distinct.length < 3)
      (-1.0, -1.0)
    else ksTest(realToShuffled, s2s)
  }

  /** astropy sigma_clip(sigma, maxiters) with the defaults the reference
    * uses: center = median, spread = population std, iterate to
    * convergence; NaN pixels start masked.
    */
  def sigmaClip(img: Array[Array[Double]], sigma: Double = 3.0,
      maxIters: Int = 10): Masked = {
    val rows = img.length
    val cols = if (rows == 0) 0 else img(0).length
    val mask = Array.tabulate(rows, cols)((r, c) => img(r)(c).isNaN)
    var iter = 0
    var changed = true
    while (changed && iter < maxIters) {
      val vals = for {
        r <- 0 until rows; c <- 0 until cols if !mask(r)(c)
      } yield img(r)(c)
      if (vals.isEmpty) { changed = false }
      else {
        val arr = vals.toArray
        val med = LightCurveFeatures.medianOf(arr)
        val mean = arr.sum / arr.length
        var ss = 0.0
        arr.foreach { v => val d = v - mean; ss += d * d }
        val std = math.sqrt(ss / arr.length) // population std (numpy default)
        changed = false
        var r = 0
        while (r < rows) {
          var c = 0
          while (c < cols) {
            if (!mask(r)(c) && math.abs(img(r)(c) - med) > sigma * std) {
              mask(r)(c) = true
              changed = true
            }
            c += 1
          }
          r += 1
        }
      }
      iter += 1
    }
    Masked(img, mask)
  }

  /** The clipping-based hostless decision
    * (pipeline_utils.py:97-160): candidate if one image has > maxClip
    * masked pixels while the other has < minClip, on the full stamp or
    * on the center crop re-clipped.
    */
  def hostlessCandidate(science: Masked, template: Masked,
      sigma: Double = 3.0, maxIters: Int = 10, cropRadius: Int = 7,
      maxClip: Int = 5, minClip: Int = 3): Boolean = {
    def check(s: Masked, t: Masked): Boolean = {
      val (ns, nt) = (s.countMasked, t.countMasked)
      (ns > maxClip && nt < minClip) || (nt > maxClip && ns < minClip)
    }
    if (check(science, template)) return true
    // crop the already-clipped data and re-clip (mask preserved through
    // crop; NaN-style invalids re-enter via the data values)
    def recrop(m: Masked): Masked = {
      val d = cropCenter(m.data, cropRadius)
      val msk = cropCenterMask(m.mask, cropRadius)
      // re-clip with prior mask as the starting state
      val withNan = Array.tabulate(d.length, d(0).length)((r, c) =>
        if (msk(r)(c)) Double.NaN else d(r)(c))
      sigmaClip(withNan, sigma, maxIters)
    }
    check(recrop(science), recrop(template))
  }

  /** `HostlessDetection.processStamps`. */
  def ztfStamps(science: Array[Byte], template: Array[Byte],
      seed: Long, iterations: Int): (Float, Float) = {
    import HostlessDetection.{CropRadius, ImageShape, MaxClip, MinClip}
    val sci = Fits.readGzipped(science)
    val tpl = Fits.readGzipped(template)
    if (sci.isEmpty || tpl.isEmpty) return (-99f, -99f)
    val s = sci.get; val t = tpl.get
    if (s.rows != ImageShape || s.cols != ImageShape ||
      t.rows != ImageShape || t.cols != ImageShape) return (-99f, -99f)

    val sClip = sigmaClip(s.data)
    val tClip = sigmaClip(t.data)
    if (!hostlessCandidate(sClip, tClip, cropRadius = CropRadius,
      maxClip = MaxClip, minClip = MinClip)) return (-99f, -99f)

    val rng = new java.util.Random(seed)
    val sFilled = noiseFill(nanToZero(s.data), sClip.mask, rng)
    val tFilled = noiseFill(nanToZero(t.data), tClip.mask, rng)
    val (sStat, _) = hostStatistic(sFilled, CropRadius * 2, iterations, rng)
    val (tStat, _) = hostStatistic(tFilled, CropRadius * 2, iterations, rng)
    (sStat.toFloat, tStat.toFloat)
  }

  def nanToZero(img: Array[Array[Double]]): Array[Array[Double]] =
    img.map(_.map(v => if (v.isNaN) 0.0 else v))

  /** `RubinHostless.processStamps`. */
  def rubinStamps(science: Array[Byte], template: Array[Byte],
      seed: Long, iterations: Int): (Float, Float) = {
    import RubinHostless.{CropRadius, MaxClip, MinClip, TemplateOutlierPixels}
    val sOpt = Fits.read(science)
    val tOpt = Fits.read(template)
    if (sOpt.isEmpty || tOpt.isEmpty) return (-99f, -99f)
    var s = cropCenter(sOpt.get.data, CropRadius)
    var t = cropCenter(tOpt.get.data, CropRadius)
    if (s.length != t.length || s.length < 2 * CropRadius) return (-99f, -99f)

    val sClip = sigmaClip(nanToZero(s))
    val tClip = sigmaClip(nanToZero(t))
    // big host in the template -> not hostless
    if (tClip.countMasked > TemplateOutlierPixels) return (-99f, -99f)

    def check(a: Masked, b: Masked): Boolean = {
      val (na, nb) = (a.countMasked, b.countMasked)
      (na > MaxClip && nb < MinClip) || (nb > MaxClip && na < MinClip)
    }
    var candidate = check(sClip, tClip)
    if (!candidate) {
      // half-resolution recheck
      val s2 = sigmaClip(nanToZero(cropCenter(s, CropRadius / 2)))
      val t2 = sigmaClip(nanToZero(cropCenter(t, CropRadius / 2)))
      candidate = check(s2, t2)
    }
    if (!candidate) return (-99f, -99f)

    val rng = new java.util.Random(seed)
    val sFilled = noiseFill(nanToZero(s), sClip.mask, rng)
    val tFilled = noiseFill(nanToZero(t), tClip.mask, rng)
    val cut = math.min(2 * CropRadius, sFilled.length)
    val (a, _) = hostStatistic(sFilled, cut, iterations, rng)
    val (b, _) = hostStatistic(tFilled, cut, iterations, rng)
    (a.toFloat, b.toFloat)
  }
}
