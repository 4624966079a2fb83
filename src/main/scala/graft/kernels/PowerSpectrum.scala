package graft.kernels

/** Radial power-spectrum + shuffle-test host detection (reference:
  * ztf/hostless_detection/powerspectrum.py:25-233, after the ELEPHANT
  * pipeline paper arXiv:2404.18165).
  *
  * For an image cutout: 2-D DFT -> squared amplitudes -> mean per radial
  * frequency bin scaled by annulus area. The host statistic compares the
  * Wasserstein distances (real spectrum vs shuffled-pixel spectra)
  * against (shuffled vs shuffled) with a two-sample KS test.
  */
object PowerSpectrum {

  /** cos/sin of `-2.0 * math.Pi * k * c / n` at `k * n + c`. */
  private final class Twiddle(val cos: Array[Double], val sin: Array[Double])

  private val twiddles = new java.util.concurrent.ConcurrentHashMap[Integer, Twiddle]

  private def twiddle(n: Int): Twiddle = twiddles.computeIfAbsent(n, _ => {
    val cos = new Array[Double](n * n)
    val sin = new Array[Double](n * n)
    var k = 0
    while (k < n) {
      var c = 0
      while (c < n) {
        val ang = -2.0 * math.Pi * k * c / n
        cos(k * n + c) = math.cos(ang)
        sin(k * n + c) = math.sin(ang)
        c += 1
      }
      k += 1
    }
    new Twiddle(cos, sin)
  })

  /** 2-D DFT squared amplitudes, row-major flattened: a direct DFT over
    * rows then columns, O(n^3) on the <= 63-pixel cutouts.
    *
    * Bit-identity contract: every angle is the expression
    * `-2.0 * math.Pi * k * c / n` evaluated once into a per-size table,
    * and every output sums its terms in ascending index order, so the
    * result is bit-for-bit that of the per-term `math.cos`/`math.sin`
    * loop (the JVM rounds each `*` and `+` separately and never
    * contracts them to FMA). `HostlessKernelSpec` pins raw bits against
    * that loop on odd, even and non-square sizes.
    */
  def powerSpectrum2d(img: Array[Array[Double]]): Array[Double] = {
    val n = img.length
    val m = img(0).length
    val flat = new Array[Double](n * m)
    var r = 0
    while (r < n) { System.arraycopy(img(r), 0, flat, r * m, m); r += 1 }
    val out = new Array[Double](n * m)
    spectrum(flat, n, m, new Array[Double](n * m), new Array[Double](n * m), out)
    out
  }

  /** [[powerSpectrum2d]] of the row-major `n` x `m` image `img` into
    * `out`; `re`/`im` are `n * m` scratch.
    */
  private def spectrum(img: Array[Double], n: Int, m: Int, re: Array[Double],
      im: Array[Double], out: Array[Double]): Unit = {
    // 1-D DFT along rows then columns
    val tm = twiddle(m)
    var r = 0
    while (r < n) {
      val row = r * m
      var k = 0
      while (k < m) {
        var sr = 0.0; var si = 0.0
        val t = k * m
        var c = 0
        while (c < m) {
          sr += img(row + c) * tm.cos(t + c)
          si += img(row + c) * tm.sin(t + c)
          c += 1
        }
        re(row + k) = sr; im(row + k) = si
        k += 1
      }
      r += 1
    }
    // column pass: out(k1, .) accumulates rr ascending for every k2 at
    // once, the same per-element order as a dot product per (k1, k2)
    val tn = twiddle(n)
    val accR = new Array[Double](m)
    val accI = new Array[Double](m)
    var k1 = 0
    while (k1 < n) {
      java.util.Arrays.fill(accR, 0.0)
      java.util.Arrays.fill(accI, 0.0)
      var rr = 0
      while (rr < n) {
        val cr = tn.cos(k1 * n + rr)
        val ci = tn.sin(k1 * n + rr)
        val row = rr * m
        var k2 = 0
        while (k2 < m) {
          accR(k2) += re(row + k2) * cr - im(row + k2) * ci
          accI(k2) += re(row + k2) * ci + im(row + k2) * cr
          k2 += 1
        }
        rr += 1
      }
      var k2 = 0
      while (k2 < m) {
        out(k1 * m + k2) = accR(k2) * accR(k2) + accI(k2) * accI(k2)
        k2 += 1
      }
      k1 += 1
    }
  }

  /** (knrm, kbins, binAreas) for a square size (powerspectrum.py:88-100). */
  def prepare(size: Int): (Array[Double], Array[Double], Array[Double]) = {
    val kfreq = Array.tabulate(size) { i =>
      (if (i <= (size - 1) / 2) i else i - size).toDouble
    }
    val knrm = new Array[Double](size * size)
    var i = 0
    while (i < size) {
      var j = 0
      while (j < size) {
        knrm(i * size + j) = math.sqrt(kfreq(i) * kfreq(i) + kfreq(j) * kfreq(j))
        j += 1
      }
      i += 1
    }
    val nb = size / 2
    val kbins = Array.tabulate(nb + 1)(k => 0.5 + k)
    val areas = Array.tabulate(nb)(k =>
      math.Pi * (kbins(k + 1) * kbins(k + 1) - kbins(k) * kbins(k)))
    (knrm, kbins, areas)
  }

  /** Radial binned-mean spectrum * annulus areas (scipy
    * binned_statistic semantics: right edge inclusive in last bin;
    * empty bin -> NaN).
    */
  def radialSpectrum(img: Array[Array[Double]], knrm: Array[Double],
      kbins: Array[Double], areas: Array[Double]): Array[Double] = {
    val amps = powerSpectrum2d(img)
    val out = new Array[Double](areas.length)
    binnedMean(amps, binsOf(amps.length, knrm, kbins, areas.length), areas,
      new Array[Double](areas.length), out)
    out
  }

  /** Bin of each of the first `len` frequencies, -1 outside the bins. */
  private def binsOf(len: Int, knrm: Array[Double], kbins: Array[Double],
      nb: Int): Array[Int] = {
    val bins = new Array[Int](len)
    var i = 0
    while (i < len) {
      val k = knrm(i)
      bins(i) =
        if (k >= kbins(0) && k <= kbins(nb)) {
          val b = ((k - kbins(0)) / (kbins(1) - kbins(0))).toInt
          if (b == nb) nb - 1 else b
        } else -1
      i += 1
    }
    bins
  }

  private def binnedMean(amps: Array[Double], bins: Array[Int],
      areas: Array[Double], sums: Array[Double], out: Array[Double]): Unit = {
    val nb = areas.length
    val counts = new Array[Int](nb)
    java.util.Arrays.fill(sums, 0.0)
    var i = 0
    while (i < amps.length) {
      val b = bins(i)
      if (b >= 0) { sums(b) += amps(i); counts(b) += 1 }
      i += 1
    }
    var b = 0
    while (b < nb) {
      out(b) = if (counts(b) == 0) Double.NaN else sums(b) / counts(b) * areas(b)
      b += 1
    }
  }

  /** 1-D Wasserstein distance between equal-weight samples. */
  def wasserstein(u0: Array[Double], v0: Array[Double]): Double = {
    val u = u0.clone(); java.util.Arrays.sort(u)
    val v = v0.clone(); java.util.Arrays.sort(v)
    wassersteinSorted(u, v)
  }

  /** [[wasserstein]] of two samples already in `java.util.Arrays.sort`
    * order. Walks the merged order (what sorting `u ++ v` yields) and
    * integrates |U(x) - V(x)| between consecutive points, where U(x)
    * counts the `u` elements `<= x`: a prefix of `u` that only grows as
    * x does, so a cursor replaces the binary search. At a NaN point
    * nothing is `<= x` and both counts are 0, as a binary search finds.
    */
  private def wassersteinSorted(u: Array[Double], v: Array[Double]): Double = {
    val nu = u.length; val nv = v.length
    var a = 0; var b = 0 // merge cursors: the next unmerged element
    var cu = 0; var cv = 0 // elements <= x
    var x = 0.0
    var d = 0.0
    var i = 0
    while (i < nu + nv) {
      val next =
        if (b == nv || (a < nu && java.lang.Double.compare(u(a), v(b)) <= 0)) {
          a += 1; u(a - 1)
        } else { b += 1; v(b - 1) }
      if (i > 0) {
        if (!x.isNaN) {
          while (cu < nu && u(cu) <= x) cu += 1
          while (cv < nv && v(cv) <= x) cv += 1
        }
        val ucdf = (if (x.isNaN) 0 else cu).toDouble / nu
        val vcdf = (if (x.isNaN) 0 else cv).toDouble / nv
        d += math.abs(ucdf - vcdf) * (next - x)
      }
      x = next
      i += 1
    }
    d
  }

  /** Two-sample KS statistic + asymptotic p-value. */
  def ksTest(a0: Array[Double], b0: Array[Double]): (Double, Double) = {
    val a = a0.clone(); java.util.Arrays.sort(a)
    val b = b0.clone(); java.util.Arrays.sort(b)
    var i = 0; var j = 0; var d = 0.0
    while (i < a.length && j < b.length) {
      val x = math.min(a(i), b(j))
      while (i < a.length && a(i) <= x) i += 1
      while (j < b.length && b(j) <= x) j += 1
      val diff = math.abs(i.toDouble / a.length - j.toDouble / b.length)
      if (diff > d) d = diff
    }
    // scipy ks_2samp asymptotic convention: en = sqrt(n1*n2/(n1+n2)),
    // p = kstwobign.sf(en * d) — plain en*d, no small-sample correction
    // (the Numerical-Recipes (en + 0.12 + 0.11/en) adjustment diverges
    // from the reference's scipy p-values and was removed)
    val n = a.length.toDouble * b.length / (a.length + b.length)
    val lambda = math.sqrt(n) * d
    var p = 0.0
    var k = 1
    while (k <= 100) {
      p += 2.0 * math.pow(-1.0, k - 1) * math.exp(-2.0 * k * k * lambda * lambda)
      k += 1
    }
    (d, math.max(0.0, math.min(1.0, p)))
  }

  /** Host statistic for one image: KS(WD(real, shuffled), WD(shuffled,
    * shuffled)) (powerspectrum.py:120-233). Returns (-1,-1) when the
    * distance distributions are degenerate (the reference's guard).
    *
    * Each iteration Fisher-Yates shuffles the row-major pixels with
    * `rng.nextInt(i + 1)` from the last index down, then takes the
    * centred `cutoutSize` square of the shuffled `full` x `full` image
    * (`full` = row count). Every spectrum is sorted once; the distances
    * merge-walk the sorted pairs.
    */
  def hostStatistic(image: Array[Array[Double]], cutoutSize: Int,
      iterations: Int, rng: java.util.Random): (Double, Double) = {
    val full = image.length
    require(cutoutSize <= full, s"cutout $cutoutSize exceeds the $full-row image")
    val start = (full - cutoutSize) / 2
    val cs = cutoutSize
    val flat = image.flatten
    require(flat.length >= full * full, s"image is narrower than its $full rows")

    val (knrm, kbins, areas) = prepare(cs)
    val nb = areas.length
    val bins = binsOf(cs * cs, knrm, kbins, nb)
    val cut = new Array[Double](cs * cs)
    val re = new Array[Double](cs * cs)
    val im = new Array[Double](cs * cs)
    val amps = new Array[Double](cs * cs)
    val sums = new Array[Double](nb)
    def radial(out: Array[Double]): Array[Double] = {
      spectrum(cut, cs, cs, re, im, amps)
      binnedMean(amps, bins, areas, sums, out)
      java.util.Arrays.sort(out)
      out
    }

    var r = 0
    while (r < cs) {
      System.arraycopy(image(start + r), start, cut, r * cs, cs); r += 1
    }
    val real = radial(new Array[Double](nb))

    val copy = new Array[Double](flat.length)
    val shuffled = new Array[Array[Double]](iterations)
    var it = 0
    while (it < iterations) {
      System.arraycopy(flat, 0, copy, 0, flat.length)
      // Fisher-Yates
      var i = copy.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = copy(i); copy(i) = copy(j); copy(j) = t
        i -= 1
      }
      r = 0
      while (r < cs) {
        System.arraycopy(copy, (start + r) * full + start, cut, r * cs, cs); r += 1
      }
      shuffled(it) = radial(new Array[Double](nb))
      it += 1
    }

    val realToShuffled = new Array[Double](iterations)
    it = 0
    while (it < iterations) {
      realToShuffled(it) = wassersteinSorted(shuffled(it), real); it += 1
    }
    val s2s = new Array[Double](iterations * (iterations - 1) / 2)
    var p = 0
    var i = 0
    while (i < iterations) {
      var j = i + 1
      while (j < iterations) {
        s2s(p) = wassersteinSorted(shuffled(i), shuffled(j)); p += 1; j += 1
      }
      i += 1
    }

    if (!threeDistinct(realToShuffled) || !threeDistinct(s2s)) (-1.0, -1.0)
    else ksTest(realToShuffled, s2s)
  }

  /** Whether `xs` holds at least 3 values distinct under `Double.equals`
    * (bit patterns, NaNs collapsed) — `xs.distinct.length >= 3`.
    */
  private def threeDistinct(xs: Array[Double]): Boolean = {
    var first = 0L; var second = 0L
    var seen = 0
    var i = 0
    while (i < xs.length) {
      val bits = java.lang.Double.doubleToLongBits(xs(i))
      if (seen == 0) { first = bits; seen = 1 }
      else if (bits != first) {
        if (seen == 1) { second = bits; seen = 2 }
        else if (bits != second) return true
      }
      i += 1
    }
    false
  }
}
