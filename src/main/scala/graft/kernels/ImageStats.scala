package graft.kernels

/** Image statistics for the hostless-detection pipeline: astropy-style
  * iterative sigma clipping, center cropping, and masked statistics
  * (reference: ztf/hostless_detection/pipeline_utils.py:60-192).
  */
object ImageStats {

  /** Masked image: mask(r)(c) == true means rejected/invalid. */
  final case class Masked(data: Array[Array[Double]], mask: Array[Array[Boolean]]) {
    def countMasked: Int = mask.map(_.count(identity)).sum
    def rows: Int = data.length
    def cols: Int = if (data.isEmpty) 0 else data(0).length
  }

  /** astropy sigma_clip(sigma, maxiters) with the defaults the reference
    * uses: center = median, spread = population std, iterate to
    * convergence; NaN pixels start masked.
    *
    * The unmasked pixels are kept twice: in row-major order, for the
    * mean and std sums, and sorted once, for the median. A pass masks
    * the values v with |v - median| > sigma * std; as v - median is
    * monotone in v, they form the two ends of the sorted window, which
    * shrinks to the survivors without another sort.
    */
  def sigmaClip(img: Array[Array[Double]], sigma: Double = 3.0,
      maxIters: Int = 10): Masked = {
    val rows = img.length
    val cols = if (rows == 0) 0 else img(0).length
    val mask = Array.tabulate(rows, cols)((r, c) => img(r)(c).isNaN)
    // unmasked pixels in row-major order, with their pixel index
    val vals = new Array[Double](rows * cols)
    val at = new Array[Int](rows * cols)
    var n = 0
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        if (!mask(r)(c)) { vals(n) = img(r)(c); at(n) = r * cols + c; n += 1 }
        c += 1
      }
      r += 1
    }
    val sorted = java.util.Arrays.copyOf(vals, n)
    java.util.Arrays.sort(sorted)
    var lo = 0 // sorted(lo until hi) holds the n unmasked values
    var hi = n
    var iter = 0
    var changed = true
    while (changed && iter < maxIters) {
      if (n == 0) { changed = false }
      else {
        val med = LightCurveFeatures.quantileSorted(sorted, lo, hi, 0.5)
        // a left fold from the first element, as Array#sum reduces
        var sum = vals(0)
        var i = 1
        while (i < n) { sum += vals(i); i += 1 }
        val mean = sum / n
        var ss = 0.0
        i = 0
        while (i < n) { val d = vals(i) - mean; ss += d * d; i += 1 }
        val std = math.sqrt(ss / n) // population std (numpy default)
        val bound = sigma * std
        changed = false
        var kept = 0
        i = 0
        while (i < n) {
          if (math.abs(vals(i) - med) > bound) {
            mask(at(i) / cols)(at(i) % cols) = true
            changed = true
          } else { vals(kept) = vals(i); at(kept) = at(i); kept += 1 }
          i += 1
        }
        n = kept
        while (lo < hi && math.abs(sorted(lo) - med) > bound) lo += 1
        while (hi > lo && math.abs(sorted(hi - 1) - med) > bound) hi -= 1
      }
      iter += 1
    }
    Masked(img, mask)
  }

  /** Center patch of radius `patchRadius` (2*radius square), matching the
    * reference's integer arithmetic (pipeline_utils.py:76-94).
    */
  def cropCenter(img: Array[Array[Double]], patchRadius: Int): Array[Array[Double]] = {
    val cx = (img.length / 2.0).toInt - patchRadius
    val cy = (img(0).length / 2.0).toInt - patchRadius
    val x0 = math.max(cx, 0)
    val y0 = math.max(cy, 0)
    img.slice(x0, cx + patchRadius * 2).map(_.slice(y0, cy + patchRadius * 2))
  }

  def cropCenterMask(m: Array[Array[Boolean]], patchRadius: Int): Array[Array[Boolean]] = {
    val cx = (m.length / 2.0).toInt - patchRadius
    val cy = (m(0).length / 2.0).toInt - patchRadius
    m.slice(math.max(cx, 0), cx + patchRadius * 2)
      .map(_.slice(math.max(cy, 0), cy + patchRadius * 2))
  }

  /** Replace masked pixels with Gaussian noise drawn from the unmasked
    * median/std (pipeline_utils.py:171-192); rng injected for per-row
    * determinism (the reference seeds numpy globally, making results
    * batch-order dependent).
    */
  def noiseFill(img: Array[Array[Double]], mask: Array[Array[Boolean]],
      rng: java.util.Random): Array[Array[Double]] = {
    val unmasked = for {
      r <- img.indices; c <- img(r).indices if !mask(r)(c)
    } yield img(r)(c)
    val arr = unmasked.toArray
    val med = LightCurveFeatures.medianOf(arr)
    val mean = arr.sum / math.max(arr.length, 1)
    var ss = 0.0
    arr.foreach { v => val d = v - mean; ss += d * d }
    val std = math.sqrt(ss / math.max(arr.length, 1))
    Array.tabulate(img.length, img(0).length) { (r, c) =>
      if (mask(r)(c)) med + rng.nextGaussian() * std else img(r)(c)
    }
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
}
