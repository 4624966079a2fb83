package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernels.{Fits, ImageStats, PowerSpectrum, UnsharedRandom}

/** Rubin/LSST hostless detection — reference:
  * rubin/hostless_detection/{processor,run_pipeline,pipeline_utils}.py.
  * Differences from the ZTF variant: stamps are uncompressed FITS,
  * working resolution is a 30x30 center crop (crop_radius 15), a
  * template-outlier veto (> 20 masked template pixels means a big host
  * is present, not hostless), the second candidacy check runs at half
  * crop radius, and a moving-transient veto fits ra/dec vs time.
  */
object RubinHostless {

  val CropRadius = 15
  val MaxClip = 5
  val MinClip = 3
  val TemplateOutlierPixels = 20
  val Iterations = 200

  /** (scienceStat, templateStat) or (-99,-99) sentinels. */
  def processStamps(science: Array[Byte], template: Array[Byte],
      seed: Long, iterations: Int = Iterations): (Float, Float) = {
    val sOpt = Fits.read(science)
    val tOpt = Fits.read(template)
    if (sOpt.isEmpty || tOpt.isEmpty) return (-99f, -99f)
    var s = ImageStats.cropCenter(sOpt.get.data, CropRadius)
    var t = ImageStats.cropCenter(tOpt.get.data, CropRadius)
    if (s.length != t.length || s.length < 2 * CropRadius) return (-99f, -99f)

    val sClip = ImageStats.sigmaClip(nanToZero(s))
    val tClip = ImageStats.sigmaClip(nanToZero(t))
    // big host in the template -> not hostless
    if (tClip.countMasked > TemplateOutlierPixels) return (-99f, -99f)

    def check(a: ImageStats.Masked, b: ImageStats.Masked): Boolean = {
      val (na, nb) = (a.countMasked, b.countMasked)
      (na > MaxClip && nb < MinClip) || (nb > MaxClip && na < MinClip)
    }
    var candidate = check(sClip, tClip)
    if (!candidate) {
      // half-resolution recheck
      val s2 = ImageStats.sigmaClip(nanToZero(ImageStats.cropCenter(s, CropRadius / 2)))
      val t2 = ImageStats.sigmaClip(nanToZero(ImageStats.cropCenter(t, CropRadius / 2)))
      candidate = check(s2, t2)
    }
    if (!candidate) return (-99f, -99f)

    val rng = new UnsharedRandom(seed)
    val sFilled = ImageStats.noiseFill(nanToZero(s), sClip.mask, rng)
    val tFilled = ImageStats.noiseFill(nanToZero(t), tClip.mask, rng)
    val cut = math.min(2 * CropRadius, sFilled.length)
    val (a, _) = PowerSpectrum.hostStatistic(sFilled, cut, iterations, rng)
    val (b, _) = PowerSpectrum.hostStatistic(tFilled, cut, iterations, rng)
    (a.toFloat, b.toFloat)
  }

  private def nanToZero(img: Array[Array[Double]]): Array[Array[Double]] =
    img.map(_.map(v => if (v.isNaN) 0.0 else v))

  /** Moving-transient veto (pipeline_utils.py:109-176, reproduced
    * op-for-op): coordinates to radians, RA unwrapped then projected by
    * cos(mean dec), first-degree polynomial of each coordinate vs
    * mean-centered time; moving when the fitted sky speed exceeds
    * `minMovingArcsecHour` AND the combined quadrature residual rms
    * (sqrt(mean(ra_res^2 + dec_res^2))) stays under `maxRmsArcsec`.
    */
  def maybeMoving(ra: Array[Double], dec: Array[Double], mjd: Array[Double],
      minDetections: Int = 3, minMovingArcsecHour: Double = 2.0,
      maxRmsArcsec: Double = 0.5): Boolean = {
    val n = ra.length
    if (n < minDetections) return false
    val raRad = ra.map(math.toRadians)
    val decRad = dec.map(math.toRadians)
    // np.unwrap: remove 2pi jumps between consecutive samples
    var k = 1
    while (k < n) {
      var d = raRad(k) - raRad(k - 1)
      while (d > math.Pi) { raRad(k) -= 2 * math.Pi; d -= 2 * math.Pi }
      while (d < -math.Pi) { raRad(k) += 2 * math.Pi; d += 2 * math.Pi }
      k += 1
    }
    val decMean = decRad.sum / n
    val raTrue = raRad.map(_ * math.cos(decMean))
    val t0 = mjd.sum / n
    val tN = mjd.map(_ - t0)

    def polyfit1(y: Array[Double]): (Double, Double) = { // (slope, intercept)
      var stt = 0.0; var st = 0.0; var sty = 0.0; var sy = 0.0
      var i = 0
      while (i < n) { stt += tN(i) * tN(i); st += tN(i); sty += tN(i) * y(i); sy += y(i); i += 1 }
      val det = n * stt - st * st
      if (det == 0) return (0.0, sy / n)
      ((n * sty - st * sy) / det, (stt * sy - st * sty) / det)
    }
    val (sra, ira) = polyfit1(raTrue)
    val (sdec, idec) = polyfit1(decRad)
    var rss = 0.0
    var i = 0
    while (i < n) {
      val rr = raTrue(i) - (sra * tN(i) + ira)
      val dr = decRad(i) - (sdec * tN(i) + idec)
      rss += rr * rr + dr * dr
      i += 1
    }
    val rmsArcsec = math.sqrt(rss / n) * (180.0 / math.Pi) * 3600.0
    val arcsecHour = math.sqrt(sra * sra + sdec * sdec) * (180.0 / math.Pi) * 3600.0 / 24.0
    arcsecHour > minMovingArcsecHour && rmsArcsec < maxRmsArcsec
  }

  /** Base operator: kstest_static over the Rubin cutout columns, with
    * the moving-transient veto applied before stamp processing
    * (processor.py:272-280): a moving object short-circuits to the
    * sentinel without touching the stamps.
    */
  def base(spark: SparkSession, df: DataFrame,
      iterations: Int = Iterations): DataFrame = {
    val kernel = udf((sci: Array[Byte], tpl: Array[Byte], seed: Long,
        cra: Seq[java.lang.Double], cdec: Seq[java.lang.Double],
        cmjd: Seq[java.lang.Double]) => {
      def arr(xs: Seq[java.lang.Double]) =
        if (xs == null) Array.empty[Double]
        else xs.filter(_ != null).map(_.doubleValue()).toArray
      val ra = arr(cra); val dec = arr(cdec); val mjd = arr(cmjd)
      if (ra.length == dec.length && ra.length == mjd.length &&
        maybeMoving(ra, dec, mjd)) Array(-99f, -99f)
      else {
        val (a, b) = processStamps(sci, tpl, seed, iterations)
        Array(a, b)
      }
    })
    // history series: prvDiaSources + the current diaSource, matching
    // np.append(hist, current) in the reference
    def series(field: String) = concat(
      coalesce(expr(s"transform(prvDiaSources, x -> CAST(x.$field AS DOUBLE))"),
        array()),
      array(expr(s"CAST(diaSource.$field AS DOUBLE)")))
    df.withColumn("kstest_static", kernel(
      col("cutoutScience"), col("cutoutTemplate"),
      coalesce(col("alertId"), lit(0L)),
      series("ra"), series("dec"), series("midpointMjdTai")))
  }
}
