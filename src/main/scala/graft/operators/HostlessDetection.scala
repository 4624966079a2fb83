package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernels.{Fits, ImageStats, PowerSpectrum, UnsharedRandom}

/** Hostless-transient detection over the FITS cutout stamps — reference:
  * ztf/hostless_detection/{processor,run_pipeline,pipeline_utils,
  * powerspectrum}.py (ELEPHANT pipeline, arXiv:2404.18165).
  *
  * Per alert: gunzip + FITS-decode science/template stamps, iterative
  * sigma clipping (3 sigma, 10 iters), clipped-pixel asymmetry decision
  * (full stamp, then center crop), and for candidates the
  * power-spectrum shuffle analysis: KS statistic of Wasserstein
  * distances real-vs-shuffled against shuffled-vs-shuffled.
  *
  * Output `kstest_static: array<float>` = [science_statistic,
  * template_statistic]; -99 where stamps are missing/malformed or the
  * candidate gate rejects (the reference's sentinel,
  * processor.py:138-158). Noise fill and shuffles use a per-row seeded
  * RNG (the reference seeds numpy globally — batch-order dependent).
  */
object HostlessDetection {

  val ImageShape = 63
  val CropRadius = 7
  val MaxClip = 5
  val MinClip = 3
  val Iterations = 200

  /** Full per-alert kernel; exposed for tests. */
  def processStamps(science: Array[Byte], template: Array[Byte],
      seed: Long, iterations: Int = Iterations): (Float, Float) = {
    val sci = Fits.readGzipped(science)
    val tpl = Fits.readGzipped(template)
    if (sci.isEmpty || tpl.isEmpty) return (-99f, -99f)
    val s = sci.get; val t = tpl.get
    if (s.rows != ImageShape || s.cols != ImageShape ||
      t.rows != ImageShape || t.cols != ImageShape) return (-99f, -99f)

    val sClip = ImageStats.sigmaClip(s.data)
    val tClip = ImageStats.sigmaClip(t.data)
    if (!ImageStats.hostlessCandidate(sClip, tClip, cropRadius = CropRadius,
      maxClip = MaxClip, minClip = MinClip)) return (-99f, -99f)

    val rng = new UnsharedRandom(seed)
    val sFilled = ImageStats.noiseFill(nanToZero(s.data), sClip.mask, rng)
    val tFilled = ImageStats.noiseFill(nanToZero(t.data), tClip.mask, rng)
    val (sStat, _) = PowerSpectrum.hostStatistic(sFilled, CropRadius * 2, iterations, rng)
    val (tStat, _) = PowerSpectrum.hostStatistic(tFilled, CropRadius * 2, iterations, rng)
    (sStat.toFloat, tStat.toFloat)
  }

  private def nanToZero(img: Array[Array[Double]]): Array[Array[Double]] =
    img.map(_.map(v => if (v.isNaN) 0.0 else v))

  /** Base variant (run_base_potential_hostless): no score gating. */
  def base(spark: SparkSession, df: DataFrame,
      iterations: Int = Iterations): DataFrame = {
    val kernel = udf((sci: Array[Byte], tpl: Array[Byte], seed: Long) => {
      val (a, b) = processStamps(sci, tpl, seed, iterations)
      Array(a, b)
    })
    df.withColumn("kstest_static", kernel(
      col("cutoutScience.stampData"), col("cutoutTemplate.stampData"),
      coalesce(col("candid"), lit(0L))))
  }

  /** Gated variant (run_potential_hostless): classifier-score /
    * class-list / age / magnitude / SSO gates before the kernel;
    * appends the processed flag as the third element.
    */
  def gated(spark: SparkSession, df: DataFrame,
      finkClasses: Seq[String], tnsClasses: Seq[String],
      cutoutTimeframe: Double = 45.0, cutoutMagnitude: Double = 19.5,
      minAlerts: Int = 3, iterations: Int = Iterations): DataFrame = {
    val scoreGate =
      col("snn_snia_vs_nonia") >= 0.5 || col("snn_sn_vs_all") >= 0.5 ||
        col("rf_snia_vs_nonia") >= 0.5 || col("rf_kn_vs_nonkn") >= 0.5 ||
        col("finkclass").isin(finkClasses: _*) || col("tnsclass").isin(tnsClasses: _*)
    val gate = scoreGate &&
      abs(col("candidate.jd") - col("candidate.jdstarthist")) <= cutoutTimeframe &&
      element_at(col("cmagpsf"), -1) <= cutoutMagnitude &&
      col("roid") =!= 3 &&
      graft.alerts.AlertCols.detectionCount(col("cmagpsf")) >= minAlerts

    val kernel = udf((sci: Array[Byte], tpl: Array[Byte], seed: Long) => {
      val (a, b) = processStamps(sci, tpl, seed, iterations)
      Array(a, b, 1.0f)
    })
    df.withColumn("kstest_static",
      when(gate, kernel(
        col("cutoutScience.stampData"), col("cutoutTemplate.stampData"),
        coalesce(col("candid"), lit(0L))))
        .otherwise(array(lit(-99.0f), lit(-99.0f), lit(0.0f))))
  }
}
