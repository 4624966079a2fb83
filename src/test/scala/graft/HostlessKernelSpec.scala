package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util.zip.GZIPOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.{ImageStats, PowerSpectrum, UnsharedRandom}
import graft.operators.{HostlessDetection, RubinHostless}

/** The hostless kernel against its verbatim pre-rewrite copy
  * ([[HostlessReference]]), offline: every double is compared by its
  * bits (`doubleToLongBits`, which tells -0.0 from 0.0 and merges only
  * NaN payloads), every float output of the stamp kernels by its raw
  * bits. Stamps are built here as seeded FITS files.
  */
class HostlessKernelSpec extends AnyFunSuite {

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)
  private def bits(xs: Array[Double]): Seq[Long] = xs.toSeq.map(bits)
  private def fbits(x: Float): Int = java.lang.Float.floatToRawIntBits(x)

  /** Gaussian noise plus a centred blob, with exact zeros, -0.0 and
    * repeated values sprinkled in.
    */
  private def image(rows: Int, cols: Int, seed: Long, blob: Double): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.tabulate(rows, cols) { (r, c) =>
      val d2 = (r - rows / 2) * (r - rows / 2) + (c - cols / 2) * (c - cols / 2)
      rng.nextInt(20) match {
        case 0 => 0.0
        case 1 => -0.0
        case 2 => 1.5
        case _ => rng.nextGaussian() * 3 + blob * math.exp(-d2 / 12.0)
      }
    }
  }

  test("powerSpectrum2d: raw bits of the per-term-trig DFT, odd, even and non-square sizes") {
    val shapes = Seq((1, 1), (2, 2), (7, 7), (8, 8), (14, 14), (15, 15), (30, 30),
      (31, 31), (63, 63), (5, 9), (9, 4))
    for (((rows, cols), k) <- shapes.zipWithIndex) {
      val img = image(rows, cols, k.toLong, blob = 20.0 * (k % 2))
      assert(bits(PowerSpectrum.powerSpectrum2d(img)) ===
        bits(HostlessReference.powerSpectrum2d(img)), s"${rows}x$cols")
      // twice: the second call reads the cached tables
      assert(bits(PowerSpectrum.powerSpectrum2d(img)) ===
        bits(HostlessReference.powerSpectrum2d(img)), s"${rows}x$cols again")
    }
  }

  test("radialSpectrum: raw bits on the cutout sizes") {
    for (size <- 8 to 15) {
      val (knrm, kbins, areas) = PowerSpectrum.prepare(size)
      val img = image(size, size, size.toLong, blob = 15.0)
      assert(bits(PowerSpectrum.radialSpectrum(img, knrm, kbins, areas)) ===
        bits(HostlessReference.radialSpectrum(img, knrm, kbins, areas)), s"size $size")
    }
  }

  test("wasserstein: raw bits on fuzzed samples with ties, +-0.0, infinities and NaN") {
    val pool = Array(-2.0, -0.0, 0.0, 0.5, 1.0, 1.0, 3.25, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val rng = new java.util.Random(11L)
    def sample(n: Int, exotic: Boolean): Array[Double] = Array.fill(n) {
      if (exotic && rng.nextInt(3) == 0) pool(rng.nextInt(pool.length))
      else if (rng.nextBoolean()) rng.nextInt(5).toDouble // ties
      else rng.nextGaussian()
    }
    var cases = 0
    for (nu <- 0 to 9; nv <- 0 to 9; exotic <- Seq(false, true); rep <- 0 until 6) {
      val u = sample(nu, exotic); val v = sample(nv, exotic)
      val uIn = u.clone(); val vIn = v.clone()
      assert(bits(PowerSpectrum.wasserstein(u, v)) ===
        bits(HostlessReference.wasserstein(u, v)),
        s"u=${u.mkString(",")} v=${v.mkString(",")} (rep $rep)")
      assert(bits(u) === bits(uIn) && bits(v) === bits(vIn), "inputs left unsorted")
      cases += 1
    }
    // the distance sizes the kernel runs: 7 and 15 radial bins
    for (n <- Seq(7, 15); rep <- 0 until 200) {
      val u = sample(n, rep % 4 == 0); val v = sample(n, rep % 4 == 1)
      assert(bits(PowerSpectrum.wasserstein(u, v)) ===
        bits(HostlessReference.wasserstein(u, v)), s"n=$n rep $rep")
      cases += 1
    }
    assert(cases === 2 * 100 * 6 + 400)
  }

  test("hostStatistic: raw bits on sizes 14-63, cutouts 8-14, 50 and 200 iterations, any Random") {
    val cases = Seq((14, 14, 50), (14, 8, 50), (20, 11, 50), (31, 9, 50),
      (63, 14, 50), (63, 14, 200), (40, 13, 200))
    for (((size, cut, iters), k) <- cases.zipWithIndex; blob <- Seq(0.0, 25.0)) {
      val img = image(size, size, 100L + k, blob)
      val expected = HostlessReference.hostStatistic(img, cut, iters, new java.util.Random(k))
      val plain = new java.util.Random(k)
      val unshared = new UnsharedRandom(k)
      val label = s"size $size cutout $cut iterations $iters blob $blob"
      for (rng <- Seq(plain, unshared)) {
        val (d, p) = PowerSpectrum.hostStatistic(img, cut, iters, rng)
        assert((bits(d), bits(p)) === (bits(expected._1), bits(expected._2)),
          s"$label ${rng.getClass.getSimpleName}")
      }
      // both consumed the same draws
      assert(plain.nextLong() === unshared.nextLong(), label)
    }
    // a flat image has one spectrum: the degenerate guard
    val flat = Array.fill(20, 20)(4.0)
    val degenerate = (-1.0, -1.0)
    assert(HostlessReference.hostStatistic(flat, 14, 50, new java.util.Random(1L)) === degenerate)
    assert(PowerSpectrum.hostStatistic(flat, 14, 50, new UnsharedRandom(1L)) === degenerate)
  }

  test("sigmaClip: same masks on outliers, NaN, infinities, -0.0-only, flat and empty images") {
    val rng = new java.util.Random(5L)
    val outliers = Array.tabulate(30, 30)((_, _) => rng.nextGaussian())
    outliers(3)(4) = 500.0; outliers(20)(7) = -80.0; outliers(9)(9) = Double.NaN
    val heavy = Array.tabulate(63, 63)((r, c) =>
      if ((r * 63 + c) % 97 == 0) Double.NaN else rng.nextGaussian() * (1 + r % 5))
    val negZero = Array.fill(6, 6)(-0.0)
    val infinite = Array.tabulate(8, 8)((r, c) => (r * 8 + c) % 9 match {
      case 0 => Double.PositiveInfinity
      case 1 => Double.NegativeInfinity
      case _ => rng.nextGaussian()
    })
    val mostlyInfinite = Array.tabulate(5, 5)((r, c) =>
      if (r + c < 6) Double.PositiveInfinity else rng.nextGaussian())
    val allNaN = Array.fill(4, 5)(Double.NaN)
    // at sigma 0.5 a value lies exactly on the bound while another is clipped
    val onBound = Array(Array(-2.0, 0.0, 5.0), Array(0.0, -2.0, 8.0), Array(7.0, 5.0, -3.0))
    val images = Seq(outliers, heavy, negZero, infinite, mostlyInfinite, allNaN, onBound,
      Array.fill(3, 3)(2.0), Array(Array(7.0)), Array.empty[Array[Double]],
      image(63, 63, 8L, 40.0), image(15, 22, 9L, 10.0))
    val settings = Seq((3.0, 10), (1.0, 10), (0.5, 10), (2.0, 1), (0.0, 10), (-1.0, 3))
    for ((img, k) <- images.zipWithIndex; (sigma, iters) <- settings) {
      val got = ImageStats.sigmaClip(img, sigma, iters).mask.map(_.toSeq).toSeq
      val want = HostlessReference.sigmaClip(img, sigma, iters).mask.map(_.toSeq).toSeq
      assert(got === want, s"image $k sigma $sigma iterations $iters")
    }
  }

  /** Single-HDU BITPIX=-32 FITS image. */
  private def fits(pixels: Array[Float], rows: Int, cols: Int): Array[Byte] = {
    val header = new StringBuilder
    def card(k: String, v: String): Unit = header.append(f"$k%-8s= $v%20s".padTo(80, ' '))
    card("SIMPLE", "T"); card("BITPIX", "-32"); card("NAXIS", "2")
    card("NAXIS1", cols.toString); card("NAXIS2", rows.toString)
    header.append("END".padTo(80, ' '))
    while (header.length % 2880 != 0) header.append(' ')
    val buf = ByteBuffer.allocate(header.length + ((pixels.length * 4 + 2879) / 2880) * 2880)
    buf.put(header.toString.getBytes("US-ASCII"))
    pixels.foreach(buf.putFloat)
    buf.array()
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** A `size`-square stamp on an 8-level uniform background (no 3-sigma
    * tail, so a clean stamp clips nothing), with a point source and a
    * galaxy of the given peaks, and `nans` NaN pixels.
    */
  private def stamp(rng: java.util.Random, size: Int, source: Double, galaxy: Double,
      nans: Int = 0): Array[Float] = {
    val c = size / 2
    val px = Array.tabulate(size * size) { k =>
      val (y, x) = (k / size - c, k % size - c)
      val d2 = (x * x + y * y).toDouble
      (100.0 + math.floor(rng.nextDouble() * 8) - 3.5 + source * math.exp(-d2 / 4.0) +
        galaxy * math.exp(-d2 / 60.0)).toFloat
    }
    (0 until nans).foreach(_ => px(rng.nextInt(px.length)) = Float.NaN)
    px
  }

  /** (science, template) pairs: hostless, host-like, NaN-dotted and
    * malformed stamps, each encoded by `enc`.
    */
  private def pairs(size: Int,
      enc: Array[Float] => Array[Byte]): Seq[(String, Array[Byte], Array[Byte])] = {
    val rng = new java.util.Random(size.toLong)
    val good = (0 until 6).flatMap { i =>
      val src = 30 + rng.nextDouble() * 60
      val gal = 20 + rng.nextDouble() * 40
      Seq(
        (s"hostless $i", enc(stamp(rng, size, src, 0)), enc(stamp(rng, size, 0, 0))),
        (s"host-like $i", enc(stamp(rng, size, src, gal)), enc(stamp(rng, size, 0, gal))),
        (s"hostless with NaN $i", enc(stamp(rng, size, src, 0, nans = 3)),
          enc(stamp(rng, size, 0, 0, nans = 2))))
    }
    val ok = enc(stamp(rng, size, 50, 0))
    val bad = Seq(
      ("truncated", ok.take(ok.length / 2), ok),
      ("empty", Array.emptyByteArray, ok),
      ("null", null, ok),
      ("not FITS", "SIMPLE = F".getBytes("US-ASCII"), ok))
    good ++ bad
  }

  test("HostlessDetection.processStamps: raw bits on seeded gzipped 63x63 FITS stamps") {
    val cases = pairs(63, px => gzip(fits(px, 63, 63))) :+
      (("62x62", gzip(fits(stamp(new java.util.Random(3L), 62, 50, 0), 62, 62)),
        gzip(fits(stamp(new java.util.Random(4L), 62, 0, 0), 62, 62))))
    var analysed = 0
    for (((label, sci, tpl), k) <- cases.zipWithIndex) {
      val seed = 1000L + k
      val (a, b) = HostlessDetection.processStamps(sci, tpl, seed, iterations = 50)
      val (ea, eb) = HostlessReference.ztfStamps(sci, tpl, seed, iterations = 50)
      assert((fbits(a), fbits(b)) === (fbits(ea), fbits(eb)), label)
      if (ea != -99f) analysed += 1
    }
    // the shuffle analysis ran, not only the sentinel paths
    assert(analysed >= 6)
    // the default 200 iterations on one hostless pair
    val (_, sci, tpl) = cases.head
    assert(HostlessDetection.processStamps(sci, tpl, 7L) ===
      HostlessReference.ztfStamps(sci, tpl, 7L, HostlessDetection.Iterations))
  }

  test("RubinHostless.processStamps: raw bits on seeded FITS stamps") {
    val cases = pairs(40, px => fits(px, 40, 40)) ++ pairs(30, px => fits(px, 30, 30)) :+
      (("too small", fits(stamp(new java.util.Random(5L), 20, 50, 0), 20, 20),
        fits(stamp(new java.util.Random(6L), 20, 0, 0), 20, 20)))
    var analysed = 0
    for (((label, sci, tpl), k) <- cases.zipWithIndex) {
      val seed = 2000L + k
      val (a, b) = RubinHostless.processStamps(sci, tpl, seed, iterations = 50)
      val (ea, eb) = HostlessReference.rubinStamps(sci, tpl, seed, iterations = 50)
      assert((fbits(a), fbits(b)) === (fbits(ea), fbits(eb)), label)
      if (ea != -99f) analysed += 1
    }
    assert(analysed >= 6)
  }

  test("UnsharedRandom draws java.util.Random's streams") {
    val bounds = Seq(1, 2, 7, 16, 100, 1 << 30, Int.MaxValue, 3969)
    for (seed <- Seq(0L, 1L, -1L, 42L, 1000L, Long.MinValue, Long.MaxValue, 0x5DEECE66DL)) {
      val want = new java.util.Random(seed)
      val got = new UnsharedRandom(seed)
      for (i <- 0 until 2000) {
        val label = s"seed $seed draw $i"
        i % 6 match {
          case 0 => val b = bounds(i / 6 % bounds.size)
            assert(got.nextInt(b) === want.nextInt(b), label)
          case 1 => assert(bits(got.nextGaussian()) === bits(want.nextGaussian()), label)
          case 2 => assert(bits(got.nextDouble()) === bits(want.nextDouble()), label)
          case 3 => assert(got.nextInt() === want.nextInt(), label)
          case 4 => assert(got.nextLong() === want.nextLong(), label)
          case _ => assert(got.nextBoolean() === want.nextBoolean(), label)
        }
      }
      // reseeding also drops the cached second Gaussian
      got.nextGaussian(); want.nextGaussian()
      got.setSeed(seed + 1); want.setSeed(seed + 1)
      assert(bits(got.nextGaussian()) === bits(want.nextGaussian()))
      assert(got.nextInt(3969) === want.nextInt(3969))
    }
  }
}
