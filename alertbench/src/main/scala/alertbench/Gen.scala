package alertbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.ByteBuffer
import java.util.SplittableRandom
import java.util.zip.{Deflater, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator: ZTF alert packets, the crossmatch catalogs
  * that name a share of them, and the corpus tables.
  *
  * Every value is a pure function of (seed, alert index), so the same
  * seed gives the same rows in the same order, and [[Gen.writeBatches]]
  * gives byte-identical parquet files.
  *
  * Alert population (shares of alerts, by object class):
  *  - sn    35%: young rising/fading transient on a host galaxy
  *  - var   30%: old variable star, long history, high ndethist
  *  - long  10%: slow smooth light curve, >= 20 detections, ndethist < 100
  *  - sso   10%: solar-system object, empty or upper-limit-only history
  *  - bogus 15%: low real-bogus score artefact
  * History lengths therefore range over empty, single-epoch, short and
  * long, and each classifier gate admits a real share of alerts.
  */
object Gen extends Serializable {

  // ---- deterministic randomness ----

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, idx: Long): SplittableRandom =
    new SplittableRandom(mix64(mix64(seed * 31 + stream) ^ idx))

  /** Uniform [0,1) from a hash, for share decisions that other parts of
    * the benchmark must recompute (catalog membership, SIMBAD answers).
    */
  def unit(seed: Long, stream: Long, idx: Long): Double =
    (mix64(mix64(seed * 131 + stream) ^ idx) >>> 11).toDouble / (1L << 53).toDouble

  // ---- ZTF packet schema ----

  private val candDoubles = Seq("jd", "ra", "dec", "jdstarthist", "jdendhist", "scorr")
  private val candFloats = Seq("magpsf", "sigmapsf", "diffmaglim", "magnr",
    "sigmagnr", "distnr", "sgscore1", "sgscore2", "sgscore3", "distpsnr1",
    "distpsnr2", "distpsnr3", "sgmag1", "srmag1", "srmag2", "srmag3",
    "simag1", "szmag1", "ssdistnr", "ssmagnr", "neargaia", "maggaia",
    "neargaiabright", "maggaiabright", "rb", "drb", "classtar", "fwhm",
    "elong", "magap", "chipsf", "magzpsci")
  private val candInts = Seq("fid", "ndethist", "ncovhist", "nbad", "field")
  private val candStrings = Seq("isdiffpos", "ssnamenr", "rbversion")

  val candidateType: StructType = StructType(
    Seq(StructField("candid", LongType)) ++
      candDoubles.map(StructField(_, DoubleType)) ++
      candFloats.map(StructField(_, FloatType)) ++
      candInts.map(StructField(_, IntegerType)) ++
      candStrings.map(StructField(_, StringType)))

  /** History entries: the subset of candidate fields ZTF keeps, with
    * nulls for upper limits (no detection, only diffmaglim).
    */
  val historyType: StructType = StructType(Seq(
    StructField("candid", LongType), StructField("jd", DoubleType),
    StructField("fid", IntegerType), StructField("ra", DoubleType),
    StructField("dec", DoubleType), StructField("magpsf", FloatType),
    StructField("sigmapsf", FloatType), StructField("diffmaglim", FloatType),
    StructField("magnr", FloatType), StructField("sigmagnr", FloatType),
    StructField("distnr", FloatType), StructField("isdiffpos", StringType),
    StructField("rb", FloatType), StructField("drb", FloatType),
    StructField("field", IntegerType), StructField("scorr", DoubleType)))

  val cutoutType: StructType = StructType(Seq(
    StructField("fileName", StringType), StructField("stampData", BinaryType)))

  val alertSchema: StructType = StructType(Seq(
    StructField("objectId", StringType), StructField("candid", LongType),
    StructField("candidate", candidateType),
    StructField("prv_candidates", ArrayType(historyType)),
    StructField("cutoutScience", cutoutType),
    StructField("cutoutTemplate", cutoutType),
    StructField("cutoutDifference", cutoutType)))

  // ---- alert identity ----

  /** Alerts of file `f` have candid = CandidBase + f * FileStride + row. */
  val CandidBase = 2400000000000000L
  val FileStride = 1000000L

  def candidOf(file: Int, row: Int): Long = CandidBase + file.toLong * FileStride + row
  def fileOf(candid: Long): Int = ((candid - CandidBase) / FileStride).toInt

  /** Class by slot of a 40-row block: 14 sn, 12 var, 4 long, 4 sso, 6 bogus. */
  private val slotClass: Array[String] =
    Array.fill(14)("sn") ++ Array.fill(12)("var") ++ Array.fill(4)("long") ++
      Array.fill(4)("sso") ++ Array.fill(6)("bogus")

  /** The alert's slot in its 40-row block: a seeded permutation per file. */
  private def slotOf(seed: Long, candid: Long): Int = {
    val row = candid % FileStride
    java.lang.Math.floorMod(row * 7 + mix64(seed * 7 + fileOf(candid)), 40L).toInt
  }

  /** Object class of an alert, recomputable from (seed, candid) alone.
    * Stratified: every 40 consecutive rows of a file hold the class
    * shares exactly, so files of one size carry the same work whatever
    * the seed.
    */
  def classOf(seed: Long, candid: Long): String = slotClass(slotOf(seed, candid))

  /** One transient per 40-row block is young, bright, TNS-classified and
    * has a hostless template: it passes the hostless gate and runs the
    * power-spectrum analysis, the chain's costliest kernel, so every
    * file of one size holds the same number of those.
    */
  def hostlessTransient(seed: Long, candid: Long): Boolean = slotOf(seed, candid) == 0

  /** The SIMBAD type a catalog service knows for the alert's position,
    * or None (no counterpart). Recomputable from (seed, candid).
    */
  def simbadType(seed: Long, candid: Long): Option[String] = {
    val u = unit(seed, 2, candid)
    classOf(seed, candid) match {
      case "var" => Some(Seq("RRLyr", "EB*", "Star", "V*", "Mira")((u * 5).toInt))
      case "sn" if u < 0.2 => Some("galaxy")
      case "bogus" if u < 0.3 => Some("Star")
      case "long" if u < 0.2 => Some("Star")
      case _ => None
    }
  }

  /** Share of the other `sn` alerts named in the TNS-style catalog. */
  val TnsShare = 0.25
  /** Share of `var` alerts named in the blazar catalog. */
  val BlazarShare = 0.08
  val TnsTypes: Array[String] = Array("SN Ia", "SN II", "SN Ibc", "SLSN-I", "SN", "TDE")

  // ---- FITS cutouts ----

  val StampSize = 63
  val StampPool = 48

  /** Gzipped single-HDU 63x63 BITPIX=-32 FITS image. */
  def fitsGz(pixels: Array[Float], tag: String): Array[Byte] = {
    val header = new StringBuilder
    def card(k: String, v: String): Unit =
      header.append(f"$k%-8s= $v%20s".padTo(80, ' '))
    card("SIMPLE", "T"); card("BITPIX", "-32"); card("NAXIS", "2")
    card("NAXIS1", StampSize.toString); card("NAXIS2", StampSize.toString)
    card("OBJECT", s"'$tag'")
    header.append("END".padTo(80, ' '))
    while (header.length % 2880 != 0) header.append(' ')
    val dataLen = ((pixels.length * 4 + 2879) / 2880) * 2880
    val buf = ByteBuffer.allocate(header.length + dataLen)
    buf.put(header.toString.getBytes("US-ASCII"))
    pixels.foreach(buf.putFloat)
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos) { `def`.setLevel(Deflater.BEST_SPEED) }
    gz.write(buf.array()); gz.close()
    bos.toByteArray
  }

  /** Background on an 8-level grid: uniform noise has no 3-sigma tail,
    * so a clean stamp clips no pixels and a source clips many.
    */
  private def stamp(r: SplittableRandom, source: Double, galaxy: Double): Array[Float] = {
    val c = StampSize / 2
    Array.tabulate(StampSize * StampSize) { k =>
      val (y, x) = (k / StampSize - c, k % StampSize - c)
      val d2 = (x * x + y * y).toDouble
      val noise = math.floor(r.nextDouble() * 8) - 3.5
      (100.0 + noise + source * math.exp(-d2 / 4.0) +
        galaxy * math.exp(-d2 / 60.0)).toFloat
    }
  }

  /** Per-seed pool of (science, template, difference) stamp triples;
    * the first third has a hostless template (no galaxy).
    */
  def stampPool(seed: Long): Array[(Array[Byte], Array[Byte], Array[Byte])] =
    Array.tabulate(StampPool) { i =>
      val r = rng(seed, 3, i)
      val hostless = i < StampPool / 3
      val galaxy = if (hostless) 0.0 else 20 + r.nextDouble() * 40
      val src = 30 + r.nextDouble() * 60
      (fitsGz(stamp(r, src, galaxy), s"sci$i"), fitsGz(stamp(r, 0, galaxy), s"ref$i"),
        fitsGz(stamp(r, src, 0), s"diff$i"))
    }

  // ---- alert packets ----

  private val Jd0 = 2460000.5

  private def isdiffposSpelling(r: SplittableRandom, positive: Boolean): String = {
    val k = r.nextInt(10)
    if (positive) (if (k < 6) "t" else if (k < 9) "1" else "true")
    else (if (k < 6) "f" else if (k < 9) "0" else "false")
  }

  private def f(x: Double): java.lang.Float = java.lang.Float.valueOf(x.toFloat)

  /** Row `row` of file `file`; later files carry later epochs. */
  def alert(seed: Long, file: Int, row: Int,
      pool: Array[(Array[Byte], Array[Byte], Array[Byte])]): Row = {
    val candid = candidOf(file, row)
    val r = rng(seed, 4, candid)
    val cls = classOf(seed, candid)
    val (objectId, ra, dec) = identity(seed, candid)
    val jd = Jd0 + file * 0.01 + row * 1e-6
    val fidNow = if (r.nextDouble() < 0.47) 1 else 2

    // age (days since first detection) and light-curve model per class
    val hostless = hostlessTransient(seed, candid)
    val (age, nHist, ndetExtra) = cls match {
      case "sn" if hostless => (8.0 + r.nextDouble() * 30, 6 + r.nextInt(8), 0)
      case "sn" => (1.0 + r.nextDouble() * 70, r.nextInt(14), 0)
      case "var" => (150.0 + r.nextDouble() * 1500, 10 + r.nextInt(50), 60 + r.nextInt(300))
      case "long" => (25.0 + r.nextDouble() * 40, 26 + r.nextInt(30), r.nextInt(15))
      case "sso" => (0.0, if (r.nextDouble() < 0.6) 0 else 1 + r.nextInt(2), 0)
      case _ => (r.nextDouble() * 20, r.nextInt(4), 0)
    }
    val base = cls match {
      case "sn" if hostless => 17.0 + r.nextDouble()
      case "var" => 15.5 + r.nextDouble() * 3
      case "long" => 17.0 + r.nextDouble() * 2
      case _ => 17.8 + r.nextDouble() * 2.2
    }
    val amp = 0.3 + r.nextDouble() * 1.2
    val period = 0.3 + r.nextDouble() * 20
    val tPeak = if (hostless) 2 + r.nextDouble() * 4 else 8 + r.nextDouble() * 20
    def model(dt: Double, fid: Int): Double = cls match {
      case "sn" => // rise to peak at tPeak days after start, then fade
        val t = age + dt
        base + (if (t < tPeak) 2.5 * (1 - t / tPeak) else 0.03 * (t - tPeak)) +
          (if (fid == 1) 0.1 else 0.0)
      case "var" => base + amp * math.sin(2 * math.Pi * (age + dt) / period) +
        (if (fid == 1) 0.3 else 0.0)
      case "long" => base - amp * math.exp(-math.pow((age + dt - 20) / 12, 2)) +
        (if (fid == 1) 0.2 else 0.0)
      case _ => base + r.nextGaussian() * 0.2
    }

    val magnr = cls match {
      case "var" => base - 0.2 + r.nextDouble() * 0.4
      case "bogus" => 14 + r.nextDouble() * 6
      case _ => 19 + r.nextDouble() * 3
    }
    val distnr = cls match {
      case "var" => r.nextDouble() * 0.4
      case "sn" => 0.3 + r.nextDouble() * 3
      case "long" => r.nextDouble() * 1.2
      case _ => if (r.nextDouble() < 0.5) -999.0 else r.nextDouble() * 10
    }

    // history: epochs before now, within the 30-day ZTF window and the age
    val span = math.min(30.0, math.max(age, 0.0))
    val histJd = (0 until nHist).map(_ => jd - 0.02 - r.nextDouble() * span).sorted
    val hist = histJd.zipWithIndex.map { case (hjd, k) =>
      val fid = if (r.nextDouble() < 0.05) 3 else if (r.nextDouble() < 0.5) 1 else 2
      val lim = 19.6 + r.nextDouble() * 1.6
      val m = model(hjd - jd, fid) + r.nextGaussian() * 0.05
      val upper = cls == "sso" || m > lim || r.nextDouble() < 0.12
      if (upper) {
        // an upper limit: only jd/fid/diffmaglim; magpsf null or NaN
        val nanStyle = r.nextDouble() < 0.3
        Row(null, hjd, fid, null, null,
          if (nanStyle) f(Float.NaN) else null, if (nanStyle) f(Float.NaN) else null,
          f(lim), null, null, null, null, null, null, 400 + fid, null)
      } else {
        val sig = 0.02 + math.max(0.0, m - 17) * 0.04
        Row(candid - 1000 - k, hjd, fid, ra + r.nextGaussian() * 1e-5,
          dec + r.nextGaussian() * 1e-5, f(m), f(sig), f(lim), f(magnr),
          f(0.02 + r.nextDouble() * 0.05), f(math.abs(distnr)),
          isdiffposSpelling(r, cls != "var" || r.nextDouble() < 0.6),
          f(0.5 + r.nextDouble() * 0.5), f(0.6 + r.nextDouble() * 0.4), 400 + fid,
          r.nextGaussian() * 3 + 8)
      }
    }
    val nDetHist = hist.count(h => !h.isNullAt(0))
    val ndethist = 1 + nDetHist + ndetExtra
    val history: Seq[Row] =
      if (nHist == 0 && r.nextDouble() < 0.3) null else hist

    val magNow = model(0, fidNow) + r.nextGaussian() * 0.03
    val sigNow = 0.02 + math.max(0.0, magNow - 17) * 0.04
    val bogus = cls == "bogus"
    val star = cls == "var"
    val rb = if (bogus) r.nextDouble() * 0.5 else 0.55 + r.nextDouble() * 0.45
    val drb = if (bogus) r.nextDouble() * 0.7 else 0.8 + r.nextDouble() * 0.2
    val sg1 = if (star) 0.8 + r.nextDouble() * 0.2 else r.nextDouble() * 0.5
    val dps1 = if (star) r.nextDouble() * 0.8 else 0.5 + r.nextDouble() * 15
    val ssdist = if (cls == "sso") r.nextDouble() * 4 else -999.0
    val positive = cls match {
      case "var" => r.nextDouble() < 0.55
      case "bogus" => r.nextDouble() < 0.7
      case _ => true
    }
    val jdstart = jd - age

    val doubles = Seq(jd, ra, dec, jdstart, jd, r.nextGaussian() * 3 + 8)
    val floats = Seq(magNow, sigNow, 19.8 + r.nextDouble() * 1.4, magnr,
      0.02 + r.nextDouble() * 0.05, distnr, sg1, r.nextDouble(), r.nextDouble(),
      dps1, 2 + r.nextDouble() * 20, 5 + r.nextDouble() * 25,
      14 + r.nextDouble() * 8, 14 + r.nextDouble() * 8, 13 + r.nextDouble() * 9,
      13 + r.nextDouble() * 9, 14 + r.nextDouble() * 8, 14 + r.nextDouble() * 8,
      ssdist, if (cls == "sso") 18 + r.nextDouble() * 3 else -999.0,
      if (star) r.nextDouble() * 1.2 else 2 + r.nextDouble() * 30,
      if (star) 12 + r.nextDouble() * 7 else 18 + r.nextDouble() * 3,
      5 + r.nextDouble() * 60, 9 + r.nextDouble() * 8, rb, drb,
      if (bogus) r.nextDouble() else 0.5 + r.nextDouble() * 0.5,
      1.5 + r.nextDouble() * 2, 1 + r.nextDouble() * 0.5, magNow + 0.05,
      0.5 + r.nextDouble() * 3, 26.0 + r.nextDouble()).map(f)
    val ints = Seq(fidNow, ndethist, ndethist + r.nextInt(40), r.nextInt(3),
      400 + fidNow).map(Int.box)
    val strings = Seq(isdiffposSpelling(r, positive),
      if (cls == "sso") "%d".format(1000 + r.nextInt(90000)) else "null", "t17_f5_c3")
    val candidate = Row.fromSeq(
      Seq(candid) ++ doubles ++ floats ++ ints ++ strings)

    val k = java.lang.Math.floorMod(candid * 11 + seed, StampPool.toLong).toInt
    val hostlessTemplates = StampPool / 3
    val (sci, tpl, diff) = pool(if (hostless) k % hostlessTemplates
      else hostlessTemplates + k % (StampPool - hostlessTemplates))
    def cut(kind: String, b: Array[Byte]) = Row(s"candid${candid}_$kind.fits.gz", b)
    Row(objectId, candid, candidate, history,
      cut("pid_sci", sci), cut("ref", tpl), cut("scimref", diff))
  }

  /** (objectId, ra, dec) of an alert: the catalogs recompute these. */
  def identity(seed: Long, candid: Long): (String, Double, Double) = {
    val r = rng(seed, 14, candid)
    val name = "ZTF%02d%s".format(18 + (candid % 7).toInt,
      Iterator.continually(('a' + r.nextInt(26)).toChar).take(7).mkString)
    (name, r.nextDouble() * 360.0, math.toDegrees(math.asin(r.nextDouble() * 1.47 - 0.47)))
  }

  def alerts(seed: Long, file: Int, n: Int,
      pool: Array[(Array[Byte], Array[Byte], Array[Byte])]): Seq[Row] =
    (0 until n).map(alert(seed, file, _, pool))

  /** Writes `<dir>/alerts_<i>.parquet` for each (i, alerts) of `files`.
    * Generation runs in parallel, one task per file; each file gets row
    * groups of about a quarter of its alerts and no dictionary encoding,
    * so that every stamp is stored (and scanned) in full.
    */
  def writeBatches(spark: SparkSession, dir: File, seed: Long,
      files: Seq[(Int, Int)]): Seq[File] = {
    dir.mkdirs()
    val pool = stampPool(seed)
    val poolB = spark.sparkContext.broadcast(pool)
    val rdd = spark.sparkContext.parallelize(files, files.size)
      .flatMap { case (fi, n) => alerts(seed, fi, n, poolB.value) }
    val staging = new File(dir, "_staging")
    val rowGroup = math.max(1L << 20, files.map(_._2).max.toLong * 5000)
    spark.createDataFrame(rdd, alertSchema).write
      .option("parquet.enable.dictionary", "false")
      .option("parquet.block.size", rowGroup.toString)
      .option("compression", "snappy")
      .mode("overwrite").parquet(staging.getPath)
    // one output part per input partition, in partition order
    val parts = staging.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.length == files.size, s"expected ${files.size} parts, got ${parts.length}")
    val out = parts.zip(files).map { case (p, (fi, _)) =>
      val target = new File(dir, "alerts_%05d.parquet".format(fi))
      require(p.renameTo(target), s"rename $p")
      target
    }
    deleteRecursively(staging)
    poolB.destroy()
    out.toSeq
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  // ---- crossmatch catalogs ----

  /** TNS-style catalog (ra, declination, type, name): TnsShare of the `sn`
    * alerts among `candids`, within 0.5" of the alert, plus as many
    * unrelated entries scattered over the sky.
    */
  def tnsCatalog(spark: SparkSession, seed: Long, candids: Seq[Long]): DataFrame = {
    import spark.implicits._
    val named = candids.filter { c =>
      classOf(seed, c) == "sn" && (hostlessTransient(seed, c) || unit(seed, 5, c) < TnsShare)
    }.map { c =>
      val (_, ra, dec) = identity(seed, c)
      val r = rng(seed, 6, c)
      // the hostless transients carry an SN type the hostless gate admits
      val kinds = if (hostlessTransient(seed, c)) TnsTypes.length - 1 else TnsTypes.length
      (ra + (r.nextDouble() - 0.5) * 2.5e-4, dec + (r.nextDouble() - 0.5) * 2.5e-4,
        TnsTypes(r.nextInt(kinds)), s"2024tns$c")
    }
    val r = rng(seed, 7, 0)
    val others = (0 until math.max(2000, named.length * 4)).map { i =>
      (r.nextDouble() * 360, -28.0 + r.nextDouble() * 118,
        TnsTypes(r.nextInt(TnsTypes.length)), s"2023bg$i")
    }
    (named ++ others).toDF("ra", "declination", "type", "name")
  }

  /** CTAO-style blazar catalog keyed by ZTF name (the StandardizedFlux /
    * ExtremeState contract): BlazarShare of the `var` alerts.
    */
  def blazarCatalog(spark: SparkSession, seed: Long, candids: Seq[Long]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct}
    val rows = candids.filter { c =>
      classOf(seed, c) == "var" && unit(seed, 8, c) < BlazarShare
    }.map { c =>
      val name = identity(seed, c)._1
      val r = rng(seed, 9, c)
      val m1 = 1e-4 + r.nextDouble() * 1e-3
      (s"4FGL J$c", name, m1, m1 * (0.8 + r.nextDouble() * 0.4),
        0.5 + r.nextDouble() * 0.5, 1.5 + r.nextDouble())
    }
    rows.toDF("Source_name", "ZTF_name", "m1", "m2", "low_threshold", "high_threshold")
      .withColumn("medians", struct(col("m1").as("1"), col("m2").as("2")))
      .drop("m1", "m2")
  }

  // ---- corpus tables (the documents / embeddings schema) ----

  private val vocab: Array[String] = ("a the key agg row scan slow fast table value " +
    "part hash merge batch line sort window spark order data column join " +
    "small customer query big stream filter group vector es de zh fr en " +
    "index shard token dedup corpus").split(' ')
  private val langs = Array("en", "en", "zh", "de", "es", "fr")

  /** documents(doc_id, text, lang, source, n_chars): word salad with
    * seeded near-duplicate families (a copy with a few edited words) and
    * lifted passages (a span of one document pasted into another).
    */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    def base(i: Long): Array[String] = {
      val r = rng(seed, 10, i)
      Array.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.length)))
    }
    val rows = spark.sparkContext.parallelize(0L until n.toLong, 8).map { i =>
      val r = rng(seed, 11, i)
      val u = r.nextDouble()
      val words =
        if (u < 0.06 && i >= 10) {
          // near-duplicate of an earlier document: edit ~5% of words
          val src = base(i - 1 - r.nextInt(math.min(i, 500L).toInt))
          src.map(w => if (r.nextDouble() < 0.05) vocab(r.nextInt(vocab.length)) else w)
        } else if (u < 0.08 && i >= 10) {
          // lifted passage: 30 words of an earlier document inside this one
          val host = base(i)
          val src = base(r.nextLong(i))
          val k = math.min(30, src.length)
          host.take(host.length / 2) ++ src.take(k) ++ host.drop(host.length / 2)
        } else base(i)
      val text = words.mkString(" ")
      (i, text, langs(r.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** embeddings(vec_id, embedding float[64], label): ten clusters, with
    * a share of near-duplicate vectors.
    */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val centers = Array.tabulate(10) { k =>
      val r = rng(seed, 12, k); Array.fill(64)(r.nextGaussian() * 0.15)
    }
    spark.sparkContext.parallelize(0L until n.toLong, 8).map { i =>
      val r = rng(seed, 13, i)
      val label = r.nextInt(10)
      val v = centers(label).map(c => (c + r.nextGaussian() * 0.08).toFloat)
      (i, v, label)
    }.toDF("vec_id", "embedding", "label")
  }
}
