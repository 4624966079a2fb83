package alertbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.AlertPipeline

/** Shape of a ZTF workload.
  *
  * @param perFile    alerts per timed micro-batch file
  * @param warmFile   alerts in each warm-up file, streamed first, untimed
  * @param warmFiles  warm-up files
  * @param files      timed files
  * @param intervalMs release interval of the open loop; 0 = closed loop
  */
final case class ZtfShape(perFile: Int, warmFile: Int, warmFiles: Int, files: Int,
    intervalMs: Long)

/** One completed micro-batch: when its enrichment was called and when
  * the sink finished writing it.
  */
final case class BatchRec(id: Long, startNs: Long, endNs: Long)

/** The two ZTF workloads: a closed-loop backlog drain (`ztf_bulk`) and
  * an open-loop live night (`ztf_trickle`), both streaming one parquet
  * file per trigger through `AlertPipeline`'s `foreachBatch` wrapper
  * into a parquet sink. The first files are the warm-up; the rest are
  * timed.
  */
final class ZtfRun(spark: SparkSession, val work: File, val seed: Long,
    val shape: ZtfShape, tracer: Option[Tracer]) {

  val stage = new File(work, "staged")
  val incoming = new File(work, "incoming")
  val out = new File(work, "out")
  val openLoop: Boolean = shape.intervalMs > 0

  var tnsRows = 0L
  var steps: Seq[Chain.Step] = Nil
  /** Traced runs: whole-chain build time per batch. */
  val enrichNs = new ConcurrentLinkedQueue[Long]()

  def fileName(i: Int): String = "alerts_%05d.parquet".format(i)
  def inputFile(i: Int): File = new File(incoming, fileName(i))
  /** File i, released or still staged. */
  def anyFile(i: Int): File = Seq(inputFile(i), new File(stage, fileName(i))).find(_.exists).get

  /** Generates the files and catalogs and builds the chain. */
  def prepare(): Unit = {
    val sizes = (0 until shape.warmFiles).map(_ -> shape.warmFile) ++
      (shape.warmFiles until shape.warmFiles + shape.files).map(_ -> shape.perFile)
    val files = Gen.writeBatches(spark, if (openLoop) stage else incoming, seed, sizes)
    // the file source takes files in modification-time order
    val t0 = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 1000L) }
    incoming.mkdirs()
    val candids = sizes.flatMap { case (f, n) => (0 until n).map(Gen.candidOf(f, _)) }
    val tns = Gen.tnsCatalog(spark, seed, candids)
    tnsRows = tns.count()
    steps = Chain.steps(spark, seed, tns, Gen.blazarCatalog(spark, seed, candids))
  }

  /** The chain; traced, each batch records a span tree: batch -> build ->
    * one span per module call, and batch -> sink.
    */
  def enrich(batchSpan: () => Long): AlertPipeline.Module = tracer match {
    case None => Chain.enrich(steps)
    case Some(t) => df => {
      val build = t.newSpanId()
      val t0 = System.nanoTime()
      var m0 = t0
      val r = Chain.enrichTimed(steps, (name, ns) => {
        t.record(Span(t.newSpanId(), build, name, m0, m0 + ns)); m0 += ns
      })(df)
      val t1 = System.nanoTime()
      t.record(Span(build, batchSpan(), "build", t0, t1))
      enrichNs.add(t1 - t0)
      r
    }
  }

  /** Batch-mode run of the chain over one file into `dest`. */
  def runBatch(file: File, dest: File): Unit =
    Chain.sinkView(Chain.enrich(steps)(spark.read.schema(Gen.alertSchema).parquet(file.getPath)))
      .write.mode("overwrite").parquet(dest.getPath)

  /** Digest of a batch-mode run of the chain over file 0; the streamed
    * output of that file must match it.
    */
  var batchModeDigest: (Long, Long, Long) = (0L, 0L, 0L)

  /** Warm-up before streaming: the batch-mode run over file 0. */
  def warmUp(): Unit =
    batchModeDigest = ZtfChecks.digest(Chain.sinkView(Chain.enrich(steps)(
      spark.read.schema(Gen.alertSchema).parquet(anyFile(0).getPath))))

  // ---- the streamed run ----

  val done = new ConcurrentLinkedQueue[BatchRec]()
  /** When the last warm-up batch completed: timing starts there. */
  @volatile var warmDoneNs = 0L
  /** Open loop: due and actual release time of timed file i at i - 1. */
  var dueNs: Array[Long] = Array.empty
  var releasedNs: Array[Long] = Array.empty

  /** Streams the warm-up file, then the timed files: the closed loop
    * drains the backlog for `seconds` after the warm-up; the open loop
    * releases one file per interval and waits for the last one.
    */
  def stream(seconds: Double, timedScope: String = "timed"): Unit = {
    val src = spark.readStream.schema(Gen.alertSchema)
      .option("maxFilesPerTrigger", "1").parquet(incoming.getPath)
    val current = new java.util.concurrent.atomic.AtomicLong(0L)
    val batchSpan = new java.util.concurrent.atomic.AtomicLong(0L)
    val enrichStream = enrich(() => batchSpan.get())
    val module: AlertPipeline.Module = df => {
      tracer.foreach(t => batchSpan.set(t.newSpanId()))
      current.set(System.nanoTime()); enrichStream(df)
    }
    val sink = (df: DataFrame, id: Long) => {
      val t0 = current.get()
      def write(): Unit = Chain.sinkView(df).write.mode("overwrite")
        .parquet(batchDir(id).getPath)
      tracer match {
        case Some(t) => t.span("sink", batchSpan.get())(write())
        case None => write()
      }
      val t1 = System.nanoTime()
      tracer.foreach(_.record(Span(batchSpan.get(), 0L, s"batch $id", t0, t1)))
      done.add(BatchRec(id, t0, t1))
      if (done.size == shape.warmFiles) {
        warmDoneNs = t1
        tracer.foreach(_.enter(timedScope))
      }
      ()
    }
    if (openLoop) move(0)
    val total = shape.warmFiles + shape.files
    val q =
      if (openLoop) AlertPipeline.streamingWriter(src, module, sink,
        Trigger.ProcessingTime(0L))
        .option("checkpointLocation", new File(work, "checkpoint").getPath).start()
      else AlertPipeline.runOnce(src, module, sink)
    try {
      if (openLoop) release(q, total)
      else {
        // the window closes with the first batch to complete after
        // `seconds`, so no batch is cut short
        while (warmDoneNs == 0L && q.isActive) Thread.sleep(2)
        val deadline = warmDoneNs + (seconds * 1e9).toLong
        while (q.isActive && done.size < total && done.asScala.map(_.endNs).max < deadline)
          Thread.sleep(5)
      }
      // let the last completed trigger report its progress before stopping
      val last = done.asScala.map(_.id).max
      val deadline = System.nanoTime() + 2000000000L
      while (q.isActive && Option(q.lastProgress).forall(_.batchId < last) &&
        System.nanoTime() < deadline) Thread.sleep(2)
    } finally {
      q.stop()
    }
    q.exception.foreach(e => throw e)
  }

  private def move(i: Int): Unit =
    java.nio.file.Files.move(new File(stage, fileName(i)).toPath, inputFile(i).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

  /** Open loop: each warm-up file is released when the one before it is
    * done; timed file warmFiles + i is due at t0 + i * interval. Files are
    * released by an atomic rename into the watched directory.
    */
  private def release(q: StreamingQuery, total: Int): Unit = {
    for (w <- 1 to shape.warmFiles) {
      while (done.size < w && q.isActive) Thread.sleep(2)
      if (w < shape.warmFiles) move(w)
    }
    val step = shape.intervalMs * 1000000L
    val t0 = System.nanoTime() + step
    dueNs = Array.tabulate(shape.files)(i => t0 + i * step)
    releasedNs = new Array[Long](shape.files)
    var i = 0
    while (i < shape.files && q.isActive) {
      val wait = dueNs(i) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      releasedNs(i) = System.nanoTime()
      move(shape.warmFiles + i)
      i += 1
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (q.isActive && done.size < total && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  def batchDir(id: Long): File = new File(out, s"batch=$id")

  /** Per completed batch: rows, distinct candid, min and max candid. */
  lazy val outputStats: Map[Long, (Long, Long, Long, Long)] = {
    val ids = done.asScala.map(_.id).toSet
    spark.read.parquet(out.getPath).where(col("batch").isin(ids.toSeq: _*))
      .groupBy("batch").agg(count(lit(1)), countDistinct("candid"), min("candid"), max("candid"))
      .collect().map(r => r.getAs[Number](0).longValue ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
  }

  /** Every completed batch with the file it held, warm-up first. */
  lazy val completed: Seq[(BatchRec, Int)] =
    done.asScala.toSeq.sortBy(_.id).map(r => (r, Gen.fileOf(outputStats(r.id)._3)))

  def timed: Seq[(BatchRec, Int)] = completed.filter(_._2 >= shape.warmFiles)

  /** Per-batch latency in ms: open loop from the file's due time, closed
    * loop from the enrichment call, to sink completion.
    */
  def latenciesMs: Seq[Double] = timed.map { case (r, f) =>
    (r.endNs - (if (openLoop) dueNs(f - shape.warmFiles) else r.startNs)) / 1e6
  }

  /** Alerts per second over the timed window. */
  def throughput: Double = {
    val t = timed
    if (t.isEmpty) return Double.NaN
    val start = if (openLoop) dueNs(0) else warmDoneNs
    t.size.toDouble * shape.perFile / ((t.map(_._1.endNs).max - start) / 1e9)
  }
}

/** Output checks on a finished ZTF run, run after the timed window. Each
  * returns problems as "batch <id>: <message>" so that failures count
  * against the attempted batches.
  */
object ZtfChecks {

  /** Rows out = rows in, unique candid from one file, stable types. */
  def batches(spark: SparkSession, run: ZtfRun): Seq[String] = {
    val expected = Chain.declaredTypes
    var firstSchema: Option[String] = None
    run.completed.flatMap { case (r, file) =>
      val (rows, distinct, _, maxCandid) = run.outputStats(r.id)
      val schema = spark.read.parquet(run.batchDir(r.id).getPath).schema
      val types = schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      if (firstSchema.isEmpty) firstSchema = Some(schema.simpleString)
      val rowsIn = if (file < run.shape.warmFiles) run.shape.warmFile else run.shape.perFile
      val wrongTypes = expected.filter { case (c, t) => !types.get(c).contains(t) }
      Seq(
        (rows != rowsIn) -> s"rows out $rows != rows in $rowsIn",
        (distinct != rows) -> "duplicate candid",
        (Gen.fileOf(maxCandid) != file) -> "rows from two files",
        wrongTypes.nonEmpty -> s"declared column types differ: $wrongTypes",
        !firstSchema.contains(schema.simpleString) -> "schema differs between batches"
      ).collect { case (true, m) => s"batch ${r.id}: $m" }
    }
  }

  /** Order-independent digest over every sink column. */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*)))
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))), bit_xor(h)).first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The streamed output of file 0 equals the batch-mode run of the
    * same chain over the same file made during the warm-up.
    */
  def streamEqualsBatch(spark: SparkSession, run: ZtfRun): Seq[String] =
    run.completed.find(_._2 == 0).toSeq.flatMap { case (r, _) =>
      val a = digest(spark.read.parquet(run.batchDir(r.id).getPath))
      val b = run.batchModeDigest
      if (a == b) None else Some(s"batch ${r.id}: streamed digest $a != batch-mode $b")
    }

  private def arr(xs: scala.collection.Seq[Any]): Array[Double] =
    xs.map(x => if (x == null) Double.NaN else x.asInstanceOf[Number].doubleValue()).toArray

  private def same(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b

  /** Module outputs equal direct kernel calls on `n` sampled rows of one
    * batch: nalerthist, the fast-transient rate, the light-curve
    * features, the early-SN-Ia score and the hostless statistic.
    */
  def kernels(spark: SparkSession, run: ZtfRun, batch: (BatchRec, Int), n: Int): Seq[String] = {
    val (r, file) = batch
    val rows = spark.read.parquet(run.batchDir(r.id).getPath)
      .orderBy(xxhash64(col("candid"), lit(run.seed))).limit(n).collect()
    val stamps = spark.read.schema(Gen.alertSchema).parquet(run.inputFile(file).getPath)
      .where(col("candid").isin(rows.map(_.getAs[Long]("candid")).toIndexedSeq: _*))
      .select(col("candid"), col("cutoutScience.stampData"), col("cutoutTemplate.stampData"))
      .collect().map(s => s.getLong(0) -> (s.getAs[Array[Byte]](1), s.getAs[Array[Byte]](2))).toMap
    val rfScorer = graft.models.RefModels.alSniaScorer
      .getOrElse(graft.models.StubModels.forest("rf_snia", 12))
    rows.toSeq.flatMap { row =>
      val candid = row.getAs[Long]("candid")
      val m = arr(row.getAs[scala.collection.Seq[Any]]("cmagpsf"))
      val s = arr(row.getAs[scala.collection.Seq[Any]]("csigmapsf"))
      val jd = arr(row.getAs[scala.collection.Seq[Any]]("cjd"))
      val lim = arr(row.getAs[scala.collection.Seq[Any]]("cdiffmaglim"))
      val fid = row.getAs[scala.collection.Seq[Any]]("cfid").map(x => if (x == null) -1 else x.asInstanceOf[Int]).toArray
      val cand = row.getAs[Row]("candidate")
      val problems = Seq.newBuilder[String]
      def check(name: String, ok: Boolean): Unit =
        if (!ok) problems += s"batch ${r.id}: candid $candid $name differs from the direct kernel call"

      check("nalerthist", row.getAs[Int]("nalerthist") == m.count(!_.isNaN))
      val ft = graft.kernels.FastTransientKernel.rate(cand.getAs[Int]("fid"), fid, m, s, lim, jd,
        cand.getAs[Double]("jd"), cand.getAs[Double]("jdstarthist"),
        cand.getAs[Float]("magpsf").toDouble, cand.getAs[Float]("sigmapsf").toDouble, 500, 7L)
      check("mag_rate", same(ft.mag_rate, row.getAs[Double]("mag_rate")) &&
        same(ft.sigma_rate, row.getAs[Double]("sigma_rate")))
      val lc = graft.operators.AdFeatures.extractPerBand(m, jd, s, fid,
        arr(row.getAs[scala.collection.Seq[Any]]("cdistnr")), arr(row.getAs[scala.collection.Seq[Any]]("cmagnr")),
        arr(row.getAs[scala.collection.Seq[Any]]("csigmagnr")),
        row.getAs[scala.collection.Seq[String]]("cisdiffpos").map(x => if (x == null) "" else x).toArray)
      val lcOut = row.getAs[scala.collection.Map[Int, scala.collection.Map[String, Double]]]("lc_features")
      check("lc_features", lc.keySet == lcOut.keySet && lc.forall { case (b, fs) =>
        fs.forall { case (k, v) => same(v, lcOut(b)(k)) } })
      val pIa = row.getAs[Double]("pIa")
      if (pIa != 0.0)
        check("pIa", pIa == rfScorer.score(graft.operators.Classifiers.sniaFeatures(jd, m, s, fid)))
      val ks = row.getAs[scala.collection.Seq[Float]]("kstest_static")
      if (ks(2) == 1.0f) {
        val (sci, tpl) = stamps(candid)
        val (a, b) = graft.operators.HostlessDetection.processStamps(sci, tpl, candid)
        check("kstest_static", a == ks(0) && b == ks(1))
      }
      problems.result()
    }
  }
}
