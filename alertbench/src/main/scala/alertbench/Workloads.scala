package alertbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.models.RefModels

/** Runs one ZTF workload and returns its result fields: correct,
  * attempted, failed, metrics (name -> value and unit) and a report of
  * structured status fields.
  *
  * Untraced, the metrics are the end-to-end ones. Traced, they are the
  * per-layer ones: the layers the workload itself drives are measured on
  * its own timed window; the others come from small fixed-input probes
  * (see README.md), so every traced run reports every layer.
  */
object Workloads {

  type Metrics = Seq[(String, (Double, String))]

  /** Workload shapes (see README.md for why). The bulk backlog holds
    * `seconds` of alerts at BacklogRate, about 1.6 times what the chain
    * drains on four cores, so a faster chain still finds work for the
    * whole window.
    */
  val BacklogRate = 350.0
  def bulk(seconds: Double): ZtfShape =
    ZtfShape(1000, 1000, 1, math.ceil(seconds * BacklogRate / 1000).toInt, 0L)
  /** 40-alert batches every 3.5 s: about half of what the chain sustains
    * (a warm batch takes about 1.8 s). Two streamed warm-up batches: the
    * driver-side work each batch repeats is still being compiled after
    * the first.
    */
  val TrickleIntervalMs = 3500L
  def trickle(seconds: Double): ZtfShape =
    ZtfShape(40, 40, 2, math.max(2, math.round(seconds * 1000 / TrickleIntervalMs).toInt),
      TrickleIntervalMs)

  /** The corpus queries the traced run profiles, on a small corpus. */
  val CorpusQueries: Seq[String] = Seq("p1_corpus_build", "d17_jaccard_degree",
    "d18_winnow_overlap", "d11_incremental_dedup", "s10_ivfpq_batch")
  val CorpusDocs = 200
  val CorpusVecs = 100

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Metrics,
      report: Seq[(String, Any)]): Map[String, Any] = Map(
    "correct" -> correct, "attempted" -> math.max(1L, attempted), "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
    "report" -> report.toMap)

  /** Model-load status: which bundles loaded and which columns run on
    * stand-ins, as structured fields.
    */
  def modelStatus(): Seq[(String, Any)] = Seq(
    "models_dir_exists" -> new File(RefModels.dir).isDirectory,
    "models_loaded" -> Map(
      "anomaly_beta" -> RefModels.anomalyBeta.isDefined,
      "al_snia" -> RefModels.alSnia.isDefined,
      "kilonova" -> RefModels.kilonova.isDefined,
      "kilonova_pcs" -> RefModels.kilonovaPcs.isDefined,
      "mulens_forest" -> RefModels.mulensForest.isDefined,
      "snn_snia_vs_nonia" -> RefModels.snnSniaVsNonia.isDefined,
      "snn_sn_vs_all" -> RefModels.snnSnVsAll.isDefined,
      "superluminous_xgb" -> RefModels.superluminousXgb.isDefined))

  /** The `*_is_stub` flags as the chain wrote them. */
  def stubFlags(spark: SparkSession, dir: File): Seq[(String, Any)] = {
    val df = spark.read.parquet(dir.getPath)
    val flags = df.columns.filter(c => c.endsWith("_is_stub") || c.endsWith("_approx")).sorted
    val row = df.select(flags.map(c => max(col(c)).as(c)).toIndexedSeq: _*).first()
    Seq("is_stub" -> flags.map(c => c -> row.getAs[Boolean](c)).toMap)
  }

  /** Kilonova with its offline default components, on the warm-up
    * output: "ok", or the exception it raises.
    */
  def kilonovaDefault(spark: SparkSession, dir: File): String = {
    val df = spark.read.parquet(dir.getPath).drop("pKNe", "pKNe_is_stub")
    try {
      Probe.noop(graft.operators.Classifiers.kilonova(spark, df))
      "ok"
    } catch {
      case e: Throwable =>
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        s"${root.getClass.getSimpleName}: ${root.getMessage}".take(200)
    }
  }

  def ztf(spark: SparkSession, work: File, seed: Long, seconds: Double,
      shape: ZtfShape, tracer: Option[Tracer], cores: Int): (Map[String, Any], () => Metrics) = {
    val run = new ZtfRun(spark, new File(work, "ztf"), seed, shape, tracer)
    val tGen0 = System.nanoTime()
    run.prepare()
    val genS = (System.nanoTime() - tGen0) / 1e9
    run.warmUp()
    tracer.foreach(_.install())
    tracer match {
      case Some(t) => t.scoped("warm-up")(run.stream(seconds))
      case None => run.stream(seconds)
    }
    // set-up ends where the first timed batch starts: when the warm-up
    // completed
    val setupS = Main.sinceJvmStart() - (System.nanoTime() - run.warmDoneNs) / 1e9
    val rssMb = Main.peakRssMb()
    tracer.foreach(_.uninstall())

    val tChecks = System.nanoTime()
    val timed = run.timed
    val warm = run.completed.headOption
    val checkS = mutable.LinkedHashMap.empty[String, Double]
    def timedCheck(name: String)(body: => Seq[String]): Seq[String] = {
      val t0 = System.nanoTime()
      try body finally checkS(name) = (System.nanoTime() - t0) / 1e9
    }
    val problems = timedCheck("batches")(ZtfChecks.batches(spark, run)) ++
      timedCheck("stream_equals_batch")(ZtfChecks.streamEqualsBatch(spark, run)) ++
      timedCheck("kernels")(timed.lastOption.toSeq.flatMap(ZtfChecks.kernels(spark, run, _, 24)))
    val failedIds = problems.map(_.takeWhile(_ != ':')).distinct
    val metrics: Metrics = Seq(
      "setup_s" -> (setupS, "s"),
      "throughput_per_s" -> (run.throughput, "1/s"),
      "latency_p50_ms" -> (Main.median(run.latenciesMs), "ms"))
    val report = Seq(
      "generation_s" -> genS, "timed_batches" -> timed.size,
      "alerts_per_batch" -> shape.perFile, "interval_ms" -> shape.intervalMs,
      "latency_ms" -> run.latenciesMs, "problems" -> problems.take(20),
      "kilonova_default_components" -> timedCheck("kilonova_default")(
        warm.map(w => kilonovaDefault(spark, run.batchDir(w._1.id))).toSeq).headOption,
      "tns_catalog_rows" -> run.tnsRows) ++ modelStatus() ++
      warm.toSeq.flatMap(w => stubFlags(spark, run.batchDir(w._1.id)))
    val correct = problems.isEmpty && timed.nonEmpty
    val res = result(correct, run.completed.size, failedIds.size, metrics,
      report ++ Seq("checks_s" -> (System.nanoTime() - tChecks) / 1e9, "check_s" -> checkS.toMap))

    // layer metrics this run measured itself; the rest come from probes
    val layers = () => tracer.toSeq.flatMap { t =>
      val wallS = (timed.map(_._1.endNs).max - run.warmDoneNs) / 1e9
      val c = t.counters("timed")
      Layers.exec(c, wallS, cores) ++ Layers.plan(c, timed.size) ++
        Layers.streaming(c, run) ++ (if (run.openLoop) Layers.loadgen(run) else Nil) ++
        Seq("trace.throughput_per_s" -> (run.throughput, "1/s"),
          "jvm.peak_rss_mb" -> (rssMb, "MB"))
    }
    (res, layers)
  }

  /** Writes documents/embeddings under `dir` (one parquet file each). */
  def corpusTables(spark: SparkSession, dir: File, seed: Long, docs: Int, vecs: Int): Unit = {
    Gen.documents(spark, seed, docs).coalesce(1).write.mode("overwrite")
      .parquet(new File(dir, "documents.parquet").getPath)
    Gen.embeddings(spark, seed, vecs).coalesce(1).write.mode("overwrite")
      .parquet(new File(dir, "embeddings.parquet").getPath)
  }

  /** Runs every corpus query over `tables`, writing its result under
    * `out`; returns (query, ms, counters) per query.
    */
  def corpusJob(spark: SparkSession, tables: File, out: File,
      tracer: Option[Tracer], tag: String): Seq[(String, Double, Counters)] = {
    val qs = graft.SparkEntry.queries
    CorpusQueries.map { q =>
      def body(): Double = Probe.timeMs(qs(q)(spark, tables.getPath)
        .write.mode("overwrite").parquet(new File(out, q).getPath))
      tracer match {
        case Some(t) =>
          val (ms, c) = t.scoped(s"$tag $q")(t.span(s"query $q")(body()))
          (q, ms, c)
        case None => (q, body(), new Counters)
      }
    }
  }

  def oracleFile(root: File): Unit = {
    val oracle = CorpusQueries.map(q => q -> graft.SparkEntry.oracleSql(q))
    java.nio.file.Files.write(new File(root, "oracle_sql.json").toPath,
      Json.obj(oracle).getBytes("UTF-8"))
  }
}
