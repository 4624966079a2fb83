package alertbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernels.{FastTransientKernel, LightCurveFeatures}
import graft.models.{AnomalyModels, RefModels, StubModels}
import graft.operators.{AdFeatures, Classifiers, ExtremeState, HostlessDetection, SelectionCuts}

/** Per-layer metrics of the traced run, measured from outside each layer:
  * counters from the tracer's listeners, timings around calls into the
  * library, and direct kernel calls on one fixed batch.
  */
object Layers {

  type M = Seq[(String, (Double, String))]

  /** Spark-wide execution counters over one scope. */
  def exec(c: Counters, wallS: Double, cores: Int): M = Seq(
    "exec.jobs" -> (c.jobs.toDouble, "count"),
    "exec.stages" -> (c.stages.toDouble, "count"),
    "exec.tasks" -> (c.tasks.toDouble, "count"),
    "exec.cpu_ms" -> (c.cpuNs / 1e6, "ms"),
    "exec.gc_ms" -> (c.gcMs.toDouble, "ms"),
    "exec.shuffle_write_bytes" -> (c.shuffleWrite.toDouble, "bytes"),
    "exec.shuffle_read_bytes" -> (c.shuffleRead.toDouble, "bytes"),
    "exec.spill_bytes" -> (c.spill.toDouble, "bytes"),
    "exec.peak_mem_bytes" -> (c.peakMem.toDouble, "bytes"),
    "exec.task_skew" -> (c.taskSkew, "ratio"),
    "exec.busy_share" -> (c.taskTotalMs / (wallS * 1000.0 * cores), "share"))

  /** QueryExecution tracker phases, per unit of work (batch or query). */
  def plan(c: Counters, units: Int): M = {
    val u = math.max(1, units).toDouble
    Seq("plan.analysis_ms" -> (c.analysisMs / u, "ms"),
      "plan.optimization_ms" -> (c.optimizationMs / u, "ms"),
      "plan.planning_ms" -> (c.planningMs / u, "ms"))
  }

  /** Streaming and source metrics from the triggers of a ZTF run (the
    * warm-up trigger excluded), plus the chain build time per batch.
    */
  def streaming(c: Counters, run: ZtfRun): M = {
    // the first batches are the warm-up; triggers without rows did no work
    val p = c.progress.filter(x => x._1 >= run.shape.warmFiles && x._3 > 0)
      .map(x => (x._2, x._3)).toSeq
    def mean(f: Map[String, Long] => Double): Double =
      if (p.isEmpty) Double.NaN else p.map(x => f(x._1)).sum / p.size
    def d(k: String)(m: Map[String, Long]): Double = m.getOrElse(k, 0L).toDouble
    val builds = run.enrichNs.toArray(Array.empty[java.lang.Long]).drop(run.shape.warmFiles)
      .map(_.longValue / 1e6)
    Seq(
      "sources.get_batch_ms" -> (mean(m => d("getBatch")(m) + d("latestOffset")(m)), "ms"),
      "sources.input_bytes" -> (c.inputBytes.toDouble / math.max(1, p.size), "bytes"),
      "streaming.trigger_ms" -> (mean(d("triggerExecution")), "ms"),
      "streaming.add_batch_ms" -> (mean(d("addBatch")), "ms"),
      "streaming.plan_ms" -> (mean(d("queryPlanning")), "ms"),
      "streaming.commit_ms" -> (mean(m => d("walCommit")(m) + d("commitOffsets")(m)), "ms"),
      "streaming.batches" -> (p.size.toDouble, "count"),
      "pipeline.build_ms" -> (Main.median(builds.toSeq), "ms"))
  }

  /** How late the open-loop generator released its files. */
  def loadgen(run: ZtfRun): M = {
    val late = run.releasedNs.indices.filter(run.releasedNs(_) > 0)
      .map(i => (run.releasedNs(i) - run.dueNs(i)) / 1e6)
    Seq("loadgen.late_ms_p50" -> (Main.median(late), "ms"),
      "loadgen.late_ms_max" -> (if (late.isEmpty) Double.NaN else late.max, "ms"))
  }

  /** Per-query counters of the corpus queries. */
  def queries(byQuery: Seq[(String, Double, Counters)]): M = byQuery.flatMap { case (q, ms, c) =>
    Seq(s"query.$q.s" -> (ms / 1000.0, "s"),
      s"query.$q.plan_ms" -> (c.analysisMs + c.optimizationMs + c.planningMs, "ms"),
      s"query.$q.cpu_ms" -> (c.cpuNs / 1e6, "ms"),
      s"query.$q.shuffle_bytes" -> ((c.shuffleWrite + c.shuffleRead).toDouble, "bytes"),
      s"query.$q.spill_bytes" -> (c.spill.toDouble, "bytes"))
  }

  /** Modules with a selection gate: the gate column evaluated over the
    * enriched batch (rows admitted over rows).
    */
  def gates: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "rf_snia" -> SelectionCuts.sniaGate(col("cmagpsf"), col("candidate.ndethist"), col("cdsxmatch")),
    "snn_snia_vs_nonia" -> SelectionCuts.snnGate(col("cmagpsf"), col("cjd"),
      col("candidate.jdstarthist"), col("roid"), col("cdsxmatch")),
    "snn_sn_vs_all" -> SelectionCuts.snnGate(col("cmagpsf"), col("cjd"),
      col("candidate.jdstarthist"), col("roid"), col("cdsxmatch")),
    "kilonova" -> SelectionCuts.kilonovaGate(col("cmagpsf"), col("candidate.ndethist"), col("cdsxmatch")),
    "microlensing" -> (col("candidate.ndethist") < 100 &&
      graft.alerts.AlertCols.detectionCount(col("cmagpsf")) >= 20),
    "anomaly" -> !isnan(col("anomaly_score")),
    "superluminous" -> (col("superluminous_score") =!= -1.0),
    "hostless" -> (element_at(col("kstest_static"), 3) === 1.0f))

  /** The fixed-batch probe: per-module build and marginal execution cost,
    * gate shares, direct kernel and scorer calls, crossmatch shares.
    */
  def ztfProbe(spark: SparkSession, run: ZtfRun, file: File): M = {
    val input = spark.read.schema(Gen.alertSchema).parquet(file.getPath).localCheckpoint(eager = true)
    val n = input.count()
    val builds = Probe.builds(run.steps, input)
    val execs = Probe.operators(run.steps, input).toMap
    val enriched = Chain.enrich(run.steps)(input).cache()
    val g = enriched.select((count(lit(1)) +: gates.map { case (m, c) =>
      sum(when(coalesce(c, lit(false)), 1).otherwise(0)).as(m) } :+
      sum(when(col("tnsclass") =!= "Unknown", 1).otherwise(0)).as("tns")): _*).first()
    val rows = enriched.collect()
    enriched.unpersist()
    val opMetrics = builds.flatMap { case (m, b) =>
      Seq(s"operators.$m.build_ms" -> (b, "ms"), s"operators.$m.exec_ms" -> (execs(m), "ms"))
    }
    val gateMetrics = gates.map(_._1).map(m =>
      s"operators.$m.gate_share" -> (g.getAs[Long](m).toDouble / n, "share"))
    opMetrics ++ gateMetrics ++ kernels(rows) ++ Seq(
      "xmatch.label_ms" -> (builds.toMap.apply("xmatch_tns") + execs("xmatch_tns"), "ms"),
      "xmatch.match_share" -> (g.getAs[Long]("tns").toDouble / n, "share"),
      "xmatch.catalog_rows" -> (run.tnsRows.toDouble, "count"))
  }

  private def arr(xs: scala.collection.Seq[Any]): Array[Double] =
    if (xs == null) Array.empty
    else xs.map(x => if (x == null) Double.NaN else x.asInstanceOf[Number].doubleValue()).toArray

  /** Times `f` over every input, up to three passes while a pass takes
    * under half a second, keeping the fastest: (microseconds per call,
    * calls per pass).
    */
  private def perCall[T](inputs: Seq[T])(f: T => Any): (Double, Int) = {
    var sink = 0
    val passes = mutable.ArrayBuffer.empty[Double]
    while (passes.size < 3 && passes.forall(_ < 5e5)) {
      val t0 = System.nanoTime()
      inputs.foreach(x => sink += f(x).hashCode & 1)
      passes += (System.nanoTime() - t0) / 1e3
    }
    if (sink < 0) println(sink)
    (passes.min / math.max(1, inputs.size), inputs.size)
  }

  /** Direct kernel and scorer calls on the probe batch's arrays. */
  def kernels(rows: Array[Row]): M = {
    final case class Alert(jd: Array[Double], m: Array[Double], s: Array[Double],
        lim: Array[Double], fid: Array[Int], distnr: Array[Double], magnr: Array[Double],
        sigmagnr: Array[Double], pos: Array[String], cand: Row, candid: Long,
        sci: Array[Byte], tpl: Array[Byte])
    val alerts = rows.toSeq.map { r =>
      Alert(arr(r.getAs[scala.collection.Seq[Any]]("cjd")), arr(r.getAs[scala.collection.Seq[Any]]("cmagpsf")),
        arr(r.getAs[scala.collection.Seq[Any]]("csigmapsf")), arr(r.getAs[scala.collection.Seq[Any]]("cdiffmaglim")),
        r.getAs[scala.collection.Seq[Any]]("cfid").map(x => if (x == null) -1 else x.asInstanceOf[Int]).toArray,
        arr(r.getAs[scala.collection.Seq[Any]]("cdistnr")), arr(r.getAs[scala.collection.Seq[Any]]("cmagnr")),
        arr(r.getAs[scala.collection.Seq[Any]]("csigmagnr")),
        r.getAs[scala.collection.Seq[String]]("cisdiffpos").map(x => if (x == null) "" else x).toArray,
        r.getAs[Row]("candidate"), r.getAs[Long]("candid"),
        r.getAs[Row]("cutoutScience").getAs[Array[Byte]]("stampData"),
        r.getAs[Row]("cutoutTemplate").getAs[Array[Byte]]("stampData"))
    }
    def valid(a: Alert): Array[Int] = a.m.indices.filter(i => !a.m(i).isNaN && !a.s(i).isNaN).toArray
    val ft = perCall(alerts)(a => FastTransientKernel.rate(a.cand.getAs[Int]("fid"), a.fid, a.m,
      a.s, a.lim, a.jd, a.cand.getAs[Double]("jd"), a.cand.getAs[Double]("jdstarthist"),
      a.cand.getAs[Float]("magpsf").toDouble, a.cand.getAs[Float]("sigmapsf").toDouble, 500, 7L))
    val snia = perCall(alerts)(a => Classifiers.sniaFeatures(a.jd, a.m, a.s, a.fid))
    val bands = alerts.flatMap { a =>
      val v = valid(a)
      Seq(1, 2).map(b => v.filter(a.fid(_) == b)).filter(_.length > 0)
        .map(sel => (sel.map(a.jd), sel.map(a.m), sel.map(a.s)))
    }
    val lc = perCall(bands)(b => LightCurveFeatures.extract(b._1, b._2, b._3))
    val ad = perCall(alerts)(a => AdFeatures.extractPerBand(a.m, a.jd, a.s, a.fid, a.distnr,
      a.magnr, a.sigmagnr, a.pos))
    val host = perCall(alerts)(a => HostlessDetection.processStamps(a.sci, a.tpl, a.candid))
    val curves = alerts.map(a => (a.jd, a.m.map(x => if (x.isNaN) x else math.pow(10, -0.4 * x))))
    val flu = perCall(curves)(c => ExtremeState.fluenceRatio(c._1, c._2, 1e-8, 30.0))
    // scorers on the feature vectors the chain feeds them
    val rf = RefModels.alSniaScorer.getOrElse(StubModels.forest("rf_snia", 12))
    val sniaX = alerts.map(a => Classifiers.sniaFeatures(a.jd, a.m, a.s, a.fid))
    val snnStub = StubModels.logistic("snn", 26)
    val lcX = bands.map(b => LightCurveFeatures.extract(b._1, b._2, b._3).map(x => if (x.isNaN) 0.0 else x))
    val (f1, _) = RefModels.anomalyBeta.getOrElse(
      (StubModels.isolationForest("anomaly_fid1", 25), StubModels.isolationForest("anomaly_fid2", 25)))
    val adX = lcX.map(_.take(AnomalyModels.ModelColumns.size))
    val mRf = perCall(sniaX)(x => rf.score(x))
    val mSnn = perCall(lcX)(x => snnStub.score(x))
    val mAn = perCall(adX)(x => f1.score(x))
    Seq("fast_transient_rate" -> ft, "snia_features" -> snia, "lc_features" -> lc,
      "ad_extract_per_band" -> ad, "hostless_stamps" -> host, "fluence_ratio" -> flu)
      .flatMap { case (k, (us, calls)) =>
        Seq(s"kernels.$k.us_per_call" -> (us, "us"), s"kernels.$k.calls" -> (calls.toDouble, "count"))
      } ++ Seq(
      "models.rf_snia.us_per_call" -> (mRf._1, "us"),
      "models.snn.us_per_call" -> (mSnn._1, "us"),
      "models.anomaly.us_per_call" -> (mAn._1, "us"))
  }
}
