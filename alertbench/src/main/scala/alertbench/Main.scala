package alertbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by run.py:
  *
  *   alertbench.Main --workload ztf_bulk|ztf_trickle --seed N
  *     --seconds S --trace 0|1 --work DIR --cores C
  *
  * Prints one JSON object as its last stdout line: correct, attempted,
  * failed, metrics and report. run.py adds the corpus oracle check of
  * traced runs and prints the final result line.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val cores = opts.getOrElse("cores", "4").toInt
    work.mkdirs()

    val spark = session(work, cores)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val (res, own) = workload match {
      case "ztf_bulk" =>
        Workloads.ztf(spark, work, seed, seconds, Workloads.bulk(seconds), tracer, cores)
      case "ztf_trickle" =>
        Workloads.ztf(spark, work, seed, seconds, Workloads.trickle(seconds), tracer, cores)
      case other => sys.error(s"unknown workload $other")
    }
    val result = tracer match {
      case None => res
      case Some(t) =>
        val mine = own()
        val probed = probes(spark, t, work, seed, mine.map(_._1).toSet)
        t.writeSpans(new File(work, "spans.jsonl"))
        val scaling = scalingProbe(spark, work, seed)
        val metrics = (mine ++ probed ++ scaling).map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u)
        }.toMap
        res ++ Map("metrics" -> metrics, "report" ->
          (res("report").asInstanceOf[Map[String, Any]] ++ Map(
            "spans" -> t.spanCount,
            "probed_layers" -> probed.map(_._1).sorted)))
    }
    SparkSession.getActiveSession.foreach(_.stop())
    println(Json.obj(result.toSeq))
  }

  /** Alerts in the fixed probe batch. */
  val ProbeAlerts = 300

  /** Layer metrics the workload did not measure itself, from small
    * fixed-input runs: the ZTF probe batch (always), a short open-loop
    * stream, and the small corpus.
    */
  def probes(spark: SparkSession, t: Tracer, work: File, seed: Long,
      have: Set[String]): Seq[(String, (Double, String))] = {
    val dir = new File(work, "probe")
    val run = new ZtfRun(spark, new File(dir, "ztf"), seed,
      ZtfShape(40, ProbeAlerts, 1, 3, 1000L), Some(t))
    run.prepare()
    val stream =
      if (have.contains("streaming.batches") && have.contains("loadgen.late_ms_p50")) Nil
      else {
        t.install()
        t.scoped("probe warm-up")(run.stream(3.0, "probe stream"))
        t.uninstall()
        val c = t.counters("probe stream")
        (Layers.streaming(c, run) ++ Layers.loadgen(run)).filterNot(m => have(m._1))
      }
    val ztf = Layers.ztfProbe(spark, run, run.anyFile(0))
    val queries =
      if (have.exists(_.startsWith("query."))) Nil
      else {
        // also checked against the DuckDB oracle by run.py
        val small = new File(dir, "corpus")
        val tables = new File(small, "tables")
        Workloads.corpusTables(spark, tables, seed, Workloads.CorpusDocs, Workloads.CorpusVecs)
        Workloads.corpusJob(spark, tables, new File(small, "out"), None, "warm")
        t.install()
        val byQuery = Workloads.corpusJob(spark, tables, new File(small, "out"), Some(t), "probe")
        t.uninstall()
        Workloads.oracleFile(small)
        Layers.queries(byQuery)
      }
    stream ++ ztf ++ queries
  }

  /** The ZTF chain in batch mode over the probe batch on local[1]: the
    * single-threaded baseline. Restarts the session, so it runs last;
    * the JVM is warm from the workload, so one timed pass.
    */
  def scalingProbe(spark: SparkSession, work: File, seed: Long): Seq[(String, (Double, String))] = {
    spark.stop()
    val one = session(work, 1)
    val run = new ZtfRun(one, new File(work, "scaling"), seed, ZtfShape(40, ProbeAlerts, 1, 1, 0L), None)
    run.prepare()
    val ms = Probe.timeMs(run.runBatch(run.inputFile(0), new File(run.work, "timed")))
    Seq("scaling.alerts_per_s_1core" -> (ProbeAlerts / (ms / 1000.0), "1/s"))
  }

  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("alertbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Driver JVM peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return Double.NaN
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
