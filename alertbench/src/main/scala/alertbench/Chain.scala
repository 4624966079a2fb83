package alertbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.alerts.AlertCols
import graft.operators._
import graft.streaming.AlertPipeline
import graft.xmatch.{CdsXmatch, CrossMatch, XmatchService}

/** A SIMBAD-like crossmatch service answering from the generator's own
  * ground truth, so the remote-crossmatch module runs its real path
  * (per-partition call, closest-match dedup, join) offline.
  */
final case class SimbadService(seed: Long) extends XmatchService {
  def query(rows: Seq[(Long, Double, Double)], catalog: String,
      radiusArcsec: Double, cols: Seq[String]): Seq[(Long, Double, Map[String, String])] =
    rows.flatMap { case (id, _, _) =>
      Gen.simbadType(seed, id).map(t => (id, 0.4, cols.map(_ -> t).toMap))
    }
}

/** The ZTF enrichment DAG of the library's full-pipeline integration
  * spec, in dependency order, plus the TNS-style label crossmatch and
  * the gated hostless detection that consumes its `tnsclass`. Modules
  * keep their default parameters, except kilonova, which receives a
  * 401-sample component set (see [[Chain.kilonovaComponents]]).
  */
object Chain {

  final case class Step(name: String, run: DataFrame => DataFrame)

  val HistoryFields: Seq[String] = Seq("jd", "magpsf", "sigmapsf", "fid",
    "diffmaglim", "distnr", "magnr", "sigmagnr", "isdiffpos", "ra", "dec")

  val HostlessFinkClasses: Seq[String] =
    Seq("SN candidate", "Early SN Ia candidate", "Kilonova candidate")
  val HostlessTnsClasses: Seq[String] = Seq("SN", "SN Ia", "SN II", "SN Ibc", "SLSN-I")
  val TnsRadiusArcsec = 1.5

  /** Deterministic 3 x 401 components on the kndetect grid (0.25 d steps
    * over +-50 d): the production shape of the kilonova bundle's
    * mixed_pcs.csv, which is not in the repository.
    */
  val kilonovaComponents: Array[Array[Double]] = Array.tabulate(3, 401) { (k, i) =>
    val t = (i - 200) * 0.25
    k match {
      case 0 => math.exp(-t * t / 200.0)
      case 1 => t / 50.0 * math.exp(-t * t / 400.0)
      case _ => math.cos(t / 8.0) * math.exp(-math.abs(t) / 30.0)
    }
  }

  val stepNames: Seq[String] = Seq("with_history", "cdsxmatch", "xmatch_tns",
    "nalerthist", "roid", "transient_features", "fast_transient_rate",
    "ad_features", "anomaly", "rf_snia", "snn_snia_vs_nonia", "snn_sn_vs_all",
    "kilonova", "microlensing", "finkclass", "standardized_flux",
    "extreme_state", "superluminous", "hostless")

  def steps(spark: SparkSession, seed: Long, tns: DataFrame,
      blazars: DataFrame): Seq[Step] = {
    val simbad = SimbadService(seed)
    val byName: Map[String, DataFrame => DataFrame] = Map(
      "with_history" -> (df => AlertCols.withHistory(df, HistoryFields)),
      "cdsxmatch" -> (df => CdsXmatch.xmatchCds(spark, df, simbad, "simbad",
        colsOut = Seq("cdsxmatch"))),
      "xmatch_tns" -> (df => CrossMatch.label(df, tns, TnsRadiusArcsec, "candid",
        "candidate.ra", "candidate.dec", "ra", "declination", "type", "tnsclass")),
      "nalerthist" -> (df => Nalerthist(df)),
      "roid" -> (df => Asteroids(df)),
      "transient_features" -> (df => TransientFeatures(df)),
      "fast_transient_rate" -> (df => FastTransientRate(spark, df, n = 500, seed = 7L)),
      "ad_features" -> (df => AdFeatures(spark, df)),
      "anomaly" -> (df => Classifiers.anomaly(spark, df)),
      "rf_snia" -> (df => Classifiers.rfSnia(spark, df)),
      "snn_snia_vs_nonia" -> (df => Classifiers.snn(spark, df)),
      "snn_sn_vs_all" -> (df => Classifiers.snn(spark, df, outCol = "snn_sn_vs_all")),
      "kilonova" -> (df => Classifiers.kilonova(spark, df, components = kilonovaComponents)),
      "microlensing" -> (df => Classifiers.microlensing(spark, df)),
      "finkclass" -> (df => FinkClassification(df
        .withColumn("rf_snia_vs_nonia", col("pIa"))
        .withColumn("rf_kn_vs_nonkn", col("pKNe"))
        .withColumn("tracklet", lit("")))),
      "standardized_flux" -> (df => StandardizedFlux(df, blazars)),
      "extreme_state" -> (df => ExtremeState(spark, df, blazars)),
      "superluminous" -> (df => ExtendedClassifiers.superluminous(spark, df)),
      "hostless" -> (df => HostlessDetection.gated(spark, df,
        HostlessFinkClasses, HostlessTnsClasses)))
    stepNames.map(n => Step(n, byName(n)))
  }

  /** The whole chain as one module, composed by the library. */
  def enrich(steps: Seq[Step]): AlertPipeline.Module =
    AlertPipeline.pipeline(steps.map(_.run): _*)

  /** The same chain with each module call timed into `record`. */
  def enrichTimed(steps: Seq[Step], record: (String, Long) => Unit): AlertPipeline.Module =
    AlertPipeline.pipeline(steps.map { s =>
      (df: DataFrame) => {
        val t0 = System.nanoTime()
        val out = s.run(df)
        record(s.name, System.nanoTime() - t0)
        out
      }
    }: _*)

  /** Columns the sink keeps: everything but the cutout stamps. */
  def sinkView(df: DataFrame): DataFrame =
    df.drop("cutoutScience", "cutoutTemplate", "cutoutDifference")

  /** Declared output columns and their types (the stable-type check). */
  val declaredTypes: Seq[(String, String)] = Seq(
    "cdsxmatch" -> "string", "tnsclass" -> "string", "nalerthist" -> "int",
    "roid" -> "int", "faint" -> "boolean", "real" -> "boolean",
    "stationary" -> "boolean", "mag_rate" -> "double", "from_upper" -> "boolean",
    "lc_features" -> "map<int,map<string,double>>", "anomaly_score" -> "double",
    "pIa" -> "double", "pIa_is_stub" -> "boolean",
    "snn_snia_vs_nonia" -> "double", "snn_sn_vs_all" -> "double",
    "pKNe" -> "double", "mulens" -> "double", "finkclass" -> "string",
    "cstd_flux" -> "array<double>", "blazar_stats" -> "map<string,float>",
    "superluminous_score" -> "double", "kstest_static" -> "array<float>")
}
