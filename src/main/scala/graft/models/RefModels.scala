package graft.models

import java.io.File

import graft.models.SklearnModels.{ForestClassifier, GradientBoostingBinary, PcaTransform, RobustScaler}

/** Lazily-loaded bank of the reference-bundled trained models
  * (data/models/README.md lists them). Every entry is an Option: when
  * the artifact directory is absent (production deployments relocate it
  * via GRAFT_MODELS_DIR), callers fall back to the documented
  * [[StubModels]] stand-ins, keeping every pipeline runnable.
  */
object RefModels {

  /** Artifact root; GRAFT_MODELS_DIR overrides the default location of
    * the reference checkout's bundle.
    */
  lazy val dir: String = sys.env.getOrElse("GRAFT_MODELS_DIR",
    "/root/reference/fink_science/data/models")

  private def existing(rel: String): Option[File] = {
    val f = new File(dir, rel)
    if (f.isFile) Some(f) else None
  }

  private def opt[T](rel: String)(load: File => T): Option[T] =
    existing(rel).flatMap { f =>
      try Some(load(f))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"RefModels: failed to load $rel: $e")
          None
      }
    }

  /** Anomaly AAD beta forests as (fid1, fid2) scorers. */
  lazy val anomalyBeta: Option[(Scorer, Scorer)] =
    opt("anomaly_detection/anomaly_detection_forest_AAD_beta.zip")(f =>
      AnomalyModels.load(f.getPath))

  /** Active-learning-loop early-SN-Ia forest over the 12 sigmoid
    * features (a,b,c,snratio,mse,nrise per band) — feature_names_in_
    * matches our SigmoidFit feature layout.
    */
  lazy val alSnia: Option[ForestClassifier] =
    opt("for_al_loop/model_20241122_wlimits.pkl")(f =>
      SklearnModels.forestClassifier(PickleReader.load(f.getPath)))

  /** alSnia as a P(true) scorer. */
  lazy val alSniaScorer: Option[Scorer] =
    alSnia.map(f => SklearnModels.ForestScorer(f, f.classes.indexOf(true)))

  /** Kilonova bundle: RobustScaler + RF over 8 features (per band:
    * npoints, coeff1, residuo, maxflux).
    */
  lazy val kilonova: Option[(RobustScaler, ForestClassifier)] =
    opt("KN_model_1PC.pkl")(f =>
      SklearnModels.scaledForest(PickleReader.load(f.getPath)))

  /** Microlensing LIA artifacts (47-feature space). */
  lazy val mulensForest: Option[ForestClassifier] =
    opt("rf.sav")(f => SklearnModels.forestClassifier(PickleReader.load(f.getPath)))
  lazy val mulensPca: Option[PcaTransform] =
    opt("pca.sav")(f => SklearnModels.pca(PickleReader.load(f.getPath)))

  /** Superluminous-SN XGBoost classifier (27 features; the pickled
    * xgboost sklearn wrapper carries the booster as an XGBoost-UBJSON
    * snapshot plus the training-time optimal_threshold).
    */
  lazy val superluminousXgb: Option[XgbBinaryModel] =
    opt("superluminous_classifier.joblib")(f =>
      XgbUbjson.loadClassifierPickle(f.getPath))

  /** Orphan-afterglow gradient-boosting classifier (12 features). */
  lazy val orphans: Option[GradientBoostingBinary] =
    opt("model_orphans.pkl")(f =>
      SklearnModels.gradientBoostingBinary(PickleReader.load(f.getPath)))

  /** SuperNNova bundles (model.pt + data_norm.json directories). */
  private def snnDir(rel: String): Option[SnnModel] = {
    val d = new File(dir, rel)
    if (!new File(d, "model.pt").isFile) None
    else try Some(SnnModel.load(d.getPath))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"RefModels: failed to load $rel: $e")
        None
    }
  }
  lazy val snnSniaVsNonia: Option[SnnModel] = snnDir("snn_models/snn_snia_vs_nonia")
  lazy val snnSnVsAll: Option[SnnModel] = snnDir("snn_models/snn_sn_vs_all")
  lazy val snnElasticcSnVsOther: Option[SnnModel] =
    snnDir("snn_models/elasticc_binary_broad/SN_vs_other")

  /** Per-band kilonova PC sets from the bundled KN_PC_all_bands.npy
    * (object-npy wrapping a dict: LSST band letter -> 10 x 51 PC
    * matrix). Parsed natively ([[NpyReader]] + the pickle VM).
    */
  lazy val kilonovaBandPcs: Option[Map[String, Array[Array[Double]]]] =
    opt("KN_PC_all_bands.npy") { f =>
      val payload = NpyReader.load(f.getPath) match {
        case NpyReader.ObjectNpy(nd: PickleReader.NDArray) => nd.objectsOrDie.head
        case NpyReader.ObjectNpy(other) => other
        case other => sys.error(s"unexpected npy payload: $other")
      }
      payload.asInstanceOf[scala.collection.mutable.LinkedHashMap[
          Any @unchecked, Any @unchecked]]
        .map { case (k, v) =>
          val nd = v.asInstanceOf[PickleReader.NDArray]
          val flat = nd.doubles
          val Vector(rows, cols) = nd.shape
          k.asInstanceOf[String] ->
            Array.tabulate(rows)(i => flat.slice(i * cols, (i + 1) * cols))
        }.toMap
    }

  /** Kilonova principal components (3 x 401 on the kndetect grid),
    * parsed from the bundled mixed_pcs.csv (first row is a sample-index
    * header).
    */
  lazy val kilonovaPcs: Option[Array[Array[Double]]] =
    opt("mixed_pcs.csv") { f =>
      val lines = scala.io.Source.fromFile(f)
      try lines.getLines().drop(1)
        .map(_.split(',').map(_.toDouble)).toArray
      finally lines.close()
    }

  /** CATS broad classifier (rubin/cats/processor.py:36-38). The
    * reference loads the TF SavedModel checkpoint; the sibling serial
    * `.keras` archive carries byte-identical weights (verified offset-
    * for-offset against variables.data-00000-of-00001) plus the
    * architecture JSON, so we parse that.
    */
  lazy val cats: Option[CatsModel] =
    opt("cats_models/cats_small_nometa_serial.keras")(f =>
      CatsModel.load(f.getPath))

  /** CATS as a padded-sequence scorer (falls back to the documented
    * stand-in when the archive is absent).
    */
  lazy val catsSeqScorer: Array[Array[Float]] => Array[Double] =
    cats.map(m => (x: Array[Array[Float]]) => m.forward(x))
      .getOrElse(StubModels.seqSoftmax("cats", 5))

  /** Serialization-light handle for [[catsSeqScorer]]: a task closure
    * capturing this object ships only the module reference; the ~7 MiB
    * CNN weights are loaded lazily once per executor JVM (RefModels'
    * lazy vals are per-JVM singletons) on first call, instead of riding
    * every stage's task binary — the `Broadcasting large task binary
    * with size 7.2 MiB` hygiene flag at cluster scale.
    */
  object CatsScorer extends (Array[Array[Float]] => Array[Double])
      with Serializable {
    def apply(x: Array[Array[Float]]): Array[Double] = catsSeqScorer(x)
  }

  /** Batched sibling of [[CatsScorer]] (same serialization-light
    * executor-lazy pattern): scores a whole partition batch through
    * [[CatsModel.forwardBatch]] — one call per batch like the
    * reference's Arrow-batch pandas UDF, bit-identical to mapping the
    * per-row scorer. Falls back to mapping the stand-in when the
    * archive is absent.
    */
  object CatsBatchScorer
      extends (Array[Array[Array[Float]]] => Array[Array[Double]])
      with Serializable {
    def apply(xs: Array[Array[Array[Float]]]): Array[Array[Double]] =
      cats match {
        case Some(m) => m.forwardBatch(xs)
        case None => xs.map(StubModels.seqSoftmax("cats", 5))
      }
  }
}
