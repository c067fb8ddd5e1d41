package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The reference's inference dataflow (test.py:324-343; SURVEY.md §2.5):
  * M1 median-impute → M2 standardize → M3 PCA(14) → M4 KMeans assign →
  * M5 column align → M6 XGB score → M7 risk bands → M8 doctor-question
  * rules.
  *
  * M1 is one `na.fill`; M2-M4 are two native kernels over the fitted
  * constants ([[PcaKMeans]]); M6 walks each broadcast tree ensemble in a
  * JVM loop per row ([[XgbScoreExpr]]). All of it is narrow and runs in
  * one whole-stage-codegen span: zero shuffles, linear in patients.
  * A three-model [[inferAll]] plans about 330 optimized-plan expression
  * nodes (MlSpec guards ≤ 600): planning, not the rows, dominates its cost
  * at clinic scale.
  */
object Scorer {

  /** M1: median imputation — fill each feature column with the stored
    * median (sklearn SimpleImputer(strategy='median') statistics_).
    */
  def impute(df: DataFrame, p: PipelineParams = PipelineParams.default): DataFrame =
    df.na.fill(p.features.zip(p.imputerMedians).toMap)

  /** M2+M3: the 14-element PCA projection of the 19 features, as the
    * native [[PcaProject]] kernel over one array of them.
    */
  def pcaY(p: PipelineParams = PipelineParams.default): Column =
    Bridge.column(PcaProject(Bridge.expression(
      array(p.features.map(f => col(f).cast("double")): _*)), p))

  /** M4: the nearest k-means center of a `pca_y` column ([[NearestCenter]];
    * ties go to the lower k, as sklearn's argmin; -1 for a null feature).
    */
  def nearestCenter(y: Column, p: PipelineParams = PipelineParams.default): Column =
    Bridge.column(NearestCenter(Bridge.expression(y), p))

  /** M2+M3+M4 as one column: the `cluster` int of the 19 features. */
  def cluster(p: PipelineParams = PipelineParams.default): Column =
    nearestCenter(pcaY(p), p)

  /** M2+M3+M4: adds the `cluster` int column (standardize → PCA(14) →
    * nearest of the 4 k-means centers; see [[PcaKMeans]]).
    */
  def addCluster(df: DataFrame, p: PipelineParams = PipelineParams.default): DataFrame =
    addCluster(df, p, keepY = false)

  /** As [[addCluster]]; `keepY = true` additionally retains the 14-dim PCA
    * projection as an array column `pca_y` before `cluster` (used by the
    * oracle suite to pin the projection math, and by callers that want the
    * embedding).
    */
  def addCluster(df: DataFrame, p: PipelineParams, keepY: Boolean): DataFrame =
    if (keepY) df.withColumn("pca_y", pcaY(p)).withColumn("cluster", nearestCenter(col("pca_y"), p))
    else df.withColumn("cluster", cluster(p))

  /** M5: align to the 14 model columns (feature_columns.json). */
  def align(df: DataFrame): DataFrame =
    df.select(col("patient_id") +: PipelineParams.modelColumns.map(col): _*)

  /** The 14 model columns as one double array, null → NaN (missing), the
    * layout [[XgbScoreExpr]] reads.
    */
  private def modelFeatures: Column = array(PipelineParams.modelColumns.map(c =>
    coalesce(col(c).cast("double"), lit(Double.NaN))): _*)

  /** M6: the probability of one disease model over a model-feature array
    * column. Scoring is the [[XgbScoreExpr]] native expression — the tree
    * walk runs inside whole-stage codegen on the unsafe feature array, and
    * the model ships once per executor as a broadcast.
    */
  private def diseaseProb(spark: SparkSession, features: Column,
      modelPath: String): Column =
    XgbScoreExpr.score(features, spark.sparkContext.broadcast(loaded(modelPath)))

  /** The parsed model of each model file, kept while the file's
    * modification time and size stay the same: a 400-tree model takes
    * 28-53 ms to parse, and [[inferAll]] scores three per call. A
    * rewritten file is parsed again.
    */
  private val models =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), XgbModel)]

  private[ml] def loaded(path: String): XgbModel = {
    val f = new java.io.File(path)
    val stamp = (f.lastModified, f.length)
    models.compute(f.getAbsolutePath, (_, cur) =>
      if (cur != null && cur._1 == stamp) cur else stamp -> XgbModel.load(path))._2
  }

  /** M7: risk bands (classify_risk, test.py:157-163). */
  def riskBand(prob: Column): Column =
    when(prob < 0.25, "Low").when(prob < 0.5, "Moderate").otherwise("High")

  /** M8: doctor-question rules (generate_doctor_questions, test.py:196-239)
    * as boolean flag columns; rendering strings is presentation. The lab
    * thresholds read the RAW latest labs (pd.notna-guarded in the
    * reference) — NOT the imputed values, or every absent analyte would
    * inherit the population median and trip the rule.
    */
  def questionFlags(df: DataFrame, lab: String => Column = col): DataFrame =
    df.select(col("*") +: flagColumns(d => col(s"${d}_prob"), lab): _*)

  /** The four M8 flags, `q_prediabetes`, `q_cvd`, `q_ckd`, `q_anemia`, from
    * each disease's probability column and the raw labs.
    */
  private def flagColumns(prob: String => Column, lab: String => Column): Seq[Column] = Seq(
    ((coalesce(prob("predm"), lit(0.0)) >= 0.5) ||
      (lab("hba1c_latest").isNotNull && lab("hba1c_latest") >= 5.7)).as("q_prediabetes"),
    ((coalesce(prob("cvd"), lit(0.0)) >= 0.5) ||
      (lab("ldl_latest").isNotNull && lab("ldl_latest") >= 130)).as("q_cvd"),
    ((coalesce(prob("ckd"), lit(0.0)) >= 0.5) ||
      (lab("creatinine_latest").isNotNull && lab("creatinine_latest") > 1.3) ||
      (lab("egfr_latest").isNotNull && lab("egfr_latest") < 60)).as("q_ckd"),
    ((coalesce(prob("anemia"), lit(0.0)) >= 0.5) ||
      (lab("hemoglobin_latest").isNotNull && lab("hemoglobin_latest") < 12)).as("q_anemia"))

  /** Raw lab columns M8 needs alongside the imputed/aligned model inputs. */
  private val questionLabs = Seq("hba1c_latest", "ldl_latest",
    "creatinine_latest", "egfr_latest", "hemoglobin_latest")

  /** Diseases with a probability column in every [[inferAll]] output. */
  private val diseases = Seq("predm", "cvd", "ckd", "anemia")

  /** Full pipeline: wide 19-col feature frame (+patient_id) → clustered,
    * aligned, scored for every model present in `modelPaths` (the reference
    * ships cvd/ckd/anemia; predm is absent — test.py:477 — so the surface
    * accepts any subset; q_* flags treat a missing model's prob as 0).
    *
    * Output columns: `patient_id`, the 14 model columns (imputed, with
    * `cluster`), then `<d>_prob` and `<d>_label` (prob > 0.5) for each
    * entry of `modelPaths` in its order, a null `<d>_prob` for each of
    * predm/cvd/ckd/anemia without a model, and the four `q_*` flags.
    * Six projections over `features` (one is [[impute]]'s `na.fill`); the
    * model-feature array is built once per row for every model.
    */
  def inferAll(spark: SparkSession, features: DataFrame,
      modelPaths: Map[String, String],
      p: PipelineParams = PipelineParams.default): DataFrame = {
    val raw: String => String = c => s"__raw_$c"
    val rawLabs = questionLabs.map(c => col(raw(c)))
    val model = PipelineParams.modelColumns.map(col)
    val models = modelPaths.toSeq
    // M1 over the features, carrying the raw (pre-impute) labs for M8
    val imputed = impute(features.select(col("*") +: questionLabs.map(c => col(c).as(raw(c))): _*), p)
    // M2-M5: the 13 imputed model columns, cluster, and the feature array
    val ready = imputed.select((col("patient_id") +: model.init :+ cluster(p).as("cluster")) ++
      rawLabs: _*)
      .select((col("patient_id") +: model) ++ rawLabs :+ modelFeatures.as("__feat"): _*)
    // M6: one probability per model
    val scored = ready.select((col("patient_id") +: model) ++ rawLabs ++
      models.map { case (d, path) => diseaseProb(spark, col("__feat"), path).as(s"${d}_prob") }: _*)
    // labels (prob > 0.5, test.py:330), null probabilities of absent
    // models, M8 flags
    val prob: String => Column = d =>
      if (modelPaths.contains(d)) col(s"${d}_prob") else lit(null).cast("double")
    scored.select((col("patient_id") +: model) ++
      models.flatMap { case (d, _) => Seq(col(s"${d}_prob"), (col(s"${d}_prob") > 0.5).as(s"${d}_label")) } ++
      diseases.filterNot(modelPaths.contains).map(d => prob(d).as(s"${d}_prob")) ++
      flagColumns(prob, lab => col(raw(lab))): _*)
  }
}
