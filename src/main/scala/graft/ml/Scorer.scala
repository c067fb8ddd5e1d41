package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's inference dataflow (test.py:324-343; SURVEY.md §2.5):
  * M1 median-impute → M2 standardize → M3 PCA(14) → M4 KMeans assign →
  * M5 column align → M6 XGB score → M7 risk bands → M8 doctor-question
  * rules.
  *
  * M1-M4 are pure column arithmetic with broadcast constants — fully
  * codegen'd, zero shuffles, scales linearly with patients. M6 evaluates
  * the broadcast tree ensembles in a JVM loop per row.
  */
object Scorer {

  /** M1: median imputation — fill each feature column with the stored
    * median (sklearn SimpleImputer(strategy='median') statistics_).
    */
  def impute(df: DataFrame, p: PipelineParams = PipelineParams.default): DataFrame =
    df.na.fill(p.features.zip(p.imputerMedians).toMap)

  /** M2+M3+M4 as one projection: standardized vector → PCA projection →
    * argmin distance over the 4 broadcast centers → `cluster` int column.
    * Expression structure: pca_y_i = Σ_j C[i][j] * ((x_j - μ_j)/σ_j - pm_j);
    * dist²_k = Σ_i (y_i - c_k_i)²; cluster = argmin_k (ties → lower k,
    * matching sklearn's argmin).
    */
  def addCluster(df: DataFrame, p: PipelineParams = PipelineParams.default): DataFrame =
    addCluster(df, p, keepY = false)

  /** As [[addCluster]]; `keepY = true` additionally retains the 14-dim PCA
    * projection as an array column `pca_y` (used by the oracle suite to
    * pin the projection math, and by callers that want the embedding).
    */
  def addCluster(df: DataFrame, p: PipelineParams, keepY: Boolean): DataFrame = {
    val scaled: Vector[Column] = p.features.zipWithIndex.map { case (f, j) =>
      (col(f) - p.scalerMean(j)) / p.scalerScale(j) - p.pcaMean(j)
    }
    val pcaY: Vector[Column] = p.pcaComponents.map { comp =>
      comp.zip(scaled).map { case (c, s) => s * c }.reduce(_ + _)
    }
    val withY = df.withColumn("__y", array(pcaY: _*))
    val dists: Vector[Column] = p.kmeansCenters.map { center =>
      center.zipWithIndex.map { case (c, i) =>
        val d = element_at(col("__y"), i + 1) - c
        d * d
      }.reduce(_ + _)
    }
    val minDist = dists.reduce((a, b) => least(a, b))
    val cluster = dists.zipWithIndex.reverse
      .foldLeft(lit(-1)) { case (acc, (d, k)) => when(d === minDist, k).otherwise(acc) }
    val out = withY.withColumn("cluster", cluster)
    if (keepY) out.withColumnRenamed("__y", "pca_y") else out.drop("__y")
  }

  /** M5: align to the 14 model columns (feature_columns.json). */
  def align(df: DataFrame): DataFrame =
    df.select(col("patient_id") +: PipelineParams.modelColumns.map(col): _*)

  /** M6: score one disease model over the aligned frame; adds
    * `<disease>_prob` (double) and `<disease>_label` (prob > threshold,
    * test.py:330). Scoring is the [[XgbScoreExpr]] native expression —
    * the tree walk runs inside whole-stage codegen on the unsafe feature
    * array (the previous Scala UDF boxed a Seq[Double] per row and split
    * the codegen span).
    */
  def scoreDisease(spark: SparkSession, df: DataFrame, disease: String,
      modelPath: String, threshold: Double = 0.5): DataFrame = {
    val model = loaded(modelPath)
    val bc = spark.sparkContext.broadcast(model)
    val featArray = array(PipelineParams.modelColumns.map(c =>
      coalesce(col(c).cast("double"), lit(Double.NaN))): _*)
    df.withColumn(s"${disease}_prob", XgbScoreExpr.score(featArray, bc))
      .withColumn(s"${disease}_label", col(s"${disease}_prob") > threshold)
  }

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
  def questionFlags(df: DataFrame, lab: String => Column = col): DataFrame = df
    .withColumn("q_prediabetes",
      (coalesce(col("predm_prob"), lit(0.0)) >= 0.5) ||
        (lab("hba1c_latest").isNotNull && lab("hba1c_latest") >= 5.7))
    .withColumn("q_cvd",
      (coalesce(col("cvd_prob"), lit(0.0)) >= 0.5) ||
        (lab("ldl_latest").isNotNull && lab("ldl_latest") >= 130))
    .withColumn("q_ckd",
      (coalesce(col("ckd_prob"), lit(0.0)) >= 0.5) ||
        (lab("creatinine_latest").isNotNull && lab("creatinine_latest") > 1.3) ||
        (lab("egfr_latest").isNotNull && lab("egfr_latest") < 60))
    .withColumn("q_anemia",
      (coalesce(col("anemia_prob"), lit(0.0)) >= 0.5) ||
        (lab("hemoglobin_latest").isNotNull && lab("hemoglobin_latest") < 12))

  /** Raw lab columns M8 needs alongside the imputed/aligned model inputs. */
  private val questionLabs = Seq("hba1c_latest", "ldl_latest",
    "creatinine_latest", "egfr_latest", "hemoglobin_latest")

  /** Full pipeline: wide 19-col feature frame (+patient_id) → clustered,
    * aligned, scored for every model present in `modelPaths` (the reference
    * ships cvd/ckd/anemia; predm is absent — test.py:477 — so the surface
    * accepts any subset; q_* flags treat a missing model's prob as 0).
    */
  def inferAll(spark: SparkSession, features: DataFrame,
      modelPaths: Map[String, String],
      p: PipelineParams = PipelineParams.default): DataFrame = {
    // carry the raw (pre-impute) labs through for the M8 rules
    val withRaw = questionLabs.foldLeft(features)((acc, c) =>
      acc.withColumn(s"__raw_$c", col(c)))
    val clustered = addCluster(impute(withRaw, p), p)
    val ready = clustered.select(
      (col("patient_id") +: PipelineParams.modelColumns.map(col)) ++
        questionLabs.map(c => col(s"__raw_$c")): _*)
    val scored = modelPaths.foldLeft(ready) { case (acc, (disease, path)) =>
      scoreDisease(spark, acc, disease, path)
    }
    val withProbs = Seq("predm", "cvd", "ckd", "anemia").foldLeft(scored) { (acc, d) =>
      if (acc.columns.contains(s"${d}_prob")) acc
      else acc.withColumn(s"${d}_prob", lit(null).cast("double"))
    }
    questionFlags(withProbs, lab => col(s"__raw_$lab"))
      .drop(questionLabs.map(c => s"__raw_$c"): _*)
  }
}
