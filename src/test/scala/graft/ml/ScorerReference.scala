package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Column formulation of M2-M4 that [[PcaKMeans]] replaced, and the
  * `withColumn` chain `Scorer.inferAll` was built from — kept in test scope
  * only, as the parity reference for the native kernels and for the
  * scorer's output schema. The arithmetic is written in the operation
  * order the kernels keep: `s_j = (x_j - μ_j)/σ_j - pm_j`, left-fold sums,
  * and the lowest k whose distance equals `least` of them.
  */
object ScorerReference {

  /** M2+M3: `pca_y` as an array of 14 unrolled column sums. */
  def pcaY(p: PipelineParams): Column = {
    val scaled: Vector[Column] = p.features.zipWithIndex.map { case (f, j) =>
      (col(f) - p.scalerMean(j)) / p.scalerScale(j) - p.pcaMean(j)
    }
    array(p.pcaComponents.map { comp =>
      comp.zip(scaled).map { case (c, s) => s * c }.reduce(_ + _)
    }: _*)
  }

  /** M4: the `least`/`when` argmin over the squared center distances. */
  def cluster(y: Column, p: PipelineParams): Column = {
    val dists: Vector[Column] = p.kmeansCenters.map { center =>
      center.zipWithIndex.map { case (c, i) =>
        val d = element_at(y, i + 1) - c
        d * d
      }.reduce(_ + _)
    }
    val minDist = dists.reduce((a, b) => least(a, b))
    dists.zipWithIndex.reverse
      .foldLeft(lit(-1)) { case (acc, (d, k)) => when(d === minDist, k).otherwise(acc) }
  }

  def addCluster(df: DataFrame, p: PipelineParams, keepY: Boolean): DataFrame = {
    val out = df.withColumn("__y", pcaY(p)).withColumn("cluster", cluster(col("__y"), p))
    if (keepY) out.withColumnRenamed("__y", "pca_y") else out.drop("__y")
  }

  private def scoreDisease(spark: SparkSession, df: DataFrame, disease: String,
      modelPath: String): DataFrame = {
    val bc = spark.sparkContext.broadcast(Scorer.loaded(modelPath))
    val featArray = array(PipelineParams.modelColumns.map(c =>
      coalesce(col(c).cast("double"), lit(Double.NaN))): _*)
    df.withColumn(s"${disease}_prob", XgbScoreExpr.score(featArray, bc))
      .withColumn(s"${disease}_label", col(s"${disease}_prob") > 0.5)
  }

  private val questionLabs = Seq("hba1c_latest", "ldl_latest",
    "creatinine_latest", "egfr_latest", "hemoglobin_latest")

  /** The `inferAll` chain as one `withColumn` per step. */
  def inferAll(spark: SparkSession, features: DataFrame,
      modelPaths: Map[String, String], p: PipelineParams): DataFrame = {
    val withRaw = questionLabs.foldLeft(features)((acc, c) =>
      acc.withColumn(s"__raw_$c", col(c)))
    val clustered = addCluster(Scorer.impute(withRaw, p), p, keepY = false)
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
    val lab: String => Column = c => col(s"__raw_$c")
    withProbs
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
      .drop(questionLabs.map(c => s"__raw_$c"): _*)
  }
}
