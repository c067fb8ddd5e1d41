package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Reports

/** Reconstruction of the reference's absent `src.preprocessing.
  * build_feature_table_for_bundle` (call site test.py:326; contract pinned
  * in SURVEY.md §2.6): one row per patient with `age`, `sex`, and the
  * latest value per analyte as `<analyte>_latest`, named by the imputer's
  * 19 `feature_names_in_`.
  *
  * - age: whole years between birth_date and the reference date
  *   (reference_date="2025-01-01", test.py:326);
  * - sex: gender M→1 / F→0 (decode fallbacks, test.py:252-258);
  * - `<analyte>_latest`: W1 latest-per-(patient, analyte) semantics over
  *   the curated observation table.
  *
  * Plan shape: IN-list filter → one exchange on patient_id →
  * latest-per-(patient_id, code_display) window → MAX-CASE pivot on the
  * same partitioning → broadcast-join the (small relative to obs) patient
  * dim.
  */
object FeatureBuilder {

  /** LOINC display name(s) → analyte feature key. The snapshot ships no
    * mapping (the module is missing); names are reconstructed from the
    * reference's queried display names (Athena_queries_for_reports.sql:
    * 10-15,91-96; AWS_Athena_queries.sql:79-93) and standard LOINC
    * long names for the remaining imputer features.
    */
  val loincMap: Map[String, Seq[String]] = Map(
    "albumin_latest" -> Seq("Albumin [Mass/volume] in Serum or Plasma"),
    "alt_latest" -> Seq("Alanine aminotransferase [Enzymatic activity/volume] in Serum or Plasma"),
    "ast_latest" -> Seq("Aspartate aminotransferase [Enzymatic activity/volume] in Serum or Plasma"),
    "bilirubin_latest" -> Seq("Bilirubin.total [Mass/volume] in Serum or Plasma"),
    "bun_latest" -> Seq("Urea nitrogen [Mass/volume] in Serum or Plasma"),
    "cholesterol_total_latest" -> Seq("Cholesterol [Mass/volume] in Serum or Plasma"),
    "creatinine_latest" -> Seq("Creatinine [Mass/volume] in Serum or Plasma"),
    "egfr_latest" -> Seq(
      "Glomerular filtration rate/1.73 sq M.predicted",
      "Glomerular filtration rate/1.73 sq M.predicted [Volume Rate/Area] in Serum, Plasma or Blood by Creatinine-based formula (MDRD)"),
    "glucose_latest" -> Seq("Glucose [Mass/volume] in Blood"),
    "hba1c_latest" -> Seq("Hemoglobin A1c/Hemoglobin.total in Blood"),
    "hdl_latest" -> Seq("Cholesterol in HDL [Mass/volume] in Serum or Plasma"),
    "hematocrit_latest" -> Seq(
      "Hematocrit [Volume Fraction] of Blood by Automated count",
      "Hematocrit [Volume Fraction] of Blood"),
    "hemoglobin_latest" -> Seq(
      "Hemoglobin [Mass/volume] in Blood"),
    "ldl_latest" -> Seq("Low Density Lipoprotein Cholesterol"),
    "protein_latest" -> Seq("Protein [Mass/volume] in Serum or Plasma"),
    "rdw_latest" -> Seq(
      "Erythrocyte distribution width [Entitic volume] by Automated count",
      "Erythrocyte distribution width [Ratio] by Automated count"),
    "triglycerides_latest" -> Seq("Triglycerides"))

  /** Latest-per-analyte wide pivot + demographics.
    *
    * @param referenceDate age anchor, "2025-01-01" in the reference.
    */
  def buildFeatureTable(patients: DataFrame, obs: DataFrame,
      referenceDate: String = "2025-01-01"): DataFrame = {
    val allNames = loincMap.values.flatten.toSeq
    val filtered = obs.filter(col("code_display").isin(allNames: _*))
    val latest = Reports.latestPerKey(filtered, "patient_id", "code_display",
      "effective_datetime", "observation_id")
    val wide = latest.groupBy(col("patient_id")).agg(
      loincMap.head match { case (out, names) =>
        max(when(col("code_display").isin(names: _*),
          col("value_quantity").cast("double"))).as(out) },
      loincMap.tail.toSeq.map { case (out, names) =>
        max(when(col("code_display").isin(names: _*),
          col("value_quantity").cast("double"))).as(out)
      }: _*)
    val ref = to_date(lit(referenceDate))
    val demo = patients.select(
      col("patient_id"),
      floor(months_between(ref, to_date(col("birth_date"))) / 12)
        .cast("double").as("age"),
      when(upper(trim(col("gender"))).startsWith("M"), 1.0)
        .when(upper(trim(col("gender"))).startsWith("F"), 0.0)
        .as("sex"))
    demo.join(wide, Seq("patient_id"), "left")
  }
}
