package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's two clinical report queries (Athena_queries_for_reports.sql)
  * re-expressed as data-driven DataFrame builders.
  *
  * Shape (both reports, `Athena_queries_for_reports.sql:3-76` and `:80-152`):
  *   1. filter observations to an IN-list of analyte display names;
  *   2. latest-per-(patient, analyte) via ROW_NUMBER … ORDER BY time DESC, rn=1;
  *   3. pivot long→wide via MAX(CASE WHEN analyte = … THEN value END) GROUP BY
  *      patient (exactly the reference's MAX-of-CASE, including its
  *      MAX-over-lowercased-text branch for qualitative results, `:106-108`);
  *   4. CASE banding per analyte + an overall OR-of-thresholds CASE.
  *
  * Banding is table-driven ([[Band]]) so the CVD/T2D reports and the wellness
  * layer share one `when`-chain generator. Note the reference bands use
  * integer BETWEEN bounds (e.g. `hdl BETWEEN 40 AND 59`,
  * `Athena_queries_for_reports.sql:39`) which leave gaps for fractional
  * values — we reproduce those semantics verbatim rather than "fixing" them,
  * since parity is defined by the reference.
  *
  * Scale: one exchange, hash-partitioned on the patient, serves both the
  * latest-per-(patient, analyte) window and the group-by-patient pivot.
  * All of one patient's filtered rows land in one task (a window keyed on
  * (patient, analyte) spread them over several), which matters only for a
  * patient with millions of observations. Banding is pure projection
  * (whole-stage codegen).
  */
object Reports {

  /** One CASE arm: applied in order, first match wins (SQL CASE semantics). */
  final case class Band(label: String, cond: Column => Column)

  /** when-chain generator: CASE WHEN c IS NULL THEN nullLabel WHEN … END */
  def banded(c: Column, nullLabel: String, bands: Seq[Band]): Column = {
    val start = when(c.isNull, nullLabel)
    bands.foldLeft(start)((acc, b) => acc.when(b.cond(c), b.label))
  }

  /** Step 2: latest row per (idCol, keyCol) by (timeCol desc, tiebreak desc).
    * The reference idiom at Athena_queries_for_reports.sql:8,29.
    *
    * The rows are hash-partitioned on `idCol` alone before the window: that
    * partitioning also satisfies the `(idCol, keyCol)` window and the
    * `groupBy(idCol)` pivot every caller runs next, so the pair plans one
    * exchange instead of two.
    */
  def latestPerKey(obs: DataFrame, idCol: String, keyCol: String,
      timeCol: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(idCol), col(keyCol))
      .orderBy(col(timeCol).desc, col(tiebreak).desc)
    obs.repartition(col(idCol))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Steps 1-3 for numeric analytes: IN-list filter, latest-per-key, then
    * MAX(CASE WHEN key=name THEN TRY_CAST(value AS DOUBLE) END) pivot.
    * `analytes` maps output column name -> key value.
    */
  def pivotLatest(obs: DataFrame, idCol: String, keyCol: String,
      valCol: String, timeCol: String, tiebreak: String,
      analytes: Seq[(String, String)]): DataFrame = {
    val filtered = obs.filter(col(keyCol).isin(analytes.map(_._2): _*))
    val latest = latestPerKey(filtered, idCol, keyCol, timeCol, tiebreak)
    latest.groupBy(col(idCol))
      .agg(
        analytes.map { case (out, key) =>
          max(when(col(keyCol) === key, col(valCol).try_cast("double"))).as(out)
        }.head,
        analytes.map { case (out, key) =>
          max(when(col(keyCol) === key, col(valCol).try_cast("double"))).as(out)
        }.tail: _*)
  }

  /** CVD report bands — Athena_queries_for_reports.sql:36-66, verbatim. */
  val hdlBands = Seq(
    Band("Protective", _ >= 60),
    Band("Normal", _.between(40, 59)),
    Band("Low", _ < 40))
  val ldlBands = Seq(
    Band("High", _ >= 160),
    Band("Borderline", _.between(130, 159)),
    Band("Near optimal", _.between(100, 129)),
    Band("Optimal", _ < 100))
  val trigBands = Seq(
    Band("High", _ >= 200),
    Band("Borderline", _.between(150, 199)),
    Band("Normal", _ < 150))
  val totalCholBands = Seq(
    Band("High", _ >= 240),
    Band("Borderline", _.between(200, 239)),
    Band("Desirable", _ < 200))

  /** Full CVD report (Athena_queries_for_reports.sql:3-76) over any
    * observation-shaped frame. `names` maps hdl/ldl/trig/total_chol to the
    * key values present in `keyCol` (for the curated healthcare tables these
    * are the four LOINC display names at `:10-15`).
    */
  def cvdReport(obs: DataFrame, idCol: String, keyCol: String, valCol: String,
      timeCol: String, tiebreak: String,
      hdl: String, ldl: String, trig: String, totalChol: String): DataFrame = {
    val piv = pivotLatest(obs, idCol, keyCol, valCol, timeCol, tiebreak,
      Seq("hdl" -> hdl, "ldl" -> ldl, "trig" -> trig, "total_chol" -> totalChol))
    piv.select(
      col(idCol).as("patient"),
      col("hdl"),
      banded(col("hdl"), "n/a", hdlBands).as("hdl_status"),
      col("ldl"),
      banded(col("ldl"), "n/a", ldlBands).as("ldl_status"),
      col("trig"),
      banded(col("trig"), "n/a", trigBands).as("triglycerides_status"),
      col("total_chol"),
      banded(col("total_chol"), "n/a", totalCholBands).as("total_chol_status"),
      // Overall risk: OR-of-thresholds, Athena_queries_for_reports.sql:68-74
      when(col("ldl") >= 130 || col("trig") >= 150 || col("hdl") < 40 ||
        col("total_chol") >= 240, "At risk")
        .when(col("hdl").isNull && col("ldl").isNull && col("trig").isNull &&
          col("total_chol").isNull, "Insufficient data")
        .otherwise("Likely normal").as("overall_cvd_risk"))
  }

  /** T2D/prediabetes report (Athena_queries_for_reports.sql:80-152): numeric
    * a1c + glucose pivots plus a MAX-over-LOWER(TRIM(text)) qualitative pivot
    * (`:106-108`), then banding with diagnostic-priority overall CASE.
    * Thresholds parameterized so the same builder serves the healthcare
    * LOINC values and the oracle-suite mapping.
    */
  def t2dReport(obs: DataFrame, idCol: String, keyCol: String,
      numCol: String, txtCol: String, timeCol: String, tiebreak: String,
      a1cKey: String, glucoseKey: String, urineKeys: Seq[String],
      a1cDiab: Double = 6.5, a1cPre: Double = 5.7,
      gluDiab: Double = 126, gluPreLo: Double = 100, gluPreHi: Double = 125,
      gluNormLo: Double = 70, gluNormHi: Double = 99,
      posTxt: Seq[String] = Seq("positive", "pos"),
      traceTxt: Seq[String] = Seq("trace"),
      negTxt: Seq[String] = Seq("negative", "neg")): DataFrame = {
    val keys = Seq(a1cKey, glucoseKey) ++ urineKeys
    val latest = latestPerKey(obs.filter(col(keyCol).isin(keys: _*)),
      idCol, keyCol, timeCol, tiebreak)
    val piv = latest.groupBy(col(idCol)).agg(
      max(when(col(keyCol) === a1cKey, col(numCol).try_cast("double"))).as("a1c"),
      max(when(col(keyCol) === glucoseKey, col(numCol).try_cast("double"))).as("glucose_blood"),
      max(when(col(keyCol).isin(urineKeys: _*), lower(trim(col(txtCol)))))
        .as("glucose_urine_txt"))
    piv.select(
      col(idCol).as("patient"),
      col("a1c"),
      when(col("a1c").isNull, "n/a")
        .when(col("a1c") >= a1cDiab, "Diabetes")
        .when(col("a1c") >= a1cPre, "Prediabetes")
        .otherwise("Normal").as("a1c_status"),
      col("glucose_blood"),
      when(col("glucose_blood").isNull, "n/a")
        .when(col("glucose_blood") >= gluDiab, "Diabetes")
        .when(col("glucose_blood").between(gluPreLo, gluPreHi), "Prediabetes")
        .when(col("glucose_blood").between(gluNormLo, gluNormHi), "Normal")
        .when(col("glucose_blood") < gluNormLo, "Low").as("glucose_blood_status"),
      col("glucose_urine_txt"),
      when(col("glucose_urine_txt").isNull, "n/a")
        .when(col("glucose_urine_txt").isin(posTxt: _*), "Abnormal")
        .when(col("glucose_urine_txt").isin(traceTxt: _*), "Borderline")
        .when(col("glucose_urine_txt").isin(negTxt: _*), "Normal")
        .otherwise("n/a").as("glucose_urine_status"),
      when(col("a1c") >= a1cDiab || col("glucose_blood") >= gluDiab ||
        col("glucose_urine_txt").isin(posTxt: _*),
        "Diabetes likely (lab criteria met)")
        .when(col("a1c").between(a1cPre, a1cDiab - 0.1) ||
          col("glucose_blood").between(gluPreLo, gluPreHi) ||
          col("glucose_urine_txt").isin(traceTxt: _*),
          "Prediabetes / Elevated risk")
        .when(col("a1c").isNull && col("glucose_blood").isNull &&
          col("glucose_urine_txt").isNull, "Insufficient data")
        .otherwise("Normal").as("overall_t2d_risk"))
  }
}
