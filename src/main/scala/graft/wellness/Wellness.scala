package graft.wellness

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rule-based wellness scoring — reference `mrp_website.py` (L4a), re-expressed
  * as pure column arithmetic over a wide per-patient row (no shuffle beyond
  * the upstream pivot; scales linearly with patient count).
  *
  * Semantics reproduced:
  *  - penalty binning: value -> 0..3 by per-analyte ordered bin edges
  *    (`mrp_website.py:30-55` REFS bins; `:169-181` penalty_for_value —
  *    strictly-less-than upper edge, last penalty for +inf tail);
  *  - disease subscore: 100 - weighted_penalty * 100 / 3 over the non-null
  *    analytes, weights renormalized implicitly by summing only present mass,
  *    clamped to [0, 100]; null if no analyte present (`:184-204`);
  *  - wellness: sum(subscore * disease_weight) / sum(present disease weights),
  *    confidence = present weight mass (`:207-225`);
  *  - pattern detection: boolean lab-pattern rules (`:231-248`).
  */
object Wellness {

  /** Per-analyte penalty table: ordered upper edges with penalties; values
    * >= last edge get `tailPenalty`. Mirrors REFS (`mrp_website.py:30-55`).
    */
  final case class PenaltyBins(edges: Seq[Double], penalties: Seq[Int], tailPenalty: Int)

  /** REFS, verbatim from mrp_website.py:30-55 (bins drop the leading 0 /
    * trailing inf; penalties align with the finite intervals).
    */
  val Refs: Map[String, PenaltyBins] = Map(
    "LDL"          -> PenaltyBins(Seq(100, 130, 160), Seq(0, 1, 2), 3),
    "HDL"          -> PenaltyBins(Seq(40, 60), Seq(3, 0), 0),
    "Triglycerides"-> PenaltyBins(Seq(150, 200), Seq(0, 2), 3),
    "TotalChol"    -> PenaltyBins(Seq(200, 240), Seq(0, 2), 3),
    "A1c"          -> PenaltyBins(Seq(5.7, 6.5), Seq(0, 2), 3),
    "GlucoseBlood" -> PenaltyBins(Seq(100, 126), Seq(0, 2), 3),
    "eGFR"         -> PenaltyBins(Seq(15, 45, 60, 90), Seq(3, 2, 2, 1), 0),
    "Creatinine"   -> PenaltyBins(Seq(0.6, 1.3), Seq(1, 0), 2),
    "BUN"          -> PenaltyBins(Seq(7, 20), Seq(1, 0), 1),
    "Hemoglobin"   -> PenaltyBins(Seq(12.0, 16.5), Seq(2, 0), 2),
    "Hematocrit"   -> PenaltyBins(Seq(36.0, 49.0), Seq(2, 0), 2),
    "ALT"          -> PenaltyBins(Seq(40), Seq(0), 2),
    "AST"          -> PenaltyBins(Seq(40), Seq(0), 2),
    "Bilirubin"    -> PenaltyBins(Seq(1.2), Seq(0), 2),
    "Albumin"      -> PenaltyBins(Seq(3.5, 5.0), Seq(2, 0), 1))

  /** Disease -> (analyte -> weight), mrp_website.py:58-64. */
  val DiseaseWeights: Map[String, Seq[(String, Double)]] = Map(
    "Cardiovascular" -> Seq("LDL" -> 0.40, "HDL" -> 0.20, "Triglycerides" -> 0.20, "TotalChol" -> 0.20),
    "Prediabetes"    -> Seq("A1c" -> 0.60, "GlucoseBlood" -> 0.40),
    "CKD"            -> Seq("eGFR" -> 0.60, "Creatinine" -> 0.25, "BUN" -> 0.15),
    "Anemia"         -> Seq("Hemoglobin" -> 0.6, "Hematocrit" -> 0.4),
    "Liver"          -> Seq("ALT" -> 0.30, "AST" -> 0.30, "Bilirubin" -> 0.25, "Albumin" -> 0.15))

  /** Disease -> global wellness weight, mrp_website.py:67-73. */
  val WellnessWeights: Seq[(String, Double)] = Seq(
    "Cardiovascular" -> 0.25, "Prediabetes" -> 0.25, "CKD" -> 0.20,
    "Liver" -> 0.15, "Anemia" -> 0.15)

  /** Penalty column: table-driven `when` chain, first bin whose upper edge
    * exceeds the value wins (penalty_for_value, mrp_website.py:169-181).
    * Null/absent value -> 0 penalty there, but subscore handles presence
    * separately, so here null -> null and the caller masks.
    */
  def penalty(c: Column, bins: PenaltyBins): Column = {
    val chain = bins.edges.zip(bins.penalties)
      .foldLeft(when(c.isNull, lit(null))) { case (acc, (edge, p)) =>
        acc.when(c < edge, p)
      }
    chain.otherwise(bins.tailPenalty)
  }

  /** Disease subscore over wide analyte columns (`analyteCol` maps analyte
    * name -> Column). 100 - sum(w*p)*100/3 over present analytes, weight
    * mass renormalized; clamp [0,100]; null when nothing present
    * (disease_subscore, mrp_website.py:184-204).
    */
  def subscore(disease: String, analyteCol: String => Column): Column = {
    val terms = DiseaseWeights(disease).map { case (a, w) =>
      val p = penalty(analyteCol(a), Refs(a))
      (coalesce(p.cast("double") * w, lit(0.0)),
        when(analyteCol(a).isNotNull, w).otherwise(0.0))
    }
    val weighted = terms.map(_._1).reduce(_ + _)
    val mass = terms.map(_._2).reduce(_ + _)
    val raw = lit(100.0) - weighted * lit(100.0) / lit(3.0)
    when(mass > 0.0, greatest(lit(0.0), least(lit(100.0), raw)))
  }

  /** Wellness score + confidence from per-disease subscore columns
    * (wellness_score, mrp_website.py:207-225). Returns (score, confidence).
    */
  def wellness(sub: String => Column): (Column, Column) = {
    val scoreSum = WellnessWeights.map { case (dis, w) =>
      coalesce(sub(dis) * w, lit(0.0))
    }.reduce(_ + _)
    val mass = WellnessWeights.map { case (dis, w) =>
      when(sub(dis).isNotNull, w).otherwise(0.0)
    }.reduce(_ + _)
    (when(mass > 0.0, scoreSum / mass), mass)
  }

  /** Evidence pattern flags (detect_patterns, mrp_website.py:231-248) as an
    * array of matched keys, null-guarded exactly as the reference.
    */
  def patterns(a: String => Column): Column = {
    def flag(cond: Column, key: String): Column = when(cond, key)
    array_compact(array(
      flag(a("LDL").isNotNull && a("HDL").isNotNull &&
        (a("LDL") >= 160 || (a("LDL") >= 130 && a("HDL") < 40)), "high_ldl_low_hdl"),
      flag(a("A1c").isNotNull && a("GlucoseBlood").isNotNull &&
        a("A1c") >= 5.7 && a("GlucoseBlood") >= 100, "elevated_a1c_glucose"),
      flag(a("eGFR").isNotNull && a("Creatinine").isNotNull &&
        (a("eGFR") < 60 || a("Creatinine") >= 1.3), "low_egfr_high_creatinine"),
      flag(a("Hemoglobin").isNotNull && a("Hemoglobin") < 12.0, "low_hemoglobin")))
  }

  /** Liver summary (mrp_website.py ~:400-410): count of liver analytes
    * (ALT/AST/Bilirubin/Albumin) with penalty >= 2 → tiered label;
    * no analyte present → "Insufficient data".
    */
  def liverSummary(a: String => Column): Column = {
    val liverAnalytes = Seq("ALT", "AST", "Bilirubin", "Albumin")
    val multi = liverAnalytes.map { an =>
      when(penalty(a(an), Refs(an)) >= 2, 1).otherwise(0)
    }.reduce(_ + _)
    val anyPresent = liverAnalytes.map(an => a(an).isNotNull).reduce(_ || _)
    when(!anyPresent, "Insufficient data")
      .when(multi >= 2, "Liver dysfunction likely (multiple abnormalities)")
      .when(multi === 1, "Possible liver dysfunction")
      .otherwise("No liver dysfunction signal")
  }

  /** Add all five subscores + wellness + confidence + patterns to a wide
    * frame whose analyte columns are named by `colFor`: two `select`s, the
    * `sub_<disease>` columns (in disease-name order), then `wellness`,
    * `confidence`, `patterns` and `liver_summary` over them.
    */
  def scoreWide(df: DataFrame, colFor: String => String): DataFrame = {
    val a: String => Column = name => col(colFor(name))
    val subs = DiseaseWeights.keys.toSeq.sorted.map(dis =>
      subscore(dis, a).as(s"sub_${dis.toLowerCase}"))
    val sub: String => Column = dis => col(s"sub_${dis.toLowerCase}")
    val (score, conf) = wellness(sub)
    df.select(col("*") +: subs: _*)
      .select(col("*"), score.as("wellness"), conf.as("confidence"),
        patterns(a).as("patterns"), liverSummary(a).as("liver_summary"))
  }
}
