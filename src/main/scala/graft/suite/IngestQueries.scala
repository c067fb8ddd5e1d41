package graft.suite

import org.apache.spark.sql.functions.{array_join, col}
import graft.core.GQuery
import graft.ingest.{FhirIngest, LabPanel}
import graft.wellness.Wellness

/** DuckDB-oracle coverage for the L1 FHIR ingest layer (SURVEY §2.1/§2.2:
  * S1/S6 JSON bundle scan, P1/P2 nested-struct + array-index projection,
  * P3 discriminator filter, F1 regexp FK extract, F3 null-guarded
  * array_join, the value[x] coalesce ladder, D1 keep-first dedup) — until
  * now these were ScalaTest-only (FhirIngestSpec).
  *
  * Both sides read the SAME checked-in fixture bundle
  * (`src/test/resources/fixtures/bundle1.json` — absolute path, the driver
  * runs Spark and DuckDB on this host): the operator under test is the
  * JSON ingest itself, so the query deliberately ignores the sfDir
  * argument. The DuckDB mirror declares an explicit `columns` struct spec
  * (mirroring [[FhirIngest.bundleSchema]]) rather than read_json_auto —
  * inference drift is exactly what the declared-schema design eliminates.
  *
  * The fixture exercises the interesting paths: a duplicated observation
  * id (D1), a missing encounter reference (NULL through F1), an
  * address-less patient (NULL through every P2 path), and three value[x]
  * variants through the coalesce ladder (string / codeable-concept /
  * integer).
  */
object IngestQueries {

  // Resolved host-independently (env → checkout-relative → classpath →
  // driver-host absolute); the SAME resolved value lands in the oracle
  // SQL below, so Spark and DuckDB always read one file.
  private val fixture = graft.core.Paths.resolve("GRAFT_FIXTURE_BUNDLE",
    Seq("src/test/resources/fixtures/bundle1.json"),
    Some("/fixtures/bundle1.json"),
    "/root/repo/src/test/resources/fixtures/bundle1.json")

  private def flat(s: org.apache.spark.sql.SparkSession) =
    FhirIngest.entries(FhirIngest.readBundles(s, fixture))

  // ---- shared DuckDB schema spec (mirrors FhirIngest.bundleSchema) ----

  private val ext =
    """STRUCT(url VARCHAR, extension STRUCT(url VARCHAR, valueDecimal DOUBLE, valueString VARCHAR)[])[]"""
  private val cc =
    """STRUCT(coding STRUCT("system" VARCHAR, code VARCHAR, display VARCHAR)[], "text" VARCHAR)"""
  private val resourceSpec = s"""STRUCT(resourceType VARCHAR, id VARCHAR,
    gender VARCHAR, birthDate VARCHAR,
    address STRUCT("line" VARCHAR[], city VARCHAR, state VARCHAR, postalCode VARCHAR, country VARCHAR, extension $ext)[],
    extension $ext,
    subject STRUCT("reference" VARCHAR), encounter STRUCT("reference" VARCHAR), status VARCHAR,
    "class" STRUCT(code VARCHAR), "type" $cc[],
    period STRUCT("start" VARCHAR, "end" VARCHAR),
    location STRUCT(location STRUCT(display VARCHAR))[],
    serviceProvider STRUCT(display VARCHAR),
    participant STRUCT(individual STRUCT(display VARCHAR), "type" STRUCT("text" VARCHAR)[])[],
    code $cc, clinicalStatus $cc, verificationStatus $cc,
    onsetDateTime VARCHAR, recordedDate VARCHAR,
    category $cc[],
    valueQuantity STRUCT("value" DOUBLE, unit VARCHAR), valueCodeableConcept $cc,
    valueString VARCHAR, valueInteger BIGINT, valueBoolean BOOLEAN, valueDateTime VARCHAR,
    valueTime VARCHAR, valuePeriod STRUCT("start" VARCHAR, "end" VARCHAR),
    valueRange STRUCT(low STRUCT("value" DOUBLE)), valueSampledData STRUCT(data VARCHAR),
    effectiveDateTime VARCHAR)"""

  /** WITH prefix: fixture → one `res` struct row per bundle entry. */
  private val duckBase = s"""WITH raw AS (
    SELECT * FROM read_json('$fixture',
      columns = {resourceType: 'VARCHAR', entry: 'STRUCT(resource $resourceSpec)[]'})),
  fl AS (SELECT unnest(entry) AS e FROM raw),
  r AS (SELECT e.resource AS res FROM fl)"""

  private val fkRe = "urn:uuid:([A-Za-z0-9-]+)"

  private val q49 = GQuery(
    (s, _) => FhirIngest.observations(flat(s)).orderBy("observation_id"),
    Some(s"""$duckBase,
    obs AS (
      SELECT
        res.id AS observation_id,
        regexp_extract(res.subject."reference", '$fkRe', 1) AS patient_id,
        regexp_extract(res.encounter."reference", '$fkRe', 1) AS encounter_id,
        res.status AS status,
        res.category[1].coding[1].display AS category,
        res.code.coding[1]."system" AS code_system,
        res.code.coding[1].code AS code,
        res.code.coding[1].display AS code_display,
        res.valueQuantity."value" AS value_quantity,
        res.valueQuantity.unit AS value_unit,
        COALESCE(res.valueString, res.valueCodeableConcept.coding[1].display,
          res.valueCodeableConcept."text", CAST(res.valueInteger AS VARCHAR),
          CAST(res.valueBoolean AS VARCHAR), res.valueDateTime, res.valueTime,
          res.valuePeriod."start", CAST(res.valueRange.low."value" AS VARCHAR),
          res.valueSampledData.data) AS value_string,
        res.effectiveDateTime AS effective_datetime
      FROM r WHERE res.resourceType = 'Observation'),
    dd AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY observation_id
        ORDER BY patient_id ASC NULLS LAST, encounter_id ASC NULLS LAST,
          status ASC NULLS LAST, category ASC NULLS LAST,
          code_system ASC NULLS LAST, code ASC NULLS LAST,
          code_display ASC NULLS LAST, value_quantity ASC NULLS LAST,
          value_unit ASC NULLS LAST, value_string ASC NULLS LAST,
          effective_datetime ASC NULLS LAST) AS rn
      FROM obs)
    SELECT observation_id, patient_id, encounter_id, status, category,
      code_system, code, code_display, value_quantity, value_unit,
      value_string, effective_datetime
    FROM dd WHERE rn = 1 ORDER BY observation_id"""))

  private val q50 = GQuery(
    (s, _) => FhirIngest.patients(flat(s)).orderBy("patient_id"),
    Some(s"""$duckBase,
    p AS (
      SELECT res.id AS patient_id, res.gender AS gender,
        res.birthDate AS birth_date,
        CASE WHEN res.address[1]."line" IS NOT NULL
          THEN array_to_string(res.address[1]."line", '|') END AS address_line,
        res.address[1].city AS address_city,
        res.address[1].state AS address_state,
        res.address[1].postalCode AS address_postal,
        res.address[1].country AS country,
        res.address[1].extension[1].extension[1].valueDecimal AS geo_lat,
        res.address[1].extension[1].extension[2].valueDecimal AS geo_lon,
        res.extension[1].extension[2].valueString AS race,
        res.extension[2].extension[2].valueString AS ethnicity
      FROM r WHERE res.resourceType = 'Patient'),
    dd AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY patient_id
        ORDER BY gender ASC NULLS LAST, birth_date ASC NULLS LAST,
          address_line ASC NULLS LAST, address_city ASC NULLS LAST,
          address_state ASC NULLS LAST, address_postal ASC NULLS LAST,
          country ASC NULLS LAST, geo_lat ASC NULLS LAST,
          geo_lon ASC NULLS LAST, race ASC NULLS LAST,
          ethnicity ASC NULLS LAST) AS rn
      FROM p)
    SELECT patient_id, gender, birth_date, address_line, address_city,
      address_state, address_postal, country, geo_lat, geo_lon, race, ethnicity
    FROM dd WHERE rn = 1 ORDER BY patient_id"""))

  private val q51 = GQuery(
    (s, _) => FhirIngest.encounters(flat(s)).orderBy("encounter_id"),
    Some(s"""$duckBase,
    enc AS (
      SELECT res.id AS encounter_id,
        regexp_extract(res.subject."reference", '$fkRe', 1) AS patient_id,
        res.status AS status, res."class".code AS class_code,
        res."type"[1]."text" AS type_text,
        res.period."start" AS period_start, res.period."end" AS period_end,
        res.location[1].location.display AS location_name,
        res.serviceProvider.display AS service_provider,
        res.participant[1].individual.display AS practitioner_name,
        res.participant[1]."type"[1]."text" AS practitioner_role
      FROM r WHERE res.resourceType = 'Encounter'),
    dd AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY encounter_id
        ORDER BY patient_id ASC NULLS LAST, status ASC NULLS LAST,
          class_code ASC NULLS LAST, type_text ASC NULLS LAST,
          period_start ASC NULLS LAST, period_end ASC NULLS LAST,
          location_name ASC NULLS LAST, service_provider ASC NULLS LAST,
          practitioner_name ASC NULLS LAST, practitioner_role ASC NULLS LAST) AS rn
      FROM enc)
    SELECT encounter_id, patient_id, status, class_code, type_text,
      period_start, period_end, location_name, service_provider,
      practitioner_name, practitioner_role
    FROM dd WHERE rn = 1 ORDER BY encounter_id"""))

  private val q52 = GQuery(
    (s, _) => FhirIngest.conditions(flat(s)).orderBy("condition_id"),
    Some(s"""$duckBase,
    c AS (
      SELECT res.id AS condition_id,
        regexp_extract(res.subject."reference", '$fkRe', 1) AS patient_id,
        regexp_extract(res.encounter."reference", '$fkRe', 1) AS encounter_id,
        res.code.coding[1]."system" AS code_system,
        res.code.coding[1].code AS code,
        res.code.coding[1].display AS code_display,
        res.clinicalStatus.coding[1].code AS clinical_status,
        res.verificationStatus.coding[1].code AS verification_status,
        res.onsetDateTime AS onset_datetime,
        res.recordedDate AS recorded_datetime
      FROM r WHERE res.resourceType = 'Condition'),
    dd AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY condition_id
        ORDER BY patient_id ASC NULLS LAST, encounter_id ASC NULLS LAST,
          code_system ASC NULLS LAST, code ASC NULLS LAST,
          code_display ASC NULLS LAST, clinical_status ASC NULLS LAST,
          verification_status ASC NULLS LAST, onset_datetime ASC NULLS LAST,
          recorded_datetime ASC NULLS LAST) AS rn
      FROM c)
    SELECT condition_id, patient_id, encounter_id, code_system, code,
      code_display, clinical_status, verification_status, onset_datetime,
      recorded_datetime
    FROM dd WHERE rn = 1 ORDER BY condition_id"""))

  // ---- q53: the CSV lab-panel source + dashboard scoring (S5/A3/W2/M10) ----

  // resolved like `fixture` above; the oracle's read_csv gets the same path
  private val panelCsv = graft.core.Paths.resolve("GRAFT_FIXTURE_LAB_PANEL",
    Seq("src/test/resources/fixtures/lab_panel.csv"),
    Some("/fixtures/lab_panel.csv"),
    "src/test/resources/fixtures/lab_panel.csv")

  /** Analyte columns present in the fixture CSV; the other six of the 15
    * (Triglycerides, TotalChol, BUN, Hematocrit, Bilirubin, Albumin) are
    * deliberately ABSENT to exercise S5's optional-column normalization.
    */
  private val csvAnalytes = Seq("LDL", "HDL", "A1c", "GlucoseBlood", "eGFR",
    "Creatinine", "Hemoglobin", "ALT", "AST")

  private def d(x: Double): String = s"CAST('$x' AS DOUBLE)"

  /** Penalty CASE chain mirroring [[Wellness.penalty]] (first bin whose
    * upper edge exceeds the value wins; null in → null out).
    */
  private def penaltySql(c: String, b: Wellness.PenaltyBins): String = {
    val whens = b.edges.zip(b.penalties)
      .map { case (e, p) => s"WHEN $c < ${d(e)} THEN $p" }.mkString(" ")
    s"CASE WHEN $c IS NULL THEN NULL $whens ELSE ${b.tailPenalty} END"
  }

  /** q53: L4a dashboard over the wide CSV panel, oracled end-to-end —
    * covers S5 (CSV source with optional analyte columns), W2 (latest row
    * per patient), A3 (recency/coverage confidence), M10 (pattern
    * detection + liver summary) and the full wellness arithmetic on top.
    * The DuckDB mirror is generated from the SAME [[Wellness]] tables with
    * the same left-fold operation order (the q37 pattern), so doubles are
    * bit-identical before the final rounding.
    *
    * Fixture boundaries exercised: LDL=130/HDL=40 (strict-< bin edges and
    * the >=130 && <40 pattern arm), an all-null latest row (null wellness,
    * zero confidence mass, "Insufficient data" liver tier), and a
    * four-pattern high-risk patient.
    */
  private val q53 = GQuery(
    (s, _) => {
      val panel = LabPanel.read(s, panelCsv)
      val latest = LabPanel.latestScored(panel)
        .select(col("patient_id"),
          // unrounded: the fold is bit-identical on both engines, while
          // Spark round (BigDecimal HALF_UP) vs DuckDB ROUND(DOUBLE) can
          // differ in the last ULP near a 6-decimal tie (ADVICE r4)
          col("wellness"),
          col("confidence").as("wellness_confidence"),
          array_join(col("patterns"), ",").as("patterns"),
          col("liver_summary"))
      val ckdConf = LabPanel.diseaseConfidence(panel, "CKD")
        .withColumnRenamed("confidence", "ckd_confidence")
      latest.join(ckdConf, Seq("patient_id")).orderBy("patient_id")
    },
    Some {
      val cols = Seq("patient_id" -> "VARCHAR", "date" -> "DATE") ++
        csvAnalytes.map(_ -> "DOUBLE")
      val colSpec = cols.map { case (n, t) => s"'$n': '$t'" }.mkString(", ")
      // absent analytes -> typed null columns (LabPanel.normalize)
      val nullCols = LabPanel.analytes.filterNot(csvAnalytes.contains)
        .map(a => s"CAST(NULL AS DOUBLE) AS \"$a\"").mkString(", ")
      def sub(disease: String): String = {
        val terms = Wellness.DiseaseWeights(disease).map { case (a, w) =>
          (s"COALESCE(CAST(${penaltySql("\"" + a + "\"", Wellness.Refs(a))} AS DOUBLE) * ${d(w)}, ${d(0.0)})",
            s"CASE WHEN \"$a\" IS NOT NULL THEN ${d(w)} ELSE ${d(0.0)} END")
        }
        val weighted = terms.map(_._1).reduceLeft((x, y) => s"($x + $y)")
        val mass = terms.map(_._2).reduceLeft((x, y) => s"($x + $y)")
        val raw = s"(${d(100.0)} - (($weighted * ${d(100.0)}) / ${d(3.0)}))"
        s"CASE WHEN $mass > ${d(0.0)} THEN GREATEST(${d(0.0)}, LEAST(${d(100.0)}, $raw)) END"
      }
      val subCols = Wellness.DiseaseWeights.keys.toSeq.sorted
        .map(dis => s"${sub(dis)} AS sub_${dis.toLowerCase}").mkString(", ")
      val scoreSum = Wellness.WellnessWeights
        .map { case (dis, w) => s"COALESCE(sub_${dis.toLowerCase} * ${d(w)}, ${d(0.0)})" }
        .reduceLeft((x, y) => s"($x + $y)")
      val mass2 = Wellness.WellnessWeights
        .map { case (dis, w) => s"CASE WHEN sub_${dis.toLowerCase} IS NOT NULL THEN ${d(w)} ELSE ${d(0.0)} END" }
        .reduceLeft((x, y) => s"($x + $y)")
      val patterns = "concat_ws(','," +
        """ CASE WHEN "LDL" IS NOT NULL AND "HDL" IS NOT NULL AND ("LDL" >= 160 OR ("LDL" >= 130 AND "HDL" < 40)) THEN 'high_ldl_low_hdl' END,""" +
        """ CASE WHEN "A1c" IS NOT NULL AND "GlucoseBlood" IS NOT NULL AND "A1c" >= 5.7 AND "GlucoseBlood" >= 100 THEN 'elevated_a1c_glucose' END,""" +
        """ CASE WHEN "eGFR" IS NOT NULL AND "Creatinine" IS NOT NULL AND ("eGFR" < 60 OR "Creatinine" >= 1.3) THEN 'low_egfr_high_creatinine' END,""" +
        """ CASE WHEN "Hemoglobin" IS NOT NULL AND "Hemoglobin" < 12.0 THEN 'low_hemoglobin' END)"""
      val liverMulti = Seq("ALT", "AST", "Bilirubin", "Albumin")
        .map(a => s"CASE WHEN ${penaltySql("\"" + a + "\"", Wellness.Refs(a))} >= 2 THEN 1 ELSE 0 END")
        .reduceLeft((x, y) => s"($x + $y)")
      val liverAny = Seq("ALT", "AST", "Bilirubin", "Albumin")
        .map(a => s"\"$a\" IS NOT NULL").mkString(" OR ")
      val liver = s"""CASE WHEN NOT ($liverAny) THEN 'Insufficient data'
        WHEN $liverMulti >= 2 THEN 'Liver dysfunction likely (multiple abnormalities)'
        WHEN $liverMulti = 1 THEN 'Possible liver dysfunction'
        ELSE 'No liver dysfunction signal' END"""
      val ckdPresent = Wellness.DiseaseWeights("CKD").map(_._1)
        .map(a => s"CASE WHEN MAX(CASE WHEN \"$a\" IS NOT NULL THEN 1 ELSE 0 END) = 1 THEN 1 ELSE 0 END")
        .reduceLeft((x, y) => s"($x + $y)")
      s"""WITH panel AS (
        SELECT *, $nullCols
        FROM read_csv('$panelCsv', header = true, columns = {$colSpec})),
      latest AS (
        SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY patient_id
          ORDER BY "date" DESC) AS rn FROM panel) WHERE rn = 1),
      scored AS (SELECT patient_id, $subCols, $patterns AS pats, $liver AS liver_summary FROM latest),
      agg AS (
        SELECT patient_id,
          CASE WHEN $mass2 > ${d(0.0)} THEN $scoreSum / $mass2 END AS wellness,
          $mass2 AS wellness_confidence, pats AS patterns, liver_summary
        FROM scored),
      recent AS (
        SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY patient_id
          ORDER BY "date" DESC) AS rn FROM panel) WHERE rn <= 4),
      conf AS (
        SELECT patient_id, $ckdPresent AS n_present FROM recent GROUP BY patient_id),
      ckd AS (
        SELECT patient_id, CASE WHEN n_present >= 2 THEN 'High'
          WHEN n_present = 1 THEN 'Medium' ELSE 'Low' END AS ckd_confidence
        FROM conf)
      SELECT a.patient_id, a.wellness,
        a.wellness_confidence, a.patterns, a.liver_summary, c.ckd_confidence
      FROM agg a JOIN ckd c ON a.patient_id = c.patient_id
      ORDER BY a.patient_id"""
    })

  def all: Map[String, GQuery] = Map(
    "q49_fhir_observations" -> q49,
    "q50_fhir_patients" -> q50,
    "q51_fhir_encounters" -> q51,
    "q52_fhir_conditions" -> q52,
    "q53_lab_panel_dashboard" -> q53,
  )
}
