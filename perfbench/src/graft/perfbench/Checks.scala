package graft.perfbench

import scala.collection.mutable

/** Independent output checks. Each checker compares what an operation
  * wrote against the generator's planted facts, recomputed here in plain
  * Scala without calling the program. A checker returns its error
  * messages; an empty list means the output is correct.
  */
object Checks {

  type Row = Map[String, Any]

  private def dbl(r: Row, k: String): Option[Double] = r.get(k) match {
    case Some(d: Double) => Some(d)
    case Some(n: java.lang.Number) => Some(n.doubleValue)
    case _ => None
  }
  private def str(r: Row, k: String): Option[String] = r.get(k).collect { case s: String => s }

  // ------------------------------------------------------------------ fhir_ingest

  /** The curated tables as read back from the written Parquet. */
  final case class Curated(patient: Seq[Row], encounter: Seq[Row],
      condition: Seq[Row], observation: Seq[Row])

  def fhir(t: Gen.FhirTruth, c: Curated): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def table(name: String, rows: Seq[Row], idCol: String, want: Long): Unit = {
      if (rows.size != want) errs += s"$name: ${rows.size} rows read back, generator planted $want distinct ids"
      val ids = rows.flatMap(str(_, idCol))
      if (ids.distinct.size != rows.size) errs += s"$name: duplicate or null $idCol after dedup"
    }
    table("patient", c.patient, "patient_id", t.patients.size)
    table("encounter", c.encounter, "encounter_id", t.nEncounters)
    table("condition", c.condition, "condition_id", t.nConditions)
    table("observation", c.observation, "observation_id", t.nObservations)
    val pids = c.patient.flatMap(str(_, "patient_id")).toSet
    if (pids != t.patients.toSet) errs += "patient: ids differ from the generated patients"
    for ((name, rows) <- Seq("encounter" -> c.encounter, "condition" -> c.condition,
        "observation" -> c.observation)) {
      val bad = rows.count(r => !str(r, "patient_id").exists(pids))
      if (bad > 0) errs += s"$name: $bad rows whose patient_id does not resolve"
    }
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    c.observation.foreach(r => dbl(r, "value_quantity").foreach(v => sums(str(r, "code").orNull) += v))
    for ((code, want) <- t.quantitySum if math.abs(sums(code) - want) > 1e-6)
      errs += s"observation: value_quantity sum for LOINC $code is ${sums(code)}, generator's is $want"
    val extra = sums.keySet -- t.quantitySum.keySet
    if (extra.nonEmpty) errs += s"observation: value_quantity under unexpected codes ${extra.mkString(",")}"
    errs.toSeq
  }

  // ------------------------------------------------------------------ clinical_analytics

  val cvdNames = Seq("hdl" -> "Cholesterol in HDL [Mass/volume] in Serum or Plasma",
    "ldl" -> "Low Density Lipoprotein Cholesterol", "trig" -> "Triglycerides",
    "total_chol" -> "Cholesterol [Mass/volume] in Serum or Plasma")
  val a1cName = "Hemoglobin A1c/Hemoglobin.total in Blood"
  val gluName = "Glucose [Mass/volume] in Blood"

  private def between(x: Double, lo: Double, hi: Double) = x >= lo && x <= hi

  /** The reference's CASE banding, first match wins; None = no arm matched
    * (the integer-BETWEEN gaps the reference keeps).
    */
  private def band(v: Option[Double], arms: Seq[(String, Double => Boolean)]): Option[String] =
    v match {
      case None => Some("n/a")
      case Some(x) => arms.find(_._2(x)).map(_._1)
    }

  def expectedCvd(t: Gen.FhirTruth): Map[String, Row] = t.patients.flatMap { p =>
    val v = cvdNames.map { case (k, n) => k -> t.latest.get(p -> n) }.toMap
    if (v.values.forall(_.isEmpty)) None else {
      def any(k: String, f: Double => Boolean) = v(k).exists(f)
      // "Insufficient data" cannot occur: a patient with no CVD analyte is not reported
      val overall =
        if (any("ldl", _ >= 130) || any("trig", _ >= 150) || any("hdl", _ < 40) || any("total_chol", _ >= 240)) "At risk"
        else "Likely normal"
      Some(p -> Map[String, Any](
        "hdl" -> v("hdl"), "ldl" -> v("ldl"), "trig" -> v("trig"), "total_chol" -> v("total_chol"),
        "hdl_status" -> band(v("hdl"), Seq("Protective" -> (_ >= 60), "Normal" -> (between(_, 40, 59)), "Low" -> (_ < 40))),
        "ldl_status" -> band(v("ldl"), Seq("High" -> (_ >= 160), "Borderline" -> (between(_, 130, 159)),
          "Near optimal" -> (between(_, 100, 129)), "Optimal" -> (_ < 100))),
        "triglycerides_status" -> band(v("trig"), Seq("High" -> (_ >= 200), "Borderline" -> (between(_, 150, 199)),
          "Normal" -> (_ < 150))),
        "total_chol_status" -> band(v("total_chol"), Seq("High" -> (_ >= 240),
          "Borderline" -> (between(_, 200, 239)), "Desirable" -> (_ < 200))),
        "overall_cvd_risk" -> Some(overall)))
    }
  }.toMap

  def expectedT2d(t: Gen.FhirTruth): Map[String, Row] = t.patients.flatMap { p =>
    val a1c = t.latest.get(p -> a1cName)
    val glu = t.latest.get(p -> gluName)
    val uri = t.latestUrine.get(p).map(_.trim.toLowerCase)
    if (a1c.isEmpty && glu.isEmpty && uri.isEmpty) None else {
      val pos = Set("positive", "pos"); val trace = Set("trace"); val neg = Set("negative", "neg")
      val overall =
        if (a1c.exists(_ >= 6.5) || glu.exists(_ >= 126) || uri.exists(pos)) "Diabetes likely (lab criteria met)"
        else if (a1c.exists(between(_, 5.7, 6.5 - 0.1)) || glu.exists(between(_, 100, 125)) || uri.exists(trace))
          "Prediabetes / Elevated risk"
        else "Normal"
      Some(p -> Map[String, Any](
        "a1c" -> a1c, "glucose_blood" -> glu, "glucose_urine_txt" -> uri,
        "a1c_status" -> band(a1c, Seq("Diabetes" -> (_ >= 6.5), "Prediabetes" -> (_ >= 5.7), "Normal" -> (_ => true))),
        "glucose_blood_status" -> band(glu, Seq("Diabetes" -> (_ >= 126), "Prediabetes" -> (between(_, 100, 125)),
          "Normal" -> (between(_, 70, 99)), "Low" -> (_ < 70))),
        "glucose_urine_status" -> Some(uri match {
          case None => "n/a"
          case Some(u) if pos(u) => "Abnormal"
          case Some(u) if trace(u) => "Borderline"
          case Some(u) if neg(u) => "Normal"
          case _ => "n/a"
        }),
        "overall_t2d_risk" -> Some(overall)))
    }
  }.toMap

  /** A report's rows against the expected rows, keyed by `patient`. */
  def report(name: String, rows: Seq[Row], want: Map[String, Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val got = rows.map(r => str(r, "patient").orNull -> r).toMap
    if (got.size != rows.size || got.keySet != want.keySet)
      errs += s"$name: ${rows.size} patients reported, expected ${want.size}"
    for ((p, w) <- want; g <- got.get(p); (k, v) <- w) {
      val same = v match {
        case Some(d: Double) => dbl(g, k).contains(d)
        case Some(s: String) => str(g, k).contains(s)
        case _ => g.get(k).forall(_ == null)
      }
      if (!same && errs.size < 20) errs += s"$name: patient $p column $k is ${g.get(k).orNull}, expected ${v}"
    }
    errs.toSeq
  }

  /** xgboost tree walk written here (not `XgbModel`): float32 comparison,
    * missing -> default branch, margin = logit(base) + sum of leaves.
    */
  def predict(m: Gen.Model, x: Array[Double]): Double = {
    var s = math.log(m.baseScore / (1 - m.baseScore))
    for (t <- m.trees) {
      var i = 0
      while (t.left(i) >= 0) {
        val v = x(t.split(i))
        i = if (v.isNaN) { if (t.defaultLeft(i)) t.left(i) else t.right(i) }
          else if (v.toFloat < t.cond(i)) t.left(i) else t.right(i)
      }
      s += t.cond(i)
    }
    1.0 / (1.0 + math.exp(-s))
  }

  val modelColumns = Seq("age", "sex", "bun_latest", "cholesterol_total_latest",
    "creatinine_latest", "egfr_latest", "glucose_latest", "hba1c_latest",
    "hdl_latest", "hematocrit_latest", "hemoglobin_latest", "ldl_latest",
    "triglycerides_latest", "cluster")

  /** Feature table: one row per patient, age/sex from the generator, every
    * `<analyte>_latest` equal to the generator's latest value (null when the
    * patient never had that analyte).
    */
  def features(t: Gen.FhirTruth, rows: Seq[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val got = rows.map(r => str(r, "patient_id").orNull -> r).toMap
    if (got.size != rows.size || got.keySet != t.patients.toSet)
      errs += s"features: ${rows.size} rows, expected one per patient (${t.patients.size})"
    for ((p, r) <- got if errs.size < 20 && t.birthYear.contains(p)) {
      // birth dates fall between Feb 2 and Dec 28, so the age on 2025-01-01 is 2024 - year
      if (!dbl(r, "age").contains((2024 - t.birthYear(p)).toDouble)) errs += s"features: patient $p age ${r.get("age")}"
      if (!dbl(r, "sex").contains(if (t.gender(p) == "male") 1.0 else 0.0)) errs += s"features: patient $p sex ${r.get("sex")}"
      for (a <- Gen.analytes) {
        val want = t.latest.get(p -> a.display)
        if (dbl(r, a.key) != want) errs += s"features: patient $p ${a.key} is ${dbl(r, a.key)}, expected $want"
      }
    }
    errs.toSeq
  }

  def scores(models: Map[String, Gen.Model], rows: Seq[Row], nPatients: Int): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (rows.size != nPatients) errs += s"scores: ${rows.size} rows, expected $nPatients"
    for (r <- rows if errs.size < 20) {
      val x = modelColumns.map(c => dbl(r, c).getOrElse(Double.NaN)).toArray
      for ((d, m) <- models) {
        val want = predict(m, x)
        dbl(r, s"${d}_prob") match {
          case Some(got) if math.abs(got - want) <= 1e-6 =>
          case got => errs += s"scores: ${str(r, "patient_id").orNull} ${d}_prob is $got, tree walk gives $want"
        }
      }
    }
    errs.toSeq
  }

  def wellness(rows: Seq[Row], nPatients: Int): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (rows.size != nPatients) errs += s"wellness: ${rows.size} rows, expected $nPatients"
    // every generated patient has at least one lab, so every score is defined
    val bad = rows.filterNot(r => dbl(r, "wellness").exists(w => w >= 0 && w <= 100))
    if (bad.nonEmpty) errs += s"wellness: ${bad.size} scores outside [0, 100] or missing, e.g. ${bad.head.get("wellness")}"
    errs.toSeq
  }

  // ------------------------------------------------------------------ corpus_curation

  private val P31 = 2147483647L
  /** The portable affine bucket, mod 2^31-1. */
  def bucket(k: Long): Long = {
    val m = ((k % P31) + P31) % P31
    ((1103515245L * m + 12345L) % P31 + P31) % P31
  }

  /** Token count of a document as the pipeline sees it: the dirtied text
    * (upper-cased 24-char prefix + CR/LF/tab noise) lower-cased, control
    * runs collapsed to one space, trimmed, split on whitespace.
    */
  def tokenCount(text: String): Long = {
    val dirty = " \t" + text.take(24).toUpperCase + "\r\n" + text + "  \n "
    dirty.toLowerCase.replaceAll("[\\x00-\\x20]+", " ").trim.split(" ").count(_.nonEmpty).toLong
  }

  final case class Expected(ids: Vector[Long], rate: Map[Long, Double], tokens: Map[Long, Long])

  /** The manifest the capstone must produce: gate-failing docs dropped, one
    * survivor per planted cluster (most tokens, then smallest id), the 10%
    * portable held-out split removed, then the alpha=0.5 temperature mix
    * (rate = sqrt(n_min / n) per language) applied by portable bucket.
    */
  def expectedManifest(c: Gen.CorpusTruth): Expected = {
    val tokens = c.docs.map(d => d.id -> tokenCount(d.text)).toMap
    val loser = c.clusters.flatMap { cl =>
      val best = cl.maxBy(id => (tokens(id), -id))
      cl.filterNot(_ == best)
    }.toSet
    val heldOut = (0.1 * P31).toLong
    val clean = c.docs.filter(d => !c.gateFail(d.id) && !loser(d.id) && bucket(d.id) >= heldOut)
    val n = clean.groupBy(_.lang).map { case (l, ds) => l -> ds.size }
    val nmin = n.values.min
    val rate = n.map { case (l, k) => l -> math.sqrt(nmin.toDouble / k.toDouble) }
    val kept = clean.filter(d => bucket(d.id).toDouble < rate(d.lang) * P31.toDouble)
    Expected(kept.map(_.id).sorted, kept.map(d => d.id -> rate(d.lang)).toMap, tokens)
  }

  def manifest(c: Gen.CorpusTruth, want: Expected, rows: Seq[Row], seqLen: Long = 512): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def long(r: Row, k: String) = r.get(k) match { case Some(n: java.lang.Number) => n.longValue; case _ => -1L }
    val sorted = rows.sortBy(long(_, "doc_id"))
    val ids = sorted.map(long(_, "doc_id"))
    if (ids != want.ids) errs += s"manifest: ${ids.size} documents, expected ${want.ids.size} " +
      s"(missing ${(want.ids.toSet -- ids).take(5)}, unexpected ${(ids.toSet -- want.ids).take(5)})"
    val idSet = ids.toSet
    for (cl <- c.clusters if cl.count(idSet) > 1) errs += s"manifest: cluster ${cl.mkString(",")} has ${cl.count(idSet)} survivors"
    val failed = c.gateFail.intersect(idSet)
    if (failed.nonEmpty) errs += s"manifest: gate-failing documents present: ${failed.take(5)}"
    var prefix = 0L
    val perSeq = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (r <- sorted if errs.size < 20) {
      val id = long(r, "doc_id")
      val n = want.tokens.getOrElse(id, -1L)
      val start = long(r, "start_token")
      if (long(r, "n_tokens") != n) errs += s"manifest: doc $id n_tokens ${long(r, "n_tokens")}, counted $n"
      if (start != prefix) errs += s"manifest: doc $id start_token $start, prefix sum is $prefix"
      if (long(r, "first_seq") != start / seqLen || long(r, "last_seq") != (start + math.max(n, 1) - 1) / seqLen)
        errs += s"manifest: doc $id sequence span ${long(r, "first_seq")}-${long(r, "last_seq")} wrong"
      want.rate.get(id).foreach { w =>
        if (!dbl(r, "rate").exists(x => math.abs(x - w) <= 1e-12)) errs += s"manifest: doc $id rate ${r.get("rate")}, sqrt(n_min/n) is $w"
      }
      // spread the document's token range over the fixed-length sequences
      var s = start
      while (s < start + n) {
        val q = s / seqLen
        val e = math.min(start + n, (q + 1) * seqLen)
        perSeq(q) += e - s
        s = e
      }
      prefix += n
    }
    val over = perSeq.filter(_._2 > seqLen)
    if (over.nonEmpty) errs += s"manifest: sequences over $seqLen tokens: ${over.take(3)}"
    val total = want.ids.map(want.tokens).sum
    if (perSeq.values.sum != total) errs += s"manifest: packed ${perSeq.values.sum} tokens, documents hold $total"
    errs.toSeq
  }
}
