package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.{Locale, SplittableRandom, UUID}
import scala.collection.mutable

/** Seeded input generators. Every generator takes the seed and writes plain
  * files; the program under test only ever sees those files. Each one also
  * returns the facts it planted (the "truth") so the checkers can compare
  * outputs against values computed without the program.
  */
object Gen {

  private def writeText(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
    try w.write(s) finally w.close()
  }

  private def fmt1(x: Double): String = String.format(Locale.ROOT, "%.1f", Double.box(x))

  // ------------------------------------------------------------------ FHIR

  /** One lab analyte: feature key, LOINC code, display name, unit, mean, sd. */
  final case class Analyte(key: String, loinc: String, display: String, unit: String,
      mean: Double, sd: Double)

  val analytes: Vector[Analyte] = Vector(
    Analyte("albumin_latest", "1751-7", "Albumin [Mass/volume] in Serum or Plasma", "g/dL", 4.2, 0.5),
    Analyte("alt_latest", "1742-6", "Alanine aminotransferase [Enzymatic activity/volume] in Serum or Plasma", "U/L", 30, 15),
    Analyte("ast_latest", "1920-8", "Aspartate aminotransferase [Enzymatic activity/volume] in Serum or Plasma", "U/L", 28, 12),
    Analyte("bilirubin_latest", "1975-2", "Bilirubin.total [Mass/volume] in Serum or Plasma", "mg/dL", 0.8, 0.4),
    Analyte("bun_latest", "3094-0", "Urea nitrogen [Mass/volume] in Serum or Plasma", "mg/dL", 15, 6),
    Analyte("cholesterol_total_latest", "2093-3", "Cholesterol [Mass/volume] in Serum or Plasma", "mg/dL", 200, 40),
    Analyte("creatinine_latest", "2160-0", "Creatinine [Mass/volume] in Serum or Plasma", "mg/dL", 1.0, 0.35),
    Analyte("egfr_latest", "33914-3", "Glomerular filtration rate/1.73 sq M.predicted", "mL/min", 85, 25),
    Analyte("glucose_latest", "2339-0", "Glucose [Mass/volume] in Blood", "mg/dL", 105, 25),
    Analyte("hba1c_latest", "4548-4", "Hemoglobin A1c/Hemoglobin.total in Blood", "%", 5.8, 0.8),
    Analyte("hdl_latest", "2085-9", "Cholesterol in HDL [Mass/volume] in Serum or Plasma", "mg/dL", 52, 14),
    Analyte("hematocrit_latest", "4544-3", "Hematocrit [Volume Fraction] of Blood by Automated count", "%", 42, 5),
    Analyte("hemoglobin_latest", "718-7", "Hemoglobin [Mass/volume] in Blood", "g/dL", 14, 1.8),
    Analyte("ldl_latest", "18262-6", "Low Density Lipoprotein Cholesterol", "mg/dL", 120, 35),
    Analyte("protein_latest", "2885-2", "Protein [Mass/volume] in Serum or Plasma", "g/dL", 7, 0.6),
    Analyte("rdw_latest", "788-0", "Erythrocyte distribution width [Ratio] by Automated count", "%", 13.5, 1.2),
    Analyte("triglycerides_latest", "2571-8", "Triglycerides", "mg/dL", 150, 60))

  val urineDisplay = "Glucose [Presence] in Urine by Test strip"
  val urineMassDisplay = "Glucose [Mass/volume] in Urine by Test strip"
  private val urineTexts = Vector(" Positive ", "pos", "Trace", "Negative", " neg", "negative")

  /** What the FHIR generator planted. Counts are of DISTINCT resource ids;
    * `resourcesIn` counts every entry written, duplicates included.
    */
  final case class FhirTruth(
      patients: Vector[String],
      birthYear: Map[String, Int],
      gender: Map[String, String],
      nEncounters: Long, nConditions: Long, nObservations: Long,
      resourcesIn: Long,
      /** LOINC code -> sum of value_quantity over distinct observations */
      quantitySum: Map[String, Double],
      /** (patient, display) -> latest numeric value */
      latest: Map[(String, String), Double],
      /** patient -> latest urine-glucose text */
      latestUrine: Map[String, String],
      inputBytes: Long)

  private def uuid(rng: SplittableRandom): String = new UUID(rng.nextLong(), rng.nextLong()).toString

  /** Writes `nPatients` patients as FHIR R4 transaction bundles, `perBundle`
    * patients per file, into `dir`. About 5% of encounters and observations
    * are re-sent verbatim in the next bundle (planted duplicate ids).
    * Observations carry four value[x] shapes: valueQuantity (labs),
    * valueString (urine glucose), valueCodeableConcept (smoking status) and
    * valueInteger (pain score).
    */
  def fhir(seed: Long, dir: File, nPatients: Int, perBundle: Int): FhirTruth = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 11)
    dir.mkdirs()
    val patients = Vector.newBuilder[String]
    val birthYear = mutable.Map.empty[String, Int]
    val gender = mutable.Map.empty[String, String]
    var nEnc, nCond, nObs, resourcesIn, bytes = 0L
    val qsum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val latest = mutable.Map.empty[(String, String), (String, Double)]
    val latestUrine = mutable.Map.empty[String, (String, String)]
    var carry = Vector.empty[String] // duplicates re-sent in the next bundle
    var p = 0
    var bundleNo = 0
    while (p < nPatients) {
      val sb = new StringBuilder(1 << 20)
      sb.append("{\"resourceType\":\"Bundle\",\"type\":\"transaction\",\"entry\":[")
      var first = true
      def entry(res: String): Unit = {
        if (!first) sb.append(',')
        first = false
        sb.append("{\"resource\":").append(res).append('}')
        resourcesIn += 1
      }
      carry.foreach(entry)
      carry = Vector.empty
      val end = math.min(nPatients, p + perBundle)
      while (p < end) {
        val pid = uuid(rng)
        patients += pid
        val by = 1940 + rng.nextInt(60)
        val g = if (rng.nextBoolean()) "male" else "female"
        birthYear(pid) = by; gender(pid) = g
        entry(
          s"""{"resourceType":"Patient","id":"$pid","gender":"$g","birthDate":"$by-${"%02d".format(2 + rng.nextInt(11))}-${"%02d".format(2 + rng.nextInt(27))}",""" +
          s""""address":[{"line":["${1 + rng.nextInt(999)} Main St","Apt ${rng.nextInt(50)}"],"city":"City${rng.nextInt(40)}","state":"MA","postalCode":"0${1000 + rng.nextInt(8999)}","country":"US",""" +
          s""""extension":[{"url":"geolocation","extension":[{"url":"latitude","valueDecimal":${fmt1(40 + rng.nextDouble() * 4)}},{"url":"longitude","valueDecimal":${fmt1(-73 + rng.nextDouble() * 3)}}]}]}],""" +
          s""""extension":[{"url":"us-core-race","extension":[{"url":"ombCategory"},{"url":"text","valueString":"Race${rng.nextInt(5)}"}]},""" +
          s"""{"url":"us-core-ethnicity","extension":[{"url":"ombCategory"},{"url":"text","valueString":"Eth${rng.nextInt(2)}"}]}]}""")
        val nE = 2 + rng.nextInt(3)
        var e = 0
        while (e < nE) {
          val eid = uuid(rng)
          val day = 1 + e * 60 + rng.nextInt(50)
          val date = java.time.LocalDate.of(2022, 1, 1).plusDays(day.toLong).toString
          val enc =
            s"""{"resourceType":"Encounter","id":"$eid","status":"finished","class":{"code":"AMB"},""" +
            s""""type":[{"text":"General examination"}],"subject":{"reference":"urn:uuid:$pid"},""" +
            s""""period":{"start":"${date}T09:00:00Z","end":"${date}T10:00:00Z"},""" +
            s""""location":[{"location":{"display":"Clinic ${rng.nextInt(9)}"}}],"serviceProvider":{"display":"Hospital ${rng.nextInt(5)}"},""" +
            s""""participant":[{"individual":{"display":"Dr. ${rng.nextInt(200)}"},"type":[{"text":"primary performer"}]}]}"""
          entry(enc); nEnc += 1
          if (rng.nextInt(20) == 0) carry :+= enc
          if (e == 0 || rng.nextInt(3) == 0) {
            entry(
              s"""{"resourceType":"Condition","id":"${uuid(rng)}","clinicalStatus":{"coding":[{"system":"clinical","code":"active"}]},""" +
              s""""verificationStatus":{"coding":[{"code":"confirmed"}]},""" +
              s""""code":{"coding":[{"system":"http://snomed.info/sct","code":"${44054006 + rng.nextInt(20)}","display":"Condition ${rng.nextInt(20)}"}],"text":"c"},""" +
              s""""subject":{"reference":"urn:uuid:$pid"},"encounter":{"reference":"urn:uuid:$eid"},""" +
              s""""onsetDateTime":"${date}T09:30:00Z","recordedDate":"${date}T09:40:00Z"}""")
            nCond += 1
          }
          def obs(minute: Int, code: String, display: String, value: String): Unit = {
            val o =
              s"""{"resourceType":"Observation","id":"${uuid(rng)}","status":"final",""" +
              s""""category":[{"coding":[{"system":"observation-category","code":"laboratory","display":"laboratory"}]}],""" +
              s""""code":{"coding":[{"system":"http://loinc.org","code":"$code","display":"$display"}],"text":"$display"},""" +
              s""""subject":{"reference":"urn:uuid:$pid"},"encounter":{"reference":"urn:uuid:$eid"},""" +
              s""""effectiveDateTime":"${date}T09:${"%02d".format(minute)}:00Z",$value}"""
            entry(o); nObs += 1
            if (rng.nextInt(20) == 0) carry :+= o
          }
          val ts = s"$date/$e"
          var a = 0
          while (a < analytes.length) {
            val an = analytes(a)
            if (rng.nextInt(100) < 60) {
              val v = fmt1(math.max(0.1, an.mean + an.sd * rng.nextDouble() * 2 * (if (rng.nextBoolean()) 1 else -1)))
              val x = java.lang.Double.parseDouble(v)
              obs(a, an.loinc, an.display, s""""valueQuantity":{"value":$v,"unit":"${an.unit}"}""")
              qsum(an.loinc) += x
              // encounter order is time order, so a later encounter always wins
              latest((pid, an.display)) = (ts, x)
            }
            a += 1
          }
          if (rng.nextInt(100) < 55) {
            val t = urineTexts(rng.nextInt(urineTexts.length))
            obs(40, "25428-4", urineDisplay, s""""valueString":"$t"""")
            latestUrine(pid) = (ts, t)
          }
          if (rng.nextInt(2) == 0)
            obs(41, "72166-2", "Tobacco smoking status",
              s""""valueCodeableConcept":{"coding":[{"system":"http://snomed.info/sct","code":"266919005","display":"Never smoker"}],"text":"Never smoker"}""")
          if (rng.nextInt(3) == 0)
            obs(42, "72514-3", "Pain severity - 0-10 verbal numeric rating", s""""valueInteger":${rng.nextInt(11)}""")
          e += 1
        }
        p += 1
      }
      sb.append("]}")
      val s = sb.toString
      bytes += s.getBytes(StandardCharsets.UTF_8).length
      writeText(new File(dir, f"bundle-$bundleNo%05d.json"), s)
      bundleNo += 1
    }
    // duplicates still pending after the last patient go out in a bundle of their own
    if (carry.nonEmpty) {
      val s = carry.mkString("{\"resourceType\":\"Bundle\",\"type\":\"transaction\",\"entry\":[{\"resource\":",
        "},{\"resource\":", "}]}")
      resourcesIn += carry.length
      bytes += s.getBytes(StandardCharsets.UTF_8).length
      writeText(new File(dir, f"bundle-$bundleNo%05d.json"), s)
    }
    FhirTruth(patients.result(), birthYear.toMap, gender.toMap, nEnc, nCond, nObs,
      resourcesIn, qsum.toMap, latest.map { case (k, (_, v)) => k -> v }.toMap,
      latestUrine.map { case (k, (_, v)) => k -> v }.toMap, bytes)
  }

  // ------------------------------------------------------------------ XGBoost

  /** One regression tree in xgboost's flat-array layout. */
  final case class Tree(split: Array[Int], cond: Array[Float], left: Array[Int],
      right: Array[Int], defaultLeft: Array[Boolean])
  final case class Model(trees: Vector[Tree], baseScore: Double)

  /** Plausible split ranges for the 14 model columns, in
    * `PipelineParams.modelColumns` order.
    */
  private val featureRanges: Vector[(Double, Double)] = Vector(
    (20, 90), (0, 1), (5, 30), (140, 280), (0.5, 1.8), (30, 120), (70, 160),
    (4.5, 7.5), (30, 80), (35, 50), (11, 17), (60, 190), (60, 300), (0, 3))

  /** A binary:logistic model with `nTrees` trees of depth <= 5 over 14
    * features. Thresholds are multiples of 1/8 and leaves multiples of
    * 1/1024, so every number is exact in float32 and in its JSON text.
    */
  def xgbModel(seed: Long, nTrees: Int): Model = {
    val rng = new SplittableRandom(seed * 0x5851F42D4C957F2DL + 29)
    val trees = Vector.fill(nTrees) {
      val split, left, right = mutable.ArrayBuffer.empty[Int]
      val cond = mutable.ArrayBuffer.empty[Float]
      val defL = mutable.ArrayBuffer.empty[Boolean]
      def node(depth: Int): Int = {
        val id = split.length
        split += 0; cond += 0f; left += -1; right += -1; defL += false
        if (depth == 5 || (depth >= 2 && rng.nextInt(4) == 0)) {
          cond(id) = (rng.nextInt(301) - 150) / 1024f
        } else {
          val f = rng.nextInt(14)
          val (lo, hi) = featureRanges(f)
          split(id) = f
          cond(id) = math.round((lo + rng.nextDouble() * (hi - lo)) * 8).toFloat / 8f
          defL(id) = rng.nextBoolean()
          left(id) = node(depth + 1)
          right(id) = node(depth + 1)
        }
        id
      }
      node(0)
      Tree(split.toArray, cond.toArray, left.toArray, right.toArray, defL.toArray)
    }
    Model(trees, 0.125 + rng.nextInt(6) / 8.0)
  }

  /** Serialize in the xgboost JSON model layout `XgbModel.load` reads. */
  def writeXgb(m: Model, f: File): Unit = {
    val sb = new StringBuilder(1 << 20)
    sb.append("{\"learner\":{\"learner_model_param\":{\"base_score\":\"[")
      .append(m.baseScore).append("]\",\"num_feature\":\"14\",\"num_class\":\"0\"},")
      .append("\"objective\":{\"name\":\"binary:logistic\"},")
      .append("\"gradient_booster\":{\"name\":\"gbtree\",\"model\":{\"trees\":[")
    m.trees.zipWithIndex.foreach { case (t, k) =>
      if (k > 0) sb.append(',')
      sb.append("{\"id\":").append(k)
        .append(",\"split_indices\":[").append(t.split.mkString(","))
        .append("],\"split_conditions\":[").append(t.cond.map(_.toString).mkString(","))
        .append("],\"left_children\":[").append(t.left.mkString(","))
        .append("],\"right_children\":[").append(t.right.mkString(","))
        .append("],\"default_left\":[").append(t.defaultLeft.map(b => if (b) 1 else 0).mkString(","))
        .append("]}")
    }
    sb.append("]}}},\"version\":[3,1,2]}")
    writeText(f, sb.toString)
  }

  // ------------------------------------------------------------------ corpus

  val langs: Vector[(String, Int)] = Vector("en" -> 55, "de" -> 25, "fr" -> 12, "sw" -> 8)

  final case class Doc(id: Long, text: String, lang: String)
  /** `clusters`: planted near-duplicate groups (ids); `gateFail`: docs built
    * to fail the Gopher gate (too short, ellipsis-ended or symbol-heavy).
    */
  final case class CorpusTruth(docs: Vector[Doc], clusters: Vector[Vector[Long]],
      gateFail: Set[Long])

  /** Write `docs` as a Parquet dataset (doc_id bigint, text string, lang
    * string) of `files` part files, round-robin, with the plain Parquet
    * writer, so no Spark job runs before the workload's first operation.
    */
  def writeDocuments(docs: Seq[Doc], dir: File, files: Int): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message doc { required int64 doc_id; required binary text (UTF8); required binary lang (UTF8); }")
    val groups = new SimpleGroupFactory(schema)
    dir.mkdirs()
    for (part <- 0 until files) {
      val w = ExampleParquetWriter.builder(new Path(new File(dir, f"part-$part%05d.parquet").getPath))
        .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try docs.indices.filter(_ % files == part).foreach { i =>
        val d = docs(i)
        w.write(groups.newGroup().append("doc_id", d.id).append("text", d.text).append("lang", d.lang))
      } finally w.close()
    }
  }

  private val stopWords = Vector("the", "and", "of", "to", "with")

  /** `nBase` word-soup documents of 50-150 words, about 12% of which
    * spawn a near-duplicate cluster of 2-4 members (one word changed or one
    * appended), plus `nBase/10` gate-failing documents. Languages are
    * skewed 55/25/12/8. Ids are shuffled so clusters do not sit together.
    */
  def corpus(seed: Long, nBase: Int): CorpusTruth = {
    val rng = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 47)
    val letters = "abcdefghijklmnoprstuvwy"
    val stopPrefix = stopWords.toSet ++ Set("be", "that", "have")
    val vocab = Iterator.continually {
      val n = 3 + rng.nextInt(7)
      (0 until n).map(_ => letters.charAt(rng.nextInt(letters.length))).mkString
    }.filterNot(w => stopPrefix.exists(w.startsWith)).distinct.take(6000).toVector
    def words(n: Int): Vector[String] = Vector.fill(n) {
      if (rng.nextInt(12) == 0) stopWords(rng.nextInt(stopWords.length))
      else vocab(rng.nextInt(vocab.length))
    }
    // languages by fixed quota (the k-th document of each kind takes slot
    // k mod 100), so stratum sizes, and with them the mix rates, do not
    // swing with the seed
    def lang(k: Int): String = {
      var r = k % 100
      langs.find { case (_, w) => r -= w; r < 0 }.get._1
    }
    val texts = mutable.ArrayBuffer.empty[(String, String)]
    val clusterIdx = mutable.ArrayBuffer.empty[Vector[Int]]
    val failIdx = mutable.ArrayBuffer.empty[Int]
    var b = 0
    while (b < nBase) {
      // word 1 is always a stop word, so every base document passes the
      // gate's stop-word test whatever the draw (and so do its variants,
      // which only touch the last word)
      val base = words(50 + rng.nextInt(100)).updated(1, stopWords(rng.nextInt(stopWords.length)))
      val l = lang(b)
      texts += base.mkString(" ") -> l
      if (rng.nextInt(100) < 12) {
        val members = Vector.fill(1 + rng.nextInt(3)) {
          val v = if (rng.nextBoolean()) base :+ vocab(rng.nextInt(vocab.length))
            else base.updated(base.length - 1, vocab(rng.nextInt(vocab.length)))
          texts += v.mkString(" ") -> l
          texts.length - 1
        }
        clusterIdx += (texts.length - 1 - members.length) +: members
      }
      b += 1
    }
    var f = 0
    while (f < nBase / 10) {
      val t = f % 3 match {
        case 0 => words(8 + rng.nextInt(8)).mkString(" ")                 // too short
        case 1 => words(60).mkString(" ") + " ..."                       // ellipsis line
        case _ => words(60).map(w => if (rng.nextInt(3) == 0) "##" else w).mkString(" ") // symbols
      }
      texts += t -> lang(f)
      failIdx += texts.length - 1
      f += 1
    }
    // shuffled, gap-free ids keep clusters apart and make the portable
    // bucket of every id seed-dependent
    val ids = {
      val a = Array.tabulate(texts.length)(i => 1000L + i)
      var i = a.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    CorpusTruth(
      texts.indices.map(i => Doc(ids(i), texts(i)._1, texts(i)._2)).toVector,
      clusterIdx.map(_.map(ids(_).toLong)).toVector,
      failIdx.map(ids(_)).toSet)
  }
}
