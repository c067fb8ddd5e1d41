package graft.perfbench

import java.io.File

/** Shows that every checker accepts a correct output and rejects a
  * deliberately corrupted one. Correct outputs are built from the
  * generators' planted facts (no Spark, no program code); each corruption
  * is one small defect a broken program could produce.
  *
  * Usage: SelfTest <scratch dir>; exits 1 if any case misbehaves.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, errs: Seq[String], wantErrors: Boolean): Unit = {
    val ok = errs.nonEmpty == wantErrors
    if (!ok) failures += 1
    val what = if (wantErrors) "rejected" else "accepted"
    println(s"${if (ok) "ok  " else "FAIL"} $name ${if (ok) what else s"not $what: ${errs.take(3).mkString("; ")}"}")
  }

  private def accepts(name: String, errs: Seq[String]): Unit = expect(name, errs, wantErrors = false)
  private def rejects(name: String, errs: Seq[String]): Unit = expect(name, errs, wantErrors = true)

  private def opt(v: Option[Any]): Any = v.orNull

  def main(args: Array[String]): Unit = {
    val dir = new File(args(0))

    // ---------------------------------------------------------------- fhir
    val t = Gen.fhir(5, new File(dir, "bundles"), nPatients = 40, perBundle = 10)
    val pats = t.patients
    def fill(prefix: String, n: Long): Seq[Checks.Row] = (0L until n).map(i =>
      Map[String, Any](s"${prefix}_id" -> s"$prefix$i", "patient_id" -> pats((i % pats.size).toInt)))
    val codes = t.quantitySum.toSeq
    val obs = fill("observation", t.nObservations).zipWithIndex.map { case (r, i) =>
      if (i < codes.size) r ++ Map("code" -> codes(i)._1, "value_quantity" -> codes(i)._2)
      else r ++ Map("code" -> "72166-2", "value_quantity" -> null)
    }
    val good = Checks.Curated(pats.map(p => Map[String, Any]("patient_id" -> p)),
      fill("encounter", t.nEncounters), fill("condition", t.nConditions), obs)
    accepts("fhir: correct tables", Checks.fhir(t, good))
    rejects("fhir: a dropped observation", Checks.fhir(t, good.copy(observation = obs.tail)))
    rejects("fhir: a duplicate encounter id", Checks.fhir(t, good.copy(
      encounter = good.encounter.updated(1, good.encounter.head))))
    rejects("fhir: a dangling patient_id", Checks.fhir(t, good.copy(
      condition = good.condition.updated(0, good.condition.head.updated("patient_id", "nobody")))))
    rejects("fhir: a value_quantity off by 1e-3", Checks.fhir(t, good.copy(
      observation = obs.updated(0, obs.head.updated("value_quantity", codes.head._2 + 1e-3)))))

    // ---------------------------------------------------------------- clinical
    def reportRows(want: Map[String, Checks.Row]): Seq[Checks.Row] =
      want.toSeq.map { case (p, r) => r.map { case (k, v) => k -> opt(v.asInstanceOf[Option[Any]]) } + ("patient" -> p) }
    val cvd = reportRows(Checks.expectedCvd(t))
    accepts("cvd report: correct rows", Checks.report("cvd", cvd, Checks.expectedCvd(t)))
    val flip = cvd.indexWhere(_("overall_cvd_risk") == "At risk")
    rejects("cvd report: a wrong overall band", Checks.report("cvd", cvd.updated(flip,
      cvd(flip).updated("overall_cvd_risk", "Likely normal")), Checks.expectedCvd(t)))
    val t2d = reportRows(Checks.expectedT2d(t))
    accepts("t2d report: correct rows", Checks.report("t2d", t2d, Checks.expectedT2d(t)))
    rejects("t2d report: a missing patient", Checks.report("t2d", t2d.tail, Checks.expectedT2d(t)))
    rejects("t2d report: a wrong urine status", Checks.report("t2d", t2d.updated(0,
      t2d.head.updated("glucose_urine_status", "Borderline-ish")), Checks.expectedT2d(t)))

    val feats = pats.map { p =>
      Map[String, Any]("patient_id" -> p, "age" -> (2024 - t.birthYear(p)).toDouble,
        "sex" -> (if (t.gender(p) == "male") 1.0 else 0.0)) ++
        Gen.analytes.map(a => a.key -> opt(t.latest.get(p -> a.display)))
    }
    accepts("features: correct table", Checks.features(t, feats))
    val hasLdl = feats.indexWhere(_("ldl_latest") != null)
    rejects("features: a stale (non-latest) lab value", Checks.features(t, feats.updated(hasLdl,
      feats(hasLdl).updated("ldl_latest", feats(hasLdl)("ldl_latest").asInstanceOf[Double] + 1))))

    val model = Gen.xgbModel(3, nTrees = 50)
    val rng = new java.util.SplittableRandom(9)
    val scored = pats.map { p =>
      val x = Checks.modelColumns.map(_ => rng.nextDouble() * 150).toArray
      Checks.modelColumns.zip(x).toMap[String, Any] + ("patient_id" -> p) + ("cvd_prob" -> Checks.predict(model, x))
    }
    accepts("scores: probabilities from the tree walk", Checks.scores(Map("cvd" -> model), scored, pats.size))
    rejects("scores: a probability off by 1e-4", Checks.scores(Map("cvd" -> model), scored.updated(0,
      scored.head.updated("cvd_prob", scored.head("cvd_prob").asInstanceOf[Double] + 1e-4)), pats.size))
    val inverted = model.copy(trees = model.trees.map(tr => tr.copy(defaultLeft = tr.defaultLeft.map(!_),
      cond = tr.cond.zip(tr.left).map { case (c, l) => if (l < 0) -c else c })))
    rejects("scores: a model with negated leaves", Checks.scores(Map("cvd" -> inverted), scored, pats.size))

    val well = pats.map(p => Map[String, Any]("patient_id" -> p, "wellness" -> 73.5))
    accepts("wellness: scores in range", Checks.wellness(well, pats.size))
    rejects("wellness: a score above 100", Checks.wellness(well.updated(0, well.head.updated("wellness", 100.5)), pats.size))
    rejects("wellness: a missing score", Checks.wellness(well.updated(0, well.head.updated("wellness", null)), pats.size))

    // ---------------------------------------------------------------- corpus
    val c = Gen.corpus(6, nBase = 400)
    val want = Checks.expectedManifest(c)
    var prefix = 0L
    val manifest = want.ids.map { id =>
      val n = want.tokens(id)
      val r = Map[String, Any]("doc_id" -> id, "rate" -> want.rate(id), "n_tokens" -> n,
        "start_token" -> prefix, "first_seq" -> prefix / 512, "last_seq" -> (prefix + n - 1) / 512)
      prefix += n
      r
    }
    accepts("manifest: correct manifest", Checks.manifest(c, want, manifest))
    def appended(id: Long): Seq[Checks.Row] = {
      val n = want.tokens(id)
      manifest :+ Map[String, Any]("doc_id" -> id, "rate" -> want.rate.values.head, "n_tokens" -> n,
        "start_token" -> prefix, "first_seq" -> prefix / 512, "last_seq" -> (prefix + n - 1) / 512)
    }
    rejects("manifest: a gate-failing document kept", Checks.manifest(c, want, appended(c.gateFail.head)))
    val sibling = c.clusters.find(cl => cl.exists(want.ids.contains)).flatMap(_.find(id => !want.ids.contains(id)))
    rejects("manifest: a second survivor in a near-dup cluster", Checks.manifest(c, want, appended(sibling.get)))
    rejects("manifest: a miscounted document", Checks.manifest(c, want, manifest.updated(0,
      manifest.head.updated("n_tokens", want.tokens(want.ids.head) + 1))))
    rejects("manifest: a wrong mix rate", Checks.manifest(c, want, manifest.updated(0,
      manifest.head.updated("rate", want.rate(want.ids.head) * 0.99))))
    rejects("manifest: a dropped document", Checks.manifest(c, want, manifest.init))

    println(if (failures == 0) "all checker self-tests passed" else s"$failures checker self-tests failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
