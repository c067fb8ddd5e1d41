package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {

  private val refModels = "/root/reference"

  /** The reference's `xgb_<disease>_model.json`, looked up the way
    * MlQueries finds the ckd model: env `GRAFT_XGB_<DISEASE>_MODEL`, then a
    * sibling `../reference/` of the checkout, then `refModels`. */
  private def refModel(disease: String): String = graft.core.Paths.resolve(
    s"GRAFT_XGB_${disease.toUpperCase}_MODEL",
    Seq(s"../reference/xgb_${disease}_model.json"), None,
    s"$refModels/xgb_${disease}_model.json")

  /** These tests pin the reference's own 400-tree models (the golden
    * probabilities come from exactly them), so they run only where the
    * artifacts are present. */
  private def assumeRefModels(paths: String*): Unit =
    paths.foreach(p => assume(new java.io.File(p).isFile, s"reference model absent: $p"))

  private val cvdPath = refModel("cvd")
  private val ckdPath = refModel("ckd")
  private val anemiaPath = refModel("anemia")

  test("pipeline params load with the artifact shapes") {
    val p = PipelineParams.default
    assert(p.features.length == 19)
    assert(p.features.take(2) == Vector("age", "sex"))
    assert(p.imputerMedians.length == 19)
    assert(p.scalerMean.length == 19 && p.scalerScale.length == 19)
    assert(p.pcaComponents.length == 14 && p.pcaComponents.head.length == 19)
    assert(p.kmeansCenters.length == 4 && p.kmeansCenters.head.length == 14)
  }

  test("impute fills exactly the stored medians") {
    import spark.implicits._
    val p = PipelineParams.default
    val row = Seq(("p1", Some(50.0))).toDF("patient_id", "age")
    val df = p.features.tail.foldLeft(row)((acc, f) =>
      acc.withColumn(f, lit(null).cast("double")))
    val got = Scorer.impute(df, p).collect().head
    p.features.zipWithIndex.drop(1).foreach { case (f, i) =>
      assert(got.getAs[Double](f) == p.imputerMedians(i), f)
    }
    assert(got.getAs[Double]("age") == 50.0) // present values untouched
  }

  test("kmeans assigns each reconstructed center to its own cluster") {
    import spark.implicits._
    val p = PipelineParams.default
    // invert the pipeline at each center: scaled = pca_mean + Cᵀ·center_k;
    // raw = scaled·σ + μ  — orthonormal PCA rows make C·Cᵀ = I.
    val rows = p.kmeansCenters.zipWithIndex.map { case (center, k) =>
      val raw = p.features.indices.map { j =>
        val zj = p.pcaMean(j) +
          p.pcaComponents.indices.map(i => center(i) * p.pcaComponents(i)(j)).sum
        zj * p.scalerScale(j) + p.scalerMean(j)
      }
      (s"c$k", raw)
    }
    val data = rows.map { case (id, raw) => (id, raw.toArray) }
    val wide = data.toDF("patient_id", "feats")
    val named = p.features.zipWithIndex.foldLeft(wide) { case (acc, (f, j)) =>
      acc.withColumn(f, element_at(col("feats"), j + 1))
    }.drop("feats")
    val got = Scorer.addCluster(named, p)
      .select("patient_id", "cluster").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    p.kmeansCenters.indices.foreach(k => assert(got(s"c$k") == k))
  }

  test("cluster centers decode to the reference's documented semantics") {
    // Independent cross-validation of the extracted M1-M4 parameters: the
    // inverse-transformed KMeans centers must match CLUSTER_DESCRIPTIONS
    // (test.py:125-130) — 0 youngest/healthiest, 1 high-lipid, 2/3 older
    // with renal abnormality, 3 oldest.
    val p = PipelineParams.default
    def rawFeature(k: Int, name: String): Double = {
      val j = p.features.indexOf(name)
      val zj = p.pcaMean(j) +
        p.pcaComponents.indices.map(i => p.kmeansCenters(k)(i) * p.pcaComponents(i)(j)).sum
      zj * p.scalerScale(j) + p.scalerMean(j)
    }
    val ages = (0 to 3).map(rawFeature(_, "age"))
    assert(ages(0) == ages.min)            // cluster 0: youngest
    assert(ages(3) == ages.max)            // cluster 3: oldest
    val ldls = (0 to 3).map(rawFeature(_, "ldl_latest"))
    assert(ldls(1) == ldls.max && ldls(1) > 150) // cluster 1: lipid risk
    val creat = (0 to 3).map(rawFeature(_, "creatinine_latest"))
    assert(creat(3) > creat(0) && creat(2) > creat(0)) // 2/3: renal burden
  }

  test("xgb model loads 400 trees and scores deterministically") {
    assumeRefModels(cvdPath, ckdPath, anemiaPath)
    val m = XgbModel.load(cvdPath)
    assert(m.trees.length == 400)
    assert(m.numFeature == 14)
    assert(m.baseScore > 0 && m.baseScore < 1)
    val x = Array(60.0, 1.0, 18.0, 210.0, 1.1, 70.0, 105.0, 5.9, 45.0,
      41.0, 13.5, 140.0, 180.0, 1.0)
    val p1 = m.predictProb(x)
    val p2 = m.predictProb(x)
    assert(p1 == p2)
    assert(p1 > 0.0 && p1 < 1.0)
    // missing features route through default directions without crashing
    val pMissing = m.predictProb(Array.fill(14)(Double.NaN))
    assert(pMissing > 0.0 && pMissing < 1.0)
    // all three shipped models load (ckd/anemia too)
    assert(XgbModel.load(ckdPath).trees.length == 400)
    assert(XgbModel.load(anemiaPath).trees.length == 400)
  }

  test("xgb scoring matches independent tree-walker golden probabilities") {
    assumeRefModels(cvdPath, ckdPath, anemiaPath)
    // Golden file generated by tools/xgb_golden.py — a from-scratch Python
    // walker over the same JSON (float32 comparison semantics, no xgboost
    // dependency): 204 probe vectors incl. threshold-exact boundary values,
    // per-feature-NaN patterns, all-NaN and +/-1e9 extremes, for all 3
    // models. Pins M6 to ground truth rather than structural plausibility.
    val models = Map(
      "cvd" -> XgbModel.load(cvdPath),
      "ckd" -> XgbModel.load(ckdPath),
      "anemia" -> XgbModel.load(anemiaPath))
    val src = scala.io.Source.fromURL(getClass.getResource("/fixtures/xgb_golden.csv"))
    val lines = try src.getLines().drop(1).toVector finally src.close()
    assert(lines.length == 204)
    lines.foreach { line =>
      val parts = line.split(",")
      val m = models(parts(0))
      val x = parts.slice(1, 15).map(s => if (s == "nan") Double.NaN else s.toDouble)
      val expected = parts(15).toDouble
      val got = m.predictProb(x)
      assert(math.abs(got - expected) < 1e-6,
        s"${parts(0)}: got $got expected $expected for ${x.mkString(",")}")
    }
  }

  test("XgbScoreExpr codegen path matches predictProb on the golden probes") {
    assumeRefModels(cvdPath)
    import spark.implicits._
    val model = XgbModel.load(cvdPath)
    val bc = spark.sparkContext.broadcast(model)
    val src = scala.io.Source.fromURL(getClass.getResource("/fixtures/xgb_golden.csv"))
    val rows = try src.getLines().drop(1).filter(_.startsWith("cvd,")).toVector
      finally src.close()
    val probes = rows.map { line =>
      val p = line.split(",")
      (p.slice(1, 15).map(s => if (s == "nan") Double.NaN else s.toDouble).toSeq,
        p(15).toDouble)
    }
    val df = probes.toDF("x", "expected")
    val got = df.select(
      XgbScoreExpr.score(col("x"), bc).as("prob"), col("expected")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6))
    assert(got.length == 68)
  }

  test("q47 margins are bit-identical to a driver-side ensemble walk") {
    assumeRefModels(ckdPath)
    // Parity for the oracle-exactness chain (XgbSql scaladoc): the Spark
    // column pipeline (codegen XgbScoreExpr.margin over synthesized
    // features) must equal XgbModel.margin recomputed from the raw
    // customer columns with plain Scala doubles — exactly, not approx.
    val q47 = graft.suite.MlQueries.all("q47_xgb_score")
    val dir = "/root/testdata/sf0.001"
    val got = q47.build(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val model = XgbModel.load(ckdPath)
    val scales = Vector(45.0, 200.0, 2.6, 105.0, 240.0, 8.0, 80.0, 30.0, 12.0, 210.0, 450.0)
    val offs = Vector(5.0, 100.0, 0.4, 15.0, 60.0, 4.0, 20.0, 25.0, 6.0, 40.0, 50.0)
    val raw = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_acctbal").collect()
    assert(raw.length == got.size && raw.nonEmpty)
    val lowCut = math.log(1.0 / 3.0)
    var highs = 0
    raw.foreach { r =>
      val ck = r.getLong(0)
      val bal = r.getDouble(1)
      val x = Array(
        (ck % 60 + 20).toDouble, (ck % 2).toDouble) ++
        scales.zip(offs).map { case (s, o) => ((bal + 1000.0) / 11000.0) * s + o } ++
        Array((ck % 4).toDouble)
      val expected = model.margin(x)
      val row = got(ck)
      assert(row.getDouble(1) == expected, s"custkey $ck")
      assert(row.getInt(2) == (if (expected > 0.0) 1 else 0), s"label $ck")
      val band = if (expected < lowCut) "Low"
        else if (expected < 0.0) "Moderate" else "High"
      assert(row.getString(3) == band, s"band $ck")
      if (band == "High") highs += 1
    }
    assert(highs > 0, "fixture should produce at least one High-risk row")
  }

  test("feature builder: age/sex decode + latest-per-analyte") {
    import spark.implicits._
    val patients = Seq(
      ("p1", "1969-03-01", "female"),
      ("p2", "1980-07-15", "M")).toDF("patient_id", "birth_date", "gender")
    val obs = Seq(
      ("o1", "p1", "Cholesterol in HDL [Mass/volume] in Serum or Plasma", 40.0, "2023-01-01T00:00:00Z"),
      ("o2", "p1", "Cholesterol in HDL [Mass/volume] in Serum or Plasma", 55.0, "2023-06-01T00:00:00Z"),
      ("o3", "p1", "Hemoglobin [Mass/volume] in Blood", 13.1, "2023-06-01T00:00:00Z"),
      ("o4", "p2", "Triglycerides", 170.0, "2023-06-01T00:00:00Z"))
      .toDF("observation_id", "patient_id", "code_display", "value_quantity",
        "effective_datetime")
    val ft = FeatureBuilder.buildFeatureTable(patients, obs, "2025-01-01")
      .collect().map(r => r.getAs[String]("patient_id") -> r).toMap
    assert(ft("p1").getAs[Double]("age") == 55.0)
    assert(ft("p1").getAs[Double]("sex") == 0.0)
    assert(ft("p1").getAs[Double]("hdl_latest") == 55.0) // newest wins
    assert(ft("p1").getAs[Double]("hemoglobin_latest") == 13.1)
    assert(ft("p2").getAs[Double]("sex") == 1.0)
    assert(ft("p2").getAs[Double]("triglycerides_latest") == 170.0)
    assert(ft("p2").getAs[Any]("hdl_latest") == null)
  }

  test("end-to-end inference from the FHIR fixture bundle") {
    assumeRefModels(cvdPath, ckdPath, anemiaPath)
    val fixture = getClass.getResource("/fixtures/bundle1.json").getPath
    val (pat, _, _, obs) = graft.ingest.FhirIngest.curate(spark, fixture)
    val features = FeatureBuilder.buildFeatureTable(pat, obs)
    val out = Scorer.inferAll(spark, features, Map(
      "cvd" -> cvdPath,
      "ckd" -> ckdPath,
      "anemia" -> anemiaPath))
    val rows = out.collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Int]("cluster") >= 0 && r.getAs[Int]("cluster") < 4)
      Seq("cvd_prob", "ckd_prob", "anemia_prob").foreach { c =>
        val p = r.getAs[Double](c)
        assert(p > 0.0 && p < 1.0, c)
      }
      // predm model absent -> null prob, flags still computed
      assert(r.isNullAt(r.fieldIndex("predm_prob")))
      // no HbA1c observation in the fixture and predm prob null -> the M8
      // rule must NOT fire off the imputed median (raw-lab semantics)
      assert(!r.getAs[Boolean]("q_prediabetes"))
    }
  }

  test("pluggable fourth model: the example predm artifact scores through inferAll") {
    assumeRefModels(cvdPath, ckdPath, anemiaPath)
    // The reference UI names 4 diseases but ships 3 artifacts (test.py:477)
    // — the surface accepts any subset. This proves the OTHER direction:
    // a caller who trains the missing predm model plugs it in with one map
    // entry and the whole chain (scoring, prob/label columns, the M8
    // q_prediabetes rule) lights up. The artifact is a hand-authored
    // 2-tree example in the reference's xgboost JSON schema, not a claim
    // about real prediabetes risk.
    val predm = getClass.getResource("/fixtures/xgb_predm_example.json").getPath
    val m = XgbModel.load(predm)
    assert(m.trees.length == 2 && m.numFeature == 14)
    // hand-walk: hba1c=6.0 (≥5.7) → glucose=110 (≥100) → leaf 1.4;
    // age=60 (≥45) → leaf 0.3; base_score 0.5 → margin 0. σ(1.7) ≈ 0.8455
    val x = Array.fill(14)(Double.NaN)
    x(0) = 60.0; x(6) = 110.0; x(7) = 6.0
    // leaves are stored as float32, so compare at ~float precision
    assert(math.abs(m.predictProb(x) - 1.0 / (1.0 + math.exp(-1.7))) < 1e-6)
    val fixture = getClass.getResource("/fixtures/bundle1.json").getPath
    val (pat, _, _, obs) = graft.ingest.FhirIngest.curate(spark, fixture)
    val features = FeatureBuilder.buildFeatureTable(pat, obs)
    val out = Scorer.inferAll(spark, features, Map(
      "cvd" -> cvdPath,
      "ckd" -> ckdPath,
      "anemia" -> anemiaPath,
      "predm" -> predm))
    out.collect().foreach { r =>
      val p = r.getAs[Double]("predm_prob")
      assert(p > 0.0 && p < 1.0)
      // the M8 prediabetes rule now sees a real prob instead of null; the
      // fixture has no HbA1c observation, so the flag is exactly p >= 0.5
      assert(r.getAs[Boolean]("q_prediabetes") == (p >= 0.5))
    }
  }

  test("Scorer parses a model file once, and again once it is rewritten") {
    def write(f: java.io.File, trees: Int): Unit = {
      val tree = """{"split_indices":[0],"split_conditions":[0.5],""" +
        """"left_children":[-1],"right_children":[-1],"default_left":[0]}"""
      val json = """{"learner":{"learner_model_param":{"base_score":"[0.5]",""" +
        """"num_feature":"14"},"gradient_booster":{"model":{"trees":[""" +
        Seq.fill(trees)(tree).mkString(",") + "]}}}}"
      java.nio.file.Files.write(f.toPath, json.getBytes("UTF-8"))
    }
    val f = java.io.File.createTempFile("xgb_memo", ".json")
    try {
      write(f, 1)
      val first = Scorer.loaded(f.getPath)
      assert(Scorer.loaded(f.getPath) eq first)
      write(f, 2)
      val second = Scorer.loaded(f.getPath)
      assert(second ne first)
      assert(second.trees.length == 2)
      assert(Scorer.loaded(f.getPath) eq second)
    } finally f.delete()
  }

  /** Three small generated models (cvd, ckd, anemia; depth-1 trees over
    * every model column, `cluster` included) and a 40-patient feature
    * table with gaps, as Parquet: an `inferAll` input that needs no
    * reference artifact.
    */
  private lazy val generated: (Map[String, String], String) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("infer")
    val paths = Seq("cvd", "ckd", "anemia").zipWithIndex.map { case (d, m) =>
      val trees = (0 until 14).map { f =>
        val thr = if (f == 13) 1.5 else if (f == 1) 0.5 else 40.0 + 10 * m + f
        s"""{"split_indices":[$f,0,0],"split_conditions":[$thr,${0.125 * (f % 3 - 1)},${0.25 - 0.0625 * m}],""" +
          s""""left_children":[1,-1,-1],"right_children":[2,-1,-1],"default_left":[${(f + m) % 2},0,0]}"""
      }
      val json = """{"learner":{"learner_model_param":{"base_score":"[0.3]",""" +
        """"num_feature":"14"},"gradient_booster":{"model":{"trees":[""" +
        trees.mkString(",") + "]}}}}"
      val f = dir.resolve(s"xgb_${d}_model.json")
      java.nio.file.Files.write(f, json.getBytes("UTF-8"))
      d -> f.toString
    }.toMap
    val p = PipelineParams.default
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).map { i =>
      (s"p$i", p.features.indices.map { j =>
        if (rnd.nextDouble() < 0.2) None
        else Some(p.scalerMean(j) + p.scalerScale(j) * rnd.nextGaussian())
      })
    }
    val wide = rows.toDF("patient_id", "xs")
    val features = p.features.zipWithIndex.foldLeft(wide) { case (acc, (f, j)) =>
      acc.withColumn(f, element_at(col("xs"), j + 1))
    }.drop("xs")
    val out = dir.resolve("features").toString
    features.write.parquet(out)
    (paths, out)
  }

  test("inferAll keeps the reference chain's schema, column order and values") {
    val (models, features) = generated
    val p = PipelineParams.default
    Seq(models, models - "ckd", models + ("predm" -> models("cvd"))).foreach { m =>
      val feat = spark.read.parquet(features)
      val got = Scorer.inferAll(spark, feat, m, p)
      val want = ScorerReference.inferAll(spark, feat, m, p)
      assert(got.schema == want.schema, s"${got.schema.treeString}\nvs\n${want.schema.treeString}")
      val rows = got.orderBy("patient_id").collect().toSeq
      assert(rows == want.orderBy("patient_id").collect().toSeq)
      assert(rows.length == 40 && rows.map(_.getAs[Int]("cluster")).forall(c => c >= 0 && c < 4))
    }
  }

  test("a 3-model inferAll plans at most 600 expression nodes and recompiles nothing warm") {
    val (models, features) = generated
    val p = PipelineParams.default
    def infer() = Scorer.inferAll(spark, spark.read.parquet(features), models, p)
    val nodes = graft.tools.Inspect.exprNodes(infer())
    val reference = graft.tools.Inspect.exprNodes(
      ScorerReference.inferAll(spark, spark.read.parquet(features), models, p))
    assert(nodes <= 600, s"$nodes expression nodes (the Column chain: $reference)")
    assert(reference > 600, s"the Column chain plans only $reference nodes")
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    infer().collect()
    val c0 = compiles
    assert(infer().collect().length == 40)
    assert(compiles - c0 == 0, s"a warm inferAll compiled ${compiles - c0} classes")
  }
}
