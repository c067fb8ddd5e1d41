package graft.ml

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Pure-Scala evaluator for the reference's serialized XGBoost binary
  * classifiers (`xgb_{cvd,ckd,anemia}_model.json`, xgboost 3.1.2 JSON model
  * format; SURVEY.md §2.5 M6). 400 trees × 14 features each.
  *
  * Format facts (xgboost JSON model schema):
  *  - `trees[k].split_conditions[i]` is the threshold for internal nodes and
  *    the LEAF VALUE for leaves (left_children[i] == -1);
  *  - traversal: feature < threshold → left child, else right; missing
  *    feature → `default_left[i]`;
  *  - final margin = Σ leaf values + logit(base_score) for binary:logistic
  *    (base_score is stored in probability space);
  *    probability = sigmoid(margin); label = prob > threshold (0.5,
  *    test.py:330).
  *
  * The model arrays are compact primitives — broadcast once, evaluated as a
  * tight JVM loop per row (no shuffle; scoring is a narrow map). The
  * [[XgbScoreExpr]] native expression calls that loop from whole-stage
  * codegen on the unsafe feature array, with no boxing.
  */
final case class XgbTree(
    splitIndices: Array[Int],
    splitConditions: Array[Float],
    leftChildren: Array[Int],
    rightChildren: Array[Int],
    defaultLeft: Array[Boolean])

final case class XgbModel(trees: Array[XgbTree], baseScore: Double, numFeature: Int) {

  /** logit(base_score); public so [[XgbSql]] can embed the IDENTICAL double
    * in the compiled oracle SQL (one `math.log` call, rendered via
    * shortest-round-trip repr — no cross-engine libm dependence).
    */
  val baseMargin: Double = math.log(baseScore / (1.0 - baseScore))

  /** Margin contribution of one tree for a feature vector (NaN = missing).
    * xgboost stores features and thresholds as float32 and compares at
    * float32 (`fvalue < split_condition` on bst_float) — widening the
    * threshold to double and comparing a double feature against it can
    * route boundary values differently, so the feature is narrowed to
    * Float first and the comparison runs at Float precision.
    */
  private def treeScore(t: XgbTree, x: Array[Double]): Double = {
    var i = 0
    while (t.leftChildren(i) != -1) {
      val f = t.splitIndices(i)
      val v = if (f < x.length) x(f) else Double.NaN
      i = if (v.isNaN) {
        if (t.defaultLeft(i)) t.leftChildren(i) else t.rightChildren(i)
      } else if (v.toFloat < t.splitConditions(i)) t.leftChildren(i)
      else t.rightChildren(i)
    }
    t.splitConditions(i)
  }

  def margin(x: Array[Double]): Double = {
    var s = baseMargin
    var k = 0
    while (k < trees.length) { s += treeScore(trees(k), x); k += 1 }
    s
  }

  def predictProb(x: Array[Double]): Double = 1.0 / (1.0 + math.exp(-margin(x)))

  /** Zero-boxing entry point for [[XgbScoreExpr]]: reads the features
    * straight out of the catalyst array (same semantics as
    * [[predictProb]]; NaN = missing).
    */
  def predictProbArray(a: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = a.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = a.getDouble(i); i += 1 }
    predictProb(x)
  }

  /** As [[predictProbArray]] but returns the raw additive margin — pure
    * float32-leaf additions into a double accumulator, no transcendental —
    * so a DuckDB mirror ([[XgbSql]]) reproduces it bit-exactly where the
    * sigmoid probability would be exposed to libm `exp` ULP differences.
    */
  def marginArray(a: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = a.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = a.getDouble(i); i += 1 }
    margin(x)
  }
}

object XgbModel {
  implicit private val formats: Formats = DefaultFormats

  /** Load from an xgboost JSON model file (UBJSON not supported). */
  def load(path: String): XgbModel = {
    val src = scala.io.Source.fromFile(path)
    val json = try JsonMethods.parse(src.mkString) finally src.close()
    val learner = json \ "learner"
    val treesJson = (learner \ "gradient_booster" \ "model" \ "trees")
      .extract[List[JValue]]
    val trees = treesJson.map { t =>
      XgbTree(
        (t \ "split_indices").extract[Array[Int]],
        (t \ "split_conditions").extract[Array[Float]],
        (t \ "left_children").extract[Array[Int]],
        (t \ "right_children").extract[Array[Int]],
        (t \ "default_left").extract[Array[Int]].map(_ != 0))
    }.toArray
    // base_score serializes as "[1.0553987E-1]" (per-target array) in
    // xgboost >= 2; single-target binary models have exactly one entry.
    val baseScore = (learner \ "learner_model_param" \ "base_score")
      .extract[String].stripPrefix("[").stripSuffix("]").split(",").head.toDouble
    val numFeature = (learner \ "learner_model_param" \ "num_feature")
      .extract[String].toInt
    XgbModel(trees, baseScore, numFeature)
  }
}
