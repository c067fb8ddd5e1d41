package graft.ml

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** M2+M3 and M4 of the inference chain (SURVEY.md §2.5) as two native
  * expressions over the broadcast-sized [[PipelineParams]] constants:
  * [[PcaProject]] maps the 19 raw features to the 14-element `pca_y`
  * array, [[NearestCenter]] maps `pca_y` to the k-means `cluster`.
  *
  * Each kernel is ONE Scala method, called by `nullSafeEval` and by a
  * one-line `doGenCode` (the NativeExpressions style, as in
  * [[XgbScoreExpr]]), so the plan carries two expression nodes, not 14×19
  * unrolled products and an argmin that repeats each distance: analysis,
  * optimization and code generation walk the plan's expression tree, and
  * at clinic scale they cost more than the rows.
  *
  * The arithmetic keeps the operation order of the Column formulation
  * (kept in test scope as the parity reference), so the doubles are
  * bit-identical and q37's DuckDB oracle stays exact:
  *  - `s_j = (x_j - μ_j) / σ_j - pm_j`;
  *  - `y_i = ((s_0·C[i][0] + s_1·C[i][1]) + …)`, a left fold;
  *  - `d_k = ((y_0 - c_k0)² + (y_1 - c_k1)²) + …`, a left fold;
  *  - `cluster` = the lowest k whose `d_k` equals `least(d_0, …)` under
  *    Spark's double ordering (NaN is the largest value and NaN = NaN;
  *    -0.0 = 0.0).
  *
  * Nulls: a null feature makes every `y_i` null (each touches all 19
  * features) and a `pca_y` with any null element has cluster -1, as the
  * Column formulation gave. PcaKMeansSpec checks both kernels,
  * interpreted and generated, against that formulation.
  */
object PcaKMeans {

  /** `pca_y` of one row: `x` holds the raw features in `p.features`
    * order; `mean`/`scale`/`pcaMean` are per feature, `comps` is the
    * (nComp × nFeat) component matrix, row-major.
    */
  def project(x: ArrayData, mean: Array[Double], scale: Array[Double],
      pcaMean: Array[Double], comps: Array[Double]): ArrayData = {
    val nFeat = mean.length
    val nComp = comps.length / nFeat
    val out = UnsafeArrayData.createFreshArray(nComp, 8)
    var anyNull = false
    var j = 0
    while (j < nFeat) { if (x.isNullAt(j)) anyNull = true; j += 1 }
    if (anyNull) {
      var i = 0
      while (i < nComp) { out.setNullAt(i); i += 1 }
    } else {
      val s = new Array[Double](nFeat)
      j = 0
      while (j < nFeat) { s(j) = (x.getDouble(j) - mean(j)) / scale(j) - pcaMean(j); j += 1 }
      var i = 0
      while (i < nComp) {
        val row = i * nFeat
        var acc = s(0) * comps(row)
        j = 1
        while (j < nFeat) { acc += s(j) * comps(row + j); j += 1 }
        out.setDouble(i, acc)
        i += 1
      }
    }
    out
  }

  /** Index of the nearest of the (k × dim, row-major) `centers` to `y`,
    * or -1 when an element of `y` is null. One pass keeping the first
    * strict minimum under Spark's double ordering — the lowest k whose
    * distance equals the `least` of all of them.
    */
  def nearest(y: ArrayData, centers: Array[Double], dim: Int): Int = {
    var i = 0
    while (i < dim) { if (y.isNullAt(i)) return -1; i += 1 }
    val k = centers.length / dim
    var best = -1
    var bestD = 0.0
    var c = 0
    while (c < k) {
      val row = c * dim
      var d0 = y.getDouble(0) - centers(row)
      var d = d0 * d0
      i = 1
      while (i < dim) {
        d0 = y.getDouble(i) - centers(row + i)
        d += d0 * d0
        i += 1
      }
      if (best < 0 || less(d, bestD)) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** `a < b` in Spark's double ordering (`SQLOrderingUtil.compareDoubles`):
    * NaN above +Inf, NaN = NaN, -0.0 = 0.0.
    */
  private def less(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) < 0
}

/** M2+M3: `pca_y` (array<double>, 14 elements) from the array of the 19
  * raw features in `p.features` order. See [[PcaKMeans]].
  */
case class PcaProject(child: Expression, p: PipelineParams) extends UnaryExpression {

  @transient private lazy val mean = p.scalerMean.toArray
  @transient private lazy val scale = p.scalerScale.toArray
  @transient private lazy val pcaMean = p.pcaMean.toArray
  @transient private lazy val comps = p.pcaComponents.flatten.toArray

  override def dataType: DataType = ArrayType(DoubleType,
    containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)
  override def nullable: Boolean = child.nullable

  def project(x: ArrayData): ArrayData = PcaKMeans.project(x, mean, scale, pcaMean, comps)

  override def nullSafeEval(input: Any): Any = project(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pcaProject", this, classOf[PcaProject].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.project($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** M4: the nearest k-means center (int) of a `pca_y` array; -1 when an
  * element is null. See [[PcaKMeans]].
  */
case class NearestCenter(child: Expression, p: PipelineParams) extends UnaryExpression {

  @transient private lazy val centers = p.kmeansCenters.flatten.toArray
  private def dim: Int = p.kmeansCenters.head.length

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  def nearest(y: ArrayData): Int = PcaKMeans.nearest(y, centers, dim)

  override def nullSafeEval(input: Any): Any = nearest(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCenter", this, classOf[NearestCenter].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.nearest($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
