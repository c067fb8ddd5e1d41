package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Optimized Product Quantization — a fixed orthogonal rotation applied
  * before [[Pq]]'s subspace slicing, the standard recall upgrade when
  * embedding dimensions are correlated or variance-skewed (contiguous
  * slices then carry wildly unequal information and the per-subspace
  * codebooks waste their bits; OPQ, Ge et al. CVPR 2013, parametric
  * solution).
  *
  * Two rotations, one apply path:
  *
  *  - [[trainRotation]] — the OPQ-parametric rotation: PCA eigenbasis of
  *    the corpus covariance ([[Pca.covarianceMatrix]] one-pass
  *    distributed + [[Pca.jacobiEigen]] deterministic driver solve),
  *    then GREEDY BALANCED EIGENVALUE ALLOCATION: eigenvalues in
  *    descending order each go to the open subspace with the smallest
  *    current log-variance product, so every subspace ends with a
  *    comparable share of the spectrum instead of subspace 1 hoarding
  *    it. Deterministic end to end (rounded covariance, fixed sweep
  *    order, sign-pinned eigenvectors, ties by subspace index) — same
  *    reproducibility contract as [[Clustering.lloydCentroids]].
  *  - [[hadamardRotation]] — the data-independent structured rotation
  *    (the classic pre-rotation trick): H[i][j] = ±1/√d by the Sylvester
  *    construction, exact in IEEE for power-of-two d (entries ±2^-k), so
  *    it is literally pinnable in a DuckDB oracle — q205 certifies the
  *    whole rotate → encode → ADC path with it.
  *
  * [[rotate]] applies either as ONE broadcast d×d literal multiply — a
  * narrow codegen'd projection (d index-order folds per row, the
  * [[Pca.project]] shape), zero shuffle, fused into whatever scan feeds
  * it. The rotation matrix is d² doubles (32 KB at d = 64) — driver/
  * broadcast-sized by construction at any corpus scale.
  *
  * Orthogonality means ADC distances in rotated space equal true
  * distances in the original space up to quantization error, so queries
  * rotate once (driver-side, d² flops) and the [[Pq]] scan path is
  * unchanged — same codes table shape, same lookup-sum expression.
  */
object Opq {

  /** Train the OPQ-parametric rotation on the corpus: PCA + balanced
    * eigenvalue allocation. Returns the d×d rotation as rows — output
    * dimension r of the rotated vector is `row_r · x`; rows are grouped
    * so that output dims [s·d/m, (s+1)·d/m) form subspace s with
    * balanced spectrum share. `dim` must divide by `m`.
    */
  def trainRotation(corpus: DataFrame, vecCol: String, dim: Int, m: Int,
      roundDp: Int = 6): Array[Array[Double]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val cov = Pca.collectMatrix(Pca.covarianceMatrix(corpus, vecCol, roundDp))
    require(cov.length == dim, s"covariance is ${cov.length}x — expected $dim")
    val (eigvals, eigvecs) = Pca.jacobiEigen(cov)
    // greedy balanced allocation: eigenvalues descending (jacobiEigen's
    // order); each goes to the open subspace with the smallest current
    // log-product of assigned eigenvalues (ties by subspace index) —
    // the OPQ paper's parametric criterion: minimize the max subspace
    // variance product. log-space, clamped, so zero/negative rounding
    // noise cannot NaN the comparison.
    val fill = Array.fill(m)(0)
    val logProd = Array.fill(m)(0.0)
    val assigned = Array.fill(m)(List.newBuilder[Int])
    for (i <- eigvals.indices) {
      val s = (0 until m).filter(fill(_) < sub)
        .minBy(s => (logProd(s), s))
      assigned(s) += i
      fill(s) += 1
      logProd(s) += math.log(math.max(eigvals(i), 1e-12))
    }
    assigned.flatMap(_.result()).map(eigvecs(_))
  }

  /** The normalized Walsh–Hadamard matrix for power-of-two `dim`:
    * H[i][j] = (−1)^popcount(i AND j) / √dim (Sylvester). Orthogonal;
    * for dim = 4^k the entries ±2^−k are EXACT IEEE doubles, which is
    * what lets a DuckDB oracle replay the rotation bit for bit.
    */
  def hadamardRotation(dim: Int): Array[Array[Double]] = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"dim must be a power of two: $dim")
    val scale = 1.0 / math.sqrt(dim.toDouble)
    Array.tabulate(dim, dim) { (i, j) =>
      if (java.lang.Integer.bitCount(i & j) % 2 == 0) scale else -scale
    }
  }

  /** Apply a rotation to the vector column: (idCol, vecCol) with
    * vecCol replaced by the rotated array<double> — output dim r is the
    * index-order left fold Σ_j R[r][j]·x[j], rounded to `roundDp` (the
    * family's between-stages rounding, so downstream KMeans sees
    * engine-identical inputs). One narrow projection, zero shuffle —
    * the d² multiply-adds run in the codegen'd
    * [[graft.functions.RotateMatVec]] kernel (bit-identical to the HOF
    * `round(aggregate(zip_with(…)))` per dim, which OpqSpec pins; the
    * kernel matters because iterative trainers downstream re-execute
    * this projection once per job — q210 ran 5× slower on the
    * interpreted form).
    *
    * An IVF+PQ index in rotated space (q210, q214) rotates its corpus and
    * every merged batch with this, and each query with [[rotateVector]];
    * `Pq`'s build, merge and serve are unchanged. The rotation is a
    * frozen model like the coarse quantizer and codebooks, which must be
    * trained on rotated vectors: retrain all three together or none.
    */
  def rotate(corpus: DataFrame, idCol: String, vecCol: String,
      rotation: Array[Array[Double]], roundDp: Int = 6): DataFrame =
    corpus.select(col(idCol),
      graft.functions.NativeExpressions
        .rotate_mat_vec(col(vecCol), rotation, roundDp).as(vecCol))

  /** Rotate a driver-side query vector with the same fold order and
    * rounding as [[rotate]] — ADC queries must live in the same rotated
    * space as the codes.
    */
  def rotateVector(q: Array[Double], rotation: Array[Array[Double]],
      roundDp: Int = 6): Array[Double] =
    rotation.map { row =>
      var acc = 0.0
      var j = 0
      while (j < row.length) { acc += q(j) * row(j); j += 1 }
      // non-finite passes through, mirroring RotateMatVec / Spark's
      // RoundBase (BigDecimal(NaN) throws)
      if (acc.isNaN || acc.isInfinite) acc
      else BigDecimal(acc).setScale(roundDp, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
}
