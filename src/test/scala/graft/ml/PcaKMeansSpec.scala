package graft.ml

import java.lang.{Double => JDouble}
import java.nio.file.Files
import graft.{CodegenParity, SparkSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** The [[PcaKMeans]] kernels (`pca_y`, `cluster`) against the Column
  * formulation they replaced ([[ScorerReference]]): bit-identical doubles
  * and the same cluster, with whole-stage codegen and interpreted, and each
  * kernel's generated code against its own `eval`.
  *
  * perfbench cannot catch a wrong cluster (its XGB check reads the cluster
  * the program wrote); this spec and q37's DuckDB oracle are the guards.
  */
class PcaKMeansSpec extends SparkSpec with CodegenParity {

  private val p = PipelineParams.default
  private val nFeat = p.features.length

  /** Raw features whose `pca_y` is `y` (orthonormal components make the
    * inverse Cᵀ·y, then undo centering and scaling).
    */
  private def rawAt(y: IndexedSeq[Double]): IndexedSeq[Double] =
    p.features.indices.map { j =>
      val zj = p.pcaMean(j) + p.pcaComponents.indices.map(i => y(i) * p.pcaComponents(i)(j)).sum
      zj * p.scalerScale(j) + p.scalerMean(j)
    }

  /** Each center, the midpoint of each pair of centers, and edge values
    * (NaN, ±Inf, -0.0, a null element, overflow) planted in a center row.
    */
  private val crafted: Seq[Seq[JDouble]] = {
    val centers = p.kmeansCenters.map(c => rawAt(c))
    val mids = for (a <- p.kmeansCenters.indices; b <- p.kmeansCenters.indices if a < b)
      yield rawAt(p.kmeansCenters(a).zip(p.kmeansCenters(b)).map { case (x, y) => (x + y) / 2 })
    val base = centers.map(_.map(x => x: JDouble))
    val planted = for {
      v <- Seq[JDouble](Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        -0.0, 0.0, null, Double.MaxValue, -Double.MaxValue)
      j <- Seq(0, 1, 7, nFeat - 1)
    } yield base((j + 1) % base.size).updated(j, v)
    base ++ mids.map(_.map(x => x: JDouble)) ++ planted ++ Seq[Seq[JDouble]](
      Seq.fill(nFeat)(Double.NaN), Seq.fill(nFeat)(null), Seq.fill(nFeat)(-0.0),
      Seq.fill(nFeat)(0.0), Seq.fill(nFeat)(Double.PositiveInfinity),
      (0 until nFeat).map(j => (if (j % 2 == 0) Double.PositiveInfinity else Double.NegativeInfinity): JDouble))
  }

  /** 20k seeded rows around the fitted means; about 1% of elements are
    * NaN, ±Inf, -0.0 or null.
    */
  private val random: Seq[Seq[JDouble]] = {
    val rnd = new scala.util.Random(20261020L)
    val odd = Array[JDouble](Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, null)
    Seq.fill(20000)(p.features.indices.map { j =>
      if (rnd.nextDouble() < 0.01) odd(rnd.nextInt(odd.length))
      else (p.scalerMean(j) + p.scalerScale(j) * 1.5 * rnd.nextGaussian()): JDouble
    })
  }

  private lazy val inputs: DataFrame = {
    val rows = (crafted ++ random).zipWithIndex.map { case (xs, id) => Row(id.toLong +: xs: _*) }
    val schema = StructType(StructField("id", LongType) +:
      p.features.map(f => StructField(f, DoubleType)))
    val dir = Files.createTempDirectory("pcakmeans").resolve("x").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def bits(v: Any): Any = v match {
    case d: Double => JDouble.doubleToLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  /** Reference and kernel `pca_y`/`cluster` side by side; every row must
    * agree bit for bit, and `Scorer.cluster` must equal the kernel's.
    */
  private def assertParity(): Unit = {
    val both = inputs
      .select(col("*"), ScorerReference.pcaY(p).as("ry"), Scorer.pcaY(p).as("ky"),
        Scorer.cluster(p).as("kc1"))
      .select(col("id"), col("ry"), col("ky"),
        ScorerReference.cluster(col("ry"), p).as("rc"),
        Scorer.nearestCenter(col("ky"), p).as("kc"), col("kc1"))
      .orderBy(col("id")).collect()
    assert(both.length == crafted.size + random.size)
    val bad = both.filter(r => bits(r.getSeq[Any](1)) != bits(r.getSeq[Any](2)) ||
      r.getInt(3) != r.getInt(4) || r.getInt(4) != r.getInt(5))
    assert(bad.isEmpty, s"${bad.length} mismatches, e.g.\n${bad.take(3).mkString("\n")}")
    val clusters = both.map(_.getInt(4)).groupBy(identity).map { case (k, v) => k -> v.length }
    assert(clusters.keySet == Set(-1, 0, 1, 2, 3), clusters)
    p.kmeansCenters.indices.foreach(k => assert(both(k).getInt(4) == k, s"center $k"))
  }

  test("pca_y and cluster: kernels == Column formulation, whole-stage codegen") {
    assertParity()
  }

  test("pca_y and cluster: kernels == Column formulation, interpreted") {
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(assertParity())
  }

  test("kernel generated code == eval, on crafted and random rows") {
    val xs = BoundReference(0, ArrayType(DoubleType, containsNull = true), nullable = true)
    val sample = crafted ++ random.take(2000)
    assertCodegenMatchesEval(PcaProject(xs, p), Seq(null) +: sample.map(r => Seq(r)))
    val ys: Seq[Seq[Any]] = sample.map(r => PcaProject(xs, p).project(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(r.map(x => x: Any).toArray)))
      .map(a => (0 until a.numElements()).map(i => if (a.isNullAt(i)) null else a.getDouble(i)))
    val edges: Seq[Seq[Any]] = p.kmeansCenters.map(_.map(x => x: Any)) ++ Seq(
      Seq.fill(14)(Double.NaN), Seq.fill(14)(-0.0), Seq.fill(14)(Double.PositiveInfinity),
      p.kmeansCenters.head.updated(3, Double.NaN), p.kmeansCenters(2).updated(0, null))
    assertCodegenMatchesEval(NearestCenter(xs, p), Seq(null) +: (ys ++ edges).map(Seq(_)))
  }

  test("exact ties go to the lowest center; NaN is largest and NaN = NaN") {
    // two features, identity components, centers (1,0) (-1,0) (0,1) (2,0)
    val q = PipelineParams(Vector("a", "b"), Vector(0.0, 0.0), Vector(0.0, 0.0),
      Vector(1.0, 1.0), Vector(0.0, 0.0), Vector(Vector(1.0, 0.0), Vector(0.0, 1.0)),
      Vector(Vector(1.0, 0.0), Vector(-1.0, 0.0), Vector(0.0, 1.0), Vector(2.0, 0.0)))
    val cases: Seq[((JDouble, JDouble), Int)] = Seq(
      (0.0: JDouble, 0.0: JDouble) -> 0,    // d = 1, 1, 1, 4
      (1.5: JDouble, 0.0: JDouble) -> 0,    // d0 = d3 = 0.25
      (-0.5: JDouble, 0.5: JDouble) -> 1,   // d1 = d2 = 0.5 < d0
      (-0.0: JDouble, 1.0: JDouble) -> 2,
      // an infinite feature makes y = (±Inf, Inf·0 = NaN): every distance
      // is NaN, and NaN = NaN picks the first center
      (Double.NaN: JDouble, 0.0: JDouble) -> 0,
      (Double.PositiveInfinity: JDouble, 0.0: JDouble) -> 0,
      (Double.NegativeInfinity: JDouble, 0.0: JDouble) -> 0,
      (0.0: JDouble, Double.PositiveInfinity: JDouble) -> 0,
      (null, 1.0: JDouble) -> -1)
    val schema = StructType(Seq(StructField("i", LongType),
      StructField("a", DoubleType), StructField("b", DoubleType)))
    val dir = Files.createTempDirectory("pcakmeans-ties").resolve("x").toString
    spark.createDataFrame(spark.sparkContext.parallelize(
      cases.zipWithIndex.map { case (((a, b), _), i) => Row(i.toLong, a, b) }, 1), schema)
      .write.parquet(dir)
    val got = spark.read.parquet(dir)
      .select(col("i"), Scorer.cluster(q).as("k"),
        ScorerReference.cluster(ScorerReference.pcaY(q), q).as("r"))
      .orderBy(col("i")).collect().map(r => (r.getInt(1), r.getInt(2)))
    cases.map(_._2).zip(got).foreach { case (want, (k, r)) =>
      assert(k == want && r == want, cases.zip(got).mkString("\n"))
    }
  }
}
