package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RangeJoinSpec extends SparkSpec {

  test("bin-bucketed range join == brute-force BETWEEN on adversarial fixtures") {
    import spark.implicits._
    // negatives, bin-boundary points, intervals shorter and much longer
    // than the bin width, duplicates, and a point matching two intervals
    val points = Seq((1L, -25L), (2L, -10L), (3L, 0L), (4L, 10L), (5L, 10L),
      (6L, 19L), (7L, 20L), (8L, 35L), (9L, 100L), (10L, 101L))
      .toDF("pid", "p")
    val intervals = Seq((100L, -30L, -20L), (200L, -5L, 12L), (300L, 10L, 10L),
      (400L, 15L, 95L), (500L, 90L, 200L), (600L, 300L, 310L))
      .toDF("iid", "lo", "hi")
    for (w <- Seq(1L, 7L, 10L, 64L)) {
      val got = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", w)
        .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
      val want = points.crossJoin(intervals)
        .filter(col("p") >= col("lo") && col("p") <= col("hi"))
        .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
      assert(got == want, s"binWidth=$w: got $got, want $want")
    }
  }

  test("optional equi key composes with the bin") {
    import spark.implicits._
    val points = Seq(("u1", 1L, 10L), ("u2", 2L, 10L), ("u1", 3L, 50L))
      .toDF("user", "pid", "p")
    val intervals = Seq(("u1", 100L, 0L, 20L), ("u2", 200L, 0L, 20L),
      ("u1", 300L, 40L, 60L)).toDF("user", "iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi",
        binWidth = 16L, equiKeys = Seq("user" -> "user"))
      .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
    // u1@10 -> 100 (not u2's 200); u2@10 -> 200; u1@50 -> 300
    assert(got == Seq((1L, 100L), (2L, 200L), (3L, 300L)))
  }

  test("plan shape: binned join shuffles; naive BETWEEN falls back to nested-loop") {
    import spark.implicits._
    val points = spark.range(0, 1000).select(col("id").as("pid"),
      (col("id") * 7 % 5000).as("p"))
    val intervals = spark.range(0, 100).select(col("id").as("iid"),
      (col("id") * 50).as("lo"), (col("id") * 50 + 40).as("hi"))
    val binned = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", 50L)
    val bp = binned.queryExecution.executedPlan.toString
    assert(!bp.contains("BroadcastNestedLoopJoin") && !bp.contains("CartesianProduct"),
      s"binned range join must be an equi join:\n$bp")
    // the motivating failure: the declarative form has no equi key
    val naive = points.join(intervals,
      col("p") >= col("lo") && col("p") <= col("hi"))
    val np = naive.queryExecution.executedPlan.toString
    assert(np.contains("BroadcastNestedLoopJoin") || np.contains("CartesianProduct"), np)
    // and the answers agree
    assert(binned.count() == naive.count())
  }

  test("interval columns colliding with point columns are suffixed _r") {
    import spark.implicits._
    val points = Seq((1L, 5L)).toDF("id", "p")
    val intervals = Seq((9L, 0L, 10L)).toDF("id", "lo", "hi")
    val out = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", 4L)
    assert(out.columns.toSeq == Seq("id", "p", "id_r", "lo", "hi"))
    assert(out.select("id", "id_r").as[(Long, Long)].collect().head == ((1L, 9L)))
  }

  test("rangeJoin: exact inclusive-bounds pairing across bin boundaries") {
    import spark.implicits._
    val pts = Seq((1L, 0L), (2L, 10L), (3L, 19L), (4L, 20L), (5L, 25L),
      (6L, 31L)).toDF("pid", "p")
    // intervals deliberately straddle the width-10 bin edges
    val iv = Seq((100L, 0L, 19L), (200L, 20L, 30L), (300L, 5L, 25L))
      .toDF("ivid", "lo", "hi")
    val got = RangeJoin
      .pointInInterval(pts, "p", iv, "lo", "hi", binWidth = 10L)
      .select("pid", "ivid").as[(Long, Long)].collect().toSet
    val want = (for {
      (pid, p) <- Seq((1L, 0L), (2L, 10L), (3L, 19L), (4L, 20L), (5L, 25L), (6L, 31L))
      (ivid, lo, hi) <- Seq((100L, 0L, 19L), (200L, 20L, 30L), (300L, 5L, 25L))
      if p >= lo && p <= hi
    } yield (pid, ivid)).toSet
    assert(got === want)
    // no duplicate pairs even though interval 300 spans three bins
    val rows = RangeJoin
      .pointInInterval(pts, "p", iv, "lo", "hi", binWidth = 10L)
      .select("pid", "ivid").collect()
    assert(rows.length == got.size)
  }

  test("rangeJoin: equi-key variant only pairs within the key") {
    import spark.implicits._
    val pts = Seq((1L, "a", 5L), (2L, "b", 5L)).toDF("pid", "pk", "p")
    val iv = Seq((100L, "a", 0L, 10L)).toDF("ivid", "ik", "lo", "hi")
    val got = RangeJoin
      .pointInInterval(pts, "p", iv, "lo", "hi", binWidth = 4L,
        equiKeys = Seq("pk" -> "ik"))
      .select("pid", "ivid").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 100L)))
  }

  test("rangeJoin: an interval spanning >= maxBins fails fast, not silently") {
    import spark.implicits._
    val pts = Seq((1L, 5L)).toDF("pid", "p")
    val iv = Seq((100L, 0L, 1000L)).toDF("ivid", "lo", "hi")
    val ex = intercept[Exception] {
      RangeJoin
        .pointInInterval(pts, "p", iv, "lo", "hi", binWidth = 10L,
          maxBinsPerInterval = 50).collect()
    }
    assert(ex.getMessage != null)
  }
}
