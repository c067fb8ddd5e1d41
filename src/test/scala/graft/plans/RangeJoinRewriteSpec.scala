package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RangeJoinRewriteSpec extends SparkSpec {

  private def withRule[A](f: => A): A = {
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ RangeJoinRewrite
    try f finally spark.experimental.extraOptimizations = before
  }

  private def points = {
    import spark.implicits._
    Seq((1L, -25L), (2L, -10L), (3L, 0L), (4L, 10L), (5L, 10L),
      (6L, 19L), (7L, 20L), (8L, 35L), (9L, 100L), (10L, 101L))
      .toDF("pid", "p")
  }
  private def intervals = {
    import spark.implicits._
    Seq((100L, Some(-30L), Some(-20L)), (200L, Some(-5L), Some(12L)),
      (300L, Some(10L), Some(10L)), (400L, Some(15L), Some(95L)),
      (500L, Some(90L), Some(200L)), (600L, Some(300L), Some(310L)),
      (700L, Some(50L), Some(40L)),   // inverted -> no matches
      (800L, None, Some(10L)))        // null bound -> no matches
      .toDF("iid", "lo", "hi")
  }

  test("equi-keyless BETWEEN join rewrites to a shuffled equi join, same answer") {
    import spark.implicits._
    val naive = points.join(intervals,
      col("p") >= col("lo") && col("p") <= col("hi"))
    val want = naive.select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
    assert(naive.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))

    withRule {
      for (w <- Seq("1", "7", "64")) {
        spark.conf.set("spark.graft.rangeJoin.binWidth", w)
        try {
          val rewritten = points.join(intervals,
            col("p") >= col("lo") && col("p") <= col("hi"))
          val plan = rewritten.queryExecution.executedPlan.toString
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            s"binWidth=$w still nested-loop:\n$plan")
          assert(plan.contains("Generate explode"), plan)
          val got = rewritten.select("pid", "iid")
            .as[(Long, Long)].collect().sorted.toSeq
          assert(got == want, s"binWidth=$w: got $got want $want")
        } finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
      }
    }
  }

  test("non-matching shapes are left untouched") {
    import spark.implicits._
    withRule {
      // a single-side extra conjunct gets pushed below the join BEFORE
      // this batch runs, leaving the pure range -> rewritten (and right)
      val pushed = points.join(intervals,
        col("p") >= col("lo") && col("p") <= col("hi") && col("iid") > 100L)
      assert(!pushed.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      assert(pushed.count() == 10) // the 11 matches minus iid=100's one pair

      // a BOTH-sides extra conjunct cannot be pushed -> not the exact
      // two-range shape -> untouched
      val extra = points.join(intervals,
        col("p") >= col("lo") && col("p") <= col("hi") && col("pid") =!= col("iid"))
      assert(extra.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))

      // BETWEEN sugar parses to the same conjuncts -> rewritten
      points.createOrReplaceTempView("rjr_points")
      intervals.createOrReplaceTempView("rjr_intervals")
      val sugar = spark.sql(
        "SELECT pid, iid FROM rjr_points JOIN rjr_intervals ON p BETWEEN lo AND hi")
      assert(!sugar.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      assert(sugar.count() == 11) // same 11 pairs as the rewritten DataFrame join
    }
  }
}
