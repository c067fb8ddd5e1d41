package graft.core

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `Par.ensure` decides whether to spread its input while the caller's
  * plan is being built, so it must not run the input to find out.
  */
class ParSpec extends SparkSpec {

  /** `f`'s value and the Spark jobs started while it ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = f
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def roundRobin(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")

  /** (g, u) in one parquet file, so its scan is one split. */
  private lazy val table: DataFrame = {
    val dir = Files.createTempDirectory("graft_par").toString + "/t"
    spark.range(0, 200).select((col("id") % 7).as("g"), col("id").as("u"))
      .coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("Par.ensure runs no job on an input with exchanges, and still spreads it") {
    // Eval's bootstrap slots (q196): an aggregate, a global window, then
    // an explode; the window leaves one partition
    val sizes = table.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("u")).as("su"))
      .withColumn("gid", row_number().over(Window.orderBy(col("g"))).cast("long"))
    val input = sizes.select(col("g"), col("gid"), col("n"),
      explode(sequence(lit(0L), lit(9L))).as("r"))
    val (spread, jobs) = jobsDuring(Par.ensure(input))
    assert(jobs == 0, s"Par.ensure ran $jobs jobs while the plan was built")
    assert(roundRobin(spread), spread.queryExecution.executedPlan.toString)
    assert(spread.count() == 70)
  }

  test("Par.ensure spreads a one-file scan and leaves a parallel input alone") {
    val scan = table
    val (spread, jobs) = jobsDuring(Par.ensure(scan))
    assert(jobs == 0, s"Par.ensure ran $jobs jobs on a scan")
    assert(roundRobin(spread), spread.queryExecution.executedPlan.toString)
    val wide = spark.range(0, 100, 1, spark.sparkContext.defaultParallelism).toDF()
    val (same, wideJobs) = jobsDuring(Par.ensure(wide))
    assert(wideJobs == 0, s"Par.ensure ran $wideJobs jobs on a range")
    assert(same eq wide)
  }
}
