package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark keeps at most `spark.sql.codegen.cache.maxEntries` (100) generated
  * classes, keyed by class loader and code, in four LRU segments. A query
  * whose plan needs more classes than that recompiles them on every run.
  * q204, the curation capstone, is the heaviest composition the engine
  * runs repeatedly (the `corpus_curation` benchmark): its third run in one
  * JVM must find its classes cached and run a bounded number of jobs.
  */
class CodegenWorkingSetSpec extends SparkSpec {

  test("a warm q204 run reuses its generated classes and runs at most 30 jobs") {
    val sf = "/root/testdata/sf0.001"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def run(): (Long, Int, Int) = {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        val (c0, j0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, jobs.get)
        val rows = SparkEntry.queries("q204_curation_pipeline")(spark, sf).collect().length
        org.apache.spark.ListenerDrain(spark.sparkContext)
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, jobs.get - j0, rows)
      }
      val runs = Seq.fill(3)(run())
      val (compiles, nJobs, rows) = runs.last
      assert(runs.map(_._3).distinct == Seq(rows) && rows > 0, runs)
      assert(compiles <= 40, s"third run compiled $compiles classes (runs: $runs)")
      assert(nJobs <= 30, s"third run ran $nJobs jobs (runs: $runs)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
