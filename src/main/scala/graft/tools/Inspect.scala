package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.graftbridge.Bridge
import graft.SparkEntry

/** Dev inspector for registered queries, picked by comma-separated name
  * prefixes (the `SPARK_GRAFT_ONLY` match). Runs them in name order on one
  * [[graft.core.Session.local]] session (`SPARK_GRAFT_CPUS` cores),
  * clearing the cache after each query. A development tool only.
  *
  * {{{
  * runMain graft.tools.Inspect run     <sfDir> <prefix,…>
  * runMain graft.tools.Inspect time    <sfDir> <prefix,…>
  * runMain graft.tools.Inspect stages  <sfDir> <prefix,…>
  * runMain graft.tools.Inspect explain <sfDir> <prefix,…> <outDir>
  * }}}
  *
  *  - `run`: the row count, or the full stack trace (Bench and Verify
  *    swallow a query's exception by design); ends `ALL OK` or `FAILED: …`;
  *  - `time`: wall time, row count, the number of classes Spark's code
  *    generator compiled while the query ran (its generated-code cache
  *    misses) and the expression nodes of its optimized plan (the tree
  *    the optimizer and the code generator walk), per query, then the
  *    total;
  *  - `stages`: two noop-sink runs per query, each listing its slowest
  *    stages with wall time, tasks, CPU and shuffle volumes;
  *  - `explain`: the formatted plan plus every lineage-frozen subplan,
  *    written to `<outDir>/<query>.txt`. A before/after pair is two output
  *    directories; a kernel count is a grep over the files.
  */
object Inspect {
  private type Query = (String, (SparkSession, String) => DataFrame)

  private val Usage =
    "usage: Inspect <run|time|stages|explain> <sfDir> <prefix,...> [outDir]"

  def main(args: Array[String]): Unit = {
    val (mode, sfDir, prefixes) = args match {
      case Array(m, d, p, _*) => (m, d, p)
      case _                  => sys.error(Usage)
    }
    val inspect: (SparkSession, String, Seq[Query]) => Unit = mode match {
      case "run"     => run
      case "time"    => time
      case "stages"  => stages
      case "explain" =>
        explain(args.lift(3).getOrElse(sys.error(s"explain needs an outDir\n$Usage")))
      case other     => sys.error(s"unknown mode $other\n$Usage")
    }
    val keep = SparkEntry.byPrefix(Some(prefixes))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => keep(q._1))
    val spark = graft.core.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    inspect(spark, sfDir, selected)
    spark.stop()
  }

  private def run(spark: SparkSession, sfDir: String, qs: Seq[Query]): Unit = {
    val failed = qs.flatMap { case (name, fn) =>
      println(s"=== $name ===")
      try { println(s"rows=${fn(spark, sfDir).count()}"); None }
      catch { case e: Throwable => e.printStackTrace(); Some(name) }
      finally spark.catalog.clearCache()
    }
    println(if (failed.isEmpty) "ALL OK" else s"FAILED: ${failed.mkString(",")}")
  }

  private def time(spark: SparkSession, sfDir: String, qs: Seq[Query]): Unit = {
    var total = 0.0
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    qs.foreach { case (name, fn) =>
      val c0 = compiles
      val t0 = System.nanoTime()
      val counted = try { val df = fn(spark, sfDir); Right(df -> df.count()) }
        catch { case e: Throwable => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      // the plan is sized outside the timed span, before the cache is cleared
      val (n, exprs) = try counted match {
          case Right((df, rows)) => (rows, exprNodes(df))
          case Left(e) =>
            println(f"[time] $name%-28s FAILED: ${String.valueOf(e.getMessage).take(120)}")
            (-1L, -1)
        } finally spark.catalog.clearCache()
      total += sec
      println(f"[time] $name%-28s $sec%8.2f s  rows=$n  compiles=${compiles - c0}  exprs=$exprs")
    }
    println(f"[time] TOTAL $total%.2f s")
  }

  /** Expression nodes in `df`'s optimized plan, subqueries included. */
  def exprNodes(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.foreachWithSubqueries(
      _.expressions.foreach(_.foreach(_ => n += 1)))
    n
  }

  private def stages(spark: SparkSession, sfDir: String, qs: Seq[Query]): Unit = {
    val done = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Int, Long, Long, Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        done += ((si.stageId, wall, si.numTasks,
          si.taskMetrics.executorRunTime,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.name.take(90)))
      }
    })
    qs.foreach { case (name, fn) =>
      println(s"== $name ==")
      for (r <- 1 to 2) {
        done.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val total = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        // give the listener bus a moment to drain
        Thread.sleep(1500)
        println(f"-- run $r: total $total%.2f s, ${done.size} stages --")
        done.sortBy(-_._2).take(18).foreach {
          case (id, wall, nt, cpu, sr, sw, stage) =>
            println(f"  stage $id%4d wall ${wall / 1000.0}%7.2f s tasks $nt%4d " +
              f"cpu ${cpu / 1000.0}%8.2f s shufR ${sr / 1e6}%8.1f MB " +
              f"shufW ${sw / 1e6}%8.1f MB  $stage")
        }
      }
    }
  }

  private def explain(outDir: String)(
      spark: SparkSession, sfDir: String, qs: Seq[Query]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    qs.foreach { case (name, fn) =>
      // record lineage-frozen subplans too: a freeze cuts the visible plan
      // at an RDD scan, so the stages behind it would be missing otherwise
      val rec = scala.collection.mutable.Buffer.empty[SparkPlan]
      Bridge.recordFrozenPlans.set(rec)
      val plan = try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case e: Exception => s"EXPLAIN FAILED: $e" }
        finally Bridge.recordFrozenPlans.remove()
      val frozen = rec.toSeq.zipWithIndex.map { case (p, i) =>
        s"\n### frozen subplan ${i + 1} (lineage-frozen; executed " +
          s"once per action, read by every consumer)\n\n```\n$p\n```\n"
      }.mkString
      Files.write(Paths.get(outDir, s"$name.txt"),
        (s"## $name\n\n```\n$plan\n```\n" + frozen).getBytes("UTF-8"))
      spark.catalog.clearCache()
      println(s"[explain] $name")
    }
  }
}
