package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Per-layer tracing: a SparkListener that keeps job, stage and task facts
  * in memory, plus wall-clock spans the benchmark records around each call
  * into a program layer. Nothing is analysed until the run ends (after the
  * session stops, so the listener bus has drained).
  *
  * Every job is tagged through its job group as `op<i>|<span>|<phase>`,
  * where phase is `build` (DataFrame construction, so any job there is an
  * eager job) or `action` (the write that ends the step).
  *
  * Jobs are attributed to a scale module by what they run: the module
  * whose operator produces the plan the job computes. The module that made
  * an expression is read from the origin Spark keeps on every expression
  * made through the DataFrame API (the first stack frame outside Spark).
  */
object Trace {

  final case class JobRec(id: Int, group: String, start: Long, stageIds: Seq[Int], site: String,
      execId: Long, tagged: String) {
    var end: Long = start
    def op: Int = Trace.opOf(group)
    def phase: String = group.split('|').lift(2).getOrElse("")
  }

  final class StageRec(val id: Int) {
    var submit, complete = 0L
    var cpuNs, inBytes, outBytes, shWrite, shRead, spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  final case class Span(op: Int, name: String, ms: Double)

  def opOf(group: String): Int =
    if (group.startsWith("op")) group.drop(2).takeWhile(_.isDigit).toIntOption.getOrElse(-1) else -1

  private val libraryFrame =
    "^(org\\.apache\\.spark\\.(?!sql\\.graftbridge)|scala\\.|java\\.|jdk\\.|sun\\.)".r

  /** The program file named by a job's call site: the first stack frame
    * outside Spark, Scala and the JDK in the long call-site form Spark
    * records (one frame per line, the last Spark frame first).
    */
  def siteFile(details: String): String = {
    val frame = details.linesIterator.map(_.trim.stripPrefix("at ").trim)
      .find(f => f.nonEmpty && libraryFrame.findFirstIn(f).isEmpty).getOrElse("")
    val open = frame.lastIndexOf('(')
    if (open < 0) "" else frame.substring(open + 1).takeWhile(c => c != ':' && c != ')')
  }

  /** The program file that made an expression, from its origin. */
  def originFile(e: Expression): Option[String] =
    e.origin.stackTrace.flatMap(_.find(f => libraryFrame.findFirstIn(f.getClassName).isEmpty))
      .flatMap(f => Option(f.getFileName))

  /** The scale layer whose operator produces the result of `plan`: walking
    * down from the root, the first node holding expressions that a scale
    * module made, and of those the module that made most ("" when no scale
    * module made any). Nodes the caller's own code adds on top (a join, a
    * repartition) are passed over.
    */
  def planLayer(plan: LogicalPlan): String = {
    val queue = mutable.Queue[QueryPlan[_]](plan)
    while (queue.nonEmpty) {
      val p = queue.dequeue()
      val layers = p.expressions.flatMap(_.collect { case e => e }).flatMap(e => originFile(e).flatMap(fileLayer.get))
      if (layers.nonEmpty) return layers.groupBy(identity).maxBy(kv => (kv._2.size, kv._1))._1
      (p.children ++ p.subqueries).foreach {
        case q: QueryPlan[_] => queue += q
        case _ =>
      }
    }
    ""
  }

  /** The logical plan behind a physical one: an adaptive plan's analyzed
    * plan, else the logical plan Spark linked it to.
    */
  def logicalOf(p: SparkPlan): Option[LogicalPlan] = p match {
    case a: AdaptiveSparkPlanExec => Some(a.context.qe.analyzed)
    case _ => p.logicalLink
  }

  /** Job property: the layer of the plan whose jobs the benchmark's thread
    * is about to run, set by [[FreezeTagger]] and around each step's final
    * write.
    */
  val LayerKey = "perfbench.layer"

  /** Installed as the program's freeze hook (`Bridge.recordFrozenPlans`):
    * `Bridge.freezeLineage` hands it each plan just before it runs that
    * plan's jobs. It keeps no plan; it tags the jobs that follow with the
    * plan's layer, since jobs run outside any SQL execution carry nothing
    * else that names what they run.
    */
  final class FreezeTagger(sc: SparkContext) extends mutable.ArrayBuffer[SparkPlan] {
    override def addOne(p: SparkPlan): this.type = {
      sc.setLocalProperty(LayerKey, logicalOf(p).map(planLayer).getOrElse(""))
      this
    }
  }

  final class Recorder extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]
    /** SQL execution id -> the program file whose call started it. */
    val execSites = mutable.Map.empty[Long, String]

    /** A job's layer. A SQL execution that a scale module starts itself
      * (an action inside the module) runs that module's plan, so its jobs
      * are the module's; so is a job that module code starts directly.
      * Any other job takes the layer tagged when it started: that of the
      * plan last frozen, or of the step's final write.
      */
    def layer(j: JobRec): String =
      execSites.get(j.execId).flatMap(fileLayer.get)
        .orElse(fileLayer.get(j.site)).getOrElse(j.tagged)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSites(s.executionId) = siteFile(s.details)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      jobs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""), e.time, e.stageIds,
        last.map(s => siteFile(s.details)).getOrElse(""),
        prop("spark.sql.execution.id").flatMap(_.toLongOption).getOrElse(-1L),
        prop(LayerKey).getOrElse(""))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId)).taskMs += e.taskInfo.duration
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId))
      s.submit = i.submissionTime.getOrElse(0L)
      s.complete = i.completionTime.getOrElse(0L)
      val m = i.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Program file -> scale layer. */
  val scaleFiles: Seq[(String, String)] = Seq(
    "Dedup.scala" -> "scale.dedup", "Curation.scala" -> "scale.curation",
    "Sampling.scala" -> "scale.sampling", "Packing.scala" -> "scale.packing")
  val fileLayer: Map[String, String] = scaleFiles.toMap

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Per-op listener metrics for the ops in `ops`, each reduced to its
    * median over those ops.
    */
  def sparkMetrics(r: Recorder, ops: Seq[Int]): Seq[(String, Double)] = {
    val perOp = ops.map { op =>
      val js = r.jobs.values.filter(_.op == op).toSeq
      val st = js.flatMap(_.stageIds).distinct.flatMap(r.stages.get).filter(_.complete > 0)
      val longest = if (st.isEmpty) None else Some(st.maxBy(s => s.complete - s.submit))
      val skew = longest.map { s =>
        val med = median(s.taskMs.map(_.toDouble).toSeq)
        if (med > 0) s.taskMs.max / med else 1.0
      }.getOrElse(1.0)
      val eager = js.filter(_.phase == "build")
      val byLayer = scaleFiles.map(_._2).flatMap { layer =>
        val lj = js.filter(r.layer(_) == layer)
        Seq(s"$layer.jobs_per_op" -> lj.size.toDouble,
          s"$layer.job_ms_per_op" -> lj.map(j => (j.end - j.start).toDouble).sum)
      }
      Seq(
        "spark.jobs_per_op" -> js.size.toDouble,
        "spark.stages_per_op" -> st.size.toDouble,
        "spark.tasks_per_op" -> st.map(_.taskMs.size).sum.toDouble,
        "spark.task_cpu_ms_per_op" -> st.map(_.cpuNs).sum / 1e6,
        "spark.input_bytes_per_op" -> st.map(_.inBytes).sum.toDouble,
        "spark.output_bytes_per_op" -> st.map(_.outBytes).sum.toDouble,
        "spark.shuffle_write_bytes_per_op" -> st.map(_.shWrite).sum.toDouble,
        "spark.shuffle_read_bytes_per_op" -> st.map(_.shRead).sum.toDouble,
        "spark.spill_bytes_per_op" -> st.map(_.spill).sum.toDouble,
        "spark.task_skew" -> skew,
        "plan.eager_jobs_per_op" -> eager.size.toDouble) ++ byLayer
    }
    perOp.head.map(_._1).map(k => k -> median(perOp.map(_.toMap.apply(k))))
  }

  /** Every recorded job as one JSON object per line, for the trace file. */
  def jobsJson(r: Recorder): Seq[String] = r.jobs.values.toSeq.map { j =>
    val st = j.stageIds.flatMap(r.stages.get).filter(_.complete > 0)
    s"""{"job":${j.id},"group":"${Json.esc(j.group)}","site":"${Json.esc(j.site)}","execution":${j.execId},""" +
      s""""layer":"${r.layer(j)}","ms":${j.end - j.start},""" +
      s""""stages_run":${st.size},"tasks":${st.map(_.taskMs.size).sum},"cpu_ms":${st.map(_.cpuNs).sum / 1e6}}"""
  }
}

/** Minimal JSON writing: the benchmark emits only flat objects of numbers
  * and strings.
  */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
}
