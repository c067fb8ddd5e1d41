package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
import scala.collection.mutable

import graft.ingest.FhirIngest
import graft.ml.{FeatureBuilder, Scorer, XgbModel}
import graft.queries.Reports
import graft.suite.CurationQueries
import graft.wellness.Wellness

/** One benchmark run in one JVM: set up, run a cold operation and a fixed
  * warm-up, then time operations back to back (closed loop, one client,
  * one operation at a time) for `seconds`, then check every operation's
  * output. The last stdout line is one JSON object; `perfbench/run.py`
  * turns it into the result line.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <trace file>
  */
object Main {

  /** A workload: set-up (part of the set-up time), the items and input bytes
    * operation `k` consumes, the operation, and the check of the outputs
    * operations left under `out/op<k>/`. A workload may cycle its operations
    * through several seeded inputs, so one run's median spans several draws.
    */
  trait Workload {
    def setup(): Unit = ()
    def items(k: Int): Long
    def inputBytes(k: Int): Long
    def op(k: Int, out: File): Unit
    /** Warm-up operations run after the cold one, before the timed window:
      * enough that the window starts where operation times have stopped
      * falling (measured over 12-25 operations in one JVM).
      */
    def warmups: Int = 1
    /** Check the outputs of `ops`. */
    def check(ops: Seq[Int]): Map[Int, Seq[String]]
    /** Per-operation figures read from what the operations wrote, filled in
      * by [[check]]: figure name -> op -> value.
      */
    val outputFigures = mutable.Map.empty[String, mutable.Map[Int, Double]]
    def figure(name: String, op: Int, v: Double): Unit =
      outputFigures.getOrElseUpdate(name, mutable.Map.empty)(op) = v
    /** Layer figures measured outside the timed operations (traced runs only). */
    def traceExtras(): Seq[(String, Double)] = Nil
  }

  final class Ctx(val spark: SparkSession, val work: File, val trace: Boolean) {
    var op = -1
    val spans = mutable.ArrayBuffer.empty[Trace.Span]
    val buildMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)

    private def group(name: String, phase: String): Unit =
      spark.sparkContext.setJobGroup(s"op$op|$name|$phase", name)
    /** Tag the jobs that follow with a plan's layer (traced runs); null clears it. */
    private def tagLayer(layer: String): Unit = spark.sparkContext.setLocalProperty(Trace.LayerKey, layer)

    /** One step of an operation, recorded as the span `name`: `build`
      * constructs the DataFrame (any job it starts runs eagerly, before the
      * step's own action), `action` runs the write that ends the step.
      */
    def step[A](name: String)(build: => A)(action: A => Unit): Unit = {
      val t0 = System.nanoTime()
      group(name, "build")
      val a = build
      val t1 = System.nanoTime()
      group(name, "action")
      if (trace) tagLayer(a match {
        case df: DataFrame => Trace.planLayer(df.queryExecution.analyzed)
        case _ => null
      })
      action(a)
      val t2 = System.nanoTime()
      spark.sparkContext.clearJobGroup()
      if (trace) tagLayer(null)
      buildMs(op) += (t1 - t0) / 1e6
      if (trace) spans += Trace.Span(op, name, (t2 - t0) / 1e6)
    }

    /** The rows of `table` written by every operation in `ops`, by op: one
      * read over all of them instead of one per operation.
      */
    def outputs(ops: Seq[Int], table: String, cols: String*): Map[Int, Seq[Checks.Row]] = {
      val df = spark.read.parquet(new File(work, s"out/op*/$table").getPath)
      val keep = if (cols.isEmpty) df.columns.toSeq else cols
      val tagged = df.select((regexp_extract(input_file_name(), "/op([0-9]+)/", 1).cast("int").as("__op") +:
        keep.map(col)): _*)
      val wanted = ops.toSet
      rows(tagged).groupBy(_("__op").asInstanceOf[Int]).filter(kv => wanted(kv._1))
    }
  }

  def rows(df: DataFrame): Seq[Checks.Row] =
    df.collect().toSeq.map(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq))

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
  def parquetFiles(f: File): Seq[File] = walk(f).filter(_.getName.endsWith(".parquet"))
  def parquetBytes(f: File): Long = parquetFiles(f).map(_.length).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ------------------------------------------------------------------ workloads

  val tables = Seq("patient", "encounter", "condition", "observation")

  /** Curate one batch of bundles and append the four tables under `out`. */
  def ingest(ctx: Ctx, bundles: File, out: File): Unit = {
    var curated: (DataFrame, DataFrame, DataFrame, DataFrame) = null
    ctx.step("ingest.curate")(FhirIngest.curate(ctx.spark, bundles.getPath))(curated = _)
    val (p, e, c, o) = curated
    for ((name, df) <- tables.zip(Seq(p, e, c, o)))
      ctx.step(s"ingest.write_$name")(df)(d => FhirIngest.writeParquet(d, new File(out, name).getPath))
  }

  /** fhir_ingest: curate one generated batch, append the four tables.
    * Operations cycle through three batches drawn from the seed.
    */
  final class FhirIngestW(ctx: Ctx, seed: Long, patients: Int) extends Workload {
    private val batches = (0 until 3).map { b =>
      val dir = new File(ctx.work, s"bundles-$b")
      dir -> Gen.fhir(seed * 3 + b, dir, patients, perBundle = 10)
    }
    private def batch(k: Int) = batches(k % batches.size)
    def items(k: Int): Long = batch(k)._2.resourcesIn
    def inputBytes(k: Int): Long = batch(k)._2.inputBytes
    def op(k: Int, out: File): Unit = ingest(ctx, batch(k)._1, out)
    // operation time keeps falling, while the JIT compiles, up to about
    // the ninth operation: 3.6 s, 2.6 s, 2.1 s, 2.0 s, 1.7 s, then 1.4-1.6 s
    override def warmups: Int = 8
    def check(ops: Seq[Int]): Map[Int, Seq[String]] = {
      val p = ctx.outputs(ops, "patient", "patient_id")
      val e = ctx.outputs(ops, "encounter", "encounter_id", "patient_id")
      val c = ctx.outputs(ops, "condition", "condition_id", "patient_id")
      val o = ctx.outputs(ops, "observation", "observation_id", "patient_id", "code", "value_quantity")
      ops.map { i =>
        val cur = Checks.Curated(p.getOrElse(i, Nil), e.getOrElse(i, Nil), c.getOrElse(i, Nil), o.getOrElse(i, Nil))
        figure("ingest.rows_out_per_resource_in", i,
          (cur.patient.size + cur.encounter.size + cur.condition.size + cur.observation.size).toDouble / items(i))
        i -> Checks.fhir(batch(i)._2, cur)
      }.toMap
    }
  }

  /** clinical_analytics: reports, features -> XGBoost scores, and wellness
    * over a curated lakehouse written at set-up.
    */
  final class ClinicalW(ctx: Ctx, seed: Long, patients: Int) extends Workload {
    private val spark = ctx.spark
    private val lake = new File(ctx.work, "lake")
    private val bundles = new File(ctx.work, "bundles")
    private val truth = Gen.fhir(seed, bundles, patients, perBundle = 10)
    private val models = Seq("cvd", "ckd", "anemia").zipWithIndex.map { case (d, i) =>
      d -> Gen.xgbModel(seed * 7 + i, nTrees = 400)
    }.toMap
    private val modelPaths = models.map { case (d, m) =>
      val f = new File(ctx.work, s"models/xgb_${d}_model.json")
      Gen.writeXgb(m, f)
      d -> f.getPath
    }
    private val expectedCvd = Checks.expectedCvd(truth)
    private val expectedT2d = Checks.expectedT2d(truth)
    /** Wellness analyte -> feature column. */
    private val wellnessCols = Map("LDL" -> "ldl_latest", "HDL" -> "hdl_latest",
      "Triglycerides" -> "triglycerides_latest", "TotalChol" -> "cholesterol_total_latest",
      "A1c" -> "hba1c_latest", "GlucoseBlood" -> "glucose_latest", "eGFR" -> "egfr_latest",
      "Creatinine" -> "creatinine_latest", "BUN" -> "bun_latest", "Hemoglobin" -> "hemoglobin_latest",
      "Hematocrit" -> "hematocrit_latest", "ALT" -> "alt_latest", "AST" -> "ast_latest",
      "Bilirubin" -> "bilirubin_latest", "Albumin" -> "albumin_latest")

    override def setup(): Unit = ingest(ctx, bundles, lake)
    def items(k: Int): Long = truth.patients.size
    def inputBytes(k: Int): Long = parquetBytes(new File(lake, "patient")) + parquetBytes(new File(lake, "observation"))

    def op(k: Int, out: File): Unit = {
      val pat = spark.read.parquet(new File(lake, "patient").getPath)
      val obs = spark.read.parquet(new File(lake, "observation").getPath)
      def write(name: String)(df: DataFrame): Unit = df.write.parquet(new File(out, name).getPath)
      val n = Checks.cvdNames.toMap
      ctx.step("queries.cvd_report")(Reports.cvdReport(obs, "patient_id", "code_display",
        "value_quantity", "effective_datetime", "observation_id",
        n("hdl"), n("ldl"), n("trig"), n("total_chol")))(write("cvd"))
      ctx.step("queries.t2d_report")(Reports.t2dReport(obs, "patient_id", "code_display",
        "value_quantity", "value_string", "effective_datetime", "observation_id",
        Checks.a1cName, Checks.gluName, Seq(Gen.urineDisplay, Gen.urineMassDisplay)))(write("t2d"))
      ctx.step("ml.features")(FeatureBuilder.buildFeatureTable(pat, obs))(write("features"))
      def features = spark.read.parquet(new File(out, "features").getPath)
      ctx.step("ml.infer")(Scorer.inferAll(spark, features, modelPaths))(write("scores"))
      ctx.step("wellness.score")(Wellness.scoreWide(features, wellnessCols)
        .select("patient_id", "wellness", "confidence", "liver_summary"))(write("wellness"))
    }
    def check(ops: Seq[Int]): Map[Int, Seq[String]] = {
      val Seq(cvd, t2d, feat, scores, well) =
        Seq("cvd", "t2d", "features", "scores", "wellness").map(ctx.outputs(ops, _))
      ops.map { i =>
        i -> (Checks.report("cvd", cvd.getOrElse(i, Nil), expectedCvd) ++
          Checks.report("t2d", t2d.getOrElse(i, Nil), expectedT2d) ++
          Checks.features(truth, feat.getOrElse(i, Nil)) ++
          Checks.scores(models, scores.getOrElse(i, Nil), truth.patients.size) ++
          Checks.wellness(well.getOrElse(i, Nil), truth.patients.size))
      }.toMap
    }
    override def traceExtras(): Seq[(String, Double)] = {
      val t0 = System.nanoTime()
      XgbModel.load(modelPaths("cvd"))
      Seq("ml.model_load_ms" -> (System.nanoTime() - t0) / 1e6)
    }
  }

  /** corpus_curation: the program's capstone curation composition (q204)
    * over a generated corpus, writing the pack manifest. Operations cycle
    * through three corpora drawn from the seed.
    */
  final class CurationW(ctx: Ctx, seed: Long, docs: Int) extends Workload {
    private val corpora = (0 until 3).map { b =>
      val truth = Gen.corpus(seed * 3 + b, docs)
      val dir = new File(ctx.work, s"corpus-$b")
      Gen.writeDocuments(truth.docs, new File(dir, "documents.parquet"), files = 4)
      (dir, truth, Checks.expectedManifest(truth))
    }
    private val q204 = CurationQueries.all("q204_curation_pipeline")
    private def corpus(k: Int) = corpora(k % corpora.size)

    def items(k: Int): Long = corpus(k)._2.docs.size
    def inputBytes(k: Int): Long = parquetBytes(new File(corpus(k)._1, "documents.parquet"))
    def op(k: Int, out: File): Unit =
      ctx.step("curation.q204")(q204.build(ctx.spark, corpus(k)._1.getPath))(
        _.write.parquet(new File(out, "manifest").getPath))
    def check(ops: Seq[Int]): Map[Int, Seq[String]] = {
      val m = ctx.outputs(ops, "manifest")
      ops.map { i =>
        val (_, truth, expected) = corpus(i)
        val rows = m.getOrElse(i, Nil)
        figure("scale.docs_out_per_doc_in", i, rows.size.toDouble / items(i))
        i -> Checks.manifest(truth, expected, rows)
      }.toMap
    }
  }

  // ------------------------------------------------------------------ run

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s: $msg")

  /** Layer spans every traced run reports (0 where a workload makes no such call). */
  val spanNames = Seq("ingest.curate", "ingest.write_patient", "ingest.write_encounter",
    "ingest.write_condition", "ingest.write_observation", "queries.cvd_report",
    "queries.t2d_report", "ml.features", "ml.infer", "wellness.score")
  val extraNames = Seq("ml.model_load_ms")
  val figureNames = Seq("ingest.rows_out_per_resource_in", "scale.docs_out_per_doc_in")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, traceFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = new File(workS)
    val slots = math.min(4, Runtime.getRuntime.availableProcessors())
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = new Trace.Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(recorder)
      org.apache.spark.sql.graftbridge.Bridge.recordFrozenPlans.set(new Trace.FreezeTagger(spark.sparkContext))
    }
    val ctx = new Ctx(spark, work, trace)

    // input generation is the benchmark's own work: timed so it can be
    // taken out of the set-up time
    val g0 = System.nanoTime()
    val w: Workload = workload match {
      case "fhir_ingest" => new FhirIngestW(ctx, seed, patients = 600)
      case "clinical_analytics" => new ClinicalW(ctx, seed, patients = 600)
      case "corpus_curation" => new CurationW(ctx, seed, docs = 600)
      case other => sys.error(s"unknown workload $other")
    }
    val genMs = (System.nanoTime() - g0) / 1e6
    log(f"inputs generated in ${genMs / 1000}%.1f s")
    w.setup()
    val setupEndMs = System.currentTimeMillis()
    log("set up")

    val opMs = mutable.LinkedHashMap.empty[Int, Double] // completed ops only
    val errors = mutable.Map.empty[Int, Seq[String]]
    val gcPerOp = mutable.Map.empty[Int, Double]
    val extras = mutable.ArrayBuffer.empty[(String, Double)]
    var jitToWarm = Double.NaN // JIT compile time up to the end of the cold op
    def runOp(i: Int): Unit = {
      ctx.op = i
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      try {
        val out = new File(work, s"out/op$i")
        w.op(i, out)
        opMs(i) = (System.nanoTime() - t0) / 1e6
      } catch { case e: Exception => errors(i) = Seq(s"threw $e") }
      gcPerOp(i) = (gcMs() - gc0).toDouble
      if (i == 0) jitToWarm = jit.getTotalCompilationTime.toDouble
      if (trace) extras ++= w.traceExtras()
    }

    runOp(0)
    var i = 1
    while (i <= w.warmups) { runOp(i); i += 1 }
    val coldMs = opMs.getOrElse(0, Double.NaN)
    val cpu0 = os.getProcessCpuTime
    val w0 = System.nanoTime()
    val windowStart = i
    while ((System.nanoTime() - w0) / 1e9 < seconds || i - windowStart < 2) { runOp(i); i += 1 }
    val windowS = (System.nanoTime() - w0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val attempted = i
    val windowOps = (windowStart until i).filter(opMs.contains)
    log(s"ops done, ms: ${opMs.values.map(_.round).mkString(" ")}")

    def opDir(k: Int) = new File(work, s"out/op$k")
    val storedBytes = windowOps.map(k => parquetBytes(opDir(k))).sum
    val windowItems = windowOps.map(w.items).sum.toDouble
    val filesPerOp = windowOps.map(k => parquetFiles(opDir(k)).size.toDouble)
    // check every completed operation, warm-up included
    val checked = try w.check(opMs.keys.toSeq) catch {
      case e: Exception => opMs.keys.map(_ -> Seq(s"check threw $e")).toMap
    }
    for ((k, errs) <- checked if errs.nonEmpty) errors(k) = errs
    errors.toSeq.sortBy(_._1).foreach { case (k, es) =>
      es.take(10).foreach(e => System.err.println(s"[perfbench] op $k failed: $e"))
    }
    deleteTree(new File(work, "out"))
    log("checked")
    spark.stop()

    val e2e = Seq(
      "gen_ms" -> genMs, "setup_end_epoch_ms" -> setupEndMs.toDouble,
      "cold_op_s" -> coldMs / 1000,
      "items_per_s" -> windowItems / windowS,
      "op_p50_ms" -> Trace.median(windowOps.map(opMs)),
      "cpu_s_per_kitem" -> cpuS / (windowItems / 1000.0),
      "stored_bytes_per_input_byte" -> storedBytes.toDouble / windowOps.map(w.inputBytes).sum,
      "peak_rss_mb" -> peakRssMb())
    val layers: Seq[(String, Double)] = if (!trace) Nil else {
      val spanMs = spanNames.map { n =>
        s"${n}_ms" -> Trace.median(windowOps.map(op => ctx.spans.filter(s => s.op == op && s.name == n).map(_.ms).sum))
      }
      val extraMed = extraNames.map(k => k -> Trace.median(extras.filter(_._1 == k).map(_._2).toSeq))
      val figMed = figureNames.map { k =>
        val f = w.outputFigures.getOrElse(k, mutable.Map.empty[Int, Double])
        k -> Trace.median(windowOps.flatMap(f.get))
      }
      Trace.sparkMetrics(recorder, windowOps) ++ Seq(
        "plan.build_ms_per_op" -> Trace.median(windowOps.map(ctx.buildMs)),
        "jvm.gc_ms_per_op" -> Trace.median(windowOps.map(gcPerOp)),
        "jvm.jit_ms_to_warm" -> jitToWarm,
        "ingest.files_written_per_op" -> (if (workload == "fhir_ingest") Trace.median(filesPerOp) else 0.0)) ++
        spanMs ++ extraMed ++ figMed
    }
    if (trace) {
      val f = new File(traceFile)
      f.getParentFile.mkdirs()
      val pw = new java.io.PrintWriter(f, "UTF-8")
      try {
        pw.println(s"""{"workload":"$workload","seed":$seed,"window_ops":[${windowOps.mkString(",")}],""")
        pw.println(s""""metrics":${Json.obj(layers.map { case (k, v) => k -> Json.num(v) })},""")
        // the traced run's own end-to-end figures: against an untraced run
        // they give the tracing overhead
        pw.println(s""""traced_e2e":${Json.obj(e2e.map { case (k, v) => k -> Json.num(v) })},""")
        pw.println(s""""spans":[${ctx.spans.map(s => s"""{"op":${s.op},"name":"${s.name}","ms":${Json.num(s.ms)}}""").mkString(",\n")}],""")
        pw.println(s""""jobs":[${Trace.jobsJson(recorder).mkString(",\n")}]}""")
      } finally pw.close()
    }
    println(Json.obj(Seq(
      "attempted" -> attempted.toString, "failed" -> errors.size.toString,
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }))))
  }
}
