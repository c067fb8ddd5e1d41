package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.suite.{AnalyticsQueries, AugmentQueries, AuxQueries, CdcQueries, CoreQueries, CurationQueries, EvalQueries, ExtendedQueries, IngestQueries, MlQueries, MultimodalQueries, PipelineQueries, ReportQueries, ScaleQueries, WindowQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full verifiable operator inventory (SURVEY.md §2 mapped
  * onto the driver testdata); `oracleSql` holds the DuckDB mirror for every
  * SQL-expressible entry (hash-based MinHash/SimHash entries are rows-only).
  */
object SparkEntry {

  /** Host coupling: building the registry reads no artifact. Only q47/q48
    * load MlQueries' XGB model (resolved by [[graft.core.Paths]]; env
    * override `GRAFT_XGB_CKD_MODEL`), when one of them is built or its
    * oracle is evaluated, so a missing model fails those two and no other
    * query. IngestQueries' queries read the checked-in fixtures under
    * `src/test/resources/fixtures/` when they run. Lazy so merely linking
    * SparkEntry never touches the filesystem.
    */
  private lazy val registry = Seq(
    CoreQueries.all, WindowQueries.all, ReportQueries.all, ScaleQueries.all,
    ExtendedQueries.all, MlQueries.all, IngestQueries.all, CurationQueries.all,
    MultimodalQueries.all, CdcQueries.all, AuxQueries.all,
    AnalyticsQueries.all, PipelineQueries.all, AugmentQueries.all,
    EvalQueries.all)
    .reduce(_ ++ _)

  /** Flagship: the reference's CVD clinical report pipeline
    * (Athena_queries_for_reports.sql:3-76) — filter → latest-per-key window
    * → MAX-CASE pivot → CASE banding — on sf0.001. Driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    registry("q18_cvd_report").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  /** Query-name filter for a comma-separated prefix list, as given in
    * `SPARK_GRAFT_ONLY` or on a tool's command line: a name is kept when it
    * starts with any trimmed, non-empty entry (`"q41, q46"` keeps q41_… and
    * q46_…; an empty list keeps nothing). No list keeps every name.
    */
  def byPrefix(prefixes: Option[String]): String => Boolean = {
    val keys = prefixes.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    name => keys.forall(_.exists(name.startsWith))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = oracleSqlFor(_ => true)

  /** [[oracleSql]] restricted to the names `keep` accepts; no other
    * oracle is evaluated. Each oracle is built on its own: one that fails
    * (a missing model artifact) is reported on stderr against its query
    * and left out, and the rest of the map is still returned.
    */
  def oracleSqlFor(keep: String => Boolean): Map[String, String] =
    registry.flatMap { case (name, q) =>
      if (!keep(name)) None
      else try q.oracle.map(name -> _)
      catch { case NonFatal(e) =>
        if (reported.add(name)) System.err.println(s"[oracle] $name: $e")
        None
      }
    }

  /** Queries whose failed oracle is already on stderr. A [[core.GQuery]]
    * keeps its oracle's failure, so each is named once per JVM.
    */
  private val reported = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
