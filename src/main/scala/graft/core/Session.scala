package graft.core

import org.apache.spark.sql.SparkSession

/** The one place the program builds a SparkSession. Bench, Verify, the dev
  * tools and the test suite's shared session all run on the same settings:
  * `local[cpus]` with `cpus` shuffle partitions, adaptive execution on,
  * session time zone UTC (timestamps render and truncate as the DuckDB
  * oracle does) and the UI off. Log levels stay with the callers.
  */
object Session {

  /** Local session on `cpus` cores; returns the active session if one
    * exists (`getOrCreate`).
    */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** [[local]] on `SPARK_GRAFT_CPUS` cores, 4 when unset. */
  def local(): SparkSession =
    local(sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4))
}
