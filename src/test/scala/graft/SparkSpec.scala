package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). The core
  * count is fixed: the suite's expectations assume 4 shuffle partitions
  * whatever `SPARK_GRAFT_CPUS` the runner exports.
  */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Session.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `f` with the given session confs set, then restores them. */
  protected def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
