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
}
