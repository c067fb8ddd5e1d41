package graft

import graft.core.Tables
import org.apache.spark.sql.functions._

class TablesSpec extends SparkSpec {

  test("the shared test session is core.Session.local(4)") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("parquetRowCount reads footers for flat files AND partitioned layouts") {
    import spark.implicits._
    // single-file table (the driver testdata layout)
    assert(Tables.parquetRowCount(spark,
      "/root/testdata/sf0.001/embeddings.parquet") ==
      Tables.embeddings(spark, "/root/testdata/sf0.001").count())

    // partitioned dataset: part files nested under key=value directories —
    // a non-recursive listing would silently report 0
    val dir = java.nio.file.Files.createTempDirectory("graft_prc").toString
    (1L to 100L).map(i => (i, i % 3)).toDF("id", "k")
      .write.partitionBy("k").parquet(s"$dir/t")
    assert(Tables.parquetRowCount(spark, s"$dir/t") == 100L)

    // an empty directory fails loudly instead of sizing a plan from 0
    val empty = java.nio.file.Files.createTempDirectory("graft_prc_empty").toString
    intercept[IllegalArgumentException] {
      Tables.parquetRowCount(spark, empty)
    }
  }
}
