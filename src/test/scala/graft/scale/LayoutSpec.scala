package graft.scale

import graft.SparkSpec
import graft.core.{Tables => T}
import org.apache.spark.sql.functions._

/** Data-layout contracts: bucketed tables join with zero exchange, and
  * range-sorted parquet proves its min/max pruning from the footers.
  */
class LayoutSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("sorted layout: row-group ranges disjoint, narrow filter prunes most groups") {
    import spark.implicits._
    val dir = tmp("graft_sorted")
    val df = (0L until 100000L).toDF("k").withColumn("v", col("k") * 2)
    Layout.writeSorted(df, dir, col("k"), numFiles = 8)

    val ranges = Layout.columnRanges(spark, dir, "k")
    assert(ranges.size >= 8, s"expected >= 8 row groups, got $ranges")
    assert(ranges.map(_._3).sum == 100000L)
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, prevMax, _), (nextMin, _, _)) =>
        assert(nextMin >= prevMax,
          s"overlapping row groups: prevMax=$prevMax nextMin=$nextMin in $sorted")
      case _ =>
    }
    // a 1%-wide window can touch at most 2 of the >=8 groups
    val surviving = Layout.survivingRowGroups(spark, dir, "k", 40000, 41000)
    assert(surviving <= 2, s"sorted layout should prune to <=2 groups, got $surviving")
  }

  test("hash layout keeps every row group alive for the same filter") {
    import spark.implicits._
    val dir = tmp("graft_hashed")
    val df = (0L until 100000L).toDF("k").withColumn("v", col("k") * 2)
    df.repartition(8, col("k")).write.mode("overwrite").parquet(dir)
    val all = Layout.columnRanges(spark, dir, "k").size
    val surviving = Layout.survivingRowGroups(spark, dir, "k", 40000, 41000)
    assert(surviving == all,
      s"hash layout cannot prune: $surviving of $all groups survived")
  }

  test("z-order layout prunes on BOTH columns; linear sort only on the leading one") {
    import spark.implicits._
    // 256x256 grid; narrow window = 16/256 = 6% on each axis
    val grid = spark.range(0, 65536).select(
      (col("id") / 256).cast("long").as("x"),
      (col("id") % 256).cast("long").as("y"))

    // morton reference: zValue must interleave bits exactly
    val z = grid.filter(col("x") === 3 && col("y") === 5)
      .select(Layout.zValue(col("x"), col("y"), 8)).head().getLong(0)
    // x=3 (011) -> bits 0,2; y=5 (101) -> bits 1,5 => 1+2+4+32 = 39
    assert(z == 39L, s"zValue(3,5) = $z")

    val zDir = tmp("graft_zorder")
    Layout.writeZOrdered(grid, zDir, col("x"), col("y"), numFiles = 16, bitsPer = 8)
    val zTotal = Layout.columnRanges(spark, zDir, "x").size
    val zx = Layout.survivingRowGroups(spark, zDir, "x", 100, 115)
    val zy = Layout.survivingRowGroups(spark, zDir, "y", 100, 115)
    // The 16-value window constrains 3 high interleaved bits → ~8 z-curve
    // chunks, each touching 1-2 of the 16 groups depending on where the
    // RANGE boundaries fell. Boundaries come from repartitionByRange's
    // sampling, whose seed involves the rdd id — deterministic in one
    // session but shifted by whatever ran before, so in-suite runs see
    // 8-9 surviving groups where an isolated run sees 8. Assert the
    // pruning with sampling headroom (3/4); the linear layout below
    // keeps ALL groups on y, which is the contrast that matters.
    assert(zx <= zTotal * 3 / 4, s"z-order: x-filter kept $zx of $zTotal groups")
    assert(zy <= zTotal * 3 / 4, s"z-order: y-filter kept $zy of $zTotal groups")

    // linear sort on x: great for x, useless for y
    val linDir = tmp("graft_linear")
    Layout.writeSorted(grid, linDir, col("x"), numFiles = 16)
    val linTotal = Layout.columnRanges(spark, linDir, "x").size
    val lx = Layout.survivingRowGroups(spark, linDir, "x", 100, 115)
    val ly = Layout.survivingRowGroups(spark, linDir, "y", 100, 115)
    assert(lx <= 2, s"x-sorted: x-filter kept $lx of $linTotal groups")
    assert(ly == linTotal,
      s"x-sorted layout cannot prune on y ($ly of $linTotal) — the z-order motivation")
  }

  test("compaction merges small files and preserves rows + sorted layout") {
    import spark.implicits._
    val inDir = tmp("graft_small")
    val df = (0L until 50000L).toDF("k").withColumn("v", col("k") * 3)
    // simulate a small-files mess: 50 files of ~1000 rows
    df.repartition(50).write.mode("overwrite").parquet(inDir)
    val fs = new java.io.File(inDir)
    val smallCount = fs.listFiles.count(_.getName.endsWith(".parquet"))
    assert(smallCount == 50)
    val bytes = fs.listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum

    val outDir = tmp("graft_compacted")
    // target ~quarter of the dataset per file -> 4 files
    val n = Layout.compact(spark, inDir, outDir, targetFileBytes = bytes / 4 + 1,
      sortCol = Some("k"))
    val outFiles = new java.io.File(outDir).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(n == 4 && outFiles == 4, s"expected 4 files, got $outFiles (n=$n)")
    // same data
    assert(spark.read.parquet(outDir).count() == 50000)
    assert(spark.read.parquet(outDir).agg(sum("v")).head().getLong(0)
      == (0L until 50000L).map(_ * 3).sum)
    // sortCol preserved the pruning property through the rewrite
    val surviving = Layout.survivingRowGroups(spark, outDir, "k", 10000, 10500)
    assert(surviving <= 2, s"compacted layout should still prune, kept $surviving")
  }

  test("bucketed co-located join: sort-merge with zero exchange, right answer") {
    import spark.implicits._
    val dir = tmp("graft_bkt")
    val cust = T.customer(spark, sf).select($"c_custkey", $"c_mktsegment")
    val ords = T.orders(spark, sf).select($"o_custkey", $"o_totalprice")
    Bucketing.writeBucketed(cust, "t_bkt_cust", s"$dir/cust", "c_custkey", 4)
    Bucketing.writeBucketed(ords, "t_bkt_ords", s"$dir/ords", "o_custkey", 4)

    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = Bucketing.colocatedJoin(spark,
        "t_bkt_cust", "t_bkt_ords", "c_custkey", "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)

      val expected = cust.join(ords, $"c_custkey" === $"o_custkey").count()
      assert(joined.count() == expected)
      val got = joined.groupBy($"c_mktsegment").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = cust.join(ords, $"c_custkey" === $"o_custkey")
        .groupBy($"c_mktsegment").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
    }
  }

  test("re-registered bucketed table keeps its bucket spec (DDL over existing files)") {
    import spark.implicits._
    val dir = tmp("graft_bkt2")
    val cust = T.customer(spark, sf).select($"c_custkey", $"c_mktsegment")
    Bucketing.writeBucketed(cust, "t_bkt_reg", s"$dir/cust", "c_custkey", 4)
    spark.sql("DROP TABLE t_bkt_reg")
    // a fresh catalog (new cluster, new session) re-registers the files
    Bucketing.createBucketedTable(spark, "t_bkt_reg", s"$dir/cust",
      cust.schema.toDDL, "c_custkey", 4)
    Bucketing.writeBucketed(T.orders(spark, sf)
        .select($"o_custkey", $"o_totalprice"),
      "t_bkt_ords2", s"$dir/ords", "o_custkey", 4)
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = Bucketing.colocatedJoin(spark,
        "t_bkt_reg", "t_bkt_ords2", "c_custkey", "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"re-registered bucket spec lost — join shuffles:\n$plan")
      assert(joined.count() ==
        T.customer(spark, sf).join(T.orders(spark, sf),
          $"c_custkey" === $"o_custkey").count())
    }
  }
}
