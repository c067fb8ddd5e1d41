package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, ResultQueryStageExec, ShuffleQueryStageExec}

/** Column <-> catalyst Expression bridge. Spark 4 made these conversions
  * `private[sql]`; an extension library providing native expressions needs
  * exactly these two hooks, so this object lives inside the sql package
  * namespace (the conventional pattern for Spark extension libraries).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (Dataset.ofRows is
    * `private[sql]` in Spark 4) — the entry point for whole-operator
    * extensions like [[graft.plans.TopKPerGroup]].
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame over an RDD of catalyst rows of `schema`, with no
    * external-Row conversion, whose partitions are ascending ranges of
    * column `sortedBy`, each sorted by it. The plan knows that order, so
    * an `orderBy(sortedBy)` above it needs no exchange and no sort.
    */
  def rangeSortedRows(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType, sortedBy: String)
      : org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val order = Seq(SortOrder(output(schema.fieldIndex(sortedBy)), Ascending))
    ofRows(cs, LogicalRDD(output, rows,
      RangePartitioning(order, rows.getNumPartitions), order)(cs))
  }

  /** Test hook: a plan-shape spec that needs to witness structure INSIDE
    * a frozen subtree (freezes cut the visible plan at an RDD scan) sets
    * this thread-local buffer; every freezeLineage on the thread then
    * records the frozen frame's executed plan. Null (the default)
    * everywhere outside specs — one null check per freeze.
    */
  val recordFrozenPlans: ThreadLocal[
      scala.collection.mutable.Buffer[org.apache.spark.sql.execution.SparkPlan]] =
    new ThreadLocal

  /** Snap a DataFrame's lineage at its computed RDD so downstream
    * consumers REUSE its shuffle files instead of re-optimizing (and
    * re-running) the whole upstream plan per consumer — the stage-freeze
    * every multi-consumer composition here leans on (Dedup.sharedShuffle,
    * the q204 stage boundaries).
    *
    * The public route, `createDataFrame(df.rdd, df.schema)`, pays an
    * InternalRow→Row→InternalRow conversion per row per pass (external
    * Row allocation plus per-field encoder work on both sides);
    * a `LogicalRDD` over `queryExecution.toRdd` wraps the UnsafeRow RDD
    * directly. The `_.copy()` is load-bearing: shuffle readers reuse row
    * buffers, and LogicalRDD hands rows to consumers that may buffer them
    * (one flat byte-array copy — still far cheaper than the external-Row
    * round trip).
    *
    * The frozen frame carries the runtime size of the stage it
    * materialized (bytes and rows of the final shuffle, read off the
    * adaptive plan once its jobs ran), so the planner sees a frozen frame
    * as the size it is: a small one is broadcast into a join statically,
    * with no exchange on either side. When the frame's partitions are
    * that shuffle's partitions as they are (always after a numbered
    * repartition, which adaptive execution never coalesces, as in a
    * pinned `Dedup.sharedShuffle`), the frozen frame also declares
    * the shuffle's hash partitioning, so a join or aggregate on the same
    * key plans no second exchange. A plan that does not end in a shuffle
    * stage reports the default (unknown) size and partitioning, as before.
    */
  def freezeLineage(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rec = recordFrozenPlans.get()
    if (rec != null) rec += df.queryExecution.executedPlan
    val rdd = df.queryExecution.toRdd.map(_.copy())
    val output = DataTypeUtils.toAttributes(df.schema)
    val stage = finalShuffle(df.queryExecution.executedPlan)
    val partitioning = stage.collect { case (s, true) => s }
      .flatMap(hashPartitioningOn(_, output, rdd.getNumPartitions))
      .getOrElse(UnknownPartitioning(0))
    val stats = stage.flatMap(_._1.computeStats())
      .map(st => Statistics(st.sizeInBytes, st.rowCount))
    ofRows(cs, LogicalRDD(output, rdd, partitioning)(cs, stats))
  }

  /** The hash partitioning of shuffle stage `s` restated over `output` (the
    * frozen frame's attributes, in `s.output` order), if `s` hashes plain
    * columns into `n` partitions.
    */
  private def hashPartitioningOn(s: ShuffleQueryStageExec,
      output: Seq[Attribute], n: Int): Option[HashPartitioning] =
    s.outputPartitioning match {
      case h: HashPartitioning if h.numPartitions == n =>
        val at = h.expressions.map {
          case a: Attribute => s.output.indexWhere(_.exprId == a.exprId)
          case _ => -1
        }
        if (at.contains(-1)) None else Some(h.copy(expressions = at.map(output)))
      case _ => None
    }

  /** The shuffle stage at the root of an executed adaptive plan (under its
    * result stage and any shuffle read), and whether the plan's output is
    * that stage's partitions as they are (no shuffle read in between).
    */
  private def finalShuffle(p: org.apache.spark.sql.execution.SparkPlan)
      : Option[(ShuffleQueryStageExec, Boolean)] =
    p match {
      case a: AdaptiveSparkPlanExec => finalShuffle(a.executedPlan)
      case r: ResultQueryStageExec => finalShuffle(r.plan)
      case r: AQEShuffleReadExec => finalShuffle(r.child).map(_._1 -> false)
      case s: ShuffleQueryStageExec => Some(s -> true)
      case _ => None
    }
}
