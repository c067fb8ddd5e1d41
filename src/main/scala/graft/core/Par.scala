package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CoalesceExec, LeafExecNode, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Input-parallelism floor for compute-heavy narrow kernels.
  *
  * The driver testdata ships each table as ONE parquet file with ONE row
  * group, so every scan is a single unsplittable split — the
  * optimization guide's "input skew" case (§2.5: one huge unsplittable
  * file → repartition immediately after the read). Everything narrow
  * above such a scan (tokenize, shingle-hash, n-gram kernels, vector
  * math, map-side partial aggregation) runs in ONE task regardless of
  * executor cores: at local[32] the whole cluster idles behind one
  * thread until the first exchange.
  *
  * [[ensure]] floors a frame's partition count at the session's default
  * parallelism with one deterministic round-robin exchange
  * (sort-before-repartition keeps row→partition assignment stable under
  * retries). It is a NO-OP whenever the input already has that many
  * partitions — the production / 100 TB case, where scans have thousands
  * of splits — so the extra exchange exists exactly where the scan
  * itself cannot provide parallelism, and the plan at scale is unchanged.
  * Callers place it UNDER a per-row kernel whose cost dominates the
  * bytes moved (raw rows cross the exchange once; the kernel then runs
  * on all cores).
  *
  * The decision is read off the input's physical plan and starts no
  * Spark job: asking the input's RDD instead makes adaptive execution
  * run every shuffle stage of the input at plan-build time, and the
  * final action then runs them again.
  */
object Par {
  def ensure(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df.queryExecution.executedPlan, adaptive = false) < target)
      df.repartition(target)
    else df
  }

  /** The partition count `plan` will produce, without running it. Under
    * adaptive execution an exchange that may still be coalesced counts as
    * ONE partition: its final count is only known once its map stage has
    * run, and a kernel over a coalesced exchange is the few-task case the
    * floor exists for. A numbered repartition is never coalesced; a plan
    * that already ran reports the partitions it ran with.
    */
  private def plannedPartitions(plan: SparkPlan, adaptive: Boolean): Int =
    plan match {
      case a: AdaptiveSparkPlanExec =>
        plannedPartitions(a.executedPlan, adaptive = true)
      case r: AQEShuffleReadExec => r.partitionSpecs.length
      case s: ShuffleQueryStageExec => s.shuffle.numPartitions
      case s: QueryStageExec => plannedPartitions(s.plan, adaptive)
      case e: ShuffleExchangeLike =>
        if (adaptive && e.shuffleOrigin != REPARTITION_BY_NUM &&
            e.conf.coalesceShufflePartitionsEnabled) 1
        else e.numPartitions
      case r: ReusedExchangeExec => plannedPartitions(r.child, adaptive)
      case p if p.outputPartitioning == SinglePartition => 1
      case c: CoalesceExec =>
        math.min(c.numPartitions, plannedPartitions(c.child, adaptive))
      case u: UnionExec => u.children.map(plannedPartitions(_, adaptive)).sum
      case j: BroadcastHashJoinExec =>
        plannedPartitions(if (j.buildSide == BuildLeft) j.right else j.left,
          adaptive)
      case j: BroadcastNestedLoopJoinExec =>
        plannedPartitions(if (j.buildSide == BuildLeft) j.right else j.left,
          adaptive)
      case j: CartesianProductExec =>
        plannedPartitions(j.left, adaptive) * plannedPartitions(j.right, adaptive)
      // a scan: file splits, local rows or a frozen RDD, all fixed at
      // planning time (building a leaf's RDD runs nothing)
      case l: LeafExecNode =>
        (if (l.supportsColumnar) l.executeColumnar() else l.execute())
          .getNumPartitions
      // narrow operators keep their child's partitions; a shuffled join's
      // children are co-partitioned
      case p => p.children.map(plannedPartitions(_, adaptive)).max
    }
}
