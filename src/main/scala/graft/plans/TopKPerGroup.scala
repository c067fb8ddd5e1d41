package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Top-k rows per group as a WHOLE-OPERATOR extension: custom logical
  * node → [[TopKStrategy]] → two custom physical nodes with a map-side
  * partial between scan and shuffle.
  *
  * The composable alternative (`row_number().over(partitionBy(g).orderBy(o))
  * <= k`, q12's shape) must shuffle EVERY input row to its group's
  * partition and sort the whole partition — at 100 TB that is the corpus
  * through the wire for a k-row answer per group. This operator holds a
  * bounded heap per (group, partition) before the exchange, so the
  * shuffle carries at most `k × groups` rows PER INPUT PARTITION, then
  * the final node re-merges per group after clustering — the same
  * partial/final contract as hash aggregation, applied to order
  * statistics. No full sort anywhere: heap updates are O(log k) per row
  * and group state is k rows, not the group.
  *
  * Memory bound: a partial holds ≤ `k × (groups seen in its partition)`
  * rows. That is the operator's working-set assumption — group
  * cardinality × k fits an executor (same assumption hash aggregation
  * makes per partition). For million-group × large-k shapes, prefer the
  * window form, which spills.
  *
  * Ties: callers must make `order` a TOTAL order (unique tiebreak
  * column), or the kept set at the boundary is arbitrary — identical to
  * the window form's determinism contract.
  */
case class TopKPerGroup(groupExprs: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive: $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKPerGroup {
  /** DataFrame entry point. NOTE the session-global side effect: the
    * first call registers [[TopKStrategy]] into
    * `spark.experimental.extraStrategies` (the same mechanism
    * RangeJoinRewrite uses via extraOptimizations when the session
    * wasn't built with GraftExtensions), and the strategy stays active
    * for the session's lifetime — harmless for other plans (it matches
    * only the [[TopKPerGroup]] logical node) but visible in
    * `spark.experimental` state.
    */
  def apply(df: DataFrame, groupCols: Seq[String], orderBy: Seq[Column],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    ensureRegistered(spark)
    // Column sort nodes live in the sql.internal AST in Spark 4 (NOT
    // serializable catalyst SortOrder); converting by hand leaks internal
    // nodes into the executed closure. Round-tripping through an analyzed
    // throwaway Sort runs the standard converter + resolver, yielding
    // catalyst-pure, bound-to-child SortOrders.
    val sortPlan = df.sortWithinPartitions(orderBy: _*)
      .queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sort]
    Bridge.ofRows(spark, TopKPerGroup(
      groupCols.map(UnresolvedAttribute(_)), sortPlan.order, k,
      sortPlan.child))
  }

  /** Check-then-append on session-global state — serialized on the
    * session so two threads building TopK frames concurrently can't
    * double-register the strategy (a duplicate would still plan
    * correctly — first match wins — but grows the strategy list).
    */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKStrategy
    }
}

/** Plans [[TopKPerGroup]] as partial-over-child + final; EnsureRequirements
  * inserts the hash exchange between them from the final node's
  * ClusteredDistribution requirement.
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, partial = false,
        TopKPerGroupExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded per-group heaps over each partition. `partial = true` runs
  * pre-shuffle on whatever partitioning arrives; the final node demands
  * group clustering and re-applies the same reduction, after which each
  * group exists in exactly one partition with exactly its top k.
  *
  * The partial is ADAPTIVE, the same escape hatch hash aggregation's
  * partial-skip uses: after [[TopKPerGroupExec.ProbeRows]] input rows it
  * checks how much the heaps actually dropped, and when retention
  * exceeds half the input (high group cardinality — k × groups ≈ rows,
  * so the heap state is nearly the input and the shuffle saves nothing)
  * it stops heaping and passes the remaining rows through untouched.
  * Pass-through is trivially a superset of each partition's top-k, so
  * the final node still computes the exact answer; what the probe
  * decides is only whether the partial's memory and copying are paying
  * for a smaller exchange. This bounds partial memory at ~ProbeRows
  * retained rows + pass-through streaming, and pins the measured
  * high-cardinality penalty (26 s vs 5.8 s at 10M rows × 1M groups
  * before; ≈ window after — SCALING.md). The FINAL node never
  * skips; its working set is the true answer, k × groups-per-partition.
  */
case class TopKPerGroupExec(groupExprs: Seq[Expression],
    order: Seq[SortOrder], k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, kk, isPartial) = (groupExprs, order, k, partial)
    val schema = child.output
    val probeRows = TopKPerGroupExec.ProbeRows
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(g, schema)
      // ord.compare(a, b) < 0 ⇔ a ranks before b; the scala PriorityQueue
      // dequeues its MAX, so head is the worst kept row — O(log k) evict
      val ord: Ordering[InternalRow] = GenerateOrdering.generate(o, schema)
      val heaps = scala.collection.mutable.HashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      var seen = 0L
      var retained = 0L
      var passThrough = false
      while (iter.hasNext && !passThrough) {
        val row = iter.next()
        val key = keyProj(row)
        heaps.get(key) match {
          case None =>
            val h = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
            h += row.copy()
            heaps.put(key.copy(), h)
            retained += 1
          case Some(h) =>
            if (h.size < kk) { h += row.copy(); retained += 1 }
            else if (ord.compare(row, h.head) < 0) { h.dequeue(); h += row.copy() }
        }
        seen += 1
        if (isPartial && seen == probeRows && retained * 2 > seen)
          passThrough = true
      }
      heaps.valuesIterator.flatMap(_.iterator) ++ iter
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroupExec {
  /** Input rows a partial heaps before judging its own reduction ratio
    * (once, like hash aggregation's partial-skip probe): large enough
    * that real low-cardinality workloads have saturated their heaps,
    * small enough that the retained probe state is a few MB of rows.
    */
  val ProbeRows: Long = 1L << 16
}
