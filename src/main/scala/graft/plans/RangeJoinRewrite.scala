package graft.plans

import graft.operators.RangeJoin
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite an equi-keyless point-in-interval join into the
  * bin-bucketed equi join of [[graft.operators.RangeJoin]], automatically.
  *
  * A join whose only condition is `p >= lo AND p <= hi` (or the BETWEEN
  * sugar, which parses to exactly that) has no equi key, so Spark can only
  * plan BroadcastNestedLoopJoin — O(|L|·|R|) compares and a broadcast
  * requirement. This rule manufactures the key with the operator's own
  * bin expressions ([[graft.operators.RangeJoin.bin]] on the point side,
  * [[graft.operators.RangeJoin.binRange]] exploded on the interval side),
  * joins on bin equality AND the original predicate, then projects the
  * bins away. Output rows and columns are exactly those of the original
  * join (a point has one bin, so no duplicate matches; null bounds produce
  * a null sequence → no generated rows, matching BETWEEN's null semantics;
  * an inverted interval explodes to bins the original predicate then
  * rejects).
  *
  * Scoped deliberately narrowly: inner join, condition is EXACTLY the two
  * range conjuncts over integral columns, point side from the left,
  * bounds from the right. Anything else is left untouched. After the
  * rewrite the join has an equality conjunct, so the rule cannot re-fire.
  *
  * Config: `spark.graft.rangeJoin.binWidth` (default 3600000000 — one hour
  * in microseconds; set it near the median interval length).
  *
  * Injected by `GraftExtensions` (session build time) or
  * `spark.experimental.extraOptimizations` (live session); a session that
  * does not want the rewrite does not install the rule.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  private def binWidth: Long = SQLConf.get
    .getConfString("spark.graft.rangeJoin.binWidth", "3600000000").toLong

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      matchRange(cond, left, right) match {
        case Some((p, lo, hi)) =>
          val w = binWidth
          def bin(e: Expression) = RangeJoin.bin(Bridge.column(e), w)
          val binL = Alias(Bridge.expression(bin(p)), "__graft_bin_l")()
          val lproj = Project(left.output :+ binL, left)
          val binR = AttributeReference("__graft_bin_r", LongType,
            nullable = false)()
          val gen = Generate(
            Explode(Bridge.expression(RangeJoin.binRange(bin(lo), bin(hi)))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(binR), child = right)
          val newCond = And(EqualTo(binL.toAttribute, binR), cond)
          Project((left.output ++ right.output).map(a => a: NamedExpression),
            Join(lproj, gen, Inner, Some(newCond), hint))
        case None => j
      }
  }

  /** `p >= lo AND p <= hi` with p strictly from the left, lo/hi strictly
    * from the right, all integral — else None.
    */
  private def matchRange(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Expression)] = {
    def fromLeft(e: Expression) = e.references.nonEmpty &&
      e.references.subsetOf(left.outputSet)
    def fromRight(e: Expression) = e.references.nonEmpty &&
      e.references.subsetOf(right.outputSet)
    def integral(e: Expression) =
      e.dataType == LongType || e.dataType == IntegerType
    // normalize each comparison to (point, bound, isLower)
    def side(c: Expression): Option[(Expression, Expression, Boolean)] = c match {
      case GreaterThanOrEqual(p, b) if fromLeft(p) && fromRight(b) => Some((p, b, true))
      case LessThanOrEqual(b, p) if fromLeft(p) && fromRight(b) => Some((p, b, true))
      case LessThanOrEqual(p, b) if fromLeft(p) && fromRight(b) => Some((p, b, false))
      case GreaterThanOrEqual(b, p) if fromLeft(p) && fromRight(b) => Some((p, b, false))
      case _ => None
    }
    cond match {
      case And(c1, c2) =>
        (side(c1), side(c2)) match {
          case (Some((p1, lo, true)), Some((p2, hi, false)))
            if p1.semanticEquals(p2) && Seq(p1, lo, hi).forall(integral) =>
            Some((p1, lo, hi))
          case (Some((p1, hi, false)), Some((p2, lo, true)))
            if p1.semanticEquals(p2) && Seq(p1, lo, hi).forall(integral) =>
            Some((p1, lo, hi))
          case _ => None
        }
      case _ => None
    }
  }
}
