package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Cast, IntegralDivide, Literal, Pmod, Sequence, Subtract}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

/** Range (interval) join: match each left POINT to every right INTERVAL
  * containing it — sessions-to-events, promotions-to-orders, IP-to-range,
  * variant-to-gene. The declarative form (`p BETWEEN lo AND hi` with no
  * equi key) gives Spark nothing to hash on, so Catalyst falls back to
  * BroadcastNestedLoopJoin — O(|L|·|R|) compares and a broadcast
  * requirement that dies at scale (RangeJoinSpec shows the fallback).
  *
  * This operator manufactures the equi key by BINNING the domain: a point
  * joins its single bin `floor(p / w)`; an interval explodes into the
  * bins it covers (`floor(lo/w) .. floor(hi/w)`). The bin-equi join then
  * runs as a plain shuffled hash/sort-merge join, and the exact
  * `BETWEEN` predicate filters within bins. A point lives in EXACTLY one
  * bin, so each (point, interval) match is produced once — no dedup pass.
  *
  * Cost: |L| + |R|·(len/w + 1) join-input rows and bucket-local compare
  * work — linear, shuffled, AQE-skew-splittable. Pick `w` near the median
  * interval length: larger w → fewer interval replicas but more
  * in-bucket compares; smaller w → the reverse. Optional equi keys
  * (e.g. user_id) compose with the bin to tighten buckets further.
  *
  * [[bin]] and [[binRange]] are the one bin arithmetic: the optimizer
  * rule [[graft.plans.RangeJoinRewrite]] plans the same shape from them.
  */
object RangeJoin {

  /** @param points    left side; `pointCol` must be an integral (e.g.
    *                  unix_micros) column
    * @param intervals right side with integral `loCol`/`hiCol` (inclusive
    *                  bounds, lo <= hi; a null bound matches nothing)
    * @param binWidth  bin width in the point/bound units (> 0)
    * @param equiKeys  extra (point column, interval column) equi keys; a
    *                  pair naming the same column on both sides keeps
    *                  only the point side's copy
    * @param maxBinsPerInterval an interval spanning this many bins or more
    *                  fails the query with `raise_error` instead of
    *                  silently exploding one task (raise the cap, or the
    *                  bin width, to accept it deliberately)
    * @return every (point row ++ interval row) pair with
    *         lo <= point <= hi; interval columns that collide with point
    *         column names are suffixed `_r`; the bin is internal and
    *         dropped
    */
  def pointInInterval(points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      binWidth: Long, equiKeys: Seq[(String, String)] = Nil,
      maxBinsPerInterval: Int = 4096): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive: $binWidth")
    require(maxBinsPerInterval >= 1,
      s"maxBinsPerInterval must be >= 1: $maxBinsPerInterval")
    val shared = equiKeys.collect { case (p, i) if p == i => p }.toSet
    // disambiguate overlapping column names on the interval side
    val overlap = intervals.columns.toSet
      .intersect(points.columns.toSet) -- shared
    val r0 = overlap.foldLeft(intervals) { (acc, c) =>
      acc.withColumnRenamed(c, s"${c}_r")
    }
    def renamed(c: String) = if (overlap(c)) s"${c}_r" else c
    val (lo, hi) = (renamed(loCol), renamed(hiCol))

    val loBin = bin(col(lo), binWidth)
    val hiBin = bin(col(hi), binWidth)
    val capped = when(hiBin - loBin >= maxBinsPerInterval.toLong,
        raise_error(concat(
          lit(s"rangeJoin: interval spans >= $maxBinsPerInterval bins of " +
            s"width $binWidth ("),
          (hiBin - loBin + 1).cast("string"),
          lit(") - raise maxBinsPerInterval or the bin width"))))
      .otherwise(hiBin)
    val l = points.withColumn("__bin", bin(col(pointCol), binWidth))
    val r = r0.withColumn("__bin", explode(binRange(loBin, capped)))
    val cond = equiKeys.foldLeft(l("__bin") === r("__bin")) {
        case (c, (pk, ik)) => c && l(pk) === r(renamed(ik))
      } && col(pointCol) >= col(lo) && col(pointCol) <= col(hi)
    val joined = l.join(r, cond).drop(l("__bin")).drop(r("__bin"))
    shared.foldLeft(joined)((j, k) => j.drop(r(k)))
  }

  /** The bin of an integral value: exact `floor(v / w)` as a long
    * (`div` truncates toward zero, wrong for negatives; double division
    * can misbin at the edges). Subtracting the non-negative `pmod`
    * remainder leaves an exact multiple, whose integral division is the
    * floor, negatives included.
    */
  private[graft] def bin(v: Column, w: Long): Column = {
    val x = Cast(Bridge.expression(v), LongType)
    val lw = Literal(w, LongType)
    Bridge.column(IntegralDivide(Subtract(x, Pmod(x, lw)), lw))
  }

  /** Every bin from `loBin` to `hiBin` (an interval's covered bins); null
    * when either end is null, so the explode emits no row.
    */
  private[graft] def binRange(loBin: Column, hiBin: Column): Column =
    // Sequence is TimeZoneAware: without an explicit zone it stays
    // unresolved, which an optimizer rule cannot repair
    Bridge.column(new Sequence(Bridge.expression(loBin),
      Bridge.expression(hiBin)).withTimeZone(SQLConf.get.sessionLocalTimeZone))
}
