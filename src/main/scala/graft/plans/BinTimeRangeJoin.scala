package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types.{DayTimeIntervalType, LongType, TimestampType}
import org.apache.spark.unsafe.types.CalendarInterval

/** Optimizer rule (the `Rule[LogicalPlan]` rung of the custom-operator
  * ladder, registered via [[graft.functions.GraftExtensions]]): rewrites a
  * pure BANDED time-range join
  *
  *   `A join B ON b.ts <= a.ts AND b.ts >= a.ts - INTERVAL W`
  *
  * — which Spark must otherwise plan as an O(N·M)
  * BroadcastNestedLoopJoin — into the standard binned equi-join: both
  * sides get a W-wide time-bucket key, the band side is exploded into the
  * two buckets its validity window [b.ts, b.ts + W] can touch, bucket
  * equality joins hash-partitioned, and the original range predicate
  * stays as the residual filter. Each qualifying pair matches in exactly
  * one bucket (the bucket of `a.ts` is unique), so no dedup is needed and
  * results are row-for-row identical — asserted by ScaleSpec against the
  * unrewritten plan.
  *
  * Scope guards: inner joins only; fires only when the join has NO
  * equi-conjunct already (with one, Spark already plans a hash join and
  * binning would only add work); the band must be a pair of comparisons
  * between bare timestamp attributes of opposite sides with a foldable
  * day-time interval width (variable-length month intervals are
  * rejected). The rewrite inserts its own equi-conjunct, so a second
  * fixed-point pass no longer matches (tag + equi guard).
  *
  * This is the rewrite [[BinnedRangeFallback]] builds for the
  * interval-join API with a data-derived width; the rule makes the
  * naive SQL formulation scale without the caller knowing the trick.
  * It runs only in sessions built with [[graft.functions
  * .GraftExtensions]]. */
object BinTimeRangeJoin extends Rule[LogicalPlan] {
  private val BINNED = TreeNodeTag[Boolean]("graft.binned.range.join")

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  /** Micros of a pure (fixed-length) interval literal. */
  private def intervalMicros(l: Literal): Option[Long] = l match {
    case Literal(v: Long, _: DayTimeIntervalType) => Some(v)
    case Literal(ci: CalendarInterval, _) if ci.months == 0 =>
      Some(ci.days * 86400000000L + ci.microseconds)
    case _ => None
  }

  /** Bucket start of a timestamp's micros ([[BinnedRangeFallback
    * .bucketStart]], the definition the fallback uses too). */
  private def bucketStart(ts: Expression, w: Long): Expression =
    BinnedRangeFallback.bucketStart(UnixMicros(ts), w)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if j.getTagValue(BINNED).isEmpty =>
      val conj = splitConj(cond)
      def opposite(x: Attribute, y: Attribute): Boolean =
        (left.outputSet.contains(x) && right.outputSet.contains(y)) ||
          (left.outputSet.contains(y) && right.outputSet.contains(x))
      val hasEqui = conj.exists {
        case EqualTo(x: AttributeReference, y: AttributeReference) =>
          opposite(x, y)
        case _ => false
      }
      val band: Option[(AttributeReference, AttributeReference, Long)] =
        if (hasEqui) None
        else {
          // upper bound: b <= a (either comparison direction)
          val uppers = conj.collect {
            case LessThanOrEqual(b: AttributeReference, a: AttributeReference)
                if a.dataType == TimestampType &&
                  b.dataType == TimestampType && opposite(a, b) => (a, b)
            case GreaterThanOrEqual(a: AttributeReference, b: AttributeReference)
                if a.dataType == TimestampType &&
                  b.dataType == TimestampType && opposite(a, b) => (a, b)
          }
          // lower bound: b >= a - W (a + negative interval after analysis)
          val lowers = conj.collect {
            case GreaterThanOrEqual(b: AttributeReference,
                TimestampAddInterval(a: AttributeReference, l: Literal, _)) =>
              (a, b, l)
            case LessThanOrEqual(
                TimestampAddInterval(a: AttributeReference, l: Literal, _),
                b: AttributeReference) =>
              (a, b, l)
          }
          uppers.flatMap { case (ua, ub) =>
            lowers.flatMap { case (la, lb, l) =>
              intervalMicros(l) match {
                case Some(us)
                    if us < 0 && la.semanticEquals(ua) &&
                      lb.semanticEquals(ub) =>
                  Seq((ua, ub, -us))
                case _ => Seq.empty
              }
            }
          }.headOption
        }
      band match {
        case None => j
        case Some((a, b, w)) =>
          val aInLeft = left.outputSet.contains(a)
          val plainChild = if (aInLeft) left else right
          val explodeChild = if (aInLeft) right else left
          val bAlias = Alias(bucketStart(a, w), "__graft_bucket_a")()
          val plainProj =
            Project(plainChild.output :+ bAlias, plainChild)
          val b0 = bucketStart(b, w)
          val genOut =
            AttributeReference("__graft_bucket_b", LongType, b.nullable)()
          val gen = Generate(
            Explode(CreateArray(Seq(b0, Add(b0, Literal(w))))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(genOut), child = explodeChild)
          val (newLeft, newRight) =
            if (aInLeft) (plainProj, gen) else (gen, plainProj)
          val newJoin = Join(newLeft, newRight, Inner,
            Some(And(cond, EqualTo(bAlias.toAttribute, genOut))), hint)
          newJoin.setTagValue(BINNED, true)
          Project(j.output, newJoin)
      }
  }
}
