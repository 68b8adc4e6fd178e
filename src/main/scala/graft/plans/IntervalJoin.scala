package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.graftshim.DriverBuiltRelation
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Custom whole-operator: the broadcast INTERVAL JOIN — every (probe,
  * build) pair with `[probe.s, probe.e]` overlapping `[build.lo,
  * build.hi]` inclusively (`lo ≤ e AND hi ≥ s`), optionally under an
  * equi-key, inner or left outer. The one operator behind the
  * engine's range and temporal joins:
  *
  *  - point-in-interval (rate bands, histogram bins): the probe is a
  *    point, s = e = x, so the predicate is `x BETWEEN lo AND hi`;
  *  - keyed (SCD2 / temporal-dimension lookups, per-category grids):
  *    key equality plus containment; left outer keeps facts outside
  *    every version's validity window, null-padded exactly once;
  *  - interval × interval (sessions × maintenance windows).
  *
  * Why not built-ins: without an equi-key Spark plans these predicates
  * as BroadcastNestedLoopJoin, O(|probe|·|build|) comparisons; with one
  * it plans BroadcastHashJoin with the range as a post-join filter,
  * O(G) per probe row for a key group of G intervals. Here the build
  * side is broadcast as a driver-built key → lo-sorted-group map
  * ([[RangeIndexSupport]]) and each probe row costs one hash lookup
  * plus O(log G + matches). An unkeyed join is one group.
  *
  * Semantics match the native predicate row for row (as a multiset):
  * null keys, null probe values and null bounds match nothing, and a
  * reversed interval on either side matches exactly what the SQL
  * comparisons say. RangeJoinSpec and RangeJoinDifferentialSpec pin
  * the equivalence. */
case class IntervalJoinPlan(probeKey: Option[Expression], probeLo: Expression,
    probeHi: Expression, buildKey: Option[Expression], lo: Expression,
    hi: Expression, leftOuter: Boolean, left: LogicalPlan, right: LogicalPlan)
    extends BinaryNode {
  require(probeKey.map(_.dataType) == buildKey.map(_.dataType),
    "interval join key types must match")
  require(Seq(probeHi, lo, hi).forall(_.dataType == probeLo.dataType),
    "interval join bound types must all match")
  override def output: Seq[Attribute] =
    IntervalJoin.output(left.output, right.output, leftOuter)
  override protected def withNewChildrenInternal(l: LogicalPlan,
      r: LogicalPlan): IntervalJoinPlan = copy(left = l, right = r)
}

case class BroadcastIntervalJoinExec(probeKey: Option[Expression],
    probeLo: Expression, probeHi: Expression, buildKey: Option[Expression],
    lo: Expression, hi: Expression, leftOuter: Boolean, left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    IntervalJoin.output(left.output, right.output, leftOuter)

  /** The build side's BroadcastExchange runs the mode's `transform` ON
    * THE DRIVER, so executors receive the ready index (the
    * HashedRelationBroadcastMode precedent). */
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(RangeIndexSupport
      .IntervalIndexBroadcastMode(buildKey, lo, hi, right.output)) :: Nil

  /** Probe rows pass through in place and in order (each emits its
    * matches consecutively), so the streamed side's partitioning and
    * ordering survive — forwarding them lets downstream operators reuse
    * the probe side's distribution (the BroadcastHashJoinExec shape). */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lSchema = left.output
    val nRight = right.output.length
    val (pKey, s, e, outer, outAttrs) =
      (probeKey.toSeq, probeLo, probeHi, leftOuter, output)
    val point = probeLo.semanticEquals(probeHi)
    val bc = right.executeBroadcast[DriverBuiltRelation]()
    left.execute().mapPartitions { lIter =>
      // generated per task: generated orderings are not provably
      // thread-safe, and this is the construction the driver-side
      // index build used
      val cmp = RangeIndexSupport.ordering(s.dataType)
      val keyProj = UnsafeProjection.create(pKey, lSchema)
      val sProj = UnsafeProjection.create(s :: Nil, lSchema)
      val eProj = UnsafeProjection.create(e :: Nil, lSchema)
      val groups = bc.value.payload.asInstanceOf[RangeIndexSupport.Groups]
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      // one shared all-null build row pads left outer misses (the
      // BroadcastHashJoinExec nullRow pattern); JoinedRow copies out
      val nullRight = new GenericInternalRow(nRight)
      lIter.flatMap { lRow =>
        // each projection writes its own buffer, and flatMap drains a
        // row's matches before projecting the next row, so sRow needs
        // no copy while eProj runs
        val sRow = sProj(lRow)
        val eRow = if (point) sRow else eProj(lRow)
        val k = keyProj(lRow)
        val g = if (k.anyNull || sRow.isNullAt(0) || eRow.isNullAt(0)) null
          else groups.get(k)
        val lCopy = lRow.copy()
        val it = if (g == null) Iterator.empty
          else RangeIndexSupport.probe(g, cmp, sRow, eRow, lCopy, joined,
            outProj)
        // left outer: a null key or value, an absent group and an empty
        // walk each yield exactly one null-padded row
        if (!outer || it.hasNext) it
        else Iterator.single(outProj(joined(lCopy, nullRight)).copy())
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan,
      r: SparkPlan): BroadcastIntervalJoinExec = copy(left = l, right = r)
}

object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(pk, s, e, bk, lo, hi, outer, l, r) =>
      BroadcastIntervalJoinExec(pk, s, e, bk, lo, hi, outer,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object IntervalJoin {
  /** Left outer keeps every probe row; unmatched rows carry nulls on
    * the build side, so its attributes must advertise nullability. */
  private[plans] def output(l: Seq[Attribute], r: Seq[Attribute],
      leftOuter: Boolean): Seq[Attribute] =
    if (leftOuter) l ++ r.map(_.withNullability(true)) else l ++ r

  /** Every (probe row, build row) pair with `build.lo <= probe.probeHi
    * AND build.hi >= probe.probeLo` (bounds inclusive) and, when `key`
    * = Some((probeKeyCol, buildKeyCol)) is given, equal keys. Pass the
    * same column as `probeLo` and `probeHi` for a point probe
    * (`x BETWEEN lo AND hi`). Build-side columns are re-aliased with
    * `prefix` (fresh exprIds — the asofJoin contract).
    *
    * `leftOuter = true` keeps every point-probe row: an unmatched row
    * (no key group, out of range, null key or null value) emits exactly
    * ONE row with the build side null-padded — the SCD2 lookup
    * contract.
    *
    * A build side whose size estimate exceeds
    * `spark.graft.rangeJoin.maxBuildBytes` is NOT broadcast: the join
    * degrades to the exact binned equi-join shuffle plan
    * ([[BinnedRangeFallback]]) when the bound type can be bucketed, and
    * keeps the broadcast plan otherwise. `forceBinned = true` takes the
    * binned plan unconditionally, scoped to this call, and throws on
    * bound types it cannot bucket. */
  def join(probe: DataFrame, build: DataFrame, probeLo: String,
      probeHi: String, lo: String, hi: String,
      key: Option[(String, String)] = None, prefix: String = "r_",
      leftOuter: Boolean = false, forceBinned: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    // FP keys are rejected ON BOTH SIDES ahead of the size branch so
    // both plans hold the same contract (the exec's byte-equality
    // lookup cannot normalize -0.0/NaN; the fallback's native
    // equi-join would, and a ceiling change must never flip match
    // semantics); checking both sides stops an implicit-cast bypass
    for ((pk, bk) <- key; (side, dt) <- Seq(
        "probe" -> probe.schema(pk).dataType,
        "build" -> build.schema(bk).dataType))
      require(dt != FloatType && dt != DoubleType,
        s"interval join keys must not be floating-point, got $dt on " +
          s"the $side side (byte-equality lookup cannot normalize " +
          "-0.0/NaN the way the native equi-join does)")
    // the binned plan explodes an interval probe into several bucket
    // rows, so only a point probe has one row to pad
    require(!leftOuter || probeLo == probeHi,
      "a left outer interval join needs a point probe (probeLo == probeHi)")
    val boundDt = build.schema(lo).dataType
    if (forceBinned || (BinnedRangeFallback.overCeiling(build) &&
        BinnedRangeFallback.supportedBoundType(boundDt)))
      return BinnedRangeFallback.join(probe, build, probeLo, probeHi, lo,
        hi, key, prefix, leftOuter)
    val spark = probe.sparkSession
    Strategies.ensureRegistered(spark, IntervalJoinStrategy)
    val renamed = build.select(
      build.columns.toIndexedSeq.map(c => col(c).as(prefix + c)): _*)
    val lPlan = probe.queryExecution.analyzed
    val rPlan = renamed.queryExecution.analyzed
    def resolve(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${p.output.map(_.name)}"))
    Shim.ofRows(spark, IntervalJoinPlan(
      key.map(k => resolve(lPlan, k._1)), resolve(lPlan, probeLo),
      resolve(lPlan, probeHi), key.map(k => resolve(rPlan, prefix + k._2)),
      resolve(rPlan, prefix + lo), resolve(rPlan, prefix + hi), leftOuter,
      lPlan, rPlan))
  }
}
