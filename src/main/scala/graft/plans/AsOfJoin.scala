package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim.Shim

/** Custom whole-operator #2: sort-merge AS-OF join — the canonical
  * "enrich each event with the latest matching state" operator
  * (reference: app.py:177 `find_one(sort=[("producer_timestamp", DESC)])`
  * generalizes to "latest right row at or before each left row").
  *
  * Spark has no as-of join; the composable fallback (window over a union,
  * see EventsPipeline.asofLastPurchase) forces BOTH relations through one
  * full window sort and carries every left row through the right-side
  * machinery. This operator is the join-shaped form: a binary
  * LogicalPlan + Strategy + BinaryExecNode whose physical contract is
  *
  *  - `requiredChildDistribution`: both children clustered on the join
  *    keys → Catalyst inserts co-partitioned hash exchanges (same shape
  *    SortMergeJoinExec requests — at 100 TB each side shuffles once on
  *    its keys, nothing is broadcast or buffered whole);
  *  - `requiredChildOrdering`: each child sorted by (keys, ordCols) →
  *    Catalyst inserts per-partition SortExecs (spillable);
  *  - execution: one streaming merge pass per partition holding exactly
  *    ONE candidate right row — O(|L|+|R|) compares, O(1) state, no
  *    per-key buffering (the window form holds a partition's whole sort
  *    run; a lookup-join holds the full right side per key).
  *
  * Semantics (SQL-null-correct; `forward` selects the direction):
  *   backward — for each left row l: the LAST right row r (in (keys,
  *   ordCols) sort order) with r.keys = l.keys and r.ord <= l.ord
  *   lexicographically; forward — the FIRST right row with r.ord >=
  *   l.ord (the pandas merge_asof direction='forward' contract: next
  *   state at or after the event). Right columns are null when no such
  *   row exists. Rows with null keys never match (null = null is
  *   UNKNOWN in SQL); left rows with a null ord column match nothing
  *   (comparison with null is UNKNOWN). Ties on ord are broken by sort
  *   position, so callers wanting determinism include a unique
  *   tiebreaker as the last ord column — same contract as TopKPerGroup.
  *   A match tolerance ("within t of the event") composes as a caller
  *   post-projection (`when(r_ord - ord <= t, payload)`) and needs no
  *   exec support — arithmetic on ord would constrain the generic
  *   lexicographic design to one numeric column.
  *
  * Both directions are the same single streaming merge pass: backward
  * holds the latest qualifying right row (O(1) state); forward holds
  * nothing at all — the right iterator's HEAD is the candidate (rows
  * consumed past are ord-below every later left row, since left ords
  * ascend within a key).
  *
  * Exactness: with a unique tiebreaker the output is row-identical to
  * the correlated-subquery formulation, so the same DuckDB oracle SQL
  * checks both this exec and the window composition. */
case class AsOfJoinPlan(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftOrd: Seq[Expression], rightOrd: Seq[Expression],
    forward: Boolean,
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    "as-of join key types must match pairwise")
  require(leftOrd.map(_.dataType) == rightOrd.map(_.dataType),
    "as-of join ordering column types must match pairwise")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(l: LogicalPlan,
      r: LogicalPlan): AsOfJoinPlan = copy(left = l, right = r)
}

case class AsOfJoinExec(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftOrd: Seq[Expression], rightOrd: Seq[Expression],
    forward: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Co-partition both sides on the join keys (the SMJ contract): all
    * rows of a key meet in one partition, so the merge pass is exact. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** Each side sorted by (keys, ordCols) ascending — Catalyst supplies
    * the (spillable, codegen'd) sorts. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys ++ leftOrd).map(SortOrder(_, Ascending)),
    (rightKeys ++ rightOrd).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys ++ leftOrd).map(SortOrder(_, Ascending))

  /** The merge preserves the left side's rows and clustering, so
    * forward it (the BroadcastIntervalJoinExec precedent) —
    * without this, SparkPlan's default UnknownPartitioning makes a
    * downstream same-key operator (e.g. the nearest composition's
    * second as-of) re-exchange the whole relation. */
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lSchema = left.output
    val rSchema = right.output
    val lKeyExprs = leftKeys; val rKeyExprs = rightKeys
    val lOrdExprs = leftOrd; val rOrdExprs = rightOrd
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // Cross-side comparisons run on projected rows of a shared dummy
      // schema (the pairwise-equal key/ord types), compared with a
      // generated (codegen'd) ordering.
      def attrsOf(ts: Seq[Expression]): Seq[AttributeReference] =
        ts.zipWithIndex.map { case (e, i) =>
          AttributeReference(s"c$i", e.dataType, nullable = true)()
        }
      val keyAttrs = attrsOf(lKeyExprs)
      val ordAttrs = attrsOf(lOrdExprs)
      val keyCmp = GenerateOrdering.generate(
        keyAttrs.map(SortOrder(_, Ascending)), keyAttrs)
      val ordCmp = GenerateOrdering.generate(
        ordAttrs.map(SortOrder(_, Ascending)), ordAttrs)
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lSchema)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rSchema)
      val lOrdProj = UnsafeProjection.create(lOrdExprs, lSchema)
      val rOrdProj = UnsafeProjection.create(rOrdExprs, rSchema)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val rightNulls = new GenericInternalRow(rSchema.size)
      val rBuf = rIter.buffered

      def anyNull(row: UnsafeRow): Boolean =
        (0 until row.numFields).exists(row.isNullAt)

      var held: InternalRow = null // last right row matching current left key
      var heldKey: UnsafeRow = null

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        if (heldKey != null && keyCmp.compare(heldKey, lKey) != 0) {
          held = null; heldKey = null
        }
        if (anyNull(lKey)) {
          // null keys never match; right rows with null keys sort into
          // the same region but are skipped by emitting no match.
          joined(lRow, rightNulls)
        } else {
          val lOrd = lOrdProj(lRow).copy() // rOrdProj below reuses its buffer
          if (anyNull(lOrd)) {
            // ANY null ord component means the lexicographic comparison is
            // UNKNOWN: match nothing — even when a right row is already
            // held for this key from an earlier (non-null) left row.
            joined(lRow, rightNulls)
          } else if (forward) {
            // advance past right rows strictly below (lKey, lOrd); the
            // surviving HEAD is the first row at-or-after — never
            // consumed, since it may also serve later left rows
            var advance = true
            while (advance && rBuf.hasNext) {
              val rKey = rKeyProj(rBuf.head)
              val kc = keyCmp.compare(rKey, lKey)
              if (kc < 0) rBuf.next() // right key exhausted below left key
              else if (kc == 0) {
                if (anyNull(rOrdProj(rBuf.head))) rBuf.next() // unmatchable
                else if (ordCmp.compare(rOrdProj(rBuf.head), lOrd) < 0)
                  rBuf.next() // ord-below every later left row of this key
                else advance = false
              } else advance = false
            }
            val hit = rBuf.hasNext &&
              keyCmp.compare(rKeyProj(rBuf.head), lKey) == 0
            joined(lRow, if (hit) rBuf.head else rightNulls)
          } else {
            var advance = true
            while (advance && rBuf.hasNext) {
              val rKey = rKeyProj(rBuf.head)
              val kc = keyCmp.compare(rKey, lKey)
              if (kc < 0) rBuf.next() // right key exhausted below left key
              else if (kc == 0) {
                if (anyNull(rOrdProj(rBuf.head))) rBuf.next() // unmatchable
                else if (ordCmp.compare(rOrdProj(rBuf.head), lOrd) <= 0) {
                  held = rBuf.next().copy()
                  if (heldKey == null) heldKey = lKey.copy()
                } else advance = false
              } else advance = false
            }
            joined(lRow, if (held != null) held else rightNulls)
          }
        }
        outProj(joined)
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan,
      r: SparkPlan): AsOfJoinExec = copy(left = l, right = r)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(lk, rk, lo, ro, fwd, l, r) =>
      AsOfJoinExec(lk, rk, lo, ro, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object AsOfJoin {
  /** As-of join: each left row gains the columns of the last right row
    * with equal `keys` and `ordCols` (lexicographically) at or before
    * the left row's — or, with `direction = "forward"`, the FIRST right
    * row at or after it. Right columns are re-aliased with `prefix`
    * (fresh exprIds — mandatory for self-as-of-joins, where both sides
    * share attribute ids). Include a unique tiebreaker as the last ord
    * column for deterministic payloads. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      ordCols: Seq[String], prefix: String = "r_",
      direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    import org.apache.spark.sql.functions.col
    val spark = left.sparkSession
    Strategies.ensureRegistered(spark, AsOfJoinStrategy)
    // Fresh exprIds + collision-free names on the right side.
    val renamed = right.select(
      right.columns.toIndexedSeq.map(c => col(c).as(prefix + c)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = renamed.queryExecution.analyzed
    def resolve(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${p.output.map(_.name)}"))
    Shim.ofRows(spark, AsOfJoinPlan(
      keys.map(resolve(lPlan, _)),
      keys.map(k => resolve(rPlan, prefix + k)),
      ordCols.map(resolve(lPlan, _)),
      ordCols.map(c => resolve(rPlan, prefix + c)),
      direction == "forward",
      lPlan, rPlan))
  }
}
