package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BaseOrdering, Expression, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.physical.BroadcastMode

/** The lo-sorted interval index behind [[BroadcastIntervalJoinExec]]:
  * the index build, the probe walk, and the broadcast mode that builds
  * the index once on the driver.
  *
  * Floating-point bounds: every index sort and probe comparison uses
  * the generated ascending [[ordering]], whose code compares doubles
  * and floats through `SQLOrderingUtil` — -0.0 equals 0.0 and NaN
  * sorts above every value, which is exactly how the native `<=` and
  * `>=` compare. Double ranges therefore match the nested-loop
  * BETWEEN form (RangeJoinDifferentialSpec pins -0.0, 0.0 and NaN
  * bounds and probes). Keys are another matter: the keyed lookup is
  * UnsafeRow byte equality, under which -0.0 ≠ 0.0 and NaN payloads
  * differ while the native equi-join normalizes them, so
  * [[IntervalJoin.join]] rejects floating-point key types. */
private[graft] object RangeIndexSupport {
  import org.apache.spark.sql.execution.graftshim.DriverBuiltRelation

  /** One lo-sorted interval group: bounds, payload rows, and the
    * running max of hi in lo-order. Immutable after construction
    * (UnsafeRow copies) — safe to share across task threads and to
    * Java-serialize inside a broadcast. */
  final case class RangeIndex(lo: Array[InternalRow],
      hi: Array[InternalRow], rows: Array[InternalRow],
      maxHi: Array[InternalRow])

  /** The broadcast payload: equi-key → its group. An unkeyed join is a
    * single group under the empty (zero-column) key. */
  type Groups = java.util.HashMap[UnsafeRow, RangeIndex]

  /** Sort collected (lo, hi, row) interval copies by lo and attach the
    * running-max-hi array. */
  def buildIndex(raw: Array[(InternalRow, InternalRow, InternalRow)],
      cmp: BaseOrdering): RangeIndex = {
    val ivs = raw.sortWith((a, b) => cmp.compare(a._1, b._1) < 0)
    val maxHi = new Array[InternalRow](ivs.length)
    var m = 0
    while (m < ivs.length) {
      maxHi(m) =
        if (m == 0) ivs(0)._2
        else if (cmp.compare(ivs(m)._2, maxHi(m - 1)) >= 0) ivs(m)._2
        else maxHi(m - 1)
      m += 1
    }
    RangeIndex(ivs.map(_._1), ivs.map(_._2), ivs.map(_._3), maxHi)
  }

  /** Probe one group with [s, e]: emit every build interval [lo, hi]
    * with lo ≤ e AND hi ≥ s (inclusive overlap — touching endpoints
    * count; a point probe is s = e). Binary-search the last lo ≤ e,
    * then walk left while the running-max-hi can still reach s. A
    * build interval strictly inside [s, e], one containing it, and
    * partial overlaps on either side all satisfy the two comparisons —
    * one walk covers every overlap case, in O(log G + matches) for
    * non- or moderately-overlapping intervals. The caller passes an
    * already-copied left row. */
  def probe(g: RangeIndex, cmp: BaseOrdering, s: InternalRow,
      e: InternalRow, lCopy: InternalRow, joined: JoinedRow,
      outProj: UnsafeProjection): Iterator[InternalRow] = {
    var a = 0; var b = g.lo.length - 1; var ub = -1
    while (a <= b) {
      val mid = (a + b) >>> 1
      if (cmp.compare(g.lo(mid), e) <= 0) { ub = mid; a = mid + 1 }
      else b = mid - 1
    }
    if (ub < 0) Iterator.empty
    else new Iterator[InternalRow] {
      private var idx = ub
      private var nextRow: InternalRow = advance()
      private def advance(): InternalRow = {
        while (idx >= 0 && cmp.compare(g.maxHi(idx), s) >= 0) {
          val i = idx
          idx -= 1
          if (cmp.compare(g.hi(i), s) >= 0)
            return outProj(joined(lCopy, g.rows(i))).copy()
        }
        null
      }
      override def hasNext: Boolean = nextRow != null
      override def next(): InternalRow = {
        val r = nextRow; nextRow = advance(); r
      }
    }
  }

  /** The generated ascending ordering used for every index sort and
    * probe comparison — one definition so driver (mode.transform) and
    * executors (probe walks) provably agree. Cheap after the first
    * codegen-cache hit; generated per call site because generated
    * orderings are not provably thread-safe. */
  def ordering(dt: org.apache.spark.sql.types.DataType): BaseOrdering = {
    val vAttr = AttributeReference("v", dt, nullable = true)() :: Nil
    GenerateOrdering.generate(vAttr.map(SortOrder(_, Ascending)), vAttr)
  }

  /** Custom [[BroadcastMode]] (the HashedRelationBroadcastMode
    * precedent): the exchange runs `transform` ONCE on the driver, so
    * the O(M log M) sort and the per-interval row copies happen exactly
    * once per query — not once per task or per executor — and what
    * ships over the wire is the READY [[Groups]] map, never the raw row
    * array. Rows with a null key or a null bound are dropped at build:
    * they can match nothing under the join's SQL semantics.
    * Cross-query reuse is Spark's own broadcast-exchange reuse
    * (ReusedExchange), which this mode joins via case-class equality of
    * its canonicalized form. */
  case class IntervalIndexBroadcastMode(key: Option[Expression],
      lo: Expression, hi: Expression, output: Seq[Attribute])
      extends BroadcastMode {
    override def transform(rows: Array[InternalRow]): AnyRef =
      transform(rows.iterator, Some(rows.length.toLong))
    override def transform(rows: Iterator[InternalRow],
        sizeHint: Option[Long]): AnyRef = {
      val keyProj = UnsafeProjection.create(key.toSeq, output)
      val loProj = UnsafeProjection.create(lo :: Nil, output)
      val hiProj = UnsafeProjection.create(hi :: Nil, output)
      val byKey = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.ArrayBuffer[
          (InternalRow, InternalRow, InternalRow)]]()
      var size = 0L
      rows.foreach { row =>
        val k = keyProj(row)
        val l = loProj(row)
        val h = hiProj(row)
        if (!k.anyNull && !l.isNullAt(0) && !h.isNullAt(0)) {
          var buf = byKey.get(k)
          if (buf == null) {
            buf = new scala.collection.mutable.ArrayBuffer()
            byKey.put(k.copy(), buf)
          }
          buf += ((l.copy(), h.copy(), row.copy()))
          size += l.getSizeInBytes + h.getSizeInBytes + (row match {
            case u: UnsafeRow => u.getSizeInBytes.toLong
            case _ => 64L
          })
        }
      }
      val cmp = ordering(lo.dataType)
      val groups = new Groups(byKey.size * 2)
      byKey.forEach((k, buf) => groups.put(k, buildIndex(buf.toArray, cmp)))
      new DriverBuiltRelation(groups, size)
    }
    override def canonicalized: BroadcastMode =
      copy(key = key.map(_.canonicalized), lo = lo.canonicalized,
        hi = hi.canonicalized, output = Seq.empty)
  }
}
