package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType}

/** Mergeable quantile sketch aggregate (Datasketches KLL) — the quantile
  * counterpart of the HLL rollup (operators/Extended.approxUsersBySketch):
  * where the reference recomputes its latest-window metrics from raw rows
  * on every dashboard poll (app.py:373-390, 488-497), a 100 TB pipeline
  * keeps a ~KB sketch per (group, hour) and answers any percentile over
  * any group/time rollup by MERGING sketches — no second pass over data.
  *
  * Two aggregates share the buffer logic:
  *  - [[KllSketchBytes]] evals to the serialized sketch, so a rollup
  *    table can store sketches and a later query can union them
  *    ([[QuantileSketch.kllUnionQuantiles]]) — the mergeability is what
  *    makes the pattern scale (same shape as hll_union_agg);
  *  - [[KllUnionQuantiles]] is that union, evaluating to quantiles.
  *
  * Error: KLL with k=200 guarantees ~1.65% normalized rank error
  * (single-sided, 99% confidence) REGARDLESS of input size or merge
  * order — the invariant SketchSpec pins. Rows-only query (no DuckDB
  * oracle): the sketch's compaction choices are engine-native, exactly
  * like q_approx_percentile; the exact twin is q_percentile.
  */
abstract class KllAggBase[T]
    extends TypedImperativeAggregate[KllDoublesSketch] {
  def child: Expression
  def k: Int

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other)
    buf
  }

  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
}

/** Eval to the serialized sketch (for sketch-rollup tables). */
case class KllSketchBytes(child: Expression, k: Int = 200,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KllAggBase[Any] {

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray

  override def dataType: DataType = BinaryType
  override def withNewMutableAggBufferOffset(offset: Int): KllSketchBytes =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KllSketchBytes =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Distributed union of stored sketches (the `hll_union_agg` analog):
  * child is a BinaryType column of serialized KLL sketches; eval returns
  * the quantiles of the union. This is what makes the rollup table
  * queryable without any driver-side merge. */
case class KllUnionQuantiles(child: Expression, ranks: Seq[Double], k: Int = 200,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KllAggBase[Any] {

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null)
      buf.merge(KllDoublesSketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buf
  }

  override def eval(buf: KllDoublesSketch): Any =
    if (buf.isEmpty) new GenericArrayData(ranks.map(_ => Double.NaN).toArray)
    else new GenericArrayData(
      ranks.map(r => buf.getQuantile(r, QuantileSearchCriteria.INCLUSIVE)).toArray)

  override def dataType: DataType = ArrayType(DoubleType)
  override def withNewMutableAggBufferOffset(offset: Int): KllUnionQuantiles =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KllUnionQuantiles =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object QuantileSketch {
  /** Per-group serialized KLL sketch (store in a rollup table). */
  def kllSketch(c: Column, k: Int = 200): Column =
    Shim.column(KllSketchBytes(Shim.expression(c), k)
      .toAggregateExpression(isDistinct = false))

  /** Union stored sketches and read quantiles — fully distributed. */
  def kllUnionQuantiles(c: Column, ranks: Seq[Double], k: Int = 200): Column =
    Shim.column(KllUnionQuantiles(Shim.expression(c), ranks, k)
      .toAggregateExpression(isDistinct = false))

  /** Driver-side union + quantile read of stored sketches (the "query the
    * rollup table" half of the pattern; executor-side union would be
    * another TypedImperativeAggregate over BinaryType — same buffer ops). */
  def mergeQuantile(sketches: Seq[Array[Byte]], rank: Double): Double = {
    val u = KllDoublesSketch.newHeapInstance(200)
    sketches.foreach(b => u.merge(KllDoublesSketch.heapify(Memory.wrap(b))))
    u.getQuantile(rank, QuantileSearchCriteria.INCLUSIVE)
  }
}
