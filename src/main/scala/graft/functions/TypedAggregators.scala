package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator` surface (SURVEY.md §2.9 planned extension): the
  * user-facing custom-aggregate API, here the exact integer-cents price
  * statistics. For hot paths a `DeclarativeAggregate` or the
  * exact-decimal-sum formulation (Cols.decAvg) is preferred — this is the
  * ergonomic form for Dataset users. */
object TypedAggregators {

  case class CentsBuf(n: Long, cents: Long)

  /** Exact money aggregation in integer cents (order-independent, so
    * oracle-exact — the typed counterpart of Cols.decSum): counts rows
    * and sums round(price·100) as Long. Bounded by 2^63 cents ≈ 9.2e16
    * dollars per group; per-row rounding agrees with SQL round() because
    * a 2-decimal price times 100 is never an exact .5 fraction. */
  val exactPriceStats: Aggregator[(Long, Double), CentsBuf, (Long, Double)] =
    new Aggregator[(Long, Double), CentsBuf, (Long, Double)] {
      override def zero: CentsBuf = CentsBuf(0L, 0L)
      override def reduce(b: CentsBuf, a: (Long, Double)): CentsBuf =
        CentsBuf(b.n + 1, b.cents + math.round(a._2 * 100.0))
      override def merge(x: CentsBuf, y: CentsBuf): CentsBuf =
        CentsBuf(x.n + y.n, x.cents + y.cents)
      override def finish(b: CentsBuf): (Long, Double) =
        (b.n, b.cents.toDouble / 100.0)
      override def bufferEncoder: Encoder[CentsBuf] = Encoders.product
      override def outputEncoder: Encoder[(Long, Double)] = Encoders.product
    }
}
