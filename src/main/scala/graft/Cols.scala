package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column helpers shared by every operator module.
  *
  * Determinism is a first-class requirement here: results are hash-compared
  * against a DuckDB oracle (Verify.scala), and floating-point aggregation
  * order differs between engines (and between Spark runs, since partial
  * aggregation order depends on partitioning). The fix is to aggregate
  * EXACTLY (decimal) and only convert to double at the very end — a single
  * deterministic IEEE operation both engines perform identically. This also
  * holds at 100 TB: decimal sums are associative, so Spark's partial
  * (map-side) aggregation still applies.
  */
object Cols {

  /** Exact sum: cast to decimal(28,scale) before summing, emit double.
    * Mirrors `CAST(sum(CAST(x AS DECIMAL(28,s))) AS DOUBLE)` in the oracle. */
  def decSum(c: Column, scale: Int = 6): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double")

  /** Exact average: exact decimal sum divided by count, both deterministic.
    * Mirrors `CAST(sum(CAST(x AS DECIMAL(28,s))) AS DOUBLE) / count(x)`. */
  def decAvg(c: Column, scale: Int = 6): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double") /
      count(c).cast("double")

  /** Oracle-SQL fragment equivalents (kept adjacent so Spark and DuckDB
    * expressions stay in sync when edited). */
  def sqlDecSum(x: String, scale: Int = 6): String =
    s"CAST(sum(CAST($x AS DECIMAL(28,$scale))) AS DOUBLE)"
  def sqlDecAvg(x: String, scale: Int = 6): String =
    s"CAST(sum(CAST($x AS DECIMAL(28,$scale))) AS DOUBLE) / CAST(count($x) AS DOUBLE)"
  /** Cosine of two `n`-element DOUBLE[] lists as one parenthesized
    * DuckDB expression, dot / (|a| * |b|); callers round it themselves. */
  def sqlCosine(a: String, b: String, n: Int = 64): String = {
    def dot(x: String, y: String): String =
      s"list_sum(list_transform(range(1, ${n + 1}), j -> $x[j] * $y[j]))"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** Global top-k WITH dense 1..k ranks, window-free: TakeOrderedAndProject
    * selects the k survivors (`scoreCol` desc, `tieCol` asc), then each
    * survivor's rank is derived by counting strictly-better survivors
    * via a k×k broadcast self-join. Correct because (score, tie) is a
    * TOTAL order over the input: the top-k set is closed under
    * "strictly better", so within-subset rank equals global rank. This
    * is the engine's standard "global ranks without a global window"
    * idiom (BM25 term/doc ranks, hybrid-retrieval dense ranks). Output:
    * all of `df`'s columns (for the survivors) plus `rankCol`.
    *
    * PRECONDITION (silently violated otherwise): `tieCol` must be
    * unique per row, so (score, tie) is a total order — duplicates
    * would collapse in the groupBy and mis-rank. Every production call
    * site is pinned by TrainingOpsSpec's "total-order precondition"
    * test; add a clause there for each new call site. */
  def rankTopK(df: DataFrame, scoreCol: String, tieCol: String, k: Int,
      rankCol: String): DataFrame = {
    val top = df.orderBy(col(scoreCol).desc, col(tieCol)).limit(k)
    top.join(broadcast(top.select(col(tieCol).as("__b_tie"),
        col(scoreCol).as("__b_s"))),
        col("__b_s") > col(scoreCol) ||
          (col("__b_s") === col(scoreCol) &&
            col("__b_tie") < col(tieCol)),
        "left")
      .groupBy(top.columns.map(col).toIndexedSeq: _*)
      .agg((count(col("__b_tie")) + lit(1)).cast("int").as(rankCol))
  }
}
