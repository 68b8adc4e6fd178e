package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression for cosine similarity over two
  * array<double> columns, with whole-stage-codegen support.
  *
  * Rationale (builder spec: "a native Catalyst Expression with doGenCode
  * beats a Scala UDF"): the higher-order-function formulation
  * (zip_with + aggregate) allocates an intermediate array and evaluates a
  * lambda per element; this expression is a single fused loop emitted
  * directly into the generated Java, no allocation, no virtual calls —
  * the difference is ~3-5× on the ANN hot path where 10⁷-10⁹ cosines are
  * evaluated per query batch.
  *
  * The summation is a sequential left-to-right double fold — bit-identical
  * to the HOF formulation and to the DuckDB oracle's list_sum, so
  * swapping this in does not perturb oracle parity. Mismatched-length
  * inputs yield NULL — the same answer the zip_with formulation gives
  * (its null pads poison the aggregate) — rather than a silently-truncated
  * similarity.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires array<double> inputs, got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // May return null for non-null children (length mismatch).
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.numElements();
          double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $xi = $a.getDouble($i);
            double $yi = $b.getDouble($i);
            $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
          }
          double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
          ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: exact |A ∩ B| over two SORTED
  * array<bigint> columns as a fused two-pointer merge, with
  * whole-stage-codegen support.
  *
  * Rationale: `array_intersect` builds a per-row hash set — measured as
  * ~85% of the PPJoin verify stage's cost at 33M candidate pairs (the
  * shuffle of the arrays was only 14 s of 95 s; the intersect compute
  * was the rest). Sorting once at BUILD grain (one `sort_array` per
  * document) converts every per-pair intersection into an
  * allocation-free linear merge emitted straight into the generated
  * Java. Measured ~3× on the verify stage.
  *
  * PRECONDITION: both arrays ascending-sorted with DISTINCT elements
  * (the count is of matching positions, not multiset overlap); callers
  * own the sort — `sort_array(collect_list(...))` at build grain. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      // containsNull arrays are REJECTED, not tolerated: both eval
      // paths read slots with getLong, which would silently decode a
      // NULL element as 0L and count spurious matches against genuine
      // zeros — a wrong COUNT, worse than a type error
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "sorted_intersect_count requires array<bigint> inputs with " +
          s"non-nullable elements, got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1L; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        int $n = $a.numElements();
        int $m = $b.numElements();
        int $i = 0; int $j = 0; long $c = 0L;
        while ($i < $n && $j < $m) {
          long $xv = $a.getLong($i);
          long $yv = $b.getLong($j);
          if ($xv == $yv) { $c++; $i++; $j++; }
          else if ($xv < $yv) { $i++; } else { $j++; }
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level API + SQL registration for the custom expressions. */
object VectorFunctions {

  /** cosine_sim(a, b) as a Column (inputs auto-cast to array<double>). */
  def cosineSim(a: Column, b: Column): Column =
    Shim.column(CosineSimilarity(
      Shim.expression(a.cast("array<double>")),
      Shim.expression(b.cast("array<double>"))))

  /** sorted_intersect_count(a, b) as a Column — exact |A ∩ B| of two
    * ASCENDING-SORTED distinct array<bigint> columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Shim.column(SortedIntersectCount(Shim.expression(a),
      Shim.expression(b)))

  /** Register the six custom expressions for SQL use on an existing
    * session: `cosine_sim`, `zvalue`, `hilbert`, `word_shingles`,
    * `bpe_tokens` and `sorted_intersect_count`. This is the one SQL
    * function path (q_sql_custom_fns reaches it through
    * `SqlSurface.runWithCustomFns`); a repeated call replaces each
    * function with the same builder. `word_shingles(text, n)` takes a
    * foldable int `n`: the shingle width is a plan-time constant. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def fn(name: String)(build: Seq[Expression] => Expression): Unit =
      registry.createOrReplaceTempFunction(name, build, "built-in")
    fn("cosine_sim")(e => CosineSimilarity(e(0), e(1)))
    fn("zvalue")(e => ZValueExpr(e(0), e(1)))
    fn("hilbert")(e => HilbertExpr(e(0), e(1)))
    fn("word_shingles")(e => WordShingles(e(0),
      (if (e(1).foldable) e(1).eval() else null) match {
        case i: Int => i
        case l: Long => l.toInt
        case _ => throw new IllegalArgumentException(
          s"word_shingles width must be an int literal, got ${e(1).sql}")
      }))
    fn("bpe_tokens")(e => BpeTokensExpr(e(0)))
    fn("sorted_intersect_count")(e => SortedIntersectCount(e(0), e(1)))
  }
}
