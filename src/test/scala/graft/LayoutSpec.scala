package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout (functions/LayoutExpressions.scala): bit-level
  * correctness, codegen plan shape, and the actual layout property —
  * range-partitioning by z-value bounds every partition in BOTH
  * dimensions, where a single-column sort leaves the other dimension
  * unbounded. */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("interleave places x in even bits, y in odd bits") {
    import graft.functions.ZValue.interleave
    assert(interleave(0L, 0L) == 0L)
    assert(interleave(1L, 0L) == 1L) // x bit0 -> z bit0
    assert(interleave(0L, 1L) == 2L) // y bit0 -> z bit1
    assert(interleave(3L, 0L) == 5L) // 0b11 -> 0b101
    assert(interleave(0L, 3L) == 10L) // 0b11 -> 0b1010
    assert(interleave(0x7FFFFFFFL, 0x7FFFFFFFL) == 0x3FFFFFFFFFFFFFFFL)
    // inputs are masked to 31 bits
    assert(interleave(1L << 31, 0L) == 0L)
    // z-order preserves locality: nearby points -> nearby codes
    assert(math.abs(interleave(10L, 10L) - interleave(11L, 10L)) <= 3)
  }

  test("expression matches the Scala function and stays in codegen") {
    import graft.functions.ZValue
    val df = Tables.load(spark, sf, "orders")
      .select(col("o_custkey"),
        expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("day"))
      .limit(200)
      .select(col("o_custkey"), col("day"),
        ZValue.zvalue(col("o_custkey"), col("day")).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == ZValue.interleave(r.getLong(0), r.getLong(1)))
    }
    // `*(n)` prefixes mark WholeStageCodegen spans in executedPlan strings.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(600))
  }

  test("z-layout bounds both dimensions; single-dim sort does not") {
    import graft.functions.ZValue
    // Range-normalize both dims to 0..1023 (what any z-order writer does —
    // raw unbalanced bit widths degenerate to a single-dim sort), then
    // compare FILE-PRUNING power: for a point predicate on one dimension,
    // how many partitions' [min,max] must be read?
    val raw = Tables.load(spark, sf, "orders")
      .select(col("o_custkey").as("x"),
        expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("y"))
    val b = raw.agg(min("x"), max("x"), min("y"), max("y")).collect()(0)
    val (x0, x1, y0, y1) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val base = raw.select(
      ((col("x") - x0) * 1023L / (x1 - x0)).cast("long").as("x"),
      ((col("y") - y0) * 1023L / (y1 - y0)).cast("long").as("y"))
    // partitions whose [min,max] on `dim` contains the domain midpoint —
    // the partitions a `dim = 512` predicate cannot prune
    def overlap(df: org.apache.spark.sql.DataFrame, dim: String): Long =
      df.withColumn("pid", spark_partition_id())
        .groupBy(col("pid"))
        .agg(min(col(dim)).as("lo"), max(col(dim)).as("hi"))
        .filter(col("lo") <= 512L && col("hi") >= 512L)
        .count()
    val zLayout = base
      .withColumn("z", ZValue.zvalue(col("x"), col("y")))
      .repartitionByRange(8, col("z"))
    val xLayout = base.repartitionByRange(8, col("x"))
    // single-dim sort: every partition spans the full y range -> a y
    // predicate reads ALL partitions
    assert(overlap(xLayout, "y") == 8L)
    // z-layout: BOTH dims are bounded per partition -> both predicates
    // prune to a strict subset
    val zx = overlap(zLayout, "x"); val zy = overlap(zLayout, "y")
    assert(zx < 8L && zy < 8L, s"zx=$zx zy=$zy")
  }

  test("z-ordered WRITE bounds both dims in every parquet file's stats") {
    import graft.functions.ZValue
    val dir = java.nio.file.Files.createTempDirectory("zorder_write")
      .toString + "/orders_z"
    val raw = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("x"),
        expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("y"))
    val b = raw.agg(min("x"), max("x"), min("y"), max("y")).collect()(0)
    val (x0, x1, y0, y1) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    raw
      .select(col("o_orderkey"), col("x"), col("y"),
        ZValue.zvalue(((col("x") - x0) * 1023L / (x1 - x0)).cast("long"),
          ((col("y") - y0) * 1023L / (y1 - y0)).cast("long")).as("z"))
      .repartitionByRange(8, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(dir)
    // per-FILE bounding boxes, the granularity parquet min/max pruning
    // actually works at. Quantile cuts can straddle a z-cell boundary,
    // so individual files may exceed the ideal half/quarter spans — the
    // claim is every file stays WELL bounded in BOTH dims (measured
    // worst case 0.62 on this fixture), where a single-dim sort leaves
    // the other dim spanning ~the full domain in every file.
    def spans(d: String): Seq[(Double, Double)] =
      spark.read.parquet(d)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("x")).as("xlo"), max(col("x")).as("xhi"),
          min(col("y")).as("ylo"), max(col("y")).as("yhi"))
        .collect().toSeq
        .map(r => ((r.getLong(2) - r.getLong(1)).toDouble / (x1 - x0),
          (r.getLong(4) - r.getLong(3)).toDouble / (y1 - y0)))
    // RangePartitioner samples with a random seed, so cut points (and
    // which files straddle a z-cell boundary) vary run to run — assert
    // on MEDIANS, robust to the 1-2 straddle outliers.
    def median(v: Seq[Double]): Double = v.sorted.apply(v.length / 2)
    val zSpans = spans(dir)
    assert(zSpans.length >= 8)
    val zxMed = median(zSpans.map(_._1)); val zyMed = median(zSpans.map(_._2))
    assert(zxMed <= 0.75 && zyMed <= 0.75,
      s"median file span x=$zxMed y=$zyMed — not clustered: $zSpans")
    // contrast: x-sorted write -> files span ~the whole y domain
    val xDir = dir + "_bycust"
    raw.repartitionByRange(8, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(xDir)
    val xSorted = spans(xDir)
    assert(median(xSorted.map(_._2)) >= 0.9,
      s"expected y-unbounded files in the single-dim layout: $xSorted")
  }

  test("hilbert walks the origin block: bijective, every step adjacent") {
    // The curve starts at (0,0) and fills the aligned 64x64 origin block
    // before leaving it, so its 4096 cells must map bijectively onto
    // d = 0..4095, and consecutive d must be grid neighbors — the
    // defining locality property (Morton violates it at every quadrant
    // jump).
    val cells = for (x <- 0 until 64; y <- 0 until 64)
      yield (x, y, graft.functions.HilbertValue.xy2d(x.toLong, y.toLong))
    val ds = cells.map(_._3)
    assert(ds.min == 0L && ds.max == 4095L && ds.distinct.size == 4096)
    val byD = cells.sortBy(_._3)
    byD.sliding(2).foreach { case Seq((x1, y1, d1), (x2, y2, d2)) =>
      assert(d2 == d1 + 1)
      assert(math.abs(x2 - x1) + math.abs(y2 - y1) == 1,
        s"jump between d=$d1 ($x1,$y1) and d=$d2 ($x2,$y2)")
    }
  }

  test("boxRanges covers a 2-D box exactly (uncapped) and as a superset " +
      "when coarsened") {
    import graft.functions.HilbertValue.{boxRanges, xy2d}
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val xlo = rnd.nextInt(200).toLong; val xhi = xlo + rnd.nextInt(40)
      val ylo = rnd.nextInt(200).toLong; val yhi = ylo + rnd.nextInt(40)
      val ranges = boxRanges(xlo, xhi, ylo, yhi, maxRanges = Int.MaxValue)
      // disjoint, sorted, non-touching (fully merged)
      ranges.sliding(2).foreach {
        case Seq((_, h1), (l2, _)) => assert(l2 > h1 + 1)
        case _ =>
      }
      def inRanges(d: Long) = ranges.exists { case (l, h) => l <= d && d <= h }
      // exact cover: every box cell's d is in some range...
      for (x <- xlo to xhi; y <- ylo to yhi)
        assert(inRanges(xy2d(x, y)), s"missing cell ($x,$y)")
      // ...and total range length == box area (no cell outside the box)
      val area = (xhi - xlo + 1) * (yhi - ylo + 1)
      assert(ranges.map { case (l, h) => h - l + 1 }.sum == area)
      // coarsened: few ranges, still a superset of the box cells
      val capped = boxRanges(xlo, xhi, ylo, yhi, maxRanges = 4)
      assert(capped.size <= 4)
      def inCapped(d: Long) = capped.exists { case (l, h) => l <= d && d <= h }
      for (x <- xlo to xhi; y <- ylo to yhi) assert(inCapped(xy2d(x, y)))
    }
  }

  test("InLongRanges binary search hits exactly the range cells") {
    import graft.functions.InLongRanges.contains
    val los = Array(0L, 10L, 100L)
    val his = Array(3L, 10L, 199L)
    val in = Set(0L, 1L, 3L, 10L, 100L, 150L, 199L)
    val out = Set(-5L, 4L, 9L, 11L, 99L, 200L, Long.MaxValue)
    in.foreach(v => assert(contains(v, los, his), s"$v should be in"))
    out.foreach(v => assert(!contains(v, los, his), s"$v should be out"))
  }

  test("q_hilbert_range equals the plain box filter (residual exactness)") {
    val viaCurve = SparkEntry.queries("q_hilbert_range")(spark, sf)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
    val plain = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("day"))
      .filter(col("o_custkey").between(40L, 90L) &&
        col("day").between(9500L, 10000L))
      .orderBy(col("o_orderkey"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaCurve == plain)
    assert(plain.nonEmpty, "degenerate test: empty box")
  }

  test("hilbert expression matches the Scala walk and registers in SQL") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val df = Seq((3L, 5L), (123L, 456L), (65535L, 65535L), (0L, 0L))
      .toDF("x", "y")
    df.createOrReplaceTempView("hpts")
    val viaSql = spark.sql(
      "SELECT x, y, hilbert(x, y) AS h FROM hpts ORDER BY x").collect()
    viaSql.foreach { r =>
      assert(r.getLong(2) ==
        graft.functions.HilbertValue.xy2d(r.getLong(0), r.getLong(1)))
    }
    // stays in whole-stage codegen (no interpreted fallback) — use the
    // parquet-backed table; a local Seq folds to LocalTableScan
    val plan = Tables.load(spark, sf, "orders")
      .select(graft.functions.HilbertValue.hilbert(
        col("o_orderkey"), col("o_custkey")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(600))
  }
}
