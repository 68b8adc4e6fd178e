package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Graph.bfsHops` runs LINEAR rounds (steps = edges plus a zero-weight
  * self-loop per seed, `dist_i = min(steps ⋈ dist_{i-1})`) over a pinned pair
  * list. The doubling formulation it replaced,
  * `dist_i = min(dist_{i-1} ∪ edges ⋈ dist_{i-1})`, is kept here as the
  * reference; both must return the same rows on generated bipartite
  * pair sets. */
class BfsLinearSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def doubling(lineitem: DataFrame, partCap: Long, seedCap: Long,
      iters: Int, seedModulo: Long): DataFrame = {
    val e0 = lineitem.filter(col("l_partkey") <= partCap)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()
    val edges = e0.select((col("p") * 2).as("src"),
        (col("s") * 2 + 1).as("dst"))
      .unionAll(e0.select((col("s") * 2 + 1).as("src"),
        (col("p") * 2).as("dst")))
    val seedPred = if (seedModulo > 0) col("p") % seedModulo <= seedCap
      else col("p") <= seedCap
    var dist = e0.filter(seedPred)
      .select((col("p") * 2).as("nid"))
      .distinct()
      .select(col("nid"), lit(0L).as("d"))
    for (_ <- 1 to iters) {
      val prop = edges.join(dist, col("src") === col("nid"))
        .select(col("dst").as("nid"), (col("d") + lit(1L)).as("d"))
      dist = dist.unionAll(prop)
        .groupBy(col("nid"))
        .agg(min(col("d")).as("d"))
    }
    dist
      .select(concat(
          when(col("nid") % 2 === 0, lit("p")).otherwise(lit("s")),
          expr("nid div 2").cast("string")).as("node"),
        col("d"))
      .orderBy(col("d"), col("node"))
  }

  private def lineitem(pairs: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        pairs.map { case (p, s) => Row(p, s) }, 4),
      StructType(Seq(StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType))))

  /** Random sparse pairs (with duplicates), one hub part linked to every
    * supplier, and a part/supplier chain long enough that 4 rounds keep
    * discovering nodes. */
  private lazy val graphs: Seq[(String, DataFrame)] = {
    val rnd = new scala.util.Random(7)
    val sparse = Seq.fill(90)((1L + rnd.nextInt(40), 1L + rnd.nextInt(15)))
    val dups = sparse ++ sparse.take(30)
    val hub = (1L to 15L).map((1L, _)) ++
      Seq.fill(25)((2L + rnd.nextInt(38), 1L + rnd.nextInt(15)))
    val chain = (1L to 12L).flatMap(i => Seq((i, i), (i + 1, i))) ++
      Seq((30L, 20L), (31L, 20L))
    Seq("sparse+dups" -> lineitem(dups), "hub" -> lineitem(hub),
      "chain" -> lineitem(chain))
  }

  test("linear rounds equal the doubling rounds on generated pair sets") {
    for ((name, li) <- graphs; iters <- 0 to 4;
         (seedCap, seedModulo) <- Seq((3L, 0L), (1L, 10L))) {
      val want = doubling(li, 35, seedCap, iters, seedModulo).collect().toSeq
      assert(want.nonEmpty)
      // a checkpoint is only taken between rounds (i < iters)
      for (checkpointEvery <- if (iters >= 2) Seq(0, 1) else Seq(0)) {
        val got = operators.Graph.bfsHops(li, partCap = 35,
          seedCap = seedCap, iters = iters,
          checkpointEvery = checkpointEvery, seedModulo = seedModulo)
          .collect().toSeq
        assert(got == want, s"$name iters=$iters seedCap=$seedCap " +
          s"seedModulo=$seedModulo checkpointEvery=$checkpointEvery")
      }
    }
  }

  test("linear rounds equal the doubling rounds on the lineitem fixture") {
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
    assert(operators.Graph.bfsHops(li).collect().toSeq ==
      doubling(li, 2000, 3, 3, 0).collect().toSeq)
  }
}
