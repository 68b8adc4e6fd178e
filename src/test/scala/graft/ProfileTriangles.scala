package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch A/B (r9 verdict item 6): the triangles operator's persist
  * strategy. Variant A is the shipped form (persist `edges` AND
  * `oriented`); variant B persists ONLY `edges` and lets the three
  * `oriented` references re-derive lazily from the cached edge list
  * (deg is a tiny aggregate over cached rows, so re-expansion is
  * cheap); variant C persists ONLY `oriented` (deg/edgeStats re-expand
  * the lineitem scan — expected worse, included for completeness).
  *
  * sbt "Test/runMain graft.ProfileTriangles"
  */
object ProfileTriangles {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder.getOrCreate()
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    val lineitem = Tables.load(spark, sfDir, "lineitem")

    def variant(li: DataFrame, persistEdges: Boolean,
        persistOriented: Boolean): Array[org.apache.spark.sql.Row] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p")).orderBy(col("s"))
      val ps = li.filter(col("l_partkey") <= 2000)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
        .distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .drop("rn")
      val edges0 = ps.as("x").join(ps.as("y"),
          col("x.p") === col("y.p") && col("x.s") < col("y.s"))
        .select(col("x.s").as("u"), col("y.s").as("v"))
        .distinct()
      val edges = if (persistEdges) edges0.persist() else edges0
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val uLower = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val oriented0 = edges
        .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
        .select(
          when(uLower, col("u")).otherwise(col("v")).as("lo"),
          when(uLower, col("v")).otherwise(col("u")).as("hi"),
          when(uLower, col("dv")).otherwise(col("du")).as("dhi"))
      val oriented = if (persistOriented) oriented0.persist() else oriented0
      val e1 = oriented.select(col("lo").as("l1"), col("hi").as("h1"),
        col("dhi").as("dh1"))
      val e2 = oriented.select(col("lo").as("l2"), col("hi").as("h2"),
        col("dhi").as("dh2"))
      val wedges = e1.join(e2, col("l1") === col("l2") &&
        (col("dh1") < col("dh2") ||
          (col("dh1") === col("dh2") && col("h1") < col("h2"))))
      val tri = wedges
        .join(oriented.select(col("lo").as("cl"), col("hi").as("ch")),
          col("h1") === col("cl") && col("h2") === col("ch"))
        .agg(count(lit(1)).as("n_triangles"))
      val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
      val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      val out = nodeStats.crossJoin(edgeStats).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          (lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double")).as("clustering"))
      val row = out.collect()
      if (persistEdges) edges.unpersist()
      if (persistOriented) oriented.unpersist()
      row
    }

    val configs = Seq(
      ("A_both", true, true), ("B_edges_only", true, false),
      ("C_oriented_only", false, true))
    // one untimed warmup of each plan shape first
    configs.foreach { case (_, pe, po) => variant(lineitem, pe, po) }
    for (rep <- 1 to 3; (name, pe, po) <- configs) {
      val t0 = System.nanoTime()
      val row = variant(lineitem, pe, po)
      println(f"PROFILE op=triangles_$name rep=$rep " +
        f"result=${row.head.mkString(",")} " +
        f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }
}
