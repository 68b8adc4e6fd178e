package graft

/** Scratch profiler: cold/warm timing for named queries in one warmed
  * session (`sbt "Test/runMain graft.ProfileQ q_a q_b"`). */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder.getOrCreate()
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"PROFILE $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    args.foreach { q =>
      time(s"$q cold") { SparkEntry.queries(q)(spark, sfDir).count() }
      time(s"$q warm") { SparkEntry.queries(q)(spark, sfDir).count() }
    }
    spark.stop()
  }
}
