package graft

/** Local smoke runner: exercises the driver's t1 contract
  * (SparkEntry.entry rows > 0) and optionally one named query.
  * Usage: runMain graft.Smoke [queryName sfDir] */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder.getOrCreate()
    args match {
      case Array(name, sfDir) =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.show(20, truncate = false)
        println(s"SMOKE $name rows=${df.count()}")
      case Array(name, sfDir, "explain") =>
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      case Array(name, sfDir, "rtplan") =>
        // Post-execution adaptive plan (shows runtime exchange reuse).
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      case Array(name, sfDir, "time") =>
        // Warmup once (JIT/codegen/reader init), then three timed runs.
        spark.range(2000000).selectExpr("sum(id * 2)").collect()
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(name)(spark, sfDir).count()
          println(f"TIME $name run$i rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      case _ =>
        val df = SparkEntry.entry(spark)
        df.show(5, truncate = false)
        println(s"SMOKE entry rows=${df.count()}")
    }
    spark.stop()
  }
}
