package graft

/** Scratch profiler for bpeTrain round timing (not a test; run via
  * `sbt "Test/runMain graft.ProfileBpe"`). */
object ProfileBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder.getOrCreate()
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROFILE $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    val docs = Tables.load(spark, sfDir, "documents")
    time("bpeTrain total") {
      time("cold run") { graft.text.TextAnalysis.bpeTrain(docs).collect() }
      time("warm run") { graft.text.TextAnalysis.bpeTrain(docs).collect() }
    }

    // Production-magnitude trainer probe: the fixture saturates around
    // 64 learned merges (cross-symbol saturation bound, SURVEY §10), so
    // build a 64× disjoint-vocab corpus — per-copy all-letter suffixes
    // (digits would fall out of the ^[a-z]+$ token filter) — and train
    // at real-tokenizer merge counts. The vocab prune (2^18) BITES at
    // this vocabulary (~64× base), which is exactly the production
    // path: rounds run over the capped vocab, never the corpus.
    import org.apache.spark.sql.functions._
    val big = (0 until 64).map { c =>
      val sfx = s"x${('a' + c / 26).toChar}${('a' + c % 26).toChar}"
      docs.withColumn("doc_id", col("doc_id") + lit(c * 10000000L))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(sfx))), " "))
    }.reduce(_ unionAll _).persist()
    big.count()
    var prev = 0.0
    var prevK = 0
    for (k <- Seq(64, 256, 512)) {
      val t0 = System.nanoTime()
      val m = graft.text.TextAnalysis.bpeTrain(big, k = k).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      val marginal =
        if (prevK > 0) f"${(dt - prev) / (k - prevK) * 1000}%.1f ms/round"
        else "n/a"
      println(f"PROFILE bpeTrain64x k=$k learned=${m.length} " +
        f"sec=$dt%.2f marginal=$marginal")
      prev = dt; prevK = k
    }
    big.unpersist()
    spark.stop()
  }
}
