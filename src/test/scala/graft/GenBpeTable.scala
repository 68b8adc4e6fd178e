package graft

/** One-off generator for the embedded BPE merge table
  * (functions/BpeExpressions.scala): runs [[graft.text.TextAnalysis.bpeTrain]]
  * over the largest fixture corpus and prints the learned table as a
  * Scala literal. DEFAULT k = 64, matching the SHIPPED table and its
  * `require(merges.size == 64)` — a plain
  * `sbt "Test/runMain graft.GenBpeTable"` reproduces exactly what is
  * embedded. Override with SPARK_GRAFT_BPE_K to explore larger budgets
  * (the fixture vocabulary saturates at 89 cross-symbol merges). */
object GenBpeTable {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_BPE_K", "64").toInt
    val spark = Session.builder.getOrCreate()
    val docs = Tables.load(spark, sfDir, "documents")
    val t0 = System.nanoTime()
    val merges = graft.text.TextAnalysis.bpeTrain(docs, k = k).collect()
    println(f"GEN trained ${merges.length} merges in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val items = merges.map(r => s""""${r.getString(1)}" -> "${r.getString(2)}"""")
    println("GEN-BEGIN")
    println(items.grouped(4).map(g => "    " + g.mkString(", ")).mkString(",\n"))
    println("GEN-END")
    spark.stop()
  }
}
