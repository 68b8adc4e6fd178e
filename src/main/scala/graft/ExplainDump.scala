package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named catalog queries to files —
  * the before/after plan evidence for optimization rounds
  * (plans/r16/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.ExplainDump <outDir> <suffix> q_a,q_b,...
  * Writes <outDir>/<query>_<suffix>.txt for each named query. Plans are
  * the initially-planned physical plan (AQE final plans depend on
  * runtime stats; the initial plan is the stable shape to compare —
  * same convention as PLANSTATS.md). Not for every query: a build that
  * persists and counts a subplan embeds that subplan's EXECUTED AQE
  * plan. q_jaccard_prefix and q_jaccard_prefix_hi do so
  * (`Dedup.jaccardPrefixPairs`), and two dumps of the same commit differ
  * there in codegen and stage ids, for q_jaccard_prefix_hi also in join
  * strategy; compare them against two reference dumps, as
  * .claude/skills/verify/SKILL.md's plan-identity recipe says.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: runMain graft.ExplainDump <outDir> <suffix> q_a,q_b,...")
      sys.exit(2)
    }
    val Array(outDir, suffix, namesCsv) = args.take(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder.getOrCreate()
    Files.createDirectories(Paths.get(outDir))
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    var failed = 0
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[explain] unknown query: $name")
          failed += 1
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
            println(s"[explain] wrote $outDir/${name}_$suffix.txt")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[explain] $name failed: ${e.getMessage}")
            failed += 1
          }
      }
    }
    spark.stop()
    // an "evidence" run must not silently miss plan files
    if (failed > 0) sys.exit(1)
  }
}
