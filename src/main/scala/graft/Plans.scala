package graft

import java.nio.file.{Files, Paths}

/** Generates PLANS.md: the formatted physical plan of every query whose
  * SparkEntry.registry entry carries a note, annotated with that note
  * (the scale property the plan demonstrates). Regenerate with:
  * sbt "runMain graft.Plans <sf0.01 fixture dir> PLANS.md" */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Session.builder.getOrCreate()
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence (generated by graft.Plans)\n\n")
    sb.append(s"Source: `$sfDir`. Each plan is the `AdaptiveSparkPlan` as\n")
    sb.append("initially planned; AQE may re-optimize stages at runtime.\n")
    for (q <- SparkEntry.registry; why <- q.note) {
      val df = q.build(spark, sfDir)
      sb.append(s"\n## ${q.name}\n\n*$why*\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(4000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
