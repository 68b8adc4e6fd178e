package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftshim.Shim

/** Counts the jobs/stages/tasks a catalog query actually EXECUTES —
  * the arbiter for subtree-reuse claims that wall-clock on a noisy box
  * cannot settle (initial AQE plans never show runtime stage reuse, so
  * plan dumps alone can't prove a duplicated subtree was folded).
  *
  * Run:  sbt "Test/runMain graft.StageCountProbe <query>[,<query>...] [sfDir]"
  * Prints one line per query: PROBE <query> jobs=J stages=S tasks=T
  * (second, warm execution — the first run absorbs session/JIT
  * one-times). The listener bus is drained before each read, so the
  * counts are complete.
  */
object StageCountProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: <query>[,<query>...] [sfDir]")).split(",")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.builder.getOrCreate()
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += sc.stageInfo.numTasks
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    })
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm (JIT, parquet footer cache)
      Shim.drainListenerBus(spark)
      stages = 0; tasks = 0; jobs = 0
      fn(spark, sfDir).count()
      Shim.drainListenerBus(spark)
      println(s"PROBE $name jobs=$jobs stages=$stages tasks=$tasks")
    }
    spark.stop()
  }
}
