package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftshim.Shim

/** Counts the jobs/stages/tasks a catalog query actually EXECUTES —
  * the arbiter for subtree-reuse claims that wall-clock on a noisy box
  * cannot settle (initial AQE plans never show runtime stage reuse, so
  * plan dumps alone can't prove a duplicated subtree was folded).
  *
  * Run:  sbt "Test/runMain graft.StageCountProbe <query>[,<query>...] [sfDir]"
  * Prints one line per query:
  *   PROBE <query> jobs=J stages=S tasks=T input_rows=R compiles=C
  *     fresh_jobs=J' fresh_stages=S' fresh_tasks=T' fresh_compiles=F
  * J/S/T/R/C are the second, warm execution (the first run absorbs
  * session/JIT one-times); the primed fields are a third run in a new
  * `newSession()`. The listener bus is drained before each read, so the
  * counts are complete. `input_rows` sums the completed stages'
  * `inputMetrics.recordsRead` (rows read from files and cached or
  * checkpointed blocks). `compiles` counts the codegen compilations a
  * run paid (the count of Spark's `CodegenMetrics` compilation-time
  * histogram). The codegen cache is keyed by (context class loader,
  * code) and per-session artifact isolation gives every new or cloned
  * session (each streaming query's too) a fresh executor class loader,
  * so F > 0 = C on a warm session is Spark 4.1's per-session floor
  * (SCALING.md, "Codegen recompiles per session").
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
    @volatile var inputRows = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += sc.stageInfo.numTasks
        inputRows += sc.stageInfo.taskMetrics.inputMetrics.recordsRead
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    })
    // jobs/stages/tasks/input rows/compiles of one run
    def measure(run: => Unit): (Int, Int, Int, Long, Long) = {
      Shim.drainListenerBus(spark)
      stages = 0; tasks = 0; jobs = 0; inputRows = 0L
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run
      Shim.drainListenerBus(spark)
      (jobs, stages, tasks, inputRows,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    }
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm (JIT, parquet footer cache)
      val (j, s, t, r, c) = measure(fn(spark, sfDir).count())
      val (fj, fs, ft, _, fc) = measure(fn(spark.newSession(), sfDir).count())
      println(s"PROBE $name jobs=$j stages=$s tasks=$t input_rows=$r " +
        s"compiles=$c fresh_jobs=$fj fresh_stages=$fs fresh_tasks=$ft " +
        s"fresh_compiles=$fc")
    }
    spark.stop()
  }
}
