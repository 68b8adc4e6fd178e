package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Scratch memory profiler for the graph invariant gate (r13): runs
  * GraphInvariants.check against an already-built scaled lineitem with
  * a stage-metrics listener, so the OOM hunt reads facts (per-stage
  * shuffle/spill/peak-memory and the name of the stage that dies)
  * instead of guessing.
  *
  *   sbt "Test/runMain graft.ProfileGraphMem \
  *     /tmp/gate_graph256/tables 1024 16m 32"
  * args: tablesDir [shuffleParts] [advisory] [cores]
  */
object ProfileGraphMem {
  def main(args: Array[String]): Unit = {
    val tablesDir = args(0)
    val parts = if (args.length > 1) args(1) else "1024"
    val advisory = if (args.length > 2) args(2) else "16m"
    val cores = if (args.length > 3) args(3) else "32"
    val spark = Session.builder
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
      .getOrCreate()
    val peak = new mutable.HashMap[Int, Long]
    val spillD = new mutable.HashMap[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        println(s"SUBMIT ${s.stageInfo.stageId} tasks=" +
          s"${s.stageInfo.numTasks} ${s.stageInfo.name.take(80)}")
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) synchronized {
          val sid = t.stageId
          peak(sid) = math.max(peak.getOrElse(sid, 0L),
            t.taskMetrics.peakExecutionMemory)
          spillD(sid) = spillD.getOrElse(sid, 0L) +
            t.taskMetrics.diskBytesSpilled
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          val i = s.stageInfo
          val sid = i.stageId
          println(f"STAGE $sid%3d tasks=${i.numTasks}%5d " +
            f"shR=${i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB " +
            f"shW=${i.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB " +
            f"spillDisk=${spillD.getOrElse(sid, 0L) / 1e6}%9.1fMB " +
            f"peakTaskMem=${peak.getOrElse(sid, 0L) / 1e6}%7.1fMB  " +
            i.name.take(60))
        }
    })
    val li = Tables.load(spark, tablesDir, "lineitem")
    val t0 = System.nanoTime()
    val results = GraphInvariants.check(li,
      partCap = Long.MaxValue, seedCap = 3,
      seedModulo = ScaledFixtures.idShift, iters = 3)
    results.foreach { case (n, v) => println(s"INVARIANT $n=$v") }
    println(f"PROFILE graph sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    spark.stop()
  }
}
