package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Scratch memory profiler for the CC pair join at scale (r13): runs
  * jaccardPairs (and optionally the full cluster fixpoint) against an
  * ALREADY-BUILT scaled documents table, with a stage-metrics listener
  * printing per-stage task counts, shuffle volumes, spill bytes and
  * peak execution memory — the facts the default-heap OOM hunt needs.
  *
  *   SPARK_DRIVER_MEM=4g sbt "Test/runMain graft.ProfileCcMem \
  *     /tmp/gate_cc256_2g/tables/documents.parquet pairs 1024 16m 32"
  * args: docsPath [pairs|clusters] [shuffleParts] [advisory] [cores]
  */
object ProfileCcMem {
  def main(args: Array[String]): Unit = {
    val docsPath = args(0)
    val mode = if (args.length > 1) args(1) else "pairs"
    val parts = if (args.length > 2) args(2) else "1024"
    val advisory = if (args.length > 3) args(3) else "16m"
    val cores = if (args.length > 4) args(4) else "32"
    val spark = Session.builder
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
      .getOrCreate()
    val peak = new mutable.HashMap[Int, Long]
    val spillM = new mutable.HashMap[Int, Long]
    val spillD = new mutable.HashMap[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) synchronized {
          val sid = t.stageId
          peak(sid) = math.max(peak.getOrElse(sid, 0L),
            t.taskMetrics.peakExecutionMemory)
          spillM(sid) = spillM.getOrElse(sid, 0L) +
            t.taskMetrics.memoryBytesSpilled
          spillD(sid) = spillD.getOrElse(sid, 0L) +
            t.taskMetrics.diskBytesSpilled
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          val i = s.stageInfo
          val sid = i.stageId
          println(f"STAGE $sid%3d tasks=${i.numTasks}%5d " +
            f"in=${i.taskMetrics.inputMetrics.bytesRead / 1e6}%9.1fMB " +
            f"shR=${i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB " +
            f"shW=${i.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB " +
            f"spillMem=${spillM.getOrElse(sid, 0L) / 1e6}%9.1fMB " +
            f"spillDisk=${spillD.getOrElse(sid, 0L) / 1e6}%9.1fMB " +
            f"peakTaskMem=${peak.getOrElse(sid, 0L) / 1e6}%7.1fMB  " +
            i.name)
        }
    })
    val docs = spark.read.parquet(docsPath)
    val t0 = System.nanoTime()
    val n = mode match {
      case "clusters" =>
        operators.Pipeline.dedupClusters(docs).count()
      case _ =>
        graft.dedup.Dedup.jaccardPairs(docs)
          .select(col("doc_a"), col("doc_b")).count()
    }
    println(f"PROFILE $mode rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    spark.stop()
  }
}
