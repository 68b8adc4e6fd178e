package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Execution counts of one op. */
final class OpCounts {
  var jobsStarted = 0
  var jobsEnded = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** SparkListener that sums, per op: jobs, stages, tasks, executor run
  * time, shuffle bytes written and bytes spilled to disk. A job belongs to
  * the op that is [[current]] when its start event is delivered, so jobs
  * that run on other threads (broadcasts, streaming micro-batches) count
  * for the op that caused them.
  *
  * Drain: the listener bus delivers events asynchronously but in posting
  * order. After an op's action returns, [[drain]] runs a one-task fence
  * job in a group of its own and waits for the fence's job end: every
  * event the op posted earlier has been delivered by then. It then waits
  * for the op's started and ended job counts to match. Both waits are
  * bounded; a timeout fails the op by name.
  *
  * Jobs in a group named with the [[OpProbe.Own]] prefix (the fences and
  * the calibration probe) are the benchmark's own and count for no op. */
object OpProbe {
  val Own = "perfbench-"
}

final class OpProbe extends SparkListener {
  @volatile var current: String = null
  private val ops = new ConcurrentHashMap[String, OpCounts]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val fenceByName = new ConcurrentHashMap[String, CountDownLatch]()
  private val fenceByJob = new ConcurrentHashMap[Int, CountDownLatch]()

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  def counts(op: String): OpCounts = ops.computeIfAbsent(op, _ => new OpCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    group(e.properties).flatMap(g => Option(fenceByName.get(g))) match {
      case Some(latch) => fenceByJob.put(e.jobId, latch)
      case None if group(e.properties).exists(_.startsWith(OpProbe.Own)) =>
      case None =>
        val op = current
        if (op != null) {
          jobOp.put(e.jobId, op)
          e.stageIds.foreach(s => stageOp.put(s, op))
          val c = counts(op)
          c.synchronized(c.jobsStarted += 1)
        }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobOp.remove(e.jobId)).foreach { g =>
      val c = counts(g)
      c.synchronized { c.jobsEnded += 1; c.notifyAll() }
    }
    Option(fenceByJob.remove(e.jobId)).foreach(_.countDown())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { g =>
      val c = counts(g)
      c.synchronized { c.stages += 1; c.tasks += e.stageInfo.numTasks }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      if (m != null) {
        val c = counts(g)
        c.synchronized {
          c.taskRunMs += m.executorRunTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }

  /** Wait until every job of `op` has been delivered and has ended.
    * Returns an error message on timeout. */
  def drain(spark: SparkSession, op: String, timeoutMs: Long): Option[String] = {
    val sc = spark.sparkContext
    val fence = s"${OpProbe.Own}fence-$op"
    val latch = new CountDownLatch(1)
    fenceByName.put(fence, latch)
    try {
      sc.setJobGroup(fence, fence)
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    if (!latch.await(timeoutMs, TimeUnit.MILLISECONDS)) {
      fenceByName.remove(fence)
      return Some(s"$op: listener fence not delivered within ${timeoutMs}ms")
    }
    fenceByName.remove(fence)
    val c = counts(op)
    c.synchronized {
      while (c.jobsEnded < c.jobsStarted && System.currentTimeMillis() < deadline)
        c.wait(math.max(1L, deadline - System.currentTimeMillis()))
      if (c.jobsEnded < c.jobsStarted)
        Some(s"$op: ${c.jobsStarted - c.jobsEnded} of ${c.jobsStarted} jobs " +
          s"still running after ${timeoutMs}ms")
      else None
    }
  }
}

/** One streaming micro-batch's progress, reduced to what the benchmark
  * reports. `startMs` is the trigger's wall-clock start. */
final case class BatchProgress(query: String, batchId: Long, startMs: Long, triggerMs: Long,
    addBatchMs: Long, planningMs: Long, walCommitMs: Long, stateRows: Long,
    inputRows: Long)

object BatchProgress {
  def of(p: StreamingQueryProgress): BatchProgress = {
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    BatchProgress(Option(p.name).getOrElse(p.id.toString), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, d("triggerExecution"),
      d("addBatch"), d("queryPlanning"), d("walCommit"),
      p.stateOperators.map(_.numRowsTotal).sum, p.numInputRows)
  }
}

/** Collects every StreamingQueryProgress of the session. */
final class StreamProbe extends StreamingQueryListener {
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(BatchProgress.of(e.progress))

  def all: Seq[BatchProgress] = {
    import scala.jdk.CollectionConverters._
    progress.asScala.toSeq
  }
}
