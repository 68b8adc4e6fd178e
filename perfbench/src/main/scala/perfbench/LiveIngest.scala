package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, floor, sum, timestamp_micros}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Writes Kafka-shaped message files (`{"key": ..., "value": <event
  * JSON>}` per line) for the live workload and keeps its own tally of the
  * valid events in each batch. Batch `g` holds events `g*rows until
  * (g+1)*rows`; its content depends only on the seed and `g`. About 2% of
  * the messages lack the `value` field and 0.5% are not JSON: the
  * consumer's validation must drop exactly those. */
final class MessageGenerator(inDir: Path, staging: Path, seed: Long, val rows: Int) {
  private val valid = new ConcurrentHashMap[Long, Int]()
  private val types = Array("click", "error", "purchase", "signup", "view")
  // 2024-01-01T00:00:00Z; event time advances 100 ms per event, so every
  // batch is later than the last and the 10-minute watermark drops nothing
  private val baseUs = 1704067200000000L

  def validRows(g: Long): Int = valid.get(g)
  def validTotal: Long = valid.values().stream().mapToLong(_.toLong).sum()

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Write batch `g` atomically (staged, then renamed into the watched
    * directory) and return the number of valid events in it. */
  def write(g: Long): Int = {
    val rnd = new Random(seed * 1000003L + g)
    val sb = new StringBuilder
    var ok = 0
    for (j <- 0 until rows) {
      val id = g * rows + j
      val user = rnd.nextInt(1500)
      val et = types(rnd.nextInt(types.length))
      val v = math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100) / 100.0
      val props = esc(s"""{"k": ${rnd.nextInt(100)}}""")
      val head = s""""event_id":$id,"ts_us":${baseUs + id * 100000L},"user_id":$user,"event_type":"$et""""
      val roll = rnd.nextDouble()
      val value =
        if (roll < 0.005) s"""{"event_id":$id,"ts_us":"""
        else if (roll < 0.025) s"""{$head,"props":"$props"}"""
        else { ok += 1; s"""{$head,"value":$v,"props":"$props"}""" }
      sb.append(s"""{"key":"$user","value":"${esc(value)}"}""").append('\n')
    }
    val name = f"batch-$g%06d.json"
    val tmp = staging.resolve(name)
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    valid.put(g, ok)
    Files.move(tmp, inDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ok
  }
}

/** The real-time path: a generator thread writes one message batch every
  * [[PeriodMs]] (an open loop: batch i is due at t0 + i * period whether
  * or not the engine keeps up). The engine consumes the files through
  * `Sources.kafkaDecode` → `StreamingPipeline.validated` → a dual-write
  * sink (one Parquet directory per micro-batch plus the latest-event
  * view, as `StreamingPipeline.startDualWrite` writes them, but under a
  * processing-time trigger), and in a second query through
  * `StreamingPipeline.windowedCounts` into a complete-mode memory table.
  * Both queries fire every [[TriggerMs]]: a micro-batch costs the engine
  * about a second whatever its size, so with as-fast-as-possible
  * triggers the batches ran back to back, each took whatever had arrived
  * during the last, and both the latency and the process CPU were set by
  * that chaotic batching rather than by the engine's cost.
  *
  * The calibration probe runs outside the window, on an idle engine:
  * before the queries start, after the warm-up batches are committed
  * (mid) and after the window's batches are. `cpu_s` runs from the first
  * due batch until both queries have processed every written batch.
  *
  * An op is one produced batch; its latency runs from when the batch was
  * due to when the sink committed the micro-batch holding it, so a stall
  * also delays the batches queued behind it. The sink only stamps each
  * micro-batch's commit time; which generator batch landed in which
  * micro-batch, and with how many rows, is read back from the sink's
  * `batch_id` directories after the window. The generator's own lateness
  * is reported beside the backlog at the end of the window. Every batch
  * is checked against the generator's tally, as are the sink's total and
  * the windowed counts' sum. */
object LiveIngest {
  val PeriodMs = 100L
  val TriggerMs = 2000L
  val RowsPerBatch = 800
  val WarmupBatches = 10
  val SetupRounds = 3
  val DrainTimeoutMs = 60000L

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Live-only per-layer metrics, reported as 0 by the query workloads. */
  def idleMetrics: Seq[(String, Double, String)] = Seq(
    ("live_ingest.generator_lag_s", 0.0, "s"), ("live_ingest.backlog_end", 0.0, "count"))

  private def decoded(spark: SparkSession, inDir: String): DataFrame =
    graft.sources.Sources.kafkaDecode(
      spark.readStream.schema("key STRING, value STRING").json(inDir), EventSchema)
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")

  /** Write batches `ids` on the open-loop schedule starting at `t0`, from
    * the calling thread; returns each batch's due and written times (ns). */
  private def produce(gen: MessageGenerator, ids: Seq[Long], t0: Long)
      : (IndexedSeq[Long], IndexedSeq[Long]) = {
    val due = ids.indices.map(i => t0 + i * PeriodMs * 1000000L)
    val written = ids.indices.map { i =>
      val wait = due(i) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      gen.write(ids(i))
      System.nanoTime()
    }
    (due, written)
  }

  def run(a: Main.Args): RunResult = {
    // the warm-up batches warm the streaming path
    val (spark, setupS, setupAll) = Setup.repeated(a, SetupRounds)(Setup.engineWarmup(_, a.data))
    val probe = new OpProbe
    if (a.trace) spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(a.trace)
    val root = Paths.get(a.work, s"live-seed${a.seed}-trace${if (a.trace) 1 else 0}")
    val inDir = Files.createDirectories(root.resolve("in"))
    val staging = Files.createDirectories(root.resolve("staging"))
    val sinkDir = root.resolve("sink").toString
    val gen = new MessageGenerator(inDir, staging, a.seed, RowsPerBatch)

    val loadBefore = Box.loadavg()
    val calBefore = Box.calibrate(spark)

    // micro-batch id -> commit time (ns)
    val commitNs = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val dual = graft.streaming.StreamingPipeline.validated(decoded(spark, inDir.toString))
      .writeStream
      .queryName("live_dual_write")
      .option("checkpointLocation", root.resolve("ck-dual").toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        batch.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
        batch.orderBy(col("ts").desc, col("event_id").desc).limit(1)
          .createOrReplaceGlobalTempView("latest_event")
        batch.unpersist()
        commitNs.put(batchId, System.nanoTime())
        ()
      }
      .start()
    val windowed = graft.streaming.StreamingPipeline.windowedCounts(decoded(spark, inDir.toString))
      .writeStream
      .queryName("live_windowed")
      .outputMode("complete")
      .format("memory")
      .option("checkpointLocation", root.resolve("ck-windowed").toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    val queries = Seq(dual, windowed)
    def catchUp(): Unit = queries.foreach(_.processAllAvailable())

    // Warm-up batches: same period, not timed, but checked like the rest.
    val warmIds = (0 until WarmupBatches).map(_.toLong)
    produce(gen, warmIds, System.nanoTime())
    catchUp()
    val warmLast = queries.map(q => q.name -> q.lastProgress.batchId).toMap
    val calMid = Box.calibrate(spark)

    val n = math.max(1, (a.seconds * 1000 / PeriodMs).toInt)
    val ids = (0 until n).map(i => WarmupBatches + i.toLong)
    val periodNs = PeriodMs * 1000000L
    probe.current = "live"
    val cpu0 = Box.cpuSeconds()
    val steal0 = Box.stealSeconds()
    val (due, written) = produce(gen, ids, System.nanoTime() + periodNs)
    val end = due.last + periodNs
    catchUp()
    val cpu = Box.cpuSeconds() - cpu0
    val steal = Box.stealSeconds() - steal0
    if (a.trace) probe.drain(spark, "live", DrainTimeoutMs).foreach(e =>
      throw new IllegalStateException(e))
    probe.current = null
    // the window's micro-batches that took input (idle progress reports
    // and no-data batches carry no events)
    val progress = queries.map(q => q.name -> q.recentProgress.toSeq
      .filter(p => p.batchId > warmLast(q.name) && p.numInputRows > 0).map(BatchProgress.of))
    val wsum = Option(spark.table("live_windowed").agg(sum(col("n"))).collect()(0).get(0))
      .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    queries.foreach(_.stop())
    val calAfter = Box.calibrate(spark)
    val loadAfter = Box.loadavg()

    // which micro-batch took each generator batch, and its rows there
    val landed = spark.read.parquet(sinkDir)
      .groupBy(floor(col("event_id") / RowsPerBatch).as("g"), col("batch_id"))
      .count().collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getLong(2))).toSeq
      .groupBy(_._1)
    val allIds = warmIds ++ ids
    val expectedTotal = gen.validTotal
    val failures = Seq.newBuilder[String]
    allIds.foreach { g =>
      landed.get(g) match {
        case None => failures += s"batch $g: not in the sink"
        case Some(Seq((_, _, r))) if r != gen.validRows(g) =>
          failures += s"batch $g: sink wrote $r rows, generator tally ${gen.validRows(g)}"
        case Some(Seq(_)) =>
        case Some(parts) => failures += s"batch $g: split across micro-batches ${parts.map(_._2).mkString(",")}"
      }
    }
    val sinkRows = landed.values.flatten.map(_._3).sum
    if (sinkRows != expectedTotal)
      failures += s"sink holds $sinkRows rows, generator tally $expectedTotal"
    if (wsum != expectedTotal)
      failures += s"windowed counts sum to $wsum, generator tally $expectedTotal"
    val failed = failures.result()

    def committedAt(g: Long): Option[Long] =
      landed.get(g).flatMap(_.headOption).flatMap(p => commitNs.get(p._2))
    val commits = ids.map(committedAt)
    val lat = ids.indices.flatMap(i => commits(i).map(c => (c - due(i)) / 1e9))
    val backlog = ids.indices.count(i => written(i) <= end && commits(i).forall(_ > end))
    val lags = ids.indices.map(i => (written(i) - due(i)) / 1e9)
    val batchMedians = progress.map { case (q, ps) =>
      q -> (if (ps.isEmpty) 0.0 else Box.median(ps.map(_.triggerMs / 1e3)))
    }
    val rss = Box.peakRssMb()

    if (a.trace) {
      ids.indices.foreach { i =>
        val op = s"batch-${ids(i)}"
        tracer.add(op, "produce", "", due(i) - tracer.origin, written(i) - tracer.origin)
        commits(i).foreach(c => tracer.add(op, "deliver", "produce", written(i) - tracer.origin, c - tracer.origin))
      }
      // progress carries wall-clock trigger starts
      val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
      progress.foreach { case (q, ps) => ps.foreach { p =>
        val start = p.startMs * 1000000L + wallToNano - tracer.origin
        tracer.add(s"$q:${p.batchId}", "micro_batch", "", start, start + p.triggerMs * 1000000L)
      } }
    }
    tracer.write(s"${a.work}/trace-live_ingest-seed${a.seed}.json")

    val metrics =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", Box.median(lat), "s"),
        ("op_p90_s", Box.quantile(lat, 0.9), "s"),
        ("cpu_s", cpu, "s"),
        ("peak_rss_mb", rss, "MB"))
      else LayerMetrics.grid(Seq(
        LayerMetrics.OpSample("streaming", 0, 0, 0, probe.counts("live")))) ++ Seq(
        ("tables.load_s", LayerMetrics.tablesLoadSeconds(spark, a.data), "s")) ++
        LayerMetrics.streaming(progress.flatMap(_._2)) ++ Seq(
        ("live_ingest.generator_lag_s", lags.max, "s"),
        ("live_ingest.backlog_end", backlog.toDouble, "count"))
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "cpus" -> Main.cpus,
      "rate_events_per_s" -> RowsPerBatch * 1000.0 / PeriodMs,
      "period_ms" -> PeriodMs, "rows_per_batch" -> RowsPerBatch,
      "ops" -> n, "committed" -> lat.size,
      "micro_batches" -> progress.map { case (q, ps) => q -> ps.size }.toMap,
      "micro_batch_median_s" -> batchMedians.toMap, "wall_s" -> Box.median(lat),
      "micro_batch_s" -> progress.map { case (q, ps) => q -> ps.map(_.triggerMs / 1e3) }.toMap,
      "samples_beyond_p90" -> (lat.size - math.ceil(0.9 * lat.size).toInt),
      // a rate the engine sustains keeps these flat; a growing backlog
      // shows as later quarters running later
      "latency_p50_by_quarter_s" -> lat.grouped(math.max(1, (lat.size + 3) / 4))
        .map(q => Box.median(q)).toSeq,
      "backlog_end" -> backlog, "generator_lag_max_s" -> lags.max,
      "generator_lag_p50_s" -> Box.median(lags),
      "valid_events" -> expectedTotal, "sink_rows" -> sinkRows, "windowed_sum" -> wsum,
      "setup_rounds_s" -> setupAll,
      "error_rate" -> failed.size.toDouble / allIds.size,
      "failures" -> failed,
      "calibration_s" -> Map("before" -> calBefore, "mid" -> calMid, "after" -> calAfter),
      "loadavg" -> Map("before" -> loadBefore, "after" -> loadAfter),
      "cpu_s" -> cpu, "steal_s" -> steal)
    RunResult(failed.isEmpty, allIds.size, math.min(failed.size, allIds.size), metrics, record)
  }
}
