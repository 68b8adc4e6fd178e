package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming re-expression of the reference's dual pipeline
  * (SURVEY.md §2.8, §3.2; reference: app.py:226-272 consume → dual-write,
  * producer.py:169-210 rate-controlled produce).
  *
  * The reference's Kafka micro-batch consume (poll ≤10 records / 500 ms,
  * app.py:245) maps to a bounded-per-trigger source; its Mongo dual-write
  * (app.py:254) maps to `foreachBatch` append; its lost-on-restart offset
  * handling (app.py:153-155, `latest` + autocommit) is strictly upgraded
  * by checkpointing. Watermarked windowed aggregation is the in-scope
  * extension (SURVEY.md §2.8/T4).
  *
  * Scale notes: stateful aggregation state is keyed by (window, key) and
  * bounded by the watermark (late data past 10 min is dropped, so state
  * doesn't grow unboundedly); `maxFilesPerTrigger` bounds per-batch input
  * like the reference's `max_records`.
  */
object StreamingPipeline {

  /** File-stream source over events-shaped parquet, bounded per trigger
    * (the reference's `max_records=10`-style cap, app.py:245). */
  def eventsStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val schema = graft.Tables.raw(spark, sfDir, "events").schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // glob (not bare file path): FileStreamSource requires basePath to be
      // a directory, and with a glob it resolves to the parent dir.
      .parquet(s"$sfDir/{events}.parquet")
    // same vintage-branched ts normalization as Tables.load (long nanos →
    // truncate; TIMESTAMP_NTZ → session-UTC instant)
    graft.Tables.normalizeTs(stream)
  }

  /** The reference's consume-side validation (app.py:251-252 required
    * keys; app.py:256-261 parse-or-skip): null-out malformed, drop. */
  def validated(stream: DataFrame): DataFrame =
    stream.filter(
      col("ts").isNotNull && col("user_id").isNotNull &&
        col("value").isNotNull && col("event_type").isNotNull)

  /** Watermarked tumbling-window aggregation (1 hour windows, 10 min
    * late-data tolerance): the idiomatic upgrade of the dashboard's
    * poll-and-recompute metrics (app.py:373-390). */
  def windowedCounts(stream: DataFrame): DataFrame =
    validated(stream)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))

  /** Session-window variant (30 min gap), the streaming form of
    * EventsPipeline.sessionize. */
  def sessionCounts(stream: DataFrame): DataFrame =
    validated(stream)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Dual-write sink (app.py:254: insert to Mongo BEFORE display; here:
    * parquet historical store + an in-memory latest-record view).
    *
    * Exactly-once: `foreachBatch` alone is only at-least-once (a crash
    * after the write but before the checkpoint commit replays the batch),
    * so each micro-batch writes to its own DETERMINISTIC directory
    * `batch_id=<id>` with overwrite — a replayed batch clobbers its own
    * partial output instead of appending duplicates. Readers scan
    * `sinkDir` and get `batch_id` as a discovered partition column.
    * Verified by StreamingSpec's mid-batch-failure test (checkpoint
    * commit marker removed → batch replays → no duplicate rows). */
  def startDualWrite(spark: SparkSession, stream: DataFrame, sinkDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    validated(stream).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        batch.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
        // latest-record view (app.py:363: sort desc, head)
        batch.orderBy(col("ts").desc, col("event_id").desc).limit(1)
          .createOrReplaceGlobalTempView("latest_event")
        batch.unpersist()
        ()
      }
      .start()

  /** Stream-static AS-OF enrichment — the production streaming shape of
    * the reference's "latest matching state" lookup (app.py:165-190
    * point-lookup, S8/T5): each event picks up the most recent dimension
    * snapshot row (per key) at or before its own ord value. Runs the
    * custom sort-merge AsOfJoinExec (plans/AsOfJoin.scala) per micro-batch
    * via foreachBatch — a micro-batch is a static DataFrame, so the whole
    * batch operator ladder (custom strategy included) applies unchanged,
    * which is exactly why this beats a stream-stream join here: the dim
    * side is a bounded, slowly-changing snapshot, not a stream, so no
    * watermark/state machinery is needed and the stream holds ZERO state.
    *
    * Delivery matches startDualWrite: each batch writes its own
    * deterministic `batch_id=<id>` directory with overwrite, so a
    * replayed batch clobbers its own partial output (exactly-once with
    * the checkpoint). At 100 TB the snapshot side is dimension-sized and
    * co-partition-shuffled per batch (or pre-bucketed on the keys); the
    * fact stream shuffles each batch once on its keys. */
  def startAsOfEnrich(stream: DataFrame, dim: DataFrame, sinkDir: String,
      checkpointDir: String, keys: Seq[String], ordCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.plans.AsOfJoin.asofJoin(batch, dim, keys, ordCols)
          .write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
        ()
      }
      .start()

  /** Streaming exact dedup (the streaming face of the dedup north star):
    * drops re-deliveries of the same event_id — both within a micro-batch
    * and across batches. State is one entry per id, bounded by the
    * watermark: ids older than (watermark − delay) are evicted, so state
    * does not grow with the stream — the property a naive
    * `dropDuplicates` lacks. */
  def dedupStream(stream: DataFrame): DataFrame =
    validated(stream)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user running state for the custom-state surface
    * (`flatMapGroupsWithState`, SURVEY.md §2.9 planned extension): emits a
    * record per input event carrying the user's cumulative count and
    * running mean value — the streaming form of a running aggregate that
    * windowed aggs can't express (state spans all windows). State is one
    * small struct per user, dropped via timeout in production use. */
  case class UserState(n: Long, sum: Double)
  case class UserUpdate(user_id: Long, event_id: Long, n_so_far: Long,
      mean_so_far: Double)

  def runningUserState(spark: SparkSession, stream: DataFrame)
      : org.apache.spark.sql.Dataset[UserUpdate] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    validated(stream)
      .select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Double)],
            state: GroupState[UserState]) => {
          var st = state.getOption.getOrElse(UserState(0L, 0.0))
          val out = rows.toSeq.sortBy(_._2).map { case (_, eventId, v) =>
            st = UserState(st.n + 1, st.sum + v)
            UserUpdate(user, eventId, st.n, st.sum / st.n)
          }
          state.update(st)
          out.iterator
        })
  }

  /** Rate-limited producer loop (producer.py:169-210, SURVEY.md §2.1 S4):
    * the `rate` source emits `rowsPerSecond` ticks; each tick becomes a
    * synthetic event record (the producer's generate step, producer.py:
    * 67-113) and is serialized to a Kafka-shaped (key, value) JSON message
    * (producer.py:115-126). Attach any sink via writeStream. */
  def rateProducer(spark: SparkSession, rowsPerSecond: Int = 1): DataFrame = {
    val ticks = spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load() // (timestamp, value)
    val records = ticks.select(
      col("value").as("event_id"),
      col("timestamp").as("ts"),
      pmod(col("value"), lit(15)).as("user_id"),
      element_at(
        array(lit("click"), lit("purchase"), lit("error"), lit("signup"),
          lit("view")),
        (pmod(col("value"), lit(5)) + 1).cast("int")).as("event_type"),
      (pmod(xxhash64(col("value")), lit(10000)).cast("double") / 100.0)
        .as("value"))
    graft.sources.Sources.kafkaEncode(records, keyCol = "user_id")
  }

  /** Stream-stream interval join (SURVEY.md §2.3 as-of/interval row, in
    * streaming form): each view event joins the same user's purchases
    * within the preceding hour. Both sides carry watermarks so the join
    * state is bounded — Spark drops buffered rows older than the
    * watermark minus the interval. */
  def viewsJoinRecentPurchases(stream: DataFrame): DataFrame = {
    val views = validated(stream)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    val purchases = validated(stream)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") <= col("view_ts") &&
        col("purchase_ts") >= col("view_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("view_id"), col("user_id"), col("view_ts"),
        col("purchase_id"), col("purchase_ts"))
  }

  /** LEFT OUTER stream-stream join: every view emits, with purchase
    * columns null when no purchase landed in the preceding hour. Outer
    * results can only emit once the watermark passes the join window (the
    * engine must prove no matching purchase can still arrive), so nulls
    * surface watermark-delayed — the canonical conversion-attribution
    * shape ("views that did NOT convert" drives retargeting). Same
    * bounded state as the inner form; the time-bound condition is
    * REQUIRED by Spark for outer stream-stream joins. */
  def viewsLeftJoinPurchases(stream: DataFrame): DataFrame = {
    val views = validated(stream)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    val purchases = validated(stream)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") <= col("view_ts") &&
        col("purchase_ts") >= col("view_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("view_id"), col("user_id"), col("view_ts"),
        col("purchase_id"), col("purchase_ts"))
  }

  /** Spark 4 `transformWithState` form of per-user state (the successor
    * API to flatMapGroupsWithState: typed state handles, TTL, timers;
    * requires the RocksDB state store provider). Emits an anomaly record
    * when a user's value exceeds 2× their running mean (after a warmup of
    * 3 events). */
  case class Anomaly(user_id: Long, event_id: Long, value: Double,
      running_mean: Double)

  class AnomalyProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Double), Anomaly] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var stats: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stats = getHandle.getValueState(
        "stats",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Double)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Anomaly] = {
      var (n, sum) = if (stats.exists()) stats.get() else (0L, 0.0)
      val out = rows.toSeq.sortBy(_._2).flatMap { case (_, eventId, v) =>
        val mean = if (n == 0) 0.0 else sum / n
        val hit = n >= 3 && v > 2 * mean
        n += 1; sum += v
        if (hit) Some(Anomaly(key, eventId, v, mean)) else None
      }
      stats.update((n, sum))
      out.iterator
    }
  }

  def anomalyStream(spark: SparkSession, stream: DataFrame)
      : org.apache.spark.sql.Dataset[Anomaly] = {
    import spark.implicits._
    validated(stream)
      .select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new AnomalyProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** The synthetic DSv2 event stream (sources/SyntheticEventsSource):
    * `n` deterministic events over 4 slices, `rowsPerBatch` per
    * micro-batch; `redeliver` re-emits each batch's rows once more in the
    * next one (at-least-once delivery). */
  def syntheticStream(spark: SparkSession, n: Long, rowsPerBatch: Long,
      redeliver: Boolean = false): DataFrame =
    spark.readStream
      .format("graft.sources.SyntheticEventsSource")
      .option("n", n).option("slices", 4)
      .option("rowsPerBatch", rowsPerBatch)
      .option("redeliver", redeliver)
      .load()

  /** Run a streaming `query` to completion (AvailableNow) and return its
    * result as a batch DataFrame bound to the CALLER's session: the last
    * micro-batch's output in `complete` mode, the union of every
    * micro-batch's output in `append` mode, and an empty frame with the
    * query's schema when no micro-batch ran. Each micro-batch goes to
    * `foreachBatch` and is materialised there with
    * `localCheckpoint(eager = true)`, so the result stays on the
    * executors (no driver-side collect, unlike the memory sink) and
    * reading it never re-runs the stream; in complete mode each batch
    * unpersists the one it replaces. A failed query rethrows from here.
    *
    * Two settings are scoped around `start()` (the stream's cloned
    * session freezes them; the caller's values are restored even when
    * `start()` throws):
    *  - state partitions = min(8, defaultParallelism): a stateful query
    *    opens and commits one state store per shuffle partition every
    *    micro-batch, and these drains carry ~10⁴ rows and ≤10³ keys per
    *    batch, so one wave of state tasks is the right size;
    *  - Spark's `FileSystemBasedCheckpointFileManager`. Without the
    *    native Hadoop library, the default FileContext-based manager
    *    forks a shell (`readlink`, `chmod`) for every offset, commit and
    *    state file it creates or renames on the local file system: a JFR
    *    `jdk.ProcessStart` count gave 236 forks (176 `readlink`, 60
    *    `chmod`) per q_stream_sessions drain at 8 state partitions, and
    *    40 (`chmod` only) with this manager at 4. The FileSystem-based
    *    manager writes a temp file and renames it into place; Spark
    *    documents it as safe where rename is atomic, and the checkpoint
    *    here is always a fresh local temp dir, where `rename(2)` is.
    *    Hadoop still writes `.crc` files (LocalFileSystem is a
    *    ChecksumFileSystem).
    * The checkpoint dir is deleted before this returns. */
  def drain(spark: SparkSession, outputMode: String)(query: DataFrame): DataFrame = {
    require(outputMode == "complete" || outputMode == "append",
      s"drain: output mode '$outputMode' is neither complete nor append")
    val checkpoint = java.nio.file.Files.createTempDirectory("temporary-")
    // written by the stream thread; awaitTermination's latch publishes it
    var kept = Vector.empty[DataFrame]
    val scoped = Seq(
      "spark.sql.shuffle.partitions" ->
        math.min(8, spark.sparkContext.defaultParallelism).toString,
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[FileSystemBasedCheckpointFileManager].getName)
    val saved = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      val q =
        try {
          scoped.foreach { case (k, v) => spark.conf.set(k, v) }
          query.writeStream
            .outputMode(outputMode)
            .option("checkpointLocation", checkpoint.toString)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val local = batch.localCheckpoint(eager = true)
              if (outputMode == "complete") {
                kept.foreach(Shim.unpersistCheckpoint)
                kept = Vector(local)
              } else kept :+= local
            }
            .start()
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      q.awaitTermination()
      kept.map(b => Shim.ofRows(spark, Shim.logicalPlan(b))).reduceOption(_ union _)
        .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], query.schema))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
  }

  /** Run the windowed aggregation synchronously over the synthetic
    * stream and return the completed result — lets the batch-oriented
    * query catalog exercise the streaming path. */
  def runSyntheticStream(spark: SparkSession, n: Long = 50000,
      rowsPerBatch: Long = 20000): DataFrame =
    // End-to-end ORACLED streaming: the custom DSv2 streaming source
    // drains under AvailableNow in ceil(n/rowsPerBatch) real
    // micro-batches through a watermarked event-time window agg;
    // generation is deterministic arithmetic, so the completed result is
    // exactly DuckDB-checkable via range().
    drain(spark, "complete")(
      syntheticStream(spark, n, rowsPerBatch)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .select(col("window.start").as("window_start"),
          col("event_type"), col("n"), col("sum_cents"))
    ).orderBy(col("window_start"), col("event_type"))

  /** End-to-end ORACLED streaming dedup (the oracled face of
    * [[dedupStream]]): the synthetic DSv2 source in `redeliver` mode
    * re-emits every micro-batch's rows once more in the NEXT batch —
    * the at-least-once delivery shape (producer retry / consumer
    * rebalance) the dedup state exists for — and
    * `dropDuplicatesWithinWatermark` must reduce the ~2n delivered rows
    * to exactly the n unique events. Each re-delivered row is dropped
    * by one of two complementary gates: re-deliveries still inside the
    * watermark hit live dedup state (same event time → within any
    * delay), and older ones fall below the watermark and are dropped as
    * late — by then their first delivery has already been emitted, so
    * the kept set is exactly the unique rows either way. The drained
    * output aggregates per event_type with count + sum(event_id) + sum
    * (cents), so ANY leaked duplicate or lost row changes a sum and
    * hash-fails the oracle (which replays the generator arithmetic over
    * `range(n)` — ONE delivery per id, i.e. exactly-once semantics).
    * StreamingSpec additionally pins that the redelivering source
    * WITHOUT dedup really does emit the extra rows. */
  def runDedupStream(spark: SparkSession, n: Long = 50000,
      rowsPerBatch: Long = 10000): DataFrame =
    drain(spark, "append")(
      syntheticStream(spark, n, rowsPerBatch, redeliver = true)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
    ).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_ids"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))

  /** Drain the file stream through the SESSION-window aggregation
    * (AvailableNow, complete mode) — streaming/batch parity for
    * [[sessionCounts]]: the state store merges session fragments across
    * micro-batches (maxFilesPerTrigger=1 forces several), and the fully
    * drained result must equal the one-shot batch `session_window` agg,
    * which the gaps-and-islands oracle replays. */
  def runSessionBatch(spark: SparkSession, sfDir: String): DataFrame =
    drain(spark, "complete")(
      sessionCounts(eventsStream(spark, sfDir, maxFilesPerTrigger = 1))
        .select(
          col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
    ).orderBy(col("user_id"), col("session_start"))

  def runWindowedBatch(spark: SparkSession, sfDir: String): DataFrame =
    drain(spark, "complete")(
      windowedCounts(eventsStream(spark, sfDir, maxFilesPerTrigger = 1))
        .select(
          col("window.start").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
    ).orderBy(col("window_start"), col("event_type"))
}
