package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming semantics (SURVEY.md §2.8): micro-batch validate →
  * dual-write, watermarked windows; driven with MemoryStream for
  * deterministic triggers. */
// top-level: Encoders cannot be derived for classes nested in a test class
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: java.lang.Long,
    event_type: String, value: java.lang.Double, props: String)

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("windowed counts aggregate per hour and drop invalid rows") {
    val sq = spark
    import sq.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1L, "click", 1.0, "{}"),
      Ev(2, ts("2024-01-01 10:45:00"), 1L, "click", 2.0, "{}"),
      Ev(3, ts("2024-01-01 11:05:00"), 2L, "view", 3.0, "{}"),
      Ev(4, ts("2024-01-01 11:06:00"), null, "view", 4.0, "{}")) // invalid
    val q = streaming.StreamingPipeline.windowedCounts(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc_test").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wc_test")
      .select(col("window.start").cast("string"), col("event_type"), col("n"),
        col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00", "click", 2L, 3.0),
      ("2024-01-01 11:00:00", "view", 1L, 3.0)))
  }

  test("dual-write sink appends history and maintains latest view") {
    val sq = spark
    import sq.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sink = Files.createTempDirectory("graft_sink").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      Ev(2, ts("2024-01-01 12:00:00"), 1L, "view", 2.0, "{}"))
    val q = streaming.StreamingPipeline.startDualWrite(
      spark, mem.toDF(), s"$sink/hist", ckpt)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$sink/hist").count() == 2)
    val latest = spark.table("global_temp.latest_event").collect()
    assert(latest.length == 1 && latest(0).getAs[Long]("event_id") == 2L)
  }

  test("dual-write checkpoint prevents reprocessing on restart (exactly-once)") {
    val sq = spark
    import sq.implicits._
    val sink = Files.createTempDirectory("graft_eo_sink").toString
    val ckpt = Files.createTempDirectory("graft_eo_ckpt").toString
    val srcDir = Files.createTempDirectory("graft_eo_src").toString
    // two source files -> two micro-batches under maxFilesPerTrigger=1
    val mk = (id: Long, t: String) =>
      Ev(id, ts(t), 1L, "click", 1.0, "{}")
    Seq(mk(1, "2024-01-01 10:00:00")).toDS().toDF()
      .write.parquet(s"$srcDir/f1")
    Seq(mk(2, "2024-01-01 11:00:00")).toDS().toDF()
      .write.parquet(s"$srcDir/f2")
    val schema = spark.read.parquet(s"$srcDir/f1").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q1 = streaming.StreamingPipeline.startDualWrite(
      spark, stream, s"$sink/hist", ckpt)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$sink/hist").count() == 2)
    // restart with the SAME checkpoint: nothing new -> nothing reprocessed
    val q2 = streaming.StreamingPipeline.startDualWrite(
      spark, stream, s"$sink/hist", ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$sink/hist").count() == 2,
      "restart with checkpoint must not duplicate rows")
    // new data after restart IS picked up exactly once
    Seq(mk(3, "2024-01-01 12:00:00")).toDS().toDF()
      .write.parquet(s"$srcDir/f3")
    val q3 = streaming.StreamingPipeline.startDualWrite(
      spark, stream, s"$sink/hist", ckpt)
    q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(s"$sink/hist").count() == 3)
  }

  test("dual-write survives mid-batch failure replay without duplicates") {
    val sq = spark
    import sq.implicits._
    val sink = Files.createTempDirectory("graft_replay_sink").toString
    val ckpt = Files.createTempDirectory("graft_replay_ckpt").toString
    val srcDir = Files.createTempDirectory("graft_replay_src").toString
    val mk = (id: Long, t: String) => Ev(id, ts(t), 1L, "click", 1.0, "{}")
    Seq(mk(1, "2024-01-01 10:00:00")).toDS().toDF()
      .write.parquet(s"$srcDir/f1")
    Seq(mk(2, "2024-01-01 11:00:00")).toDS().toDF()
      .write.parquet(s"$srcDir/f2")
    val schema = spark.read.parquet(s"$srcDir/f1").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q1 = streaming.StreamingPipeline.startDualWrite(
      spark, stream, s"$sink/hist", ckpt)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$sink/hist").count() == 2)
    // Simulate a crash AFTER the sink write but BEFORE the checkpoint
    // commit: remove the last batch's commit marker. On restart Spark
    // replays that batch — the sink write must be idempotent.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2)
    val victim = commits.last
    // Also drop the checksum sibling: the local checksum filesystem would
    // otherwise refuse the replayed commit write against the stale .crc.
    val crc = new java.io.File(victim.getParent, s".${victim.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(victim.delete(), "failed to remove commit marker")
    val q2 = streaming.StreamingPipeline.startDualWrite(
      spark, stream, s"$sink/hist", ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$sink/hist").count() == 2,
      "replayed batch must overwrite its own output, not append duplicates")
  }

  test("append mode drops late data beyond the watermark") {
    val sq = spark
    import sq.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.StreamingPipeline.windowedCounts(mem.toDF())
      .select(col("window.start").cast("string").as("ws"), col("event_type"),
        col("n"))
      .writeStream.outputMode("append")
      .format("memory").queryName("late_test").start()
    // batch 1: two in-window events + one that advances the watermark
    // to 11:20, past the [10:00, 11:00) window end
    mem.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1L, "click", 1.0, "{}"),
      Ev(2, ts("2024-01-01 10:45:00"), 1L, "click", 2.0, "{}"),
      Ev(3, ts("2024-01-01 11:30:00"), 1L, "click", 3.0, "{}"))
    q.processAllAvailable()
    // batch 2: a LATE event for the closed window — must be dropped
    mem.addData(Ev(4, ts("2024-01-01 10:30:00"), 1L, "click", 4.0, "{}"))
    q.processAllAvailable()
    // batch 3: advance watermark past 12:00 to flush the 11:00 window
    mem.addData(Ev(5, ts("2024-01-01 12:40:00"), 1L, "click", 5.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_test")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(rows("2024-01-01 10:00:00") == 2L,
      s"late event must not join the closed window: $rows")
    assert(rows("2024-01-01 11:00:00") == 1L, s"$rows")
  }

  test("streaming dedup drops redeliveries within and across batches") {
    val sq = spark
    import sq.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.StreamingPipeline.dedupStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_test").start()
    // batch 1: id 1 delivered twice in the same batch, id 2 once
    mem.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      Ev(1, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      Ev(2, ts("2024-01-01 10:01:00"), 1L, "view", 2.0, "{}"))
    q.processAllAvailable()
    // batch 2: id 1 redelivered (within watermark), id 3 new
    mem.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      Ev(3, ts("2024-01-01 10:02:00"), 2L, "view", 3.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_test").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"each id exactly once, got $ids")
  }

  test("session windows group events within gap") {
    val sq = spark
    import sq.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      Ev(2, ts("2024-01-01 10:10:00"), 1L, "click", 1.0, "{}"),
      Ev(3, ts("2024-01-01 12:00:00"), 1L, "click", 1.0, "{}"))
    val q = streaming.StreamingPipeline.sessionCounts(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_test").start()
    q.processAllAvailable()
    q.stop()
    val n = spark.table("sess_test").count()
    assert(n == 2) // two sessions for user 1
  }

  test("transformWithState anomaly detector flags spikes across batches") {
    val sq = spark
    import sq.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val q = streaming.StreamingPipeline.anomalyStream(spark, mem.toDF())
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_test").start()
      mem.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1L, "click", 10.0, "{}"),
        Ev(2, ts("2024-01-01 10:01:00"), 1L, "click", 10.0, "{}"),
        Ev(3, ts("2024-01-01 10:02:00"), 1L, "click", 10.0, "{}"))
      q.processAllAvailable()
      mem.addData( // state (n=3, mean=10) must survive into this batch
        Ev(4, ts("2024-01-01 10:03:00"), 1L, "click", 50.0, "{}"), // spike
        Ev(5, ts("2024-01-01 10:04:00"), 1L, "click", 11.0, "{}"))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws_test").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
      assert(rows.toSeq == Seq((4L, 50.0)))
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("batch and streaming anomaly detectors agree on the fixture events") {
    val sq = spark
    import sq.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.load(spark, TestSpark.sf, "events")
    val batch = operators.EventsPipeline.anomalies(events).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      mem.addData(events.orderBy("event_id").collect().map(r =>
        Ev(r.getAs[Long]("event_id"), r.getAs[java.sql.Timestamp]("ts"),
          r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
          r.getAs[Double]("value"), r.getAs[String]("props"))).toSeq)
      val q = streaming.StreamingPipeline.anomalyStream(spark, mem.toDF())
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_parity").start()
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("tws_parity").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSet
      assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("left-outer stream-stream join emits unmatched views after watermark") {
    val sq = spark
    import sq.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1L, "purchase", 1.0, "{}"),
      Ev(2, ts("2024-01-01 10:30:00"), 1L, "view", 1.0, "{}"), // converts
      Ev(3, ts("2024-01-01 10:30:00"), 2L, "view", 1.0, "{}")) // never converts
    val q = streaming.StreamingPipeline.viewsLeftJoinPurchases(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_outer_test").start()
    q.processAllAvailable()
    // the unmatched view can only emit once BOTH watermarks clear the 1h
    // join window (global watermark = min over the two sides, and each
    // side's watermark node sits after its event_type filter) — so push
    // event time forward on each side
    mem.addData(
      Ev(9, ts("2024-01-01 13:00:00"), 9L, "view", 1.0, "{}"),
      Ev(10, ts("2024-01-01 13:00:00"), 9L, "purchase", 1.0, "{}"))
    q.processAllAvailable()
    mem.addData(
      Ev(11, ts("2024-01-01 15:00:00"), 8L, "view", 1.0, "{}"),
      Ev(12, ts("2024-01-01 15:00:00"), 8L, "purchase", 1.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj_outer_test").collect()
      .map(r => (r.getAs[Long]("view_id"),
        Option(r.getAs[java.lang.Long]("purchase_id")).map(_.toLong)))
      .toSet
    assert(rows.contains((2L, Some(1L))), s"matched view missing: $rows")
    assert(rows.contains((3L, None)), s"unmatched view not emitted: $rows")
  }

  test("file-stream over events parquet processes all rows (AvailableNow)") {
    val out = streaming.StreamingPipeline.runWindowedBatch(spark, TestSpark.sf)
    val total = out.agg(sum("n")).collect()(0).getLong(0)
    assert(total == 1000L) // sf0.001 events row count
  }

  test("custom DSv2 streaming source: each id exactly once, multi-batch") {
    val df = spark.readStream
      .format("graft.sources.SyntheticEventsSource")
      .option("n", 1000).option("slices", 2).option("rowsPerBatch", 300)
      .load()
    val q = df.writeStream.outputMode("append")
      .format("memory").queryName("synth_stream").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("synth_stream")
    assert(got.count() == 1000L)
    assert(got.select(col("event_id")).distinct().count() == 1000L)
    // offsets advanced in rowsPerBatch steps -> several real micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    // streamed rows == batch rows (same deterministic generator)
    val batch = spark.read.format("graft.sources.SyntheticEventsSource")
      .option("n", 1000).load()
    assert(got.select(sum(col("cents"))).collect()(0).getLong(0) ==
      batch.select(sum(col("cents"))).collect()(0).getLong(0))
  }

  test("DSv2 streaming source drains and stops under Trigger.AvailableNow") {
    val df = spark.readStream
      .format("graft.sources.SyntheticEventsSource")
      .option("n", 800).option("slices", 2).option("rowsPerBatch", 250)
      .load()
    val q = df.writeStream.outputMode("append")
      .format("memory").queryName("synth_avnow")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "query did not self-terminate")
    assert(spark.table("synth_avnow").count() == 800L)
  }

  test("DSv2 streaming source resumes from checkpoint without duplicates") {
    // Run 1 drains n=600 into a parquet sink with a checkpoint; run 2
    // reuses the checkpoint with n=1000 — the committed offset (600)
    // must be respected, so only ids 600..999 are appended. This is the
    // exactly-once-across-restart property the offset design claims.
    val base = java.nio.file.Files.createTempDirectory("synth_ckpt").toString
    val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    def run(n: Int): Unit = {
      val q = spark.readStream
        .format("graft.sources.SyntheticEventsSource")
        .option("n", n).option("slices", 2).option("rowsPerBatch", 250)
        .load()
        .writeStream.outputMode("append")
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000))
    }
    run(600)
    assert(spark.read.parquet(sink).count() == 600L)
    run(1000)
    val after = spark.read.parquet(sink)
    assert(after.count() == 1000L)
    assert(after.select(col("event_id")).distinct().count() == 1000L)
    // Restart with a SMALLER n than the committed watermark: the source
    // must never advertise an offset BELOW the restored start (end <
    // start corrupts the offset log / re-emits committed ranges). The
    // run drains cleanly and the sink is unchanged.
    run(400)
    val shrunk = spark.read.parquet(sink)
    assert(shrunk.count() == 1000L)
    assert(shrunk.select(col("event_id")).distinct().count() == 1000L)
  }

  test("stream-static broadcast enrichment joins each event to its dim row") {
    val sq = spark
    import sq.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1L, "click", 1.0, "{}"),
      Ev(2, ts("2024-01-01 10:06:00"), 2L, "view", 2.0, "{}"),
      Ev(3, ts("2024-01-01 10:07:00"), 3L, "view", 3.0, "{}")) // no dim row
    val q = mem.toDF()
      .join(broadcast(dim), Seq("user_id"), "left_outer")
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enriched")
      .select(col("event_id"), col("tier")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "gold", 2L -> "basic", 3L -> null))
  }

  test("redelivering source + dropDuplicatesWithinWatermark drains to " +
      "exactly the unique rows (at-least-once in, exactly-once out)") {
    import org.apache.spark.sql.streaming.Trigger
    val (n, rpb) = (4000L, 1000L)
    def drain(name: String, dedup: Boolean): Long = {
      var src = spark.readStream
        .format("graft.sources.SyntheticEventsSource")
        .option("n", n).option("slices", 4).option("rowsPerBatch", rpb)
        .option("redeliver", "true")
        .load()
        .withWatermark("ts", "10 minutes")
      if (dedup) src = src.dropDuplicatesWithinWatermark("event_id")
      val q = src.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).count()
    }
    // the source REALLY redelivers: batches 2..4 re-emit the previous
    // batch's rpb rows → n + (n/rpb - 1)·rpb raw rows
    assert(drain("redeliver_raw", dedup = false) == n + (n / rpb - 1) * rpb)
    // ...and the dedup reduces them to exactly one per id
    assert(drain("redeliver_dedup", dedup = true) == n)
    // distinct check: no id kept twice, none lost
    assert(spark.table("redeliver_dedup")
      .select(col("event_id")).distinct().count() == n)
  }

  test("streaming session_window drain equals the batch aggregation") {
    // state-store session merging across micro-batches must converge to
    // the one-shot batch session_window result
    val streamed = streaming.StreamingPipeline
      .runSessionBatch(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.getLong(3)))
    val batch = operators.EventsPipeline
      .sessionWindows(Tables.load(spark, TestSpark.sf, "events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.getLong(3)))
    assert(streamed.length == batch.length && streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("ProcessingTime trigger: a continuously-running query drains in " +
      ">=3 timed micro-batches with exact per-batch row accounting and " +
      "final batch parity (the reference's refresh cadence, " +
      "app.py:567-577 + producer.py:255-260)") {
    // Every other oracled drain uses Trigger.AvailableNow — semantically
    // equivalent once drained, but the reference actually runs a TIMED
    // cadence. This is the long-running form: the trigger clock (200 ms)
    // paces the batches, the source feeds 300 rows per trigger, and the
    // query keeps firing (empty triggers included) until stopped.
    val n = 1200L
    val agg = spark.readStream
      .format("graft.sources.SyntheticEventsSource")
      .option("n", n).option("slices", 2).option("rowsPerBatch", 300)
      .load()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("cnt"), col("sum_cents"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("synth_proctime")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 90000
      def drained = q.recentProgress.map(_.numInputRows).sum >= n
      while (!drained && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(drained, "source did not drain under the timed trigger")
      // prove the query is genuinely CONTINUOUS: it keeps triggering
      // (empty batches) after the data is exhausted
      val batchesAtDrain = q.recentProgress.length
      val spinDeadline = System.currentTimeMillis() + 30000
      while (q.recentProgress.length <= batchesAtDrain &&
          System.currentTimeMillis() < spinDeadline)
        Thread.sleep(100)
      assert(q.recentProgress.length > batchesAtDrain,
        "no further triggers fired after drain — not a continuous query")
    } finally q.stop()
    // per-batch accounting: the source feeds at most rowsPerBatch per
    // trigger, several real data batches happened, nothing was lost or
    // double-delivered across the timed cadence
    val progs = q.recentProgress
    val dataBatches = progs.filter(_.numInputRows > 0)
    assert(dataBatches.length >= 3,
      s"expected >=3 data micro-batches, got ${dataBatches.length}")
    assert(dataBatches.forall(_.numInputRows <= 300L))
    assert(progs.map(_.numInputRows).sum == n)
    // final parity with the one-shot batch aggregation over the same
    // deterministic generator
    val streamed = spark.table("synth_proctime")
      .collect().map(_.toString).sorted.toSeq
    val batch = spark.read.format("graft.sources.SyntheticEventsSource")
      .option("n", n).load()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("cnt"), col("sum_cents"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  // --- StreamingPipeline.drain: foreachBatch + localCheckpoint ---

  /** The memory-sink path `drain` replaced: AvailableNow into a memory
    * table at 8 state partitions, read back through `spark.table`. */
  private def memorySinkDrain(name: String, mode: String)(
      query: DataFrame): DataFrame = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val q = try query.writeStream.outputMode(mode).format("memory")
        .queryName(name).trigger(Trigger.AvailableNow()).start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    spark.table(name)
  }

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.groupBy(_.toString).map { case (k, v) => k -> v.size }

  private def checkpointDirs: Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
      .map(_.getName).filter(_.startsWith("temporary-")).toSet

  test("each drain equals the memory-sink drain as a multiset and is " +
      "bound to the caller's session") {
    import streaming.StreamingPipeline._
    def check(got: DataFrame, want: DataFrame): Unit = {
      assert(got.sparkSession eq spark)
      val g = multiset(got)
      assert(g.nonEmpty && g == multiset(want))
    }
    // complete mode over 4 micro-batches (ceil(1000 / 300))
    check(runSyntheticStream(spark, 1000, 300),
      memorySinkDrain("ref_synth", "complete")(
        syntheticStream(spark, 1000, 300)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .select(col("window.start").as("window_start"),
            col("event_type"), col("n"), col("sum_cents"))))
    // append mode over 4 redelivering micro-batches
    check(runDedupStream(spark, 4000, 1000),
      memorySinkDrain("ref_dedup", "append")(
        syntheticStream(spark, 4000, 1000, redeliver = true)
          .withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"),
          sum(col("cents")).as("sum_cents"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id")))
    check(runSessionBatch(spark, TestSpark.sf),
      memorySinkDrain("ref_sessions", "complete")(
        sessionCounts(eventsStream(spark, TestSpark.sf))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n_events"))))
    check(runWindowedBatch(spark, TestSpark.sf),
      memorySinkDrain("ref_windowed", "complete")(
        windowedCounts(eventsStream(spark, TestSpark.sf))
          .select(col("window.start").as("window_start"),
            col("event_type"), col("n"), col("sum_value"))))
  }

  test("drain restores its scoped settings and removes its checkpoint, " +
      "also when the drain throws") {
    import streaming.StreamingPipeline.{drain, syntheticStream}
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpointFileManagerClass")
    try {
      val before = keys.map(spark.conf.getOption)
      assert(before(1).isEmpty)
      def unchanged[T](body: => T): T = {
        val dirs = checkpointDirs
        val out = body
        assert(keys.map(spark.conf.getOption) == before)
        assert(checkpointDirs.subsetOf(dirs), "checkpoint dir left behind")
        out
      }
      val ok = unchanged(drain(spark, "append")(syntheticStream(spark, 100, 50)))
      assert(ok.count() == 100L)
      // fails inside a micro-batch: awaitTermination rethrows
      val failed = unchanged(intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        drain(spark, "append")(syntheticStream(spark, 100, 50)
          .withColumn("boom", raise_error(lit("drain-test failure"))))
      })
      assert(failed.getMessage.contains("drain-test failure"))
      // fails at start(): a batch frame cannot be written as a stream
      unchanged(intercept[org.apache.spark.sql.AnalysisException] {
        drain(spark, "complete")(spark.range(3).toDF())
      })
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("a drain with no input returns an empty frame with the query's schema") {
    import streaming.StreamingPipeline.{drain, syntheticStream}
    val query = syntheticStream(spark, 0, 100).groupBy(col("event_type")).count()
    val out = drain(spark, "complete")(query)
    assert(out.sparkSession eq spark)
    assert(out.schema == query.schema)
    assert(out.isEmpty)
  }
}
