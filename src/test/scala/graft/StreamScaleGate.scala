package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming-family scale gate (VERDICT r13 item 5): the q_stream_*
  * queries are oracled at sf0.01 but had no scaled run — this tool
  * drains the DSv2 synthetic source at 64× the catalog volume
  * (n = 3.2M vs the catalog's 50k) under `Trigger.AvailableNow` with
  * the RocksDB state store, records the per-operator state metrics
  * from every micro-batch, and proves the TWO claims that matter at
  * 100 TB:
  *
  *  1. **Exactly-once at scale** — the redelivering source emits ~2n
  *     rows; `dropDuplicatesWithinWatermark` must keep exactly the n
  *     unique events (checked by per-type count/sum(event_id)/
  *     sum(cents) against an INDEPENDENT `spark.range(n)` replay of
  *     the generator arithmetic — any leaked duplicate or lost row
  *     changes a sum).
  *  2. **State bounded by keys-in-window, not corpus** — for each
  *     stateful operator the max `numRowsTotal` across all batches
  *     must track the watermark-window population (≈ rowsPerBatch +
  *     600 ids for dedup: ts advances 1 s/id and the delay is 10 min;
  *     ≈ open windows × 5 types for the windowed agg; ≈ in-flight
  *     session fragments for session windows) — NOT n. Running the
  *     same gate at two n values (the k-curve) shows the bound is
  *     flat in the corpus.
  *
  * Paths: dedup (redeliver → dropDuplicatesWithinWatermark → parquet),
  * windowed agg (append mode — closed windows EVICT, unlike the
  * catalog's complete-mode demo), session windows (gap 30 min over a
  * synthetic key `floor(id/3) % 5000`: every session is an exact
  * triple of 1 s-spaced events, the next triple for the same key is
  * 15,000 s away, so sessions close fast and fragments still merge
  * across batch boundaries; emitted sessions are recomputed exactly
  * from range(n) and compared as a multiset).
  *
  * Run: sbt "Test/runMain graft.StreamScaleGate 3200000 100000"
  * args: [n] [rowsPerBatch] [outRoot] [RESTART]
  *
  * RESTART mode (r14 VERDICT item 3 — the reference's real failure
  * mode is app.py:153-155, a restart that loses data): every path is
  * KILLED mid-drain (the query is stopped once roughly half its
  * expected batches have committed — the graceful driver-death local
  * mode can express), then restarted from the SAME checkpoint, and
  * the very same diff-0 exact checks must pass over the union of the
  * two runs' output — checkpoint + RocksDB state + the parquet sink's
  * batch-commit log must make the kill invisible. Two extra checks
  * per path pin that the choreography really happened: the kill
  * landed mid-drain (strictly fewer batches than the drain needs) and
  * the restart RESUMED (its first batch id is no lower than the last
  * committed id — not a from-scratch replay of batch 0).
  *
  * Output: STREAMGATE lines + <outRoot>/stream_gate.json; exit 1 on
  * any check failure.
  */
object StreamScaleGate {
  private val BASE = 1704067200L // 2024-01-01T00:00:00Z, the source's base

  private def opStats(qs: Seq[StreamingQuery])
      : (Long, Double, Long, Int, String) = {
    var maxRows = 0L; var maxMem = 0.0; var dropped = 0L; var wm = ""
    var batches = 0
    qs.foreach { q =>
      val ps = q.recentProgress
      batches += ps.length
      ps.foreach { p =>
        p.stateOperators.foreach { op =>
          maxRows = math.max(maxRows, op.numRowsTotal)
          maxMem = math.max(maxMem, op.memoryUsedBytes / 1e6)
          dropped += op.numRowsDroppedByWatermark
        }
        val w = p.eventTime.get("watermark")
        if (w != null && w > wm) wm = w
      }
    }
    (maxRows, maxMem, dropped, batches, wm)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 3200000L
    val rowsPerBatch = if (args.length > 1) args(1).toLong else 100000L
    val outRoot = if (args.length > 2) args(2)
      else Files.createTempDirectory("graft_streamgate").toString
    val restart = args.length > 3 &&
      (args(3) == "RESTART" || args(3) == "--restart")
    val spark = Session.builder
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // keep ALL progresses: the max-over-batches state metric is the
      // gate's subject (default retention is 100, batches ≤ ~70 here)
      .config("spark.sql.streaming.numRecentProgressUpdates", "200")
      .getOrCreate()
    import spark.implicits._

    def source(redeliver: Boolean): DataFrame = spark.readStream
      .format("graft.sources.SyntheticEventsSource")
      .option("n", n).option("slices", 4)
      .option("rowsPerBatch", rowsPerBatch)
      .option("redeliver", redeliver.toString)
      .load()

    // independent replay of the generator arithmetic (the oracle's
    // range() recompute, in-engine so it runs at any n)
    def rangeEvents: DataFrame = spark.range(n).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(BASE) + col("id")).as("ts"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("scroll"),
          lit("hover")),
        (col("id") % 5 + 1).cast("int")).as("event_type"),
      (col("id") * 31 % 10000).as("cents"))

    val results = scala.collection.mutable.ArrayBuffer[String]()
    var failures = 0
    def check(name: String, ok: Boolean, detail: String): Unit = {
      if (!ok) failures += 1
      println(s"STREAMGATE CHECK $name ${if (ok) "PASS" else "FAIL"} $detail")
      results += s""""$name":{"pass":${ok},"detail":"$detail"}"""
    }
    // Drain a query to completion — or, in RESTART mode, stop it once
    // ~half its expected batches have committed, rebuild it on the same
    // checkpoint, and drain the rest; returns every run's query handle
    // so state metrics and watermarks merge across the kill.
    def drain(path: String, expectedBatches: Long)(
        build: () => StreamingQuery): Seq[StreamingQuery] = {
      // A mid-drain kill needs room on both sides of the kill point:
      // with fewer than ~4 expected batches (or fast batches the
      // 200 ms poll can miss), q1 can finish NATURALLY before the kill
      // target is observed, and the kill_middrain/restart checks would
      // report a spurious gate FAIL instead of a sizing error (ADVICE
      // r15). Fail fast with the actionable message.
      require(!restart || expectedBatches >= 4,
        s"RESTART mode needs expectedBatches >= 4 to kill mid-drain " +
          s"(got $expectedBatches for $path) — raise n or batch count")
      val q1 = build()
      if (!restart) { q1.awaitTermination(); return Seq(q1) }
      val killAt = math.max(1L, expectedBatches / 2)
      while (q1.isActive &&
          Option(q1.lastProgress).map(_.batchId).getOrElse(-1L) < killAt)
        Thread.sleep(200)
      val killedAt = Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
      val diedNaturally = !q1.isActive
      if (q1.isActive) q1.stop()
      q1.awaitTermination()
      if (diedNaturally)
        // distinct, diagnosable report: the query outran the poll —
        // the subsequent kill_middrain check will fail with this
        // context in the log rather than as an opaque recall miss
        println(s"STREAMGATE NOTE path=$path q1 completed naturally " +
          s"before the kill target (batches too fast for the 200 ms " +
          s"poll) — raise n for a valid mid-drain kill")
      println(s"STREAMGATE KILL path=$path at_batch=$killedAt " +
        s"(target=$killAt of ~$expectedBatches)")
      val q2 = build()
      q2.awaitTermination()
      val resumedAt = q2.recentProgress.headOption.map(_.batchId)
        .getOrElse(-1L)
      val finalBatch = q2.recentProgress.lastOption.map(_.batchId)
        .getOrElse(-1L)
      // mid-drain judged against the ACTUAL final batch id, not the
      // planning estimate (the dedup path's redelivery doubles rows
      // WITHIN batches, not the batch count — the estimate-based form
      // of this check once passed a kill 2 batches from the end)
      check(s"${path}_kill_middrain",
        killedAt >= 0 && killedAt < finalBatch,
        s"killed_at_batch=$killedAt final_batch=$finalBatch " +
          s"(target=$killAt)")
      // resumed from the checkpoint: first post-restart batch is the
      // killed batch (uncommitted re-run) or the next one — never 0
      check(s"${path}_restart_resumed", resumedAt >= killedAt && resumedAt > 0,
        s"resumed_at_batch=$resumedAt killed_at_batch=$killedAt")
      Seq(q1, q2)
    }
    def report(path: String, q: Seq[StreamingQuery], boundDesc: String,
        bound: Long): Unit = {
      val (rows, mem, dropped, batches, wm) = opStats(q)
      println(f"STREAMGATE OP path=$path max_state_rows=$rows " +
        f"max_state_mem_mb=$mem%.1f dropped_late=$dropped " +
        f"batches=$batches watermark=$wm")
      results += s""""${path}_state":{"max_rows":$rows,""" +
        f""""max_mem_mb":$mem%.1f,"dropped_late":$dropped,""" +
        s""""batches":$batches,"bound":$bound}"""
      check(s"${path}_state_bounded", rows <= bound,
        s"max_state_rows=$rows $boundDesc=$bound (corpus n=$n)")
    }

    // ---- 1. dedup path: redeliver ~2n rows -> exactly-once n out ----
    val t0 = System.nanoTime()
    val dedupDir = s"$outRoot/dedup_out"
    // the redelivering source emits ~2n rows but INTERLEAVES the
    // duplicates within the same ~n/rowsPerBatch batches
    val qd = drain("dedup", n / rowsPerBatch) { () =>
      streaming.StreamingPipeline
        .dedupStream(
          // adapt the synthetic schema to validated()'s event shape
          source(redeliver = true)
            .withColumn("value", col("cents").cast("double")))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$outRoot/dedup_ckpt")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", dedupDir).start()
    }
    val dedupSec = (System.nanoTime() - t0) / 1e9
    val got = spark.read.parquet(dedupDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"),
        sum(col("cents")).as("sum_cents"))
    val want = rangeEvents.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"),
        sum(col("cents")).as("sum_cents"))
    val dedupDiff = got.exceptAll(want).count() + want.exceptAll(got).count()
    check("dedup_exactly_once", dedupDiff == 0,
      s"per-type count/sum diff rows=$dedupDiff over n=$n (~2n delivered)")
    // state holds ids within (watermark, now]: one batch of new ids +
    // the 600 s delay tail; 2x headroom for batch-boundary raggedness
    report("dedup", qd, "2*(rowsPerBatch+600)", 2 * (rowsPerBatch + 600))
    println(f"STREAMGATE TIME path=dedup sec=$dedupSec%.1f")

    // ---- 2. windowed agg, APPEND mode: closed windows evict ----
    val t1 = System.nanoTime()
    val winDir = s"$outRoot/win_out"
    val qw = drain("windowed", n / rowsPerBatch) { () =>
      source(redeliver = false)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_cents"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$outRoot/win_ckpt")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", winDir).start()
    }
    val winSec = (System.nanoTime() - t1) / 1e9
    val (_, _, _, _, wmW) = opStats(qw)
    // append emits exactly the windows the FINAL watermark has closed
    val wmTs = to_timestamp(lit(wmW.replace("T", " ").replace("Z", "")))
    val wantWin = rangeEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .filter(col("window.end") <= wmTs)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_cents"))
    val gotWin = spark.read.parquet(winDir)
    val winDiff = gotWin.exceptAll(wantWin).count() +
      wantWin.exceptAll(gotWin).count()
    check("windowed_append_exact", winDiff == 0,
      s"emitted-closed-windows diff rows=$winDiff " +
        s"(emitted=${gotWin.count()}, watermark=$wmW)")
    // open state: windows whose end is above the (one-batch-lagged)
    // watermark — ts advances 1 s/id, so one batch spans
    // rowsPerBatch/3600 h of event time and its windows evict only at
    // the NEXT batch; x 5 types, 2x headroom. The bound scales with
    // the per-batch event-time span, not the corpus.
    report("windowed", qw, "2*5types*(batchSpanWindows+2)",
      2 * 5 * (rowsPerBatch / 3600 + 2))
    println(f"STREAMGATE TIME path=windowed sec=$winSec%.1f")

    // ---- 3. session windows: exact-triple sessions, cross-batch merge ----
    val t2 = System.nanoTime()
    val sesDir = s"$outRoot/ses_out"
    val qs = drain("session", n / rowsPerBatch) { () =>
      source(redeliver = false)
        .withColumn("skey", (col("event_id") / 3).cast("long") % 5000)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("skey"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"))
        .select(col("session_window.start").as("w_start"), col("skey"),
          col("n_events"), col("sum_ids"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$outRoot/ses_ckpt")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", sesDir).start()
    }
    val sesSec = (System.nanoTime() - t2) / 1e9
    val (_, _, _, _, wmS) = opStats(qs)
    val wmTsS = to_timestamp(lit(wmS.replace("T", " ").replace("Z", "")))
    // sessions = consecutive id triples (1 s apart, next triple for the
    // key 14,998 s away >> the 30 min gap); replay from range(n):
    // session window = [min ts, max ts + gap)
    val wantSes = rangeEvents
      .withColumn("skey", (col("event_id") / 3).cast("long") % 5000)
      .withColumn("grp", (col("event_id") / 3).cast("long"))
      .groupBy(col("grp"), col("skey"))
      .agg(min(col("ts")).as("w_start"),
        (max(col("ts")) + expr("INTERVAL 30 MINUTES")).as("w_end"),
        count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"))
      .filter(col("w_end") <= wmTsS)
      .select(col("w_start"), col("skey"), col("n_events"), col("sum_ids"))
    val gotSes = spark.read.parquet(sesDir)
    val sesDiff = gotSes.exceptAll(wantSes).count() +
      wantSes.exceptAll(gotSes).count()
    check("session_append_exact", sesDiff == 0,
      s"emitted-session diff rows=$sesDiff (emitted=${gotSes.count()}, " +
        s"watermark=$wmS)")
    // in-flight fragments: sessions whose window end is still above the
    // watermark — the gap+delay tail (2400 s of ids) plus one batch
    report("session", qs, "2*(rowsPerBatch+2400)", 2 * (rowsPerBatch + 2400))
    println(f"STREAMGATE TIME path=session sec=$sesSec%.1f")

    val json = results.mkString(
      s"""{"n":$n,"rows_per_batch":$rowsPerBatch,"restart":$restart,""",
      ",", "}")
    Files.writeString(java.nio.file.Paths.get(s"$outRoot/stream_gate.json"),
      json)
    println(s"STREAMGATE done failures=$failures -> $outRoot/stream_gate.json")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
