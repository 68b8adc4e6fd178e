package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Task-retry determinism for the custom physical operators (VERDICT
  * r11 item 2): at cluster scale, task retries and speculation re-run
  * operator code against re-fetched shuffle input — often in a
  * DIFFERENT arrival order — and any ordering-dependent state (the
  * as-of merge cursor, the bounded top-k heaps, the range-index probe
  * walks) is the classic source of silently-wrong retried output.
  *
  * Method: the shared test master is `local[4,2]` (maxFailures = 2),
  * and [[collectWithRetries]] appends a NARROW map to the operator's
  * output RDD — same stage as the exec — that consumes a few rows and
  * then kills every task's FIRST attempt. Spark retries each task once;
  * the retried attempt re-executes the custom exec (and re-fetches its
  * shuffle/broadcast input). The assertion is exact multiset equality
  * with the uninjected run.
  *
  * Every custom exec runs here: AsOfJoinExec (backward + forward),
  * BroadcastIntervalJoinExec (point probe; keyed inner + LEFT OUTER;
  * interval probe), TopKPerGroupExec, and the AuditedJsonlSink DSv2
  * write path (whose retried write task must publish exactly-once
  * through the 2-phase commit). The binned
  * over-ceiling fallback plan is retried too, so both sides of the
  * broadcast-ceiling threshold hold under retry. */
class RetrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Rows of `df` with every task's first attempt killed after
    * consuming up to 3 rows (mid-operator, so partially-built state is
    * genuinely discarded). The map is narrow — no new stage — so the
    * retried task re-runs the custom exec itself. */
  private def collectWithRetries(df: DataFrame): Seq[String] = {
    df.rdd.mapPartitions { it =>
      if (TaskContext.get().attemptNumber() == 0) {
        var n = 0
        while (n < 3 && it.hasNext) { it.next(); n += 1 }
        throw new RuntimeException(
          "graft-retry-injection: first attempt killed")
      }
      it
    }.collect().map(_.toString).sorted.toSeq
  }

  private def assertRetryStable(df: DataFrame): Unit = {
    val expected = df.collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "vacuous retry case: operator emitted 0 rows")
    assert(collectWithRetries(df) == expected)
  }

  private lazy val events = Tables.load(spark, TestSpark.sf, "events")

  test("as-of join (backward and forward) is retry-deterministic") {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    Seq("backward", "forward").foreach { dir =>
      assertRetryStable(plans.AsOfJoin.asofJoin(views, purchases,
        Seq("user_id"), Seq("ts", "event_id"), direction = dir))
    }
  }

  private def bands(n: Int, w: Long, tag: Int): DataFrame = {
    val anchor = events.agg(max(unix_micros(col("ts"))).as("anchor"))
    spark.range(n).crossJoin(broadcast(anchor))
      .select((lit(tag) + col("id")).as("band_id"),
        (col("anchor") - (col("id") + 1) * lit(w) + 1).as("lo"),
        (col("anchor") - col("id") * lit(w)).as("hi"))
  }
  private val H6 = 6L * 3600L * 1000000L

  test("broadcast range join is retry-deterministic (both plans)") {
    val probe = events.select(col("event_id"),
      unix_micros(col("ts")).as("x"))
    val df = plans.IntervalJoin.join(
      probe, bands(8, H6, 600), "x", "x", "lo", "hi")
    assertRetryStable(df)
    spark.conf.set(plans.BinnedRangeFallback.CeilingConf, "-1")
    try assertRetryStable(plans.IntervalJoin.join(
      probe, bands(8, H6, 600), "x", "x", "lo", "hi"))
    finally spark.conf.unset(plans.BinnedRangeFallback.CeilingConf)
  }

  test("keyed broadcast range join (inner + LEFT OUTER) is " +
      "retry-deterministic") {
    val sq = spark; import sq.implicits._
    val keyed = Seq("click", "error", "purchase", "signup", "view")
      .zipWithIndex.toDF("etype", "ti")
      .crossJoin(bands(6, H6, 100))
      .select(col("etype"), (col("band_id") + col("ti") * 100).as("band_id"),
        col("lo"), col("hi"))
    val probe = events.select(col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("x"))
    assertRetryStable(plans.IntervalJoin.join(
      probe, keyed, "x", "x", "lo", "hi", Some("event_type" -> "etype")))
    assertRetryStable(plans.IntervalJoin.join(
      probe, keyed, "x", "x", "lo", "hi", Some("event_type" -> "etype"),
      leftOuter = true))
  }

  test("broadcast overlap join is retry-deterministic") {
    val sessions = operators.EventsPipeline.sessionize(events)
      .select(col("user_id"), col("session_id"),
        unix_micros(col("session_start")).as("s"),
        unix_micros(col("session_end")).as("e"))
    assertRetryStable(plans.IntervalJoin.join(
      sessions, bands(12, H6, 600), "s", "e", "lo", "hi"))
  }

  test("top-k per group (bounded heaps) is retry-deterministic") {
    assertRetryStable(plans.TopKPerGroup.topKPerGroup(
      events.select(col("event_id"), col("event_type"), col("value")),
      Seq("event_type"), Seq(("value", true), ("event_id", false)), k = 3))
  }

  test("streaming stateful aggregation: state-store tasks that die on " +
      "their first attempt in EVERY micro-batch still drain to exact " +
      "batch parity") {
    // The filter sits ABOVE the stateful agg in the same stage as the
    // StateStoreSave, so the injected first-attempt death aborts the
    // store mid-commit; the retried attempt must re-run the update from
    // the shuffle data and commit exactly once — the streaming twin of
    // the batch retry cases (state-store visibility is all-or-nothing
    // per attempt).
    val dieOnce = udf(() => {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException(
          "graft-retry-injection: state task first attempt killed")
      true
    })
    val agg = spark.readStream
      .format("graft.sources.SyntheticEventsSource")
      .option("n", 2000).option("slices", 2).option("rowsPerBatch", 500)
      .load()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
      .filter(dieOnce())
      .select(col("window.start").as("ws"), col("event_type"),
        col("cnt"), col("sum_cents"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("retry_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not drain under retries")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected several real micro-batches")
    val streamed = spark.table("retry_stream")
      .collect().map(_.toString).sorted.toSeq
    val batch = spark.read.format("graft.sources.SyntheticEventsSource")
      .option("n", 2000).load()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("cnt"), col("sum_cents"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("DSv2 audited sink: a write task that dies mid-write publishes " +
      "exactly once after retry (2-phase commit)") {
    val sq = spark; import sq.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_retry_sink").toString + "/out"
    val df = spark.sparkContext.parallelize(1L to 100L, 3)
      .mapPartitions { it =>
        val attempt = TaskContext.get().attemptNumber()
        it.zipWithIndex.map { case (x, i) =>
          // die after 5 rows are already in the attempt's temp file:
          // the abort path must discard them and the retried attempt's
          // commit must be the only one published
          if (attempt == 0 && i == 5) throw new RuntimeException(
            "graft-retry-injection: writer killed mid-file")
          x
        }
      }.toDF("id")
    df.write.format("graft.sources.AuditedJsonlSink")
      .option("path", dir).mode("append").save()
    val back = spark.read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
      .json(dir + "/part-*.jsonl")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(back == (1L to 100L), s"exactly-once violated: got ${back.size} rows")
    val manifest = scala.io.Source.fromFile(
      new java.io.File(dir, "_MANIFEST"))
    val lines = try manifest.getLines().toSeq finally manifest.close()
    assert(lines.last == """{"total_rows":100}""")
  }
}
