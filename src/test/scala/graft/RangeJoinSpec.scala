package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom broadcast interval-join operator (plans/IntervalJoin):
  * semantics pinned against the BroadcastNestedLoopJoin form Spark
  * would otherwise plan, plus the operator-specific edges (boundary
  * inclusivity, multi-match, nulls, empty build) and the plan shape. */
class RangeJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def intervals(rows: Seq[(Long, Long, Long)]) = {
    val sq = spark; import sq.implicits._
    rows.toDF("band_id", "lo", "hi")
  }
  private def probes(xs: Seq[java.lang.Long]) = {
    val sq = spark; import sq.implicits._
    xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("pid", "x")
  }

  test("matches the BroadcastNestedLoopJoin form on real event data") {
    val events = Tables.load(spark, TestSpark.sf, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("x"))
    val anchor = events.agg(max(col("x")).as("anchor"))
    val h12 = 12L * 3600L * 1000000L
    val bands = spark.range(8).crossJoin(broadcast(anchor))
      .select((lit(1200) + col("id")).as("band_id"),
        (col("anchor") - (col("id") + 1) * lit(h12) + 1).as("lo"),
        (col("anchor") - col("id") * lit(h12)).as("hi"))
    val custom = plans.IntervalJoin
      .join(events, bands, "x", "x", "lo", "hi")
      .select(col("event_id"), col("r_band_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val bnlj = events.join(broadcast(bands),
        col("x") >= col("lo") && col("x") <= col("hi"))
      .select(col("event_id"), col("band_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(custom.nonEmpty && custom.toSeq == bnlj.toSeq)
  }

  test("boundary inclusivity, multi-match, and miss cases") {
    val build = intervals(Seq((1L, 10L, 20L), (2L, 15L, 30L), (3L, 40L, 40L)))
    val out = plans.IntervalJoin
      .join(probes(Seq(10L, 20L, 17L, 35L, 40L, 41L)),
        build, "x", "x", "lo", "hi")
      .select(col("x"), col("r_band_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out == Seq(
      (10L, 1L),            // x == lo inclusive
      (17L, 1L), (17L, 2L), // overlap region: BOTH intervals match
      (20L, 1L), (20L, 2L), // x == hi inclusive (and inside band 2)
      (40L, 3L)))           // degenerate [40,40] point interval
    // 35 falls in the gap, 41 beyond all his: dropped (inner join)
  }

  test("null probe values and null bounds match nothing") {
    val sq = spark; import sq.implicits._
    val build = Seq((1L, Some(10L), Some(20L)), (2L, None, Some(30L)),
      (3L, Some(5L), None)).toDF("band_id", "lo", "hi")
    val out = plans.IntervalJoin
      .join(probes(Seq(15L, null)), build, "x", "x", "lo", "hi")
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("r_band_id") == 1L)
  }

  test("empty build side yields an empty inner join") {
    val out = plans.IntervalJoin
      .join(probes(Seq(1L, 2L)),
        intervals(Seq.empty), "x", "x", "lo", "hi")
    assert(out.count() == 0)
  }

  test("plan shape: custom exec + broadcast exchange, no BNLJ") {
    val plan = plans.IntervalJoin
      .join(probes(Seq(1L)),
        intervals(Seq((1L, 0L, 5L))), "x", "x", "lo", "hi")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastIntervalJoin"), plan.take(800))
    assert(plan.contains("BroadcastExchange"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  // ---- keyed form: key equality + range ----

  private def keyedIntervals(rows: Seq[(String, Long, Long, Long)]) = {
    val sq = spark; import sq.implicits._
    rows.toDF("k", "band_id", "lo", "hi")
  }
  private def keyedProbes(xs: Seq[(String, java.lang.Long)]) = {
    val sq = spark; import sq.implicits._
    xs.zipWithIndex.map { case ((k, x), i) => (i.toLong, k, x) }
      .toDF("pid", "pk", "x")
  }

  test("keyed: matches the native equi-join + BETWEEN filter on real " +
      "event data with per-key grids") {
    val events = Tables.load(spark, TestSpark.sf, "events")
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("x"))
    val out = operators.EventsPipeline
      .keyedRangeBandCounts(Tables.load(spark, TestSpark.sf, "events"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    // native form: plain equi+filter join over the same construction
    val sq = spark; import sq.implicits._
    val h6 = 6L * 3600L * 1000000L
    val anchor = events.agg(max(col("x")).as("anchor"))
    val types = Seq("click", "error", "purchase", "signup", "view")
    val bands = types.zipWithIndex.toDF("etype", "ti")
      .crossJoin(spark.range(6)).crossJoin(broadcast(anchor))
      .select(col("etype"),
        (lit(100) * (col("ti") + 1) + col("id")).as("band_id"),
        (col("anchor") - (col("id") + 1) * (lit(h6) * (col("ti") + 1)) + 1)
          .as("lo"),
        (col("anchor") - col("id") * (lit(h6) * (col("ti") + 1))).as("hi"))
    val native = events.join(broadcast(bands),
        col("event_type") === col("etype") &&
          col("x").between(col("lo"), col("hi")))
      .groupBy(col("event_type"), col("band_id"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(out.nonEmpty && out.sorted == native)
  }

  test("keyed: key equality gates range matches; null keys and null " +
      "probe values match nothing") {
    val sq = spark; import sq.implicits._
    val build = Seq(
      ("a", 1L, Some(10L), Some(20L)),
      ("b", 2L, Some(10L), Some(20L)),
      (null.asInstanceOf[String], 3L, Some(0L), Some(100L)))
      .toDF("k", "band_id", "lo", "hi")
    val out = plans.IntervalJoin
      .join(
        keyedProbes(Seq(("a", 15L), ("b", 15L), ("c", 15L), ("a", 25L),
          (null, 15L), ("a", null))),
        build, "x", "x", "lo", "hi", Some("pk" -> "k"))
      .select(col("pk"), col("x"), col("r_band_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    // "a"@15 -> band 1 only (not b's identical interval); "c" has no
    // group; "a"@25 out of range; null key / null x drop; the
    // null-key build row matches NOTHING even though its range spans
    // every probe
    assert(out == Seq(("a", 15L, 1L), ("b", 15L, 2L)))
  }

  test("keyed: boundary inclusivity and overlapping intervals within " +
      "one key group") {
    val build = keyedIntervals(Seq(
      ("a", 1L, 10L, 20L), ("a", 2L, 15L, 30L), ("a", 3L, 40L, 40L),
      ("b", 9L, 0L, 100L)))
    val out = plans.IntervalJoin
      .join(
        keyedProbes(Seq(("a", 10L), ("a", 17L), ("a", 20L), ("a", 40L),
          ("a", 35L))),
        build, "x", "x", "lo", "hi", Some("pk" -> "k"))
      .select(col("x"), col("r_band_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out == Seq((10L, 1L), (17L, 1L), (17L, 2L), (20L, 1L),
      (20L, 2L), (40L, 3L)))
  }

  // ---- LEFT OUTER keyed variant: the SCD2 lookup contract ----

  test("keyed left outer: misses survive null-padded exactly once, " +
      "matches are identical to inner") {
    val build = keyedIntervals(Seq(
      ("a", 1L, 10L, 20L), ("a", 2L, 15L, 30L), ("b", 9L, 0L, 100L)))
    val probesDf = keyedProbes(Seq(
      ("a", 17L),             // 2 matches
      ("a", 99L),             // key exists, out of range -> 1 null row
      ("c", 5L),              // no key group -> 1 null row
      (null, 5L), ("a", null) // null key / null value -> 1 null row each
    ))
    val out = plans.IntervalJoin
      .join(probesDf, build,
        "x", "x", "lo", "hi", Some("pk" -> "k"), leftOuter = true)
      .select(col("pid"), col("r_band_id"))
      .collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    assert(out == Seq((0L, 1L), (0L, 2L), (1L, -1L), (2L, -1L),
      (3L, -1L), (4L, -1L)))
  }

  test("keyed left outer: matches the native left join with the range " +
      "predicate inside the join condition, on real event data") {
    val events = Tables.load(spark, TestSpark.sf, "events")
    val out = operators.EventsPipeline.scd2RateLookup(events)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val sq = spark; import sq.implicits._
    val h12 = 12L * 3600L * 1000000L
    val anchor = events.agg(max(unix_micros(col("ts"))).as("anchor"))
    val types = Seq("click", "error", "purchase", "signup", "view")
    val dim = types.zipWithIndex.toDF("etype", "ti")
      .select(col("etype"), explode(sequence(lit(0), col("ti") + 1)).as("v"))
      .crossJoin(broadcast(anchor))
      .select(col("etype"), col("v").cast("long").as("version"),
        (col("anchor") - (col("v") + 1) * lit(h12) + 1).as("valid_from"),
        (col("anchor") - col("v") * lit(h12)).as("valid_to"))
    val native = events
      .select(col("event_type"), unix_micros(col("ts")).as("x"))
      .join(broadcast(dim),
        col("event_type") === col("etype") &&
          col("x").between(col("valid_from"), col("valid_to")),
        "left_outer")
      .groupBy(col("event_type"),
        coalesce(col("version"), lit(-1L)).as("version"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(out.nonEmpty && out.sorted == native)
    // the miss bucket must actually be exercised
    assert(out.exists(_._2 == -1L))
  }

  test("keyed: empty build and plan shape") {
    val empty = plans.IntervalJoin.join(
      keyedProbes(Seq(("a", 1L))), keyedIntervals(Seq.empty),
      "x", "x", "lo", "hi", Some("pk" -> "k"))
    assert(empty.count() == 0)
    val plan = plans.IntervalJoin.join(
      keyedProbes(Seq(("a", 1L))),
      keyedIntervals(Seq(("a", 1L, 0L, 5L))), "x", "x", "lo", "hi",
      Some("pk" -> "k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastIntervalJoin"), plan.take(800))
    assert(plan.contains("BroadcastExchange"), plan.take(800))
    assert(!plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  // ---- interval-OVERLAP form: an interval probe ----

  private def ivProbes(xs: Seq[(java.lang.Long, java.lang.Long)]) = {
    val sq = spark; import sq.implicits._
    xs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
      .toDF("pid", "s", "e")
  }

  test("overlap: matches the BroadcastNestedLoopJoin overlap form on " +
      "real session data") {
    val events = Tables.load(spark, TestSpark.sf, "events")
    val out = operators.EventsPipeline.sessionOverlapWindows(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    // native: same sessions and grids joined by the literal predicate
    val sessions = operators.EventsPipeline.sessionize(events)
      .select(col("n_events"),
        unix_micros(col("session_start")).as("s"),
        unix_micros(col("session_end")).as("e"))
    val h6 = 6L * 3600L * 1000000L
    val anchor = events.agg(max(unix_micros(col("ts"))).as("anchor"))
    def grid(tag: Int, n: Int, w: Long) =
      spark.range(n).crossJoin(broadcast(anchor))
        .select((lit(tag) + col("id")).as("window_id"),
          (col("anchor") - (col("id") + 1) * lit(w) + 1).as("lo"),
          (col("anchor") - col("id") * lit(w)).as("hi"))
    val wins = grid(600, 12, h6).unionAll(grid(1200, 6, 2 * h6))
    val native = sessions.join(broadcast(wins),
        col("lo") <= col("e") && col("hi") >= col("s"))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("sum_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(out.nonEmpty && out.sorted == native)
  }

  test("overlap: full taxonomy — touching endpoints, containment both " +
      "directions, partial overlaps, disjoint, reversed, nulls") {
    val build = intervals(Seq((1L, 10L, 20L)))
    val out = plans.IntervalJoin.join(
      ivProbes(Seq(
        (0L, 5L),     // disjoint left (hi 5 < lo 10)
        (5L, 10L),    // touches at lo -> overlap
        (8L, 12L),    // partial left
        (12L, 18L),   // probe inside build
        (5L, 25L),    // build inside probe
        (18L, 25L),   // partial right
        (20L, 30L),   // touches at hi -> overlap
        (21L, 30L),   // disjoint right
        (25L, 15L),   // reversed: lo<=15 true, hi>=25 false -> no match
        (null, 15L), (15L, null))), // null endpoints match nothing
      build, "s", "e", "lo", "hi")
      .select(col("pid")).collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("overlap: reversed probe spanned by a wide build interval still " +
      "follows the SQL predicate") {
    // predicate lo <= e AND hi >= s with s=25, e=15 against [0, 100]:
    // 0 <= 15 && 100 >= 25 -> MATCHES (mechanical SQL semantics, same
    // as the BNLJ form — pinned so nobody "fixes" it to interval logic)
    val out = plans.IntervalJoin.join(
      ivProbes(Seq((25L, 15L))), intervals(Seq((7L, 0L, 100L))),
      "s", "e", "lo", "hi")
      .select(col("r_band_id")).collect().map(_.getLong(0)).toSeq
    assert(out == Seq(7L))
  }

  test("overlap: multi-match across adjacent windows and empty build") {
    val build = intervals(Seq((1L, 0L, 9L), (2L, 10L, 19L), (3L, 20L, 29L)))
    val out = plans.IntervalJoin.join(
      ivProbes(Seq((5L, 25L))), build, "s", "e", "lo", "hi")
      .select(col("r_band_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L))
    val empty = plans.IntervalJoin.join(
      ivProbes(Seq((1L, 2L))), intervals(Seq.empty), "s", "e", "lo", "hi")
    assert(empty.count() == 0)
  }

  test("broadcast mode: the driver-built relation survives a Java " +
      "serialization round-trip (the real-cluster wire path local " +
      "mode may shortcut)") {
    val sq = spark; import sq.implicits._
    val build = Seq((1L, 10L, 20L), (2L, 15L, 30L), (3L, 40L, 41L))
      .toDF("band_id", "lo", "hi")
    val plan = build.queryExecution.executedPlan
    val attrs = plan.output
    val mode = plans.RangeIndexSupport.IntervalIndexBroadcastMode(
      None, attrs(1), attrs(2), attrs)
    val rel = mode.transform(
      build.queryExecution.executedPlan.executeCollect()
        .map(_.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
      .asInstanceOf[
        org.apache.spark.sql.execution.graftshim.DriverBuiltRelation]
    assert(rel.estimatedSize > 0)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(rel); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[
        org.apache.spark.sql.execution.graftshim.DriverBuiltRelation]
    val idx = back.payload.asInstanceOf[
      graft.plans.RangeIndexSupport.Groups].values.iterator.next()
    // the deserialized index must reproduce the probe semantics: x=17
    // hits bands 1 and 2, x=35 hits nothing, x=40 hits band 3
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.types.LongType
    val cmp = graft.plans.RangeIndexSupport.ordering(LongType)
    def hits(x: Long): Seq[Long] = {
      val row = org.apache.spark.sql.catalyst.InternalRow(x)
      val proj = UnsafeProjection.create(Array[org.apache.spark.sql
        .types.DataType](LongType))
      val probeRow = proj(row).copy()
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val outProj = UnsafeProjection.create(
        Seq(LongType, LongType, LongType, LongType).toArray[
          org.apache.spark.sql.types.DataType])
      graft.plans.RangeIndexSupport
        .probe(idx, cmp, probeRow, probeRow, probeRow, joined, outProj)
        .map(_.getLong(1)).toSeq.sorted
    }
    assert(hits(17L) == Seq(1L, 2L))
    assert(hits(35L) == Seq.empty)
    assert(hits(40L) == Seq(3L))
  }

  test("overlap: null build bounds match nothing; plan shape") {
    val sq = spark; import sq.implicits._
    val build = Seq((1L, Some(0L), Some(100L)), (2L, None, Some(100L)),
      (3L, Some(0L), None)).toDF("band_id", "lo", "hi")
    val df = plans.IntervalJoin.join(
      ivProbes(Seq((5L, 10L))), build, "s", "e", "lo", "hi")
    assert(df.select(col("r_band_id")).collect().map(_.getLong(0)).toSeq
      == Seq(1L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastIntervalJoin"), plan.take(800))
    assert(plan.contains("BroadcastExchange"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  // ---- broadcast-ceiling guard: over-threshold builds take the exact
  // binned equi-join shuffle plan (plans/BinnedRangeFallback) ----

  /** Run `body` with the range-join build-size ceiling forced to -1
    * (every build side "over ceiling" → binned plan), restoring the
    * default afterwards. */
  private def forcedFallback[T](body: => T): T = {
    spark.conf.set(plans.BinnedRangeFallback.CeilingConf, "-1")
    try body
    finally spark.conf.unset(plans.BinnedRangeFallback.CeilingConf)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("ceiling gate: binned fallback matches the broadcast exec on " +
      "every containment edge case (boundary, multi-match, nulls, " +
      "empty build)") {
    val sq = spark; import sq.implicits._
    val build = intervals(Seq((1L, 10L, 20L), (2L, 15L, 30L), (3L, 40L, 40L)))
    val nullBuild = Seq((1L, Some(10L), Some(20L)), (2L, None, Some(30L)),
      (3L, Some(5L), None)).toDF("band_id", "lo", "hi")
    val ps = probes(Seq(10L, 20L, 17L, 35L, 40L, 41L, null))
    def run() = Seq(
      rows(plans.IntervalJoin.join(ps, build, "x", "x", "lo", "hi")),
      rows(plans.IntervalJoin
        .join(ps, nullBuild, "x", "x", "lo", "hi")),
      rows(plans.IntervalJoin
        .join(ps, intervals(Seq.empty), "x", "x", "lo", "hi")))
    val broadcastForm = run()
    val binnedForm = forcedFallback(run())
    assert(binnedForm == broadcastForm)
    assert(broadcastForm.head.nonEmpty)
  }

  test("ceiling gate: keyed fallback matches the exec, inner and LEFT " +
      "OUTER (SCD2 miss rows null-padded exactly once)") {
    val build = keyedIntervals(Seq(
      ("a", 1L, 10L, 20L), ("a", 2L, 15L, 30L), ("b", 9L, 0L, 100L)))
    val ps = keyedProbes(Seq(("a", 17L), ("a", 99L), ("c", 5L),
      (null, 5L), ("a", null), ("b", 50L)))
    def run() = Seq(
      rows(plans.IntervalJoin.join(
        ps, build, "x", "x", "lo", "hi", Some("pk" -> "k"))),
      rows(plans.IntervalJoin.join(
        ps, build, "x", "x", "lo", "hi", Some("pk" -> "k"),
        leftOuter = true)),
      rows(plans.IntervalJoin.join(
        ps, keyedIntervals(Seq.empty), "x", "x", "lo", "hi",
        Some("pk" -> "k"),
        leftOuter = true)))
    val broadcastForm = run()
    val binnedForm = forcedFallback(run())
    assert(binnedForm == broadcastForm)
    // the left-outer empty-build leg must keep every probe row
    assert(broadcastForm(2).size == 6)
  }

  test("ceiling gate: overlap fallback matches the exec across the " +
      "taxonomy, including the reversed probe spanned by a wide build") {
    val build = intervals(Seq((1L, 0L, 9L), (2L, 10L, 19L), (3L, 20L, 29L)))
    val wide = intervals(Seq((7L, 0L, 100L)))
    val ps = ivProbes(Seq((0L, 5L), (5L, 10L), (8L, 12L), (12L, 18L),
      (5L, 25L), (18L, 25L), (20L, 30L), (21L, 30L), (25L, 15L),
      (null, 15L), (15L, null)))
    def run() = Seq(
      rows(plans.IntervalJoin
        .join(ps, build, "s", "e", "lo", "hi")),
      rows(plans.IntervalJoin
        .join(ps, wide, "s", "e", "lo", "hi")),
      rows(plans.IntervalJoin.join(
        ps, intervals(Seq.empty), "s", "e", "lo", "hi")))
    val broadcastForm = run()
    val binnedForm = forcedFallback(run())
    assert(binnedForm == broadcastForm)
    // reversed probe (25,15) vs [0,100] must match under BOTH plans
    assert(broadcastForm(1).exists(_.contains("7")))
  }

  test("ceiling gate: the four catalog range queries are row-identical " +
      "both sides of the threshold on real event data") {
    val events = Tables.load(spark, TestSpark.sf, "events")
    def run() = Seq(
      rows(operators.EventsPipeline.rangeBandCounts(events)),
      rows(operators.EventsPipeline.keyedRangeBandCounts(events)),
      rows(operators.EventsPipeline.sessionOverlapWindows(events)),
      rows(operators.EventsPipeline.scd2RateLookup(events)))
    val broadcastForm = run()
    val binnedForm = forcedFallback(run())
    assert(binnedForm == broadcastForm)
    assert(broadcastForm.forall(_.nonEmpty))
  }

  test("ceiling gate: the fallback plans an equi-join — no driver-built " +
      "index, no BroadcastNestedLoopJoin") {
    val plan = forcedFallback {
      plans.IntervalJoin.join(probes(Seq(1L)),
        intervals(Seq((1L, 0L, 5L))), "x", "x", "lo", "hi")
        .queryExecution.executedPlan.toString
    }
    assert(!plan.contains("BroadcastIntervalJoin"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(plan.contains("Join"), plan.take(800))
    // under the default ceiling the dimension-sized build still takes
    // the index plan
    val normal = plans.IntervalJoin.join(probes(Seq(1L)),
      intervals(Seq((1L, 0L, 5L))), "x", "x", "lo", "hi")
      .queryExecution.executedPlan.toString
    assert(normal.contains("BroadcastIntervalJoin"), normal.take(800))
  }

  test("overlap: reversed BUILD intervals match identically under both " +
      "plans (kept by the binned fallback, binned over physical span)") {
    // band 5 is REVERSED (hi < lo): the inclusive overlap predicate
    // lo <= e AND hi >= s matches it exactly when the probe spans the
    // whole reversal (s <= 10 AND e >= 20) — the broadcast exec keeps
    // it in the index, so the binned plan must keep it too (ADVICE r12)
    val build = intervals(Seq((1L, 0L, 9L), (5L, 20L, 10L), (2L, 30L, 40L)))
    val ps = ivProbes(Seq(
      (5L, 25L),   // spans the reversal -> matches band 5
      (10L, 20L),  // spans it exactly at the endpoints -> matches
      (12L, 18L),  // inside the reversal but spans neither end -> no
      (15L, 35L),  // e >= 20 but s > 10 -> no (matches band 2 only)
      (25L, 5L)))  // reversed probe vs reversed build -> impossible
    def run(force: Boolean) = rows(plans.IntervalJoin.join(
      ps, build, "s", "e", "lo", "hi", forceBinned = force))
    val broadcastForm = run(force = false)
    val binnedForm = run(force = true)
    assert(binnedForm == broadcastForm)
    // non-vacuous: the reversed band matches exactly the two spanning
    // probes under the broadcast exec (so the fallback dropping it
    // would be a real divergence, not a no-op)
    assert(broadcastForm.count(_.endsWith("5,20,10]")) == 2)
  }

  test("ceiling gate: unsupported bound types keep the broadcast plan " +
      "regardless of the size estimate") {
    val sq = spark; import sq.implicits._
    // string bounds: orderable by the exec's GenerateOrdering, not
    // bucketable by the binned plan — the size flip must not fire
    // (previously threw IllegalArgumentException, ADVICE r12)
    val build = Seq((1L, "b", "d"), (2L, "m", "p")).toDF("band_id", "lo", "hi")
    val ps = Seq((1L, "c"), (2L, "n"), (3L, "z")).toDF("pid", "x")
    val out = forcedFallback {
      plans.IntervalJoin.join(ps, build, "x", "x", "lo", "hi")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastIntervalJoin"), plan.take(800))
    assert(out.select(col("pid"), col("r_band_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      == Seq((1L, 1L), (2L, 2L)))
  }

  test("forceBinned on an unsupported bound type throws at " +
      "construction (pre-convert the bounds)") {
    val sq = spark; import sq.implicits._
    val build = Seq((1L, "b", "d")).toDF("band_id", "lo", "hi")
    val ps = Seq((1L, "c")).toDF("pid", "x")
    val e = intercept[IllegalArgumentException] {
      plans.IntervalJoin.join(ps, build, "x", "x", "lo", "hi",
        forceBinned = true)
    }
    assert(e.getMessage.contains("integral or timestamp"))
  }

  test("keyed: floating-point BUILD-side keys are rejected like " +
      "probe-side keys (no implicit-cast bypass)") {
    val sq = spark; import sq.implicits._
    val build = Seq((1.0d, 1L, 0L, 10L)).toDF("k", "band_id", "lo", "hi")
    val ps = Seq((1L, 1L, 5L)).toDF("pid", "pk", "x")
    val e = intercept[IllegalArgumentException] {
      plans.IntervalJoin.join(
        ps, build, "x", "x", "lo", "hi", Some("pk" -> "k"))
    }
    assert(e.getMessage.contains("build side"))
  }

  test("forceBinned takes the binned plan with no conf mutation and " +
      "matches the broadcast form (keyed, inner + left outer)") {
    val build = keyedIntervals(Seq(
      ("a", 1L, 10L, 20L), ("a", 2L, 15L, 30L), ("b", 9L, 0L, 100L)))
    val ps = keyedProbes(Seq(("a", 17L), ("a", 99L), ("c", 5L),
      (null, 5L), ("a", null), ("b", 50L)))
    def run(force: Boolean) = Seq(
      rows(plans.IntervalJoin.join(
        ps, build, "x", "x", "lo", "hi", Some("pk" -> "k"),
        forceBinned = force)),
      rows(plans.IntervalJoin.join(
        ps, build, "x", "x", "lo", "hi", Some("pk" -> "k"),
        leftOuter = true,
        forceBinned = force)))
    assert(run(force = true) == run(force = false))
    // and the forced plan really is the equi-join, not the exec
    val plan = plans.IntervalJoin.join(
      ps, build, "x", "x", "lo", "hi", Some("pk" -> "k"),
      forceBinned = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastIntervalJoin"), plan.take(800))
  }
}
