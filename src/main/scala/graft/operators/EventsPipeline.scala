package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Cols._

/** Reference-surface operators (SURVEY.md §2.1–§2.8, §3.2–§3.3), re-expressed
  * over the `events` fixture table (SURVEY.md §1.5: `ts`↔`producer_timestamp`,
  * `user_id`/`event_type`↔`location_name`, `value`↔the selectable metric,
  * `props`↔the raw nested payload).
  *
  * Reference behavior being reproduced (citations into /root/reference/):
  *  - time-range query: app.py:274-341 (`find({ts: {$gte: start}})` + sort)
  *  - required-key filter: app.py:251-252
  *  - rename/tag projection: app.py:328-334
  *  - top-1 latest record: app.py:177, app.py:363
  *  - global count/avg/min/max: app.py:488-497
  *  - parse-or-drop timestamps: app.py:207-218, 256-261
  *  - label formatting: app.py:450, 460, 463
  *  - JSON field extraction: producer.py:92-100, app.py:156
  *
  * Scale notes: every query anchors "now" to `max(ts)` computed by a scalar
  * aggregate that is broadcast back (one extra scan — same cost shape as the
  * oracle's scalar subquery; at 100 TB the anchor would come from partition
  * metadata or a watermark instead, but the plan shape — scan with pushed
  * range filter — is the scalable one). Filters and projections are plain
  * Catalyst expressions, so they reach the Parquet scan (PushedFilters).
  */
object EventsPipeline {

  /** Broadcast single-row {anchor = max(ts)} joined onto `df` — the
    * deterministic stand-in for `datetime.now(UTC)` (app.py:301). */
  def withAnchor(events: DataFrame): DataFrame =
    events.crossJoin(broadcast(events.agg(max(col("ts")).as("anchor"))))

  /** Flagship historical-view query (app.py:274-341, SURVEY.md §3.3):
    * range filter, projection (with the reference's rename to
    * timestamp/value), time-ascending sort. The reference fetched full
    * documents and pruned client-side; here pruning+predicate reach the scan. */
  def historicalRange(events: DataFrame, hours: Int = 24): DataFrame =
    withAnchor(events)
      .filter(col("ts") >= col("anchor") - expr(s"INTERVAL $hours HOURS"))
      .select(
        col("event_id"),
        col("ts").as("timestamp"),
        col("user_id"),
        col("event_type"),
        col("value"))
      .orderBy(col("timestamp"), col("event_id"))

  /** Scan-pushdown variant of [[historicalRange]]: resolves the anchor as
    * a scalar aggregate first, then filters the RAW on-disk column with a
    * literal, which Parquet accepts as a pushed row-group/page filter —
    * `.explain` shows `PushedFilters: [GreaterThanOrEqual(ts, …)]`. The
    * single-plan broadcast form above cannot push (the bound is a join
    * output and `ts` sits inside a conversion expression), so at 100 TB it
    * would scan every row-group; this form skips row groups outside the
    * window. Branched on the fixture vintage (see Tables.normalizeTs):
    * long-nanos vintage pushes a long literal whose ns cutoff
    * `(max_us − Δus)·1000` is exactly equivalent to the µs-truncated
    * predicate (`floor(x/1000) ≥ c ⟺ x ≥ 1000c`); the TIMESTAMP(MICROS)
    * vintage pushes a LocalDateTime literal against the NTZ column. Both
    * produce results identical to the oracle's µs comparison. */
  def historicalRangeScan(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, hours: Int = 24): DataFrame = {
    import graft.Tables
    val raw = Tables.raw(spark, sfDir, "events")
    val filtered = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        val maxNs = raw.agg(max(col("ts"))).head().getLong(0)
        val cutoffNs = (maxNs / 1000L - hours * 3600L * 1000000L) * 1000L
        raw.filter(col("ts") >= cutoffNs)
      case org.apache.spark.sql.types.TimestampNTZType =>
        val maxTs = raw.agg(max(col("ts"))).head()
          .getAs[java.time.LocalDateTime](0)
        raw.filter(col("ts") >= lit(maxTs.minusHours(hours.toLong)))
      case org.apache.spark.sql.types.TimestampType =>
        // getTimestamp, not getAs[Instant]: with the default
        // spark.sql.datetime.java8API.enabled=false, TimestampType
        // collects as java.sql.Timestamp
        val maxTs = raw.agg(max(col("ts"))).head()
          .getTimestamp(0).toInstant
        raw.filter(col("ts") >= lit(maxTs.minusSeconds(hours * 3600L)))
      case other => throw new IllegalStateException(
        s"events.ts arrived as $other; historicalRangeScan handles the " +
          "long-nanos, TIMESTAMP_NTZ and TIMESTAMP vintages " +
          "(Tables.contract). Extend the scan branch for the new vintage.")
    }
    Tables.normalizeTs(filtered)
      .select(
        col("event_id"),
        col("ts").as("timestamp"),
        col("user_id"),
        col("event_type"),
        col("value"))
      .orderBy(col("timestamp"), col("event_id"))
  }

  /** Summary aggregates over the range (app.py:488-497): count, mean, max,
    * min of the metric plus the timestamp span. Global (ungrouped) agg,
    * computed map-side-partial then merged — no full shuffle of the data. */
  def rangeSummary(events: DataFrame, hours: Int = 24): DataFrame =
    withAnchor(events)
      .filter(col("ts") >= col("anchor") - expr(s"INTERVAL $hours HOURS"))
      .agg(
        count(col("value")).as("n_records"),
        decAvg(col("value")).as("avg_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))

  /** Required-key predicate (app.py:251-252): keep rows with all required
    * fields present; then the per-series record counts the dashboard shows. */
  def requiredKeyCounts(events: DataFrame): DataFrame =
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Rename + reorder + literal-tag projection (app.py:328-334: metric →
    * "value", producer_timestamp → "timestamp", constant metric_type). */
  def renameTag(events: DataFrame, metric: String = "value"): DataFrame =
    events
      .withColumnRenamed("ts", "timestamp")
      .select(col("event_id"), col("timestamp"), col("user_id"),
        col(metric).as("value"))
      .withColumn("metric_type", lit(metric))
      .orderBy(col("event_id"))

  /** Top-1 latest record (app.py:177 find_one(sort desc); app.py:363).
    * Plans as TakeOrderedAndProject — no global sort materialization. */
  def latestRecord(events: DataFrame): DataFrame =
    events.orderBy(col("ts").desc, col("event_id").desc).limit(1)

  /** The reference's {1h,24h,7d,30d} time-delta lookup (app.py:293-298)
    * as one bucketed aggregation: each row labeled with the narrowest
    * bucket containing it, counts per bucket. */
  def timeBuckets(events: DataFrame): DataFrame = {
    val age = col("anchor").cast("long") - col("ts").cast("long")
    withAnchor(events)
      .withColumn("bucket",
        when(age <= 3600L, "1h")
          .when(age <= 86400L, "24h")
          .when(age <= 7L * 86400L, "7d")
          .when(age <= 30L * 86400L, "30d")
          .otherwise("older"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), decAvg(col("value")).as("avg_value"))
      .orderBy(col("bucket"))
  }

  /** Per-series grouped aggregation — the chart's per-location series
    * (app.py:402, :469) generalized to a grouped agg (SURVEY.md §2.4). */
  def groupedSeries(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        decAvg(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("user_id"), col("event_type"))

  /** Label scalar functions (app.py:450,460,463 `replace('_',' ').title()`;
    * app.py:496-497 strftime) → initcap/regexp_replace/date_format. */
  def labels(events: DataFrame): DataFrame =
    events
      .filter(col("event_id") < 100)
      .select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm").as("ts_label"),
        initcap(regexp_replace(col("event_type"), "_", " ")).as("series_label"),
        round(col("value"), 1).as("value_rounded"))
      .orderBy(col("event_id"))

  /** JSON path extraction (producer.py:92-100 flattening; app.py:156
    * deserializer) over the `props` JSON payload, then grouped agg.
    *
    * The payload is parsed EXACTLY ONCE per row: `from_json` with a pruned
    * one-field schema in a single projection, and no per-row filter that
    * predicate-pushdown could duplicate below it (the earlier
    * `get_json_object` + filter form re-parsed up to 4× per row after
    * projection collapse). Null payloads are excluded inside the
    * aggregates (`count/sum/avg` all skip nulls) and empty groups dropped
    * by the post-aggregation HAVING — per-row work is one parse + one
    * field read. */
  def jsonExtract(events: DataFrame): DataFrame =
    events
      .select(
        col("event_type"),
        from_json(col("props"), "k INT", Map.empty[String, String])
          .getField("k").as("k_val"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k_val")).as("n"),
        sum(col("k_val")).as("sum_k"),
        decAvg(col("k_val"), 0).as("avg_k"))
      .filter(col("n") > 0)
      .orderBy(col("event_type"))

  /** Parse-or-drop timestamp semantics (app.py:207-218: fromisoformat, skip
    * row on failure). A string timestamp column is derived (with every 10th
    * row corrupted, mirroring malformed producer records), parsed with
    * `to_timestamp` (null on failure), and nulls dropped. */
  def parseOrDrop(events: DataFrame): DataFrame =
    events
      .withColumn("ts_str",
        when(col("event_id") % 10 === 0, lit("not-a-timestamp"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
      .withColumn("parsed",
        try_to_timestamp(col("ts_str"), lit("yyyy-MM-dd HH:mm:ss")))
      .filter(col("parsed").isNotNull)
      .select(col("event_id"), col("parsed"))
      .orderBy(col("event_id"))

  /** PERMISSIVE corrupt-record surfacing — the other half of the
    * reference's skip-malformed rule (app.py:207-218 LOGS every skipped
    * record before dropping it): count and inspect the rejects instead of
    * silently dropping. Corruption is derived deterministically
    * (event_id % 10) mirroring producer malformations: truncated JSON,
    * wrong-typed field, missing field, null payload.
    *
    * `from_json` runs in PERMISSIVE mode with columnNameOfCorruptRecord,
    * so the raw reject text rides along each failed parse; the output
    * pins per-class counts, how many rows PERMISSIVE captured (malformed
    * text and type-conversion failures are captured; a merely-missing
    * field is not), and min() as an inspectable sample reject. One scan,
    * one parse per row, one tiny (≤5-group) aggregation. */
  def corruptRecords(events: DataFrame): DataFrame = {
    val m = col("event_id") % 10
    val payload = when(m === 0, expr("substring(props, 1, length(props) - 1)"))
      .when(m === 1,
        concat(lit("{\"k\": \"s"), col("event_id").cast("string"), lit("\"}")))
      .when(m === 2, lit("{}"))
      .when(m === 3, lit(null).cast("string"))
      .otherwise(col("props"))
    val parsed = from_json(payload, "k INT, _corrupt_record STRING",
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record"))
    events
      .select(payload.as("payload"), parsed.getField("k").as("k"),
        parsed.getField("_corrupt_record").as("corrupt"))
      // ONE parse per row: classes derive from the parse result itself;
      // only captured rows (corrupt != null) pay a second, validity-only
      // parse to split malformed text from type-conversion failures
      // (`when` branches evaluate lazily in codegen).
      .withColumn("failure_class",
        when(col("payload").isNull, "null_payload")
          .when(col("corrupt").isNull && col("k").isNull, "missing_field")
          .when(col("corrupt").isNull, "valid")
          .when(try_parse_json(col("payload")).isNull, "malformed_json")
          .otherwise("wrong_type"))
      .groupBy(col("failure_class"))
      .agg(
        count(lit(1)).as("n"),
        count(col("corrupt")).as("n_captured"),
        min(col("corrupt")).as("sample_reject"))
      .orderBy(col("failure_class"))
  }

  /** Tumbling-window aggregation in batch form (the idiomatic upgrade of
    * the reference's poll-loop micro-batching, SURVEY.md §2.8/T4):
    * per-hour record counts + exact value sums. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Gap-based sessionization (batch form of session windows): a new
    * session starts after a >30 min silence per user. Pure integer/window
    * arithmetic → deterministic across engines. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Native `session_window` aggregation — the engine operator that
    * [[sessionize]]'s manual gaps-and-islands formulation reimplements.
    * Semantics differ at the exact boundary: session_window merges
    * events whose [ts, ts+gap) windows OVERLAP, so a gap of exactly
    * `gapMinutes` starts a NEW session (the manual form's `> gap` test
    * keeps it). The oracle replays the native `>=` boundary. In
    * Structured Streaming the identical expression is state-store
    * backed; in batch it plans as a plain hash aggregate over the
    * merged windows — one shuffle by (user, session), no window
    * function, which is why it's the preferred form at scale. */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("user_id"),
        col("sw.start").as("session_start"),
        col("sw.end").as("session_end"),
        col("last_ts"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** As-of enrichment (SURVEY.md §2.3 as-of row): for every event, the
    * timestamp of the same user's most recent 'purchase' at or before it.
    * Expressed as a running `last(..., ignoreNulls)` over the user's
    * timeline — one shuffle by user_id, no self-join explosion. */
  def asofLastPurchase(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("purchase_ts",
        when(col("event_type") === "purchase", col("ts")))
      .withColumn("last_purchase_ts",
        last(col("purchase_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "view")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("last_purchase_ts"))
      .orderBy(col("event_id"))
  }

  /** NEAREST as-of (pandas merge_asof direction='nearest', completing
    * the direction trio): each view gets the SAME USER's purchase
    * timestamp closest in time, ties to the earlier (backward) side —
    * composed from the two [[graft.plans.AsOfJoin]] exec directions
    * (backward-best and forward-best bracket the global nearest by
    * construction), then one projection picks by |Δ|. Two
    * co-partitioned merge passes, zero extra shuffles beyond them:
    * the second as-of reuses the first's (user_id) clustering. This is
    * the composition contract the exec documents for nearest/tolerance
    * — direction logic in the operator, arithmetic in the caller. */
  def asofNearestPurchase(events: DataFrame): DataFrame = {
    import graft.plans.AsOfJoin.asofJoin
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id"), col("ts"), col("user_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val b = asofJoin(views, purchases,
      keys = Seq("user_id"), ordCols = Seq("ts", "event_id"), prefix = "b_")
    val bf = asofJoin(b, purchases,
      keys = Seq("user_id"), ordCols = Seq("ts", "event_id"),
      prefix = "f_", direction = "forward")
    val db = unix_micros(col("ts")) - unix_micros(col("b_ts"))
    val df = unix_micros(col("f_ts")) - unix_micros(col("ts"))
    bf.select(col("event_id"), col("ts"), col("user_id"),
        when(col("f_ts").isNull, col("b_ts"))
          .when(col("b_ts").isNull, col("f_ts"))
          .when(db <= df, col("b_ts"))
          .otherwise(col("f_ts")).as("nearest_purchase_ts"))
      .orderBy(col("event_id"))
  }

  /** Conversion attribution (the BATCH face of
    * StreamingPipeline.viewsLeftJoinPurchases, which StreamingSpec pins
    * to these semantics): every view, left-joined to each purchase by
    * the same user in the preceding hour — purchase columns null when
    * the view did not convert. The equi-key (user_id) drives the join;
    * the time window is a residual filter, so this is one shuffle on
    * user_id, never a time-range BNLJ. */
  def viewAttribution(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") <= col("view_ts") &&
          col("purchase_ts") >= col("view_ts") - expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("view_id"), col("user_id"), col("view_ts"),
        col("purchase_id"), col("purchase_ts"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** Ordered conversion funnel (view → click → purchase): users advance a
    * step only with a LATER event of the next type — the sequential
    * constraint that separates a funnel from three independent counts.
    * Three per-type aggregations chained by (user_id) joins; each scan
    * pushes its event_type filter into the parquet reader and each join
    * key is the already-shuffled user_id, so AQE reuses the partitioning.
    * step_idx carries the funnel order so the output is one tiny ordered
    * table. */
  def funnel(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = events.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def step(df: DataFrame, idx: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(idx).as("step_idx"), lit(name).as("step"),
          col("n_users"))
    step(v, 1, "view")
      .unionAll(step(c, 2, "view>click"))
      .unionAll(step(p, 3, "view>click>purchase"))
      .orderBy(col("step_idx"))
  }

  /** Weekly cohort retention matrix: users grouped by first-active week,
    * counted per week-offset they return — THE engagement query of every
    * analytics warehouse. Weeks are integer day-index divisions anchored
    * to the fixture epoch (engine-neutral arithmetic, no calendar-week
    * locale trap). One distinct (user, week) pass + a per-user min +
    * one grouped count — two shuffles on user_id, one on the tiny
    * (cohort, offset) key. */
  def retention(events: DataFrame): DataFrame = {
    // `div` yields LONG in Spark; the engine-neutral week index is an
    // INT on both sides of the oracle (the driver's hash is typed).
    val uw = events.select(col("user_id"),
        expr("CAST(datediff(to_date(ts), date'2024-01-01') div 7 AS INT)")
          .as("week"))
      .distinct()
    val cohort = uw.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    uw.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Upsert/latest-record view: one row per key, the most recent by
    * (ts, event_id) — the batch form of the reference's per-series
    * `find_one(sort=[("producer_timestamp", DESC)])` (app.py:177) and of
    * a MERGE "latest wins" table maintenance step. One shuffle by key;
    * the per-key argmax is a max_by struct aggregate (map-side
    * combinable), not a global sort. */
  def upsertLatest(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("r"))
      .select(col("user_id"), col("r.ts").as("ts"),
        col("r.event_id").as("event_id"), col("r.event_type").as("event_type"),
        col("r.value").as("value"))
      .orderBy(col("user_id"))

  /** SCD2 (slowly-changing-dimension type 2) history build: each event
    * becomes a versioned row valid from its own timestamp until the
    * user's next event — the standard "turn a change log into
    * point-in-time queryable history" step of a warehouse/feature
    * pipeline. One shuffle by key, one window pass (lead), no
    * self-join; at 100 TB this is the minimal plan — the per-key sort is
    * Spark's spillable window sort. (ts, event_id) ordering makes
    * same-timestamp changes deterministic. */
  def scd2Build(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  /** Incremental aggregate maintenance: merge a previously-materialized
    * rollup with a delta batch's rollup WITHOUT rescanning history — the
    * 100-TB pattern behind every "daily partition updates an all-time
    * rollup" job. Works because the aggregate state (count, exact-decimal
    * sum, min, max) is a commutative monoid, so partial states combine by
    * key: full-outer join + coalesce-merge. Here the fixture is split on
    * an id cutoff into "existing" and "delta" to make the merge
    * observable; the oracle recomputes the same totals flat, proving
    * merged == recomputed. */
  def incrementalAggMerge(events: DataFrame, cutoff: Long = 5000)
      : DataFrame = {
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).as("dec_sum"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
    val existing = rollup(events.filter(col("event_id") < cutoff))
      .select(col("event_type"), col("n").as("e_n"),
        col("dec_sum").as("e_sum"), col("min_value").as("e_min"),
        col("max_value").as("e_max"))
    val delta = rollup(events.filter(col("event_id") >= cutoff))
      .select(col("event_type"), col("n").as("d_n"),
        col("dec_sum").as("d_sum"), col("min_value").as("d_min"),
        col("max_value").as("d_max"))
    existing.join(delta, Seq("event_type"), "full_outer")
      .select(
        col("event_type"),
        (coalesce(col("e_n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n"),
        (coalesce(col("e_sum"), lit(0).cast("decimal(28,6)")) +
          coalesce(col("d_sum"), lit(0).cast("decimal(28,6)")))
          .cast("double").as("sum_value"),
        least(coalesce(col("e_min"), col("d_min")),
          coalesce(col("d_min"), col("e_min"))).as("min_value"),
        greatest(coalesce(col("e_max"), col("d_max")),
          coalesce(col("d_max"), col("e_max"))).as("max_value"))
      .orderBy(col("event_type"))
  }

  /** Trailing one-hour running sum per user — a RANGE-framed window
    * (peers by value, not row position): for each event, the exact
    * decimal sum of the user's values in [ts − 1h, ts]. Range frames
    * over integer micros keep both engines' peer semantics identical. */
  def trailingHourSum(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, Window.currentRow)
    events
      .withColumn("trailing_sum",
        sum(col("value").cast("decimal(28,6)")).over(w).cast("double"))
      .select(col("user_id"), col("event_id"), col("trailing_sum"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Batch interval join — every view paired with the same user's
    * purchases in the preceding hour. `purchase_ts` in
    * [view_ts − 1 h, view_ts] is `view_ts` in [purchase_ts,
    * purchase_ts + 1 h], so this is a keyed point-in-interval join
    * ([[graft.plans.IntervalJoin]]): key user_id, each purchase an
    * interval of validity. A naive range join plans as
    * BroadcastNestedLoopJoin (O(N·M) comparisons); the interval join
    * probes the user's lo-sorted purchases instead, and a purchase side
    * past the broadcast ceiling takes the binned equi-join on
    * (user_id, bucket) — shuffle-partitionable, AQE-skew-splittable. */
  def intervalJoinBinned(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("id"), col("user_id"), col("ts"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("until"))
    graft.plans.IntervalJoin
      .join(views, purchases, "view_ts", "view_ts", "ts", "until",
        key = Some("user_id" -> "user_id"), prefix = "purchase_")
      .select(col("view_id"), col("user_id"), col("view_ts"),
        col("purchase_id"), col("purchase_ts"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** Interval-containment lookup via the custom broadcast interval
    * join ([[graft.plans.IntervalJoin]], a point probe): events routed into
    * OVERLAPPING data-anchored time bands — a 12-hour grid (8 bands)
    * and a 24-hour grid (4 bands) over the trailing 4 days, so every
    * in-range event matches exactly TWO intervals (the multi-match
    * case the operator exists for; a single grid would be expressible
    * as a plain bucket equi-join). Bounds are exact integer micros
    * with inclusive [lo, hi] = (anchor−(i+1)·W, anchor−i·W] per band,
    * adjacent bands non-overlapping within a grid.
    *
    * Scale: the band table is dimension-sized and broadcast; the fact
    * side never shuffles for the join (the broadcast-hash-join shape,
    * for intervals); each probe is a binary search + O(matches) walk —
    * never the BroadcastNestedLoopJoin O(N·M) sweep a naive BETWEEN
    * join plans as. The residual aggregation is map-side-combining at
    * band grain. */
  def rangeBandCounts(events: DataFrame,
      forceBinned: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    val h12 = 12L * 3600L * 1000000L
    val anchor = events.agg(max(unix_micros(col("ts"))).as("anchor"))
    def grid(tag: Int, n: Int, w: Long) =
      spark.range(n).crossJoin(broadcast(anchor))
        .select((lit(tag) + col("id")).as("band_id"),
          (col("anchor") - (col("id") + 1) * lit(w) + 1).as("lo"),
          (col("anchor") - col("id") * lit(w)).as("hi"))
    val bands = grid(1200, 8, h12).unionAll(grid(2400, 4, 2 * h12))
    val probe = events.select(unix_micros(col("ts")).as("x"), col("value"))
    graft.plans.IntervalJoin
      .join(probe, bands, "x", "x", "lo", "hi", forceBinned = forceBinned)
      .groupBy(col("r_band_id").as("band_id"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
      .orderBy(col("band_id"))
  }

  /** SCD2-style KEYED temporal lookup via the keyed interval join
    * ([[graft.plans.IntervalJoin]] with a key): each event_type
    * carries its OWN band grid (band width grows with the type's rank,
    * so the grids genuinely differ per key), and the natural plan is
    * key equality + interval containment in ONE probe — the shape of
    * every SCD2 dimension lookup (business key + effective-date
    * range). Spark's native plan is BroadcastHashJoin on the key with
    * the BETWEEN as a post-join filter: O(per-key intervals) per probe
    * row; the custom exec probes its key's lo-sorted group in
    * O(log G + matches). Bands are anchored integer-micros arithmetic,
    * so the oracle replays them exactly. */
  def keyedRangeBandCounts(events: DataFrame,
      forceBinned: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val h6 = 6L * 3600L * 1000000L
    val anchor = events.agg(max(unix_micros(col("ts"))).as("anchor"))
    val types = Seq("click", "error", "purchase", "signup", "view")
    val bands = types.zipWithIndex.toDF("etype", "ti")
      .crossJoin(spark.range(6))
      .crossJoin(broadcast(anchor))
      .select(col("etype"),
        (lit(100) * (col("ti") + 1) + col("id")).as("band_id"),
        (col("anchor") - (col("id") + 1) * (lit(h6) * (col("ti") + 1)) + 1)
          .as("lo"),
        (col("anchor") - col("id") * (lit(h6) * (col("ti") + 1))).as("hi"))
    val probe = events.select(col("event_type"),
      unix_micros(col("ts")).as("x"), col("value"))
    graft.plans.IntervalJoin
      .join(probe, bands, "x", "x", "lo", "hi",
        key = Some("event_type" -> "etype"), forceBinned = forceBinned)
      .groupBy(col("event_type"), col("r_band_id").as("band_id"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
      .orderBy(col("event_type"), col("band_id"))
  }

  /** Session×window OVERLAP join via the custom broadcast interval
    * join ([[graft.plans.IntervalJoin]], an interval probe): user sessions
    * (the [[sessionize]] gaps-and-islands intervals) matched against
    * every maintenance window their [start, end] span touches — two
    * overlapping data-anchored grids (12×6 h + 6×12 h over the
    * trailing 3 days), so an in-range session overlaps windows at BOTH
    * resolutions and a long session spans several adjacent windows.
    * Both overlap inequalities reference both sides, so Spark's native
    * plan is a BroadcastNestedLoopJoin O(N·M) sweep; the custom exec
    * probes the lo-sorted window index in O(log W + matches) per
    * session. Bounds are exact integer micros, so the oracle replays
    * the grids and the inclusive overlap predicate literally. */
  def sessionOverlapWindows(events: DataFrame,
      forceBinned: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    val h6 = 6L * 3600L * 1000000L
    val sessions = sessionize(events)
      .select(col("user_id"), col("session_id"), col("n_events"),
        unix_micros(col("session_start")).as("s"),
        unix_micros(col("session_end")).as("e"))
    val anchor = events.agg(max(unix_micros(col("ts"))).as("anchor"))
    def grid(tag: Int, n: Int, w: Long) =
      spark.range(n).crossJoin(broadcast(anchor))
        .select((lit(tag) + col("id")).as("window_id"),
          (col("anchor") - (col("id") + 1) * lit(w) + 1).as("lo"),
          (col("anchor") - col("id") * lit(w)).as("hi"))
    val wins = grid(600, 12, h6).unionAll(grid(1200, 6, 2 * h6))
    graft.plans.IntervalJoin
      .join(sessions, wins, "s", "e", "lo", "hi", forceBinned = forceBinned)
      .groupBy(col("r_window_id").as("window_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("sum_events"))
      .orderBy(col("window_id"))
  }

  /** DuckDB oracle for [[sessionOverlapWindows]] — the q_sessionize
    * gaps-and-islands CTE reduced to per-session [s, e] micros, the
    * same two grids, and the literal inclusive overlap predicate. */
  def sessionOverlapWindowsOracleSql: String =
    """WITH x AS (
         SELECT user_id, ts, event_id, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
         FROM events),
       y AS (
         SELECT user_id, ts, event_id, us,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
             THEN 1 ELSE 0 END AS new_session
         FROM x),
       z AS (
         SELECT user_id, us,
           CAST(sum(new_session) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
         FROM y),
       sess AS (
         SELECT user_id, session_id, count(*) AS n_events,
           min(us) AS s, max(us) AS e
         FROM z GROUP BY user_id, session_id),
       a AS (SELECT max(epoch_us(ts)) AS anchor FROM events),
       g1 AS (SELECT 600 + i AS window_id,
           anchor - (i + 1) * 21600000000 + 1 AS lo,
           anchor - i * 21600000000 AS hi
         FROM (SELECT unnest(range(12)) AS i), a),
       g2 AS (SELECT 1200 + i AS window_id,
           anchor - (i + 1) * 43200000000 + 1 AS lo,
           anchor - i * 43200000000 AS hi
         FROM (SELECT unnest(range(6)) AS i), a),
       w AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
       j AS (SELECT w.window_id, sess.n_events
         FROM sess JOIN w ON w.lo <= sess.e AND w.hi >= sess.s)
       SELECT window_id, count(*) AS n_sessions,
         CAST(sum(n_events) AS BIGINT) AS sum_events
       FROM j GROUP BY window_id ORDER BY window_id"""

  /** SCD2 dimension LOOKUP via the LEFT-OUTER keyed interval join:
    * every event resolved against a versioned per-type rate
    * dimension (type ti carries ti+2 versions of 12 h validity each,
    * so coverage depth differs per key), with facts outside every
    * version's window SURVIVING as version −1 — the SCD2 contract a
    * plain inner lookup silently violates. Spark's native plan for the
    * outer form is BroadcastHashJoin(LeftOuter) on the key + post
    * filter — which is WRONG under composition (the filter re-drops
    * null-padded rows) unless rewritten with the range predicate
    * inside the join condition; the custom exec keeps the lookup
    * one-probe and emits exactly one null-padded row per miss. */
  def scd2RateLookup(events: DataFrame,
      forceBinned: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val h12 = 12L * 3600L * 1000000L
    val anchor = events.agg(max(unix_micros(col("ts"))).as("anchor"))
    val types = Seq("click", "error", "purchase", "signup", "view")
    val dim = types.zipWithIndex.toDF("etype", "ti")
      .select(col("etype"),
        explode(sequence(lit(0), col("ti") + 1)).as("v"))
      .crossJoin(broadcast(anchor))
      .select(col("etype"), col("v").cast("long").as("version"),
        (col("anchor") - (col("v") + 1) * lit(h12) + 1).as("valid_from"),
        (col("anchor") - col("v") * lit(h12)).as("valid_to"))
    val probe = events.select(col("event_type"),
      unix_micros(col("ts")).as("x"), col("value"))
    graft.plans.IntervalJoin
      .join(probe, dim, "x", "x", "valid_from", "valid_to",
        key = Some("event_type" -> "etype"), leftOuter = true,
        forceBinned = forceBinned)
      .groupBy(col("event_type"),
        coalesce(col("r_version"), lit(-1L)).as("version"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
      .orderBy(col("event_type"), col("version"))
  }

  /** DuckDB oracle for [[scd2RateLookup]] — the same versioned
    * dimension from the same integer arithmetic, LEFT JOIN with the
    * range predicate INSIDE the join condition, COALESCE(version, −1). */
  def scd2RateLookupOracleSql: String =
    s"""WITH a AS (SELECT max(epoch_us(ts)) AS anchor FROM events),
       t(etype, ti) AS (VALUES ('click', 0), ('error', 1),
         ('purchase', 2), ('signup', 3), ('view', 4)),
       d AS (SELECT etype, v AS version,
           anchor - (v + 1) * 43200000000 + 1 AS valid_from,
           anchor - v * 43200000000 AS valid_to
         FROM t, (SELECT unnest(range(6)) AS v), a
         WHERE v <= ti + 1),
       j AS (SELECT e.event_type,
           COALESCE(d.version, -1) AS version, e.value
         FROM events e LEFT JOIN d
           ON e.event_type = d.etype
          AND epoch_us(e.ts) BETWEEN d.valid_from AND d.valid_to)
       SELECT event_type, version, count(*) AS n,
         ${graft.Cols.sqlDecSum("value")} AS sum_value
       FROM j GROUP BY event_type, version
       ORDER BY event_type, version"""

  /** DuckDB oracle for [[keyedRangeBandCounts]] — same per-type grids
    * from the same integer arithmetic, joined as equality + BETWEEN. */
  def keyedRangeBandCountsOracleSql: String =
    s"""WITH a AS (SELECT max(epoch_us(ts)) AS anchor FROM events),
       t(etype, ti) AS (VALUES ('click', 0), ('error', 1),
         ('purchase', 2), ('signup', 3), ('view', 4)),
       bands AS (SELECT etype,
           CAST(100 * (ti + 1) + i AS BIGINT) AS band_id,
           anchor - (i + 1) * (21600000000 * (ti + 1)) + 1 AS lo,
           anchor - i * (21600000000 * (ti + 1)) AS hi
         FROM t, (SELECT unnest(range(6)) AS i), a),
       j AS (SELECT e.event_type, b.band_id, e.value
         FROM events e JOIN bands b
           ON e.event_type = b.etype
          AND epoch_us(e.ts) BETWEEN b.lo AND b.hi)
       SELECT event_type, band_id, count(*) AS n,
         ${graft.Cols.sqlDecSum("value")} AS sum_value
       FROM j GROUP BY event_type, band_id
       ORDER BY event_type, band_id"""

  /** DuckDB oracle for [[rangeBandCounts]] — the same bands from the
    * same integer-micros arithmetic, joined as a literal BETWEEN. */
  def rangeBandCountsOracleSql: String =
    s"""WITH a AS (SELECT max(epoch_us(ts)) AS anchor FROM events),
       b12 AS (SELECT 1200 + i AS band_id,
           anchor - (i + 1) * 43200000000 + 1 AS lo,
           anchor - i * 43200000000 AS hi
         FROM (SELECT unnest(range(8)) AS i), a),
       b24 AS (SELECT 2400 + i AS band_id,
           anchor - (i + 1) * 86400000000 + 1 AS lo,
           anchor - i * 86400000000 AS hi
         FROM (SELECT unnest(range(4)) AS i), a),
       bands AS (SELECT * FROM b12 UNION ALL SELECT * FROM b24),
       j AS (SELECT band_id, value FROM events e JOIN bands b
         ON epoch_us(e.ts) BETWEEN b.lo AND b.hi)
       SELECT band_id, count(*) AS n,
         ${graft.Cols.sqlDecSum("value")} AS sum_value
       FROM j GROUP BY band_id ORDER BY band_id"""

  /** lag/lead inter-arrival gaps per user (SURVEY.md §2.6 extension) in
    * exact integer microseconds. */
  def interArrival(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .select(col("user_id"), col("event_id"), col("gap_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Dense (gap-filled) hourly series: generate the full hour spine with
    * `sequence`, left-join the sparse hourly aggregates, zero-fill. The
    * densify step every time-series chart needs; the spine is generated,
    * not scanned, so the cost is O(hours), not O(rows). */
  def denseHourlySeries(events: DataFrame): DataFrame = {
    val bounds = events.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
        .as("hour"))
    val counts = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
    spine.join(counts, Seq("hour"), "left_outer")
      .select(col("hour"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy(col("hour"))
  }

  /** Gap-fill WITH linear interpolation: per event_type, the dense
    * hourly mean-value series where empty buckets get the value
    * interpolated between the nearest observed neighbors (edge buckets
    * fall back to the nearest single neighbor) — the time-series repair
    * step downstream ML expects after [[denseHourlySeries]]'s zero-fill.
    *
    * Neighbor lookup is two IGNORE-NULLS running window passes per
    * type (no self-join); the spine is |types| × |hours| — partitioned
    * by event_type so the window never single-partitions event data.
    * All arithmetic is rational (decimal-exact means, epoch-second
    * ratios), so the interpolated values are oracle-exact. */
  def interpolateHourly(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = events.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val hours = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
        .as("hour"))
    val spine = events.select(col("event_type")).distinct()
      .crossJoin(hours)
    val obs = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(28,6)")).cast("double") /
          count(lit(1)).cast("double")).as("mv"))
    val wP = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wN = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(0, Window.unboundedFollowing)
    val hr = unix_timestamp(col("hour")).cast("double")
    spine.join(obs, Seq("event_type", "hour"), "left_outer")
      .withColumn("hr", hr)
      .withColumn("pv", last(col("mv"), ignoreNulls = true).over(wP))
      .withColumn("ph",
        last(when(col("mv").isNotNull, col("hr")), ignoreNulls = true)
          .over(wP))
      .withColumn("nv", first(col("mv"), ignoreNulls = true).over(wN))
      .withColumn("nh",
        first(when(col("mv").isNotNull, col("hr")), ignoreNulls = true)
          .over(wN))
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("n").isNotNull, col("mv"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            col("pv") + (col("nv") - col("pv")) * (col("hr") - col("ph")) /
              (col("nh") - col("ph")))
          .otherwise(coalesce(col("pv"), col("nv"))).as("value_filled"),
        when(col("n").isNotNull, lit("observed"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            lit("interpolated"))
          .otherwise(lit("edge")).as("fill"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Batch form of the streaming anomaly detector
    * (StreamingPipeline.anomalyStream): flag events exceeding 2× the
    * user's running mean over all PRIOR events (≥3 warmup events). Same
    * semantics as the stream when event_id order matches arrival order —
    * the batch/stream parity is asserted in StreamingSpec. Exact decimal
    * prior-sums keep it oracle-deterministic. */
  def anomalies(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prior = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("prior_n", count(col("value")).over(prior))
      .withColumn("prior_mean",
        sum(col("value").cast("decimal(28,6)")).over(prior).cast("double") /
          col("prior_n").cast("double"))
      .filter(col("prior_n") >= 3 && col("value") > lit(2) * col("prior_mean"))
      .select(col("user_id"), col("event_id"), col("value"),
        col("prior_mean").as("running_mean"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Running (cumulative) per-user value sum — exact via decimal. */
  def runningSum(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("running_value",
        sum(col("value").cast("decimal(28,6)")).over(w).cast("double"))
      .select(col("user_id"), col("event_id"), col("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Winsorized (clipped) per-type statistics: clamp `value` to its
    * nearest-rank p05/p95 order statistics before averaging — the outlier
    * treatment a metrics pipeline applies before trend charts (the
    * reference charts raw value and is whipsawed by outliers,
    * app.py:373-390).
    *
    * Nearest-rank (an ACTUAL data value at rank ceil(p·n)), not
    * interpolated percentile_cont: picking a real value keeps the bounds
    * bit-exact across engines (interpolation formulas differ in float
    * association). Clipped mean sums exact decimals. One window sort per
    * type + one agg — at scale the sort is the cost, same as any exact
    * percentile; approximate variants live in q_approx_percentile. */
  def winsorizedStats(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val ranked = events
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val bounds = ranked
      .filter(col("rk") === ceil(col("n") * lit(0.05)) ||
        col("rk") === ceil(col("n") * lit(0.95)))
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    events
      .join(broadcast(bounds), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("lo")).as("p05"),
        min(col("hi")).as("p95"),
        (sum(least(greatest(col("value"), col("lo")), col("hi"))
          .cast("decimal(28,6)")).cast("double") /
          count(lit(1)).cast("double")).as("winsorized_mean"))
      .orderBy(col("event_type"))
  }

  /** CDC apply-changes: interpret the event stream as a change log
    * (signup=INSERT, error=DELETE, anything else=UPSERT) and materialize
    * the final table state — last writer wins by (ts, event_id), deletes
    * drop the key. The MERGE INTO semantics of a warehouse CDC sink,
    * expressed as one window + filter (no iterative merge): at 100 TB the
    * log shuffles once on the key and each key resolves independently.
    * Complements q_upsert_latest (no deletes) and q_scd2 (full history). */
  def cdcApply(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("op",
        when(col("event_type") === "signup", lit("I"))
          .when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("op").as("last_op"),
        col("ts").as("last_ts"), col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  /** Exponentially-weighted moving average (α = 1/2) of each user's
    * purchase values — the time-decayed feature every behavioral model
    * wants. Computed EXACTLY: values become integer cents, the trailing
    * 8 samples are weighted 2⁷…2⁰ (older halves each step), and the
    * single division to double happens once per row — deterministic
    * across engines and partitionings. The 8-sample horizon is where
    * α=1/2 weights fall below 1% — a bounded window, so this is one
    * per-user sort, O(1) state per row, no recursion. */
  def ewma(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val base = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val terms = (0 to 7).map { k =>
      val wt = 1L << (7 - k)
      val v = if (k == 0) col("cents") else lag(col("cents"), k).over(w)
      (when(v.isNotNull, v * wt).otherwise(lit(0L)),
        when(v.isNotNull, lit(wt)).otherwise(lit(0L)))
    }
    base
      .withColumn("num", terms.map(_._1).reduce(_ + _))
      .withColumn("den", terms.map(_._2).reduce(_ + _))
      .select(col("event_id"), col("user_id"), col("ts"), col("cents"),
        (col("num").cast("double") / col("den").cast("double"))
          .as("ewma_cents"))
      .orderBy(col("event_id"))
  }

  /** First-order Markov transition matrix over each user's event
    * stream: count and probability of every (previous → next)
    * event-type bigram — the session-flow summary behind "what do
    * users do after X". One per-user sort feeds the lag, the corpus
    * collapses to the tiny (prev, next) grain, and the probability is
    * a single division of two exact counts (the normalizing window
    * runs over ≤|types|² rows, not the corpus). */
  def transitions(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val byPrev = Window.partitionBy(col("prev_type"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(seq))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("p_trans",
        col("n_trans").cast("double") /
          sum(col("n_trans")).over(byPrev).cast("double"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** DuckDB oracle for [[ewma]] — identical lag/weight arithmetic. */
  def ewmaOracleSql(): String = {
    val lagTerm = (k: Int) =>
      if (k == 0) "cents" else s"lag(cents, $k) OVER w"
    val num = (0 to 7).map(k =>
      s"coalesce(${lagTerm(k)}, 0) * ${1L << (7 - k)}").mkString(" + ")
    val den = (0 to 7).map(k =>
      s"CASE WHEN ${lagTerm(k)} IS NULL THEN 0 ELSE ${1L << (7 - k)} END")
      .mkString(" + ")
    s"""WITH p AS (
         SELECT event_id, user_id, ts,
           CAST(round(value * 100) AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase'),
       l AS (
         SELECT event_id, user_id, ts, cents,
           $num AS num, $den AS den
         FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT event_id, user_id, ts, cents,
         CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma_cents
       FROM l ORDER BY event_id"""
  }

  /** Exact time-weighted average per user (the irregular-time-series
    * integral: each sample holds until the next one, so TWA =
    * Σ value·Δt / Σ Δt over consecutive pairs). One window pass
    * (lead within the user partition — already the user-partitioned
    * shuffle) then a grouped sum. All-integer arithmetic (value in
    * cents — the same determinism trick as [[ewma]]: a double·Δt
    * product cast to decimal diverges between engines on ties, integer
    * cents·µs cannot): Σ cents·Δt_us is bounded by max_cents ·
    * user_span_us ≈ 1e5·3e13 ≈ 3e18 < 2^63 even for a decade-long
    * user. Users with a single event have no interval and drop out. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"),
        unix_micros(col("ts")).as("us"))
      .withColumn("nxt", lead(col("us"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dur", col("nxt") - col("us"))
      .groupBy(col("user_id"))
      .agg(
        (sum(col("cents") * col("dur")).cast("double") /
          (sum(col("dur")).cast("double") * lit(100.0))).as("twa"),
        sum(col("dur")).as("span_us"),
        count(lit(1)).as("n_intervals"))
      .orderBy(col("user_id"))
  }

  /** DuckDB oracle for [[timeWeightedAvg]] — same cents·µs integers. */
  def timeWeightedAvgOracleSql(): String =
    s"""WITH s AS (
         SELECT user_id, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents,
           epoch_us(ts) AS us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS nxt
         FROM events),
       i AS (
         SELECT user_id, cents, nxt - us AS dur
         FROM s WHERE nxt IS NOT NULL)
       SELECT user_id,
         CAST(CAST(sum(cents * dur) AS BIGINT) AS DOUBLE)
           / (CAST(CAST(sum(dur) AS BIGINT) AS DOUBLE) * 100.0) AS twa,
         CAST(sum(dur) AS BIGINT) AS span_us,
         count(*) AS n_intervals
       FROM i GROUP BY user_id ORDER BY user_id"""

  /** Activity streaks (gaps-and-islands): longest run of consecutive
    * active DAYS per user. The islands trick — day minus the user's
    * day-rank is constant within a consecutive run — turns streak
    * detection into one partitioned window plus two grouped counts;
    * the window is per-user (parallel), never global. */
  def activityStreaks(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("anchor",
        date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("active_days"))
      .orderBy(col("user_id"))
  }

  /** DuckDB oracle for [[activityStreaks]]. */
  def activityStreaksOracleSql(): String =
    """WITH days AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       g AS (
         SELECT user_id, day,
           day - CAST(row_number() OVER (PARTITION BY user_id
             ORDER BY day) AS INTEGER) AS anchor
         FROM days),
       s AS (
         SELECT user_id, anchor, count(*) AS len FROM g GROUP BY 1, 2)
       SELECT user_id, max(len) AS longest_streak,
         count(*) AS n_streaks,
         CAST(sum(len) AS BIGINT) AS active_days
       FROM s GROUP BY user_id ORDER BY user_id"""

  /** Contingency table with χ² contributions: event_type × day-of-week
    * counts vs the independence expectation (row·col/grand). The three
    * totals are integer window sums over the tiny grid (|types|·7
    * rows), so they're order-independent; only the final
    * expected/χ² arithmetic is floating point, written identically in
    * both engines. */
  def contingencyChi2(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = events
      .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
      .agg(count(lit(1)).as("n"))
    val expected =
      (sum(col("n")).over(Window.partitionBy(col("event_type")))
        .cast("double") *
        sum(col("n")).over(Window.partitionBy(col("dow"))).cast("double")
        ) / sum(col("n")).over(Window.partitionBy()).cast("double")
    grid
      .withColumn("expected", expected)
      .withColumn("chi2",
        (col("n").cast("double") - col("expected")) *
          (col("n").cast("double") - col("expected")) / col("expected"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** DuckDB oracle for [[contingencyChi2]] (dow: DuckDB counts
    * Sunday=0, Spark Sunday=1 — shifted to match). */
  def contingencyChi2OracleSql(): String = {
    val exp = """((CAST(CAST(sum(n) OVER (PARTITION BY event_type)
           AS BIGINT) AS DOUBLE)
         * CAST(CAST(sum(n) OVER (PARTITION BY dow) AS BIGINT) AS DOUBLE))
         / CAST(CAST(sum(n) OVER () AS BIGINT) AS DOUBLE))"""
    s"""WITH grid AS (
         SELECT event_type,
           CAST(date_part('dow', ts) + 1 AS INTEGER) AS dow,
           count(*) AS n
         FROM events GROUP BY 1, 2)
       SELECT event_type, dow, n, $exp AS expected,
         (CAST(n AS DOUBLE) - $exp) * (CAST(n AS DOUBLE) - $exp)
           / $exp AS chi2
       FROM grid ORDER BY event_type, dow"""
  }

  /** Autocorrelation of the daily event-count series at lags 1..7 —
    * the seasonality detector. Pearson r from EXACT integer moment
    * sums (counts are integers, so Σx, Σxy, Σx² stay in BIGINT; only
    * the final normalize touches doubles, and sqrt is IEEE
    * correctly-rounded in both engines). The daily grain is
    * inherently tiny (one row per day), so the 7-lag self-join costs
    * nothing at any corpus scale. */
  def dailyAutocorrelation(events: DataFrame, maxLag: Int = 7)
      : DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val pairs = daily
      .select(explode(sequence(lit(1), lit(maxLag))).as("lag"),
        col("day"), col("n").as("x"))
      .join(daily.select(col("day").as("prev_day"), col("n").as("y")),
        date_sub(col("day"), col("lag")) === col("prev_day"))
    pairs
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n_pairs"),
        ((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
            (col("n_pairs") * col("syy") - col("sy") * col("sy"))
              .cast("double"))).as("acf"))
      .orderBy(col("lag"))
  }

  /** DuckDB oracle for [[dailyAutocorrelation]]. */
  def dailyAutocorrelationOracleSql(maxLag: Int = 7): String =
    s"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day, count(*) AS n
         FROM events GROUP BY 1),
       p AS (
         SELECT k.lag, a.n AS x, b.n AS y
         FROM daily a
         CROSS JOIN (SELECT unnest(range(1, ${maxLag + 1})) AS lag) k
         JOIN daily b ON b.day = a.day - CAST(k.lag AS INTEGER))
       SELECT CAST(lag AS INTEGER) AS lag, count(*) AS n_pairs,
         CAST(CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS BIGINT)
             AS DOUBLE)
           / sqrt(CAST(CAST(count(*) * sum(x*x) - sum(x) * sum(x)
               AS BIGINT) AS DOUBLE)
             * CAST(CAST(count(*) * sum(y*y) - sum(y) * sum(y)
               AS BIGINT) AS DOUBLE)) AS acf
       FROM p GROUP BY lag ORDER BY lag"""

  /** CUSUM change-point scan over the daily event-count series — the
    * classic drift detector (a level shift shows as a sustained ramp in
    * the cumulative deviation-from-mean; the extremum locates the
    * change point). The deviation mean S/C is rational, so the running
    * statistic is kept as the ALL-INTEGER numerator
    * C·cum_n(t) − t·S (one double division only at the end): there is
    * no float accumulation order for the engines to disagree on, and
    * the final cusum is exactly 0 at the last day by construction — an
    * invariant the spec pins. Day grain per event_type: windows are
    * partitioned and tiny regardless of corpus size. */
  def cusumDaily(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val run = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    daily
      .withColumn("cum_n", sum(col("n")).over(run))
      .withColumn("t", count(lit(1)).over(run))
      .withColumn("s_total", sum(col("n")).over(whole))
      .withColumn("c_days", count(lit(1)).over(whole))
      .select(col("event_type"), col("day"), col("n"),
        round((col("c_days") * col("cum_n") - col("t") * col("s_total"))
          .cast("double") / col("c_days").cast("double"), 6).as("cusum"))
      .orderBy(col("event_type"), col("day"))
  }

  /** DuckDB oracle for [[cusumDaily]] — identical integer numerator. */
  def cusumDailyOracleSql: String =
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
         FROM events GROUP BY 1, 2),
       x AS (
         SELECT event_type, day, n,
           sum(n) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
           count(*) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t,
           sum(n) OVER (PARTITION BY event_type) AS s_total,
           count(*) OVER (PARTITION BY event_type) AS c_days
         FROM daily)
       SELECT event_type, day, n,
         round(CAST(c_days * cum_n - t * s_total AS DOUBLE)
           / CAST(c_days AS DOUBLE), 6) AS cusum
       FROM x ORDER BY event_type, day"""

  /** Recency-weighted (time-decay) popularity per event type — the
    * scoring rule behind trending lists and decayed counters:
    * each event contributes 2^(−age_days), a one-day half-life.
    * Choosing base 2 with INTEGER day ages keeps the whole reduction in
    * exact integers: each event contributes the BIGINT weight
    * 2^(60 − age) (shiftleft — no libm pow/exp whose last ulp differs
    * between engines, and no decimal cast of a binary fraction, whose
    * 2^-13 rounding TIE the engines break differently — measured), the
    * weights sum exactly in decimal(38,0), and ONE division by 2^60 at
    * the end converts to the score. Anchored at max(ts) like every
    * "now"-relative operator here; ages beyond 60 days are dropped
    * (below 2^-60 they are invisible at the output rounding anyway). */
  def decayedPopularity(events: DataFrame): DataFrame = {
    val anchor = events.agg(to_date(max(col("ts"))).as("anchor_day"))
    val twoTo60 = lit(1152921504606846976L) // 2^60, exact as double too
    events
      .crossJoin(broadcast(anchor))
      .withColumn("age_days",
        datediff(col("anchor_day"), to_date(col("ts"))))
      .filter(col("age_days") <= 60)
      .withColumn("w",
        expr("shiftleft(CAST(1 AS BIGINT), 60 - age_days)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("w").cast("decimal(38,0)")).cast("double") /
          twoTo60.cast("double"), 9).as("decayed_score"))
      .orderBy(col("event_type"))
  }

  /** DuckDB oracle for [[decayedPopularity]] — same integer weights,
    * same single terminal division. */
  def decayedPopularityOracleSql: String =
    """WITH a AS (SELECT CAST(max(ts) AS DATE) AS anchor_day FROM events),
       x AS (SELECT event_type,
               CAST(1 AS BIGINT) << (60 - (anchor_day - CAST(ts AS DATE)))
                 AS w
             FROM events, a
             WHERE (anchor_day - CAST(ts AS DATE)) <= 60)
       SELECT event_type, count(*) AS n_events,
         round(CAST(sum(w) AS DOUBLE)
           / CAST(1152921504606846976 AS DOUBLE), 9) AS decayed_score
       FROM x GROUP BY event_type ORDER BY event_type"""

  /** Exact rolling MEDIAN over the last `window` OBSERVED days of the
    * daily count per event type — the robust trend line (median shrugs
    * off the single-day spikes that drag a rolling mean). The frame is
    * ROW-based over days-with-events: for an event type with calendar
    * gaps the 7-row frame spans more than 7 wall-clock days (a
    * calendar-exact variant would first gap-fill against a generated
    * calendar — see calendarDimension — zero-filling missing days; the
    * observed-days form is the one dashboards over sparse series
    * usually want, since zero-fill drags the median to 0). Exact order
    * statistics over a window are usually expensive; here the frame is
    * BOUNDED (`window` values), so
    * collect_list + array_sort inside the windowed projection is O(w
    * log w) per row at day grain — cost independent of corpus size,
    * like every day-grain operator in this module. Early days take the
    * median of however many days exist (frame clips at the partition
    * start, same in both engines). Even-width frames average the two
    * middle values (one IEEE division). */
  def rollingMedianDaily(events: DataFrame, window: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-(window - 1), Window.currentRow)
    val s = array_sort(collect_list(col("n")).over(w))
    val len = size(s)
    val med = when(len % 2 === 1,
      element_at(s, ((len + 1) / lit(2)).cast("int")).cast("double"))
      .otherwise(
        (element_at(s, (len / lit(2)).cast("int")) +
          element_at(s, (len / lit(2)).cast("int") + 1)).cast("double") /
          lit(2.0))
    daily
      .select(col("event_type"), col("day"), col("n"),
        med.as("med7"))
      .orderBy(col("event_type"), col("day"))
  }

  /** DuckDB oracle for [[rollingMedianDaily]]. */
  def rollingMedianDailyOracleSql(window: Int = 7): String =
    s"""WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
         FROM events GROUP BY 1, 2),
       x AS (
         SELECT event_type, day, n,
           list_sort(list(n) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN ${window - 1} PRECEDING AND CURRENT ROW)) AS s
         FROM daily)
       SELECT event_type, day, n,
         CASE WHEN len(s) % 2 = 1
           THEN CAST(s[(len(s) + 1) // 2] AS DOUBLE)
           ELSE CAST(s[len(s) // 2] + s[len(s) // 2 + 1] AS DOUBLE) / 2.0
         END AS med7
       FROM x ORDER BY event_type, day"""

  /** Sliding-window distinct users — the batch form of the streaming
    * sliding aggregation (`functions.window`, epoch-aligned exactly
    * like Structured Streaming's, so a backfill and the live stream
    * bucket identically): 1-hour windows every 30 minutes. Each event
    * lands in width/slide = 2 windows (Spark expands then shuffles
    * once on the window struct); countDistinct partials combine
    * map-side. */
  def slidingDistinct(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("n_events"), col("n_users"))
      .orderBy(col("w_start"))

  /** DuckDB oracle for [[slidingDistinct]]: every event belongs to
    * exactly 2 epoch-aligned windows (k = 0, 1 slide steps back from
    * its floor), reproduced with integer µs arithmetic. */
  def slidingDistinctOracleSql(): String = {
    val slide = 1800000000L // 30 min in µs
    s"""WITH e AS (
         SELECT epoch_us(ts) - epoch_us(ts) % $slide AS f, user_id
         FROM events),
       w AS (
         SELECT f - k * $slide AS start_us, user_id
         FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k))
       SELECT make_timestamp(start_us) AS w_start,
         make_timestamp(start_us + ${2 * slide}) AS w_end,
         count(*) AS n_events,
         count(DISTINCT user_id) AS n_users
       FROM w GROUP BY start_us ORDER BY w_start"""
  }
}
