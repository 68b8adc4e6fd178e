package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    // local[4,2]: maxFailures=2, so a task may retry ONCE before the
    // job fails — RetrySpec injects first-attempt failures under each
    // custom exec to prove retried tasks reproduce the same result
    // (the silent-wrong-answer class speculation/retry hits at scale).
    // Deterministically-failing tests (corrupt file, abort taxonomy)
    // still fail their jobs, one extra attempt later.
    Session.builder
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** Reference row-level semantics on tiny in-memory frames
  * (FIXTURES.md "edge cases": missing key → dropped, unparseable
  * timestamp → skipped, empty batch → empty + storage fallback). */
class ReferenceSemanticsSpec extends AnyFunSuite {
  import org.apache.spark.sql.functions._
  private lazy val spark = TestSpark.spark

  private def eventsDf(rows: Seq[Row]): DataFrame = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("record missing a required key is dropped (app.py:251-252)") {
    val df = eventsDf(Seq(
      Row(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      Row(2L, ts("2024-01-01 10:00:01"), null, "click", 1.0, "{}"),
      Row(3L, ts("2024-01-01 10:00:02"), 2L, "click", null, "{}"),
      Row(4L, null, 2L, "click", 2.0, "{}")))
    val out = operators.EventsPipeline.requiredKeyCounts(df).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("click", 1L)))
  }

  test("unparseable timestamp string drops the row (app.py:207-218)") {
    val df = eventsDf((0L until 20L).map(i =>
      Row(i, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}")))
    val out = operators.EventsPipeline.parseOrDrop(df)
    // every 10th event_id corrupted -> 18 of 20 survive
    assert(out.count() == 18)
  }

  test("corrupt records are counted and captured per class (app.py:216-218)") {
    // event_id % 10 drives the derived corruption: 0 -> truncated JSON,
    // 1 -> wrong-typed field, 2 -> missing field, 3 -> null payload.
    val df = eventsDf((0L until 20L).map(i =>
      Row(i, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, """{"k": 7}""")))
    val out = operators.EventsPipeline.corruptRecords(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.get(3)))
    assert(out.toSeq == Seq(
      ("malformed_json", 2L, 2L, """{"k": 7"""), // PERMISSIVE captures raw text
      ("missing_field", 2L, 0L, null),           // missing field: NOT corrupt
      ("null_payload", 2L, 0L, null),
      ("valid", 12L, 0L, null),
      ("wrong_type", 2L, 2L, """{"k": "s1"}""")))  // conversion failure captured
  }

  test("empty batch yields empty result; storage fallback returns latest") {
    val empty = eventsDf(Seq.empty)
    assert(operators.EventsPipeline.latestRecord(empty).count() == 0)
    val store = eventsDf(Seq(
      Row(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      Row(2L, ts("2024-01-01 11:00:00"), 1L, "view", 2.0, "{}")))
    val latest = operators.EventsPipeline.latestRecord(store).collect()
    assert(latest.length == 1 && latest(0).getLong(0) == 2L)
  }

  test("sessionize splits on >30min gaps") {
    val df = eventsDf(Seq(
      Row(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      Row(2L, ts("2024-01-01 10:10:00"), 1L, "click", 1.0, "{}"),
      Row(3L, ts("2024-01-01 11:00:00"), 1L, "click", 1.0, "{}"),
      Row(4L, ts("2024-01-01 10:05:00"), 2L, "click", 1.0, "{}")))
    val out = operators.EventsPipeline.sessionize(df).collect()
    // user 1: two sessions (10:00-10:10, 11:00); user 2: one session
    assert(out.length == 3)
    val u1 = out.filter(_.getLong(0) == 1L).map(r => r.getLong(2))
    assert(u1.toSeq == Seq(2L, 1L)) // n_events per session in order
  }

  test("as-of join picks most recent prior purchase per user") {
    val df = eventsDf(Seq(
      Row(1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 1.0, "{}"),
      Row(2L, ts("2024-01-01 10:30:00"), 1L, "view", 1.0, "{}"),
      Row(3L, ts("2024-01-01 11:00:00"), 1L, "purchase", 1.0, "{}"),
      Row(4L, ts("2024-01-01 11:30:00"), 1L, "view", 1.0, "{}"),
      Row(5L, ts("2024-01-01 09:00:00"), 2L, "view", 1.0, "{}")))
    val out = operators.EventsPipeline.asofLastPurchase(df).collect()
    val byId = out.map(r => r.getLong(0) ->
      Option(r.getTimestamp(3)).map(_.toString)).toMap
    assert(byId(2L).contains("2024-01-01 10:00:00.0"))
    assert(byId(4L).contains("2024-01-01 11:00:00.0"))
    assert(byId(5L).isEmpty) // no prior purchase -> null
  }
}
