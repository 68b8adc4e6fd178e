package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink round-trips through real files (SURVEY.md §2.1 formats). */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("partitioned parquet layout enables partition pruning") {
    val events = Tables.load(spark, TestSpark.sf, "events")
      .withColumn("event_date", to_date(col("ts")))
    val dir = tmp("graft_part")
    sources.Sources.writeParquetPartitioned(events, dir, Seq("event_date"))
    val pruned = spark.read.parquet(dir)
      .filter(col("event_date") === "2024-01-05")
    // partition filter must appear as PartitionFilters, not a data filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_date"), plan.take(600))
    assert(pruned.count() > 0)
  }

  test("bucketed tables of two directories with one String.hashCode " +
      "stay apart: each directory's join reads its own rows") {
    // "Aa" and "BB" have the same String.hashCode, so these two do too
    val root = tmp("graft_bkt_dirs")
    val (a, b) = (root + "/Aa", root + "/BB")
    assert(a.hashCode == b.hashCode)
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = Tables.load(spark, TestSpark.sf, "orders")
      .select("o_orderkey", "o_orderpriority")
    li.write.parquet(a + "/lineitem.parquet")
    ord.write.parquet(a + "/orders.parquet")
    li.filter(col("l_orderkey") % 2 === 0).write.parquet(b + "/lineitem.parquet")
    ord.filter(col("o_orderkey") % 3 === 0).write.parquet(b + "/orders.parquet")
    def want(dir: String) = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)), Cols.decSum(col("l_quantity"), 2))
      .orderBy(col("o_orderpriority")).collect().toSeq
    def got(dir: String) =
      sources.Sources.bucketedJoinAgg(spark, dir).collect().toSeq
    val (wantA, wantB) = (want(a), want(b))
    assert(wantA != wantB)
    assert(got(a) == wantA)
    assert(got(b) == wantB)
    // the second read of `a` is a SessionDirs hit after `b` was built
    assert(got(a) == wantA)
  }

  test("kafka encode/decode round-trip is lossless incl. timestamps") {
    val events = Tables.load(spark, TestSpark.sf, "events")
    val out = operators.Extended.jsonRoundtrip(events)
    assert(out.count() == events.count())
    val a = events.select(sum(unix_micros(col("ts")))).collect()(0).getLong(0)
    val b = out.select(sum(unix_micros(col("ts")))).collect()(0).getLong(0)
    assert(a == b)
  }

  test("malformed kafka message decodes to nulls (PERMISSIVE), then dropped") {
    import org.apache.spark.sql.types._
    val sq = spark
    import sq.implicits._
    val msgs = Seq(
      ("1", """{"event_id": 1, "value": 2.5}"""),
      ("2", "not json at all")).toDF("key", "value")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType)))
    val decoded = sources.Sources.kafkaDecode(msgs, schema)
    assert(decoded.count() == 2)
    assert(decoded.filter(col("event_id").isNotNull).count() == 1)
  }

  test("kafka adapter builds the reference's consumer/producer options") {
    val c = sources.Kafka.consumerOptions("broker:9092", "weather",
      startingOffsets = "latest", maxOffsetsPerTrigger = Some(500L),
      groupIdPrefix = Some("dashboard"))
    // app.py:147-163: topic, bootstrap servers, auto_offset_reset=latest,
    // consumer group, bounded poll -> their Structured Streaming names
    assert(c("kafka.bootstrap.servers") == "broker:9092")
    assert(c("subscribe") == "weather")
    assert(c("startingOffsets") == "latest")
    assert(c("maxOffsetsPerTrigger") == "500")
    assert(c("groupIdPrefix") == "dashboard")
    assert(c("failOnDataLoss") == "false")
    val p = sources.Kafka.producerOptions("broker:9092", "weather")
    assert(p("topic") == "weather" && p.contains("kafka.bootstrap.servers"))
  }

  test("kafka reader constructs; load() raises the standard deploy error " +
      "(connector jar not shipped in this sandbox)") {
    val reader = sources.Kafka.reader(spark,
      sources.Kafka.consumerOptions("broker:9092", "weather"))
    val e = intercept[Exception] { reader.load() }
    // Spark's guidance error names the kafka provider / integration guide
    // artifact the user must deploy — the documented substitution path.
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }

  // ---- custom DSv2 generator source (SyntheticEventsSource) ----

  private def synth(n: Long = 1000, slices: Int = 4) =
    spark.read.format("graft.sources.SyntheticEventsSource")
      .option("n", n).option("slices", slices).load()

  test("DSv2 source generates the documented deterministic rows") {
    val rows = synth(n = 10, slices = 2).collect()
    assert(rows.length == 10)
    val r7 = rows.find(_.getLong(0) == 7L).get
    assert(r7.getLong(2) == (7L * 2654435761L) % 1000L)
    assert(r7.getString(3) == "purchase") // types(7 % 5 = 2)
    assert(r7.getLong(4) == (7L * 31L) % 10000L)
  }

  test("DSv2 id-range filters are pushed into generation") {
    val df = synth(n = 100000, slices = 8)
      .filter(col("event_id") >= 25000 && col("event_id") < 75000)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("range=[25000,75000)"), plan.take(800))
    assert(plan.contains("PushedIdFilters: ["), plan.take(800))
    assert(df.count() == 50000)
  }

  test("DSv2 column pruning reaches the reader") {
    val df = synth().select(col("event_type"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: event_type"), plan.take(800))
    assert(df.distinct().count() == 5)
  }

  test("DSv2 partitions match the requested slices") {
    assert(synth(n = 1000, slices = 4).rdd.getNumPartitions == 4)
  }

  test("DSv2 aggregate pushdown answers count/min/max in closed form") {
    val df = synth(n = 100000, slices = 8)
      .filter(col("event_id") >= 25000 && col("event_id") < 75000)
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("lo"),
        max(col("event_id")).as("hi"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: ["), plan.take(900))
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((50000L, 25000L, 74999L)))
  }

  test("DSv2 aggregate pushdown on an empty range yields 0/null/null") {
    val df = synth(n = 100).filter(col("event_id") >= 500)
      .agg(count(lit(1)), min(col("event_id")), max(col("event_id")))
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1) && r.isNullAt(2))
  }

  test("binaryFile source ingests opaque media bytes with metadata") {
    // the real ingestion path for multimodal payloads (Multimodal.scala
    // consumes exactly this shape: opaque bytes + typed metadata)
    val dir = java.nio.file.Files.createTempDirectory("binfiles")
    val payloads = Seq("img0" -> Array[Byte](1, 2, 3, 4),
      "img1" -> Array[Byte](9, 8, 7))
    payloads.foreach { case (name, bytes) =>
      java.nio.file.Files.write(dir.resolve(s"$name.bin"), bytes)
    }
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir.toString)
    assert(df.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
    val byName = df.collect().map(r =>
      (r.getString(0).split('/').last, r.getAs[Array[Byte]]("content")))
      .toMap
    assert(byName("img0.bin").toSeq == Seq[Byte](1, 2, 3, 4))
    assert(byName("img1.bin").toSeq == Seq[Byte](9, 8, 7))
  }

  test("DSv2 limit pushdown narrows generation to the first k ids") {
    val df = synth(n = 100000, slices = 8).limit(7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("range=[0,7)"), plan.take(900))
    assert(df.count() == 7L)
  }
}
