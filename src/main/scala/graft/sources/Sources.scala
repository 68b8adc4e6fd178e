package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source-side layouts and messages beyond the fixture Parquet
  * (SURVEY.md §2.1: the reference speaks JSON-over-Kafka + BSON): the
  * date-partitioned and bucketed fixture layouts, plus the Kafka message
  * encode/decode pair.
  *
  * Scale notes: writers partition by the DataFrame's partitioning (no
  * coalesce(1) in library code); `writeParquetPartitioned` is the
  * partition-pruning layout (`partitionBy` → directory-level pruning of
  * untouched partitions at 100 TB).
  */
object Sources {

  /** Hive-style partitioned parquet layout: queries filtering on the
    * partition column scan only matching directories. */
  def writeParquetPartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  // ---- dynamic partition pruning (the 100 TB staple: a date-partitioned
  //      fact joined to a filtered dim scans only the dim's surviving
  //      partitions — pruning decided at RUNTIME from the dim's rows,
  //      which no static predicate can express) ----

  /** One-time per (session, sfDir): the events fixture rewritten as a
    * Hive-partitioned-by-event_date layout (the layout a 100 TB events
    * table would actually use). Cached via [[graft.SessionDirs]] (weak
    * session keys + one shutdown hook) so the ~1-second write happens
    * once per Bench/Verify session, not per query — Bench additionally
    * builds it in its UNTIMED warmup so the first measured q_dpp_date
    * times the DPP join, not the fixture rewrite. */
  def partitionedEventsDir(spark: SparkSession, sfDir: String): String =
    graft.SessionDirs.getOrBuild(spark, s"dpp:$sfDir",
      "graft_events_bydate") { root =>
      val dir = root.toString + "/events"
      val ev = graft.Tables.load(spark, sfDir, "events")
        .withColumn("event_date", to_date(col("ts")))
        // one shuffle clusters each date into ONE task → one file per
        // partition directory (the standard dynamic-partition-insert
        // shuffle); without it every upstream task writes a sliver
        // into every date it touches — up to tasks×dates tiny files
        .repartition(col("event_date"))
      writeParquetPartitioned(ev, dir, Seq("event_date"))
      dir
    }

  /** Bucketed table pair for the co-located join demo: lineitem and
    * orders written ONCE per session bucketed (and sorted) by the join
    * key into 8 buckets each, registered as external tables so the
    * bucket metadata lives in the catalog. The pre-write
    * `repartition(8, key)` uses the same Murmur3 hash as bucketing, so
    * each task holds exactly one bucket and every bucket is ONE sorted
    * file — the layout under which Spark's scan reports bucket
    * partitioning AND sort order, and a join on the bucket key needs
    * neither Exchange nor Sort.
    *
    * The tables live in the SparkContext's shared catalog, so their
    * names must be injective in `sfDir`: they take the `Tables.load`
    * view name (the directory hex-encoded, never hashed) plus a `_bkt`
    * suffix, which ends no fixture table's name and so never equals a
    * `Tables.load` view. */
  def bucketedTables(spark: SparkSession, sfDir: String): (String, String) = {
    val liName = graft.Tables.viewName(sfDir, "lineitem") + "_bkt"
    val ordName = graft.Tables.viewName(sfDir, "orders") + "_bkt"
    graft.SessionDirs.getOrBuild(spark, s"bucketed:$sfDir",
      "graft_bucketed") { root =>
      graft.Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", root.toString + "/lineitem")
        .saveAsTable(liName)
      graft.Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", root.toString + "/orders")
        .saveAsTable(ordName)
      root.toString
    }
    (liName, ordName)
  }

  /** Co-located (bucketed) join — the 100 TB shuffle-elimination story
    * for repeated fact⋈fact joins: both sides pre-bucketed on the join
    * key means the SortMergeJoin consumes the scans' OWN bucket
    * partitioning — ZERO Exchange before the join (verified by
    * PlanAuditSpec); the only shuffle in the plan is the post-join
    * aggregation's. (A per-bucket in-memory Sort remains — scan-local,
    * bucket-sized; the exchange is the cost that matters.) At 100 TB
    * this converts every repeated join on the same key into a
    * scan-local merge — the bucketing counterpart of the DPP and
    * Z-order layout demos. The `merge` hint pins the SMJ shape at
    * every SF (a broadcast join would ALSO be exchange-free here, but
    * then the plan would not demonstrate bucket alignment). */
  def bucketedJoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val (liName, ordName) = bucketedTables(spark, sfDir)
    spark.table(liName).hint("merge")
      .join(spark.table(ordName), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        graft.Cols.decSum(col("l_quantity"), 2).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** DuckDB oracle for [[bucketedJoinAgg]] — the layout changes the
    * plan, never the answer. */
  def bucketedJoinAggOracleSql: String =
    s"""SELECT o_orderpriority, count(*) AS n_lines,
          ${graft.Cols.sqlDecSum("l_quantity", 2)} AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1"""

  /** DPP evidence query: per-type rollup of events restricted to the
    * dates a runtime-computed dim survives (Mondays here — any
    * data-dependent dim filter works). The join key is the PARTITION
    * column, the dim is broadcast, so Catalyst inserts a
    * `dynamicpruningexpression` partition filter on the fact scan: only
    * matching date directories are listed and read. PlanAuditSpec pins
    * the plan; the oracle checks the rollup values. */
  def dppDateRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val fact = spark.read.parquet(partitionedEventsDir(spark, sfDir))
    // Spark dayofweek: 1=Sunday..7=Saturday, so 2 = Monday.
    val dim = graft.Tables.load(spark, sfDir, "events")
      .select(to_date(col("ts")).as("d")).distinct()
      .filter(dayofweek(col("d")) === 2)
    fact.join(broadcast(dim), fact("event_date") === dim("d"))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Cols.decSum(col("value")).as("sum_value"))
      .orderBy(col("event_date"), col("event_type"))
  }

  /** DuckDB oracle for [[dppDateRollup]] (dayofweek: 0=Sunday, 1=Monday). */
  def dppDateRollupOracleSql: String =
    s"""SELECT CAST(ts AS DATE) AS event_date, event_type,
          count(*) AS n, ${graft.Cols.sqlDecSum("value")} AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) IN (
          SELECT DISTINCT CAST(ts AS DATE) FROM events
          WHERE dayofweek(CAST(ts AS DATE)) = 1)
        GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- Kafka-shaped message encode/decode (producer.py:115-126 JSON
  //      serialize; app.py:156 JSON deserializer) ----

  /** Record → (key, value) JSON message, the producer's serialize step
    * (producer.py:122 `json.dumps(data).encode('utf-8')`). Timestamps are
    * carried as exact integer micros — to_json's ISO format truncates to
    * millis, which would be lossy. */
  def kafkaEncode(df: DataFrame, keyCol: String): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType.typeName == "timestamp")
        unix_micros(col(f.name)).as(f.name + "_us")
      else col(f.name)
    }
    df.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(cols.toIndexedSeq: _*)).as("value"))
  }

  /** (key, value) JSON message → typed record, the consumer's deserialize
    * step (app.py:156) with PERMISSIVE nulls for malformed payloads. */
  def kafkaDecode(df: DataFrame, schema: StructType): DataFrame =
    df.select(from_json(col("value"), schema).as("r")).select(col("r.*"))
}
