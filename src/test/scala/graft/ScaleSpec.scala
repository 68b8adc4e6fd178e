package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-mechanics specs: salting equivalence, bucketed co-located joins
  * (no shuffle in the join plan), AQE behavior. */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("salted aggregation is bit-identical to the plain aggregation") {
    val events = Tables.load(spark, sf, "events")
    val salted = operators.Skew.saltedValueSums(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val plain = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("s"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("salted join returns the same rows as the plain join") {
    val li = Tables.load(spark, sf, "lineitem")
    val o = Tables.load(spark, sf, "orders")
    val salted = operators.Skew.saltedRevenueByPriority(li, o).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val plain = operators.Relational.revenueByPriority(li, o).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("bucketed tables join without a shuffle exchange") {
    // warehouse dir is set (static conf) at session creation in TestSpark
    // disable auto-broadcast so the join would normally shuffle
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.load(spark, sf, "lineitem")
      val o = Tables.load(spark, sf, "orders")
      li.write.mode("overwrite").bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_bucketed")
      o.write.mode("overwrite").bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("o_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-located: SortMergeJoin with no Exchange on either side
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(joined.count() ==
        operators.Relational.revenueByPriority(li, o)
          .agg(sum("n_lines")).collect()(0).getLong(0))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("histogram theta-join rewrite equals the nested-loop form") {
    val s = Tables.load(spark, sf, "supplier")
    val c = Tables.load(spark, sf, "customer")
    val nl = operators.Relational.acctbalTheta(s, c).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val hist = operators.Relational.acctbalThetaViaHistogram(s, c).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hist.toSeq == nl.toSeq)
    // The rank computation must be the binned BROADCAST EQUI-join (no
    // driver-collected threshold array literal, no interpreted HOF):
    val plan = operators.Relational.acctbalThetaViaHistogram(s, c)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("LambdaFunction"), plan.take(1200))
  }

  test("gini bucket-grid rank equals the global-window form") {
    val o = Tables.load(spark, sf, "orders")
    val got = operators.Extended.giniRevenue(o).collect()(0)
    // reference: the single-partition global-window row_number form the
    // bucket-grid rewrite replaced (mirrors the theta_join/theta_hist
    // contrast pattern — same arithmetic, different physical shape)
    import org.apache.spark.sql.expressions.Window
    val cust = o.groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val ref = cust
      .select(col("cents"), row_number().over(
        Window.orderBy(col("cents"), col("o_custkey"))).cast("long").as("rk"))
      .agg(count(lit(1)), sum(col("cents")), sum(col("rk") * col("cents")))
      .collect()(0)
    val (n, tc, t) = (ref.getLong(0), ref.getLong(1), ref.getLong(2))
    assert(got.getLong(0) == n && got.getLong(1) == tc)
    assert(got.getDouble(2) == (2L * t - (n + 1L) * tc).toDouble / (n * tc).toDouble)
    // and the rewrite's only unpartitioned window runs on the bucket grid
    val plan = operators.Extended.giniRevenue(o)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("bloom-prefiltered join returns exactly the plain join's rows") {
    val li = Tables.load(spark, sf, "lineitem")
    // build side: a selective subset of orders, so the bloom filter
    // actually prunes probe rows
    val bigOrders = Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice") > 100000)
    val viaBloom = operators.Skew.bloomPrefilteredJoin(
      li, bigOrders, "l_orderkey", "o_orderkey", expectedKeys = 10000L)
      .agg(count(lit(1)), coalesce(sum("l_quantity"), lit(0.0))).collect()(0)
    val plain = li.join(bigOrders, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)), coalesce(sum("l_quantity"), lit(0.0))).collect()(0)
    assert(viaBloom == plain)
  }

  test("cached DataFrame is served from InMemoryTableScan") {
    val df = Tables.load(spark, sf, "nation").cache()
    try {
      df.count() // materialize
      val plan = df.groupBy(col("n_regionkey")).count()
        .queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), plan.take(400))
    } finally df.unpersist()
  }

  test("AQE splits a skewed join partition at runtime") {
    val sq = spark
    import sq.implicits._
    // 90% of the fact rows share one hot key; thresholds lowered so the
    // skew detector fires at test scale.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10KB")
    spark.conf.set(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = spark.range(0, 200000)
        .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id"))
          .as("k"), col("id").as("payload"))
      val dim = spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 2).as("dval"))
      val joined = fact.join(dim, "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(1200))
    } finally {
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("AQE is available and coalesces shuffle partitions") {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val df = Tables.load(spark, sf, "lineitem")
      .groupBy("l_orderkey").count()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") || plan.contains("AdaptiveSparkPlan"),
      plan.take(400))
  }
}
