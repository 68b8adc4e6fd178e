package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Cols._
import graft.Tables

/** Generalized relational inventory (SURVEY.md §2.3/§2.4/§2.5/§2.6 —
  * categories absent in the reference, mandated in-scope) over the
  * TPC-H-ish fixture tables.
  *
  * Scale design notes (local[32] tests correctness; the plan shapes are
  * chosen for a 1000-executor / 100 TB deployment):
  *  - Dimension tables (region/nation/customer/supplier/part) are joined
  *    with explicit `broadcast()` — no shuffle of the fact table for
  *    dimension enrichment.
  *  - Fact-fact joins (lineitem⋈orders) shuffle on the join key once; the
  *    grouped aggregations that follow reuse Catalyst's partial-aggregation
  *    (map-side combine), and AQE handles skew at runtime.
  *  - All money aggregations go through exact decimal sums (Cols.decSum)
  *    — associative, so map-side combine still applies; converted to
  *    double only at the end for oracle parity.
  *  - Top-k uses orderBy+limit which plans as TakeOrderedAndProject
  *    (per-partition heap + driver merge of k rows, never a global sort).
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** TPC-H Q1-shaped pricing summary: wide grouped aggregation over the
    * biggest fact table; pure map-side-combinable aggregates. */
  def q1PricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity"), 2).as("sum_qty"),
        decSum(col("l_extendedprice"), 2).as("sum_base_price"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("sum_disc_price"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax")), 6).as("sum_charge"),
        decAvg(col("l_quantity"), 2).as("avg_qty"),
        decAvg(col("l_extendedprice"), 2).as("avg_price"),
        decAvg(col("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Fact-fact equi join (shuffle join on the order key) + grouped agg:
    * revenue per order priority. */
  def revenueByPriority(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))

  /** Broadcast dimension join: orders enriched with the (small) customer
    * dimension — zero shuffle of the fact side. */
  def revenueBySegment(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        decSum(col("o_totalprice"), 2).as("total_revenue"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("c_mktsegment"))

  /** TPC-H Q5-shaped snowflake join: one shuffle join (lineitem⋈orders),
    * then broadcast joins down the customer→nation→region dimension chain. */
  def regionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = t(spark, dir, "lineitem")
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** TPC-H Q3-shaped shipping priority: segment-filtered customer
    * broadcast-joined into orders, shuffle join to lineitem, grouped
    * revenue, top 10. The classic "filter early, broadcast the filtered
    * dim, take-ordered the result" plan: the segment filter drops ~80%
    * of customers BEFORE the broadcast, date filters land in the parquet
    * scans (PushedFilters), and the final top-10 is
    * TakeOrderedAndProject, never a global sort. */
  def shippingPriority(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") > lit("1997-03-15").cast("timestamp"))
      .join(orders.filter(
        col("o_orderdate") < lit("1997-03-15").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)

  /** Robust outlier detection per group: median + MAD (median absolute
    * deviation), flagging values beyond `nMads` MADs — the
    * skew-insensitive alternative to z-scores for data-quality gates.
    * Exact medians (Spark `percentile` / DuckDB `median`, identical
    * linear interpolation), so the whole query is oracle-checked.
    *
    * Scale: two grouped exact-percentile passes over (group) — each a
    * single shuffle keyed by the group column — plus broadcast joins of
    * the tiny per-group stats back onto the fact stream. Exact grouped
    * medians at 100 TB would swap in the KLL sketch rollup
    * (functions/QuantileSketch.scala) with identical plumbing; this is
    * the exact form of that pipeline. */
  def madOutliers(events: DataFrame, nMads: Double = 3.0): DataFrame = {
    val med = events.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = events.select(col("event_type"), col("value"))
      .join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(first(col("med")).as("med"),
        expr("percentile(adev, 0.5)").as("mad"))
    dev.select(col("event_type"), col("adev"))
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(
        sum(when(col("adev") > lit(nMads) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_total"))
      .orderBy(col("event_type"))
  }

  /** Exact equi-depth (equal-frequency) histogram of a fact-table
    * measure WITHOUT a global sort — the scan-statistics builder an
    * optimizer or data-profiler runs over a 100 TB column.
    *
    * Plan shape: (1) distinct-value counts (one map-side-combinable
    * shuffle keyed by value); (2) a 1-row min/max/count agg, broadcast;
    * (3) coarse fixed-width bins over the distinct values — the
    * per-bin counts and cumulative bases are a ≤257-row table,
    * broadcast back; (4) each distinct value's strict rank = bin base +
    * within-bin cumulative count, where the window is PARTITIONED by
    * coarse bin (every bin sorts independently — the range-partitioned
    * sort shape, never a single-partition global window); (5) depth
    * bucket = rank·B div N (integer arithmetic, engine-exact), then
    * per-bucket count/lo/hi. Ties stay in one bucket (rank counts
    * strictly-smaller values), so the result is deterministic.
    * The DuckDB oracle computes the same histogram through a plain
    * global cumulative window — two independent routes, one answer. */
  def equiDepthHistogram(lineitem: DataFrame, b: Int = 10): DataFrame = {
    val vc = lineitem
      .groupBy(col("l_extendedprice").as("v"))
      .agg(count(lit(1)).as("c"))
    val stats = vc.agg(min(col("v")).as("_lo"), max(col("v")).as("_hi"),
      sum(col("c")).as("_n"))
    val binned = vc.crossJoin(broadcast(stats))
      .withColumn("_bin", when(col("_hi") === col("_lo"), lit(0L))
        .otherwise(floor((col("v") - col("_lo")) * lit(256.0) /
          (col("_hi") - col("_lo"))).cast("long")))
    // unpartitioned window (one task): ≤ 257 rows, _bin in [0, 256]
    val bases = binned.groupBy(col("_bin")).agg(sum(col("c")).as("_bc"))
      .withColumn("_base", coalesce(sum(col("_bc")).over(
        Window.orderBy(col("_bin"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_bin"), col("_base"))
    binned
      .join(broadcast(bases), "_bin")
      .withColumn("_rk", col("_base") + coalesce(sum(col("c")).over(
        Window.partitionBy(col("_bin")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bucket", expr(s"(_rk * $b) div _n"))
      .groupBy(col("bucket"))
      .agg(sum(col("c")).as("n_rows"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
      .orderBy(col("bucket"))
  }

  /** DuckDB oracle for [[equiDepthHistogram]] — the simple global-window
    * form of the same arithmetic. */
  def equiDepthOracleSql(b: Int = 10): String =
    s"""WITH vc AS (
         SELECT l_extendedprice AS v, count(*) AS c FROM lineitem
         GROUP BY 1),
       n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
       rk AS (
         SELECT v, c, CAST(coalesce(sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS rk
         FROM vc)
       SELECT CAST((rk * $b) // (SELECT n FROM n) AS BIGINT) AS bucket,
         CAST(sum(c) AS BIGINT) AS n_rows, min(v) AS lo, max(v) AS hi
       FROM rk GROUP BY 1 ORDER BY 1"""

  /** Left outer join keeping order-less customers (count = 0 for them). */
  def ordersPerCustomer(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(decSum(col("o_totalprice"), 2), lit(0.0)).as("total_spent"))
      .orderBy(col("c_custkey"))

  /** Left-semi join: customers having at least one order (EXISTS). */
  def customersWithOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** Left-anti join: customers with no orders (NOT EXISTS). */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** Theta (non-equi) join: supplier × customer on acctbal inequality.
    * Small side broadcast → BroadcastNestedLoopJoin; at scale the small
    * (supplier) side stays broadcastable, so this shape survives. */
  def acctbalTheta(supplier: DataFrame, customer: DataFrame): DataFrame =
    customer
      .join(broadcast(supplier), col("s_acctbal") < col("c_acctbal"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_richer_customers"))
      .orderBy(col("s_suppkey"))

  /** Strict rank of `df`'s `value` column against the set of `dim`'s
    * `dimValue` balances: adds `idxName` = #{b in dim : b < value}.
    * Fully distributed — no collect, no array literal, no interpreted
    * HOF lambda (the round-3 trap): the dim values are binned into a
    * fixed-width bucket grid; a customer-side row equi-joins
    * (BroadcastHashJoin) its bucket against a broadcast table holding,
    * per bucket, (a) one "base" row carrying the count of dim values in
    * strictly-lower buckets and (b) the bucket's individual dim values
    * for the strict within-bucket residual. Summing matched
    * contributions per key gives the exact strict rank.
    *
    * Scale: the broadcast side is dimension-sized (one row per dim value
    * + one per bucket); the only unpartitioned window runs over the
    * bucket GRID (bounded by value-range/width, not by data size); the
    * big side shuffles once on `key` for the contribution sum (map-side
    * combine applies). Out-of-grid values are clamped: below-grid rows
    * match only their zero base row (rank 0), above-grid rows match the
    * top bucket where every dim value passes the strict filter. */
  def strictRankViaBuckets(df: DataFrame, key: String, value: String,
      dim: DataFrame, dimValue: String, idxName: String,
      bucketWidth: Double = 500.0): DataFrame = {
    val sb = dim.select(col(dimValue).as("_b"),
      floor(col(dimValue) / bucketWidth).cast("long").as("_bkt"))
    val cnt = sb.groupBy(col("_bkt")).agg(count(lit(1)).as("_m"))
    val rng = cnt.agg(min(col("_bkt")).as("_lo"), max(col("_bkt")).as("_hi"))
    val grid = rng.select(explode(sequence(col("_lo"), col("_hi"))).as("_bkt"))
    // unpartitioned window (one task): one row per grid bucket,
    // (max − min dim value) / bucketWidth + 1 rows
    val below = grid.join(cnt, Seq("_bkt"), "left")
      .select(col("_bkt"), coalesce(col("_m"), lit(0L)).as("_m"))
      .withColumn("_base", coalesce(sum(col("_m")).over(
        Window.orderBy(col("_bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // One broadcast table, two row kinds: per-bucket base rows
    // (_b IS NULL, contributes _base) and per-dim-value rows
    // (contribute 1 when strictly below). A single BHJ + keyed sum.
    val contribs = below.select(col("_bkt"), lit(null).cast("double").as("_b"),
        col("_base").as("_contrib"))
      .unionAll(sb.select(col("_bkt"), col("_b"), lit(1L).as("_contrib")))
    val keyed = df.crossJoin(broadcast(rng))
      .withColumn("_cb", least(greatest(
        floor(col(value) / bucketWidth).cast("long"), col("_lo")), col("_hi")))
    keyed
      .join(broadcast(contribs),
        col("_cb") === col("_bkt") &&
          (col("_b").isNull || col("_b") < col(value)))
      .groupBy(df.columns.map(col).toIndexedSeq: _*)
      .agg(sum(col("_contrib")).as(idxName))
  }

  /** Strict rank as a first-class operator: every customer's position in
    * the SUPPLIER balance distribution (#{suppliers strictly poorer}) —
    * the "percentile against a reference distribution" op behind score
    * normalization and calibration curves. One [[strictRankViaBuckets]]
    * pass; equivalent to a correlated COUNT subquery with none of its
    * O(N·M) cost. */
  def customerRankAmongSuppliers(supplier: DataFrame, customer: DataFrame)
      : DataFrame =
    strictRankViaBuckets(
      customer.select(col("c_custkey"), col("c_acctbal")),
      "c_custkey", "c_acctbal", supplier, "s_acctbal", "n_poorer_suppliers")
      .orderBy(col("c_custkey"))

  /** Scalable rewrite of [[acctbalTheta]]: the BroadcastNestedLoopJoin
    * form materializes every matching (supplier, customer) pair — ~N·M/2
    * rows — only to count them. This form never materializes pairs:
    *  1. each customer computes idx = #{supplier balances < its balance}
    *     via [[strictRankViaBuckets]] (binned broadcast equi-join — no
    *     driver collect, no array literal, no interpreted HOF);
    *  2. a tiny idx-histogram (≤ M+1 rows) is suffix-summed onto supplier
    *     positions: position p's count = Σ hist(idx > p). Exact under
    *     ties because idx counts strictly-smaller balances, so it never
    *     lands inside an equal-balance run: for any position p in a run
    *     [s,e] of equal balances, idx > p ⟺ idx > s, so every supplier in
    *     the run gets the same count and `pos` may be the run's FIRST
    *     position — which is each supplier's own strict rank, computed by
    *     the same bucket join against the supplier set itself.
    * Output (and oracle) identical to the BNLJ form; cost drops from
    * O(N·M) materialized rows to O(N·M/B) bucket-residual pairs +
    * O(M²) tiny histogram join. */
  def acctbalThetaViaHistogram(supplier: DataFrame, customer: DataFrame): DataFrame = {
    val hist = strictRankViaBuckets(
        customer.select(col("c_custkey"), col("c_acctbal")),
        "c_custkey", "c_acctbal", supplier, "s_acctbal", "idx")
      .groupBy(col("idx")).agg(count(lit(1)).as("n_c"))
    val positioned = strictRankViaBuckets(
      supplier.select(col("s_suppkey"), col("s_name"), col("s_acctbal")),
      "s_suppkey", "s_acctbal", supplier, "s_acctbal", "pos")
    positioned
      .join(broadcast(hist), col("idx") > col("pos"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(sum(col("n_c")).as("n_richer_customers"))
      .filter(col("n_richer_customers") > 0)
      .orderBy(col("s_suppkey"))
  }

  /** Cross join of the two smallest dimensions. */
  def regionNationCross(region: DataFrame, nation: DataFrame): DataFrame =
    region.crossJoin(nation)
      .select(col("r_name"), col("n_name"))
      .orderBy(col("r_name"), col("n_name"))

  /** Ranking window: top-3 orders per customer by totalprice. */
  def top3OrdersPerCustomer(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Global top-k: TakeOrderedAndProject, never a full sort. */
  def topOrders(orders: DataFrame, k: Int = 10): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)

  /** Distinct aggregation: distinct part count per return flag. */
  def distinctParts(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag"))

  /** Approximate distinct (HLL++) — no DuckDB oracle (approximate), kept
    * as a rows-only query; at 100 TB this replaces exact countDistinct
    * whenever small error is acceptable (no shuffle of distinct values). */
  def approxDistinctParts(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
      .orderBy(col("l_returnflag"))

  /** ROLLUP grouping-set aggregation (subtotals + grand total). */
  def rollupQtyByFlagStatus(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(decSum(col("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** CUBE grouping-set aggregation (all combinations). */
  def cubeQtyByFlagStatus(lineitem: DataFrame): DataFrame =
    lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(decSum(col("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** UNION (distinct) of two customer-key sets. */
  def unionHighValueCustomers(customer: DataFrame, orders: DataFrame): DataFrame = {
    val rich = customer.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val bigSpenders = orders.filter(col("o_totalprice") > 50000)
      .select(col("o_custkey").as("c_custkey"))
    rich.union(bigSpenders).distinct().orderBy(col("c_custkey"))
  }

  /** INTERSECT of the same two sets. */
  def intersectHighValueCustomers(customer: DataFrame, orders: DataFrame): DataFrame = {
    val rich = customer.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val bigSpenders = orders.filter(col("o_totalprice") > 50000)
      .select(col("o_custkey").as("c_custkey"))
    rich.intersect(bigSpenders).orderBy(col("c_custkey"))
  }

  /** EXCEPT: rich customers who never placed a big order. */
  def exceptHighValueCustomers(customer: DataFrame, orders: DataFrame): DataFrame = {
    val rich = customer.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val bigSpenders = orders.filter(col("o_totalprice") > 50000)
      .select(col("o_custkey").as("c_custkey"))
    rich.except(bigSpenders).orderBy(col("c_custkey"))
  }

  /** Broadcast dim join over the part table: revenue per brand. */
  def revenueByBrand(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
        decAvg(col("p_retailprice"), 2).as("avg_retail"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))

  /** Supplier dimension rollup through nation (supplier side of the join
    * graph, FIXTURES.md): account balances per nation. */
  def supplierBalances(supplier: DataFrame, nation: DataFrame): DataFrame =
    supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        decSum(col("s_acctbal"), 2).as("total_acctbal"),
        max(col("s_acctbal")).as("max_acctbal"))
      .orderBy(col("n_name"))

  /** Exact variance/stddev from exact decimal moments: n, Σx, Σx² are
    * aggregated exactly, then var = (Σx² − (Σx)²/n)/(n−1) is a fixed
    * sequence of double ops — deterministic across engines, unlike the
    * built-in var_samp whose accumulation order varies. */
  def valueVariance(events: DataFrame): DataFrame = {
    val sx = sum(col("value").cast("decimal(28,6)")).cast("double")
    val sxx = sum((col("value") * col("value")).cast("decimal(28,6)"))
      .cast("double")
    val n = count(col("value")).cast("double")
    events
      .groupBy(col("event_type"))
      .agg(
        count(col("value")).as("n"),
        // round(…, 9): same decimal→double ulp hazard as qtyPriceCorrelation
        round((sxx - sx * sx / n) / (n - lit(1.0)), 9).as("var_value"),
        round(sqrt((sxx - sx * sx / n) / (n - lit(1.0))), 9).as("stddev_value"))
      .orderBy(col("event_type"))
  }

  /** Deterministic mode: most frequent event_type per user, smallest
    * value on frequency ties (the built-in `mode()` breaks ties
    * arbitrarily → not oracle-safe). */
  def modalEventType(events: DataFrame): DataFrame = {
    val counts = events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("cnt").desc, col("event_type"))
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("modal_type"), col("cnt"))
      .orderBy(col("user_id"))
  }

  /** Ordered string aggregation (listagg/string_agg): sort-then-join is
    * the deterministic form (collect_list order is partition-dependent). */
  def namesPerSegment(customer: DataFrame): DataFrame =
    customer
      .filter(col("c_custkey") <= 30)
      .groupBy(col("c_mktsegment"))
      .agg(
        concat_ws(",", array_sort(collect_list(col("c_name")))).as("names"),
        count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))

  /** Exact-moment Pearson correlation (same determinism rationale as
    * valueVariance: built-in corr's accumulation order varies; exact
    * decimal moments make the final double arithmetic a fixed op
    * sequence). */
  def qtyPriceCorrelation(lineitem: DataFrame): DataFrame = {
    def m(c: Column, scale: Int = 4) =
      sum(c.cast(s"decimal(38,$scale)")).cast("double")
    val n = count(lit(1)).cast("double")
    val sx = m(col("l_quantity"))
    val sy = m(col("l_extendedprice"))
    val sxx = m(col("l_quantity") * col("l_quantity"))
    val syy = m(col("l_extendedprice") * col("l_extendedprice"))
    val sxy = m(col("l_quantity") * col("l_extendedprice"))
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        // round(…, 9): decimal→double conversion differs by 1 ulp between
        // engines once the scaled integer exceeds 2^53 (observed at
        // sf0.001); rounding absorbs it without losing statistical meaning
        round((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): rows whose join
    * key is null still pair with null keys on the other side — the
    * semantics plain `=` silently drops. Keys are derived (every 7th
    * order's priority nulled) so the null-match path is exercised. Plans
    * as a normal hash join (null-safe equality is a valid equi key). */
  def nullSafeJoin(orders: DataFrame): DataFrame = {
    val keyed = orders
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("k"))
    val dim = orders
      .select(col("o_orderpriority").as("k")).distinct()
      .union(keyed.sparkSession.range(1).select(lit(null).cast("string").as("k")))
      .withColumn("dim_tag", coalesce(col("k"), lit("UNKNOWN")))
    keyed.join(dim, keyed("k") <=> dim("k"))
      .select(col("o_orderkey"), col("dim_tag"))
      .orderBy(col("o_orderkey"))
  }

  /** Simple linear regression (price ~ quantity) per group from the same
    * exact decimal moments as [[qtyPriceCorrelation]]: slope =
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept = (Σy − slope·Σx)/n. The
    * final arithmetic is a fixed sequence of IEEE double ops both
    * engines perform identically (rounded to absorb the decimal→double
    * ulp, as with corr). */
  def qtyPriceRegression(lineitem: DataFrame): DataFrame = {
    def m(c: Column, scale: Int = 4) =
      sum(c.cast(s"decimal(38,$scale)")).cast("double")
    val n = count(lit(1)).cast("double")
    val sx = m(col("l_quantity"))
    val sy = m(col("l_extendedprice"))
    val sxx = m(col("l_quantity") * col("l_quantity"))
    val sxy = m(col("l_quantity") * col("l_extendedprice"))
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(slope, 9).as("slope"),
        round((sy - slope * sx) / n, 6).as("intercept"))
      .orderBy(col("l_returnflag"))
  }

  /** dropDuplicates on a projection (exact distinct rows). */
  def distinctEventShapes(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_type"))
      .dropDuplicates()
      .orderBy(col("user_id"), col("event_type"))

  // --- TPC-H classic shapes (the canonical warehouse benchmark queries,
  // adapted to the fixture's column subset). These pin the engine against
  // the industry-standard plans: broadcast dim join (Q14), filtered
  // pre-aggregation then fact join (Q18), dim-chain enrichment with top-k
  // (Q10), and pure scan-side predicate aggregation (Q6).

  /** TPC-H Q14 (promotion effect): per ship month, the share of revenue
    * from PROMO-type parts. Part is a broadcast dim; the conditional
    * revenue is an exact decimal sum so the percentage is a single
    * deterministic double division. One lineitem scan, zero fact
    * shuffles before the month aggregation. */
  def promoRevenueShare(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(
        decSum(when(col("p_type") === "PROMO", rev).otherwise(lit(0)), 4)
          .as("promo_revenue"),
        decSum(rev, 4).as("total_revenue"))
      .select(col("ship_month"), col("promo_revenue"),
        col("total_revenue"),
        (lit(100.0) * col("promo_revenue") / col("total_revenue"))
          .as("promo_pct"))
      .orderBy(col("ship_month"))
  }

  /** TPC-H Q18 (large-volume orders): orders whose total line quantity
    * exceeds `minQty`, with their customer. The HAVING pre-aggregation
    * runs BEFORE any join — the fact table collapses to qualifying
    * orderkeys first, so the orders/customer joins see only the
    * (selectivity-bounded) survivors; top-k plans as
    * TakeOrderedAndProject. */
  def largeOrders(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, minQty: Double = 200.0): DataFrame = {
    val big = lineitem.groupBy(col("l_orderkey"))
      .agg(decSum(col("l_quantity"), 2).as("total_qty"))
      .filter(col("total_qty") > minQty)
    orders.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q10 (returned items): revenue lost to returns ('R' flag) per
    * customer over a quarter, nation-enriched, top 20. lineitem is
    * filtered on the scan (flag + date pushdown), then one shuffle to
    * the customer grain; customer and nation broadcast. */
  def returnedItems(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, nation: DataFrame): DataFrame =
    lineitem
      .filter(col("l_returnflag") === "R")
      .join(orders.filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q6 (forecasting revenue change): one filtered scan, one
    * global exact-decimal aggregate — the pushdown showcase (every
    * predicate reaches the parquet reader; no join, no shuffle beyond
    * the final 1-row combine). */
  def forecastRevenue(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        decSum(col("l_extendedprice") * col("l_discount"), 4)
          .as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q7 (volume shipping): cross-border trade volume per
    * (supplier nation, customer nation, ship year). Both nation
    * lookups ride broadcast dim chains (supplier⋈nation and
    * customer⋈nation collapse to small broadcast relations), so the
    * only fact-scale shuffle is lineitem⋈orders on the order key —
    * at 100 TB the two dim sides stay executor-local. */
  def nationTradeVolume(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = t(spark, dir, "lineitem")
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val supplier = t(spark, dir, "supplier")
    val nation = t(spark, dir, "nation")
    val suppNation = supplier.join(nation,
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val custNation = customer.join(nation,
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    lineitem
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q13 (customer distribution): how many customers placed
    * exactly k orders — the two-level aggregation (left outer join so
    * zero-order customers count, per-customer count, then a histogram
    * of the counts). The second aggregation's input is one row per
    * customer, so the heavy shuffle happens once at customer grain. */
  def custOrderDistribution(customer: DataFrame, orders: DataFrame)
      : DataFrame =
    customer
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("n_custs"))
      .orderBy(col("n_custs").desc, col("c_count").desc)

  /** TPC-H Q15 (top supplier): supplier(s) with the maximum quarterly
    * revenue. The max is a one-row aggregate broadcast back against the
    * per-supplier revenue relation (the scalar-subquery plan) — no
    * global sort, no single-partition window; revenue equality is safe
    * because both sides are the same exact-decimal sum. */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val supplier = t(spark, dir, "supplier")
    val revenue = t(spark, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("total_revenue"))
    val maxRev = revenue.agg(max(col("total_revenue")).as("max_rev"))
    revenue
      .join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17 (small-quantity-order revenue): average yearly revenue
    * lost if orders below 20% of a part's mean quantity were not taken.
    * The brand filter collapses part to a broadcast list; the per-part
    * mean is computed only over that brand's lineitems and broadcast
    * back (two passes over a 1/brand-count slice of the fact table, no
    * fact-side shuffle at all). */
  def smallQtyRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val brandParts = part.filter(col("p_brand") === "Brand#13")
      .select(col("p_partkey"))
    val brandLines = lineitem
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
    val avgQty = brandLines
      .groupBy(col("l_partkey"))
      .agg((decAvg(col("l_quantity"), 2) * lit(0.2)).as("qty_threshold"))
    brandLines
      .join(broadcast(avgQty), Seq("l_partkey"))
      .filter(col("l_quantity") < col("qty_threshold"))
      .agg(
        (decSum(col("l_extendedprice"), 2) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q19 (discounted revenue): revenue matched by a disjunction
    * of (brand, size-range, quantity-range) clauses — the OR-of-ANDs
    * predicate that exercises join-condition pushdown. Part broadcasts;
    * the disjunction is evaluated inside the broadcast hash join so no
    * non-matching row survives the probe. */
  def disjunctiveRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val clause =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    lineitem
      .join(broadcast(part),
        col("l_partkey") === col("p_partkey") && clause)
      .agg(
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q4 (order priority checking, adapted: the fixture has no
    * commit/receipt dates, so the correlated predicate is "a line
    * shipped after the order date"): orders in a quarter with at least
    * one such line, counted by priority. The EXISTS decorrelates to a
    * LEFT SEMI join on the order key with the lateness predicate as a
    * join condition — one shuffle, no duplicate-then-distinct. */
  def orderPriorityCheck(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .join(lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  /** TPC-H Q5 (local supplier volume): revenue from lineitems whose
    * supplier and ordering customer share a nation, for one region and
    * year — the join CYCLE (customer↔supplier nation equality) that
    * distinguishes it from a pure snowflake. Customer and supplier both
    * collapse to broadcast key→nation maps and the cycle predicate is
    * evaluated inside the second broadcast probe, so the fact table is
    * never shuffled for it. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = t(spark, dir, "lineitem")
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val supplier = t(spark, dir, "supplier")
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region")
    val regionNations = nation
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    lineitem
      .join(orders.filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(regionNations),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q8 (national market share): one nation's share of PROMO-part
    * revenue delivered into one region, per order year. Every dimension
    * side (part slice, region-member customers, supplier→nation map)
    * broadcasts; the share is two exact-decimal sums in the same
    * grouped pass — one fact-side shuffle at the year grain. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = t(spark, dir, "lineitem")
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val supplier = t(spark, dir, "supplier")
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region")
    val part = t(spark, dir, "part")
    val promoParts = part.filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val regionCust = customer
      .join(broadcast(nation
          .join(broadcast(region.filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNation = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    lineitem
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(orders.filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(regionCust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((decSum(when(col("supp_nation") === "NATION_7", vol)
          .otherwise(lit(0.0)), 4) / decSum(vol, 4)).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q21-shaped waiting suppliers (adapted: no commit/receipt
    * dates in the fixture, so "late" is shipped >60 days after the
    * order date): for finished orders with ≥2 suppliers where exactly
    * ONE supplier shipped late, count that supplier's late lines. The
    * doubly-correlated EXISTS / NOT EXISTS decorrelates to ONE grouped
    * pass per order key (supplier count, late-supplier count, the
    * unique late supplier and its late-line count) — the plan that
    * scales; the oracle keeps the literal subquery form. */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = t(spark, dir, "lineitem")
    val orders = t(spark, dir, "orders")
    val supplier = t(spark, dir, "supplier")
    val late = col("l_shipdate") >
      col("o_orderdate") + expr("INTERVAL 60 DAYS")
    lineitem
      .join(orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(when(late, col("l_suppkey"))).as("late_supps"),
        min(when(late, col("l_suppkey"))).as("late_supp"),
        sum(when(late, lit(1L)).otherwise(lit(0L))).as("late_lines"))
      .filter(col("n_supps") >= 2 && col("late_supps") === 1)
      .join(broadcast(supplier), col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** Ratio-to-report (percent-of-total window): each nation's share of
    * its region's revenue. One pass over the snowflake aggregate
    * ([[regionalRevenue]] grain), then a region-partitioned window sum
    * — parallel per region, never global. The window re-sums the
    * per-nation revenues as DECIMAL so the share's denominator is
    * order-independent (a double window sum over a hash-partitioned
    * frame is not). */
  def revenueShareByNation(spark: SparkSession, dir: String): DataFrame =
    regionalRevenue(spark, dir)
      .withColumn("region_revenue",
        sum(col("revenue").cast("decimal(28,4)"))
          .over(Window.partitionBy(col("r_name"))).cast("double"))
      .withColumn("region_share", col("revenue") / col("region_revenue"))
      .orderBy(col("r_name"), col("n_name"))

  /** RFM segmentation (recency / frequency / monetary quartiles — the
    * standard customer-value grid): per-customer R/F/M from one grouped
    * pass over orders, quartile labels by comparing against the three
    * exact interpolated percentiles of each metric. Thresholds are a
    * 1-row broadcast, so there is NO global-sort ntile window: each
    * customer's label is `1 + Σ(metric > p_k)`, embarrassingly
    * parallel, and ties need no ordering tiebreak because equal metric
    * ⇒ equal label. Recency is anchored to max(o_orderdate) so the
    * result is reproducible. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val anchor = orders.agg(max(col("o_orderdate")).as("anchor"))
    val rfm = orders
      .crossJoin(broadcast(anchor))
      .groupBy(col("o_custkey"))
      .agg(
        datediff(first(col("anchor")), max(col("o_orderdate")))
          .cast("long").as("r_days"),
        count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice"), 2).as("monetary"))
    val pct = rfm.agg(
      percentile(col("r_days"), lit(0.25)).as("r25"),
      percentile(col("r_days"), lit(0.5)).as("r50"),
      percentile(col("r_days"), lit(0.75)).as("r75"),
      percentile(col("n_orders"), lit(0.25)).as("f25"),
      percentile(col("n_orders"), lit(0.5)).as("f50"),
      percentile(col("n_orders"), lit(0.75)).as("f75"),
      percentile(col("monetary"), lit(0.25)).as("m25"),
      percentile(col("monetary"), lit(0.5)).as("m50"),
      percentile(col("monetary"), lit(0.75)).as("m75"))
    def quartile(c: Column, p25: Column, p50: Column, p75: Column) =
      lit(1) + (c > p25).cast("int") + (c > p50).cast("int") +
        (c > p75).cast("int")
    rfm.crossJoin(broadcast(pct))
      .select(col("o_custkey"), col("r_days"), col("n_orders"),
        col("monetary"),
        quartile(col("r_days"), col("r25"), col("r50"), col("r75"))
          .as("r_q"),
        quartile(col("n_orders"), col("f25"), col("f50"), col("f75"))
          .as("f_q"),
        quartile(col("monetary"), col("m25"), col("m50"), col("m75"))
          .as("m_q"))
      .withColumn("segment", concat(col("r_q").cast("string"),
        col("f_q").cast("string"), col("m_q").cast("string")))
      .orderBy(col("o_custkey"))
  }

  /** DuckDB oracle for [[rfmSegments]] — identical percentile
    * interpolation (quantile_cont) and threshold arithmetic. */
  def rfmSegmentsOracleSql(): String = {
    def q(c: String, p: String) =
      s"(1 + CAST($c > ${p}25 AS INTEGER) + CAST($c > ${p}50 AS INTEGER)" +
        s" + CAST($c > ${p}75 AS INTEGER))"
    s"""WITH rfm AS (
         SELECT o_custkey,
           CAST(date_diff('day', max(o_orderdate),
             (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS r_days,
           count(*) AS n_orders,
           ${sqlDecSum("o_totalprice", 2)} AS monetary
         FROM orders GROUP BY o_custkey),
       pct AS (
         SELECT
           quantile_cont(r_days, 0.25) AS r25,
           quantile_cont(r_days, 0.5) AS r50,
           quantile_cont(r_days, 0.75) AS r75,
           quantile_cont(n_orders, 0.25) AS f25,
           quantile_cont(n_orders, 0.5) AS f50,
           quantile_cont(n_orders, 0.75) AS f75,
           quantile_cont(monetary, 0.25) AS m25,
           quantile_cont(monetary, 0.5) AS m50,
           quantile_cont(monetary, 0.75) AS m75
         FROM rfm)
       SELECT o_custkey, r_days, n_orders, monetary,
         ${q("r_days", "r")} AS r_q,
         ${q("n_orders", "f")} AS f_q,
         ${q("monetary", "m")} AS m_q,
         CAST(${q("r_days", "r")} AS VARCHAR) ||
         CAST(${q("n_orders", "f")} AS VARCHAR) ||
         CAST(${q("monetary", "m")} AS VARCHAR) AS segment
       FROM rfm, pct ORDER BY o_custkey"""
  }

  /** Market-basket co-purchase pairs: parts most often appearing in the
    * same order. The pair expansion is a per-order self-join — bounded
    * by lines-per-order (≤7 in TPC-H ⇒ ≤21 pairs per order), the same
    * bounded-group argument as the triangle wedge expansion, so it
    * scales linearly in orders, not quadratically in parts. Final
    * top-k is TakeOrderedAndProject (no global sort). */
  def copurchasePairs(lineitem: DataFrame, topK: Int = 50): DataFrame = {
    val items = lineitem
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct()
    items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"),
        col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** TPC-H Q22 (global sales opportunity, adapted to market segments):
    * customers with an above-average positive balance and NO orders in
    * the 90 days before the newest order (dormancy is data-anchored so
    * the result is reproducible), grouped by segment. Both scalar
    * subqueries (average balance, dormancy cutoff) become 1-row
    * broadcast nested-loop filters; the NOT EXISTS becomes a left-anti
    * join against the recent order keys — no correlated execution
    * anywhere. */
  def dormantCustomers(customer: DataFrame, orders: DataFrame): DataFrame = {
    val cutoff = orders.agg(
      (max(col("o_orderdate")) - expr("INTERVAL 90 DAYS")).as("cutoff"))
    val recent = orders
      .join(broadcast(cutoff), col("o_orderdate") > col("cutoff"))
      .select(col("o_custkey"))
    val avgBal = customer.filter(col("c_acctbal") > 0)
      .agg(decAvg(col("c_acctbal"), 2).as("avg_bal"))
    customer
      .join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        decSum(col("c_acctbal"), 2).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q2 (minimum cost supplier, adapted: the fixture has no
    * partsupp, so the part↔supplier offer relation derives from
    * lineitem — a supplier's unit cost for a part is the minimum
    * per-unit price it ever shipped that part at). For every LARGE
    * part, the EUROPE supplier(s) offering the region-wide minimum
    * unit cost — the correlated-scalar-min shape. Offers aggregate at
    * (part, supplier) grain with map-side combine; the per-part min
    * and the offers relation both hash-partition on partkey, so the
    * correlated-min equality join reuses one exchange (no second
    * fact shuffle); dims broadcast. Ties all survive (the Q2
    * contract); top-100 plans as TakeOrderedAndProject. */
  def minCostSupplier(part: DataFrame, supplier: DataFrame,
      nation: DataFrame, region: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val eur = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val offers = lineitem
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val eurOffers = offers
      .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(part.filter(col("p_type") === "LARGE")
          .select(col("p_partkey"), col("p_name"))),
        col("l_partkey") === col("p_partkey"))
    val minCost = eurOffers.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("unit_cost")).as("min_cost"))
    eurOffers
      .join(minCost,
        col("p_partkey") === col("mk") &&
          col("unit_cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("unit_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q9 (product type profit, adapted: no partsupp supply cost,
    * so cost per unit is proxied by half the part's retail price —
    * the join/aggregation shape is what matters). Profit on every
    * lineitem of a '%bolt%' part, grouped by supplier nation and ship
    * year. One fact scan, BOTH dims broadcast (part filtered before
    * the exchange), zero fact shuffles before the (nation, year)
    * aggregation; the profit expression is summed as exact decimal. */
  def productTypeProfit(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame, nation: DataFrame): DataFrame = {
    val bolts = part.filter(col("p_name").like("%bolt%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val supNation = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    lineitem
      .join(broadcast(bolts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).as("o_year"))
      .agg(decSum(
        col("l_extendedprice") * (lit(1) - col("l_discount")) -
          lit(0.5) * col("p_retailprice") * col("l_quantity"), 4)
        .as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 (important stock, adapted: part value = revenue shipped
    * by ASIA suppliers, standing in for supplycost×availqty). Parts
    * whose value exceeds 2× the mean per-part value — the
    * grouped-aggregate vs global-scalar-subquery HAVING shape. The
    * threshold derives from the SAME part-grain aggregate (no second
    * fact pass); the mean is an exact decimal sum over the part-grain
    * rows so the cutoff replays deterministically. */
  def importantParts(lineitem: DataFrame, supplier: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val asia = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val byPart = lineitem
      .join(broadcast(asia), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(decSum(col("l_extendedprice") * col("l_quantity"), 4)
        .as("value"))
    val thr = byPart.agg(
      (decSum(col("value"), 6) / count(lit(1)) * lit(2.0)).as("thr"))
    byPart.join(broadcast(thr), col("value") > col("thr"))
      .select(col("p_partkey"), col("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** TPC-H Q12 (shipping modes and order priority, adapted: the
    * fixture has no ship mode or receipt date, so the categorical is
    * l_linestatus and "late" means shipped more than 90 days after the
    * order date). Per status, how many late lines belong to
    * high-priority vs other orders — the fact-fact join + conditional
    * CASE-count shape. Lateness is a direct timestamp comparison
    * (`shipdate > orderdate + 90 days`) — the fixture stores these
    * columns as TIMESTAMP_NTZ, which `unix_micros` rejects, and
    * interval arithmetic on NTZ is exact (no DST), so DuckDB replays
    * it verbatim. */
  def shipModes(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))

  /** TPC-H Q16 (parts/supplier relationship, adapted: the
    * part↔supplier bridge derives from lineitem, and the excluded
    * "complaint" suppliers are those with a below-average account
    * balance — a NOT IN whose subquery carries its own scalar
    * subquery). Distinct supplier count per (brand, type, size) for
    * parts that are neither Brand#13 nor PROMO. The bridge collapses
    * to distinct (part, supplier) pairs FIRST (pair-grain shuffle,
    * map-side combinable), the exclusion is a broadcast anti join, and
    * only then does countDistinct run per part-group. */
  def partSupplierCounts(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame): DataFrame = {
    val avgBal = supplier.agg(decAvg(col("s_acctbal"), 2).as("ab"))
    val excluded = supplier.crossJoin(broadcast(avgBal))
      .filter(col("s_acctbal") < col("ab"))
      .select(col("s_suppkey"))
    val sel = part
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO")
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_size"))
    lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(excluded),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(sel), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q20 (potential part promotion, adapted: availqty is
    * unavailable, so the inner HAVING keeps suppliers that shipped
    * more than 100 units of 'large%' parts in 1997). EUROPE suppliers
    * inside the nested IN — the IN(subquery with GROUP BY/HAVING)
    * shape, planned as an aggregate-then-semi-join: the inner
    * aggregation collapses the fact to supplier grain before any join,
    * and the semi join probes that tiny relation. */
  def promoSuppliers(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    val bigShippers = lineitem
      .join(broadcast(part.filter(col("p_name").like("large%"))
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(decSum(col("l_quantity"), 2).as("qty"))
      .filter(col("qty") > 100.0)
      .select(col("l_suppkey"))
    supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .join(bigShippers, col("s_suppkey") === col("l_suppkey"),
        "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  /** EXACT join-cardinality profile WITHOUT materializing the join —
    * the statistic a cost-based optimizer (or a capacity planner sizing
    * a 100 TB shuffle) needs before committing to the join: |A ⋈ B| =
    * Σ_k c_A(k)·c_B(k), computed by aggregating each side to KEY grain
    * (map-side combinable, output bounded by distinct keys) and joining
    * the two count relations. The wide join never runs; at 100 TB this
    * is the difference between a key-grain metadata pass and a
    * multi-TB shuffle. Also reports per-side row/key counts and the
    * matching-key overlap (the containment the estimate depends on). */
  def joinCardinality(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val l = lineitem.groupBy(col("l_orderkey").as("k"))
      .agg(count(lit(1)).as("cl"))
    val o = orders.groupBy(col("o_orderkey").as("k"))
      .agg(count(lit(1)).as("co"))
    val matched = l.join(o, Seq("k"))
      .agg(count(lit(1)).as("n_matching_keys"),
        sum(col("cl") * col("co")).as("join_rows"))
    // side totals derive from the key-grain aggregates already built —
    // no second scan, no global distinct pass (review r7)
    val lSide = l.agg(sum(col("cl")).as("n_left"),
      count(lit(1)).as("n_left_keys"))
    val rSide = o.agg(sum(col("co")).as("n_right"),
      count(lit(1)).as("n_right_keys"))
    lSide.crossJoin(broadcast(rSide)).crossJoin(broadcast(matched))
      .select(col("n_left"), col("n_right"), col("n_left_keys"),
        col("n_right_keys"), col("n_matching_keys"), col("join_rows"))
  }
}
