package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-catalog plan audit: no query may plan a CartesianProduct — the
  * one operator shape that cannot survive a 100-TB input — except the
  * explicitly-intentional demonstrations. (BroadcastNestedLoopJoin is
  * permitted ONLY because every non-intentional occurrence here is a
  * one-row scalar-anchor broadcast; the quadratic theta-join baseline
  * that uses it for real is itself the documented contrast query for
  * its pair-free rewrite.) */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  // intentional: q_cross_join demonstrates the tiny-dimension cross join
  private val cartesianAllowed = Set("q_cross_join")

  test("no query plans a CartesianProduct (except the intentional demo)") {
    val offenders = SparkEntry.registry.sortBy(_.name).flatMap { q =>
      // building the frame may run small driver-side jobs (scalar
      // anchors, streaming drains, CC rounds) — at sf0.001 that is
      // cheap, and it is exactly what Verify does
      val plan = q.build(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct") &&
        !cartesianAllowed.contains(q.name)) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"CartesianProduct found in: ${offenders.mkString(", ")}")
  }

  // Unpartitioned windows ship every input row to ONE task — the shape
  // that silently works at test SF and dies at 100×. The allowlist below
  // is every query whose global window provably runs at a BOUNDED grain
  // (post-aggregation rows capped by a value domain, not by data size);
  // each entry names the grain. Corpus-scale rank/top-k must use
  // orderBy().limit(k) (TakeOrderedAndProject) or a partitioned /
  // bucket-grid rewrite instead (see bm25Rank, giniRevenue).
  private val globalWindowAllowed = Set(
    "q_benford",         // 9 leading-digit rows post-agg
    "q_budget_select",   // ≤1001 score-bucket rows (the per-doc
                         // cumulative windows ARE partitioned; only
                         // the bucket running total is global)
    "q_contingency",     // |event_types|·7 grid rows post-agg
    "q_equidepth_hist",  // strictRankViaBuckets bucket grid
    "q_gini",            // cent-bucket grid (value-range / $1000)
    "q_ks_test",         // distinct n_chars values (length domain)
    "q_monthly_growth",  // calendar months
    "q_quality_sweep",   // 11 TTR bins
    "q_skyline",         // distinct price-cent values (price grid)
    "q_strict_rank",     // strictRankViaBuckets bucket grid
    "q_theta_hist",      // strictRankViaBuckets bucket grid
    "q_vocab_growth",    // curve points: n_docs/bucketSize, a
                         // caller-chosen plot resolution, not data size
    "q_waterfill",       // S source rows post-agg (the corpus-sized
                         // work is one map-side sum at source grain)
  )

  test("q_bloom_join probes an in-engine subquery filter, not a plan literal") {
    val qe = SparkEntry.queries("q_bloom_join")(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("might_contain"),
      "expected a BloomFilterMightContain probe on the fact scan:\n" +
        plan.take(2000))
    assert(plan.contains("bloom_filter_agg") || plan.contains("Subquery"),
      "expected the filter built by an in-engine BloomFilterAggregate " +
        "subquery (the InjectRuntimeFilter shape):\n" + plan.take(2000))
    // the r7 regression this guards: a driver-built filter serialized as
    // a foldable BINARY literal bloats every later plan/event string in
    // the session (measured +4-18 s on FOLLOWING queries)
    // whole-TREE scan: QueryPlan.expressions is node-local, and the r7
    // literal lived in the probe-side Filter, not the root Aggregate
    val literalBlob = qe.optimizedPlan.collect {
      case node if node.expressions.exists(
        _.collect { case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.value.isInstanceOf[Array[Byte]] &&
              l.value.asInstanceOf[Array[Byte]].length > 10000 => l
        }.nonEmpty) => node
    }.nonEmpty
    assert(!literalBlob, "found a >10KB binary literal in the plan")
  }

  test("q_dpp_date's fact scan carries a dynamicpruning partition filter") {
    val plan = SparkEntry.queries("q_dpp_date")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "expected a dynamicpruningexpression PartitionFilter on the " +
        "date-partitioned events scan:\n" + plan.take(2000))
  }

  test("no corpus-scale unpartitioned window (bounded-grain allowlist only)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.registry.sortBy(_.name).flatMap { q =>
      val hasGlobal = q.build(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.nonEmpty
      if (hasGlobal && !globalWindowAllowed.contains(q.name)) Some(q.name)
      else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window found in: ${offenders.mkString(", ")}")
  }

  test("q_bucket_join: the SortMergeJoin consumes bucket partitioning — " +
      "no exchange on either join input") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plan = SparkEntry.queries("q_bucket_join")(spark, sf)
      .queryExecution.executedPlan
    def strip(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val smj = strip(plan).collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, "expected a SortMergeJoin:\n" + plan.toString.take(2000))
    val shufflesBelowJoin = smj.flatMap(_.collect {
      case e: ShuffleExchangeLike => e
    })
    assert(shufflesBelowJoin.isEmpty,
      "bucketed join inputs must not shuffle:\n" + plan.toString.take(3000))
    assert(plan.toString.contains("SelectedBucketsCount: 8 out of 8") ||
      plan.toString.contains("Bucketed: true"),
      "expected bucketed scans:\n" + plan.toString.take(2000))
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the " +
      "final adaptive plan) — the engine's answer to hot keys beyond " +
      "manual salting") {
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) =>
      k -> util.Try(spark.conf.get(k)).toOption.filter(_ != null) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key carrying 95% of the left side vs a uniform right
      val left = spark.range(0, 200000)
        .select(when(col("id") < 190000, 0L).otherwise(col("id") % 1000)
          .as("k"), col("id").as("v"))
      val right = spark.range(0, 1000)
        .select(col("id").as("k2"), (col("id") * 2).as("w"))
      val joined = left.join(right, col("k") === col("k2"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val n = joined.collect().head.getLong(0)
      assert(n == 200000L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        "expected AQE OptimizeSkewedJoin to mark the join " +
          "(skew=true):\n" + finalPlan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no scaladoc is stacked on another (scaladoc drops the upper one)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .toSeq.sortBy(_.toString)
    val stacked = files.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      def blank(i: Int) = i < lines.length && lines(i).trim.isEmpty
      var found = Seq.empty[String]
      var i = 0
      while (i < lines.length) {
        if (lines(i).trim.startsWith("/**")) {
          var end = i
          while (end < lines.length && !lines(end).contains("*/")) end += 1
          var next = end + 1
          while (blank(next)) next += 1
          if (next < lines.length && lines(next).trim.startsWith("/**"))
            found :+= s"$p:${i + 1} (next doc at line ${next + 1})"
          i = end + 1
        } else i += 1
      }
      found
    }
    assert(stacked.isEmpty, "a /** */ block followed by another one, with " +
      "only blank lines between, is dropped by scaladoc:\n" +
      stacked.mkString("\n"))
  }
}
