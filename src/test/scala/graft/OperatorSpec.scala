package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-backed operator invariants (sf0.001) + plan-shape assertions
  * (the "would this scale" checks: broadcast where intended, pushdown
  * reaching the parquet scan, top-k not globally sorting). */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("every query runs and is non-degenerate on sf0.001") {
    // queries allowed to legitimately return 0 rows at this scale:
    val mayBeEmpty = Set("q_anti_join", "q_except", "q_minhash_lsh",
      "q_simhash_pairs", "q_cosine_neardup", "q_jaccard_pairs",
      "q_jaccard_prefix")
    SparkEntry.registry.foreach { q =>
      val n = q.build(spark, sf).count()
      assert(n >= 0 && (mayBeEmpty(q.name) || n > 0),
        s"${q.name} returned $n rows")
    }
  }

  test("oracle SQL exists for every SQL-expressible query") {
    // rows-only queries (no oracle) are a CLOSED, documented set — each
    // is approximate/engine-native by design with an error-bound unit
    // test, and most have a fully-oracled neutral twin. Adding a query
    // without an oracle must be a deliberate decision that lands here.
    val rowsOnlyByDesign = Set(
      "q_approx_distinct",   // HLL estimate (exact twin: q_distinct_parts)
      "q_approx_percentile", // sketch estimate (twin: q_percentile)
      "q_hll_mergeable",     // Datasketches HLL union (SketchSpec bound)
      "q_kll_mergeable",     // KLL quantiles (SketchSpec bound)
      "q_theta_overlap",     // theta sketch set ops (SketchSpec bound)
      "q_minhash_lsh",       // xxhash64 bands (oracled twin: q_minhash_neutral)
      "q_simhash_pairs")     // xxhash64 64-bit (twin: q_simhash_neutral)
    val noOracle = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(noOracle == rowsOnlyByDesign,
      s"undocumented rows-only queries: ${noOracle -- rowsOnlyByDesign}; " +
        s"stale allowlist entries: ${rowsOnlyByDesign -- noOracle}")
  }

  test("the registry rejects a repeated query name, naming it") {
    val q = Query("q_twice", (s, dir) => Tables.load(s, dir, "region"), None)
    val e = intercept[IllegalArgumentException](
      Query.list(q, q.copy(oracle = Some("SELECT 1"))))
    assert(e.getMessage.contains("q_twice"))
    assert(Query.list(q, q.copy(name = "q_once")).map(_.name) ==
      Seq("q_twice", "q_once"))
  }

  test("dedup weights: every doc weighted, each cluster contributes " +
      "one doc of mass") {
    val docs = Tables.load(spark, sf, "documents")
    val rows = operators.Pipeline.dedupWeights(docs).collect()
    assert(rows.length == docs.count())
    assert(rows.forall { r =>
      val w = r.getDouble(3); w > 0.0 && w <= 1.0
    })
    // soft-dedup contract: Σ weight over a cluster == 1 (one document's
    // worth of training mass per near-dup family)
    rows.groupBy(_.getLong(1)).foreach { case (c, rs) =>
      val mass = rs.map(_.getDouble(3)).sum
      assert(math.abs(mass - 1.0) < 1e-6, s"cluster $c mass $mass")
      assert(rs.forall(_.getLong(2) == rs.length.toLong))
    }
    // singletons weigh exactly 1.0
    assert(rows.filter(_.getLong(2) == 1L).forall(_.getDouble(3) == 1.0))
  }

  test("budget select is the exact greedy prefix under the token budget") {
    val docs = Tables.load(spark, sf, "documents")
    val budget = 10000L
    val sel = operators.Pipeline.budgetSelect(docs, budget).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sel.nonEmpty && sel.forall(_._4 <= budget))
    // recompute the greedy on the driver from scratch
    val all = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2) * 1000000L / r.getLong(1)))
    val ordered = all.sortBy { case (id, _, s) => (-s, id) }
    var cum = 0L
    val expect = ordered.takeWhile { case (_, n, _) =>
      cum += n; cum <= budget
    }.map(_._1).toSet
    assert(sel.map(_._1).toSet == expect)
    // maximality: the next doc in greedy order would overflow
    val selected = sel.map(_._1).toSet
    ordered.find(t => !selected.contains(t._1)).foreach { next =>
      assert(sel.map(_._3).sum + next._2 > budget)
    }
  }

  test("leakage-safe splits: no near-dup cluster straddles two splits") {
    val rows = operators.Pipeline
      .leakageSafeSplits(Tables.load(spark, sf, "documents")).collect()
    assert(rows.length == 500)
    // the defining property: one split per cluster
    val splitsPerCluster = rows.groupBy(_.getLong(1))
      .map { case (_, rs) => rs.map(_.getString(2)).distinct.length }
    assert(splitsPerCluster.forall(_ == 1))
    // all three splits are populated and clusters actually group docs
    assert(rows.map(_.getString(2)).distinct.sorted.toSeq ==
      Seq("test", "train", "val"))
    assert(rows.groupBy(_.getLong(1)).exists(_._2.length > 1),
      "expected at least one multi-doc cluster in the fixture")
  }

  test("observe() collects pipeline metrics in the same pass") {
    // The reference dashboard re-queried Mongo for record counts
    // (app.py:488-497); observe() attaches the metrics to the flowing
    // pass — no second scan.
    val obs = org.apache.spark.sql.Observation("pipeline_metrics")
    val events = Tables.load(spark, sf, "events")
    val total = events.count()
    val clicks = events
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
      .filter(col("event_type") === "click")
      .count()
    val m = obs.get
    assert(m("n_rows") == total, s"observed ${m("n_rows")} of $total")
    assert(clicks > 0 && clicks < total)
    assert(m("sum_value").asInstanceOf[Double] > 0.0)
  }

  test("top-1 = head of full sort (property: O3/A6)") {
    val events = Tables.load(spark, sf, "events")
    val viaLimit = operators.EventsPipeline.latestRecord(events)
      .collect()(0).getAs[Long]("event_id")
    val viaSort = events.orderBy(col("ts").desc, col("event_id").desc)
      .collect()(0).getAs[Long]("event_id")
    assert(viaLimit == viaSort)
  }

  test("count equals sum of grouped counts (property: A1)") {
    val events = Tables.load(spark, sf, "events")
    val total = events.count()
    val grouped = operators.EventsPipeline.requiredKeyCounts(events)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(grouped == total) // fixture has no nulls
  }

  test("broadcast join is planned for dimension joins") {
    val plan = operators.Relational.revenueBySegment(
      Tables.load(spark, sf, "orders"), Tables.load(spark, sf, "customer"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    val plan = operators.Relational.topOrders(
      Tables.load(spark, sf, "orders"), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("historicalRangeScan pushes the time filter into the parquet scan " +
      "and matches the single-plan broadcast form") {
    val scan = operators.EventsPipeline.historicalRangeScan(spark, sf)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      plan.take(800))
    val viaJoin = operators.EventsPipeline
      .historicalRange(Tables.load(spark, sf, "events"))
      .collect().map(_.getLong(0)).toSeq
    assert(scan.collect().map(_.getLong(0)).toSeq == viaJoin)
  }

  test("filter is pushed to the parquet scan") {
    val df = Tables.load(spark, sf, "lineitem")
      .filter(col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"),
      plan.take(800))
  }

  test("multimodal stub pipeline produces typed features per item") {
    val docs = Tables.load(spark, sf, "documents")
    val feats = multimodal.Multimodal.extractFeatures(
      spark, multimodal.Multimodal.mediaTable(spark, docs))
    val rows = feats.collect()
    assert(rows.length == 500)
    assert(rows.forall(f => f.frameCount == 4 && f.nBytes > 0 &&
      f.meanByte > 0 && f.byteEntropyMilli > 0))
  }

  test("frame pipeline: sampling picks uniform indices; pooling " +
      "preserves the frame mean") {
    import multimodal.Multimodal._
    assert(sampleFrameIdx(8, 3) == Seq(0, 2, 5))
    assert(sampleFrameIdx(8, 8) == (0 until 8))
    // constant frame: 2x2 average pooling is exact -> mean preserved
    val const = Array.fill(64)(200)
    assert(pool2x2(const).toSeq == Seq.fill(16)(200))
    // gradient frame: pooled mean stays within integer-truncation error
    val grad = Array.tabulate(64)(i => i * 4)
    val pooled = pool2x2(grad)
    assert(pooled.length == 16)
    val mOrig = grad.sum.toDouble / 64
    val mPool = pooled.sum.toDouble / 16
    assert(math.abs(mOrig - mPool) <= 1.0, s"$mOrig vs $mPool")
    // end-to-end: every doc yields exactly sampleN frame rows
    val docs = Tables.load(spark, sf, "documents")
    val ff = multimodal.Multimodal.frameFeatures(
      spark, multimodal.Multimodal.mediaTable(spark, docs))
    val byId = ff.collect().groupBy(_.mediaId)
    assert(byId.values.forall(_.length == 3))
    assert(byId.values.forall(_.map(_.frameIdx).toSeq.sorted == Seq(0, 2, 5)))
  }

  test("typed Aggregator computes weighted mean over a Dataset") {
    import graft.functions.TypedAggregators._
    val sq = spark
    import sq.implicits._
    val ds = Seq(
      WeightedValue(10.0, 1.0),
      WeightedValue(20.0, 3.0)).toDS()
    val got = ds.select(weightedMean.toColumn).collect()(0)
    assert(math.abs(got - 17.5) < 1e-12)
  }

  test("exact-moment variance matches a direct computation") {
    val events = Tables.load(spark, sf, "events")
    val out = operators.Relational.valueVariance(events).collect()
    val vals = events.select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    out.foreach { r =>
      val xs = vals.filter(_._1 == r.getString(0)).map(_._2)
      val mean = xs.sum / xs.length
      val expect = xs.map(x => (x - mean) * (x - mean)).sum / (xs.length - 1)
      assert(math.abs(r.getDouble(2) - expect) < 1e-6,
        s"${r.getString(0)}: ${r.getDouble(2)} vs $expect")
    }
  }

  test("map functions over parsed props payloads") {
    import org.apache.spark.sql.types._
    val events = Tables.load(spark, sf, "events")
      .withColumn("m", from_json(col("props"), MapType(StringType, IntegerType)))
    val row = events
      .select(
        map_keys(col("m")).as("ks"),
        map_values(col("m")).as("vs"),
        element_at(col("m"), "k").as("k_val"),
        map_concat(col("m"), map(lit("extra"), lit(1))).as("merged"))
      .filter(col("k_val").isNotNull)
      .limit(1).collect()(0)
    assert(row.getSeq[String](0) == Seq("k"))
    assert(row.getMap[String, Int](3).keySet == Set("k", "extra"))
  }

  test("BottomKByHash sample is independent of partitioning") {
    val docs = Tables.load(spark, sf, "documents")
    def sample(df: org.apache.spark.sql.DataFrame) =
      operators.Pipeline.corpusSample(df).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val a = sample(docs)
    val b = sample(docs.repartition(17))
    val c = sample(docs.coalesce(1))
    assert(a == b && b == c)
    assert(a.values.forall(_.split(',').length == 5))
  }

  test("language id picks a deterministic argmax") {
    val docs = Tables.load(spark, sf, "documents")
    val out1 = text.TextAnalysis.languageId(docs).collect().toSeq
    val out2 = text.TextAnalysis.languageId(docs).collect().toSeq
    assert(out1 == out2 && out1.length == 500)
  }

  test("funnel steps are ordered and monotonically non-increasing") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("ts", TimestampType)))
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val rows = Seq(
      R(1L, "view", ts(1)), R(1L, "click", ts(2)), R(1L, "purchase", ts(3)),
      R(2L, "view", ts(1)), R(2L, "purchase", ts(2)), // no click: stops at 1
      R(3L, "click", ts(1)), R(3L, "view", ts(2)), // click BEFORE view
      R(4L, "view", ts(1)), R(4L, "click", ts(2))) // no purchase
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = operators.EventsPipeline.funnel(df)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(out.toSeq == Seq((1, 4L), (2, 2L), (3, 1L)))
  }

  test("retention cohort 0-offset equals cohort size") {
    val events = Tables.load(spark, sf, "events")
    val out = operators.EventsPipeline.retention(events)
    // every user appears at offset 0 of their own cohort, so the
    // 0-offset cell is the cohort's total distinct-user count
    val zero = out.filter(col("week_offset") === 0)
      .agg(sum(col("n_users"))).collect()(0).getLong(0)
    val users = events.select(col("user_id")).distinct().count()
    assert(zero == users)
    assert(out.filter(col("week_offset") < 0).isEmpty)
  }

  test("linear interpolation fills interior gaps exactly") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    val rows = Seq(
      R("a", ts(0), 1.0), R("a", ts(3), 4.0), // gap at hours 1,2
      R("b", ts(2), 10.0)) // edges at hours 0,1,3
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = operators.EventsPipeline.interpolateHourly(df)
      .collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getString(4)))
    assert(out.toSeq == Seq(
      ("a", 1.0, "observed"), ("a", 2.0, "interpolated"),
      ("a", 3.0, "interpolated"), ("a", 4.0, "observed"),
      ("b", 10.0, "edge"), ("b", 10.0, "edge"),
      ("b", 10.0, "observed"), ("b", 10.0, "edge")))
  }

  test("lexical diversity: ttr and Simpson index are exact") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val rows = Seq(R(1L, "a a b"), R(2L, "x y z"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val res = text.TextAnalysis.lexicalDiversity(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(res.toSeq == Seq(
      (1L, 3L, 2L, 2.0 / 3.0, 1.0 - 5.0 / 9.0),
      (2L, 3L, 3L, 1.0, 1.0 - 3.0 / 9.0)))
  }

  test("triangle count on a known co-supply graph") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType)))
    // part 1 supplied by {1,2,3} -> K3; part 2 by {3,4} -> pendant edge
    val rows = Seq(R(1L, 1L), R(1L, 2L), R(1L, 3L), R(2L, 3L), R(2L, 4L),
      R(1L, 1L)) // duplicate lineitem row must not double-count
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = operators.Graph.triangles(df).collect()(0)
    assert(out.getLong(0) == 4) // nodes
    assert(out.getLong(1) == 4) // edges
    assert(out.getLong(2) == 5) // wedges: deg 2,2,3,1 -> 1+1+3+0
    assert(out.getLong(3) == 1) // one triangle
    assert(out.getDouble(4) == 3.0 * 1.0 / 5.0)
  }

  test("triangle posting cap keeps the k smallest suppliers per part") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType)))
    // one part with 6 suppliers; cap=3 keeps {1,2,3} -> K3 exactly
    val rows = (1L to 6L).map(s => R(1L, s))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = operators.Graph.triangles(df, suppPerPart = 3).collect()(0)
    assert(out.getLong(0) == 3) // nodes: only the 3 smallest survive
    assert(out.getLong(1) == 3) // K3 edges
    assert(out.getLong(3) == 1) // one triangle
  }

  test("label propagation splits two cliques joined by a bridge " +
      "(the case connected components cannot separate)") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType)))
    // parts 1/2 make K4 on {1,2,3,4} and K4 on {5,6,7,8} (cap=5 keeps
    // all); part 3 bridges 4-5, so CC sees ONE component but the
    // min-tiebreak majority vote pulls each clique to its own label
    val rows = (1L to 4L).map(s => R(1L, s)) ++
      (5L to 8L).map(s => R(2L, s)) ++ Seq(R(3L, 4L), R(3L, 5L))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows),
      schema)
    val out = operators.Graph.labelPropagation(df, suppPerPart = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // three synchronous rounds converge here: majority vote pulls each
    // clique to its own min label despite the 4-5 bridge
    assert(out.toSeq == (1L to 4L).map((_, 1L)) ++ (5L to 8L).map((_, 5L)))
    // deterministic under repartitioning (synchronous rounds + min
    // tie-break leave nothing order-dependent)
    val re = operators.Graph.labelPropagation(df.repartition(7),
      suppPerPart = 5).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(re.toSeq == out.toSeq)
  }

  test("iterative graph/CC loops: checkpoint-every-k leaves results " +
      "unchanged and truncates the unrolled-round lineage") {
    val li = Tables.load(spark, sf, "lineitem")
    // checkpointed == unrolled, per loop (localCheckpoint only cuts
    // lineage; the per-round arithmetic is identical)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(sorted(operators.Graph.pagerank(li, checkpointEvery = 1)) ==
      sorted(operators.Graph.pagerank(li)))
    assert(sorted(operators.Graph.bfsHops(li, checkpointEvery = 1)) ==
      sorted(operators.Graph.bfsHops(li)))
    assert(sorted(operators.Graph.labelPropagation(li, checkpointEvery = 1)) ==
      sorted(operators.Graph.labelPropagation(li)))
    val docs = Tables.load(spark, sf, "documents")
    val ck = sorted(operators.Pipeline.dedupClusters(docs)) // default k=2
    assert(ck == sorted(operators.Pipeline
      .dedupClusters(docs, checkpointEvery = 0)))
    // the default CC plan is lineage-BOUNDED: the pair graph pins as a
    // LogicalRDD leaf and rounds carry at most k join/agg subtrees,
    // vs the full unrolled chain re-embedding the jaccard subtree
    // string-count over the planned physical plan (the PlanStats
    // convention — AQE wraps the tree, so node-type collect sees nothing)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      """Exchange (hashpartitioning|rangepartitioning|SinglePartition)""".r
        .findAllMatchIn(df.queryExecution.executedPlan.toString
          .linesIterator.filterNot(_.contains("ReusedExchange"))
          .mkString("\n")).length
    val bounded = exchanges(operators.Pipeline.dedupClusters(docs))
    val unrolled = exchanges(
      operators.Pipeline.dedupClusters(docs, checkpointEvery = 0))
    assert(bounded < unrolled,
      s"expected checkpointed plan ($bounded exchanges) smaller than " +
        s"unrolled ($unrolled)")
  }

  test("label propagation result is distributed (no driver-side " +
      "materialization) and releases the adjacency cache") {
    val li = Tables.load(spark, sf, "lineitem")
    // ADVICE r11: RDD names are never set, so a name-based census is
    // vacuous — assert on the persisted-RDD COUNT delta instead. One
    // new entry is LEGITIMATE: localCheckpoint persists its RDD (it
    // does show in getPersistentRDDs, contrary to the advice's
    // assumption — verified by this test failing at delta 1), and that
    // entry IS the returned result, which must stay alive. A leaked
    // adjacency cache would make the delta 2.
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val out = operators.Graph.labelPropagation(li)
    // LogicalRDD (localCheckpoint), not LocalRelation (collect round-trip)
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collectLeaves().forall(l =>
      !l.getClass.getSimpleName.contains("LocalRelation")),
      s"LPA result came back through the driver: $plan")
    assert(spark.sparkContext.getPersistentRDDs.size <= persistedBefore + 1,
      "labelPropagation left a persisted RDD pinned beyond its result")
  }

  test("bpeTrain vocab cap: a bitten cap truncates deterministically " +
      "and merges stay well-defined (the driver-read contract)") {
    val docs = Tables.load(spark, sf, "documents")
    val capped = text.TextAnalysis.bpeTrain(docs, k = 5, vocabCap = 3)
      .collect().map(_.toString).toSeq
    // well-defined under a cap that drops ~the whole vocabulary:
    // consecutive ranks from 1, no degenerate pairs, positive freqs
    assert(capped.nonEmpty && capped.size <= 5)
    val ranks = text.TextAnalysis.bpeTrain(docs, k = 5, vocabCap = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(ranks.map(_._1).toSeq == (1 to ranks.length))
    assert(ranks.forall(m => m._2 != m._3 || m._2.length > 1))
    assert(ranks.forall(_._4 > 0))
    // the capped training equals training on the corpus REBUILT from
    // just the top-3 (freq desc, word asc) vocabulary — i.e. the cap
    // IS the deterministic truncation it claims to be
    val top3 = docs
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(3)
      .select(explode(expr("array_repeat(word, cast(freq as int))"))
        .as("text"))
    val rebuilt = text.TextAnalysis.bpeTrain(top3, k = 5,
      vocabCap = 1 << 18).collect().map(_.toString).toSeq
    assert(rebuilt == capped)
    // determinism across runs
    assert(text.TextAnalysis.bpeTrain(docs, k = 5, vocabCap = 3)
      .collect().map(_.toString).toSeq == capped)
  }

  test("source quota keeps exactly cap docs per source, md5-stable") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("doc_id", LongType)))
    val rows = (1L to 10L).map(i => R("a", i)) :+ R("b", 11L)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = operators.Pipeline.sourceQuota(df, cap = 3).collect()
    assert(out.count(_.getString(0) == "a") == 3)
    assert(out.count(_.getString(0) == "b") == 1)
    // determinism: same input -> same survivors
    val again = operators.Pipeline.sourceQuota(df, cap = 3).collect()
    assert(out.map(_.getLong(1)).toSeq == again.map(_.getLong(1)).toSeq)
  }

  test("quality sweep cumulative counts are monotone and total-correct") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // ttr 1.0 (bin 10), 0.5 (bin 5), ~0.33 (bin 3)
    val rows = Seq(R(1L, "a b c"), R(2L, "a a b b"), R(3L, "a a a"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = operators.Pipeline.qualitySweep(df).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0.3, 3L, 10L), (0.5, 2L, 7L), (1.0, 1L, 3L)))
  }

  test("column profiler: nulls, distincts, numeric min/max per column") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType)))
    val rows = Seq(R(1L, 5L, "O"), R(2L, null, "F"), R(3L, 5L, "O"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = operators.Extended.profileOrders(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val ck = out("o_custkey")
    assert(ck.getLong(1) == 3 && ck.getLong(2) == 1 && ck.getLong(3) == 1)
    assert(ck.getDouble(4) == 5.0 && ck.getDouble(5) == 5.0)
    val st = out("o_orderstatus")
    assert(st.getLong(2) == 0 && st.getLong(3) == 2 && st.isNullAt(4))
  }

  test("char entropy bounded by log2(distinct chars); uniform text exact") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // "abab" -> uniform over {a,b} -> exactly 1 bit/char
    val rows = Seq(R(1L, "abab"), R(2L, "aaaa"), R(3L, "abcd"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val res = text.TextAnalysis.charEntropy(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(res(1L) == ((2L, 1.0)))
    assert(res(2L) == ((1L, 0.0)))
    assert(res(3L) == ((4L, 2.0)))
    // bound holds on the fixture corpus
    val fx = text.TextAnalysis.charEntropy(Tables.load(spark, sf, "documents"))
    assert(fx.filter(col("entropy_bits") < -1e-9 ||
      col("entropy_bits") > log2(col("distinct_chars")) + lit(1e-6)).count() == 0)
  }

  test("char entropy: codegen'd single-pass form replays the explode form") {
    // The r11 CharEntropyStats expression replaced the certified
    // explode → count → join → decimal-sum pipeline; this pins BIT
    // equality (every cell, incl. the rounded-term double sums) on the
    // fixture corpus plus crafted non-ASCII/skew cases. The explode
    // form is rebuilt inline here as the reference semantics.
    def explodeForm(documents: org.apache.spark.sql.DataFrame) = {
      val chars = documents
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(1), length(col("text"))),
            i => col("text").substr(i, lit(1)))).as("ch"))
      val counts = chars.groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("c"))
      val n = chars.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      counts.join(n, Seq("doc_id"))
        .withColumn("term",
          round((col("c").cast("double") / col("n").cast("double")) *
            log2(col("n").cast("double") / col("c").cast("double")), 9)
            .cast("decimal(20,9)"))
        .groupBy(col("doc_id"), col("n"))
        .agg(count(lit(1)).as("distinct_chars"),
          sum(col("term")).cast("double").as("entropy_bits"))
        .select(col("doc_id"), col("n").as("n_chars_tok"),
          col("distinct_chars"), col("entropy_bits"))
        .orderBy(col("doc_id"))
    }
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val crafted = Seq(
      R(1L, "café déjà-vu — né"),              // multi-byte code points
      R(2L, "aaaaaaaaaaaaaaaaaaaaaaab"),       // extreme skew
      R(3L, "x"),                              // single char
      R(4L, (0 until 500).map(i => ('a' + i % 26).toChar).mkString))
    val craftedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(crafted), schema)
    for (docs <- Seq(craftedDf, Tables.load(spark, sf, "documents"))) {
      val got = text.TextAnalysis.charEntropy(docs).collect().toSeq
      val want = explodeForm(docs).collect().toSeq
      assert(got == want)
    }
    // empty text: dropped (the DuckDB range(1, len+1) behavior)
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(R(9L, ""))), schema)
    assert(text.TextAnalysis.charEntropy(empty).count() == 0)
  }

  test("bigram LM: probabilities <= 1 so avg log-prob <= 0; repeated text scores 0") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // corpus where every bigram is deterministic: P = 1, logprob = 0
    val rows = Seq(R(1L, "a b c"), R(2L, "a b c"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val res = text.TextAnalysis.bigramLogProb(df).collect()
    assert(res.length == 2 && res.forall(_.getDouble(2) == 0.0))
    val fx = text.TextAnalysis.bigramLogProb(Tables.load(spark, sf, "documents"))
    assert(fx.filter(col("avg_logprob") > 1e-12).count() == 0)
  }

  test("bm25: rank 1 has max score; single-token docs don't break scoring") {
    val out = text.TextAnalysis.bm25Rank(Tables.load(spark, sf, "documents"))
      .collect()
    assert(out.length == 20)
    assert(out.map(_.getInt(2)).toSeq == (1 to 20))
    val scores = out.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("bm25 top-k plans distributed: TakeOrderedAndProject, no global window") {
    val df = text.TextAnalysis.bm25Rank(Tables.load(spark, sf, "documents"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val globals = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "bm25 must not plan an unpartitioned window")
  }

  test("winsorized mean sits within [p05, p95]; bounds are data values") {
    val events = Tables.load(spark, sf, "events")
    val out = operators.EventsPipeline.winsorizedStats(events).collect()
    val values = events.select("value").collect().map(_.getDouble(0)).toSet
    out.foreach { r =>
      val (lo, hi, m) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= hi && m >= lo - 1e-6 && m <= hi + 1e-6)
      assert(values.contains(lo) && values.contains(hi)) // nearest-rank
    }
  }

  test("cdc apply: deletes drop keys, survivors carry the latest row") {
    import spark.implicits._
    val events = Tables.load(spark, sf, "events")
    val out = operators.EventsPipeline.cdcApply(events)
    assert(out.filter(col("last_op") === "D").count() == 0)
    // survivors+deleted partition the key space
    val lastOps = events
      .withColumn("rk", expr(
        "row_number() over (partition by user_id order by ts desc, event_id desc)"))
      .filter(col("rk") === 1)
    val deleted = lastOps.filter(col("event_type") === "error").count()
    val total = events.select("user_id").distinct().count()
    assert(out.count() == total - deleted)
  }

  test("boilerplate scan flags shared 8-grams, clean docs score zero") {
    import spark.implicits._
    val phrase = "this exact licence header sentence repeats across docs"
    val df = Seq(
      (0L, phrase + " plus unique alpha tail words here"),
      (1L, phrase + " then other beta ending tokens instead"),
      (2L, "completely original writing with no shared runs anywhere " +
        "in the whole corpus of documents at all")).toDF("doc_id", "text")
    val out = text.TextAnalysis.boilerplateScan(df).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // the shared phrase is 8 words -> exactly 1 shared 8-gram per doc
    assert(out(0L) == 1L && out(1L) == 1L && out(2L) == 0L)
  }

  test("equi-depth histogram: 100 uniform values, 10 buckets of 10") {
    import spark.implicits._
    val df = (1 to 100).map(_.toDouble).toDF("l_extendedprice")
    val out = operators.Relational.equiDepthHistogram(df, b = 10)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 10)
    out.zipWithIndex.foreach { case ((bkt, n, lo, hi), i) =>
      assert(bkt == i.toLong && n == 10L)
      assert(lo == i * 10 + 1.0 && hi == (i + 1) * 10.0)
    }
  }

  test("MAD outliers: hand-computed median/MAD, single spike flagged") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 100.0)
      .map(("a", _)).toDF("event_type", "value")
    val r = operators.Relational.madOutliers(df).collect()
    assert(r.length == 1)
    // values 1..5,100: median 3.5; |x-med| = 2.5,1.5,0.5,0.5,1.5,96.5
    // -> MAD 1.5; only 96.5 > 3*1.5
    assert(r.head.getDouble(1) == 3.5 && r.head.getDouble(2) == 1.5)
    assert(r.head.getLong(3) == 1L && r.head.getLong(4) == 6L)
  }

  test("ewma: first sample passes through, second is the 128/64 blend") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 7L, "purchase", 100.0),
      (2L, "2024-01-01 00:01:00", 7L, "purchase", 200.0),
      (3L, "2024-01-01 00:02:00", 7L, "click", 999.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val out = operators.EventsPipeline.ewma(ev).collect()
    assert(out.length == 2) // click excluded
    assert(out(0).getDouble(4) == 10000.0) // lone sample = itself
    // newest 20000 cents at weight 128, prior 10000 at 64, den 192
    assert(out(1).getDouble(4) == (20000.0 * 128 + 10000.0 * 64) / 192.0)
  }

  test("cluster canonical: survivors partition the corpus exactly") {
    val docs = Tables.load(spark, sf, "documents")
    val out = operators.Pipeline.clusterCanonical(docs).cache()
    val total = docs.count()
    // every document is represented by exactly one survivor
    assert(out.agg(sum(col("cluster_size"))).head.getLong(0) == total)
    assert(out.select(col("doc_id")).distinct().count() == out.count())
    // each survivor is its cluster's largest member (ties -> lowest id)
    val labels = operators.Pipeline.dedupClusters(docs)
      .select(col("doc_id").as("m_id"), col("cluster_id"))
    val best = labels
      .join(docs.select(col("doc_id").as("m_id"), col("n_chars")), "m_id")
      .groupBy(col("cluster_id")).agg(max(col("n_chars")).as("max_chars"))
    val bad = out.join(best, Seq("cluster_id"))
      .filter(col("n_chars") =!= col("max_chars")).count()
    assert(bad == 0)
    out.unpersist()
  }

  test("top supplier: every returned row carries the quarter's max revenue") {
    val out = operators.Relational.topSupplier(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getDouble(2)).distinct.length == 1)
  }

  test("customer distribution: histogram masses add back to the totals") {
    val customer = Tables.load(spark, sf, "customer")
    val orders = Tables.load(spark, sf, "orders")
    val out = operators.Relational
      .custOrderDistribution(customer, orders).cache()
    assert(out.agg(sum(col("n_custs"))).head.getLong(0) == customer.count())
    assert(out.agg(sum(col("c_count") * col("n_custs"))).head.getLong(0)
      == orders.count()) // every fixture order references a customer
    out.unpersist()
  }

  test("skyline: hand-built frontier, duplicates survive, dominated drop") {
    import spark.implicits._
    // (1,10) frontier; (2,10) dominated (same size, pricier);
    // (2,20) frontier; (3,20) dominated; (3,5) dominated by (1,10);
    // (4,30) frontier; (5,30) dominated dup-size; (1,10) twice -> both kept
    val parts = Seq(
      (1L, 1.00, 10), (2L, 1.00, 10), (3L, 2.00, 10), (4L, 2.00, 20),
      (5L, 3.00, 20), (6L, 3.00, 5), (7L, 4.00, 30), (8L, 5.00, 30))
      .toDF("p_partkey", "p_retailprice", "p_size")
    val out = operators.Extended.skylineParts(parts)
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 2L, 4L, 7L))
  }

  test("skyline plan: no cartesian, corpus joined via broadcast") {
    val plan = operators.Extended
      .skylineParts(Tables.load(spark, sf, "part"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("transitions: per-prev probabilities sum to 1, counts to n-users") {
    val ev = Tables.load(spark, sf, "events")
    val out = operators.EventsPipeline.transitions(ev).cache()
    val sums = out.groupBy(col("prev_type"))
      .agg(sum(col("p_trans")).as("p"), sum(col("n_trans")).as("n"))
      .collect()
    sums.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9))
    val nUsers = ev.select(col("user_id")).distinct().count()
    assert(sums.map(_.getLong(2)).sum == ev.count() - nUsers)
    out.unpersist()
  }

  test("prefix-filter jaccard join is lossless vs the inverted index") {
    val docs = Tables.load(spark, sf, "documents")
    val viaPrefix = dedup.Dedup
      .jaccardPrefixPairs(docs, threshold = 0.3).collect()
    val viaIndex = dedup.Dedup
      .jaccardPairs(docs, threshold = 0.3, maxDf = Int.MaxValue).collect()
    assert(viaPrefix.toSeq == viaIndex.toSeq)
  }

  test("minhash estimate: bounded, and thresholding it reproduces the LSH query") {
    val docs = Tables.load(spark, sf, "documents")
    val est = dedup.Dedup.minhashEstimate(docs).collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) == r.getDouble(2) - r.getDouble(3))
    }
    val lsh = dedup.Dedup.minhashLshPairsNeutral(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val thresholded = est.filter(_.getDouble(2) >= 0.5)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(thresholded == lsh)
    // losslessness pin (r17): the estimator reports EVERY band-collision
    // candidate pair — the invariant the sig-through-aggregation form
    // leans on (shared band ⇒ shared shingle ⇒ the inner n_common join
    // drops nothing). Rebuilt here directly from the band index.
    val banded = dedup.Dedup.neutralBands(docs)
    val cands = banded.as("a")
      .join(banded.as("b"),
        org.apache.spark.sql.functions.col("a.band") ===
          org.apache.spark.sql.functions.col("b.band") &&
        org.apache.spark.sql.functions.col("a.band_key") ===
          org.apache.spark.sql.functions.col("b.band_key") &&
        org.apache.spark.sql.functions.col("a.doc_id") <
          org.apache.spark.sql.functions.col("b.doc_id"))
      .select(org.apache.spark.sql.functions.col("a.doc_id"),
        org.apache.spark.sql.functions.col("b.doc_id"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(est.map(r => (r.getLong(0), r.getLong(1))).toSet == cands)
  }

  test("calendar dim is gapless and monthly growth chains cents exactly") {
    val orders = Tables.load(spark, sf, "orders")
    val cal = operators.Extended.calendarDim(orders).collect()
    assert(cal.length >= 28)
    cal.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getDate(0).toLocalDate.toEpochDay
          - a.getDate(0).toLocalDate.toEpochDay == 1L)
      case _ =>
    }
    val growth = operators.Extended.monthlyGrowth(orders).collect()
    assert(growth.length >= 2)
    assert(growth.head.isNullAt(2) && growth.head.isNullAt(3))
    growth.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(2) == a.getLong(1))
      case _ =>
    }
  }

  test("e2e pipeline output honors every gate and is dup-free") {
    val docs = Tables.load(spark, sf, "documents")
    val out = operators.Pipeline.pretrainPipeline(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(Seq("en", "de").contains(r.getString(1)))
      assert(r.getLong(3) >= 50 && r.getInt(4) >= 10)
    }
    val ids = out.map(_.getLong(0)).toSet
    val texts = docs.filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("text")).collect().map(_.getString(0))
    assert(texts.distinct.length == texts.length) // no exact dups survive
  }

  test("top-k revenue share bounded by (0,1], dedup rate consistent") {
    val share = operators.Extended
      .topKRevenueShare(Tables.load(spark, sf, "orders")).collect()(0)
    assert(share.getDouble(2) > 0.0 && share.getDouble(2) <= 1.0)
    assert(share.getLong(0) <= share.getLong(1))
    val rates = operators.Pipeline
      .dedupRateBySource(Tables.load(spark, sf, "documents")).collect()
    assert(rates.nonEmpty)
    rates.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2))
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) < 1.0)
    }
  }

  test("weighted median splits the weight mass at least half on each side") {
    val li = Tables.load(spark, sf, "lineitem")
    val out = operators.Extended.weightedMedianQty(li).collect()
    assert(out.nonEmpty)
    val weights = li
      .select(col("l_returnflag"), col("l_quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      .collect()
      .groupBy(_.getString(0))
    out.foreach { r =>
      val flag = r.getString(0); val med = r.getDouble(1)
      val rows = weights(flag)
        .map(x => (x.getDouble(1), x.getLong(2)))
      val total = rows.map(_._2).sum
      assert(2 * rows.filter(_._1 <= med).map(_._2).sum >= total)
      assert(2 * rows.filter(_._1 >= med).map(_._2).sum >= total)
      assert(r.getLong(2) == total)
    }
  }

  test("gini: uniform fixture in [0,1), equal-revenue customers give 0") {
    val real = operators.Extended
      .giniRevenue(Tables.load(spark, sf, "orders")).collect()(0)
    assert(real.getDouble(2) >= 0.0 && real.getDouble(2) < 1.0)
    import spark.implicits._
    val equal = Seq(
      (1L, 1L, "O", 100.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT"),
      (2L, 2L, "O", 100.0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "1-URGENT"),
      (3L, 3L, "O", 100.0, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    assert(operators.Extended.giniRevenue(equal)
      .collect()(0).getDouble(2) == 0.0)
  }

  test("ks statistic: identical samples give 0, bounds hold on fixture") {
    val docs = Tables.load(spark, sf, "documents")
    val self = text.TextAnalysis.lengthKs(docs, "src1", "src1").collect()(0)
    assert(self.getDouble(3) == 0.0)
    val r = text.TextAnalysis.lengthKs(docs).collect()(0)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
  }

  test("contingency table: chi2 non-negative, expecteds sum to grand total") {
    val out = operators.EventsPipeline
      .contingencyChi2(Tables.load(spark, sf, "events")).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(4) >= 0.0))
    val total = out.map(_.getLong(2)).sum.toDouble
    assert(math.abs(out.map(_.getDouble(3)).sum - total) < 1e-6)
  }

  test("autocorrelation values are valid correlations for each lag") {
    val out = operators.EventsPipeline
      .dailyAutocorrelation(Tables.load(spark, sf, "events")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getInt(0) >= 1 && r.getInt(0) <= 7)
      val acf = r.getDouble(2)
      assert(acf >= -1.0 - 1e-9 && acf <= 1.0 + 1e-9, acf)
    }
  }

  test("activity streaks: hand fixture with a gap splits into two islands") {
    import spark.implicits._
    def at(day: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val df = Seq(
      (1L, at(1), 7L, "x", 0.0, ""), (2L, at(2), 7L, "x", 0.0, ""),
      (3L, at(3), 7L, "x", 0.0, ""), (4L, at(2), 7L, "x", 0.0, ""),
      (5L, at(7), 7L, "x", 0.0, ""), (6L, at(8), 7L, "x", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = operators.EventsPipeline.activityStreaks(df).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 3L) // 1-3 Jan
    assert(r.getLong(2) == 2L) // two islands
    assert(r.getLong(3) == 5L) // five distinct active days
  }

  test("ratio-to-report shares sum to 1 within each region") {
    val out = operators.Relational.revenueShareByNation(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).values.foreach { region =>
      val total = region.map(_.getDouble(5)).sum
      assert(math.abs(total - 1.0) < 1e-9, total)
    }
  }

  test("benford digits cover 1-9 with shares summing to 1") {
    val out = operators.Extended
      .benfordDigits(Tables.load(spark, sf, "orders")).collect()
    assert(out.map(_.getString(0)).toSet.subsetOf(
      (1 to 9).map(_.toString).toSet))
    assert(math.abs(out.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    out.foreach(r =>
      assert(r.getDouble(4) == r.getDouble(2) - r.getDouble(3)))
  }

  test("bitmap distinct equals countDistinct exactly") {
    val events = Tables.load(spark, sf, "events")
    val bitmap = operators.Extended.bitmapDistinctUsers(events)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bitmap == exact)
  }

  test("epoch shuffle is a salt-keyed permutation with dense positions") {
    val docs = Tables.load(spark, sf, "documents")
    val a = operators.Pipeline.deterministicShuffle(docs).collect()
    assert(a.map(_.getLong(0)).toSet.size == a.length)
    assert(a.length == docs.count())
    a.groupBy(_.getString(1)).values.foreach { shard =>
      assert(shard.map(_.getLong(2)).sorted.toSeq ==
        (1L to shard.length.toLong).toSeq)
    }
    val b = operators.Pipeline.deterministicShuffle(docs, "epoch2:")
      .collect()
    assert(a.map(r => (r.getString(1), r.getLong(2), r.getLong(0))).toSeq
      != b.map(r => (r.getString(1), r.getLong(2), r.getLong(0))).toSeq)
  }

  test("new TPC-H shapes broadcast their dims and top-k without sorting") {
    val local = operators.Relational.localSupplierVolume(spark, sf)
      .queryExecution.executedPlan.toString
    assert(local.contains("BroadcastHashJoin"), local)
    assert(!local.contains("CartesianProduct"), local)
    val share = operators.Relational.marketShare(spark, sf)
      .queryExecution.executedPlan.toString
    // all four dim sides ride broadcasts: part slice, region customers,
    // supplier nations — only lineitem⋈orders shuffles
    assert(share.split("BroadcastHashJoin").length >= 4, share)
    assert(share.split("SortMergeJoin|ShuffledHashJoin").length <= 2, share)
    val basket = operators.Relational
      .copurchasePairs(Tables.load(spark, sf, "lineitem"))
      .queryExecution.executedPlan.toString
    assert(basket.contains("TakeOrderedAndProject"), basket)
  }

  test("rfm quartile labels split customers into near-equal bands") {
    val out = operators.Relational
      .rfmSegments(Tables.load(spark, sf, "orders")).collect()
    assert(out.nonEmpty)
    val n = out.length.toDouble
    Seq(4, 5, 6).foreach { i =>
      val labels = out.map(_.getInt(i))
      assert(labels.forall(q => q >= 1 && q <= 4))
      // p25/p50/p75 thresholds with `>` put at most ~25% strictly above
      // the top threshold and at least 25% at-or-below the bottom one
      assert(labels.count(_ == 4) <= n * 0.30 + 1)
      assert(labels.count(_ == 1) >= n * 0.20 - 1)
    }
    out.foreach(r => assert(r.getString(7) ==
      s"${r.getInt(4)}${r.getInt(5)}${r.getInt(6)}"))
  }

  test("copurchase pairs are ordered, deduped per order, and bounded") {
    val li = Tables.load(spark, sf, "lineitem")
    val out = operators.Relational.copurchasePairs(li).collect()
    assert(out.nonEmpty && out.length <= 50)
    out.foreach(r => assert(r.getLong(0) < r.getLong(1)))
    val counts = out.map(_.getLong(2))
    assert(counts.sameElements(counts.sorted.reverse))
  }

  test("sliding windows double-count each event and nest the tumbling agg") {
    val events = Tables.load(spark, sf, "events")
    val out = operators.EventsPipeline.slidingDistinct(events).collect()
    assert(out.nonEmpty)
    val totalEvents = events.count()
    assert(out.map(_.getLong(2)).sum == 2 * totalEvents)
    out.foreach { r =>
      assert(r.getTimestamp(1).getTime - r.getTimestamp(0).getTime
        == 3600 * 1000L)
      assert(r.getLong(3) <= r.getLong(2))
    }
  }

  test("referential integrity: clean fixture reports zero orphans") {
    val out = operators.Extended.refIntegrity(spark, sf).collect()
    assert(out.length == 7)
    out.foreach(r => assert(r.getLong(1) == 0L, r.getString(0)))
  }

  test("bfs hops: seeds at 0, neighbors within one hop of a seed") {
    val li = Tables.load(spark, sf, "lineitem")
    val rows = operators.Graph.bfsHops(li).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows.nonEmpty)
    val seedParts = li.filter(col("l_partkey") <= 3)
      .select(col("l_partkey")).distinct()
      .collect().map(r => "p" + r.getLong(0)).toSet
    seedParts.foreach(s => assert(rows(s) == 0L))
    assert(rows.values.forall(d => d >= 0 && d <= 3))
    // every reached non-seed node has a neighbor exactly one hop closer
    val edges = li.filter(col("l_partkey") <= 2000)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct().collect()
      .flatMap(r => Seq(("p" + r.getLong(0), "s" + r.getLong(1)),
        ("s" + r.getLong(1), "p" + r.getLong(0))))
      .groupBy(_._2).map { case (dst, es) => (dst, es.map(_._1)) }
    rows.filter(_._2 > 0).foreach { case (node, d) =>
      assert(edges(node).exists(nb => rows.get(nb).contains(d - 1)), node)
    }
  }

  test("time-weighted average: constant series gives that constant") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    val df = Seq(
      (1L, at(0), 1L, "x", 5.0, ""), (2L, at(10), 1L, "x", 5.0, ""),
      (3L, at(100), 1L, "x", 5.0, ""),
      (4L, at(0), 2L, "x", 2.0, ""), (5L, at(30), 2L, "x", 4.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = operators.EventsPipeline.timeWeightedAvg(df).collect()
    val byUser = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byUser(1L) == 5.0)
    assert(byUser(2L) == 2.0) // last sample carries no weight
    val spans = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(spans(1L) == 100000000L && spans(2L) == 30000000L)
  }

  test("vocab growth: monotone curves ending at the corpus totals") {
    val docs = Tables.load(spark, sf, "documents")
    val rows = text.TextAnalysis.vocabGrowth(docs).collect()
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(3) > a.getLong(3))  // cum_tokens strictly grows
        assert(b.getLong(4) >= a.getLong(4)) // cum_types monotone
      case _ =>
    }
    val last = rows.last
    val totalTokens = docs
      .agg(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    val totalTypes = docs
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t"))).collect()(0).getLong(0)
    assert(last.getLong(3) == totalTokens)
    assert(last.getLong(4) == totalTypes)
  }

  test("typed cogroup counts agree with the relational formulation") {
    val events = Tables.load(spark, sf, "events")
    val co = operators.Extended.cogroupUserActivity(spark, events).collect()
    assert(co.nonEmpty)
    co.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) > 0)
      assert(r.isNullAt(3) == (r.getLong(1) == 0L))
      assert(r.isNullAt(4) == (r.getLong(2) == 0L))
    }
    val expected = events
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("n_views"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(co.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == expected)
  }

  test("priority check plans as a left-semi join (EXISTS decorrelated)") {
    val plan = operators.Relational
      .orderPriorityCheck(Tables.load(spark, sf, "orders"),
        Tables.load(spark, sf, "lineitem"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
  }

  test("market share is a valid ratio per year") {
    val rows = operators.Relational.marketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getDouble(1)
      assert(share >= 0.0 && share <= 1.0, s"share $share out of range")
    }
  }

  test("waiting suppliers matches the literal correlated-subquery form") {
    // The DataFrame plan decorrelates the double EXISTS into one grouped
    // pass; Spark SQL's literal form (decorrelated by Catalyst) must
    // agree row-for-row.
    Tables.load(spark, sf, "lineitem").createOrReplaceTempView("w_l")
    Tables.load(spark, sf, "orders").createOrReplaceTempView("w_o")
    Tables.load(spark, sf, "supplier").createOrReplaceTempView("w_s")
    val literal = spark.sql(
      """SELECT s_name, count(*) AS numwait
         FROM w_l l1 JOIN w_o ON o_orderkey = l1.l_orderkey
         JOIN w_s ON s_suppkey = l1.l_suppkey
         WHERE o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAYS
           AND EXISTS (SELECT 1 FROM w_l l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM w_l l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate >
                               o_orderdate + INTERVAL 60 DAYS)
         GROUP BY s_name ORDER BY numwait DESC, s_name""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val grouped = operators.Relational.waitingSuppliers(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(grouped == literal)
  }

  test("dormant customers are above average balance and order-free") {
    val out = operators.Relational
      .dormantCustomers(Tables.load(spark, sf, "customer"),
        Tables.load(spark, sf, "orders"))
      .collect()
    assert(out.nonEmpty)
    assert(out.map(_.getString(0)).distinct.length == out.length)
  }

  test("disjunctive revenue joins part via broadcast, no cartesian") {
    val plan = operators.Relational
      .disjunctiveRevenue(Tables.load(spark, sf, "lineitem"),
        Tables.load(spark, sf, "part"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("join cardinality profile equals the materialized join") {
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    val row = operators.Relational.joinCardinality(li, ord).head()
    val actual = li.join(ord,
      col("l_orderkey") === col("o_orderkey")).count()
    assert(row.getAs[Long]("join_rows") == actual)
    assert(row.getAs[Long]("n_left") == li.count())
    assert(row.getAs[Long]("n_right") == ord.count())
    assert(row.getAs[Long]("n_matching_keys") <=
      math.min(row.getAs[Long]("n_left_keys"),
        row.getAs[Long]("n_right_keys")))
  }
}
