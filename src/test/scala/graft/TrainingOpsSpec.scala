package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-7 training-pipeline additions: PMI
  * collocations (text/TextAnalysis.pmiCollocations), JL signed random
  * projection (vector/Similarity.randomProjection), and the in-engine
  * delta-rule classifier (text/QualityModel). */
class TrainingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def docs = Tables.load(spark, sf, "documents")
  private def emb = Tables.load(spark, sf, "embeddings")

  // ------------------------------------------------------------------ PMI

  test("pmi lift equals c_ab*N/(c_a*c_b) recomputed from scratch") {
    val out = text.TextAnalysis.pmiCollocations(docs).collect()
    assert(out.nonEmpty)
    // independent recount of one returned pair
    val row = out.head
    val aV = row.getAs[String]("a")
    val bV = row.getAs[String]("b")
    val w = docs.select(split(lower(col("text")), " ").as("w"))
    val words = w.select(explode(col("w")).as("t"))
      .filter(col("t").rlike("^[a-z]+$"))
    val n = words.count()
    val cA = words.filter(col("t") === aV).count()
    val cB = words.filter(col("t") === bV).count()
    assert(row.getAs[Long]("c_a") == cA)
    assert(row.getAs[Long]("c_b") == cB)
    val cAb = row.getAs[Long]("c_ab")
    val expLift = BigDecimal((cAb * n).toDouble / (cA * cB).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(row.getAs[Double]("lift") - expLift) < 1e-9)
  }

  test("pmi respects min support and k, ranked descending") {
    val out = text.TextAnalysis.pmiCollocations(docs, k = 10, minCount = 5)
      .collect()
    assert(out.length <= 10)
    assert(out.forall(_.getAs[Long]("c_ab") >= 5))
    val lifts = out.map(_.getAs[Double]("lift")).toSeq
    assert(lifts == lifts.sorted.reverse)
  }

  test("pmi lift is invariant under exact corpus duplication") {
    // doubling every doc doubles c_ab, c_a, c_b and N, so lift
    // (c_ab*N)/(c_a*c_b) is unchanged — the statistic measures
    // association, not volume
    val base = text.TextAnalysis.pmiCollocations(docs, k = 15).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Double]("lift")))
    val doubled = docs.union(docs.withColumn("doc_id",
      col("doc_id") + lit(1000000L)))
    val dup = text.TextAnalysis
      .pmiCollocations(doubled, k = 15, minCount = 10).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Double]("lift")))
    assert(base.toSeq == dup.toSeq)
  }

  test("rolling median: first day is its own median, median is robust") {
    val out = operators.EventsPipeline
      .rollingMedianDaily(Tables.load(spark, sf, "events")).collect()
    assert(out.nonEmpty)
    val byType = out.groupBy(_.getString(0))
    byType.values.foreach { rows =>
      val ordered = rows.sortBy(_.getDate(1).getTime)
      // day 1: window holds exactly one value
      assert(ordered.head.getAs[Double]("med7") ==
        ordered.head.getAs[Long]("n").toDouble)
      // median always lies within the window's [min, max]
      ordered.zipWithIndex.foreach { case (r, i) =>
        val win = ordered.slice(math.max(0, i - 6), i + 1)
          .map(_.getAs[Long]("n").toDouble)
        assert(r.getAs[Double]("med7") >= win.min &&
          r.getAs[Double]("med7") <= win.max)
      }
    }
  }

  test("decayed popularity is bounded; the anchor's type scores >= 1") {
    val out = operators.EventsPipeline
      .decayedPopularity(Tables.load(spark, sf, "events")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val s = r.getAs[Double]("decayed_score")
      // a type whose newest event is ancient legitimately rounds to 0.0
      assert(s >= 0.0 && s <= r.getAs[Long]("n_events").toDouble)
    }
    // the event_type holding the corpus max(ts) has an age-0 event,
    // which alone contributes exactly 1.0 — fixture-independent
    assert(out.exists(_.getAs[Double]("decayed_score") >= 1.0))
  }

  test("cusum is exactly zero on the last day of every series") {
    val out = operators.EventsPipeline
      .cusumDaily(Tables.load(spark, sf, "events")).collect()
    assert(out.nonEmpty)
    val lastPerType = out.groupBy(_.getString(0))
      .map { case (_, rows) => rows.maxBy(_.getDate(1).getTime) }
    lastPerType.foreach { r =>
      assert(r.getAs[Double]("cusum") == 0.0,
        s"${r.getString(0)} terminal cusum ${r.getAs[Double]("cusum")}")
    }
  }

  // ------------------------------------------- JL random projection

  test("random projection is linear: proj(2v) = 2*proj(v)") {
    val scaled = emb.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"), x => x * lit(2.0))
        .cast("array<float>").as("embedding"))
    val base = vector.Similarity.randomProjection(emb).collect()
    val twice = vector.Similarity.randomProjection(scaled).collect()
    assert(base.length == twice.length)
    base.zip(twice).foreach { case (b, t) =>
      (1 to 16).foreach { c =>
        // tolerance: float re-cast of 2v + the two round(,6) steps
        assert(math.abs(t.getDouble(c) - 2.0 * b.getDouble(c)) < 1e-4,
          s"vec ${b.getLong(0)} dim $c")
      }
    }
  }

  test("random projection preserves squared norms in expectation (JL)") {
    // E[||Pv||^2] = outDim * ||v||^2 for ±1 sign matrices; the mean
    // ratio over the corpus concentrates near 1.
    val proj = vector.Similarity.randomProjection(emb)
    val pn = proj.select(
      col("vec_id"),
      (0 until 16).map(j => col(s"p$j") * col(s"p$j"))
        .reduce(_ + _).as("pn2"))
    val on = emb.select(col("vec_id"),
      aggregate(transform(col("embedding").cast("array<double>"),
        x => x * x), lit(0.0), (a, x) => a + x).as("on2"))
    val ratio = pn.join(on, "vec_id")
      .agg(avg(col("pn2") / (col("on2") * lit(16.0)))).head.getDouble(0)
    assert(ratio > 0.7 && ratio < 1.3, s"mean JL ratio $ratio")
  }

  test("random projection is deterministic and mixes signs") {
    val a = vector.Similarity.randomProjection(emb).collect()
    val b = vector.Similarity.randomProjection(emb).collect()
    assert(a.toSeq == b.toSeq)
    // not all outputs share a sign in any dimension (signs actually mix)
    (1 to 16).foreach { c =>
      val vals = a.map(_.getDouble(c))
      assert(vals.exists(_ > 0) && vals.exists(_ < 0), s"col $c one-sided")
    }
  }

  // ------------------------------------------- delta-rule classifier

  test("classifier output is consistent and deterministic") {
    val out1 = text.QualityModel.trainAndScore(docs).collect()
    val out2 = text.QualityModel.trainAndScore(docs).collect()
    assert(out1.toSeq == out2.toSeq) // bit-identical weight trajectory
    assert(out1.nonEmpty)
    out1.foreach { r =>
      val s = r.getAs[Double]("score")
      assert(s > 0.0 && s < 1.0)
      assert(r.getAs[Int]("pred") == (if (s >= 0.5) 1 else 0) ||
        // rounding display vs raw threshold may differ only at 0.5 exactly
        math.abs(s - 0.5) < 1e-6)
      assert(Set(0, 1).contains(r.getAs[Int]("label")))
    }
  }

  test("weight-cache hits are bit-identical and lang/len keys don't collide") {
    // the lloydCache precedent (SimilaritySpec): cold (no key) rows are
    // the baseline; keyed calls must reproduce them on populate AND on
    // warm hit. Routing the SAME caller key through both tasks also
    // proves the lang:/len: key prefixes keep the two trajectories
    // apart — a collision would serve the other task's weights and the
    // row compare below would fail (the tasks learn different models).
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    val key = Some("trainingops-cache-spec")
    val langCold = rows(text.QualityModel.trainAndScore(docs))
    val lenCold = rows(text.QualityModel.trainAndScoreLength(docs))
    assert(langCold != lenCold) // distinct trajectories, so collisions show
    assert(rows(text.QualityModel.trainAndScore(docs, cacheKey = key))
      == langCold) // populates lang:<key>
    assert(rows(text.QualityModel.trainAndScoreLength(docs, cacheKey = key))
      == lenCold) // populates len:<key> — must NOT see lang's weights
    // fully-warm hits stay bit-identical to cold retraining
    assert(rows(text.QualityModel.trainAndScore(docs, cacheKey = key))
      == langCold)
    assert(rows(text.QualityModel.trainAndScoreLength(docs, cacheKey = key))
      == lenCold)
    // calibration rides the len: entry and stays exact on a warm hit
    val calCold = rows(text.QualityModel.calibration(docs))
    assert(rows(text.QualityModel.calibration(docs, cacheKey = key))
      == calCold)
  }

  test("mean pairwise dot via the Gram identity equals the pair join") {
    // brute-force all ordered pairs on a 60-vector subset and compare
    // with the linear-pass identity computed over the SAME subset
    val sub = emb.filter(col("vec_id") < 60)
    val viaIdentity = vector.Similarity.meanPairwiseDot(sub)
      .head.getAs[Double]("mean_pairwise_dot")
    val v = col("embedding").cast("array<double>")
    val pairs = sub.select(col("vec_id").as("ia"), v.as("va"))
      .join(sub.select(col("vec_id").as("ib"), v.as("vb")),
        col("ia") =!= col("ib"))
    val brute = pairs.select(
      aggregate(zip_with(col("va"), col("vb"), (x, y) => x * y),
        lit(0.0), (a, x) => a + x).as("dot"))
      .agg(avg(col("dot"))).head.getDouble(0)
    assert(math.abs(viaIdentity - brute) < 1e-6,
      s"identity $viaIdentity vs brute $brute")
  }

  test("rankTopK equals the window row_number formulation") {
    import org.apache.spark.sql.expressions.Window
    // adversarial data: heavy score ties (score = id % 7) force the
    // tie-break path; unique id is the total-order tie column
    val df = spark.range(0, 500).select(col("id"),
      (col("id") % 7).cast("double").as("s"),
      (col("id") * 31 % 11).as("extra"))
    val viaIdiom = Cols.rankTopK(df, "s", "id", 25, "rk")
      .select(col("id"), col("s"), col("extra"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getLong(2), r.getInt(3))).sortBy(_._1)
    val viaWindow = df
      .withColumn("rk", row_number().over(
        Window.orderBy(col("s").desc, col("id"))))
      .filter(col("rk") <= 25)
      .select(col("id"), col("s"), col("extra"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getLong(2), r.getInt(3))).sortBy(_._1)
    assert(viaIdiom.length == 25)
    assert(viaIdiom.toSeq == viaWindow.toSeq)
  }

  test("rankTopK call sites satisfy the total-order precondition") {
    // rankTopK silently collapses rows / mis-ranks when (scoreCol,
    // tieCol) is not a total order, so every production call site must
    // have a unique tie column. This pins that for the three current
    // sites; add a clause here for each NEW call site.
    def assertUniqueTie(df: org.apache.spark.sql.DataFrame, tie: String,
        site: String): Unit = {
      val total = df.count()
      val dist = df.select(col(tie)).distinct().count()
      assert(total == dist,
        s"$site: tie column '$tie' not unique ($dist distinct of $total)")
    }
    // TextAnalysis.bm25Rank query side: termStats keyed by term t
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("t"))
    val termStats = toks.groupBy(col("t"))
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
    assertUniqueTie(termStats, "t", "bm25Rank query terms")
    // TextAnalysis.bm25Rank doc side + Pipeline.hybridSearch dense
    // side: both keyed by doc_id, unique by fixture contract
    assertUniqueTie(docs.select(col("doc_id")), "doc_id",
      "bm25Rank perDoc / hybridSearch cosr")
  }

  test("skew report is internally consistent") {
    val r = operators.Skew.skewReport(
      Tables.load(spark, sf, "lineitem")).head()
    val (nRows, nKeys) = (r.getAs[Long]("n_rows"), r.getAs[Long]("n_keys"))
    val (mx, mn) = (r.getAs[Long]("max_freq"), r.getAs[Long]("min_freq"))
    assert(nKeys > 0 && nRows >= nKeys && mn >= 1 && mx >= mn)
    val avg = nRows.toDouble / nKeys.toDouble
    assert(math.abs(r.getAs[Double]("avg_freq") - avg) < 1e-6)
    assert(r.getAs[Double]("skew_ratio") >= 1.0 - 1e-9)
    assert(r.getAs[Long]("salt_factor") ==
      math.ceil(mx.toDouble / avg).toLong)
  }

  test("persisted IVF index returns exactly the inline IVF results") {
    val disk = vector.Similarity.ivfDiskTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val inline = vector.Similarity.ivfTopK(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(disk.nonEmpty)
    assert(disk.toSeq == inline.toSeq) // parquet double round-trip exact
    // second call reuses the session-cached index directory
    val d1 = vector.Similarity.ivfIndexDir(spark, sf)
    val d2 = vector.Similarity.ivfIndexDir(spark, sf)
    assert(d1 == d2)
  }

  test("hybrid RRF fusion: members come from a source list, scores bounded") {
    val out = operators.Pipeline.hybridSearch(docs, emb).collect()
    assert(out.nonEmpty && out.length <= 10)
    out.foreach { r =>
      val rb = Option(r.getAs[Integer]("rk_bm25"))
      val rv = Option(r.getAs[Integer]("rk_vec"))
      assert(rb.isDefined || rv.isDefined)
      rb.foreach(x => assert(x >= 1 && x <= 20))
      rv.foreach(x => assert(x >= 1 && x <= 20))
      val rrf = r.getAs[Double]("rrf")
      assert(rrf > 0.0 && rrf <= 2.0 / 61.0 + 1e-9)
      // fused score recomputable from the two ranks
      val expect = rb.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rv.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(rrf - expect) < 1e-8)
    }
    // descending fused order
    val scores = out.map(_.getAs[Double]("rrf")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  // ------------------------------------------- negative sampling

  test("negative sampling: k per doc, never self, partition-invariant") {
    val out = operators.Pipeline.negativeSamples(docs, k = 4)
    val rows = out.collect()
    val nDocs = docs.count()
    assert(rows.length == nDocs * 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("neg_id") != r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("neg_id") >= 0 &&
        r.getAs[Long]("neg_id") < nDocs)
    }
    // same ids regardless of input partitioning
    val rows2 = operators.Pipeline
      .negativeSamples(docs.repartition(13), k = 4).collect()
    assert(rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(0))).toSeq ==
      rows2.map(r => (r.getLong(1), r.getLong(2), r.getLong(0))).toSeq)
  }

  // ------------------------------------------- native session windows

  test("session_window matches gaps-and-islands with the >= boundary") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, sf, "events")
    val native = operators.EventsPipeline.sessionWindows(ev).collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3),
        r.getLong(4)))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val manual = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") >= 30 * 60 * 1000000L,
          1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        (max(col("ts")) + expr("INTERVAL 30 MINUTES")).as("session_end"),
        max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("session_start"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("last_ts"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3), r.getLong(4)))
    assert(native.length == manual.length && native.nonEmpty)
    assert(native.toSeq == manual.toSeq)
    // every session closes exactly gap after its last event
    native.foreach { case (_, _, end, last, _) =>
      assert(end.asInstanceOf[java.sql.Timestamp].getTime -
        last.asInstanceOf[java.sql.Timestamp].getTime == 30 * 60 * 1000L)
    }
  }

  test("the learnable task beats its base rate by a wide margin") {
    // q_lr_quality's lang task is honestly non-separable; this task
    // (longer than the corpus mean, carried by x1/x2) is separable, so
    // the SAME trainer must visibly descend to a useful boundary
    val out = text.QualityModel.trainAndScoreLength(docs).collect()
    val n = out.length.toDouble
    val acc = out.count(r =>
      r.getAs[Int]("pred") == r.getAs[Int]("label")) / n
    val base = math.max(
      out.count(_.getAs[Int]("label") == 1) / n,
      out.count(_.getAs[Int]("label") == 0) / n)
    assert(acc > base + 0.15, s"acc $acc vs base rate $base")
    assert(acc > 0.75, s"acc $acc")
  }

  test("first-round weights equal the analytic w=0 gradient exactly") {
    // at w = 0 every p is exactly 0.5, so grad_j = mean((0.5-y)*x_j)
    // and one round with lr = 1 lands on w_j = -grad_j. Recompute every
    // feature independently here and pin all five weights bit-exactly.
    val learned = text.QualityModel.train(docs, iters = 1, lr = 1.0)
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val w = split(lower(col("text")), " ")
    val err = lit(0.5) -
      when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
    val xs = Seq(
      lit(1.0),
      size(w).cast("double") / lit(100.0),
      col("n_chars").cast("double") / size(w).cast("double") / lit(10.0),
      size(filter(w, t => t.isin(stop: _*))).cast("double") /
        size(w).cast("double"),
      size(filter(w, t => t.rlike("^[a-z]+$"))).cast("double") /
        size(w).cast("double"))
    val aggs = xs.zipWithIndex.map { case (x, j) =>
      sum((err * x).cast("decimal(28,12)")).cast("double").as(s"g$j")
    } :+ count(lit(1)).cast("double").as("n")
    val row = docs.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getDouble(5)
    val expected = Array.tabulate(5)(j => 0.0 - 1.0 * (row.getDouble(j) / n))
    assert(learned.toSeq == expected.toSeq,
      s"learned ${learned.toSeq} != analytic ${expected.toSeq}")
    assert(learned.exists(_ != 0.0), "round did not move any weight")
  }

  test("gopherRepetition flags the spam doc and keeps the diverse one " +
      "with hand-computed coverage") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, "x y x y x y x y x y"),
        Row(1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))),
      schema)
    val out = text.TextAnalysis.gopherRepetition(d).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    // doc 0: "x y" occurs 5 times, 3 chars each, text 19 chars
    assert(out(0L)._1 == "x y")
    assert(out(0L)._2 == BigDecimal(15.0 / 19.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(!out(0L)._4, "repetitive doc must be dropped")
    // doc 1: all 2-grams unique -> tie-break picks the lexicographically
    // smallest; no duplicated 5-grams at all
    assert(out(1L)._1 == "alpha beta")
    assert(out(1L)._2 == BigDecimal(10.0 / 56.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1L)._3 == 0.0)
    assert(out(1L)._4, "diverse doc must be kept")
  }

  test("decontamination flags the verbatim-copy candidate and clears " +
      "the disjoint one by fractional overlap") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, bench, "src4"),
        // contains the benchmark verbatim plus a tail: most of its
        // 5-grams collide
        Row(1L, bench + " one two", "src0"),
        Row(2L, "u v w x y z q r s t", "src0"))),
      schema)
    val out = operators.Pipeline.decontamination(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(4))).toMap
    // doc 1: 6 distinct 5-grams, 4 of them inside the benchmark
    assert(out(1L) == ((6L, 4L, true)))
    assert(out(2L)._2 == 0L && !out(2L)._3)
  }

  test("importanceScore votes by exact smoothed likelihood-ratio " +
      "cross-products") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, "aa aa aa", "src0"),
        Row(1L, "bb bb bb", "src1"),
        Row(2L, "aa bb", "src1"))),
      schema)
    val out = operators.Pipeline.importanceScore(d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    // ct(aa)=3 cs(aa)=1, ct(bb)=0 cs(bb)=4, nt=3 ns=5 v=2:
    // aa leans target (4*7 > 2*5); bb does not (1*7 < 5*5)
    assert(out(0L) == ((3L, 3L, 1.0, true)))
    assert(out(1L) == ((3L, 0L, 0.0, false)))
    assert(out(2L) == ((2L, 1L, 0.5, true)))
  }

  test("calibration bins partition the scored corpus with in-bin mean " +
      "scores and valid observed rates") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val out = text.QualityModel.calibration(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty)
    assert(out.forall { case (b, _, _, _, _) => b >= 0 && b <= 9 })
    assert(out.map(_._2).sum == docs.count())
    for ((b, n, nPos, mean, rate) <- out) {
      assert(nPos >= 0 && nPos <= n)
      assert(rate == nPos.toDouble / n.toDouble)
      // the mean of scores in decile b stays inside the decile (bin 9
      // is closed above at 1.0; rounding tolerance 1e-6)
      assert(mean >= b / 10.0 - 1e-6 && mean <= (b + 1) / 10.0 + 1e-6,
        s"bin $b mean $mean outside its decile")
    }
    // the learnable task actually calibrates upward: higher-score bins
    // must not have a LOWER observed rate than the lowest bin
    if (out.length > 1)
      assert(out.last._5 >= out.head._5,
        s"top bin rate ${out.last._5} below bottom ${out.head._5}")
  }

  test("waterfill: hand-computed levels, exact budget conservation, " +
      "saturation edge cases") {
    import spark.implicits._
    def run(rows: Seq[(String, String)], budget: Long) =
      operators.Pipeline.tokenBudgetWaterfill(
        rows.toDF("source", "text"), budget).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
    // avails: a=2, b=5, c=9 tokens. B=10: a saturates (2*3=6 <= 10);
    // b? 5*2=10 > 10-2=8 -> no. level=(10-2) div 2=4, rem=0 ->
    // a:2, b:4, c:4
    val corpus = Seq(("a", "x y"), ("b", "x y z w v"),
      ("c", "a b c d e f g h i"))
    assert(run(corpus, 10L).toSeq == Seq(
      ("a", 2L, 2L, true), ("b", 5L, 4L, false), ("c", 9L, 4L, false)))
    // B=11: level=(11-2) div 2=4, rem=1 -> bonus to the LARGEST
    // unsaturated (c) -> a:2, b:4, c:5; sums to exactly 11
    val b11 = run(corpus, 11L)
    assert(b11.toSeq == Seq(
      ("a", 2L, 2L, true), ("b", 5L, 4L, false), ("c", 9L, 5L, false)))
    assert(b11.map(_._3).sum == 11L)
    // budget >= total avail: everyone saturated, alloc = avail
    assert(run(corpus, 100L).toSeq == Seq(
      ("a", 2L, 2L, true), ("b", 5L, 5L, true), ("c", 9L, 9L, true)))
    // tiny budget, nobody saturates: level=0, rem=2 -> the two largest
    // get 1 token each
    assert(run(corpus, 2L).toSeq == Seq(
      ("a", 2L, 0L, false), ("b", 5L, 1L, false), ("c", 9L, 1L, false)))
    // fixture smoke: allocation conserves the budget exactly whenever
    // total availability covers it
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val fx = operators.Pipeline.tokenBudgetWaterfill(docs, 40000L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val totalAvail = fx.map(_._1).sum
    assert(fx.map(_._2).sum == math.min(40000L, totalAvail))
    assert(fx.forall { case (a, x) => x <= a })
  }

  test("weightedSample: exactly k per source, repartition-invariant, " +
      "and biased toward heavy documents") {
    val out = operators.Pipeline.weightedSample(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySource = out.groupBy(_._1)
    assert(bySource.nonEmpty)
    assert(bySource.values.forall(_.length == 10),
      "each fixture source holds >= 10 docs, so every sample is full")
    // the custom top-k exec must be deterministic under repartitioning
    val re = operators.Pipeline.weightedSample(docs.repartition(7))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(re.toSeq == out.toSeq)
    // A-ES weighting: 10 docs carrying 10000x the weight of the other
    // 90 must dominate the k=10 sample (deterministic md5 draws; a
    // light doc needs u > ~0.999 to beat a heavy one)
    import spark.implicits._
    val crafted = (1L to 100L)
      .map(i => ("s", i, if (i <= 10) 100000L else 10L))
      .toDF("source", "doc_id", "n_chars")
    val picked = operators.Pipeline.weightedSample(crafted).collect()
      .map(_.getLong(1))
    assert(picked.length == 10)
    assert(picked.count(_ <= 10L) >= 8,
      s"heavy docs under-sampled: ${picked.mkString(",")}")
  }
}
