package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.3) over ScalaCheck-generated
  * datasets: results must be invariant under row permutation and
  * repartitioning, decompositions must recompose, and approximations must
  * bound their exact counterparts. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val seed = rng.Seed(42L)

  /** Deterministic samples from a Gen (fixed seed, advanced per draw). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    var s = seed
    (0 until n).flatMap { _ =>
      s = s.next
      g.apply(Gen.Parameters.default, s)
    }
  }

  private val eventGen: Gen[(Long, Long, String, Double)] = for {
    id <- Gen.choose(0L, 999L)
    user <- Gen.choose(0L, 5L)
    tpe <- Gen.oneOf("click", "view", "purchase")
    value <- Gen.choose(-1000.0, 1000.0)
  } yield (id, user, tpe, math.rint(value * 100) / 100)

  private def eventsDf(rows: Seq[(Long, Long, String, Double)]) = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3, r._4))),
      schema)
  }

  test("grouped aggregation is invariant under permutation and repartitioning") {
    val rows = samples(eventGen, 300)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("s"))
        .orderBy("user_id", "event_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSeq
    val base = agg(eventsDf(rows))
    assert(agg(eventsDf(scala.util.Random.shuffle(rows))) == base)
    assert(agg(eventsDf(rows).repartition(13)) == base)
  }

  test("as-of duality: forward(ord) equals backward(-ord) on random " +
      "data — the two merge directions are exact mirrors") {
    import spark.implicits._
    val rows = samples(eventGen, 400)
    // left = views, right = purchases keyed by user; ord = (seq, id)
    // where seq reuses the generated value as an integer ordinal
    def sides(neg: Boolean) = {
      val sign = if (neg) -1L else 1L
      val df = rows.zipWithIndex.map { case ((id, u, t, v), i) =>
        (i.toLong, u, t, sign * math.round(v), sign * i.toLong)
      }.toDF("row_id", "user_id", "event_type", "seq", "tie")
      (df.filter(col("event_type") === "view")
          .select(col("row_id"), col("user_id"), col("seq"), col("tie")),
        df.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("seq"), col("tie"), col("row_id")))
    }
    val (lf, rf) = sides(neg = false)
    val fwd = plans.AsOfJoin.asofJoin(lf, rf, Seq("user_id"),
        Seq("seq", "tie"), direction = "forward")
      .select(col("row_id"), col("r_row_id"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1)
    val (lb, rb) = sides(neg = true)
    val bwd = plans.AsOfJoin.asofJoin(lb, rb, Seq("user_id"),
        Seq("seq", "tie"), direction = "backward")
      .select(col("row_id"), col("r_row_id"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1)
    assert(fwd.length == bwd.length && fwd.nonEmpty)
    assert(fwd.toSeq == bwd.toSeq,
      "forward on (seq,tie) must equal backward on (-seq,-tie)")
    assert(fwd.exists(_._2.isDefined))
  }

  test("waterfill properties: conservation, cap, max-min fairness on " +
      "random corpora and budgets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 6) {
      val nSrc = 2 + rnd.nextInt(6)
      val docs = (0 until nSrc).flatMap { s =>
        (0 until 1 + rnd.nextInt(4)).map { d =>
          val nTok = 1 + rnd.nextInt(12)
          (s"s$s", (s * 100 + d).toLong,
            Seq.fill(nTok)("w").mkString(" "))
        }
      }.toDF("source", "doc_id", "text")
      val budget = 1L + rnd.nextInt(80)
      val out = operators.Pipeline.tokenBudgetWaterfill(docs, budget)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
      val totalAvail = out.map(_._2).sum
      // conservation: allocations spend exactly min(budget, avail)
      assert(out.map(_._3).sum == math.min(budget, totalAvail),
        s"trial $trial: conservation failed for budget=$budget $out")
      // cap: nobody exceeds their availability
      assert(out.forall { case (_, a, x, _) => x <= a })
      // max-min fairness: unsaturated allocations differ by at most 1,
      // and every saturated source's full take is <= any unsaturated
      // source's allocation (else water should have flowed to it)
      val unsat = out.filter(!_._4).map(_._3)
      if (unsat.nonEmpty) {
        assert(unsat.max - unsat.min <= 1, s"trial $trial: $out")
        assert(out.filter(_._4).forall(_._3 <= unsat.max + 1))
      } else assert(out.forall { case (_, a, x, _) => x == a })
    }
  }

  test("chunking covers every token exactly once per stride (invariant)") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") < 100)
    val chunkTokens = 50
    val overlap = 10
    val step = chunkTokens - overlap
    val chunks = text.TextAnalysis
      .chunkDocuments(docs, chunkTokens, overlap)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).as("covered"),
        max(col("chunk_idx")).as("last_idx"))
    val joined = chunks.join(
      docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens")), "doc_id")
      .collect()
    joined.foreach { r =>
      val (nChunks, covered, lastIdx, nTokens) =
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("covered"),
          r.getAs[Int]("last_idx"), r.getAs[Int]("n_tokens"))
      // stride structure: chunk i starts at i*step; last start < n_tokens
      assert(lastIdx == (nTokens - 1).max(0) / step, r.toString)
      // total coverage = n_tokens + overlap re-reads of interior chunks
      val expectedOverlap = (0 until lastIdx).map { i =>
        math.min(overlap, nTokens - (i + 1) * step)
      }.sum
      assert(covered == nTokens + expectedOverlap, r.toString)
      assert(nChunks == lastIdx + 1)
    }
  }

  test("packing bins respect the target bound (invariant)") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val target = 2000L
    val bins = operators.Pipeline.packGreedy(docs, target.toInt)
      .groupBy(col("lang"), col("bin_id"))
      .agg(sum(col("n_tokens")).as("bin_tokens"),
        max(col("n_tokens")).as("max_doc"))
      .collect()
    // a bin's START is below bin boundary, so its total is bounded by
    // target + its largest document (greedy packing's standard bound)
    bins.foreach { r =>
      assert(r.getAs[Long]("bin_tokens") <= target + r.getAs[Int]("max_doc"),
        r.toString)
    }
    assert(bins.nonEmpty)
  }

  test("multi-probe recall is at least single-probe recall") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    def recallOf(bits: Int, multi: Boolean): Map[Long, Double] = {
      val brute = vector.Similarity.bruteForceTopK(emb)
        .select(col("query_id"), col("vec_id"))
      val ann =
        if (multi) vector.Similarity.lshTopKMultiProbe(emb, bits = bits)
        else vector.Similarity.lshTopK(emb, bits = bits)
      brute.join(ann.select(col("query_id").as("q2"), col("vec_id").as("v2")),
          col("query_id") === col("q2") && col("vec_id") === col("v2"),
          "left_outer")
        .groupBy(col("query_id"))
        .agg((count(col("v2")).cast("double") / 10.0).as("recall"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val sp = recallOf(6, multi = false)
    val mp = recallOf(6, multi = true)
    sp.keySet.foreach { q =>
      assert(mp(q) >= sp(q), s"query $q: mp=${mp(q)} < sp=${sp(q)}")
    }
  }

  test("total count equals the sum of grouped counts") {
    val rows = samples(eventGen, 500)
    val df = eventsDf(rows)
    val total = df.count()
    val grouped = df.groupBy("user_id").count()
      .agg(sum("count")).collect()(0).getLong(0)
    assert(grouped == total)
  }

  test("top-1 by sort equals limit-1 of full sort for any data") {
    val rows = samples(eventGen, 200)
    val df = eventsDf(rows)
    val a = df.orderBy(col("value").desc, col("event_id")).limit(1).collect()
    val b = df.orderBy(col("value").desc, col("event_id")).collect().take(1)
    assert(a.toSeq == b.toSeq)
  }

  test("min-id keeper dedup: keepers are a partition of all ids") {
    val texts = samples(Gen.oneOf("a b c d e", "a b c d f", "x y z w v",
      "p q r s t u"), 60)
    val docs = {
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }), schema)
    }
    val out = dedup.Dedup.exactDedup(docs).collect()
    assert(out.map(_.getLong(1)).sum == texts.length) // copies partition ids
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    // each keeper is the minimal id of its text group
    val byText = texts.zipWithIndex.groupBy(_._1)
    val expectKeepers = byText.values.map(_.map(_._2).min.toLong).toSet
    assert(out.map(_.getLong(0)).toSet == expectKeepers)
  }

  test("minhash estimated jaccard tracks exact jaccard within tolerance") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 " +
      "w16 w17 w18 w19 w20 w21 w22 w23 w24 w25"
    val variants = Seq(base,
      base.replace("w13", "x13"),
      base.replace("w13 w14 w15", "x13 x14 x15"),
      "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(
        variants.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }), schema)
    val exact = dedup.Dedup.jaccardPairs(docs, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val est = dedup.Dedup.minhashLshPairs(docs, k = 64, bands = 16,
      threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    est.foreach { case (pair, e) =>
      val x = exact.getOrElse(pair, 0.0)
      assert(math.abs(e - x) < 0.35, s"$pair est=$e exact=$x")
    }
  }

  test("property: native WordShingles == composed form on adversarial text") {
    // Random texts over a tiny alphabet WITH runs of spaces (empty
    // tokens), leading/trailing spaces, and empty strings — the inputs
    // where a hand-rolled splitter diverges from split(' ', -1).
    val textGen: Gen[String] = Gen.listOfN(12,
      Gen.oneOf("a", "b", "ab", "", " ", "  ")).map(_.mkString(" "))
    val texts = samples(textGen, 60) ++ Seq("", " ", "   ", "a", "a b")
    val schema = StructType(Seq(StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(Row(_))), schema)
    for (n <- Seq(1, 2, 3, 4)) {
      val rows = df.select(
        dedup.Dedup.shingles(col("text"), n).as("fast"),
        DedupSpec.shinglesComposed(col("text"), n).as("ref")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n diverged: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("property: BPE tokens concatenate back to the word; merges apply " +
      "in rank order") {
    import graft.functions.Bpe
    // lossless: merging only ever concatenates adjacent tokens
    val wordGen: Gen[String] = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("theandingisoretcl".toSeq)).map(_.mkString))
    (samples(wordGen, 200) ++ Seq("the", "thth", "and", "standing", "a"))
      .foreach { w =>
        val toks = Bpe.tokenize(w)
        assert(toks.mkString == w, s"lossy tokenization of '$w'")
        assert(toks.forall(_.nonEmpty))
      }
    // known replays against the learned k=64 table (rank order matters):
    // a+r -> ar, p+ar -> par, par+k -> park, s+park -> spark
    assert(Bpe.tokenize("spark").toSeq == Seq("spark"))
    // e+r -> er, m+er -> mer, g+e -> ge, mer+ge -> merge
    assert(Bpe.tokenize("merge").toSeq == Seq("merge"))
    // no overlap: adjacent e,r pairs merge independently in one pass
    assert(Bpe.tokenize("erer").toSeq == Seq("er", "er"))
    // the expression agrees with the Scala function on the fixture vocab
    // and stays in whole-stage codegen
    val vocab = Tables.load(spark, TestSpark.sf, "documents")
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$")).distinct().limit(500)
      .select(col("word"), Bpe.bpeTokens(col("word")).as("toks"))
    vocab.collect().foreach { r =>
      assert(r.getSeq[String](1) == Bpe.tokenize(r.getString(0)).toSeq)
    }
    val plan = vocab.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(600))
  }

  test("property: BPE training emits non-increasing pair frequencies") {
    // a merge can only create pairs whose count is bounded by the pair
    // it replaced, so the selected max is non-increasing over rounds
    val merges = graft.text.TextAnalysis
      .bpeTrain(Tables.load(spark, TestSpark.sf, "documents"), k = 4)
      .collect()
    assert(merges.length == 4)
    val freqs = merges.map(_.getLong(3))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b }, freqs.toSeq)
    // learned symbols are non-empty and pairs are never identical
    merges.foreach { r =>
      assert(r.getString(1).nonEmpty && r.getString(2).nonEmpty)
      assert(r.getString(1) != r.getString(2))
    }
  }

  test("property: BPE trainer sustains 256 merges on a vocab-rich corpus") {
    // the fixture's own vocabulary saturates around 64 merges; an 8×
    // disjoint-vocab synthesis (per-copy letter suffixes) carries the
    // pair diversity a production corpus has, proving the trainer holds
    // at real-tokenizer merge counts rather than toy k
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val big = (0 until 8).map { c =>
      val sfx = s"x${('a' + c).toChar}"
      docs.withColumn("doc_id", col("doc_id") + lit(c * 10000000L))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(sfx))), " "))
    }.reduce(_ unionAll _)
    val merges = graft.text.TextAnalysis.bpeTrain(big, k = 256).collect()
    assert(merges.length == 256, s"saturated at ${merges.length}")
    // ranks contiguous, the greedy max is non-increasing, and merges
    // COMPOSE (later rounds consume earlier rounds' output symbols)
    assert(merges.map(_.getInt(0)).toSeq == (1 to 256))
    val freqs = merges.map(_.getLong(3))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    assert(merges.exists(r =>
      r.getString(1).length + r.getString(2).length >= 4),
      "no composed (length >= 4) merge in 256 rounds")
  }

  test("property: zvalue is monotonic in each coordinate (box-query safety)") {
    // z(x1,y1) <= z(x2,y2) whenever x1<=x2 && y1<=y2 — the property that
    // makes `z BETWEEN z(corner_lo) AND z(corner_hi)` a correct superset
    // of any 2-D box (q_zorder_range relies on it).
    import graft.functions.ZValue.interleave
    val coordGen = Gen.choose(0L, 0x7FFFFFFFL)
    val pts = samples(Gen.zip(coordGen, coordGen, coordGen, coordGen), 300)
    pts.foreach { case (a, b, c, d) =>
      val (x1, x2) = (math.min(a, b), math.max(a, b))
      val (y1, y2) = (math.min(c, d), math.max(c, d))
      assert(interleave(x1, y1) <= interleave(x2, y2))
    }
  }

  test("r10 quality operators are invariant under repartitioning") {
    val docs = Tables.load(TestSpark.spark, TestSpark.sf, "documents")
    def run(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = Seq(
      text.TextAnalysis.gopherRepetition(df),
      operators.Pipeline.importanceScore(df),
      text.TextAnalysis.tokenizerFertility(df)
    ).map(_.collect().map(_.mkString("|")).toSeq)
    val base = run(docs)
    val shuffled = run(docs.repartition(17))
    base.zip(shuffled).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"operator $i diverged under repartition")
    }
  }

  test("dec12 convention boundary (ADVICE r11): shortest-repr HALF_EVEN " +
      "and exact-binary HALF_EVEN diverge ONLY at shortest-repr " +
      "scale-12 midpoints, by at most one quantum; ordinary doubles " +
      "never diverge") {
    // The PCA iteration quantizes with BigDecimal.valueOf (= shortest
    // decimal repr) + HALF_EVEN. tools/dec12_boundary.py measures the
    // DuckDB side of the same boundary (its CAST matches NEITHER
    // convention inside the midpoint band and truncates at scale 0, so
    // no Scala model can track it exactly; outside the band all
    // conventions agree — 0/20000 in the random sweep). This test pins
    // the ENGINE-side convention so a refactor can't silently change
    // which values sit on the boundary.
    import java.math.{BigDecimal => JBD, RoundingMode}
    val quantum = new JBD("1E-12")
    val half = new JBD("5E-13")
    def shortest(x: Double) =
      JBD.valueOf(x).setScale(12, RoundingMode.HALF_EVEN)
    def exact(x: Double) =
      new JBD(x).setScale(12, RoundingMode.HALF_EVEN)
    def nudge(x: Double, ulps: Int): Double = java.lang.Double
      .longBitsToDouble(java.lang.Double.doubleToLongBits(x) + ulps)
    var checked = 0
    var diverged = 0
    for {
      k <- 1 to 20000 by 7
      base <- Seq(k * 1e-12 + 5e-13, k * 1e-9 + 5e-13, k * 1e-6 + 5e-13)
      u <- -2 to 2
    } {
      val x = nudge(base, u)
      checked += 1
      val s = shortest(x)
      val e = exact(x)
      if (s.compareTo(e) != 0) {
        diverged += 1
        // a divergence is allowed only when the SHORTEST repr sits
        // exactly on the scale-12 midpoint (the binary value never
        // does for these probes), and is at most one quantum wide
        val bd = JBD.valueOf(x)
        val frac = bd.subtract(bd.setScale(12, RoundingMode.FLOOR))
        assert(frac.compareTo(half) == 0,
          s"diverged off-midpoint: x=$x shortest=$s exact=$e frac=$frac")
        assert(s.subtract(e).abs.compareTo(quantum) <= 0)
      }
    }
    assert(checked > 40000)
    assert(diverged > 0, "sweep never hit the boundary — not exercising it")
    // ordinary doubles (no midpoint parking): the conventions agree
    var state = 123456789L
    val m = (1L << 62)
    for (_ <- 1 to 20000) {
      state = 6364136223846793005L * state + 1442695040888963407L
      val x = ((state >>> 2).toDouble / m.toDouble - 0.5) * 1e-3
      assert(shortest(x).compareTo(exact(x)) == 0,
        s"ordinary double diverged: $x")
    }
  }
}
