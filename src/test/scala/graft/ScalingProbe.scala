package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-evidence probe (dev tool, like ProfileQ): times representative
  * operators at up to 64× scaled copies of the sf0.1 fixtures, so the
  * "linear in the corpus" claims in SURVEY rest on measurements instead
  * of assertions. Copies are id-shifted; text copies are salted with the
  * copy index so near-dup candidate structure stays realistic (exact
  * duplicate blowup across copies would measure the adversarial
  * quadratic case, not scaling).
  *
  * Run: sbt "Test/runMain graft.ScalingProbe"   (~20 min, idle box)
  * or one section: sbt "Test/runMain graft.ScalingProbe ranges"
  * (sections: events join docs embeddings ranges streaming dedup
  * recall r10ops)
  * Output: one PROBE line per (operator, scale) with rows and seconds.
  */
object ScalingProbe {
  /** How many candidate pairs survive `Dedup.jaccardPrefixPairs`' prefix
    * and length filters at `threshold`: the verify join's input volume,
    * the quantity PPJoin's selectivity argument is about (SCALING.md).
    * Bounded driver read (one count). ProfileScaled and PairCostProbe
    * read it too. */
  def jaccardPrefixCandidateCount(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.4): Long = {
    val sh = graft.dedup.Dedup.shingleHashes(documents, n).persist()
    val c = graft.dedup.Dedup.prefixCandidates(sh, threshold).count()
    sh.unpersist()
    c
  }

  def main(args: Array[String]): Unit = {
    val only = args.toSet
    def sec(name: String)(body: => Unit): Unit =
      if (only.isEmpty || only.contains(name)) body
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder.getOrCreate()
    spark.range(2000000).selectExpr("sum(id * 2)").collect()

    // k = 0 marks the untimed codegen/JIT warmup pass so the curve
    // measures data scaling, not first-compile cost
    def time(op: String, k: Int)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val dt = (System.nanoTime() - t0) / 1e9
      if (k > 0) println(f"PROBE op=$op scale=$k rows=$rows sec=$dt%.2f")
    }

    val events = Tables.load(spark, sfDir, "events")
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val orders = Tables.load(spark, sfDir, "orders")

    sec("events") { for (k <- Seq(0, 1, 8, 64)) {
      val ev = ScaledFixtures.scaled(events, k,
        Seq("event_id", "user_id"))
        .persist()
      ev.count()
      // grouped aggregation (map-side partial -> tiny shuffle)
      time("agg_by_type", k) {
        ev.groupBy(col("event_type"))
          .agg(count(lit(1)), sum(col("value"))).count()
      }
      // sessionization (partitioned window over user)
      time("sessionize", k) {
        operators.EventsPipeline.sessionize(ev).count()
      }
      // custom broadcast range join: fixed 12-band dim broadcast, fact
      // side probes in place — must stay scan-bound (near-linear)
      time("range_bands", k) {
        operators.EventsPipeline.rangeBandCounts(ev).count()
      }
      ev.unpersist()
    } }

    sec("join") { for (k <- Seq(0, 1, 8, 32)) {
      val li = ScaledFixtures.scaled(lineitem, k, Seq("l_orderkey"))
        .persist()
      val ord = ScaledFixtures
        .scaled(orders, k, Seq("o_orderkey", "o_custkey")).persist()
      li.count(); ord.count()
      // fact-fact shuffle join at growing both-side scale
      time("join_priority", k) {
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1))).count()
      }
      li.unpersist(); ord.unpersist()
    } }

    sec("docs") { for (k <- Seq(0, 1, 8, 64)) {
      val d = ScaledFixtures.scaled(docs, math.max(k, 1), Seq("doc_id"))
        .withColumn("text", concat(col("text"),
          lit(" copyword"), (col("doc_id") / ScaledFixtures.idShift)
            .cast("long").cast("string")))
        .persist()
      d.count()
      // shingle explosion + signature build (the dedup workhorse)
      time("minhash_sigs", k) {
        graft.dedup.Dedup.minhashSignatures(d).count()
      }
      // vocab-grain BPE token accounting
      time("bpe_token_stats", k) {
        graft.text.TextAnalysis.bpeTokenStats(d).count()
      }
      // bigram-grain PMI collocation mining
      time("pmi", k) {
        graft.text.TextAnalysis.pmiCollocations(d).count()
      }
      // Gopher repetition gates: two positional gram explodes +
      // struct-min argmax agg — must stay linear (r10)
      time("gopher_rep", k) {
        graft.text.TextAnalysis.gopherRepetition(d).count()
      }
      // DSIR-style importance votes: token-grain explode ×2 +
      // vocab-grain lean model joined back (r10)
      time("importance", k) {
        operators.Pipeline.importanceScore(d).count()
      }
      // per-language BPE fertility: vocab-grain BPE + corpus join (r10)
      time("fertility", k) {
        graft.text.TextAnalysis.tokenizerFertility(d).count()
      }
      d.unpersist()
    } }

    sec("embeddings") { for (k <- Seq(0, 1, 16, 64)) {
      val e = ScaledFixtures.scaled(emb, k, Seq("vec_id")).persist()
      e.count()
      // one-pass Gram moment accumulation (PCA corpus pass)
      time("gram_moments", k) {
        e.select(transform(col("embedding").cast("array<double>"),
            x => round(x * 1000000d).cast("long")).as("xq"))
          .agg(functions.GramAggregate.gramMoments(col("xq"), 64))
          .head().getSeq[Long](0).length.toLong
      }
      // zero-shuffle per-row JL projection folds
      time("rand_proj", k) {
        vector.Similarity.randomProjection(e).count()
      }
      // Gram-identity mean pairwise dot (pair-join-free)
      time("mean_pairwise", k) {
        vector.Similarity.meanPairwiseDot(e).count()
      }
      // SemDeDup under size-derived sub-blocking: clusters grow with
      // the corpus (labels are fixed) but per-block pair cost is
      // capped, so the curve must stay linear-ish — the r7 verdict's
      // one open scale question
      time("semdedup", k) {
        vector.Similarity.semDedup(e, threshold = 0.35).count()
      }
      e.unpersist()
    } }

    // --- BroadcastIntervalJoinExec vs the native plans (A/B) ---
    // Same query, growing BUILD side over a fixed 6.4M-row probe:
    // disjoint band grids of B intervals spanning the ts range. Spark
    // plans the BETWEEN theta join as BroadcastNestedLoopJoin — B
    // predicate evaluations per probe row, O(N·B) — while the custom
    // exec binary-searches the sorted broadcast index, O(N·log B).
    // The custom curve must stay ~flat in B; the BNLJ one grows ~B.
    sec("ranges") {
      val ev64 = ScaledFixtures
        .scaled(events, 64, Seq("event_id", "user_id")).persist()
      ev64.count()
      val span = ev64.agg(min(unix_micros(col("ts"))).as("l"),
        max(unix_micros(col("ts"))).as("h")).head()
      val (lo0, hi0) = (span.getLong(0), span.getLong(1))
      val probe = ev64.select(unix_micros(col("ts")).as("x"))
      for (b <- Seq(0, 16, 128, 1024, 8192)) {
        val nb = math.max(b, 16)
        val w = (hi0 - lo0) / nb + 1
        val bands = spark.range(nb).select(col("id").as("band_id"),
          (lit(lo0) + col("id") * w).as("lo"),
          (lit(lo0) + (col("id") + 1) * w - 1).as("hi"))
        time("range_ab_custom", b) {
          graft.plans.IntervalJoin
            .join(probe, bands, "x", "x", "lo", "hi")
            .groupBy(col("r_band_id")).agg(count(lit(1))).count()
        }
        time("range_ab_bnlj", b) {
          probe.join(broadcast(bands),
              col("x").between(col("lo"), col("hi")))
            .groupBy(col("band_id")).agg(count(lit(1))).count()
        }
      }
      // KEYED variant A/B over the same probe: per-key grids of G
      // intervals (5 event types → 5·G build rows). The native plan is
      // BroadcastHashJoin on the key + BETWEEN post-filter — every
      // probe row materializes its key's FULL G intervals before
      // filtering, O(G)/row; the keyed exec is one hash lookup + a
      // binary search in the key's lo-sorted group, O(log G)/row.
      locally {
        val sq = spark; import sq.implicits._
        val kProbe = ev64.select(col("event_type"),
          unix_micros(col("ts")).as("x"))
        val types = Seq("click", "error", "purchase", "signup", "view")
        for (g <- Seq(0, 16, 128, 1024)) {
          val ng = math.max(g, 16)
          val w = (hi0 - lo0) / ng + 1
          val bands = types.toDF("etype").crossJoin(spark.range(ng))
            .select(col("etype"), col("id").as("band_id"),
              (lit(lo0) + col("id") * w).as("lo"),
              (lit(lo0) + (col("id") + 1) * w - 1).as("hi"))
          time("keyed_ab_custom", g) {
            graft.plans.IntervalJoin
              .join(kProbe, bands, "x", "x", "lo", "hi",
                Some("event_type" -> "etype"))
              .groupBy(col("r_etype"), col("r_band_id"))
              .agg(count(lit(1))).count()
          }
          time("keyed_ab_bhj", g) {
            kProbe.join(broadcast(bands),
                col("event_type") === col("etype") &&
                  col("x").between(col("lo"), col("hi")))
              .groupBy(col("etype"), col("band_id"))
              .agg(count(lit(1))).count()
          }
        }
      }
      // OVERLAP variant A/B over the same probe rows widened to 1-hour
      // intervals [ts, ts+1h]: build grids of B disjoint windows across
      // the ts span, predicate lo <= e AND hi >= s. No equi key exists
      // in any rewrite, so the native plan is BroadcastNestedLoopJoin
      // O(N·B); the overlap exec binary-searches the lo-sorted windows
      // and walks only actual overlaps (~1 + 1h/window-width per row).
      locally {
        val h1 = 3600L * 1000000L
        val oProbe = ev64.select(unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) + h1).as("e"))
        for (b <- Seq(0, 16, 128, 1024, 8192)) {
          val nb = math.max(b, 16)
          val w = (hi0 - lo0) / nb + 1
          val wins = spark.range(nb).select(col("id").as("window_id"),
            (lit(lo0) + col("id") * w).as("lo"),
            (lit(lo0) + (col("id") + 1) * w - 1).as("hi"))
          time("overlap_ab_custom", b) {
            graft.plans.IntervalJoin
              .join(oProbe, wins, "s", "e", "lo", "hi")
              .groupBy(col("r_window_id")).agg(count(lit(1))).count()
          }
          time("overlap_ab_bnlj", b) {
            oProbe.join(broadcast(wins),
                col("lo") <= col("e") && col("hi") >= col("s"))
              .groupBy(col("window_id")).agg(count(lit(1))).count()
          }
        }
      }
      ev64.unpersist()
    }

    // --- Streaming drain (state-store path) ---
    // The synthetic DSv2 streaming source drained under AvailableNow:
    // (a) per-micro-batch floor — fixed 320k rows split into 1/4/32
    // batches; the time delta across batch counts IS the fixed
    // per-batch cost; (b) drain volume — 1×/8×/64× rows at a fixed 4
    // batches, which must be linear; (c) the session-window drain
    // (state store merging session fragments per user across batches)
    // at the same volumes.
    sec("streaming") {
      def drain(n: Long, rpb: Long, sessions: Boolean): Long = {
        val src = streaming.StreamingPipeline.syntheticStream(spark, n, rpb)
          .withWatermark("ts", "10 minutes")
        val agg =
          if (sessions)
            src.groupBy(session_window(col("ts"), "30 minutes"),
                col("user_id"))
              .agg(count(lit(1)).as("n_events"))
          else
            src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
              .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        streaming.StreamingPipeline.drain(spark, "complete")(agg).count()
      }
      drain(1000, 1000, sessions = false)
      drain(1000, 1000, sessions = true)
      for ((batches, rpb) <- Seq((1, 320000L), (4, 80000L), (32, 10000L)))
        time("stream_floor", batches) {
          drain(320000L, rpb, sessions = false)
        }
      for (kk <- Seq(1, 8, 64)) {
        val n = 50000L * kk
        time("stream_drain", kk) {
          drain(n, n / 4, sessions = false)
        }
        time("stream_sessions", kk) {
          drain(n, n / 4, sessions = true)
        }
      }
    }

    // Heavy dedup family (last: the most expensive rows). The one-word
    // salt above is far too weak here — a single appended word leaves
    // cross-copy Jaccard ≈ 0.98, so every copy of a doc pairs with
    // every other copy and the probe measures the adversarial
    // all-duplicates case (first run: 611× pairs at 8×), not corpus
    // growth. Salting EVERY word gives copies disjoint vocabulary —
    // genuinely new content, the scaling scenario — while each copy
    // keeps the fixture's own realistic near-dup structure.
    sec("dedup") { for (k <- Seq(0, 1, 8, 64)) {
      val d = ScaledFixtures.saltedDocs(docs, math.max(k, 1)).persist()
      d.count()
      // the PPJoin at the production threshold FIRST (t=0.8, prefix =
      // the rare ~20% tail — the selectivity regime PPJoin is designed
      // for): running it after the t=0.4 job measured 56 s where the
      // isolated number (ProfileScaled) is 16.5 s — the heavy
      // predecessor's spill/GC pressure bleeds forward, so the small
      // job runs first
      time("jaccard_prefix_hi", k) {
        graft.dedup.Dedup.jaccardPrefixPairs(d, threshold = 0.8).count()
      }
      // PPJoin prefix-filtered Jaccard — the heaviest catalog member
      time("jaccard_prefix", k) {
        graft.dedup.Dedup.jaccardPrefixPairs(d).count()
      }
      // verify-join input volume at both thresholds: the t=0.8
      // candidate count must drop superlinearly vs t=0.4 (r8 verdict's
      // named concern — the t=0.4 verify shuffle constant)
      if (k > 0) {
        val c4 = ScalingProbe.jaccardPrefixCandidateCount(d)
        val c8 = ScalingProbe
          .jaccardPrefixCandidateCount(d, threshold = 0.8)
        println(s"PROBE op=prefix_candidates scale=$k t04=$c4 t08=$c8")
      }
      // near-dup connected-components fixpoint + canonical selection
      time("cluster_canonical", k) {
        operators.Pipeline.clusterCanonical(d).count()
      }
      // stride-indexed windowed substring dedup
      time("substring_dedup", k) {
        graft.dedup.Dedup.substringDedup(d).count()
      }
      d.unpersist()
    } }

    // Bucketed-layout amortization (r10): the SAME fact⋈fact join as a
    // shuffle SMJ vs a bucket-aligned SMJ over pre-bucketed tables, at
    // growing both-side scale. Broadcast disabled so both variants are
    // SMJ and the measured delta is exactly the two exchanges the
    // layout removes; the one-time bucketed-write cost is reported
    // separately (the amortization denominator).
    sec("bucket") { for (k <- Seq(0, 1, 8, 32)) {
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = ScaledFixtures.scaled(lineitem, math.max(k, 1), Seq("l_orderkey"))
        .select(col("l_orderkey"), col("l_quantity")).persist()
      val ord = ScaledFixtures.scaled(orders, math.max(k, 1), Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderpriority")).persist()
      li.count(); ord.count()
      def agg(l: DataFrame, o: DataFrame): Long =
        l.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)), sum(col("l_quantity"))).count()
      time("join_plain", k) { agg(li, ord) }
      val root = java.nio.file.Files.createTempDirectory("graft_bktprobe")
      val (ln, on) = (s"probe_li_$k", s"probe_ord_$k")
      time("bucket_write", k) {
        li.repartition(16, col("l_orderkey")).write
          .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$root/li").saveAsTable(ln)
        ord.repartition(16, col("o_orderkey")).write
          .bucketBy(16, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$root/ord").saveAsTable(on)
        0L
      }
      time("join_bucketed", k) { agg(spark.table(ln), spark.table(on)) }
      // second probe on the warm layout — the amortized steady state
      time("join_bucketed2", k) { agg(spark.table(ln), spark.table(on)) }
      spark.sql(s"DROP TABLE $ln"); spark.sql(s"DROP TABLE $on")
      li.unpersist(); ord.unpersist()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    } }

    // EFFECTIVENESS at scale (r9 verdict item 5): recall of the banded
    // LSH gate vs the exact-Jaccard truth (PPJoin pair set) on the
    // salted corpus, at the operating point (k=16, bands=4, r=4) and a
    // deliberately stricter (bands=2, r=8) gate that shows real misses.
    // The PPJoin truth side itself is exact BY CONSTRUCTION (prefix
    // filtering is lossless — its recall is 1.0 at every scale; the
    // hash-equal quadratic-oracle checks at all three SFs are the
    // evidence), so the measured quantity is the LSH gate's loss.
    sec("recall") { for (k <- Seq(1, 8, 64)) {
      val d = ScaledFixtures.saltedDocs(docs, k).persist()
      d.count()
      for (b <- Seq(4, 2)) {
        val rows = graft.dedup.Dedup
          .lshRecall(d, k = 16, bands = b, threshold = 0.8).collect()
        rows.foreach { r =>
          println(f"PROBE op=lsh_recall scale=$k bands=$b " +
            f"bucket=${r.getLong(0)} n_true=${r.getLong(1)} " +
            f"n_found=${r.getLong(2)} recall=${r.getDouble(3)}%.4f")
        }
      }
      d.unpersist()
    } }

    // r10 additions: LPA (per-round shuffle join, disjoint subgraph per
    // id-shifted copy -> graph size linear in k), forward vs backward
    // as-of (same merge pass, cost parity expected), A-ES weighted
    // sample (TopKPerGroup map-side heaps -> scan-bound).
    sec("r10ops") {
      for (k <- Seq(0, 1, 8, 64)) {
        val li = ScaledFixtures
          .scaled(lineitem, k, Seq("l_partkey", "l_suppkey")).persist()
        li.count()
        time("label_prop", k) {
          operators.Graph.labelPropagation(li, partCap = Long.MaxValue)
            .count()
        }
        li.unpersist()
      }
      for (k <- Seq(0, 1, 8, 64)) {
        val ev = ScaledFixtures
          .scaled(events, k, Seq("event_id", "user_id")).persist()
        ev.count()
        def side(t: String) = ev.filter(col("event_type") === t)
        for (dir <- Seq("backward", "forward")) {
          time(s"asof_$dir", k) {
            plans.AsOfJoin.asofJoin(
              side("view").select(col("event_id"), col("ts"),
                col("user_id")),
              side("purchase").select(col("user_id"), col("ts"),
                col("event_id")),
              keys = Seq("user_id"), ordCols = Seq("ts", "event_id"),
              direction = dir).count()
          }
        }
        ev.unpersist()
      }
      // one salted-docs persist cycle per k serves every doc-grain
      // probe: A-ES sampling plus the "corpus work is ONE map-side
      // aggregate" family — waterfill (source-grain sum), source
      // overlap (mergeable min-sketch), calibration (R gradient
      // aggregates + one bin rollup)
      for (k <- Seq(0, 1, 8, 64)) {
        val d = ScaledFixtures.saltedDocs(docs, k).persist()
        d.count()
        time("weighted_sample", k) {
          operators.Pipeline.weightedSample(d).count()
        }
        time("waterfill", k) {
          operators.Pipeline.tokenBudgetWaterfill(d).count()
        }
        time("source_overlap", k) {
          graft.dedup.Dedup.sourceOverlap(d).count()
        }
        time("calibration", k) {
          text.QualityModel.calibration(d).count()
        }
        d.unpersist()
      }
      // hard negatives: fixed query count, corpus-linear scan (the
      // brute baseline; the bucketed ANN paths carry the same label
      // filter on their probe joins)
      for (k <- Seq(0, 1, 8, 64)) {
        val e = ScaledFixtures.scaled(emb, k, Seq("vec_id")).persist()
        e.count()
        time("hard_negatives", k) {
          vector.Similarity.hardNegatives(e).count()
        }
        e.unpersist()
      }
    }

    spark.stop()
  }
}
