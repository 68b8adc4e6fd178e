package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup operators on crafted near/exact duplicate corpora. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(texts: Seq[String]) = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }),
      schema)
  }

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the cat sleeps on the warm mat near the door"

  test("containment flags subset duplication that symmetric Jaccard " +
      "misses, in the right direction only") {
    // doc 0 is a verbatim quote inside the much larger doc 1: every
    // shingle of 0 appears in 1, but 1 has ~4x the shingles
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val container = quote + " iota kappa lambda mu nu xi omicron pi " +
      "rho sigma tau upsilon phi chi psi omega one two three four " +
      "five six seven eight nine ten"
    val df = docs(Seq(quote, container, "totally unrelated words here"))
    val cont = dedup.Dedup.containmentPairs(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // exactly one directed row: 0 contained in 1, containment 1.0
    assert(cont.toSeq == Seq((0L, 1L, 1.0)))
    // the symmetric Jaccard of the same pair is far below any usable
    // near-dup threshold — this is the case the operator exists for
    val jac = dedup.Dedup.jaccardPairs(df, threshold = 0.5).collect()
    assert(jac.isEmpty)
  }

  test("exact dedup keeps min doc_id per identical text") {
    val df = docs(Seq(base, base, "something else entirely here", base))
    val out = dedup.Dedup.exactDedup(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 3L), (2L, 1L)))
    val dig = dedup.Dedup.exactDedupByDigest(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(dig.toSeq == out.toSeq)
  }

  test("repetition ratio flags a looped document, passes normal prose") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType)))
    val loop = Seq.fill(10)("buy cheap pills now").mkString(" ")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, base, "en"), Row(1L, loop, "en"), Row(2L, "hi", "en"))),
      schema)
    val out = text.TextAnalysis.repetitionRatio(df).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(5)))
    // base: 20 tokens -> 18 grams, all distinct -> not repetitive
    assert(out(0) == ((0L, 18L, 18L, false)))
    // loop: 40 tokens -> 38 grams, only 7 distinct -> repetitive
    assert(out(1)._2 == 38L && out(1)._3 < 10L && out(1)._4)
    // short doc (< n tokens): one whole-text gram, never repetitive
    assert(out(2) == ((2L, 1L, 1L, false)))
  }

  test("jaccard pairs finds near-duplicates, skips unrelated") {
    val nearDup = base.replace("lazy", "sleepy") // one word differs
    val other = "completely different words with no overlap at all " +
      "in any shingle of this unrelated document text body"
    val df = docs(Seq(base, nearDup, other))
    val out = dedup.Dedup.jaccardPairs(df, n = 3, threshold = 0.3).collect()
    assert(out.length == 1)
    assert((out(0).getLong(0), out(0).getLong(1)) == (0L, 1L))
    assert(out(0).getDouble(3) > 0.5)
  }

  test("at-scale (no-broadcast) jaccard self-join reads the shingle " +
      "index once via ReusedExchange") {
    // The pair join references `indexed` on both sides (Dedup.scala);
    // in the shuffle-join form that is safe ONLY because Spark dedups
    // the two identical exchanges on h into one + a ReusedExchange
    // (r13 ADVICE, low). Force the SMJ form (sf0.01 AQE broadcasts and
    // instead recomputes the cheap explode per side) and pin the reuse
    // so a plan change upstream of `indexed` that silently doubles the
    // dominant stage fails here.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = dedup.Dedup.jaccardPairs(
        docs(Seq(base, base.replace("lazy", "sleepy"))), n = 3,
        threshold = 0.3)
      df.collect() // drive THIS QueryExecution's AQE to the final plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"plan never executed:\n$plan")
      assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
        s"exchange not reused:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sliced pair join is row-identical to the one-job pair join " +
      "(fixture corpus, several slice counts)") {
    // jaccardPairsSliced is the transient-disk knob the 4096× gate
    // runs on (r14 VERDICT item 1): K sequential disjoint hash-slices
    // whose union must reproduce the unsliced join EXACTLY — slicing
    // keys on the shingle hash, df(h) is per-h, so Σ slice-local
    // intersection counts = the global count for every pair. Pin the
    // equality on the real fixture corpus (near-dup structure + df
    // pruning active), at slice counts that do and don't divide the
    // hash space evenly, threshold high and low.
    val df = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // k=3 runs the single-job merge regime (below the byte bound);
    // k=8 forces mergeBucketBytes=0 — every bucket merged as its own
    // sequential partition-pruned job, the disk-bounded path the
    // 4096×/16384× gates run — so BOTH merge granularities are pinned
    // row-identical at unit scale
    for (th <- Seq(0.3, 0.5); k <- Seq(3, 8)) {
      val want = dedup.Dedup.jaccardPairs(df, threshold = th).collect()
      val got = dedup.Dedup
        .jaccardPairsSliced(df, threshold = th, slices = k,
          mergeBucketBytes = if (k == 8) 0L else 256L << 20)
        .collect()
      assert(got.toSeq == want.toSeq,
        s"sliced(k=$k, t=$th) diverged: got ${got.length} rows, " +
          s"want ${want.length}")
      assert(want.nonEmpty, "degenerate fixture: no pairs to compare")
    }
    // slices = 1 must BE the unsliced declarative plan — no persisted
    // slice-partial scratch scan anywhere in it
    val one = dedup.Dedup.jaccardPairsSliced(df, slices = 1)
    assert(!one.queryExecution.analyzed.toString.contains("graft_pair_slices"),
      "slices=1 should return the one-job jaccardPairs plan")
    // and the CC fixpoint fed by sliced pairs labels identically —
    // the integration the 4096× gate runs, pinned at unit scale
    val labelsSliced = operators.Pipeline
      .dedupClusters(df, pairSlices = 4).collect().toSeq
    val labels = operators.Pipeline.dedupClusters(df).collect().toSeq
    assert(labelsSliced == labels,
      "dedupClusters(pairSlices=4) diverged from the one-job fixpoint")
  }

  test("auto-K slice choice pins the published cost-model arithmetic " +
      "and slices=0 runs end-to-end") {
    import dedup.Dedup.choosePairSlices
    val free73 = 73L * 1000 * 1000 * 1000
    // the published 4096× numbers (SCALING.md §4096×): 5.18B candidate
    // pairs × 80 B transient = 414 GB against 73 GB free minus 21 GB
    // of partials → Kmin ≈ 8.0; margin 1.5 rounds the mechanical pick
    // to 13 (the r15 hand-pick was 12 — same ≥ Kmin envelope)
    assert(choosePairSlices(5180000000L, free73) == 13)
    // comfortably-fitting corpus → the one-job declarative plan
    assert(choosePairSlices(1000000L, free73) == 1)
    // partials alone exceed free disk (the two-phase 16384× wall): K
    // sized from transient over RAW free disk — only the interleaved
    // accumulator can run there, and never with K ≤ 1
    assert(choosePairSlices(20700000000L, free73) ==
      math.ceil(1.5 * 20.7e9 * 80.0 / 73e9).toInt)
    // slices = 0 end-to-end at unit scale: the probe says one job fits
    // → K = 1, materialized through the uniform pairs artifact
    val df = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val want = dedup.Dedup.jaccardPairs(df).collect()
    val auto = dedup.Dedup.jaccardPairsSliced(df, slices = 0).collect()
    assert(auto.toSeq == want.toSeq, "auto-K artifact diverged")
  }

  test("dedup clusters merge transitive chains A~B~C into one component") {
    // A~B and B~C each differ by one word (jaccard ≈ 0.7, above 0.6);
    // A and C differ by TWO words (jaccard ≈ 0.5, below 0.6) — so A and C
    // land in one cluster ONLY through the transitive chain.
    val a = base
    val b = base.replace("lazy", "sleepy")
    val c = base.replace("lazy", "sleepy").replace("warm", "cold")
    val other = "completely different words with no overlap at all " +
      "in any shingle of this unrelated document text body " +
      "and even more filler words to keep shingles apart"
    val other2 = other.replace("filler", "padding")
    val df = docs(Seq(a, b, c, other, other2))
    // sanity: the direct A~C pair must NOT exist at this threshold
    val pairs = dedup.Dedup.jaccardPairs(df, threshold = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L)) &&
      !pairs.contains((0L, 2L)), s"pair structure: $pairs")
    val out = operators.Pipeline.dedupClusters(df, threshold = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out == Seq(
      (0L, 0L, true), (1L, 0L, false), (2L, 0L, false),
      (3L, 3L, true), (4L, 3L, false)))
  }

  test("minhash LSH finds the same near-dup pair") {
    val nearDup = base.replace("lazy", "sleepy")
    val other = "completely different words with no overlap at all " +
      "in any shingle of this unrelated document text body"
    val df = docs(Seq(base, nearDup, other))
    val out = dedup.Dedup.minhashLshPairs(df, threshold = 0.4).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
  }

  test("simhash: identical texts have hamming 0; near-dups small distance") {
    val nearDup = base.replace("lazy", "sleepy")
    val df = docs(Seq(base, base, nearDup))
    val out = dedup.Dedup.simhashPairs(df, maxHamming = 16).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2).toLong)).toMap
    assert(out((0L, 1L)) == 0L)
    assert(out.get((0L, 2L)).forall(_ <= 16L))
  }

  test("minhash signature length and determinism") {
    val df = docs(Seq(base))
    val sig1 = dedup.Dedup.minhashSignatures(df, k = 16)
      .collect()(0).getSeq[Long](1)
    val sig2 = dedup.Dedup.minhashSignatures(df, k = 16)
      .collect()(0).getSeq[Long](1)
    assert(sig1.length == 16 && sig1 == sig2)
  }

  test("native WordShingles equals the composed HOF form on the corpus") {
    import org.apache.spark.sql.functions.col
    for (n <- Seq(1, 2, 3, 5)) {
      val both = Tables.load(spark, TestSpark.sf, "documents")
        .select(
          dedup.Dedup.shingles(col("text"), n).as("fast"),
          dedup.Dedup.shinglesComposed(col("text"), n).as("ref"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
      }
    }
    // edge cases the fixture may not cover: empty string, double spaces
    // (empty tokens kept), fewer tokens than n
    val edge = docs(Seq("", "a  b c", "one two"))
    val rows = edge.select(
      dedup.Dedup.shingles(col("text"), 3).as("fast"),
      dedup.Dedup.shinglesComposed(col("text"), 3).as("ref")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("substring dedup flags docs sharing a long run, skips disjoint") {
    val shared = "X" * 25 + "SHARED-RUN-" * 8 + "Y" * 25 // >2w shared core
    val a = "prefix-alpha " + shared + " suffix-alpha-tail-one"
    val b = "prefix-beta--" + shared + " suffix-beta--tail-two"
    val c = "Z" * 120 // long but unrelated
    val df = docs(Seq(a, b, c))
    val out = dedup.Dedup.substringDedup(df, w = 40, stride = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc 1 shares grid-aligned windows with doc 0 only if the copied
    // region aligns; with equal-length prefixes it does. doc 2 never.
    assert(out.map(_._1).toSet == Set(1L))
    assert(out.head == ((1L, 0L)))
  }

  test("substring dedup ignores docs shorter than the window") {
    val df = docs(Seq("tiny", "tiny"))
    assert(dedup.Dedup.substringDedup(df, w = 40).count() == 0)
  }

  test("sorted neighborhood pairs near-identical prefix docs") {
    val nearDup = base.replace("door", "gate") // same 24-char prefix
    val far = "zzz totally different document with another word set " +
      "that shares no prefix and no shingles with the others at all"
    val df = docs(Seq(base, nearDup, far))
    val out = dedup.Dedup.sortedNeighborhoodPairs(df, k = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L)))
  }

  test("fuzzy join scores blocked candidates by prefix edit distance") {
    // edit beyond the 24-char blocking prefix but inside the 64-char
    // scoring prefix: same block, edit distance 1
    val nearDup = base.replace("lazy", "hazy")
    val far = "zzz unrelated text that blocks elsewhere completely " +
      "and should never pair with the base document at all here"
    val df = docs(Seq(base, nearDup, far))
    val out = dedup.Dedup.fuzzyJoinPairs(df, k = 3, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((0L, 1L, 1)))
  }

  test("lshRecall: recall bounded, exact duplicates never missed, and " +
      "counts consistent") {
    val docsDf = Tables.load(spark, TestSpark.sf, "documents")
    val out = dedup.Dedup.lshRecall(docsDf, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, nTrue, nFound, rec) =>
      assert(nFound <= nTrue)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(math.abs(rec - nFound.toDouble / nTrue.toDouble) < 1e-12)
    }
    // identical shingle sets -> identical signatures -> a shared band
    // is guaranteed: the J = 1.0 bucket can never miss
    out.filter(_._1 == 10L).foreach { case (_, nTrue, nFound, _) =>
      assert(nFound == nTrue, "exact-duplicate pair missed by LSH gate")
    }
  }

  test("lshPlan picks the cheapest banding meeting the recall target, " +
      "and the measured recall beats its prediction") {
    // textbook check: k=16, J=0.8, target 0.95 -> bands=8 (r=2):
    // 1-(1-0.8^2)^8 = 0.99972; bands=4 (r=4) predicts only 0.8785
    val (bands, r, predicted) = dedup.Dedup.lshPlan()
    assert(bands == 8 && r == 2)
    assert(math.abs(predicted - (1.0 - math.pow(1.0 - 0.64, 8))) < 1e-12)
    // tighter targets cost more bands; impossible targets degrade to
    // the best available banding instead of failing
    assert(dedup.Dedup.lshPlan(targetRecall = 0.9999)._1 == 16)
    assert(dedup.Dedup.lshPlan(k = 4, targetRecall = 1.0)._3 < 1.0)
    // empirical validation at the planned point: aggregate measured
    // recall over all J >= threshold truth pairs must meet the
    // prediction, with slack for ONE finite-sample miss (per-pair miss
    // probability at the planned point is <= 2.8e-4; two misses on the
    // fixture's pair count has probability ~1e-5)
    val docsDf = Tables.load(spark, TestSpark.sf, "documents")
    val measured = dedup.Dedup
      .lshRecall(docsDf, k = 16, bands = bands, threshold = 0.8)
      .collect().map(x => (x.getLong(1), x.getLong(2)))
    assert(measured.nonEmpty)
    val (nTrue, nFound) = measured.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val slack = 1.0 / nTrue.toDouble
    assert(nFound.toDouble / nTrue.toDouble >= predicted - slack,
      s"measured $nFound/$nTrue below predicted $predicted")
  }

  test("JaroWinkler expression replays DuckDB's jaro_winkler_similarity " +
      "on probe pairs, codegen and interpreted") {
    import spark.implicits._
    // expected values are duckdb's own outputs for these pairs
    // (boost threshold 0.7, prefix cap 4, p=0.1, empty -> 0)
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abcd", "dcba", 0.5),
      ("ab", "ba", 0.0),
      ("a", "", 0.0),
      ("", "", 0.0),
      ("aaa", "aaa", 1.0),
      ("prefix_same_low", "prefix_x", 0.8683333333333334),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("ab", "abcdefgh", 0.8),
      ("aaxxxxxx", "aayyyyyy", 0.5), // below boost threshold: no boost
      ("abcdefgh", "abcd", 0.9))     // prefix capped at 4
    val df = cases.toDF("a", "b", "expect")
    val out = df.select(col("expect"),
        functions.JaroWinkler.jaroWinkler(col("a"), col("b")).as("got"))
      .collect()
    for (r <- out)
      assert(r.getDouble(1) == r.getDouble(0), s"mismatch: $r")
    // interpreted path (eval) agrees with the codegen'd column
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    for ((a, b, e) <- cases)
      assert(functions.JaroWinkler.similarity(u8(a), u8(b)) == e)
  }

  test("sourceSignatures is a mergeable sketch: elementwise min of " +
      "half-corpus signatures equals the full signature") {
    val docsDf = Tables.load(spark, TestSpark.sf, "documents")
    def sigMap(df: org.apache.spark.sql.DataFrame) =
      dedup.Dedup.sourceSignatures(df).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val full = sigMap(docsDf)
    // fixture assigns source = doc_id % n_sources, so split on the
    // QUOTIENT's parity to land half of every source in each part
    val half = org.apache.spark.sql.functions.expr("(doc_id div 20) % 2")
    val evens = sigMap(docsDf.filter(half === 0))
    val odds = sigMap(docsDf.filter(half === 1))
    assert(full.nonEmpty)
    for ((src, sig) <- full) {
      val merged = evens(src).zip(odds(src)).map(p => math.min(p._1, p._2))
      assert(merged == sig, s"merge mismatch for $src")
    }
    // self-overlap sanity: a source duplicated under a new name would
    // agree at every position; distinct fixture sources must not all
    // agree everywhere (the estimate discriminates)
    val overlaps = dedup.Dedup.sourceOverlap(docsDf).collect()
    assert(overlaps.length == full.size * (full.size - 1) / 2)
    assert(overlaps.exists(_.getDouble(2) < 1.0))
    val union = docsDf.withColumn("source", lit("all"))
    val uSig = sigMap(union)("all")
    assert(full.values.reduce((x, y) =>
      x.zip(y).map(p => math.min(p._1, p._2))) == uSig,
      "union signature must equal the min-merge of per-source signatures")
  }

  test("shared Jaccard boundary: every exact-Jaccard operator keeps " +
      "J = 0.5 at threshold 0.5 and drops the pair just below, with " +
      "identical rows") {
    // docs 0/1: 3 + 3 word 3-grams, 2 shared -> J = 2/4 = 0.5 exactly;
    // docs 2/3: 3 + 4, 2 shared -> J = 2/5. Each pair shares one 8-char
    // block, so the sorted-neighborhood gate sees both pairs too.
    val df = docs(Seq(
      "aaaa bbbb cccc dddd eeee", "aaaa bbbb cccc dddd ffff",
      "gggg hhhh iiii jjjj kkkk", "gggg hhhh iiii jjjj llll mmmm"))
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue, r.getDouble(3))).toSeq
    val d = dedup.Dedup
    val want = Seq((0L, 1L, 2L, 0.5))
    Seq(
      "jaccardPairs" -> d.jaccardPairs(df, threshold = 0.5),
      "jaccardPairsSliced(3, mergeBucketBytes = 0)" ->
        d.jaccardPairsSliced(df, threshold = 0.5, slices = 3,
          mergeBucketBytes = 0L),
      "jaccardPairsSliced(3)" ->
        d.jaccardPairsSliced(df, threshold = 0.5, slices = 3),
      "jaccardPrefixPairs" -> d.jaccardPrefixPairs(df, threshold = 0.5),
      "sortedNeighborhoodPairs" ->
        d.sortedNeighborhoodPairs(df, threshold = 0.5)
    ).foreach { case (op, out) =>
      assert(rows(out) == want, s"$op: got ${rows(out)}, want $want")
    }
    // one band per lane (r = 1) makes both pairs LSH candidates
    val exact = d.minhashEstimate(df, bands = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(exact.get((0L, 1L)).contains(0.5), s"exact_jaccard: $exact")
    assert(exact.get((2L, 3L)).contains(2.0 / 5.0), s"exact_jaccard: $exact")
  }

  test("rows-only LSH twins equal a brute-force cross join over their " +
      "signatures and fingerprints (1 and 7 shuffle partitions)") {
    val docsDf = Tables.load(spark, TestSpark.sf, "documents")
    val d = dedup.Dedup
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try for (parts <- Seq(1, 7)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // MinHash, k = 32 in 8 bands of 4: a candidate shares at least one
      // band exactly; kept at agreement/k >= 0.5
      val sigs = d.minhashSignatures(docsDf, k = 32).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq)
      val wantLsh = for {
        (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq if a < b
        if (0 until 8).exists(i => sa.slice(i * 4, i * 4 + 4) ==
          sb.slice(i * 4, i * 4 + 4))
        est = sa.indices.count(i => sa(i) == sb(i)) / 32.0
        if est >= 0.5
      } yield (a, b, est)
      val gotLsh = d.minhashLshPairs(docsDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(wantLsh.nonEmpty, "degenerate fixture: no MinHash pairs")
      assert(gotLsh.sorted == wantLsh.sorted,
        s"minhashLshPairs at $parts partitions: got ${gotLsh.length} " +
          s"rows, want ${wantLsh.length}")
      // SimHash: a candidate shares one of the four 16-bit chunks; kept
      // at Hamming distance <= 3
      val fps = d.simhashFingerprints(docsDf).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val wantSim = for {
        (a, fa) <- fps.toSeq; (b, fb) <- fps.toSeq if a < b
        if (0 until 4).exists(i =>
          ((fa >>> (i * 16)) & 0xFFFFL) == ((fb >>> (i * 16)) & 0xFFFFL))
        ham = java.lang.Long.bitCount(fa ^ fb)
        if ham <= 3
      } yield (a, b, ham)
      val gotSim = d.simhashPairs(docsDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(wantSim.nonEmpty, "degenerate fixture: no SimHash pairs")
      assert(gotSim.sorted == wantSim.sorted,
        s"simhashPairs at $parts partitions: got ${gotSim.length} rows, " +
          s"want ${wantSim.length}")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
