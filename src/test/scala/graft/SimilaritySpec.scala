package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Vector similarity: brute-force is the exact baseline; LSH/IVF are
  * approximations whose results must be subsets/orderings consistent
  * with exact cosine. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("brute-force top-k matches hand-computed cosine ranking") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vecs = Seq(
      Row(0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      Row(1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)), // nearly parallel to 0
      Row(2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal to 0
      Row(3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))) // opposite to 0
    val df = spark.createDataFrame(spark.sparkContext.parallelize(vecs), schema)
    val out = vector.Similarity.bruteForceTopK(df, nQueries = 1, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 1L), (2, 2L), (3, 3L)))
  }

  test("quantized top-k handles constant (zero-range) vectors without NaN") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vecs = Seq(
      Row(0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      Row(1L, Seq(0.5f, 0.5f, 0.5f, 0.5f)), // constant: hi == lo
      Row(2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      Row(3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(vecs), schema)
    val out = vector.Similarity.quantizedTopK(df, nQueries = 1, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // the constant vector reconstructs as identity -> real cosine 0.5,
    // ranked between the near-parallel (2) and orthogonal (3) vectors
    assert(out.toSeq == Seq((1, 2L, 0.994), (2, 1L, 0.5), (3, 3L, 0.0)))
    // the same guard in quantizeEmbeddings: all-zero codes, not nulls
    val q = operators.Pipeline.quantizeEmbeddings(df)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 1L)
      .collect()(0)
    assert(q.getAs[String]("q8") == "0,0,0,0")
    assert(q.getAs[Long]("q8_sum") == 0L)
  }

  test("LSH top-k on real embeddings recalls most of exact top-10") {
    val df = Tables.load(spark, TestSpark.sf, "embeddings")
    val exact = vector.Similarity.bruteForceTopK(df, nQueries = 1, k = 10)
      .collect().map(_.getLong(2)).toSet
    val approx = vector.Similarity.lshTopK(df, nQueries = 1, k = 10, bits = 4)
      .collect().map(_.getLong(2)).toSet
    // approximate: require non-trivial recall, not equality
    assert(approx.nonEmpty && (exact & approx).nonEmpty)
  }

  test("native cosine_sim expression matches the HOF formulation bit-for-bit") {
    import org.apache.spark.sql.functions._
    val df = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val paired = df.as("a").crossJoin(df.as("b"))
    val hof = aggregate(zip_with(col("a.v"), col("b.v"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x) /
      (sqrt(aggregate(transform(col("a.v"), x => x * x), lit(0.0), (a, x) => a + x)) *
       sqrt(aggregate(transform(col("b.v"), x => x * x), lit(0.0), (a, x) => a + x)))
    val diff = paired
      .select(functions.VectorFunctions.cosineSim(col("a.v"), col("b.v")).as("fast"),
        hof.as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(diff == 0)
  }

  test("sorted_intersect_count equals array_intersect on sorted distinct " +
      "arrays (codegen + SQL registration)") {
    import org.apache.spark.sql.functions._
    // adversarial shapes: disjoint, identical, subset, interleaved, and
    // hash-scale values — built from the real shingle distribution
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val arrs = docs
      .select(col("doc_id"),
        explode(dedup.Dedup.shingles(col("text"), 3)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("h"))).as("hs"))
      .limit(80)
    val pairs = arrs.as("a").crossJoin(arrs.as("b"))
    val mismatch = pairs
      .select(functions.VectorFunctions
          .sortedIntersectCount(col("a.hs"), col("b.hs")).as("fast"),
        size(array_intersect(col("a.hs"), col("b.hs"))).cast("long")
          .as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatch == 0)
    functions.VectorFunctions.register(spark)
    val r = spark.sql(
      """SELECT sorted_intersect_count(array(1L, 3L, 7L, 9L),
                                       array(2L, 3L, 8L, 9L, 11L)) AS c""")
      .head().getLong(0)
    assert(r == 2L)
  }

  test("cosine_sim is registered for SQL via extensions/register") {
    functions.VectorFunctions.register(spark)
    Tables.load(spark, TestSpark.sf, "embeddings")
      .createOrReplaceTempView("emb_sql_test")
    val r = spark.sql(
      """SELECT cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>),
                           CAST(b.embedding AS ARRAY<DOUBLE>)) AS c
         FROM emb_sql_test a JOIN emb_sql_test b
           ON a.vec_id = 0 AND b.vec_id = 0""").collect()
    assert(math.abs(r(0).getDouble(0) - 1.0) < 1e-12) // self-similarity = 1
  }

  test("zvalue and word_shingles are registered for SQL") {
    functions.VectorFunctions.register(spark)
    val z = spark.sql("SELECT zvalue(3L, 0L) AS z, zvalue(0L, 3L) AS z2")
      .collect()(0)
    assert(z.getLong(0) == 5L && z.getLong(1) == 10L)
    val sh = spark.sql(
      "SELECT word_shingles('a b c d', 3) AS s").collect()(0)
      .getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
  }

  test("PQ ADC top-k recalls most of the exact top-10 and never returns " +
      "the query itself") {
    val df = Tables.load(spark, TestSpark.sf, "embeddings")
    val exact = vector.Similarity.bruteForceTopK(df, nQueries = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = vector.Similarity.pqTopK(df, nQueries = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(pq.length == 20)
    assert(!pq.exists { case (q, v) => q == v })
    // ADC + rerank=30 is approximate: require substantial (not perfect)
    // agreement with the exact ranking
    val hits = pq.count(exact.contains)
    assert(hits >= 8, s"PQ recall too low: $hits/20")
  }

  test("multi-probe LSH recall is at least single-probe recall") {
    val df = Tables.load(spark, TestSpark.sf, "embeddings")
    val exact = vector.Similarity.bruteForceTopK(df, nQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(hits: Set[(Long, Long)]) =
      (exact & hits).size.toDouble / exact.size
    val single = vector.Similarity.lshTopK(df, nQueries = 5, k = 10, bits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val multi = vector.Similarity
      .lshTopKMultiProbe(df, nQueries = 5, k = 10, bits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(recall(multi) >= recall(single),
      s"multi=${recall(multi)} single=${recall(single)}")
    assert(recall(multi) > 0.0)
  }

  test("hard negatives: never the query's label, full k per query, and " +
      "each is the best different-label candidate at its rank") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val labelOf = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = vector.Similarity.hardNegatives(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4)))
    assert(out.nonEmpty)
    // label inequality holds row by row; neg_label is the corpus truth
    assert(out.forall { case (q, _, v, nl, _) =>
      nl != labelOf(q) && nl == labelOf(v) })
    // the fixture has enough off-label vectors: every query fills k
    val byQ = out.groupBy(_._1)
    assert(byQ.values.forall(_.length == 10))
    // consistency with the oracled brute top-k: any brute neighbor
    // with a different label must appear as a hard negative at least
    // as early (the hard-negative list is the brute list with
    // same-label rows deleted)
    val brute = vector.Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    for ((q, _, v) <- brute if labelOf(v) != labelOf(q)) {
      val hn = byQ(q).map(_._3)
      assert(hn.contains(v), s"brute off-label neighbor $v missing for $q")
    }
  }

  test("pairwise cosine is symmetric-safe and bounded") {
    val df = Tables.load(spark, TestSpark.sf, "embeddings")
    val out = vector.Similarity.pairwiseCosine(df, bound = 5).collect()
    assert(out.length == 10) // C(5,2)
    assert(out.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
  }

  test("semDedup marks near-duplicates with the lowest-id keeper") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("label", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val vecs = Seq(
      Row(0L, "x", Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      Row(1L, "x", Seq(0.999f, 0.01f, 0.0f, 0.0f)), // near-dup of 0
      Row(2L, "x", Seq(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal: kept
      Row(3L, "y", Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      Row(4L, "y", Seq(0.0f, 0.0f, 0.95f, 0.05f))) // near-dup of 3
    val df = spark.createDataFrame(spark.sparkContext.parallelize(vecs), schema)
    val out = vector.Similarity.semDedup(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 0L), (4L, 3L)))
    // every decision stays within one cluster and above the threshold
    val full = vector.Similarity.semDedup(df, threshold = 0.9).collect()
    assert(full.forall(_.getDouble(3) >= 0.9))
  }

  test("domainAssign picks the argmax centroid for every vector") {
    import org.apache.spark.sql.functions._
    val df = Tables.load(spark, TestSpark.sf, "embeddings")
    val out = vector.Similarity.domainAssign(df).collect()
    assert(out.length == df.count())
    assert(out.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    // recompute the winner for a handful of vectors from scratch
    val centroids = df
      .select(col("label"), posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .collect().groupBy(_.get(0).toString)
    val some = df.filter(col("vec_id") < 5).collect()
    some.foreach { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)
      val best = centroids.map { case (lab, rows) =>
        val c = rows.sortBy(_.getInt(1)).map(_.getDouble(2))
        val dot = v.zip(c).map { case (a, b) => a * b }.sum
        val cos = dot / (math.sqrt(v.map(x => x * x).sum) *
          math.sqrt(c.map(x => x * x).sum))
        (lab, cos)
      }.maxBy { case (lab, cos) => (cos, -lab.toLong) }
      val vid = r.getLong(r.fieldIndex("vec_id"))
      val assigned = out.find(_.getLong(0) == vid).get
      assert(assigned.get(assigned.fieldIndex("domain")).toString ==
        best._1, s"vec $vid")
    }
  }

  test("semDedup sub-blocking caps candidates without inventing dups") {
    // blockCap larger than any cluster → identity blocking (the
    // fixture/production default path); a tiny blockCap forces every
    // cluster to split. Blocking may only LOSE pair visibility, never
    // invent it: every blocked dup must also be an unblocked dup, at
    // the same-or-lower keeper id (fewer candidates ⇒ later keeper).
    val df = Tables.load(spark, TestSpark.sf, "embeddings")
    val unblocked = vector.Similarity
      .semDedup(df, threshold = 0.35, blockCap = 1 << 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val blocked = vector.Similarity
      .semDedup(df, threshold = 0.35, blockCap = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(blocked.nonEmpty, "tiny-cap run found no dups to check")
    assert(blocked.length <= unblocked.size)
    blocked.foreach { case (dup, kept) =>
      assert(unblocked.contains(dup),
        s"blocked run invented dup $dup absent from unblocked run")
      assert(unblocked(dup) <= kept,
        s"dup $dup: unblocked keeper ${unblocked(dup)} > blocked $kept")
    }
  }

  test("kmeansTrain: total inertia is non-increasing and every round " +
      "partitions the corpus") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val n = emb.count()
    val out = vector.Similarity.kmeansTrain(emb, rounds = 4).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byRound = out.groupBy(_._1)
    assert(byRound.keySet == Set(1, 2, 3, 4))
    // each round's clusters partition the corpus exactly
    byRound.values.foreach(rows => assert(rows.map(_._3).sum == n))
    // Lloyd's guarantee: E(a_r, m_r) <= E(a_{r-1}, m_{r-1}); the
    // per-cluster inertias are 6-dec rounded, so allow that quantum
    val totals = (1 to 4).map(r => byRound(r).map(_._4).sum)
    totals.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-5, s"inertia increased: $totals")
    }
    // the fixture's label seeds are not a fixpoint: round 2 must
    // actually move (strict decrease), or the trainer degenerated to
    // a no-op
    assert(totals(1) < totals(0) - 1e-4, s"no movement: $totals")
    // rounds = 0 is a degenerate but allowed call: empty report with
    // the same schema, not an exception (r16 ADVICE — the union form
    // must keep the old flatMap path's contract)
    val zero = vector.Similarity.kmeansTrain(emb, rounds = 0)
    assert(zero.columns.toSeq ==
      Seq("round", "cluster", "n_members", "inertia"))
    assert(zero.collect().isEmpty)
  }

  test("ivfTrainedRecall: recall is bounded and never drops when the " +
      "probe budget widens") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val out = vector.Similarity.ivfTrainedRecall(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val byProbe = out.groupBy(_._1)
    assert(byProbe.keySet == Set(1, 2))
    out.foreach { case (_, _, rec) => assert(rec >= 0.0 && rec <= 1.0) }
    // probing a superset of lists can only add candidates, and the
    // exact-cosine rerank keeps any true neighbor already found
    val r1 = byProbe(1).map(t => t._2 -> t._3).toMap
    byProbe(2).foreach { case (_, q, rec2) =>
      assert(rec2 >= r1(q) - 1e-12, s"recall dropped for query $q")
    }
  }

  test("pcaTopK emits an orthonormal block with in-spectrum Rayleigh " +
      "eigenvalues") {
    val out = vector.Similarity
      .pcaTopK(Tables.load(spark, TestSpark.sf, "embeddings"), k = 4)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 4 * 64)
    val cols = (1 to 4).map(c =>
      out.filter(_._1 == c).sortBy(_._2).map(_._3))
    for (i <- 0 until 4; j <- i until 4) {
      val dot = cols(i).zip(cols(j)).map { case (x, y) => x * y }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-7, s"U'U[$i][$j] = $dot")
    }
    // Rayleigh quotients of unit vectors lie within the spectrum:
    // positive (covariances of real data, PSD) and below the trace
    val lams = (1 to 4).map(c => out.find(_._1 == c).get._4)
    assert(lams.forall(_ > 0))
  }

  test("pcaTopK recovers planted principal directions in order") {
    // anisotropic synthetic corpus (components within GramMoments'
    // |x| <= 1 fixed-point bound): variance ~0.068 along e0, ~0.019
    // along e1, ~1e-5 noise elsewhere — eigengap large enough that 6
    // block rounds converge hard (the fixture's near-isotropic
    // spectrum can't separate components at any iteration count)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      val e = Array.fill(64)((rnd.nextDouble() - 0.5) * 0.01)
      e(0) = (rnd.nextDouble() - 0.5) * 0.9
      e(1) = (rnd.nextDouble() - 0.5) * 0.48
      (i.toLong, e.map(_.toFloat).toSeq)
    }
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val out = vector.Similarity.pcaTopK(df, k = 3, iters = 6).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    def comp(c: Int) = out.filter(_._1 == c).sortBy(_._2).map(_._3)
    // block column 1 aligns with e0, column 2 with e1 (to sampling
    // noise: the SAMPLE covariance's eigenvector differs from the
    // population direction by ~1/sqrt(500), so 0.99 not 0.9999)
    assert(math.abs(comp(1)(0)) > 0.99, s"u1·e0 = ${comp(1)(0)}")
    assert(math.abs(comp(2)(1)) > 0.99, s"u2·e1 = ${comp(2)(1)}")
    // eigenvalues sort themselves on a converged run
    val lams = (1 to 3).map(c => out.find(_._1 == c).get._4)
    assert(lams(0) > lams(1) && lams(1) > lams(2), lams.toString)
    // and match the planted variances' order of magnitude
    assert(lams(0) > 0.03 && lams(1) > 0.008 && lams(2) < 0.001,
      lams.toString)
  }

  test("covariance matrix is symmetric-PSD enough for PCA: power " +
      "iteration converges to a real top eigenpair") {
    val rows = vector.Similarity
      .embeddingCovariance(Tables.load(spark, TestSpark.sf, "embeddings"))
      .collect()
    val d = 64
    assert(rows.length == d * (d + 1) / 2)
    // symmetrize the collected upper triangle into a d×d matrix — the
    // driver-side model-parameter step (like k-means seeds)
    val c = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      c(i)(j) = v; c(j)(i) = v
    }
    // diagonal entries are variances — strictly positive
    (0 until d).foreach(i => assert(c(i)(i) > 0, s"var($i)=${c(i)(i)}"))
    // power iteration for the top eigenpair
    var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
    var lambda = 0.0
    for (_ <- 1 to 500) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => c(i)(j) * v(j)).sum)
      lambda = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / lambda)
    }
    assert(lambda > 0)
    // residual ||Cv − λv|| small relative to λ — convergence rate is
    // eigengap-limited on this near-isotropic synthetic corpus, so the
    // bound certifies "a real top eigenpair", not machine precision
    val cv = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
    val resid = math.sqrt(
      (0 until d).map(i => math.pow(cv(i) - lambda * v(i), 2)).sum)
    assert(resid / lambda < 1e-3, s"residual $resid vs lambda $lambda")

    // the IN-ENGINE unrolled power iteration (q_power_iter) agrees with
    // this driver-side reference: unit-norm output, eigenvalue estimate
    // bounded by the converged lambda (||Cv|| <= lambda_max for any unit
    // v, symmetric PSD C) and within striking distance of it
    val engine = vector.Similarity
      .powerIteration(Tables.load(spark, TestSpark.sf, "embeddings"))
      .collect()
    assert(engine.length == d)
    val comp = engine.sortBy(_.getInt(0)).map(_.getDouble(1))
    val engLambda = engine.head.getDouble(2)
    assert(math.abs(comp.map(x => x * x).sum - 1.0) < 1e-9)
    assert(engLambda > 0 && engLambda <= lambda * (1 + 1e-6),
      s"engine lambda $engLambda vs converged $lambda")
    assert(engLambda >= lambda * 0.5,
      s"4 rounds should reach at least half the converged lambda " +
        s"($engLambda vs $lambda)")
  }

  test("Lloyd model cache: warm-path results are bit-identical to the " +
      "uncached training, across the family and across round counts") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val key = Some(s"lloyd-spec:${TestSpark.sf}/embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // cold baselines (no cache key — always retrain)
    val kmeansCold = rows(vector.Similarity.kmeansTrain(emb, rounds = 3))
    val topkCold = rows(vector.Similarity.ivfTrainedTopK(emb, rounds = 2))
    val recallCold = rows(vector.Similarity.ivfTrainedRecall(emb, rounds = 2))
    // first keyed call populates (2 rounds), kmeans EXTENDS to 3, the
    // recall query then reuses the 2-round prefix warm
    assert(rows(vector.Similarity
      .ivfTrainedTopK(emb, rounds = 2, cacheKey = key)) == topkCold)
    assert(rows(vector.Similarity
      .kmeansTrain(emb, rounds = 3, cacheKey = key)) == kmeansCold)
    assert(rows(vector.Similarity
      .ivfTrainedRecall(emb, rounds = 2, cacheKey = key)) == recallCold)
    // fully-warm repeats stay identical
    assert(rows(vector.Similarity
      .kmeansTrain(emb, rounds = 3, cacheKey = key)) == kmeansCold)
    assert(rows(vector.Similarity
      .ivfTrainedTopK(emb, rounds = 2, cacheKey = key)) == topkCold)
  }

  test("shared kNN tail: rounded-cosine ties rank by vec_id, ranks have " +
      "no gaps, and no query lists itself (brute force, LSH, IVF)") {
    // 64 dims (the SRP planes are 64-dim). Label "a" sits near one
    // direction, label "b" near its opposite. Vectors 1 and 2 are the
    // near tie: to query 0 their cosines differ only below 1e-6, and the
    // LARGER unrounded cosine belongs to the larger vec_id 2, so a tail
    // that ranked on the unrounded cosine would list 2 before 1.
    // Vectors 3 and 4 are exact duplicates.
    val base = (0 until 64).map(i => 1f + ((i * 5) % 11) / 16f)
    def bump(i: Int, by: Float): Seq[Float] = base.updated(i, base(i) + by)
    val vecs: Seq[(Long, String, Seq[Float])] = Seq(
      (0L, "a", base),
      (1L, "a", bump(3, 0.041015625f)),
      (2L, "a", bump(7, 0.0400390625f)),
      (3L, "a", bump(10, 0.5f)),
      (4L, "a", bump(10, 0.5f)),
      (5L, "a", bump(20, 0.25f)),
      (6L, "b", base.map(-_)),
      (7L, "b", bump(30, 0.5f).map(-_)))
    val byId = vecs.map(v => v._1 -> v).toMap
    // the native cosine's sequential double fold, and Spark's round(x, 6)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (c1, c2) = (cos(base, byId(1L)._3), cos(base, byId(2L)._3))
    assert(c2 > c1 && c2 - c1 < 1e-6 && r6(c1) == r6(c2),
      s"fixture lost its near tie: $c1 vs $c2")
    val planes = vector.Similarity.srpPlanes(6)
    def bucket(v: Seq[Float]): Long = planes.zipWithIndex.map { case (p, i) =>
      if (p.indices.foldLeft(0.0)((acc, j) => acc + v(j) * p(j)) >= 0)
        1L << i else 0L
    }.sum
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("label", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.map { case (id, l, e) => Row(id, l, e) }), schema)
    val S = vector.Similarity
    // (operator, its candidates for a query: the rest of the corpus,
    // the query's SRP bucket, the query's IVF list = its own label)
    val ops: Seq[(String, Int => org.apache.spark.sql.DataFrame,
        (Long, Long) => Boolean)] = Seq(
      ("bruteForceTopK", k => S.bruteForceTopK(df, nQueries = 2, k = k),
        (_, _) => true),
      ("lshTopK", k => S.lshTopK(df, nQueries = 2, k = k),
        (q, v) => bucket(byId(q)._3) == bucket(byId(v)._3)),
      ("ivfTopK", k => S.ivfTopK(df, nQueries = 2, k = k),
        (q, v) => byId(q)._2 == byId(v)._2))
    for ((name, run, cand) <- ops; k <- Seq(3, 10)) {
      val rows = run(k).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      for (q <- Seq(0L, 1L)) {
        val mine = rows.filter(_._1 == q)
        val want = vecs.map(_._1).filter(v => v != q && cand(q, v))
          .sortBy(v => (-r6(cos(byId(q)._3, byId(v)._3)), v)).take(k)
        assert(!mine.exists(_._3 == q), s"$name k=$k: query $q lists itself")
        assert(mine.map(_._2) == (1 to want.size),
          s"$name k=$k q=$q: ranks ${mine.map(_._2)}")
        assert(mine.map(_._3) == want,
          s"$name k=$k q=$q: got ${mine.map(_._3)}, want $want")
      }
    }
  }
}
