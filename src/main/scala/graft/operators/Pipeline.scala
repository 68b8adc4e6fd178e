package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline compositions (north star): the
  * decision operators a corpus-cleaning job actually ships, built by
  * composing the dedup / text / vector modules. */
object Pipeline {

  /** Corpus dedup decision list: a document is dropped iff it is the
    * higher-id member of a near-duplicate pair (n-gram Jaccard ≥
    * threshold) or a later exact copy. Output: every doc with keep flag
    * and the id of the document it duplicates (null if kept).
    *
    * Scale: pair generation is the index-driven jaccardPairs; the final
    * anti-join is on doc_id (shuffle of ids only). Chained duplicates
    * collapse to the lowest-id keeper via min(). */
  def dedupDecisions(documents: DataFrame, threshold: Double = 0.5)
      : DataFrame = {
    val pairs = graft.dedup.Dedup.jaccardPairs(documents, threshold = threshold)
    val dropped = pairs
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_of"))
    documents
      .join(dropped, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("dup_of").isNull.as("keep"),
        col("dup_of"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate-cluster assignment: connected components over the
    * near-dup pair graph (the step after pair generation that every
    * corpus dedup actually needs — pairs chain A~B, B~C into one group;
    * the keeper is the cluster's min doc_id).
    *
    * Algorithm: iterative min-label propagation — each vertex repeatedly
    * takes the min label among itself and its neighbors until fixpoint.
    * This is the join-based form of the standard distributed CC (converges
    * in O(diameter) rounds; dedup clusters are shallow, so rounds stay
    * single-digit — the same reason large-star/small-star converges fast
    * on web corpora). Each round is one shuffle join on ids; per-round
    * results are persisted and the previous round unpersisted, so lineage
    * stays O(1) and nothing recomputes. The driver loop only reads a
    * per-round scalar (changed-count) — no data is collected.
    *
    * Oracle: DuckDB recursive CTE computing min reachable id over the
    * same pair graph. */
  def dedupClusters(documents: DataFrame, threshold: Double = 0.5,
      checkpointEvery: Int = 2, cacheKey: Option[String] = None,
      pairSlices: Int = 1): DataFrame = {
    // Session-scoped LABEL cache (r12, the ivfIndexDir/lloydSeq
    // precedent): four catalog queries (clusters, weights, splits,
    // canonical) consume the SAME labeling — without a key each re-runs
    // the pair join + fixpoint (~10 s of the bench). The labels are
    // node-grain, so unlike the Lloyd model they cache as a PERSISTED
    // PARQUET artifact via SessionDirs (disk-backed: nothing stays
    // pinned in executor memory across queries; long/boolean columns
    // round-trip bit-exactly). Keyed by caller-supplied corpus identity
    // + threshold; no key = always recompute (tests, ad-hoc frames).
    cacheKey match {
      case Some(key) =>
        val spark = documents.sparkSession
        val dir = graft.SessionDirs.getOrBuild(spark,
          s"cc:$key:t$threshold", "graft_cc_labels") { root =>
          val out = root.toString + "/labels"
          computeDedupClusters(documents, threshold, checkpointEvery,
              pairSlices, cacheKey)
            .write.mode("overwrite").parquet(out)
          out
        }
        spark.read.parquet(dir).orderBy(col("doc_id"))
      case None =>
        computeDedupClusters(documents, threshold, checkpointEvery,
          pairSlices, cacheKey)
    }
  }

  private def computeDedupClusters(documents: DataFrame, threshold: Double,
      checkpointEvery: Int, pairSlices: Int = 1,
      pairKey: Option[String] = None): DataFrame = {
    // pairSlices != 1 = the transient-disk degrade-gracefully knob for
    // corpora whose ONE-JOB pair stream outruns box disk (r14: 4096×
    // needs ~400 GB live shuffle+spill vs ~77 GB free) — the sliced
    // generator is row-identical to jaccardPairs (DedupSpec) and its
    // persisted artifacts are keyed by the same corpus identity the
    // label cache uses, so the invariant gate's probe pairs reuse the
    // same single slice sweep. 0 = auto-K from the published cost
    // model (Σ C(df,2) probe + free-disk statfs, r15 VERDICT item 3).
    val pairs = (if (pairSlices != 1)
        graft.dedup.Dedup.jaccardPairsSliced(documents,
          threshold = threshold, slices = pairSlices, cacheKey = pairKey)
      else graft.dedup.Dedup.jaccardPairs(documents, threshold = threshold))
      .select(col("doc_a"), col("doc_b"))
    // both edge directions from ONE pass over the pair stream — a
    // union with the swapped projection would re-plan (and re-execute)
    // the whole jaccardPairs subtree for each branch
    // Lineage control (r10 VERDICT item 2): a persist() dedups RUNTIME
    // cost but leaves the full jaccardPairs subtree embedded in every
    // plan that references it — the r10 PLANSTATS 74-148-exchange rows
    // were mostly this re-embedding (each round references `edges`
    // once), compounded by round unrolling when the fixpoint runs
    // deep. With `checkpointEvery` = k > 0 (default), the pair graph
    // and the seed labels pin as eager localCheckpoints (LogicalRDD
    // leaves — O(1) plan size per reference; both were already fully
    // materialized under persist by round 1's convergence count, so
    // the extra cost is storing instead of caching — measured a wash,
    // r9: 5.09 s persist vs 5.22 s checkpoint at sf0.1), and every
    // k-th ROUND localCheckpoints too, bounding label lineage at k
    // rounds for data-dependent round counts (rounds = log component
    // diameter). k=0 restores the pure-persist form (full lineage =
    // free recompute-on-executor-loss; with k > 0 the recompute window
    // is at most k rounds).
    val ckptOn = checkpointEvery > 0
    def pin(df: DataFrame): DataFrame =
      if (ckptOn) df.localCheckpoint(true) else df.persist()
    val edges = pin(pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    // Initialization folds propagation round 1 into the vertex-dedup
    // shuffle: label₀(v) = min(v, min neighbor) — one less loop round.
    var persisted = pin(edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("id"), col("label")))
    var cur = persisted
    var iter = 0
    var converged = false
    while (!converged && iter < 25) {
      val nbrMin = edges
        .join(cur, edges("dst") === cur("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
        .select(col("src").as("id"), col("nbr_min"))
      val nextRaw = cur.as("l")
        .join(nbrMin.as("n"), Seq("id"), "left_outer")
        .select(col("id"),
          least(col("l.label"), coalesce(col("n.nbr_min"), col("l.label")))
            .as("label"),
          col("l.label").as("prev"))
      val ckptRound = checkpointEvery > 0 &&
        (iter + 1) % checkpointEvery == 0
      val next = if (ckptRound) nextRaw.localCheckpoint(true)
        else nextRaw.persist()
      val changed = next.filter(col("label") =!= col("prev")).count()
      // release the previous round's cache if it was a persist()
      // (unpersist on a checkpointed frame is a harmless no-op: the
      // LogicalRDD's blocks are reclaimed by the ContextCleaner as the
      // loop drops their references)
      if (persisted ne null) persisted.unpersist()
      persisted = if (ckptRound) null else next
      cur = next.select(col("id"), col("label"))
      converged = changed == 0
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] iter=$iter changed=$changed")
    }
    edges.unpersist()
    cur.select(
        col("id").as("doc_id"),
        col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Duplication-aware sampling weights — the SOFT alternative to
    * dropping duplicates (the D4 / SoftDeDup idea): each document
    * weighs 1/|its near-dup cluster|, so a family of n copies
    * contributes one document's worth of training mass in expectation
    * instead of n (or instead of 0 for all-but-one, which throws away
    * the family's internal variation). Singletons weigh 1.0.
    *
    * Composition: [[dedupClusters]] (the CC fixpoint over the near-dup
    * pair graph) + one cluster-grain count + a left join back to the
    * corpus — the weight column is one IEEE division of a small
    * integer, identical in both engines. Scale: the cluster label set
    * is minority-sized (only edge-connected docs), the corpus join is
    * the same one leakageSafeSplits does. */
  def dedupWeights(documents: DataFrame, threshold: Double = 0.5,
      cacheKey: Option[String] = None): DataFrame = {
    val clusters = dedupClusters(documents, threshold, cacheKey = cacheKey)
      .select(col("doc_id"), col("cluster_id"))
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    documents.select(col("doc_id"))
      .join(clusters.join(sizes, Seq("cluster_id")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight",
        round(lit(1.0) / col("cluster_size").cast("double"), 9))
      .orderBy(col("doc_id"))
  }

  /** Token-budget data selection — "give me the best `budget` tokens":
    * documents ranked by an integer diversity score (distinct-token
    * ratio scaled to ppm — rational, engine-identical), selected while
    * the running token total stays within budget. Token counts are
    * nonnegative, so prefix sums are monotone and `cum ≤ budget` IS the
    * greedy while-loop semantics.
    *
    * Scale (the no-global-window idiom, same family as strictRank's
    * bucket machinery): per-doc cumulative sums run in a window
    * PARTITIONED by score bucket (≤1001 buckets), offset by each
    * bucket's broadcast running total — the only global pass is over
    * the bucket grain. A score-skewed corpus concentrates one bucket;
    * the bucket width is the knob (ppm/1000 here). */
  def budgetSelect(documents: DataFrame, budget: Long = 10000L)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), " ")
    val perDoc = documents.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .withColumn("iscore",
        expr("n_distinct * 1000000 div n_tokens"))
      .withColumn("bucket", expr("iscore div 1000"))
    // Unpartitioned window (one task): ≤ 1001 score-bucket rows.
    val wb = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bcum = perDoc.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("btok"))
      .withColumn("cum_before", coalesce(sum(col("btok")).over(wb), lit(0L)))
      .select(col("bucket"), col("cum_before"))
    val wInB = Window.partitionBy(col("bucket"))
      .orderBy(col("iscore").desc, col("doc_id"))
    perDoc.join(broadcast(bcum), Seq("bucket"))
      .withColumn("cum_tokens",
        col("cum_before") + sum(col("n_tokens")).over(wInB))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("iscore"), col("n_tokens"),
        col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[budgetSelect]] — the same greedy as ONE global
    * window (the oracle may globally sort; the engine may not). */
  def budgetSelectOracleSql(budget: Long = 10000L): String =
    s"""WITH q AS (
         SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             AS n_distinct
         FROM documents),
       s AS (
         SELECT doc_id, n_tokens,
           (n_distinct * 1000000) // n_tokens AS iscore
         FROM q),
       c AS (
         SELECT doc_id, iscore, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY iscore DESC, doc_id)
             AS BIGINT) AS cum_tokens
         FROM s)
       SELECT doc_id, iscore, n_tokens, cum_tokens
       FROM c WHERE cum_tokens <= $budget ORDER BY doc_id"""

  /** Leakage-safe train/val/test assignment: near-duplicate documents
    * MUST land in the same split, or evaluation leaks training data
    * through paraphrase-level copies the doc-id hash split can't see.
    * The split gate therefore hashes the CLUSTER id from
    * [[dedupClusters]] (singletons keep their own id), with the same
    * md5-bucket scheme as `splitAssignments` — so two docs that are
    * near-dups of each other can never straddle train and test.
    *
    * Scale: one left join of the corpus against the (minority-sized)
    * cluster labels, then a stateless per-row hash gate. */
  def leakageSafeSplits(documents: DataFrame, threshold: Double = 0.5,
      cacheKey: Option[String] = None): DataFrame = {
    val labels = dedupClusters(documents, threshold, cacheKey = cacheKey)
      .select(col("doc_id"), col("cluster_id"))
    val bucket = substring(md5(col("cluster_id").cast("string")), 1, 1)
    documents.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(bucket.isin("0", "1", "2", "3", "4", "5", "6", "7",
          "8", "9", "a", "b"), "train")
          .when(bucket.isin("c", "d"), "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination scan: which documents contain any of the
    * probe strings (e.g. eval-set n-grams), counted per source. The probe
    * list is tiny and becomes a literal array — at scale it would be a
    * broadcast join against an Aho-Corasick-style matcher; `contains` on
    * a handful of probes keeps it codegen'd. */
  def contaminationScan(documents: DataFrame,
      probes: Seq[String] = Seq("spark table scan", "window batch stream"))
      : DataFrame = {
    val hit = probes.map(p => col("text").contains(p).cast("int"))
      .reduce(_ + _) > 0
    documents
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(hit.cast("long")).as("n_contaminated"))
      .orderBy(col("source"))
  }

  /** Benchmark decontamination by FRACTIONAL n-gram overlap (the
    * GPT-3/PaLM appendix convention, scaled to the fixture's short
    * docs: 5-grams instead of 13-grams): a training candidate is
    * contaminated when ≥ `threshold` of its distinct n-grams appear
    * anywhere in the benchmark corpus (here: the `benchSource` docs
    * stand in for the eval set). [[contaminationScan]] is the cheap
    * substring-probe dashboard; this is the per-document decision an
    * actual decontamination pass acts on — fraction, not any-hit, so
    * incidental common phrases don't nuke whole sources.
    *
    * Scale: one distinct-gram explode per side, the benchmark gram set
    * collapses to distinct grams (eval-corpus-sized, shuffles as
    * grams, broadcastable when small), the overlap join is gram-grain
    * equi — never doc×doc. */
  def decontamination(documents: DataFrame, benchSource: String = "src4",
      n: Int = 5, threshold: Double = 0.2): DataFrame = {
    import graft.dedup.Dedup.shingles
    val grams = documents.select(col("doc_id"), col("source"),
      explode(shingles(col("text"), n)).as("g"))
    val benchGrams = grams.filter(col("source") === benchSource)
      .select(col("g")).distinct().withColumn("hit", lit(1L))
    grams.filter(col("source") =!= benchSource)
      .join(benchGrams, Seq("g"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("overlap",
        round(col("n_hit").cast("double") / col("n_grams").cast("double"), 6))
      .withColumn("contaminated", col("overlap") >= threshold)
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[decontamination]]. */
  def decontaminationOracleSql(benchSource: String = "src4", n: Int = 5,
      threshold: Double = 0.2): String =
    s"""WITH ${graft.dedup.Dedup.shinglesSql(n, "doc_id, source")},
       bench AS (
         SELECT DISTINCT shingle FROM sh WHERE source = '$benchSource'),
       cand AS (
         SELECT doc_id, sh.shingle, bench.shingle IS NOT NULL AS hit
         FROM sh LEFT JOIN bench ON sh.shingle = bench.shingle
         WHERE source <> '$benchSource')
       SELECT doc_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE), 6) AS overlap,
         round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE), 6) >= $threshold AS contaminated
       FROM cand GROUP BY doc_id ORDER BY doc_id"""

  /** Deterministic train/val/test split assignment: bucket each document
    * by the first hex digit of md5(doc_id) — stable across runs, engines,
    * and cluster sizes (the property random sampling lacks), so the split
    * never leaks when the pipeline is re-run. 12/16 train, 2/16 val,
    * 2/16 test. */
  def splitAssignments(documents: DataFrame): DataFrame = {
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 1)
    documents
      .withColumn("split",
        when(bucket.isin("0", "1", "2", "3", "4", "5", "6", "7", "8",
          "9", "a", "b"), "train")
          .when(bucket.isin("c", "d"), "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("split"))
  }

  /** Greedy sequence packing: assign documents (in deterministic doc_id
    * order, within their language shard) to training bins of
    * ~`targetTokens`, bin = floor(running-token-count-before / target).
    * The window is PARTITIONED by lang — packing is per shard, which is
    * how it runs at scale (one packer per output shard; a global pack
    * order would serialize). Pure integer window arithmetic →
    * oracle-exact. */
  def packGreedy(documents: DataFrame, targetTokens: Int = 2000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.text.TextAnalysis.tokens
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents
      .select(col("lang"), col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"))
      .withColumn("before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        expr(s"before div $targetTokens").as("bin_id")) // exact integer div
      .orderBy(col("lang"), col("doc_id"))
  }

  /** [[packGreedy]] with SUBWORD-token budgets: bin capacity measured in
    * BPE tokens (functions/BpeExpressions.scala) instead of whitespace
    * words — the unit a training pipeline actually packs to. Counts are
    * computed once per DISTINCT alphabetic word (vocab-sized) and joined
    * back; non-`[a-z]+` words cost 1 token each (the unknown-token
    * convention), so every word is accounted. Same per-shard window
    * packing as the word-budget form. */
  def packGreedyBpe(documents: DataFrame, targetTokens: Int = 2000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.text.TextAnalysis.tokens
    val words = documents
      .select(col("lang"), col("doc_id"),
        explode(tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = words.filter(col("word").rlike("^[a-z]+$"))
      .select(col("word")).distinct()
      .select(col("word"),
        size(graft.functions.Bpe.bpeTokens(col("word"))).cast("long")
          .as("n_toks"))
    val perDoc = words.join(vocab, Seq("word"), "left")
      .groupBy(col("lang"), col("doc_id"))
      .agg(sum(coalesce(col("n_toks"), lit(1L))).as("n_tokens"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perDoc
      .withColumn("before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        expr(s"before div $targetTokens").as("bin_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** DuckDB oracle for [[packGreedyBpe]]: BPE counts via the shared
    * merge-replay CTEs, unknown words cost 1, identical window packing. */
  def packGreedyBpeOracleSql(targetTokens: Int = 2000): String =
    s"""WITH w AS (
          SELECT lang, doc_id, word FROM (
            SELECT lang, doc_id,
              unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
          WHERE length(word) > 0),
        aw AS (SELECT word FROM w
               WHERE regexp_matches(word, '^[a-z]+${"$"}')),
        ${graft.functions.Bpe.countsCteSql("aw")},
        perdoc AS (
          SELECT lang, doc_id,
            CAST(sum(COALESCE(c.n_toks, 1)) AS BIGINT) AS n_tokens
          FROM w LEFT JOIN _bpe_counts c ON w.word = c.wid
          GROUP BY lang, doc_id),
        packed AS (
          SELECT lang, doc_id, n_tokens,
            CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS before
          FROM perdoc)
        SELECT lang, doc_id, n_tokens,
          before // $targetTokens AS bin_id
        FROM packed ORDER BY lang, doc_id"""

  /** Deterministic stratified sampling: per-language keep rates applied
    * via an engine-neutral hash gate — keep a document iff
    * (md5-prefix-hash of doc_id) mod 1000 < rate(lang). The standard
    * corpus-balancing op (downsample over-represented languages), with
    * the property `rand()` lacks: the sample is identical across runs,
    * partitionings, and engines, so it is fully oracle-checked.
    * Narrow per-row predicate, codegen'd, no shuffle before the final
    * ordering. */
  def stratifiedSample(documents: DataFrame): DataFrame = {
    val hash = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long") % 1000
    val rate = when(col("lang") === "en", 500)
      .when(col("lang") === "es", 400)
      .when(col("lang") === "fr", 300)
      .when(col("lang") === "de", 200)
      .otherwise(100)
    documents
      .filter(hash < rate)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-based language rebalancing (the mC4/XLM-R multilingual
    * mixing op): resample so language l's share follows
    * p_l^tau / Σ p^tau — tau < 1 flattens the distribution, upweighting
    * low-resource languages. Targets are DATA-DRIVEN (computed from the
    * corpus itself, broadcast back), and the resample is EXACT and
    * deterministic: docs rank per language by md5(doc_id); every doc gets
    * `target div n` copies and the first `target mod n` ranked docs one
    * extra — downsampling (target < n: first `target` docs once) and
    * upsampling (integer replication via explode) in one rule, Σ copies =
    * target exactly. All arithmetic (sqrt, decimal sums, floor, integer
    * div/mod) replays identically in DuckDB → fully oracled.
    *
    * Scale: two tiny broadcast aggregates + one per-language window rank
    * over the corpus + a narrow explode — one shuffle on lang (or none,
    * if the corpus is already lang-partitioned, which a multilingual
    * store would be). */
  def temperatureResample(documents: DataFrame, tau: Double = 0.5)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val tot = counts.agg(
      sum(col("n_lang")).as("n"),
      graft.Cols.decSum(pow(col("n_lang"), tau), 12).as("s"))
    val targets = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_lang"),
        floor(col("n") * pow(col("n_lang"), tau) / col("s")).cast("long")
          .as("target"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents.select(col("doc_id"), col("lang"))
      .join(broadcast(targets), Seq("lang"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_copies", expr("target div n_lang") +
        when(col("rk") <= col("target") % col("n_lang"), 1L).otherwise(0L))
      .filter(col("n_copies") > 0) // sequence(0, -1) would step backwards
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), col("n_copies").cast("int") - 1)).as("copy"))
      .orderBy(col("doc_id"), col("copy"))
  }

  /** Per-language deterministic corpus sample via the custom
    * TypedImperativeAggregate (BottomKByHash): same k ids regardless of
    * partitioning, run, or engine — differential-tested against DuckDB's
    * ordered array_agg. The id list is serialized to a CSV string so the
    * comparison harness (pandas sort+hash) can treat it as a scalar. */
  def corpusSample(documents: DataFrame, k: Int = 5): DataFrame =
    documents
      .groupBy(col("lang"))
      .agg(array_join(
        graft.functions.SampleAggregates
          .bottomKByHash(col("doc_id"), k).cast("array<string>"), ",")
        .as("sample_ids"))
      .orderBy(col("lang"))

  /** HYBRID retrieval with reciprocal-rank fusion — the standard RAG
    * retrieval shape: a lexical ranker (BM25 over the corpus's top
    * terms) and a dense ranker (cosine against a query embedding,
    * vec_id 0) each produce a top-20 list; RRF fuses them with
    * score = Σ 1/(60 + rank). Rank fusion sidesteps score-scale
    * calibration entirely AND keeps the oracle exact: ranks are
    * integers with total-order tie-breaks, so the fused score is two
    * IEEE divisions and one add per doc. The embedding table shares the
    * document id space (fixture contract). Scale shape: both rankers
    * are the existing distributed top-k patterns (no global window);
    * fusion joins two ≤20-row relations. */
  def hybridSearch(documents: DataFrame, embeddings: DataFrame,
      topK: Int = 10): DataFrame = {
    import graft.vector.Similarity
    val bm = graft.text.TextAnalysis.bm25Rank(documents)
      .select(col("doc_id"), col("rk").as("rk_bm25"))
    val q = embeddings.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qe"))
    // the query vector shares the doc_id space (vec_id 0 IS doc 0), so
    // exclude it from the candidate set — otherwise the query
    // self-matches at cos=1.0 and permanently occupies dense rank 1
    // (the same exclusion ivfDiskTopK applies)
    val cosr = embeddings.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(Similarity.cosine(
          col("embedding").cast("array<double>"), col("qe")), 6).as("cos"))
    val vrk = graft.Cols.rankTopK(cosr, "cos", "doc_id", 20, "rk_vec")
      .select(col("doc_id"), col("rk_vec"))
    bm.join(vrk, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rk_bm25"), col("rk_vec"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("rk_bm25")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rk_vec")), lit(0.0)), 9)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topK)
  }

  /** DuckDB oracle tail for [[hybridSearch]] — appended to the shared
    * BM25 CTE chain by SparkEntry. */
  def hybridSearchOracleTail(topK: Int = 10): String =
    s"""bm AS (SELECT doc_id, rk AS rk_bm25 FROM r WHERE rk <= 20),
        qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
        cosr AS (SELECT vec_id AS doc_id,
            round(${graft.Cols.sqlCosine("qe", "e")}, 6) AS cos
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings WHERE vec_id <> 0), qv),
        vr AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
              AS INTEGER) AS rk_vec
          FROM cosr),
        vtop AS (SELECT * FROM vr WHERE rk_vec <= 20),
        fused AS (
          SELECT coalesce(bm.doc_id, vtop.doc_id) AS doc_id,
            rk_bm25, rk_vec,
            round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rk_bm25), 0.0) +
              coalesce(CAST(1.0 AS DOUBLE) / (60 + rk_vec), 0.0), 9)
              AS rrf
          FROM bm FULL JOIN vtop ON bm.doc_id = vtop.doc_id)
        SELECT doc_id, rk_bm25, rk_vec, rrf
        FROM fused ORDER BY rrf DESC, doc_id LIMIT $topK"""

  /** Deterministic hash-based negative sampling — the contrastive-
    * training primitive (word2vec/SimCLR/InfoNCE all need "k random
    * non-matches per anchor"): for each document, k pseudo-random
    * partner ids from a multiplicative hash of (doc_id, j), remapped
    * off self-collisions, then joined back for the partners' metadata.
    *
    * Determinism over randomness on purpose: reproducible epochs,
    * resumable jobs, and an exactly-replayable DuckDB oracle. The hash
    * splits doc_id into its low/high 31-bit halves and mixes each with
    * an independent odd multiplier, pre-reducing every product mod 2^32
    * so int64 never overflows (ANSI mode would error on wrap, not
    * corrupt). Aliasing: for doc_id < 2^31 (corpora to 2 billion docs)
    * the map is INJECTIVE — an odd multiplier is a unit mod 2^32, so
    * lo·C1 is distinct for distinct lo; beyond that, two ids share a
    * sequence only when Δlo·C1 ≡ −Δhi·C2 (mod 2^32), an exact modular
    * coincidence at ~2^-32 per pair — unlike the former % 1000003
    * pre-fold, which made every id and id+1000003 collide
    * SYSTEMATICALLY. Scale shape: 1-row corpus count
    * broadcast, bounded k-fold explode, one shuffle join on the sampled
    * id — no cross join anywhere. Assumes the contiguous [0, n) doc_id
    * index the fixture provides; a sparse-id corpus would first build
    * that index with `zipWithIndex`-style windowing or keep a dense
    * surrogate key, which changes the prologue, not the shape. */
  def negativeSamples(documents: DataFrame, k: Int = 4): DataFrame = {
    // sequence(1, 0) would auto-generate DESCENDING [1, 0] — a k < 1
    // call must fail loudly, not emit j = 0 samples the oracle lacks
    require(k >= 1, s"k must be >= 1, got $k")
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val cand = documents.select(col("doc_id"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_docs"),
        explode(sequence(lit(1L), lit(k.toLong))).as("j"))
      .withColumn("raw_neg",
        ((((col("doc_id") % lit(2147483648L)) * lit(2654435761L)) %
            lit(4294967296L) +
          ((shiftright(col("doc_id"), 31) % lit(2147483648L)) *
            lit(2246822519L)) % lit(4294967296L) +
          col("j") * lit(40503L)) % lit(4294967296L)) % col("n_docs"))
      .withColumn("neg_id",
        when(col("raw_neg") === col("doc_id"),
          (col("raw_neg") + 1) % col("n_docs"))
          .otherwise(col("raw_neg")))
    cand
      .join(documents.select(col("doc_id").as("neg_id"),
        col("lang").as("neg_lang"), col("source").as("neg_source")),
        Seq("neg_id"))
      .select(col("doc_id"), col("j"), col("neg_id"),
        col("neg_lang"), col("neg_source"))
      .orderBy(col("doc_id"), col("j"))
  }

  /** DuckDB oracle for [[negativeSamples]] — identical integer
    * arithmetic end to end. */
  def negativeSamplesOracleSql(k: Int = 4): String =
    s"""WITH n AS (SELECT count(*) AS n_docs FROM documents),
        c AS (SELECT doc_id, n_docs, unnest(range(1, $k + 1)) AS j
              FROM documents, n),
        h AS (SELECT doc_id, j, n_docs,
                ((((doc_id % 2147483648) * 2654435761) % 4294967296 +
                  (((doc_id >> 31) % 2147483648) * 2246822519)
                    % 4294967296 +
                  j * 40503)
                  % 4294967296) % n_docs AS raw_neg
              FROM c),
        s AS (SELECT doc_id, j,
                CASE WHEN raw_neg = doc_id THEN (raw_neg + 1) % n_docs
                     ELSE raw_neg END AS neg_id
              FROM h)
        SELECT s.doc_id, j, neg_id, d.lang AS neg_lang,
          d.source AS neg_source
        FROM s JOIN documents d ON s.neg_id = d.doc_id
        ORDER BY s.doc_id, j"""

  /** Per-vector int8 quantization (min/max affine, the standard embedding
    * compression step): emits the scale parameters and the quantized
    * vector. Pure per-row arithmetic — narrow, codegen'd, no shuffle. The
    * quantized array is serialized to a CSV string so the comparison
    * harness (pandas sort+hash) can treat it as a scalar; q8_sum stays as
    * an independent integer checksum. */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val lo = array_min(v)
    val hi = array_max(v)
    // Zero-range (constant) vectors quantize to all-zero codes (they
    // reconstruct exactly via min_val); the unguarded affine form would
    // divide by 0 → NaN → null codes. Mirrored in the DuckDB oracle.
    val q = when(array_max(v) === array_min(v),
        transform(v, _ => lit(0)))
      .otherwise(transform(v, x =>
        round((x - array_min(v)) / (array_max(v) - array_min(v)) * 255)
          .cast("int")))
    embeddings
      .filter(col("vec_id") < 100)
      .select(
        col("vec_id"),
        lo.as("min_val"),
        hi.as("max_val"),
        array_join(q.cast("array<string>"), ",").as("q8"),
        aggregate(q, lit(0L), (acc, x) => acc + x).as("q8_sum"))
      .orderBy(col("vec_id"))
  }

  /** Snapshot reconciliation (table diff): classify every key across two
    * snapshots as added / removed / changed / unchanged — the
    * anti-entropy step behind replica audits, CDC validation, and
    * backfill sign-off. One full-outer join on the key (each side
    * shuffles once); values compare as a struct so the operator takes
    * any column list. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame = {
    val o = oldSnap.select(col(key),
      struct(compareCols.map(col): _*).as("o_v"))
    val n = newSnap.select(col(key),
      struct(compareCols.map(col): _*).as("n_v"))
    o.join(n, Seq(key), "full_outer")
      .withColumn("status",
        when(col("o_v").isNull, "added")
          .when(col("n_v").isNull, "removed")
          .when(col("o_v") === col("n_v"), "unchanged")
          .otherwise("changed"))
      .select(col(key), col("status"))
  }

  /** [[snapshotDiff]] driven by two deterministic snapshots derived from
    * the events fixture via modulo gates (so every status appears at
    * every SF): old omits id%20==19, new omits id%20==0 and bumps every
    * value at id%10==5 — aggregated to per-status counts + key bounds. */
  def tableDiffSummary(events: DataFrame): DataFrame = {
    val base = events.select(col("event_id"), col("event_type"), col("value"))
    val oldSnap = base.filter(col("event_id") % 20 =!= 19)
    val newSnap = base.filter(col("event_id") % 20 =!= 0)
      .withColumn("value",
        when(col("event_id") % 10 === 5, col("value") + 1.0)
          .otherwise(col("value")))
    snapshotDiff(oldSnap, newSnap, "event_id",
      Seq("event_type", "value"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("status"))
  }

  /** Per-source document quota (domain capping — C4/RefinedWeb-style
    * "no domain may dominate the corpus"): keep at most `cap` documents
    * per source, chosen by md5 rank so the survivors are an unbiased,
    * run-stable sample (doc_id order would bias toward old documents).
    * One window shuffle keyed by source; at 100 TB a skew-heavy source
    * distribution would pre-filter with an approximate per-source count
    * and only window the sources over quota — same semantics. */
  def sourceQuota(documents: DataFrame, cap: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents
      .select(col("source"), col("doc_id"),
        row_number().over(w).cast("long").as("rk"))
      .filter(col("rk") <= cap)
      .orderBy(col("source"), col("rk"))
  }

  /** Quality-threshold sweep: how much of the corpus survives each
    * type-token-ratio cutoff — the curve a data engineer reads before
    * picking a filter threshold. Computed as a ≤11-row bin summary +
    * top-down cumulative window, NOT a thresholds×corpus cross join:
    * one aggregation pass over the corpus regardless of how many
    * thresholds are swept. */
  def qualitySweep(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.text.TextAnalysis.tokens
    val toks = tokens(col("text"))
    val nTokens = size(toks).cast("long")
    val ttr = size(array_distinct(toks)).cast("double") /
      nTokens.cast("double")
    val binned = documents
      .select(floor(ttr * 10).cast("long").as("bin"),
        nTokens.as("n_tokens"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("toks"))
    // Unpartitioned window (one task): ≤ 11 rows, one per floor(ttr·10)
    // bin with ttr in (0, 1].
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .select(
        (col("bin").cast("double") / 10.0).as("min_ttr"),
        sum(col("n_docs")).over(w).as("docs_retained"),
        sum(col("toks")).over(w).as("tokens_retained"))
      .orderBy(col("min_ttr"))
  }

  /** Dedup survivor selection — the step that turns cluster labels into
    * the corpus you actually keep: one representative per near-duplicate
    * cluster (largest document, ties to the lowest id) plus every
    * unclustered document untouched. Output is the post-dedup corpus
    * manifest: survivor id, its cluster, how many documents that
    * survivor stands for, and its size.
    *
    * Scale: representative choice is a per-cluster window (shuffles only
    * the clustered minority, one row per clustered doc); singletons
    * arrive via a left-anti join on doc_id — no full-corpus sort, no
    * driver collect. */
  def clusterCanonical(documents: DataFrame, threshold: Double = 0.5,
      cacheKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = dedupClusters(documents, threshold, cacheKey = cacheKey)
      .select(col("doc_id"), col("cluster_id"))
    val docs = documents.select(col("doc_id"), col("n_chars"))
    val byQuality = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val reps = labels.join(docs, Seq("doc_id"))
      .withColumn("rn", row_number().over(byQuality))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("n_chars"))
    val singles = docs.join(labels, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(1L).as("cluster_size"), col("n_chars"))
    reps.unionByName(singles).orderBy(col("doc_id"))
  }

  /** The full pre-training data pipeline as ONE composed plan — the
    * engine's capstone use-case: quality gate (length + token count)
    * → language allowlist → exact dedup (keep the lowest doc_id per
    * text digest) → deterministic 50% sample (md5 gate). Filters fold
    * into the scan, the dedup is one digest-grain aggregate + semi
    * join, the sample is a stateless hash predicate — no step
    * materializes, so Catalyst optimizes the whole chain as a single
    * query. */
  def pretrainPipeline(documents: DataFrame,
      langs: Seq[String] = Seq("en", "de")): DataFrame = {
    val gated = documents
      .filter(col("n_chars") >= 50 &&
        size(split(col("text"), " ")) >= 10 &&
        col("lang").isin(langs: _*))
    val keep = gated
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    gated
      .join(keep, Seq("doc_id"), "left_semi")
      .filter(substring(
        md5(concat(lit("sample:"), col("doc_id").cast("string"))),
        1, 1) < "8")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"),
        size(split(col("text"), " ")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[pretrainPipeline]]. */
  def pretrainPipelineOracleSql(
      langs: Seq[String] = Seq("en", "de")): String = {
    val langList = langs.map(l => s"'$l'").mkString(", ")
    s"""WITH gated AS (
         SELECT doc_id, lang, source, n_chars, text,
           len(string_split(text, ' ')) AS n_tokens
         FROM documents
         WHERE n_chars >= 50 AND len(string_split(text, ' ')) >= 10
           AND lang IN ($langList)),
       keep AS (
         SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text))
       SELECT doc_id, lang, source, n_chars,
         CAST(n_tokens AS INTEGER) AS n_tokens
       FROM gated
       WHERE doc_id IN (SELECT doc_id FROM keep)
         AND substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1)
           < '8'
       ORDER BY doc_id"""
  }

  /** Data-selection importance scoring (DSIR-style, Xie et al. 2023,
    * arXiv:2302.03169, adapted): rank raw-pool documents by how
    * target-like their token distribution is. DSIR sums per-token
    * log-likelihood ratios of two smoothed unigram models; engine-exact
    * replay forbids libm `log`, so the score here is the SIGN-of-log-
    * ratio vote — the fraction of a doc's token occurrences whose
    * Laplace-smoothed target probability exceeds the source
    * probability. The per-token vote `(c_t+1)(N_s+V) > (c_s+1)(N_t+V)`
    * cross-multiplies as DECIMAL(38,0) (exact up to ~10^19 tokens per
    * side — any real corpus), so scores and selection flags replay
    * bit-identically in DuckDB.
    *
    * Scale: one token-grain explode + vocab-grain count (map-side
    * combinable), corpus totals as ONE broadcast scalar row, the
    * per-word lean table joined back at token grain (vocab-sized
    * build side — AQE broadcasts it when it fits), one doc-grain
    * aggregate. No driver-side model, no log, no all-pairs. */
  def importanceScore(documents: DataFrame,
      targetSource: String = "src0"): DataFrame = {
    import graft.text.TextAnalysis.tokens
    val toks = documents
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("w"))
    val isTgt = col("source") === targetSource
    val counts = toks.groupBy(col("w")).agg(
      sum(when(isTgt, 1L).otherwise(0L)).as("ct"),
      sum(when(isTgt, 0L).otherwise(1L)).as("cs"))
    val tot = counts.agg(sum(col("ct")).as("nt"), sum(col("cs")).as("ns"),
      count(lit(1)).as("v"))
    def d38(c: Column): Column = c.cast("decimal(19,0)")
    val lean = counts.crossJoin(broadcast(tot))
      .select(col("w"),
        (d38(col("ct") + 1) * d38(col("ns") + col("v")) >
          d38(col("cs") + 1) * d38(col("nt") + col("v"))).as("tgt_lean"))
    toks
      .join(lean, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tgt_lean"), 1L).otherwise(0L)).as("n_target_leaning"))
      .withColumn("affinity",
        round(col("n_target_leaning").cast("double") /
          col("n_tokens").cast("double"), 6))
      .withColumn("selected", col("affinity") >= 0.5)
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[importanceScore]] — HUGEINT cross-products
    * mirror the DECIMAL(38,0) exact comparison. */
  def importanceScoreOracleSql(targetSource: String = "src0"): String =
    s"""WITH toks AS (
         SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
         FROM documents),
       counts AS (
         SELECT w,
           sum(CASE WHEN source = '$targetSource' THEN 1 ELSE 0 END) AS ct,
           sum(CASE WHEN source = '$targetSource' THEN 0 ELSE 1 END) AS cs
         FROM toks GROUP BY w),
       tot AS (
         SELECT sum(ct) AS nt, sum(cs) AS ns, count(*) AS v FROM counts),
       lean AS (
         SELECT w,
           CAST(ct + 1 AS HUGEINT) * CAST(ns + v AS HUGEINT) >
             CAST(cs + 1 AS HUGEINT) * CAST(nt + v AS HUGEINT) AS tgt_lean
         FROM counts, tot)
       SELECT doc_id,
         count(*) AS n_tokens,
         CAST(sum(CASE WHEN tgt_lean THEN 1 ELSE 0 END) AS BIGINT)
           AS n_target_leaning,
         round(CAST(sum(CASE WHEN tgt_lean THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE), 6) AS affinity,
         round(CAST(sum(CASE WHEN tgt_lean THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE), 6) >= 0.5 AS selected
       FROM toks JOIN lean USING (w)
       GROUP BY doc_id ORDER BY doc_id"""

  /** Per-source exact-duplicate dashboard: docs, distinct texts (by
    * md5 digest — the 16-byte key shuffles, not the text), dup count
    * and rate per source. The first number a dedup pipeline reports. */
  def dedupRateBySource(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"))
      .withColumn("n_dups", col("n_docs") - col("n_distinct"))
      .withColumn("dup_rate",
        col("n_dups").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))

  /** DuckDB oracle for [[dedupRateBySource]]. */
  def dedupRateBySourceOracleSql(): String =
    """SELECT source, count(*) AS n_docs,
         count(DISTINCT md5(text)) AS n_distinct,
         count(*) - count(DISTINCT md5(text)) AS n_dups,
         CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS dup_rate
       FROM documents GROUP BY source ORDER BY source"""

  /** Deterministic global corpus shuffle — the training-order
    * randomization step every epoch pipeline needs: shard = first hex
    * digit of a salted md5 (16-way), position = row_number within the
    * shard ordered by the full hash. Reproducible across runs and
    * engines with NO global sort: each shard's window evaluates in
    * parallel, and a reader streaming shards in (shard, pos) order
    * sees one fixed pseudo-random permutation. Changing the salt
    * reshuffles every epoch. */
  def deterministicShuffle(documents: DataFrame,
      salt: String = "shuffle:"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(lit(salt), col("doc_id").cast("string")))
    documents
      .select(col("doc_id"), key.as("skey"))
      .withColumn("shard", substring(col("skey"), 1, 1))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("skey"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** DuckDB oracle for [[deterministicShuffle]]. */
  def deterministicShuffleOracleSql(salt: String = "shuffle:"): String = {
    val key = s"md5('$salt' || CAST(doc_id AS VARCHAR))"
    s"""SELECT doc_id, shard, pos FROM (
         SELECT doc_id, substr($key, 1, 1) AS shard,
           CAST(row_number() OVER (PARTITION BY substr($key, 1, 1)
             ORDER BY $key, doc_id) AS BIGINT) AS pos
         FROM documents)
       ORDER BY shard, pos"""
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    * Inf. Proc. Letters 2006): each document draws a deterministic
    * uniform u ∈ (0,1] from md5(doc_id) and competes with key
    * u^(1/w) — the top-k keys per source are EXACTLY a without-
    * replacement sample weighted by w (here w = n_chars, the
    * take-longer-documents-more-often sampling a token-budgeted corpus
    * build uses). Compared as ln(u)/w (monotone in the key, no
    * overflow at w → ∞), descending.
    *
    * The selection runs through the [[graft.plans.TopKPerGroup]]
    * custom exec: per-partition bounded heaps then one k-row-per-group
    * merge — NO corpus-wide sort and no unpartitioned window, so the
    * 100 TB shape is a map-side top-k over however many partitions the
    * corpus has. Output is ids + integer weights only (the float key
    * stays internal — engine-exact output columns). */
  def weightedSample(documents: DataFrame, kPer: Int = 10): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long") + 1L) / lit(4294967296.0)
    // es_key rounded to 6dp: ln() is libm (java.lang.Math.log vs
    // DuckDB's C std::log) — a 1-ulp divergence on an UNROUNDED key
    // could flip a rank-k boundary row across engines. 6dp absorbs ulp
    // noise (flip needs the true value within ~4e-15 of a .5e-6
    // boundary — the fuzzyJoinJaroWinkler recipe) and rounding TIES
    // are broken deterministically by the doc_id sort key both sides.
    val keyed = documents.select(col("source"), col("doc_id"),
      col("n_chars"),
      round(log(u) / col("n_chars").cast("double"), 6).as("es_key"))
    graft.plans.TopKPerGroup.topKPerGroup(keyed, Seq("source"),
        Seq(("es_key", true), ("doc_id", false)), kPer)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** DuckDB oracle for [[weightedSample]] — same md5-derived uniform,
    * same 6dp-rounded ln(u)/w key, window-ranked (the oracle may use
    * the global window the engine avoids). */
  def weightedSampleOracleSql(kPer: Int = 10): String =
    s"""SELECT source, doc_id, n_chars FROM (
         SELECT source, doc_id, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY
             round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 + 1) / 4294967296.0) / n_chars, 6) DESC, doc_id) AS rk
         FROM documents)
       WHERE rk <= $kPer ORDER BY source, doc_id"""

  /** Token-budget WATERFILLING across sources — the mixture-allocation
    * step a corpus build runs before per-source sampling: given a total
    * token budget B, allocate min(avail_i, L) to each source with the
    * water level L chosen so the allocations sum to B — the max-min-fair
    * split (small sources are taken whole, the budget left splits evenly
    * among the big ones). The feasibility test is EXACT integer
    * arithmetic: with sources ascending by availability, source i
    * saturates iff avail_i·(remaining sources) ≤ budget − (tokens
    * already granted to smaller sources) — that predicate is
    * monotonically non-increasing down the sort (difference telescopes
    * to (n−i)·(a_{i+1}−a_i) ≥ 0), so the saturated set is a prefix and
    * one window pass finds it. The integer remainder B − k·L goes one
    * token each to the LARGEST unsaturated sources (ties by source) —
    * fully deterministic, Σalloc = min(B, Σavail) exactly.
    *
    * Scale: the corpus-sized work is ONE map-side-combining sum at
    * source grain; everything after runs on the S-row source relation
    * (S = #sources — the global windows below are post-agg and
    * S-bounded, the q_benford allowlist shape). Output feeds
    * [[sourceQuota]]/[[budgetSelect]] as the per-source budget. */
  def tokenBudgetWaterfill(documents: DataFrame,
      budget: Long = 40000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val avail = documents
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("avail_tokens"))
    // Unpartitioned windows (one task, here and `desc` below): S rows,
    // one per source.
    val asc = Window.orderBy(col("avail_tokens"), col("source"))
    val marked = avail
      .withColumn("granted", coalesce(sum(col("avail_tokens"))
        .over(asc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("rest",
        count(lit(1)).over(asc.rowsBetween(0, Window.unboundedFollowing)))
      .withColumn("saturated",
        col("avail_tokens") * col("rest") <= lit(budget) - col("granted"))
    // scalar state of the saturated prefix: k sources take s_k tokens
    val prefix = marked.agg(
      sum(when(col("saturated"), col("avail_tokens"))
        .otherwise(lit(0L))).as("s_k"),
      count(when(col("saturated"), lit(1))).as("k"),
      count(lit(1)).as("n"))
    val desc = Window.orderBy(col("avail_tokens").desc, col("source")) // S rows
    // the saturated/unsaturated boundary always carries a STRICT avail
    // increase (equal avails share a saturation status — the telescoped
    // difference is 0), so in desc order the unsaturated sources are
    // exactly ranks 1..n-k and `rd <= rem` hands out every bonus token
    marked.crossJoin(broadcast(prefix))
      .withColumn("level",
        when(col("n") === col("k"), lit(0L)).otherwise(
          expr(s"($budget - s_k) div (n - k)")))
      .withColumn("rem",
        when(col("n") === col("k"), lit(0L)).otherwise(
          (lit(budget) - col("s_k")) % (col("n") - col("k"))))
      .withColumn("bonus", when(!col("saturated") &&
        row_number().over(desc) <= col("rem"), 1L).otherwise(0L))
      .select(col("source"), col("avail_tokens"),
        when(col("saturated"), col("avail_tokens"))
          .otherwise(col("level") + col("bonus")).as("alloc_tokens"),
        col("saturated"))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for [[tokenBudgetWaterfill]] — identical integer
    * arithmetic over the same source-grain relation. */
  def tokenBudgetWaterfillOracleSql(budget: Long = 40000L): String =
    s"""WITH avail AS (
         SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
             AS avail_tokens
         FROM documents GROUP BY source),
       marked AS (
         SELECT source, avail_tokens,
           coalesce(sum(avail_tokens) OVER (ORDER BY avail_tokens, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS granted,
           count(*) OVER (ORDER BY avail_tokens, source
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS rest
         FROM avail),
       m2 AS (
         SELECT *, avail_tokens * rest <= $budget - granted AS saturated
         FROM marked),
       pfx AS (
         SELECT coalesce(sum(CASE WHEN saturated THEN avail_tokens
             ELSE 0 END), 0) AS s_k,
           count(CASE WHEN saturated THEN 1 END) AS k,
           count(*) AS n
         FROM m2),
       lv AS (
         SELECT m2.*, pfx.n, pfx.k,
           CASE WHEN pfx.n = pfx.k THEN 0
             ELSE ($budget - pfx.s_k) // (pfx.n - pfx.k) END AS level,
           CASE WHEN pfx.n = pfx.k THEN 0
             ELSE ($budget - pfx.s_k) % (pfx.n - pfx.k) END AS rem,
           row_number() OVER (ORDER BY m2.avail_tokens DESC, m2.source)
             AS rd
         FROM m2 CROSS JOIN pfx)
       SELECT source, avail_tokens,
         CAST(CASE WHEN saturated THEN avail_tokens
           ELSE level + (CASE WHEN rd <= rem THEN 1 ELSE 0 END) END
           AS BIGINT) AS alloc_tokens,
         saturated
       FROM lv ORDER BY source"""
}
