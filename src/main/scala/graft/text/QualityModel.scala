package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine training of a logistic-style document classifier — the
  * distributed half of the DCLM/fastText-quality-filter recipe: learn a
  * tiny linear model over cheap surface features, then score every
  * document with it. Here the (deliberately simple) task is predicting
  * `lang = 'en'` from four surface statistics.
  *
  * Architecture is the same broadcast-model / aggregate-gradient shape
  * as `Similarity.powerIteration` and every data-parallel SGD system:
  * the MODEL (5 doubles) lives on the driver and enters each round's
  * plan as literals; the GRADIENT is one corpus-scan aggregate with
  * map-side partial aggregation (5 exact-decimal sums + a count — a
  * fixed-width row per partition over the shuffle, corpus-size
  * independent). `iters` rounds = `iters` scans; at 100 TB the feature
  * projection would be cached once, which changes the constant, not the
  * shape.
  *
  * Cross-engine determinism (the whole point of the formulation):
  *  - the link is the RATIONAL "fast sigmoid" sigma(z) = 0.5*(1 + z/(1+|z|))
  *    — add/mul/div/abs are all correctly-rounded IEEE ops that JVM and
  *    DuckDB execute identically, unlike libm `exp`, whose last-ulp
  *    behavior is implementation-defined. Monotone S-curve through
  *    (0, 0.5), so the classification semantics survive. The update is
  *    the error-driven delta rule (p - y)·x — the logistic-regression
  *    gradient formula applied through this link.
  *  - gradient sums go through decimal(28,12) (Cols.decSum convention):
  *    order-independent, so Spark's partial aggregation at any
  *    partitioning and DuckDB's single-threaded sum agree exactly.
  *  - every scalar update (w - lr*g) is the same two IEEE ops on both
  *    engines, so the weight trajectories are bit-identical and the
  *    oracle re-DERIVES them (no values smuggled from the engine).
  *
  * Training is EAGER at construction (like TextAnalysis.bpeTrain): the
  * `iters` gradient jobs run when this method is called; the returned
  * DataFrame is the lazy final scoring pass with the learned literals.
  */
object QualityModel {

  private val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val alpha = "^[a-z]+$"

  /** The four surface features + bias, identically derivable in DuckDB:
    * x1 token count /100, x2 mean chars-per-token /10, x3 stopword
    * ratio, x4 alphabetic-token ratio. Divisions are single IEEE ops on
    * exactly-represented integer-valued doubles. The LABEL is a
    * parameter so the same trainer serves both tasks (lang, length). */
  private def features(documents: DataFrame, label: Column): DataFrame = {
    val w = split(lower(col("text")), " ")
    documents.select(
      col("doc_id"),
      label.as("y"),
      (size(w).cast("double") / lit(100.0)).as("x1"),
      (col("n_chars").cast("double") / size(w).cast("double") /
        lit(10.0)).as("x2"),
      (size(filter(w, t => t.isin(stop: _*))).cast("double") /
        size(w).cast("double")).as("x3"),
      (size(filter(w, t => t.rlike(alpha))).cast("double") /
        size(w).cast("double")).as("x4"))
  }

  private def langLabel: Column =
    when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))

  private def z(ws: Array[Double]): Column =
    lit(ws(0)) + lit(ws(1)) * col("x1") + lit(ws(2)) * col("x2") +
      lit(ws(3)) * col("x3") + lit(ws(4)) * col("x4")

  private def fastSigmoid(zc: Column): Column =
    lit(0.5) * (lit(1.0) + zc / (lit(1.0) + abs(zc)))

  /** The training loop itself — the learned weight vector after `iters`
    * full-batch rounds from w = 0 (exposed for tests to pin the
    * trajectory against analytic values). */
  private[graft] def train(documents: DataFrame, iters: Int,
      lr: Double): Array[Double] = trainOn(documents, langLabel, iters, lr)

  /** Session-scoped trained-WEIGHT cache (the Similarity.lloydSeq
    * precedent, VERDICT r11 item 3: train once, serve all):
    * q_lr_learnable and q_calibration each ran the IDENTICAL
    * `iters`-round full-batch trainer over the same corpus — 8
    * redundant gradient jobs per bench session (r16 measurement). The
    * cached value is the 5-double weight vector (model-sized, never
    * data), keyed by caller-supplied corpus identity + task + iters +
    * lr; the trajectory is deterministic (exact decimal gradient sums,
    * IEEE updates), so a cache hit is bit-identical to retraining.
    * Weak session keys ([[graft.SessionCache]]): dropping the session
    * drops its models. No key (tests, ad-hoc frames) = always retrain. */
  private val weightCache = new graft.SessionCache[Array[Double]]

  private def trainOn(documents: DataFrame, label: Column, iters: Int,
      lr: Double): Array[Double] = computeTrainOn(documents, label, iters, lr)

  /** Keyed weight lookup shared by both tasks. A MISS trains BOTH
    * tasks' trajectories in the SAME `iters` gradient actions
    * ([[computeTrainBoth]]) and populates both entries — in a session
    * that demands both models (bench, verify) this halves the training
    * actions: the second task's first consumer becomes a cache hit
    * instead of its own `iters`-job loop (r17; the r16 cache already
    * deduped WITHIN a task). No key = the single-task trainer,
    * unchanged. */
  private def weightsFor(documents: DataFrame, task: String, iters: Int,
      lr: Double, cacheKey: Option[String],
      single: () => Array[Double]): Array[Double] =
    cacheKey match {
      case None => single()
      case Some(k) =>
        val m = weightCache(documents.sparkSession)
        val kl = s"lang:$k:i$iters:lr$lr"
        val kn = s"len:$k:i$iters:lr$lr"
        val want = if (task == "lang") kl else kn
        m.get(want).getOrElse {
          val (wl, wn) = computeTrainBoth(documents, iters, lr)
          m.putIfAbsent(kl, wl)
          m.putIfAbsent(kn, wn)
          m(want)
        }
    }

  /** The corpus-mean length label and its ×1-row broadcast frame —
    * shared by [[trainAndScoreLength]] and the fused trainer. */
  private def lenLabeled(documents: DataFrame): (DataFrame, Column) = {
    val avg = documents.agg(
      (sum(col("n_chars")).cast("double") /
        count(lit(1)).cast("double")).as("avg_chars"))
    val labeled = documents.crossJoin(broadcast(avg))
    val label = when(col("n_chars").cast("double") >= col("avg_chars"),
      lit(1.0)).otherwise(lit(0.0))
    (labeled, label)
  }

  /** [[features]] with BOTH task labels on each row. */
  private def featuresBoth(labeled: DataFrame, lenLabel: Column)
      : DataFrame = {
    val w = split(lower(col("text")), " ")
    labeled.select(
      col("doc_id"),
      langLabel.as("yl"),
      lenLabel.as("yn"),
      (size(w).cast("double") / lit(100.0)).as("x1"),
      (col("n_chars").cast("double") / size(w).cast("double") /
        lit(10.0)).as("x2"),
      (size(filter(w, t => t.isin(stop: _*))).cast("double") /
        size(w).cast("double")).as("x3"),
      (size(filter(w, t => t.rlike(alpha))).cast("double") /
        size(w).cast("double")).as("x4"))
  }

  /** BOTH trajectories from the same `iters` actions: each round's job
    * aggregates 10 gradient sums (5 per task) instead of 5 — the extra
    * sums ride the same scan of the same persisted feature frame, so a
    * round costs what one task's round cost (~the action floor), not
    * two. Bit-parity with the single-task trainers: the lang task
    * currently trains over `features(documents, langLabel)` and here
    * trains over the ×1-row crossJoined frame — same rows, same x/err
    * expressions, and the decimal(28,12) gradient sums are
    * order-independent, so every per-round sum (and hence each IEEE
    * weight update) is identical; the len task's frame is unchanged.
    * Pinned by TrainingOpsSpec's cache test (keyed rows == cold
    * single-task rows for both tasks). */
  private def computeTrainBoth(documents: DataFrame, iters: Int,
      lr: Double): (Array[Double], Array[Double]) = {
    val (labeled, lenLabel) = lenLabeled(documents)
    val f = featuresBoth(labeled, lenLabel)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var wl = Array(0.0, 0.0, 0.0, 0.0, 0.0)
    var wn = Array(0.0, 0.0, 0.0, 0.0, 0.0)
    try {
      for (_ <- 1 to iters) {
        val errL = fastSigmoid(z(wl)) - col("yl")
        val errN = fastSigmoid(z(wn)) - col("yn")
        val row = f.agg(
          graft.Cols.decSum(errL, 12).as("l0"),
          graft.Cols.decSum(errL * col("x1"), 12).as("l1"),
          graft.Cols.decSum(errL * col("x2"), 12).as("l2"),
          graft.Cols.decSum(errL * col("x3"), 12).as("l3"),
          graft.Cols.decSum(errL * col("x4"), 12).as("l4"),
          graft.Cols.decSum(errN, 12).as("n0"),
          graft.Cols.decSum(errN * col("x1"), 12).as("n1"),
          graft.Cols.decSum(errN * col("x2"), 12).as("n2"),
          graft.Cols.decSum(errN * col("x3"), 12).as("n3"),
          graft.Cols.decSum(errN * col("x4"), 12).as("n4"),
          count(lit(1)).cast("double").as("n")).head()
        val n = row.getDouble(10)
        wl = Array.tabulate(5)(j => wl(j) - lr * (row.getDouble(j) / n))
        wn = Array.tabulate(5)(j => wn(j) - lr * (row.getDouble(5 + j) / n))
      }
    } finally f.unpersist()
    (wl, wn)
  }

  private def computeTrainOn(documents: DataFrame, label: Column,
      iters: Int, lr: Double): Array[Double] = {
    val f = features(documents, label)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ws = Array(0.0, 0.0, 0.0, 0.0, 0.0)
    try {
      for (_ <- 1 to iters) {
        val err = fastSigmoid(z(ws)) - col("y")
        val row = f.agg(
          graft.Cols.decSum(err, 12).as("g0"),
          graft.Cols.decSum(err * col("x1"), 12).as("g1"),
          graft.Cols.decSum(err * col("x2"), 12).as("g2"),
          graft.Cols.decSum(err * col("x3"), 12).as("g3"),
          graft.Cols.decSum(err * col("x4"), 12).as("g4"),
          count(lit(1)).cast("double").as("n")).head()
        val n = row.getDouble(5)
        ws = Array.tabulate(5)(j => ws(j) - lr * (row.getDouble(j) / n))
      }
    } finally f.unpersist()
    ws
  }

  /** Train `iters` full-batch gradient-descent rounds from w = 0, then
    * score every document with the learned weights. Output: per-doc
    * label, score (rounded for the compare) and thresholded prediction.
    *
    * Honest-metric note (cf. q_pq_recall): the fixture text is
    * language-uniform word salad, so `lang` is barely recoverable from
    * surface stats (stopword ratio separates by ~0.004) — the learned
    * model converges to the class base rate plus a weak x3 signal.
    * That IS the correct answer on this data; the operator's value is
    * the broadcast-model/aggregate-gradient shape and its exact
    * cross-engine replay, which an informative feature set would reuse
    * unchanged. */
  def trainAndScore(documents: DataFrame, iters: Int = 8,
      lr: Double = 1.0, cacheKey: Option[String] = None): DataFrame =
    scoreWith(documents, langLabel,
      weightsFor(documents, "lang", iters, lr, cacheKey,
        () => computeTrainOn(documents, langLabel, iters, lr)))

  private def scoreWith(documents: DataFrame, label: Column,
      ws: Array[Double]): DataFrame = {
    val p = fastSigmoid(z(ws))
    features(documents, label).select(
      col("doc_id"),
      col("y").cast("int").as("label"),
      round(p, 6).as("score"),
      (p >= lit(0.5)).cast("int").as("pred"))
      .orderBy(col("doc_id"))
  }

  /** The LEARNABLE companion task: predict "longer than the corpus
    * mean" (label from an exact broadcast scalar — BIGINT sum / count,
    * one division). x1/x2 carry the signal almost perfectly, so unlike
    * the honest-but-flat lang task, this one demonstrates the trainer
    * actually descending to a separating boundary — same machinery,
    * same oracle generator, different label SQL. */
  def trainAndScoreLength(documents: DataFrame, iters: Int = 8,
      lr: Double = 1.0, cacheKey: Option[String] = None): DataFrame = {
    val (labeled, label) = lenLabeled(documents)
    scoreWith(labeled, label,
      weightsFor(documents, "len", iters, lr, cacheKey,
        () => computeTrainOn(labeled, label, iters, lr)))
  }

  /** Calibration (reliability diagram) of the LEARNABLE classifier —
    * the model-eval step that closes the train→score→TRUST loop: scores
    * bucketed into deciles, each bin reporting its mean predicted score
    * against the OBSERVED positive rate; a calibrated model's bins sit
    * on the diagonal, and the gap is the number a downstream
    * quality-threshold decision actually needs. Reuses the fully
    * oracled [[trainAndScoreLength]] trajectory, so the evaluation is
    * oracle-checked end to end; at scale this is the per-doc score
    * relation collapsed to ≤10 rows by one map-side-combining hash agg.
    * Determinism: scores are already 6-decimal; `floor(score·10)` is
    * the same IEEE double op in both engines; mean score is an exact
    * decimal sum / count; the observed rate is an integer/integer
    * division. */
  def calibration(documents: DataFrame, iters: Int = 8,
      lr: Double = 1.0, cacheKey: Option[String] = None): DataFrame =
    trainAndScoreLength(documents, iters, lr, cacheKey)
      .withColumn("bin",
        least(floor(col("score") * 10).cast("int"), lit(9)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("label").cast("long")).as("n_pos"),
        round(graft.Cols.decSum(col("score"), 12) /
          count(lit(1)).cast("double"), 6).as("mean_score"),
        (sum(col("label").cast("long")).cast("double") /
          count(lit(1)).cast("double")).as("obs_rate"))
      .orderBy(col("bin"))

  /** DuckDB oracle for [[calibration]] — [[trainAndScoreLengthOracleSql]]
    * as a CTE, regrouped at bin grain with identical arithmetic. */
  def calibrationOracleSql(iters: Int = 8, lr: Double = 1.0): String =
    s"""WITH base AS (${trainAndScoreLengthOracleSql(iters, lr)})
       SELECT CAST(least(CAST(floor(score * 10) AS INTEGER), 9)
           AS INTEGER) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(label) AS BIGINT) AS n_pos,
         round(CAST(sum(CAST(score AS DECIMAL(28,12))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE), 6) AS mean_score,
         CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS obs_rate
       FROM base GROUP BY 1 ORDER BY 1"""

  /** DuckDB oracle for [[trainAndScore]]: the weight trajectory is
    * re-derived round by round as CTEs (r0 = zeros; d_k = gradient
    * aggregate against r_{k-1}; r_k = update), then the final scoring
    * pass replays with r_iters' scalars. */
  def trainAndScoreOracleSql(iters: Int = 8, lr: Double = 1.0): String =
    oracleSqlWith(
      """CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END""",
      preCtes = "", innerFrom = "documents",
      innerCols = "doc_id, lang, n_chars", iters = iters, lr = lr)

  /** Oracle for [[trainAndScoreLength]] — same generator, length label
    * against the exact corpus-mean scalar. */
  def trainAndScoreLengthOracleSql(iters: Int = 8,
      lr: Double = 1.0): String =
    oracleSqlWith(
      """CASE WHEN CAST(n_chars AS DOUBLE) >= avg_chars
                  THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END""",
      preCtes = """av AS (SELECT CAST(sum(n_chars) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS avg_chars FROM documents),
        """,
      innerFrom = "documents, av",
      innerCols = "doc_id, lang, n_chars, avg_chars",
      iters = iters, lr = lr)

  private def oracleSqlWith(labelSql: String, preCtes: String,
      innerFrom: String, innerCols: String, iters: Int,
      lr: Double): String = {
    val stopList = stop.map(s => s"'$s'").mkString(", ")
    def dec(x: String) =
      s"CAST(sum(CAST($x AS DECIMAL(28,12))) AS DOUBLE)"
    val f =
      s"""${preCtes}f AS (
           SELECT doc_id,
             $labelSql AS y,
             CAST(len(w) AS DOUBLE) / 100.0 AS x1,
             CAST(n_chars AS DOUBLE) / CAST(len(w) AS DOUBLE) / 10.0 AS x2,
             CAST(len(list_filter(w, t -> t IN ($stopList))) AS DOUBLE)
               / CAST(len(w) AS DOUBLE) AS x3,
             CAST(len(list_filter(w, t ->
                 regexp_matches(t, '^[a-z]+${"$"}'))) AS DOUBLE)
               / CAST(len(w) AS DOUBLE) AS x4
           FROM (SELECT $innerCols,
                   string_split(lower(text), ' ') AS w
                 FROM $innerFrom))"""
    val r0 =
      """r0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
           CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3,
           CAST(0.0 AS DOUBLE) AS w4)"""
    val zExpr = "w0 + w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4"
    val rounds = (1 to iters).map { k =>
      s"""d$k AS (
           SELECT ${dec("err")} AS g0, ${dec("err * x1")} AS g1,
             ${dec("err * x2")} AS g2, ${dec("err * x3")} AS g3,
             ${dec("err * x4")} AS g4,
             CAST(count(*) AS DOUBLE) AS n
           FROM (SELECT x1, x2, x3, x4,
               0.5 * (1.0 + z / (1.0 + abs(z))) - y AS err
             FROM (SELECT f.*, $zExpr AS z FROM f, r${k - 1}))),
         r$k AS (
           SELECT w0 - $lr * (g0 / n) AS w0, w1 - $lr * (g1 / n) AS w1,
             w2 - $lr * (g2 / n) AS w2, w3 - $lr * (g3 / n) AS w3,
             w4 - $lr * (g4 / n) AS w4
           FROM d$k, r${k - 1})"""
    }
    // assemble as a LIST so iters = 0 yields well-formed SQL (same
    // degenerate-round-list fix as the power-iteration oracle)
    val ctes = (Seq(f, r0) ++ rounds).mkString(",\n        ")
    s"""WITH $ctes
        SELECT doc_id, CAST(y AS INTEGER) AS label,
          round(p, 6) AS score,
          CAST(p >= 0.5 AS INTEGER) AS pred
        FROM (SELECT doc_id, y,
            0.5 * (1.0 + z / (1.0 + abs(z))) AS p
          FROM (SELECT f.*, $zExpr AS z FROM f, r$iters))
        ORDER BY doc_id"""
  }
}
