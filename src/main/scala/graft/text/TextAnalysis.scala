package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Cols._

/** Text-analysis operators for a large-scale training-data pipeline
  * (builder-spec north star; SURVEY.md §7.5) over the `documents` fixture
  * table (`doc_id, text, lang, source, n_chars`).
  *
  * Everything is built from codegen'd `functions._` / higher-order array
  * functions — no UDFs — so the per-document work stays inside whole-stage
  * codegen and scales linearly with the corpus (embarrassingly parallel;
  * the only shuffles are the final small grouped aggregations).
  */
object TextAnalysis {

  /** Whitespace tokenization. `split` on literal spaces keeps empty-string
    * artifacts out because fixture text is single-space separated. */
  def tokens(c: Column): Column = split(c, " ")

  /** BPE-ish subword segmentation count: a regex token pass that splits on
    * word boundaries AND breaks long words into <=4-char chunks — a cheap,
    * deterministic stand-in for a BPE vocab (real BPE needs a merges table,
    * which would ship as a broadcast lookup the same way). */
  def bpeishTokenCount(c: Column): Column =
    aggregate(
      transform(tokens(c), w => (length(w) + lit(3)) / lit(4)),
      lit(0L), (acc, x) => acc + x.cast("long"))

  /** Per-document token statistics. */
  def tokenStats(documents: DataFrame): DataFrame =
    documents
      .select(
        col("doc_id"),
        col("lang"),
        size(tokens(col("text"))).as("n_tokens"),
        bpeishTokenCount(col("text")).as("n_subwords"),
        length(col("text")).as("len_chars"))
      .orderBy(col("doc_id"))

  /** Subword-token accounting via the REAL fixed-merges BPE
    * (functions/BpeExpressions.scala — upgrades [[bpeishTokenCount]]'s
    * chunk heuristic to rank-ordered pair merges). Token counts are
    * computed once per DISTINCT word (vocab-sized — Zipf keeps the
    * vocab orders of magnitude below the corpus) and joined back to the
    * per-doc word stream, so the expression cost scales with the vocab
    * while the join scales with the corpus. Only `^[a-z]+$` words are
    * BPE-counted (ASCII: JVM chars == SQL codepoints, so the DuckDB
    * replay of the merge table is exact). */
  def bpeTokenStats(documents: DataFrame): DataFrame = {
    val words = documents
      .select(col("doc_id"),
        explode(tokens(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    val vocab = words.select(col("word")).distinct()
      .select(col("word"),
        size(graft.functions.Bpe.bpeTokens(col("word"))).as("n_toks"))
    words.join(vocab, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[bpeTokenStats]]: the merge table replayed rank
    * by rank as window CTEs (see Bpe.countsCteSql). */
  def bpeTokenStatsOracleSql: String =
    s"""WITH w AS (
          SELECT doc_id, word FROM (
            SELECT doc_id,
              unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
          WHERE regexp_matches(word, '^[a-z]+${"$"}')),
        ${graft.functions.Bpe.countsCteSql("w")}
        SELECT doc_id, count(*) AS n_words,
          CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens
        FROM w JOIN _bpe_counts ON word = wid
        GROUP BY doc_id ORDER BY doc_id"""

  /** Tokenizer fertility by language — subword tokens per word, the
    * number tokenizer teams track per language when sizing a
    * multilingual vocab (high-fertility languages pay more sequence
    * budget per word; the fixture's langs share one synthetic
    * vocabulary, so values converge — the shape, grain, and exact
    * replay are what's exercised). Same vocab-grain BPE count +
    * corpus join as [[bpeTokenStats]], aggregated at the ≤|langs|
    * grain with one exact integer division per row. */
  def tokenizerFertility(documents: DataFrame): DataFrame = {
    val words = documents
      .select(col("lang"), explode(tokens(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    val vocab = words.select(col("word")).distinct()
      .select(col("word"),
        size(graft.functions.Bpe.bpeTokens(col("word"))).as("n_toks"))
    words.join(vocab, Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_bpe_tokens"))
      .withColumn("fertility",
        round(col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double"), 6))
      .orderBy(col("lang"))
  }

  /** DuckDB oracle for [[tokenizerFertility]]. */
  def tokenizerFertilityOracleSql: String =
    s"""WITH w AS (
          SELECT lang, word FROM (
            SELECT lang,
              unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
          WHERE regexp_matches(word, '^[a-z]+${"$"}')),
        ${graft.functions.Bpe.countsCteSql("w")}
        SELECT lang, count(*) AS n_words,
          CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens,
          round(CAST(sum(n_toks) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
            AS fertility
        FROM w JOIN _bpe_counts ON word = wid
        GROUP BY lang ORDER BY lang"""

  /** BPE TRAINING (Sennrich et al.): learn the top-k merge ranks from
    * the corpus itself — the other half of the BPE story
    * ([[bpeTokenStats]] applies a table; this derives one).
    *
    * Architecture (the split every production tokenizer trainer —
    * SentencePiece, HF tokenizers — uses): the CORPUS-scale half runs
    * in-engine as one job (tokenize → frequency-count → deterministic
    * top-`vocabCap` prune, freq desc then word asc); the k greedy merge
    * rounds then run on the driver over the BOUNDED vocabulary. The
    * vocab is the only thing collected, and the cap bounds it by
    * construction (2^18 words × ~10 chars ≈ a few MB) no matter the
    * corpus size — at 100 TB the prune is also what you'd want
    * statistically, since sub-threshold tail words contribute noise
    * merges. The cap is mirrored in the oracle, so the compare stays
    * exact even at an SF where it bites. (Round 6 ran the rounds
    * in-engine — 8 unique lead/lag-window plans whose codegen cost
    * 23.9 s cold at bench SF for vocab-sized data; VERDICT r6 §wrong-1.
    * Rounds over a Zipf-bounded vocab are driver-grade model math, like
    * the PCA eigen-solve.)
    *
    * Per round: count adjacent-pair frequencies (corpus-frequency
    * weighted), take the most frequent pair (ties broken
    * lexicographically, so both engines pick the same pair), merge it
    * everywhere left-to-right, repeat. Identical-symbol pairs (a == b)
    * are excluded from selection so one merge pass can never
    * self-overlap and "merge all candidates" (what the oracle's window
    * CTE does) coincides with greedy left-to-right (what the driver
    * loop does) — the same no-overlap invariant Bpe.merges relies on.
    * Rounds with no remaining pair stop early (the oracle's per-round
    * argmax CTE goes empty the same way).
    *
    * Output: (rank, left, right, pair_freq) — the learned merge table.
    *
    * NOTE (ADVICE r6): construction is EAGER — the vocab collect and all
    * k rounds run when this method is called, and the returned DataFrame
    * is a driver-built LocalRelation. Callers that merely enumerate
    * `SparkEntry.queries` plans (e.g. plan audits) pay the full training
    * cost, and plan-level audit coverage of this query is the vocab
    * job's plan only — the rounds are driver model math by design. */
  def bpeTrain(documents: DataFrame, k: Int = 8,
      vocabCap: Int = 1 << 18): DataFrame = {
    val spark = documents.sparkSession
    // Driver-memory CONTRACT (VERDICT r11 item 6): this collect is the
    // repo's largest driver read and `vocabCap` is its explicit bound —
    // at most vocabCap (word, freq) rows ever reach the driver, whatever
    // the corpus size. The limit fetches ONE sentinel row past the cap
    // so a bitten cap is detected in the same job and logged (the
    // "no silent caps" convention); truncation itself is deterministic
    // (freq desc, word asc — the lowest-signal tail drops first), so a
    // capped training is reproducible and oracle-replayable, never
    // silently different between runs.
    val fetched: Array[(String, Long)] = documents
      .select(explode(tokens(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(vocabCap + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (fetched.length > vocabCap)
      System.err.println(s"[bpeTrain] vocab cap hit: corpus has more " +
        s"than $vocabCap distinct words; training on the top-$vocabCap " +
        "by (freq desc, word asc) — tail truncated deterministically")
    val vocab = fetched.take(vocabCap)
    var words: Array[(Array[String], Long)] = vocab.map { case (w, f) =>
      (w.toCharArray.map(String.valueOf), f)
    }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      for ((toks, f) <- words; i <- 0 until toks.length - 1
           if toks(i) != toks(i + 1)) {
        val key = (toks(i), toks(i + 1))
        counts(key) = counts.getOrElse(key, 0L) + f
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((r, a, b, cnt))
        words = words.map { case (toks, f) =>
          if (toks.indices.exists(i =>
              i + 1 < toks.length && toks(i) == a && toks(i + 1) == b)) {
            val out = Array.newBuilder[String]
            var j = 0
            while (j < toks.length) {
              if (j + 1 < toks.length && toks(j) == a && toks(j + 1) == b) {
                out += a + b; j += 2
              } else { out += toks(j); j += 1 }
            }
            (out.result(), f)
          } else (toks, f)
        }
        r += 1
      }
    }
    import spark.implicits._
    merges.result().toDF("merge_rank", "lhs", "rhs", "pair_freq")
      .orderBy(col("merge_rank"))
  }

  /** DuckDB oracle for [[bpeTrain]]: the identical k training rounds as
    * generated CTEs — per round a pair-count CTE, a 1-row argmax CTE,
    * and a merge-apply CTE (same lead/lag logic as Bpe.countsCteSql).
    * The top-`vocabCap` prune is replayed in t0 (same freq-desc,
    * word-asc order), so engine and oracle see the same vocabulary. */
  def bpeTrainOracleSql(k: Int = 8, vocabCap: Int = 1 << 18): String = {
    val t0 =
      s"""t0 AS MATERIALIZED (
           SELECT word AS wid, freq, CAST(i AS BIGINT) + 1 AS pos,
             substr(word, CAST(i AS INTEGER) + 1, 1) AS tok
           FROM (SELECT word, freq, unnest(range(length(word))) AS i
                 FROM (SELECT word, count(*) AS freq FROM (
                         SELECT unnest(string_split(lower(text), ' '))
                           AS word FROM documents)
                       WHERE regexp_matches(word, '^[a-z]+${"$"}')
                       GROUP BY word
                       ORDER BY freq DESC, word LIMIT $vocabCap)))"""
    val rounds = (1 to k).map { r =>
      s"""p$r AS MATERIALIZED (
           SELECT tok AS a, nxt AS b, CAST(sum(freq) AS BIGINT) AS cnt
           FROM (SELECT freq, tok,
               lead(tok) OVER (PARTITION BY wid ORDER BY pos) AS nxt
             FROM t${r - 1})
           WHERE nxt IS NOT NULL AND tok <> nxt
           GROUP BY 1, 2),
         b$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r
                 ORDER BY cnt DESC, a, b LIMIT 1),
         t$r AS MATERIALIZED (
           SELECT wid, freq,
             row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos,
             CASE WHEN tok = (SELECT a FROM b$r)
                   AND nxt = (SELECT b FROM b$r)
               THEN tok || nxt ELSE tok END AS tok
           FROM (
             SELECT wid, freq, pos, tok,
               lead(tok) OVER (PARTITION BY wid ORDER BY pos) AS nxt,
               lag(tok) OVER (PARTITION BY wid ORDER BY pos) AS prv
             FROM t${r - 1})
           WHERE prv IS NULL OR NOT (prv = (SELECT a FROM b$r)
             AND tok = (SELECT b FROM b$r)))"""
    }
    val union = (1 to k)
      .map(r =>
        s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, cnt AS pair_freq FROM b$r")
      .mkString(" UNION ALL ")
    s"""WITH ${(t0 +: rounds).mkString(",\n")}
        SELECT * FROM ($union) ORDER BY merge_rank"""
  }

  /** Corpus statistics per language: doc counts + exact char/token
    * averages (integer sums → deterministic division). */
  def corpusStats(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"),
        sum(size(tokens(col("text")))).as("total_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))

  /** Quality scoring (length / stopword-ratio / mean word length — the
    * standard cheap pre-filters in web-scale corpus cleaning). All ratios
    * are integer-derived divisions → deterministic. */
  def qualityScores(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val stopwords = Seq("the", "a")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*)))
    val charsNoSpace = length(regexp_replace(col("text"), " ", ""))
    documents
      .select(
        col("doc_id"),
        col("lang"),
        nTokens.as("n_tokens"),
        (nStop.cast("double") / nTokens.cast("double")).as("stopword_ratio"),
        (charsNoSpace.cast("double") / nTokens.cast("double"))
          .as("mean_word_len"),
        (size(array_distinct(toks)).cast("double") / nTokens.cast("double"))
          .as("distinct_token_ratio"))
      .orderBy(col("doc_id"))

  }

  /** Lexical diversity per document: type/token ratio and Gini–Simpson
    * index (1 − Σ(c/n)²) over whitespace unigrams — the
    * concentration-based diversity signal corpus-quality filters use
    * where entropy would otherwise appear. Deliberately rational
    * arithmetic only (counts, squares, one division): no transcendental
    * `ln`, whose last-bit rounding is not pinned across engines (same
    * reason tfidf ranks with tf·N/df). One explode + two hash
    * aggregations on (doc_id, token) → doc_id; no window, no join. */
  def lexicalDiversity(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("nt"), count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("ss"))
      .select(col("doc_id"),
        col("nt").as("n_tokens"),
        col("n_types"),
        (col("n_types").cast("double") / col("nt").cast("double"))
          .as("ttr"),
        (lit(1.0) - col("ss").cast("double") /
          (col("nt") * col("nt")).cast("double")).as("simpson"))
      .orderBy(col("doc_id"))

  /** N-gram repetition ratio — the standard "duplicate n-gram fraction"
    * quality filter (Gopher/FineWeb-style rules drop documents whose
    * repeated-3-gram share exceeds a threshold). distinct-gram counts
    * come from the native codegen'd WordShingles expression (which
    * dedups); the TOTAL gram count is pure arithmetic
    * (max(1, n_tokens - n + 1)), so no raw gram list is ever
    * materialized — one narrow scan, no shuffle before the final order.
    * The comparison uses the ROUNDED ratio so the flag is
    * oracle-boundary-safe. */
  def repetitionRatio(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.05): DataFrame = {
    import graft.dedup.Dedup.shingles
    val toks = tokens(col("text"))
    val total = greatest(size(toks) - (n - 1), lit(1)).cast("long")
    val distinctN = size(shingles(col("text"), n)).cast("long")
    documents
      .select(
        col("doc_id"), col("lang"),
        total.as("n_grams"),
        distinctN.as("n_distinct"),
        round(lit(1.0) - distinctN.cast("double") / total.cast("double"), 6)
          .as("rep_ratio"))
      .withColumn("repetitive", col("rep_ratio") > threshold)
      .orderBy(col("doc_id"))
  }

  /** Gopher repetition gates (Rae et al. 2021, arXiv:2112.11446,
    * Table A1, adapted to the fixture's line-less text): per document,
    * (a) the fraction of characters covered by the single MOST FREQUENT
    * word `nTop`-gram and (b) the fraction covered by ALL duplicated
    * (count ≥ 2) `nDup`-grams — the two strongest template/spam
    * signals; a doc is kept only when both stay under the paper's
    * thresholds (0.20 for top-2-gram, 0.15 for dup-5-grams).
    *
    * Characters-covered is exact integer arithmetic
    * (len(gram)·count vs len(text), capped at 1), so the fractions
    * and flags replay bit-identically in DuckDB. Occurrences are
    * positional (overlapping occurrences all count — the paper's
    * convention), so the gram explode here is NON-distinct, unlike
    * [[graft.dedup.Dedup.shingles]].
    *
    * Scale: two gram-grain explodes with map-side-combinable counts
    * (the topNgrams shuffle shape, keyed by (doc, gram)); the top-gram
    * pick is a per-doc window over each doc's gram rows (bounded by
    * doc length); joins back to the doc table are doc-grain. Nothing
    * is corpus-quadratic and no global window exists. */
  def gopherRepetition(documents: DataFrame, nTop: Int = 2, nDup: Int = 5,
      topFracMax: Double = 0.20, dupFracMax: Double = 0.15): DataFrame = {
    def posGrams(n: Int): Column = {
      val toks = tokens(col("text"))
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    }
    def gramCounts(n: Int): DataFrame = documents
      .select(col("doc_id"), explode(posGrams(n)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    // per-doc argmax as a struct-min hash aggregate (struct ordering is
    // field-lexicographic, so min over (-cnt, gram) = highest count,
    // ties to the smallest gram) — map-side combinable, no per-doc
    // window sort
    val top = gramCounts(nTop)
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("cnt")).as("nc"), col("gram").as("g")))
        .as("m"))
      .select(col("doc_id"), col("m.g").as("top_gram"),
        (length(col("m.g")) * -col("m.nc")).as("top_chars"))
    val dup = gramCounts(nDup)
      .filter(col("cnt") >= 2)
      .groupBy(col("doc_id"))
      .agg(sum(length(col("gram")) * col("cnt")).as("dup_chars"))
    val tf = least(lit(1.0), coalesce(col("top_chars"), lit(0L))
      .cast("double") / length(col("text")).cast("double"))
    val df0 = least(lit(1.0), coalesce(col("dup_chars"), lit(0L))
      .cast("double") / length(col("text")).cast("double"))
    documents
      .join(top, Seq("doc_id"), "left_outer")
      .join(dup, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("top_gram"),
        round(tf, 6).as("top_frac"),
        round(df0, 6).as("dup_frac"),
        (round(tf, 6) <= topFracMax && round(df0, 6) <= dupFracMax)
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[gopherRepetition]] — identical positional gram
    * explode, tie-break, and integer char arithmetic. */
  def gopherRepetitionOracleSql(nTop: Int = 2, nDup: Int = 5,
      topFracMax: Double = 0.20, dupFracMax: Double = 0.15): String = {
    def gramsCte(n: Int, tag: String): String =
      s"""g$tag AS (
           SELECT doc_id,
             unnest(list_transform(range(len(w) - $n + 1),
               i -> array_to_string(w[i+1:i+$n], ' '))) AS gram
           FROM tok WHERE len(w) >= $n),
         c$tag AS (
           SELECT doc_id, gram, count(*) AS cnt
           FROM g$tag GROUP BY 1, 2)"""
    s"""WITH tok AS (
           SELECT doc_id, text, string_split(text, ' ') AS w
           FROM documents),
         ${gramsCte(nTop, "t")},
         ${gramsCte(nDup, "d")},
         top AS (
           SELECT doc_id, gram AS top_gram, len(gram) * cnt AS top_chars
           FROM (SELECT doc_id, gram, cnt,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY cnt DESC, gram) AS rn
             FROM ct) WHERE rn = 1),
         dup AS (
           SELECT doc_id, sum(len(gram) * cnt) AS dup_chars
           FROM cd WHERE cnt >= 2 GROUP BY doc_id)
       SELECT t.doc_id, top.top_gram,
         round(least(1.0, CAST(coalesce(top_chars, 0) AS DOUBLE)
           / CAST(len(t.text) AS DOUBLE)), 6) AS top_frac,
         round(least(1.0, CAST(coalesce(dup_chars, 0) AS DOUBLE)
           / CAST(len(t.text) AS DOUBLE)), 6) AS dup_frac,
         round(least(1.0, CAST(coalesce(top_chars, 0) AS DOUBLE)
             / CAST(len(t.text) AS DOUBLE)), 6) <= $topFracMax
           AND round(least(1.0, CAST(coalesce(dup_chars, 0) AS DOUBLE)
             / CAST(len(t.text) AS DOUBLE)), 6) <= $dupFracMax AS keep
       FROM tok t
       LEFT JOIN top ON t.doc_id = top.doc_id
       LEFT JOIN dup ON t.doc_id = dup.doc_id
       ORDER BY t.doc_id"""
  }

  /** Language-ID heuristic: score each candidate language by stopword /
    * character n-gram evidence. The fixture corpus is synthetic (same
    * vocabulary for every lang label) so accuracy is meaningless there,
    * but the operator is the real shape: per-language marker lists
    * broadcast as literals, argmax over scores. Rows-only check. */
  def languageId(documents: DataFrame): DataFrame = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "of", "and", "is"),
      "es" -> Seq("el", "la", "de", "que", "y"),
      "fr" -> Seq("le", "la", "de", "et", "un"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "zh" -> Seq.empty) // zh: CJK codepoint evidence, not stopwords
    val toks = tokens(col("text"))
    val scores = markers.map { case (lang, ws) =>
      val hit =
        if (ws.isEmpty) when(col("text").rlike("[\\u4e00-\\u9fff]"), 100).otherwise(0)
        else size(filter(toks, t => t.isin(ws.map(lit(_)): _*)))
      struct(hit.cast("long").as("score"), lit(lang).as("lang"))
    }
    documents
      .withColumn("best", sort_array(array(scores: _*), asc = false).getItem(0))
      .select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        col("best.lang").as("predicted_lang"),
        col("best.score").as("score"))
      .orderBy(col("doc_id"))
  }

  /** Top word n-grams across the corpus (frequency table — the standard
    * corpus-statistics pass).
    *
    * Scale shape: the counting shuffle carries (xxhash64(ngram), count)
    * pairs — 16 bytes per distinct ngram per partition — never the ngram
    * STRINGS. The winning strings are recovered afterwards with a second
    * scan broadcast-joined on the k winning hashes, so string bytes only
    * flow for rows belonging to the top-k ngrams. At 100 TB the dominant
    * cost is the map-side hash aggregation; the string recovery touches a
    * vanishing fraction of rows. The k-th count threshold keeps ALL ties,
    * so the lexicographic tie-break at the boundary stays exact.
    * Assumes xxhash64 is collision-free over the distinct-ngram set
    * (~2^-64 per pair — the same standing assumption as the dedup digests).
    * The counts subtree appears twice in the logical plan (threshold +
    * winners); AQE's canonicalized stage reuse collapses it to ONE shuffle
    * at runtime (verified: executedPlan shows `ReusedExchange`), so the
    * effective cost is two scans + one hash-keyed shuffle. */
  def topNgrams(documents: DataFrame, n: Int = 3, k: Int = 20): DataFrame = {
    import graft.dedup.Dedup.shingles
    val grams = documents.select(explode(shingles(col("text"), n)).as("ngram"))
    val counts = grams
      .groupBy(xxhash64(col("ngram")).as("h"))
      .agg(count(lit(1)).as("n_docs"))
    // k-th highest count — TakeOrderedAndProject over longs, then a
    // single-row broadcast; no driver-side collect in the data path.
    val kth = counts.orderBy(col("n_docs").desc).limit(k)
      .agg(min(col("n_docs")).as("kth_count"))
    val winners = counts.crossJoin(broadcast(kth))
      .filter(col("n_docs") >= col("kth_count"))
      .select(col("h"), col("n_docs"))
    grams
      .join(broadcast(winners), xxhash64(col("ngram")) === col("h"))
      .groupBy(col("ngram"))
      .agg(max(col("n_docs")).as("n_docs"))
      .orderBy(col("n_docs").desc, col("ngram"))
      .limit(k)
  }

  /** Exact heavy hitters: tokens whose corpus frequency is at least
    * `minShare` of all tokens. Same scale shape as [[topNgrams]]: the
    * counting shuffle carries (xxhash64, count) pairs; the total-count
    * single row is broadcast; winning strings are recovered with a second
    * scan broadcast-joined on the qualifying hashes (a vanishing fraction
    * of rows by definition of "heavy"). */
  def heavyHitters(documents: DataFrame, minShare: Double = 0.01): DataFrame = {
    val toks = documents.select(explode(tokens(col("text"))).as("t"))
    val counts = toks
      .groupBy(xxhash64(col("t")).as("h"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val winners = counts.crossJoin(broadcast(total))
      .filter(col("n").cast("double") >=
        lit(minShare) * col("total").cast("double"))
      .select(col("h"), col("n"), col("total"))
    toks
      .join(broadcast(winners), xxhash64(col("t")) === col("h"))
      .groupBy(col("t").as("token"))
      .agg(max(col("n")).as("n"), max(col("total")).as("total"))
      .select(col("token"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"))
      .orderBy(col("n").desc, col("token"))
  }

  /** Per-document top TF-IDF terms (the classic relevance scoring pass).
    * Scoring uses tf·N/df instead of tf·ln(N/df): the ranking is
    * identical (ln is monotone in N/df and tf>0 scales positively) and
    * the score is ONE IEEE double division of exact integers —
    * deterministic across engines, where ln's last-ulp could differ
    * between libm implementations. The df table is VOCABULARY-sized
    * (100M+ terms on a web corpus), so it is not broadcast-hinted — the
    * tf⋈df join is keyed by term and left to the planner (AQE
    * broadcasts it when it is actually small); only the single-row N is
    * forced broadcast. Per-doc top-k is one doc-keyed window. */
  def topTfidfTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val tf = toks.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val df_ = toks.select(col("doc_id"), col("t")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df_, Seq("t"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("t"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("t").as("term"), col("tf"), col("df"),
        col("score"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Value-distribution histogram of doc lengths (fixed-width buckets —
    * integer arithmetic, oracle-exact). */
  def lengthHistogram(documents: DataFrame, width: Int = 50): DataFrame =
    documents
      .groupBy((col("n_chars") / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .withColumn("bucket_start", col("bucket") * width)
      .select(col("bucket_start"), col("n_docs"), col("min_chars"),
        col("max_chars"))
      .orderBy(col("bucket_start"))

  /** Fixed-size token chunking with overlap — the standard step that
    * turns variable-length documents into training-window-sized pieces.
    * One generator pass per document (posexplode of the chunk-start
    * sequence), a codegen'd slice+join per chunk, no shuffle before the
    * final ordering. Chunk content is emitted as md5 (full content
    * check, small output). */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int = 50,
      overlap: Int = 10): DataFrame = {
    require(overlap < chunkTokens, "overlap must be smaller than the chunk")
    val step = chunkTokens - overlap
    documents
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0), greatest(size(col("w")) - 1, lit(0)),
          lit(step))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "start")
      .select(
        col("doc_id"),
        col("chunk_idx"),
        size(slice(col("w"), col("start") + 1, lit(chunkTokens)))
          .as("chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("w"), col("start") + 1, lit(chunkTokens))))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Deterministic PII scrub: regex-redact email addresses, count
    * redactions per document. The fixture corpus has no natural PII, so
    * an email is deterministically injected into every 10th document
    * first (the same corrupt-then-clean pattern parseOrDrop uses) —
    * making the scrub observable and oracle-checkable. */
  def scrubPii(documents: DataFrame): DataFrame = {
    val emailRe = "[a-z0-9._]+@[a-z0-9.-]+"
    val withPii = when(col("doc_id") % 10 === 0,
      concat(lit("contact user"), col("doc_id"),
        lit("@example.com about "), col("text")))
      .otherwise(col("text"))
    documents
      .filter(col("doc_id") < 200)
      .select(
        col("doc_id"),
        md5(regexp_replace(withPii, emailRe, "[REDACTED]"))
          .as("scrubbed_md5"),
        (size(split(withPii, emailRe, -1)) - 1).as("n_redactions"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprint #1: md5 content hash (exact-dup key — stable
    * across engines, so oracle-checkable). */
  def md5Fingerprints(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Document fingerprint #2: rolling polynomial hash over tokens
    * (Karp-Rabin style). The per-token base hash is the first 8 hex chars
    * of md5 as an integer — ENGINE-NEUTRAL (DuckDB computes the identical
    * value via `('0x' || substr(md5(t),1,8))::BIGINT`), so the query is
    * fully oracle-checked, not rows-only. Arithmetic stays modular below
    * 2^55·31 + 2^32 < 2^60 — ANSI-safe, no 64-bit overflow. */
  def rollingFingerprints(documents: DataFrame): DataFrame = {
    val m = 36028797018963967L // (2^61 - 1) div 64
    documents
      .select(
        col("doc_id"),
        aggregate(
          tokens(col("text")),
          lit(0L),
          (acc, t) => pmod(
            acc * lit(31L) +
              conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
            lit(m)))
          .as("rolling_fp"))
      .orderBy(col("doc_id"))
  }

  /** BM25 document ranking against a data-driven query (the 3 globally
    * most frequent corpus terms — self-contained, no external query set).
    * The retrieval scorer an LLM-pipeline contamination/quality gate
    * actually runs.
    *
    * Determinism contract (the oracle hash is exact): all aggregates are
    * integer counts; `idf` is the only transcendental (`ln`) and is
    * ROUNDED to 9 decimals immediately, so every downstream +,*,/ is an
    * IEEE-exact op both engines agree on; the per-doc score sums the ≤3
    * per-term scores in FIXED column order (s1+s2+s3), never through a
    * float SUM whose partial-aggregation order is engine-dependent.
    *
    * Scale: term stats and tf are map-side-combined integer aggs on
    * (term) / (doc_id, term); the 3-row query table broadcasts; no
    * shuffle grows with corpus size beyond the tf agg itself. Both
    * global top-k's (query terms, final docs) plan as
    * TakeOrderedAndProject — per-partition partial top-k then a k-row
    * merge — NOT a single-partition window sort; ranks are then derived
    * on the ≤k survivors by a broadcast strictly-better self-count, so
    * no stage ever funnels the corpus through one task. */
  def bm25Rank(documents: DataFrame, k1: Double = 1.2, b: Double = 0.75,
      topDocs: Int = 20): DataFrame = {
    val toks = documents.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    // corpus term stats: total freq (query selection) + doc freq (idf)
    val termStats = toks.groupBy(col("t"))
      .agg(count(lit(1)).as("cf"), count_distinct(col("doc_id")).as("df"))
    // global top-3 terms with ranks — the shared window-free idiom
    val query = graft.Cols.rankTopK(termStats, "cf", "t", 3, "qrk")
    val nDocs = documents.agg(count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("tot_len"))
    val docLen = documents.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"))
    val tf = toks.join(broadcast(query.select(col("t"), col("df"), col("qrk"))), Seq("t"))
      .groupBy(col("doc_id"), col("t"), col("df"), col("qrk"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf
      .join(docLen, Seq("doc_id"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", round(
        log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))), 9))
      .withColumn("s",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl").cast("double") *
              col("n_docs").cast("double") / col("tot_len").cast("double"))))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(
        max(when(col("qrk") === 1, col("s"))).as("s1"),
        max(when(col("qrk") === 2, col("s"))).as("s2"),
        max(when(col("qrk") === 3, col("s"))).as("s3"))
      .withColumn("score",
        coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0)) +
          coalesce(col("s3"), lit(0.0)))
    // global top-`topDocs` docs with ranks — same shared idiom
    graft.Cols.rankTopK(perDoc, "score", "doc_id", topDocs, "rk")
      .select(col("doc_id"), col("score"), col("rk"))
      .orderBy(col("rk"))
  }

  /** Character-level Shannon entropy per document (bits/char) — the
    * classic gibberish/boilerplate quality signal (low entropy = repeated
    * filler, high = random noise).
    *
    * Chars are code points (the `substr(text, i, 1)` / `length()`
    * grain in both engines). Per-char terms `(c/n)·log2(n/c)` are
    * rounded to 9 decimals and summed as exact DECIMAL — order-
    * independent — so the result hash-matches DuckDB despite float
    * partial-agg ordering.
    *
    * Runs CORPUS-WIDE by default like every other per-doc quality gate
    * (gopherRepetition, qualityScores, lexicalDiversity): a quality
    * gate computed over a sample silently caps coverage (r10 VERDICT
    * item 1 — the previous 200-doc default was the catalog's one such
    * cap). Cost is one codegen'd projection in the scan stage, linear
    * in total characters with no entropy-side shuffle; `maxDocs` is
    * an explicit opt-in bound for interactive sampling only. */
  def charEntropy(documents: DataFrame,
      maxDocs: Long = Long.MaxValue): DataFrame = {
    // One compiled pass per document (functions.CharEntropyStats): the
    // code-point histogram and the rounded-term decimal sum run behind
    // a single codegen'd static call — replay-identical to the original
    // explode → count → join → decimal-sum pipeline (r11 A/B-pinned in
    // OperatorSpec), but with ZERO exploded rows and ZERO entropy-side
    // shuffles: |total chars| rows through two exchanges became a
    // narrow projection in the scan stage. Empty docs are filtered to
    // match the oracle's range(1, len+1) doc-dropping behavior (the
    // explode form dropped them via a different accident of sequence).
    (if (maxDocs == Long.MaxValue) documents
     else documents.filter(col("doc_id") < maxDocs))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        graft.functions.CharEntropyStats
          .charEntropyStats(col("text")).as("e"))
      .select(col("doc_id"), col("e.n_chars_tok"),
        col("e.distinct_chars"), col("e.entropy_bits"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model fluency score: train token-bigram conditional
    * probabilities on the corpus itself, then score each document by its
    * average log-probability — the cheap statistical stand-in for
    * perplexity filtering in a training-data pipeline.
    *
    * Counts are exact integers; each bigram's `ln(c12/c1)` is rounded to
    * 9 decimals and summed as DECIMAL (order-independent, oracle-exact);
    * the average is one final double division. Scale: two integer aggs
    * over the bigram stream + one broadcast-sized (vocab) join against
    * the unigram table — or shuffle join when the vocab outgrows
    * broadcast; no per-doc state beyond the agg. */
  def bigramLogProb(documents: DataFrame, maxDocs: Int = 200): DataFrame = {
    val bigrams = documents
      .select(col("doc_id"), tokens(col("text")).as("w"))
      // guard: sequence(0, -1) would DESCEND for 1-token docs (ANSI
      // element_at(0) error), so single-token docs carry no bigrams
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), size(col("w")) - 2),
          i => struct(element_at(col("w"), i + 1).as("w1"),
            element_at(col("w"), i + 2).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val lm = c12.join(c1, Seq("w1"))
      .withColumn("lp",
        round(log(col("c12").cast("double") / col("c1").cast("double")), 9)
          .cast("decimal(20,9)"))
    bigrams
      .filter(col("doc_id") < maxDocs)
      .join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_lp").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document boilerplate detection (the MassiveText/RefinedWeb
    * "repeated passages across documents" quality gate): a word n-gram
    * appearing in ≥ `minDf` distinct documents is boilerplate (nav
    * bars, license headers, templated intros); every doc reports how
    * much of it is boilerplate. Documents with high `boiler_ratio` get
    * down-weighted or cleaned in a training pipeline.
    *
    * Scale: the gram index is the same distinct-shingle explode as
    * [[graft.dedup.Dedup.jaccardPairs]] (one shuffle keyed by gram,
    * map-side combinable count); the boilerplate set is the HIGH-df
    * tail, orders of magnitude smaller than the index, and joins back
    * by gram with AQE free to broadcast it. Nothing is quadratic. */
  def boilerplateScan(documents: DataFrame, n: Int = 8,
      minDf: Int = 2): DataFrame = {
    import graft.dedup.Dedup.shingles
    val sh = documents
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("g"))
    val boiler = sh.groupBy(col("g"))
      .agg(count(lit(1)).as("df")) // sh is distinct per (doc, gram)
      .filter(col("df") >= minDf)
    val hits = sh.join(boiler, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_boiler"))
    documents
      .select(col("doc_id"),
        size(shingles(col("text"), n)).cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        col("n_boiler").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[boilerplateScan]]. */
  def boilerplateOracleSql(n: Int = 8, minDf: Int = 2): String =
    s"""WITH ${graft.dedup.Dedup.shinglesSql(n)},
       boiler AS (
         SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
         HAVING count(*) >= $minDf),
       hits AS (
         SELECT doc_id, count(*) AS n_boiler
         FROM sh JOIN boiler USING (shingle) GROUP BY doc_id),
       totals AS (
         SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id)
       SELECT t.doc_id, t.n_grams,
         coalesce(h.n_boiler, 0) AS n_boiler,
         CAST(coalesce(h.n_boiler, 0) AS DOUBLE) /
           CAST(t.n_grams AS DOUBLE) AS boiler_ratio
       FROM totals t LEFT JOIN hits h ON h.doc_id = t.doc_id
       ORDER BY t.doc_id"""

  /** Two-sample Kolmogorov-Smirnov statistic between two sources'
    * document-length distributions — the drift detector between corpus
    * slices. EXACT: the CDF difference is compared via cross-
    * multiplication (|cumA·nB − cumB·nA|, all BIGINT), so the max and
    * its location are integer decisions; only the final KS value
    * divides. Windows run at the distinct-length grain (bounded by the
    * length domain, not corpus size). */
  def lengthKs(documents: DataFrame, srcA: String = "src1",
      srcB: String = "src2"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLen = documents
      .filter(col("source").isin(srcA, srcB))
      .groupBy(col("n_chars"))
      .agg(
        sum(when(col("source") === srcA, 1L).otherwise(0L)).as("na"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("nb"))
    // Unpartitioned windows (one task): one row per distinct n_chars,
    // bounded by the document-length domain, not by corpus size.
    val cum = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = byLen
      .withColumn("cum_a", sum(col("na")).over(cum))
      .withColumn("cum_b", sum(col("nb")).over(cum))
      .withColumn("ta", sum(col("na")).over(Window.partitionBy()))
      .withColumn("tb", sum(col("nb")).over(Window.partitionBy()))
      .withColumn("d",
        abs(col("cum_a") * col("tb") - col("cum_b") * col("ta")))
    val top = g.agg(max(col("d")).as("ks_num"), max(col("ta")).as("n_a"),
      max(col("tb")).as("n_b"))
    val at = g.join(broadcast(top), col("d") === col("ks_num"))
      .agg(min(col("n_chars")).as("ks_at"))
    top.crossJoin(at)
      .select(col("n_a"), col("n_b"), col("ks_at"),
        (col("ks_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("ks"))
  }

  /** DuckDB oracle for [[lengthKs]]. */
  def lengthKsOracleSql(srcA: String = "src1",
      srcB: String = "src2"): String =
    s"""WITH byLen AS (
         SELECT n_chars,
           CAST(sum(CASE WHEN source = '$srcA' THEN 1 ELSE 0 END)
             AS BIGINT) AS na,
           CAST(sum(CASE WHEN source = '$srcB' THEN 1 ELSE 0 END)
             AS BIGINT) AS nb
         FROM documents WHERE source IN ('$srcA', '$srcB')
         GROUP BY n_chars),
       g AS (
         SELECT n_chars,
           CAST(sum(na) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
           CAST(sum(nb) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b,
           CAST(sum(na) OVER () AS BIGINT) AS ta,
           CAST(sum(nb) OVER () AS BIGINT) AS tb
         FROM byLen),
       gd AS (
         SELECT n_chars, abs(cum_a * tb - cum_b * ta) AS d, ta, tb
         FROM g),
       top AS (
         SELECT max(d) AS ks_num, max(ta) AS n_a, max(tb) AS n_b
         FROM gd)
       SELECT n_a, n_b,
         (SELECT min(n_chars) FROM gd, top WHERE d = ks_num) AS ks_at,
         CAST(ks_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS ks
       FROM top"""

  /** Heaps-law vocabulary growth: cumulative distinct token types vs
    * cumulative tokens along the corpus in doc_id order, reported at
    * bucket grain. "New types in bucket b" needs no running set: a type
    * is new exactly in the bucket of its FIRST occurrence, so one
    * grouped min(doc_id) per type + one count per bucket gives the
    * curve; the cumulative window then runs over n_docs/bucketSize rows
    * only (at 100 TB the per-type min and per-bucket counts are plain
    * shuffles; nothing sequential ever touches corpus-scale rows). */
  def vocabGrowth(documents: DataFrame, bucketSize: Int = 100): DataFrame = {
    val newPerBucket = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr(s"first_doc div $bucketSize").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    // Unpartitioned window (one task): n_docs / bucketSize bucket rows.
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
    documents
      .select(expr(s"doc_id div $bucketSize").as("bucket"),
        size(tokens(col("text"))).as("n"))
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n_tokens"))
      .join(newPerBucket, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .orderBy(col("bucket"))
  }

  /** DuckDB oracle for [[vocabGrowth]]. */
  def vocabGrowthOracleSql(bucketSize: Int = 100): String =
    s"""WITH firsts AS (
         SELECT tok, min(doc_id) AS first_doc FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents) GROUP BY tok),
       nb AS (
         SELECT first_doc // $bucketSize AS bucket,
           count(*) AS new_types
         FROM firsts GROUP BY 1),
       tb AS (
         SELECT doc_id // $bucketSize AS bucket,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY 1)
       SELECT tb.bucket, n_tokens,
         coalesce(new_types, 0) AS new_types,
         CAST(sum(n_tokens) OVER (ORDER BY tb.bucket) AS BIGINT)
           AS cum_tokens,
         CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY tb.bucket)
           AS BIGINT) AS cum_types
       FROM tb LEFT JOIN nb USING (bucket) ORDER BY tb.bucket"""

  /** Top-k bigram collocations by pointwise mutual information — the
    * standard corpus-linguistics statistic for "these two words belong
    * together" (multi-word expressions, named entities), and the phrase
    * detector behind word2vec-style phrase merging.
    *
    * PMI(a,b) = log( P(a,b) / (P(a)·P(b)) ). log is monotone, so ranking
    * by the LIFT ratio c_ab·N / (c_a·c_b) ranks by PMI while keeping the
    * score a single IEEE division of two exact BIGINT products — no libm
    * call whose last-ulp behavior could differ between engines. The
    * reported `lift` is that ratio (PMI = log2(lift) if a reader wants
    * the log form).
    *
    * Scale shape: bigram counting is one shuffle at bigram grain; the
    * `minCount` support filter (applied BEFORE the unigram joins) bounds
    * the surviving pairs Zipf-style; unigram counts are vocab-grain; the
    * 1-row token total is broadcast. Nothing is quadratic in the corpus.
    * Only `^[a-z]+$` tokens participate (ASCII, so the DuckDB replay is
    * exact), but adjacency is measured on the RAW token stream — a pair
    * separated by a filtered token is not a collocation. */
  def pmiCollocations(documents: DataFrame, k: Int = 25,
      minCount: Long = 5): DataFrame = {
    val alpha = "^[a-z]+$"
    val toks = documents.select(tokens(lower(col("text"))).as("w"))
    val words = toks.select(explode(col("w")).as("word"))
      .filter(col("word").rlike(alpha))
    val uni = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val total = words.agg(count(lit(1)).as("n_total"))
    val pairs = toks
      .select(explode(
        when(size(col("w")) < 2,
          array().cast("array<struct<a:string,b:string>>"))
          .otherwise(transform(sequence(lit(0), size(col("w")) - 2),
            i => struct(
              element_at(col("w"), i + 1).as("a"),
              element_at(col("w"), i + 2).as("b"))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a").rlike(alpha) && col("b").rlike(alpha))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    pairs
      .join(uni.withColumnRenamed("word", "a")
        .withColumnRenamed("c", "c_a"), Seq("a"))
      .join(uni.withColumnRenamed("word", "b")
        .withColumnRenamed("c", "c_b"), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        round((col("c_ab") * col("n_total")).cast("double") /
          (col("c_a") * col("c_b")).cast("double"), 6).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(k)
  }

  /** DuckDB oracle for [[pmiCollocations]] — same raw-stream adjacency,
    * same alpha filter, same exact-BIGINT lift arithmetic. */
  def pmiCollocationsOracleSql(k: Int = 25, minCount: Long = 5): String =
    s"""WITH tok AS (
          SELECT string_split(lower(text), ' ') AS w FROM documents),
        wrd AS (SELECT unnest(w) AS word FROM tok),
        uni AS (SELECT word, count(*) AS c FROM wrd
                WHERE regexp_matches(word, '^[a-z]+${"$"}') GROUP BY word),
        tot AS (SELECT count(*) AS n_total FROM wrd
                WHERE regexp_matches(word, '^[a-z]+${"$"}')),
        pr AS (SELECT unnest(list_transform(
                 range(greatest(len(w) - 1, 0)),
                 i -> struct_pack(a := w[i+1], b := w[i+2]))) AS p
               FROM tok),
        bi AS (SELECT p.a AS a, p.b AS b, count(*) AS c_ab FROM pr
               WHERE regexp_matches(p.a, '^[a-z]+${"$"}')
                 AND regexp_matches(p.b, '^[a-z]+${"$"}')
               GROUP BY 1, 2 HAVING count(*) >= $minCount)
        SELECT a, b, c_ab, ua.c AS c_a, ub.c AS c_b,
          round(CAST(c_ab * n_total AS DOUBLE) /
                CAST(ua.c * ub.c AS DOUBLE), 6) AS lift
        FROM bi JOIN uni ua ON bi.a = ua.word
                JOIN uni ub ON bi.b = ub.word, tot
        ORDER BY lift DESC, a, b LIMIT $k"""
}
