package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.TextAnalysis.tokens

/** Deduplication operators for web-scale corpus cleaning (builder-spec
  * north star): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - Exact dedup = hash-groupBy on the content key — one shuffle keyed by
  *    md5(text) (shuffle the 16-byte digest, never the document body, when
  *    only the keeper id is needed).
  *  - Pairwise-similarity ops NEVER compare all pairs: candidate pairs come
  *    from an inverted index (explode → self-join on shingle/band/bucket),
  *    so cost is Σ bucket² not N². At 100 TB the band/bucket join is the
  *    classic MinHash-LSH plan: shuffle is bounded by signature size
  *    (k×8 bytes/doc), not document size, and hot buckets are handled by
  *    AQE skew-join splitting.
  *  - Two hash families, both codegen'd or native expressions (no UDFs):
  *    - xxhash64: the shingle-hash index of the exact Jaccard family
  *      (a join key only, so results are exact modulo 64-bit
  *      collisions and oracled) and the fast twins [[minhashLshPairs]]
  *      and [[simhashPairs]], whose rows depend on the hash values and
  *      are rows-only in the catalog;
  *    - md5 prefixes, which DuckDB computes bit-identically: the
  *      engine-neutral twins [[NeutralMinHash]], [[simhashPairsNeutral]],
  *      [[substringDedup]] and [[exactDedupByDigest]], all oracled.
  *
  * Each set-similarity rule has one definition per side of the oracle,
  * written independently: [[shingleHashes]] / [[shinglesSql]] (the
  * shingle relation), [[docSizes]] + [[prunedPairCounts]] +
  * [[jaccard]] / [[jaccardSql]] (sizes, intersection counts, the Jaccard
  * expression), [[bucketPairs]] / `NeutralMinHash.candsSql` (the banded
  * candidate self-join) and [[agreement]] / [[agreementSql]] (the MinHash
  * estimate).
  */
object Dedup {

  /** Word n-gram shingles (default 3-grams) as a distinct array — the
    * native codegen'd [[graft.functions.WordShingles]] (one compiled
    * pass; the composable transform/slice/concat_ws form runs the HOF
    * lambda interpreted and measured as the top cost of every
    * shingle-based operator; equality with the composed form is pinned
    * in DedupSpec). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.WordShingles.wordShingles(text, n)

  // NOTE (measured): hashing the token triple per shingle via element_at
  // inside the transform lambda is ~2× SLOWER than building the n-gram
  // string with slice+concat_ws and hashing once after the explode — ANSI
  // element_at bounds checks + per-argument hash dispatch dominate. The
  // string form below is the fast path; hash AFTER explode.

  /** The narrow (doc_id, h) relation every hashed-shingle operator
    * reads: each document's distinct shingles, hashed to 64 bits after
    * the explode. */
  private[graft] def shingleHashes(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))

  /** SQL twin of [[shingles]] + explode: CTEs `tok` and `sh(<cols>,
    * shingle)`, the distinct word n-grams of each `documents` row at the
    * grain `cols` (`doc_id`, `source`, or both), rows filtered by
    * `where`. */
  def shinglesSql(n: Int = 3, cols: String = "doc_id",
      where: String = ""): String =
    s"""tok AS (
         SELECT $cols, string_split(text, ' ') AS w FROM documents
         $where),
       sh AS (
         SELECT DISTINCT $cols,
           unnest(CASE WHEN len(w) < $n THEN [array_to_string(w, ' ')]
             ELSE list_transform(range(len(w) - ${n - 1}),
               i -> array_to_string(w[i+1:i+$n], ' ')) END) AS shingle
         FROM tok)"""

  /** |A| per document, (doc_id, n_sh): size(shingles) computed
    * row-locally, NOT a groupBy over the exploded rows, which would
    * shuffle the whole posting set a second time just to count it. */
  private def docSizes(documents: DataFrame, n: Int): DataFrame =
    documents.select(col("doc_id"), size(shingles(col("text"), n)).as("n_sh"))

  /** Shingle hashes with document frequency in [2, maxDf]: a plain
    * codegen'd count aggregate (no object state), so hot shingles never
    * reach a pair join. */
  private def docFreqs(sh: DataFrame, maxDf: Int): DataFrame =
    sh.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))

  /** The df-pruned pair count over a (doc_id, h) relation: (doc_a,
    * doc_b, n_common), doc_a < doc_b, counted over the shingles with
    * 2 <= df <= maxDf. The df groupBy and the prune join share the
    * hash-partitioning on h.
    *
    * `indexed` appears on BOTH sides of the self-join. In the at-scale
    * shuffle-join form both consumers request the same hash-partitioning
    * on h and Spark dedups the identical exchange into one Exchange + a
    * ReusedExchange — DedupSpec pins this ("reads the shingle index once
    * via ReusedExchange", forced no-broadcast). At sf0.01 AQE instead
    * broadcasts one side and the cheap explode subtree runs per side
    * (PLANSTATS reused=0 there is expected, not a regression). If a plan
    * change upstream of `indexed` breaks the at-scale reuse, the
    * dominant stage silently doubles — the spec fails first. */
  private def prunedPairCounts(sh: DataFrame, maxDf: Int): DataFrame = {
    val indexed = sh.join(docFreqs(sh, maxDf).select(col("h")), Seq("h"))
    indexed.as("a").join(indexed.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
  }

  /** Jaccard from the intersection and the two set sizes, with
    * |A∪B| = |A| + |B| − |A∩B|: the one double expression every Jaccard
    * operator thresholds on, so boundary rows agree bit for bit. */
  private def jaccard(nCommon: Column, na: Column, nb: Column): Column =
    nCommon.cast("double") / (na + nb - nCommon).cast("double")

  /** SQL twin of [[docSizes]], the pair count and [[jaccard]] over the
    * `sh` CTE: CTEs `sizes(doc_id, n_sh)`, `common(doc_a, doc_b,
    * n_common)` and `jac(doc_a, doc_b, n_common, jaccard)`. Without
    * `cands` every pair sharing a shingle is counted (doc_a < doc_b, no
    * df cap: the exact all-pairs truth); with it only the pairs of that
    * (doc_a, doc_b, ...) relation are. */
  def jaccardSql(cands: Option[String] = None): String = {
    val common = cands match {
      case None =>
        """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           FROM sh a JOIN sh b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id"""
      case Some(c) =>
        s"""SELECT c.doc_a, c.doc_b, count(*) AS n_common
           FROM $c c
           JOIN sh a ON a.doc_id = c.doc_a
           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle"""
    }
    s"""sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       common AS (
         $common
         GROUP BY 1, 2),
       jac AS (
         SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
         FROM common
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id)"""
  }

  /** The candidate self-join every banded index shares (MinHash bands,
    * SimHash chunks): rows of `index` (doc_id, `bucket`, `key`, ...)
    * equal on both bucket columns pair up as doc_a < doc_b, each pair
    * once. `carried` are extra output columns spelled over the `a` and
    * `b` sides. */
  private def bucketPairs(index: DataFrame, bucket: String, key: String,
      carried: Column*): DataFrame =
    index.as("a")
      .join(index.as("b"),
        col(s"a.$bucket") === col(s"b.$bucket") &&
          col(s"a.$key") === col(s"b.$key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a") +: col("b.doc_id").as("doc_b") +:
        carried: _*)
      .dropDuplicates("doc_a", "doc_b")

  /** MinHash estimated Jaccard: the share of the k signature positions
    * on which two signatures agree (k a power of two keeps the division
    * exact in both engines). */
  private def agreement(sa: Column, sb: Column, k: Int): Column =
    size(filter(zip_with(sa, sb, (p, q) => p === q), v => v))
      .cast("double") / lit(k.toDouble)

  /** SQL twin of [[agreement]]. */
  private def agreementSql(k: Int, sa: String = "sa", sb: String = "sb")
      : String =
    s"len(list_filter(range(1, $k + 1), i -> $sa[i] = $sb[i])) / ${k}.0"

  /** Exact dedup: group identical texts, keep the smallest doc_id
    * (deterministic keeper), count members. */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("text"))
      .agg(
        min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
      .orderBy(col("keeper_id"))

  /** Exact dedup at scale: shuffle md5 digests (not bodies) and keep the
    * min doc_id per digest — the form used when documents are large. */
  def exactDedupByDigest(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
      .orderBy(col("keeper_id"))

  /** n-gram Jaccard near-dup pairs via an inverted shingle index built in
    * ONE pass: shingles are hashed to 64-bit keys (8-byte shuffle instead
    * of strings), grouped into per-shingle posting lists, and candidate
    * pairs are emitted by exploding i<j combinations within each list —
    * |A∩B| per pair, Jaccard with |A∪B| = |A|+|B|−|A∩B|. Exact modulo
    * 64-bit hash collisions (~(m²/2⁶⁴), negligible).
    *
    * Scale: posting lists are bounded by `maxDf` (shingles appearing in
    * more docs are dropped from the index — the standard df-pruning that
    * keeps the pair explosion sub-quadratic on web corpora); per-pair cost
    * is Σ df² over surviving shingles. The doc-size table is N-sized
    * (one row per document), so it is NOT broadcast-hinted: the join is
    * keyed by doc_id and left to the planner — AQE broadcasts it at
    * small scale and shuffle-joins 12-byte rows at corpus scale.
    *
    * Pair expansion is a df-pruned SELF-EQUI-JOIN on the shingle hash,
    * not collect_list postings + i<j explode (r13): the posting-list
    * form plans an ObjectHashAggregateExec whose sort-based fallback
    * OOM'd the default 8 GiB heap at 1024× (each spill READER buffers
    * ~1 MB × hundreds of spill files × 32 concurrent tasks — the
    * UnsafeSorterSpillReader allocation is where the heap actually
    * died, SCALING.md). The self-join emits the identical Σ df² pair
    * stream through whole-stage-codegen'd join operators whose per-key
    * group buffer is bounded by maxDf rows and spills row-at-a-time —
    * nothing in the plan materializes a per-group object. Output is
    * pair-for-pair identical: shingles() is array_distinct'ed, so the
    * sorted-list i<j walk and the doc_a < doc_b join predicate
    * enumerate the same multiset (the one divergence is an intra-doc
    * 64-bit hash collision, which the old form turned into a spurious
    * self-pair and this form drops — strictly closer to the declared
    * semantics). */
  def jaccardPairs(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxDf: Int = 1000): DataFrame = {
    val sizes = docSizes(documents, n)
    prunedPairCounts(shingleHashes(documents, n), maxDf)
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        jaccard(col("n_common"), col("sa.n_sh"), col("sb.n_sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** One slice of the [[jaccardPairsSliced]] pair stream: the full
    * jaccardPairs candidate machinery (explode → df-prune → self-join →
    * per-pair count) restricted to the shingle hashes with
    * `pmod(h, slices) == i`. Exactness: slicing keys on h, and df(h)
    * is a per-h quantity, so every row of a given hash lands in the
    * same slice — the slice-local df IS the global df, and the slice's
    * candidate set is exactly the h-restriction of the unsliced one. */
  private def jaccardSlicePartial(documents: DataFrame, n: Int,
      maxDf: Int, slices: Int, i: Int, pairBuckets: Int): DataFrame = {
    // the slice predicate sits on the MAP side of every shuffle in this
    // job: the exploded shingle stream is filtered to 1/slices of the
    // key space before the df groupBy / prune join / pair join shuffle
    // anything, so the job's transient shuffle+spill bytes are
    // ~1/slices of the unsliced join's
    val sh = shingleHashes(documents, n)
      .filter(pmod(col("h"), lit(slices.toLong)) === lit(i.toLong))
    prunedPairCounts(sh, maxDf)
      // pair-hash bucket for the SLICED final assembly: the global
      // sum+threshold pass partitions cleanly on the pair key, so it
      // too runs as sequential partition-pruned jobs (see below)
      .withColumn("pb",
        pmod(xxhash64(col("doc_a"), col("doc_b")), lit(pairBuckets.toLong)))
  }

  /** [[jaccardPairs]] computed as `slices` SEQUENTIAL disjoint jobs
    * over the shingle-hash key space — the single-box (and
    * small-fleet) degrade-gracefully knob for the pair join's
    * TRANSIENT disk (r14 VERDICT item 1: at 4096× the corpus the
    * one-job pair join needs ~400 GB of live shuffle+spill — a job's
    * shuffle files cannot be freed mid-job — vs ~77 GB of box disk;
    * zero heap failures). Slice i runs the full candidate machinery
    * over the hashes with `pmod(h, slices) == i` and persists only its
    * per-pair partial intersection counts as parquet; superseded
    * slice-job shuffles are freed BETWEEN slices (ContextCleaner — set
    * `spark.cleaner.periodicGC.interval` ~1min for a disk-bounded box,
    * as ScaledGate does; an explicit gc() after each slice makes the
    * window deterministic). The final pass re-aggregates
    * sum(n_common) per pair — exact, because slices partition the
    * hash space, so Σ slice-local intersections = the global
    * intersection — then applies sizes + threshold exactly as
    * [[jaccardPairs]] does. Output is row-for-row identical
    * (DedupSpec pins sliced == unsliced).
    *
    * Cost trade: +(slices−1) extra map-side corpus scans (the explode
    * is recomputed per slice and immediately filtered), in exchange
    * for peak transient disk ~1/slices of the unsliced join. A real
    * cluster makes the same trade in SPACE (the shuffle spreads over
    * executors' local disks); one box makes it in TIME.
    *
    * Partial sizing (measured at 4096×, r15): the per-slice groupBy
    * barely collapses the candidate stream — most candidate pairs
    * share exactly ONE surviving shingle, so partial rows ≈ distinct
    * candidate pairs (~0.7 × the Σ C(df,2) count), tens of GB at that
    * scale. Three consequences are built in: (1) partials are written
    * sorted-within-partitions + zstd (raw snappy parquet of the
    * unsorted agg output measured 5.1 GB/slice at 4096×/K=12; sorted
    * runs delta/RLE-compress 3.6× to 1.4 GB/slice), layout-partitioned
    * by a pair-hash bucket column; (2) the final sum+threshold
    * assembly — itself nearly as shuffle-heavy as the pair join when
    * run as ONE job (the first 4096× attempt died there: groupBy over
    * ~3.7B partial rows + two sizes joins holds 3–4× the candidate
    * volume live) — runs as `slices` SEQUENTIAL partition-pruned
    * bucket passes over disjoint pair-hash ranges, freeing superseded
    * shuffles between passes exactly like the slice loop; (3) the
    * thresholded result is materialized EAGERLY and the partials are
    * DELETED before returning — the fixpoint (or any downstream
    * consumer) runs with only the small final pair set on disk, and
    * repeated consumers re-read it instead of re-aggregating.
    *
    * `cacheKey`: the dedupClusters/SessionDirs convention — a caller-
    * supplied corpus identity keys the persisted pair artifact so the
    * CC-invariant gate's probe pairs and the fixpoint's internal pair
    * stream share ONE slice sweep per session (both consume the same
    * trusted, 64×-oracled pair generator; the artifact is generator
    * state, not labeling state, so probe independence is preserved).
    * No key ⇒ a fresh anonymous sweep per call. */
  def jaccardPairsSliced(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxDf: Int = 1000, slices: Int = 8,
      cacheKey: Option[String] = None,
      mergeBucketBytes: Long = 256L << 20): DataFrame = {
    require(slices >= 0, s"slices must be >= 0 (0 = auto), got $slices")
    if (slices == 1) return jaccardPairs(documents, n, threshold, maxDf)
    val spark = documents.sparkSession
    val idT = documents.schema("doc_id").dataType
    val pairSchema = StructType(Seq(
      StructField("doc_a", idT), StructField("doc_b", idT),
      StructField("n_common", LongType),
      StructField("jaccard", DoubleType)))
    val key = cacheKey
      .map(k => s"jps:$k:n$n:df$maxDf:s$slices:t$threshold")
      .getOrElse(s"jps:anon:${java.util.UUID.randomUUID()}")
    val dir = graft.SessionDirs.getOrBuild(spark, key,
      "graft_pair_slices") { root =>
      val pairsDir = root.toString + "/pairs"
      // slices = 0: choose K from the published cost model against the
      // temp root's OWN filesystem (SCALING.md §4096×) — one analytic
      // corpus pass for Σ C(df,2), one statfs for free disk.
      val k = if (slices > 0) slices else {
        val cand = pairCandidateCount(documents, n, maxDf)
        val free = java.nio.file.Files.getFileStore(root).getUsableSpace
        val chosen = choosePairSlices(cand, free)
        Console.err.println(s"JPS auto-K: cand_pairs=$cand " +
          f"free_disk_gb=${free / 1e9}%.1f -> slices=$chosen")
        chosen
      }
      if (k == 1)
        // auto decided the one-job plan fits — materialize it so the
        // artifact contract (and repeated consumers) stay uniform
        jaccardPairs(documents, n, threshold, maxDf)
          .write.mode("overwrite").parquet(pairsDir)
      else
        buildSlicedInterleaved(documents, n, threshold, maxDf, k, root,
          idT, mergeBucketBytes)
      pairsDir
    }
    // explicit schema (ADVICE r15): a degenerate corpus can leave the
    // pairs artifact with zero schema-bearing part files, and an
    // inference-based read would throw where jaccardPairs returns empty
    spark.read.schema(pairSchema).parquet(dir)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Analytic candidate-pair volume for the df-pruned pair join: the
    * self-equi-join on the shingle hash emits exactly Σ_h C(df_h, 2)
    * rows over surviving shingles (2 ≤ df ≤ maxDf) — ONE df-histogram
    * corpus pass, no join run (the PairCostProbe probe, promoted into
    * the operator so auto-K can price a run before committing disk). */
  def pairCandidateCount(documents: DataFrame, n: Int = 3,
      maxDf: Int = 1000): Long =
    docFreqs(shingleHashes(documents, n), maxDf)
      .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)))
      .head().getLong(0)

  /** The published single-box slice-count model (SCALING.md §4096×),
    * applied mechanically instead of by hand (VERDICT r15 item 3):
    * the one-job pair join holds ~`bytesPerCandidate` of un-freeable
    * shuffle+spill per candidate pair (measured ~80 B at 4096×), the
    * persisted partial stream costs ~`partialBytesPerCandidate`
    * (measured 0.7 partial rows/candidate × ~5.8 B sorted-zstd), and a
    * slice job's transient is ~1/K of the whole — so
    * K ≥ margin × transient / (free − partials). Returns 1 when the
    * one-job plan fits with margin (the declarative plan a cluster
    * should always prefer); when the partials alone exceed free disk
    * (the two-phase 16384× wall) the interleaved accumulator is the
    * only path and K is sized by transient against raw free disk. */
  def choosePairSlices(candPairs: Long, freeDiskBytes: Long,
      bytesPerCandidate: Double = 80.0,
      partialBytesPerCandidate: Double = 4.1,
      margin: Double = 1.5): Int = {
    require(freeDiskBytes > 0, "freeDiskBytes must be positive")
    val transient = candPairs * bytesPerCandidate
    val partials = candPairs * partialBytesPerCandidate
    val headroom = freeDiskBytes - partials
    if (transient * margin <= freeDiskBytes && headroom > 0) 1
    else if (headroom <= 0)
      math.max(2, math.ceil(margin * transient / freeDiskBytes).toInt)
    else math.max(2, math.ceil(margin * transient / headroom).toInt)
  }

  /** Bytes under `dir` (−1 when unwalkable). */
  private def dirBytes(dir: String): Long = try {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum
  } catch { case _: java.io.IOException => -1L }

  /** gc() frees a finished job's now-unreferenced shuffle files before
    * the next job writes its own (the ContextCleaner acts on GC) — the
    * mechanism that bounds LIVE transient disk to ~one slice. Skipped
    * when the job wrote little: a full GC that frees megabytes buys
    * nothing at catalog scale. */
  private def gcIfBig(dir: String): Unit = {
    val bytes = dirBytes(dir)
    if (bytes > 64L * 1024 * 1024 || bytes < 0) System.gc()
  }

  private def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))

  /** Per-doc shingle sizes + remaining-slice suffix counts, written
    * once up front: `n_sh` = |shingles|, `rem[j]` (1-indexed) = # of
    * the doc's shingle hashes in slices ≥ j — the per-doc budget the
    * interleaved prune charges against. One corpus pass. */
  private def writeSizes(documents: DataFrame, n: Int, slices: Int,
      sizesDir: String): Unit = {
    val sh = shingles(col("text"), n)
    val pm = transform(sh, s => pmod(xxhash64(s), lit(slices.toLong)))
    documents
      .select(col("doc_id"), size(sh).as("n_sh"),
        transform(sequence(lit(1), lit(slices)),
          j => size(filter(pm, p => p >= j))).as("rem"))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(sizesDir)
  }

  private def sizesSchema(idT: DataType, slices: Int): StructType =
    StructType(Seq(
      StructField("doc_id", idT), StructField("n_sh", IntegerType),
      StructField("rem", ArrayType(IntegerType))))

  /** Read a single bucket leaf directory with a known schema — an
    * absent or part-file-less directory is an EMPTY relation, never a
    * schema-inference error (ADVICE r15). */
  private def leafOrEmpty(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Interleaved sliced assembly (the r15-priced 16384× refactor): the
    * bucket re-aggregation folds INTO the slice loop, so slice i's
    * partials are merged into a running per-bucket accumulator and
    * deleted before slice i+1 lands — partials never coexist across
    * slices. The accumulator itself is kept from growing to the full
    * candidate-pair set by a provably LOSSLESS viability prune (the
    * positional-filter idea from the PPJoin family, Xiao et al. 2008,
    * re-aimed at slice suffixes): after slice i, a pair's final
    * intersection can exceed its current sum by at most
    * min(rem_a, rem_b) — each doc's count of shingle hashes in slices
    * > i (Σ_j min(a_j, b_j) ≤ min(Σ a_j, Σ b_j)) — and is never more
    * than min(|A|, |B|); Jaccard is monotone in the intersection for
    * fixed sizes, so a pair whose BEST-CASE Jaccard
    *   cap / (|A| + |B| − cap),  cap = min(cur + min(rem_a, rem_b),
    *                                       min(|A|, |B|))
    * misses the threshold is dead no matter what later slices add, and
    * is dropped. At the LAST step rem = 0 and cap = cur exactly, so
    * the prune IS the final threshold — evaluated with the shared
    * [[jaccard]] expression [[jaccardPairs]] uses, keeping the boundary
    * bit-exact (DedupSpec pins row-identity; the catalog entry shares
    * the exact quadratic DuckDB oracle).
    *
    * Disk shape: live = accumulator (≈ the still-viable pair set —
    * peaks near slice K·(1−(1+t)/2t…), measured as the acc_bytes curve
    * this loop logs) + ONE slice's partials + one bucket's merge
    * transient, instead of the full partial stream a two-phase form
    * (every slice first, then the assembly) carries.
    * The merge runs per pair-hash bucket — K sequential partition-
    * pruned jobs per slice whose superseded shuffles (and the replaced
    * accumulator bucket) are freed before the next, exactly like the
    * slice loop itself.
    *
    * Cost trade: the prune re-joins the doc-size relation per merge
    * step; early steps where the budget arithmetic cannot prune
    * anything yet (rem/|A| still above 2t/(1+t) in expectation) skip
    * the joins and just merge. */
  private def buildSlicedInterleaved(documents: DataFrame, n: Int,
      threshold: Double, maxDf: Int, slices: Int,
      root: java.nio.file.Path, idT: DataType,
      mergeBucketBytes: Long): Unit = {
    val spark = documents.sparkSession
    val partialsDir = root.toString + "/partials"
    val sizesDir = root.toString + "/sizes"
    val accDir = root.toString + "/acc"
    val pairsDir = root.toString + "/pairs"
    val partialSchema = StructType(Seq(
      StructField("doc_a", idT), StructField("doc_b", idT),
      StructField("n_common", LongType)))
    // the bucketed (partitionBy-layout) view of the same relation —
    // pb rides as a partition column so a whole step can be read in
    // one pass when the single-job merge is chosen
    val bucketedSchema = partialSchema.add(StructField("pb", LongType))
    writeSizes(documents, n, slices, sizesDir)
    val sizesDf = spark.read.schema(sizesSchema(idT, slices))
      .parquet(sizesDir)
    def sz(side: String, step: Int): DataFrame = sizesDf.select(
      col("doc_id").as(s"${side}_id"),
      col("n_sh").as(s"n_$side"),
      element_at(col("rem"), step + 1).as(s"rem_$side"))
    // prune (then write/append) one merged bucket-or-step relation
    def mergeOut(summed: DataFrame, i: Int, doPrune: Boolean,
        last: Boolean, outPath: String): Unit = {
      val out = if (!doPrune) summed.select(
          col("doc_a"), col("doc_b"), col("n_common"))
        else {
        val joined = summed
          .join(sz("a", i), col("doc_a") === col("a_id"))
          .join(sz("b", i), col("doc_b") === col("b_id"))
        val cap =
          if (last) col("n_common")
          else least(
            col("n_common") +
              least(col("rem_a"), col("rem_b")).cast("long"),
            least(col("n_a"), col("n_b")).cast("long"))
        val pruned = joined
          .filter(jaccard(cap, col("n_a"), col("n_b")) >= threshold)
        if (last)
          // at the LAST step the prune IS the threshold (cap =
          // n_common exactly), so the merge emits FINAL rows
          // straight into the pairs artifact: no separate assembly
          // pass over the survivor set
          pruned.withColumn("jaccard",
            jaccard(col("n_common"), col("n_a"), col("n_b")))
            .select(col("doc_a"), col("doc_b"), col("n_common"),
              col("jaccard"))
        else pruned.select(col("doc_a"), col("doc_b"), col("n_common"))
      }
      if (last)
        out.write.mode("append").parquet(outPath)
      else if (outPath.contains("/pb="))
        out.sortWithinPartitions(col("doc_a"), col("doc_b"))
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(outPath)
      else
        // whole-step single-job merge keeps the partitionBy layout so
        // a later (bigger) step can still consume it bucket-by-bucket
        out.withColumn("pb",
            pmod(xxhash64(col("doc_a"), col("doc_b")),
              lit(slices.toLong)))
          .sortWithinPartitions(col("pb"), col("doc_a"), col("doc_b"))
          .write.mode("overwrite").option("compression", "zstd")
          .partitionBy("pb").parquet(outPath)
    }
    var i = 0
    while (i < slices) {
      jaccardSlicePartial(documents, n, maxDf, slices, i, slices)
        .sortWithinPartitions(col("pb"), col("doc_a"), col("doc_b"))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("pb")
        .parquet(s"$partialsDir/slice=$i")
      gcIfBig(s"$partialsDir/slice=$i")
      // fold slice i into the running accumulator; prune only once
      // the slice-suffix budget can actually kill a pair (expected
      // rem/|A| = (K−1−i)/K dips below 2t/(1+t), the minimum
      // intersection share a threshold-t pair needs) — and always at
      // the last step, where the prune is the threshold
      val doPrune = i == slices - 1 ||
        (slices - 1 - i).toDouble / slices < 2 * threshold / (1 + threshold)
      val last = i == slices - 1
      // merge granularity is a DATA-SIZE decision: below the byte
      // bound, one job folds every bucket (job-launch overhead is the
      // dominant cost — the catalog/demo regime); above it, buckets
      // merge as SEQUENTIAL partition-pruned jobs whose superseded
      // shuffles and replaced accumulator buckets free between jobs —
      // the disk-bounded regime the 4096×/16384× gates certify
      // (DedupSpec pins row-identity of both via mergeBucketBytes=0)
      val stepBytes = math.max(dirBytes(s"$partialsDir/slice=$i"), 0L) +
        math.max(dirBytes(s"$accDir/step=${i - 1}"), 0L)
      if (stepBytes <= mergeBucketBytes) {
        val prev = leafOrEmpty(spark, s"$accDir/step=${i - 1}",
          bucketedSchema)
        val cur = leafOrEmpty(spark, s"$partialsDir/slice=$i",
          bucketedSchema)
        val summed = prev.unionByName(cur)
          .select(col("doc_a"), col("doc_b"), col("n_common"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(sum(col("n_common")).as("n_common"))
        mergeOut(summed, i, doPrune, last,
          if (last) pairsDir else s"$accDir/step=$i")
        if (i > 0) deleteDir(s"$accDir/step=${i - 1}")
      } else {
        var b = 0
        while (b < slices) {
          val prev = leafOrEmpty(spark, s"$accDir/step=${i - 1}/pb=$b",
            partialSchema)
          val cur = leafOrEmpty(spark, s"$partialsDir/slice=$i/pb=$b",
            partialSchema)
          val summed = prev.unionByName(cur)
            .groupBy(col("doc_a"), col("doc_b"))
            .agg(sum(col("n_common")).as("n_common"))
          mergeOut(summed, i, doPrune, last,
            if (last) pairsDir else s"$accDir/step=$i/pb=$b")
          if (i > 0) deleteDir(s"$accDir/step=${i - 1}/pb=$b")
          gcIfBig(if (last) pairsDir else s"$accDir/step=$i/pb=$b")
          b += 1
        }
      }
      deleteDir(s"$partialsDir/slice=$i")
      // the acc_bytes curve is the measured disk model (SCALING.md)
      Console.err.println(s"JPS step=$i/${slices} prune=$doPrune " +
        s"step_in_bytes=$stepBytes " +
        (if (last) s"pairs_bytes=${dirBytes(pairsDir)}"
         else s"acc_bytes=${dirBytes(s"$accDir/step=$i")}"))
      i += 1
    }
    deleteDir(accDir)
    // a fully-empty result may have appended nothing — the read
    // contract still needs a directory (schema comes from the caller)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(pairsDir))
  }

  /** Length-filtered candidate pairs from the prefix index over a
    * (persisted) shingle-hash relation — the verify join's input:
    * (doc_a, doc_b, na, nb). Factored out so the candidate VOLUME at a
    * threshold is measurable on its own (SCALING.md's selectivity
    * curve) without running the verify join. */
  private[graft] def prefixCandidates(sh: DataFrame, threshold: Double): DataFrame = {
    // df via a grouped count joined back (a list-free shuffle of (h,
    // count) pairs — building collect_list postings only to re-explode
    // them allocates every list twice for nothing); one shuffle by doc
    // then ranks rare-first, with |d| riding the same doc partition as
    // a window count, so no size join is needed
    val byDoc = Window.partitionBy(col("doc_id"))
    val rarity = byDoc.orderBy(col("df"), col("h"))
    val dfByHash = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfByHash, Seq("h"))
      .withColumn("rk", row_number().over(rarity))
      .withColumn("n_sh", count(lit(1)).over(byDoc))
      .filter(col("rk") <=
        col("n_sh") - ceil(col("n_sh") * threshold) + lit(1))
      .select(col("doc_id"), col("h"))
    // candidate pairs via self-equi-join on the prefix-token hash (the
    // r13 posting-list-free form — see jaccardPairs: no per-group
    // object aggregation, the pair stream spills row-at-a-time)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // PPJoin LENGTH filter before any array ships: J(A,B) ≥ t forces
    // min(|A|,|B|) ≥ t·max(|A|,|B|) — provably lossless, and the size
    // join is (long, int) rows, ~30× narrower than the hash arrays the
    // verify join carries, so pruning here is nearly free
    // int cast: keep n_sh (and the na/nb it feeds) IntegerType, matching
    // the size()-derived schema this relation replaced (ADVICE r8 — the
    // grouped count is LongType and silently widened downstream columns)
    val sizes = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_sh"))
    cand
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")),
        Seq("doc_b"))
      .filter(least(col("na"), col("nb")).cast("double") >=
        greatest(col("na"), col("nb")).cast("double") * threshold)
  }

  /** Exact set-similarity join via PREFIX FILTERING (the PPJoin family):
    * rank each document's shingles by global rarity (df, then hash) and
    * index only the first |d| − ⌈t·|d|⌉ + 1 of them. Soundness: J(A,B) ≥ t
    * forces |A∩B| ≥ ⌈t·|A|⌉, and any pair overlapping that much must
    * collide inside both prefixes (pigeonhole on the globally-ordered
    * suffix) — so unlike [[jaccardPairs]]' maxDf posting cap this
    * candidate generator is provably LOSSLESS while indexing only the
    * rare tail of each document. Candidates are then verified with an
    * exact intersection count restricted to the candidate set.
    *
    * Scale: the posting lists that explode into pairs hold only prefix
    * tokens — the frequent shingles that dominate Σdf² never enter the
    * index; verification joins each candidate pair against the two
    * docs' hash ARRAYS (one row per doc) and intersects them inside
    * codegen (`array_intersect` — hash-set, O(|A|+|B|) per pair), so
    * the verify stage shuffles |cand| rows carrying small arrays
    * instead of materializing candidate × per-doc-shingle rows (the
    * row-form join measured ~20M intermediate rows on a 260k-shingle
    * corpus — Σ|A| per candidate, for nothing). */
  def jaccardPrefixPairs(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.4): DataFrame = {
    // sh is a narrow (long, long) relation post-hash, so one
    // materialization beats three shingle+hash recomputes — unlike the
    // string-heavy exploded relations where persist measured slower.
    val sh = shingleHashes(documents, n).persist()
    val candLen = prefixCandidates(sh, threshold)
    // one SORTED hash array per doc — shingles are distinct per doc by
    // construction, so |array| is the set size and the sorted two-
    // pointer merge (custom codegen'd expression — array_intersect's
    // per-row hash set was measured as ~85% of the verify stage at 33M
    // candidates) counts the exact overlap; sorting happens ONCE at doc
    // grain, not per pair
    val docArrays = sh.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("h"))).as("hs"))
    val result = candLen
      .join(docArrays.select(col("doc_id").as("doc_a"), col("hs").as("ha")),
        Seq("doc_a"))
      .join(docArrays.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.VectorFunctions
          .sortedIntersectCount(col("ha"), col("hb")).as("n_common"),
        col("na"), col("nb"))
      .withColumn("jaccard", jaccard(col("n_common"), col("na"), col("nb")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
      // Cache swap: materialize the RESULT (threshold-filtered pairs — the
      // small end of the funnel) while `sh` is hot, then release `sh`.
      // Without this, the exploded shingle-hash cache (O(corpus×shingles))
      // stays pinned for the life of the session; the surviving cache is
      // the deliverable itself, dimension-sized. CALLER CONTRACT (ADVICE
      // r6): each call returns a fresh persisted result — callers that
      // rebuild repeatedly in one long-lived session own `.unpersist()`
      // on results they drop. MEMORY_AND_DISK (not the MEMORY_ONLY
      // default) so stacked result caches degrade to disk, not eviction
      // churn, if a caller does leak them.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    sh.unpersist()
    result
  }

  /** Set-CONTAINMENT near-dup pairs (Broder's asymmetric companion to
    * Jaccard): C(A→B) = |A∩B| / |A| — flags a document whose shingle
    * set is mostly contained in another's, the quote-inclusion /
    * subset-duplication case symmetric Jaccard MISSES when the
    * container is much larger (J = |A∩B|/|A∪B| shrinks with |B| while
    * C(A→B) stays high). One row per DIRECTED containment ≥
    * `threshold`: (doc_id, container_id, n_common, containment).
    *
    * Scale: identical machinery to [[jaccardPairs]] — df-capped
    * candidate pairs via the df-pruned self-equi-join (never
    * all-pairs, no posting-list objects — the r13 spill-merge fix,
    * see jaccardPairs), one grouped intersection count per unordered
    * pair, then BOTH directions evaluated from the same (n_common,
    * |A|, |B|) row, so asymmetry costs zero extra joins. */
  def containmentPairs(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.9, maxDf: Int = 1000): DataFrame = {
    val sizes = docSizes(documents, n)
    prunedPairCounts(shingleHashes(documents, n), maxDf)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")),
        Seq("doc_b"))
      // both directions from one pair row: (contained, container, |A|)
      .select(col("n_common"), explode(array(
        struct(col("doc_a").as("d"), col("doc_b").as("c"),
          col("na").as("sz")),
        struct(col("doc_b").as("d"), col("doc_a").as("c"),
          col("nb").as("sz")))).as("e"))
      .select(col("e.d").as("doc_id"), col("e.c").as("container_id"),
        col("n_common"),
        (col("n_common").cast("double") / col("e.sz").cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy(col("doc_id"), col("container_id"))
  }

  /** DuckDB oracle for [[containmentPairs]]. */
  def containmentOracleSql(threshold: Double = 0.9,
      maxDf: Int = 1000): String =
    s"""WITH ${shinglesSql()},
       sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       df AS (SELECT shingle FROM sh GROUP BY shingle
         HAVING count(*) BETWEEN 2 AND $maxDf),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         FROM sh a JOIN sh b
           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         WHERE a.shingle IN (SELECT shingle FROM df)
         GROUP BY 1, 2),
       dirs AS (
         SELECT doc_a AS doc_id, doc_b AS container_id, n_common,
           CAST(n_common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE)
             AS containment
         FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
         UNION ALL
         SELECT doc_b AS doc_id, doc_a AS container_id, n_common,
           CAST(n_common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE)
             AS containment
         FROM pairs JOIN sizes sb ON doc_b = sb.doc_id)
       SELECT doc_id, container_id, n_common, containment
       FROM dirs WHERE containment >= $threshold
       ORDER BY doc_id, container_id"""

  /** MinHash signatures via explode + min-aggregation: shingles are
    * materialized ONCE per document, each shingle row gets k salted
    * hashes (cheap codegen'd xxhash64), and the k mins are collected by a
    * map-side-combining hash aggregate. This is one data pass; computing
    * the signature as a single nested expression would re-evaluate the
    * shingle construction k times per row (measured 10× slower). */
  def minhashSignatures(documents: DataFrame, k: Int = 32, n: Int = 3): DataFrame = {
    val exploded = documents
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("s"))
    val hashed = exploded.select(
      col("doc_id") +: (0 until k).map(i =>
        xxhash64(lit(s"mh$i"), col("s")).as(s"h$i")): _*)
    hashed
      .groupBy(col("doc_id"))
      .agg(min(col("h0")).as("h0"),
        (1 until k).map(i => min(col(s"h$i")).as(s"h$i")): _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Engine-neutral MinHash: the same MinHash+LSH pipeline with every
    * hash replaced by arithmetic BOTH engines compute bit-identically,
    * making the full approximate-dedup path DuckDB-oracle-checkable
    * (the trick that oracled SRP-LSH and q_rolling_fp):
    *  - base shingle hash: the first 4 md5 bytes as an unsigned
    *    big-endian int (≡ DuckDB `('0x'||substr(md5(s),1,8))::BIGINT`),
    *    reduced mod P = 2³¹−1;
    *  - k universal-family hashes h_i(x) = (a_i·x + b_i) mod P with
    *    constants from one fixed LCG (products < 2⁶² — no overflow in
    *    either engine, ANSI-safe);
    *  - LSH bands keyed by the r-slice of the signature itself (array
    *    equality join — no band hash needed);
    *  - est. Jaccard = agreement/k with k a power of two, so the double
    *    division is exact.
    * Both hashes run inside one native kernel per document
    * ([[NeutralMinHash.signature]]). Scale shape is identical to
    * [[minhashLshPairs]]; the md5 base hash costs ~2× xxhash64, which is
    * why the fast variant stays the default and this one exists to put
    * the whole minhash path under the oracle. */
  object NeutralMinHash {
    import graft.functions.NeutralMinHashSignature
    val P: Long = NeutralMinHashSignature.P
    /** Fixed LCG constants (a_i odd-ish nonzero, b_i arbitrary) — embedded
      * identically in the Spark plan and the generated oracle SQL. */
    def a(i: Int): Long = NeutralMinHashSignature.a(i)
    def b(i: Int): Long = NeutralMinHashSignature.b(i)

    /** The k lane minima over the row's distinct word n-gram shingles
      * (null for null text) — the native
      * [[graft.functions.NeutralMinHashSignature]] kernel. */
    def signature(text: Column, k: Int = 16, n: Int = 3): Column =
      NeutralMinHashSignature.signature(text, k, n)

    /** SQL twin of [[signaturesBy]]: CTEs tok → sh → hx → consts →
      * sig1 → `sigs(<grain>, sig)`, one k-lane signature per `grain`
      * value over its word `n`-gram shingles. */
    def sigsCteSql(k: Int, n: Int, grain: String): String = {
      val consts = (0 until k)
        .map(i => s"($i, ${a(i)}, ${b(i)})").mkString(", ")
      s"""${shinglesSql(n, grain)},
         hx AS (
           SELECT $grain,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT % $P AS x
           FROM sh),
         consts(i, a, b) AS (VALUES $consts),
         sig1 AS (
           SELECT $grain, i, min((a * x + b) % $P) AS m
           FROM hx CROSS JOIN consts GROUP BY $grain, i),
         sigs AS (
           SELECT $grain, list(m ORDER BY i) AS sig FROM sig1
           GROUP BY $grain)"""
    }

    /** Shared CTE prefix (tok → … → bands) — the SQL twin of
      * [[neutralBands]], used by every neutral-minhash oracle. */
    def bandsCteSql(k: Int = 16, bands: Int = 4, n: Int = 3): String = {
      val r = k / bands
      val bandRows = (0 until bands).map(i => s"($i)").mkString(", ")
      s"""${sigsCteSql(k, n, "doc_id")},
         bands AS (
           SELECT doc_id, sig, band,
             sig[band * $r + 1 : band * $r + $r] AS key
           FROM sigs CROSS JOIN (VALUES $bandRows) b(band))"""
    }

    /** SQL twin of [[bucketPairs]] over the band index:
      * `cands(doc_a, doc_b, sa, sb)`. */
    val candsSql: String =
      """cands AS (
           SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.sig AS sa, y.sig AS sb
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)"""

    /** DuckDB oracle SQL for [[minhashLshPairsNeutral]] with the same
      * constants, shingling, banding, and threshold. */
    def oracleSql(k: Int = 16, bands: Int = 4, threshold: Double = 0.5,
        n: Int = 3): String =
      s"""WITH ${bandsCteSql(k, bands, n)},
         $candsSql
         SELECT doc_a, doc_b, ${agreementSql(k)} AS est_jaccard
         FROM cands
         WHERE ${agreementSql(k)} >= $threshold
         ORDER BY doc_a, doc_b"""

    /** DuckDB oracle SQL for [[incrementalDedup]]. */
    def incrementalOracleSql(incomingSource: String = "src0", k: Int = 16,
        bands: Int = 4, n: Int = 3): String =
      s"""WITH ${bandsCteSql(k, bands, n)},
         inc AS (
           SELECT doc_id FROM documents WHERE source = '$incomingSource'),
         hits AS (
           SELECT DISTINCT x.doc_id
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.key = y.key AND x.doc_id <> y.doc_id
           WHERE x.doc_id IN (SELECT doc_id FROM inc)
             AND y.doc_id NOT IN (SELECT doc_id FROM inc))
         SELECT i.doc_id, h.doc_id IS NULL AS keep
         FROM inc i LEFT JOIN hits h ON i.doc_id = h.doc_id
         ORDER BY i.doc_id"""
  }

  /** Engine-neutral minhash signature at an ARBITRARY grain: one
    * (grain, sig[k]) row per distinct grain value — the shared chain
    * behind [[neutralBands]] (doc grain) and [[sourceSignatures]]
    * (source grain), so the "same constants, same shingling"
    * cross-operator contract lives in exactly one place.
    *
    * One [[NeutralMinHash.signature]] kernel call per row, then an
    * elementwise min per grain value: min is associative, so repeated
    * doc ids and the source grain fold exactly as the per-shingle min
    * did. Rows with null text drop out (they have no shingles).
    * Hashing per document, not per exploded shingle row, keeps the md5
    * and the k lanes out of ANSI-checked per-row arithmetic (265k
    * shingle rows at sf0.1); NeutralMinHashSpec keeps the composed
    * per-shingle chain as the reference. */
  private[graft] def signaturesBy(documents: DataFrame, grain: String,
      k: Int, n: Int): DataFrame = {
    val sig = col("sig")
    documents.filter(col("text").isNotNull)
      .select(col(grain),
        NeutralMinHash.signature(col("text"), k, n).as("sig"))
      .groupBy(col(grain))
      .agg(array((0 until k).map(i => min(sig(i))): _*).as("sig"))
  }

  /** Engine-neutral banded signatures: (doc_id, sig, band, band_key) —
    * the shared LSH index both [[minhashLshPairsNeutral]] and
    * [[incrementalDedup]] build. */
  def neutralBands(documents: DataFrame, k: Int = 16, bands: Int = 4,
      n: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val sigs = signaturesBy(documents, "doc_id", k, n)
    sigs.select(
      col("doc_id"), col("sig"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        bnd => slice(col("sig"), bnd * r + 1, lit(r)))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
  }

  /** Incremental (new-batch-vs-corpus) dedup — the production shape of
    * LSH dedup: an arriving batch is checked against the existing
    * corpus's band index and only unseen documents are kept. The corpus
    * index is built once and reused across batches (here rebuilt,
    * since the fixture has no persisted index); the decision is the
    * standard LSH candidate gate (any shared band ⇒ duplicate).
    *
    * Scale: the join is per-band-key equi (the inverted index), never
    * all-pairs; the incoming side is the small one and the output is
    * ids+flags only. */
  def incrementalDedup(documents: DataFrame, incomingSource: String = "src0",
      k: Int = 16, bands: Int = 4, n: Int = 3): DataFrame = {
    val bandsDf = neutralBands(documents, k, bands, n)
    val inc = documents.filter(col("source") === incomingSource)
      .select(col("doc_id"))
    val incBands = bandsDf.join(inc, Seq("doc_id"))
      .select(col("doc_id"), col("band"), col("band_key"))
    val corpusBands = bandsDf.join(inc, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("c_doc_id"), col("band").as("c_band"),
        col("band_key").as("c_band_key"))
    val hits = incBands.join(corpusBands,
        col("band") === col("c_band") &&
          col("band_key") === col("c_band_key") &&
          col("doc_id") =!= col("c_doc_id"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(true))
    inc.join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("hit").isNull.as("keep"))
      .orderBy(col("doc_id"))
  }

  /** MinHash estimator accuracy: for every LSH candidate pair, the
    * signature-agreement estimate vs the EXACT Jaccard, and the error —
    * the acceptance measurement for a (k, bands) configuration, computed
    * in-engine (the minhash analogue of q_ann_recall / q_pq_recall).
    * The exact side touches only candidate pairs, never the corpus
    * square; the inner verification join is lossless because a shared
    * band forces r equal signature minima, and the LCG hash families
    * are invertible mod P — equal minima imply a shared shingle. */
  def minhashEstimate(documents: DataFrame, k: Int = 16, bands: Int = 4,
      n: Int = 3): DataFrame = {
    val cand = bucketPairs(neutralBands(documents, k, bands, n),
      "band", "band_key", col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
    val sh = shingleHashes(documents, n)
    val sizes = docSizes(documents, n)
    // The signatures RIDE THROUGH the n_common aggregation (min() is
    // exact here: sig_a/sig_b are functionally determined by the group
    // key; unlike first(), min() stays deterministic should that
    // uniqueness ever break) instead of joining `cand` back against
    // itself — the old `cand.join(common, ...)` form planned the whole
    // band-index self-join + signature aggregation TWICE (r17 plan
    // audit). The re-join was lossless anyway (shared band ⇒ r equal minima ⇒ a
    // shared shingle ⇒ n_common ≥ 1, see scale note above), so every
    // cand pair survives and the rows are identical; at scale this
    // carries 2k longs per candidate-shingle row instead of a second
    // full corpus signature pass.
    val common = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")),
        Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"),
        min(col("sig_a")).as("sig_a"), min(col("sig_b")).as("sig_b"))
    common
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("est_jaccard", agreement(col("sig_a"), col("sig_b"), k))
      .withColumn("exact_jaccard",
        jaccard(col("n_common"), col("sa.n_sh"), col("sb.n_sh")))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        col("exact_jaccard"),
        (col("est_jaccard") - col("exact_jaccard")).as("err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB oracle for [[minhashEstimate]] — same constants, banding,
    * and exact-Jaccard arithmetic. */
  def minhashEstimateOracleSql(k: Int = 16, bands: Int = 4,
      n: Int = 3): String = {
    val est = agreementSql(k)
    s"""WITH ${NeutralMinHash.bandsCteSql(k, bands, n)},
       ${NeutralMinHash.candsSql},
       ${jaccardSql(Some("cands"))}
       SELECT c.doc_a, c.doc_b,
         $est AS est_jaccard,
         j.jaccard AS exact_jaccard,
         $est - j.jaccard AS err
       FROM cands c
       JOIN jac j USING (doc_a, doc_b)
       ORDER BY doc_a, doc_b"""
  }

  /** LSH effectiveness curve — recall of the banded-minhash candidate
    * GATE against the EXACT Jaccard ground truth, per similarity
    * decile: for every true pair with J >= `threshold`, was it
    * surfaced by at least one shared band? The number a dedup
    * deployment reads before committing to a (k, bands) operating
    * point — cost curves (SCALING.md) say what the index spends,
    * this says what it misses (1 - (1 - J^r)^b in expectation; the
    * curve is the measured version, and DedupSpec checks it against
    * that prediction at a planned banding).
    *
    * Scale: the truth side is the PPJoin prefix-filter pair set
    * (exact by construction, oracled, linear in candidates — never
    * the corpus square); the candidate side is the banded inverted
    * index; the comparison joins two pair-grain relations. The whole
    * evaluator is therefore runnable at corpus scale, not just on a
    * sample. */
  def lshRecall(documents: DataFrame, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, n: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // eagerly-persisted truth pairs (jaccardPrefixPairs contract);
    // released below once the decile rows — a ≤10-row model read —
    // are collected, so nothing stays cached after evaluation
    val truth = jaccardPrefixPairs(documents, n, threshold)
    val cand = bucketPairs(neutralBands(documents, k, bands, n),
        "band", "band_key")
      .withColumn("found", lit(1L))
    val rows = truth
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .join(cand, Seq("doc_a", "doc_b"), "left_outer")
      .groupBy(floor(col("jaccard") * 10).as("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(2).toDouble / r.getLong(1).toDouble))
    truth.unpersist()
    rows.toSeq.toDF("bucket", "n_true", "n_found", "recall")
      .orderBy(col("bucket"))
  }

  /** DuckDB oracle for [[lshRecall]]: quadratic all-pairs truth (oracle-
    * only; the engine side never forms it) outer-joined against the
    * neutral band index's candidate pairs, bucketed identically. */
  def lshRecallOracleSql(k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, n: Int = 3): String =
    s"""WITH ${NeutralMinHash.bandsCteSql(k, bands, n)},
       ${NeutralMinHash.candsSql},
       ${jaccardSql()},
       m AS (
         SELECT t.jaccard, c.doc_a IS NOT NULL AS found
         FROM jac t LEFT JOIN cands c
           ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
         WHERE t.jaccard >= $threshold)
       SELECT CAST(floor(jaccard * 10) AS BIGINT) AS bucket,
         count(*) AS n_true,
         CAST(sum(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         CAST(sum(CASE WHEN found THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS recall
       FROM m GROUP BY 1 ORDER BY 1"""

  /** Cross-source content-overlap dashboard from MERGEABLE corpus-level
    * minhash signatures: each source's signature is the elementwise min
    * of the per-shingle permuted hashes over ALL its documents — a
    * 16-long sketch of the source's entire shingle set — and the
    * estimated Jaccard between two sources' shingle sets is the
    * fraction of agreeing positions. The input for corpus-mixing
    * decisions ("how much of src_a is already in src_b?") at a cost
    * that never materializes either side's shingle set twice.
    *
    * Scale: min is associative+commutative, so the signature aggregate
    * is ONE map-side-combining hash agg on `source` — partial
    * signatures merge across partitions, days, or whole corpora by
    * elementwise min (the mergeable-sketch contract; pinned in
    * DedupSpec by splitting the corpus and merging the halves).
    * S sources leave S×k longs; the pair comparison is S², driver-
    * trivial. Uses the [[NeutralMinHash]] family → fully DuckDB-oracled
    * (same constants, same shingling). */
  def sourceOverlap(documents: DataFrame, k: Int = 16, n: Int = 3)
      : DataFrame = {
    val sigs = sourceSignatures(documents, k, n)
    val left = sigs.select(col("source").as("src_a"), col("sig").as("sa"))
    val right = sigs.select(col("source").as("src_b"), col("sig").as("sb"))
    left.join(broadcast(right), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        agreement(col("sa"), col("sb"), k).as("est_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The per-source mergeable signature relation behind
    * [[sourceOverlap]]: (source, sig[k]) — [[signaturesBy]] at source
    * grain. */
  def sourceSignatures(documents: DataFrame, k: Int = 16, n: Int = 3)
      : DataFrame = signaturesBy(documents, "source", k, n)

  /** DuckDB oracle for [[sourceOverlap]] — the [[NeutralMinHash]] CTE
    * chain regrouped at source grain (both k and the shingle width n
    * threaded through, matching the Spark side's parameters). */
  def sourceOverlapOracleSql(k: Int = 16, n: Int = 3): String =
    s"""WITH ${NeutralMinHash.sigsCteSql(k, n, "source")}
       SELECT x.source AS src_a, y.source AS src_b,
         ${agreementSql(k, "x.sig", "y.sig")} AS est_jaccard
       FROM sigs x JOIN sigs y ON x.source < y.source
       ORDER BY src_a, src_b"""

  /** [[minhashLshPairs]] with engine-neutral hashing (see
    * [[NeutralMinHash]]) — fully DuckDB-oracled. */
  def minhashLshPairsNeutral(documents: DataFrame, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.5, n: Int = 3): DataFrame =
    lshPairs(neutralBands(documents, k, bands, n), "band_key", k, threshold)

  /** The banded candidate pairs of a (doc_id, sig, band, `key`) index,
    * scored by [[agreement]] and kept at `threshold` — the tail both
    * MinHash+LSH twins share. */
  private def lshPairs(banded: DataFrame, key: String, k: Int,
      threshold: Double): DataFrame =
    bucketPairs(banded, "band", key,
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .withColumn("est_jaccard", agreement(col("sig_a"), col("sig_b"), k))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** MinHash+LSH near-dup pairs: signatures → b bands of r rows → band
    * hash → inverted index on (band, hash) → candidate pairs → verified
    * with estimated Jaccard (signature agreement fraction). */
  def minhashLshPairs(documents: DataFrame, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, n: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val sigs = minhashSignatures(documents, k, n)
    val banded = sigs.select(
      col("doc_id"), col("sig"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        bnd => xxhash64(concat_ws(",",
          transform(slice(col("sig"), bnd * r + 1, lit(r)), _.cast("string")))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    lshPairs(banded, "band_hash", k, threshold)
  }

  /** Column-arg right shift (functions.shiftright only takes an Int). */
  private def shr(a: Column, b: Column): Column =
    call_function("shiftright", a, b)

  /** SimHash (64-bit) fingerprints: each token's hash votes ±1 on every
    * bit, and the sign of a bit's vote sum is the fingerprint bit. One
    * token pass via explode + wide aggregation (64 map-side-combining
    * vote sums per doc), so the token array is materialized once, not
    * once per bit. */
  def simhashFingerprints(documents: DataFrame): DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val votes = tok.groupBy(col("doc_id")).agg(
      sum(when(col("h").bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as("b0"),
      (1 until 64).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"b$b")): _*)
    votes.select(col("doc_id"),
      (0 until 64).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce((a, c) => a.bitwiseOR(c)).as("fp"))
  }

  /** SimHash near-dup candidate pairs with exact Hamming verification. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    chunkPairs(simhashFingerprints(documents), 4,
      bit_count(col("a.fp").bitwiseXOR(col("b.fp"))), maxHamming)

  /** The SimHash candidate gate both fingerprint families share: each
    * (doc_id, fp) row's `chunks` 16-bit chunks are the bucket index (a
    * Hamming distance below `chunks` leaves one chunk equal, by
    * pigeonhole), and candidate pairs keep `hamming` (spelled over the
    * `a.fp` and `b.fp` sides) <= `maxHamming`. */
  private def chunkPairs(fp: DataFrame, chunks: Int, hamming: Column,
      maxHamming: Int): DataFrame = {
    val chunked = fp.select(
      col("doc_id"), col("fp"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)),
        i => shr(col("fp"), i * 16).bitwiseAND(lit(0xFFFFL)))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
    bucketPairs(chunked, "chunk_idx", "chunk", hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Engine-neutral SimHash (the [[NeutralMinHash]] treatment applied to
    * SimHash): 32-bit fingerprints whose token hash is the md5-prefix
    * bigint, vote arithmetic is pure integers (bit b set iff
    * 2·ones(b) > n_tokens — strictly-positive vote, ties round to 0 in
    * both engines), and candidates match on 2×16-bit chunks (pigeonhole:
    * hamming ≤ 1 guarantees an equal half). Fully DuckDB-oracled;
    * [[simhashPairs]] (xxhash64, 64-bit) remains the fast engine-native
    * default. Same scale shape: one token pass, 32 map-side-combining
    * vote sums per doc, chunk-keyed equi-join, never all-pairs. */
  def simhashPairsNeutral(documents: DataFrame, maxHamming: Int = 1)
      : DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"),
        (conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long")).as("h"))
    val votes = tok.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tok"),
      (0 until 32).map(b =>
        sum(shr(col("h"), lit(b)).bitwiseAND(lit(1L))).as(s"o$b")): _*)
    val fp = votes.select(col("doc_id"),
      (0 until 32).map(b =>
        when(col(s"o$b") * 2 > col("n_tok"), lit(1L << b)).otherwise(lit(0L)))
        .reduce((a, c) => a.bitwiseOR(c)).as("fp"))
    chunkPairs(fp, 2,
      bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("long"), maxHamming)
  }

  /** DuckDB oracle for [[simhashPairsNeutral]]. */
  def simhashNeutralOracleSql(maxHamming: Int = 1): String =
    s"""WITH tok AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       hx AS (
         SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
         FROM tok),
       bits AS (
         SELECT doc_id, i,
           sum((h >> i) & 1) AS ones, count(*) AS n
         FROM hx CROSS JOIN (SELECT unnest(range(32)) AS i)
         GROUP BY doc_id, i),
       fp AS (
         SELECT doc_id,
           CAST(sum(CASE WHEN 2 * ones > n THEN (1::BIGINT << i)
             ELSE 0 END) AS BIGINT) AS fp
         FROM bits GROUP BY doc_id),
       chunked AS (
         SELECT doc_id, fp, j AS chunk_idx, (fp >> (j * 16)) & 65535 AS chunk
         FROM fp CROSS JOIN (SELECT unnest(range(2)) AS j)),
       cands AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         FROM chunked a JOIN chunked b
           ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
             AND a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, hamming FROM cands
       WHERE hamming <= $maxHamming ORDER BY doc_a, doc_b"""

  /** Exact substring dedup (the "dedup at the substring level" pass of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): slide a `w`-char window with stride `s` over every
    * document, hash each window, and flag any document that shares a
    * window hash with an earlier (lower doc_id) document. Output per
    * flagged doc: the earliest document it overlaps (`dup_of`) and how
    * many of its windows are shared (`n_shared`).
    *
    * Scale: the index holds total_chars/stride hashes (stride halves it
    * vs dense sliding) at a recall cost: a copied region is detected
    * only when the two documents' window grids align on it — i.e. the
    * copy offsets agree mod stride — in which case any shared run of
    * ≥ w+stride chars contains a common window. For arbitrary offsets
    * the pass is exact only at stride=1 (dense); larger strides trade
    * recall (≈1/stride for random offsets) for an index 1/stride the
    * size. Hot boilerplate windows are
    * df-capped exactly like the Jaccard posting lists; everything is
    * hash-groupBy (md5 — engine-neutral so the query is fully oracled;
    * at production scale swap in xxhash64 for 8-byte shuffle keys). */
  def substringDedup(documents: DataFrame, w: Int = 40, stride: Int = 20,
      maxDf: Int = 1000): DataFrame = {
    val wins = documents
      .filter(length(col("text")) >= w)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("text")) - (w - 1), lit(stride)),
          p => md5(col("text").substr(p, lit(w)))))).as("h"))
    val firsts = wins
      .groupBy(col("h"))
      // wins is distinct per (doc, h), so count(*) == document frequency
      .agg(min(col("doc_id")).as("first_id"), count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
    wins
      .join(firsts, "h")
      .filter(col("doc_id") > col("first_id"))
      .groupBy(col("doc_id"))
      .agg(min(col("first_id")).as("dup_of"), count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[substringDedup]]. */
  def substringDedupOracleSql(w: Int = 40, stride: Int = 20,
      maxDf: Int = 1000): String =
    s"""WITH pos AS (
         SELECT doc_id, text,
           unnest(generate_series(1, length(text) - ${w - 1}, $stride)) AS p
         FROM documents WHERE length(text) >= $w),
       win AS (SELECT DISTINCT doc_id, md5(substr(text, p, $w)) AS h
         FROM pos),
       firsts AS (
         SELECT h, min(doc_id) AS first_id, count(*) AS df FROM win
         GROUP BY h HAVING count(*) BETWEEN 2 AND $maxDf)
       SELECT w.doc_id, min(f.first_id) AS dup_of, count(*) AS n_shared
       FROM win w JOIN firsts f USING (h)
       WHERE w.doc_id > f.first_id
       GROUP BY w.doc_id ORDER BY w.doc_id"""

  /** Blocked k-successor candidate pairs shared by the
    * sorted-neighborhood and fuzzy-join operators: block on an
    * 8-char normalized prefix, sort within each block (window
    * PARTITIONED by block — never a global sort), pair each doc with
    * its k−1 successors. ≤ (k−1)·N candidates regardless of corpus
    * size. */
  private def neighborCandidates(documents: DataFrame, k: Int): DataFrame = {
    val norm = lower(regexp_replace(
      substring(col("text"), 1, 24), "[^A-Za-z0-9]", ""))
    val keyed = documents.select(
      col("doc_id"), norm.as("bkey"), substring(norm, 1, 8).as("blk"))
    val w = Window.partitionBy(col("blk"))
      .orderBy(col("bkey"), col("doc_id"))
    keyed
      .withColumn("nbrs",
        array((1 until k).map(i => lead(col("doc_id"), i).over(w)): _*))
      .select(col("doc_id").as("doc_a"), explode(col("nbrs")).as("doc_b"))
      .filter(col("doc_b").isNotNull)
  }

  /** Sorted-neighborhood near-dup candidates (the classic record-linkage
    * alternative to LSH): block on a normalized text prefix, sort within
    * each block, and compare each doc only to its `k−1` successors in
    * the sort order — candidate count is ≤ (k−1)·N regardless of corpus
    * size. Pairs are scored with the same word-3-gram Jaccard as
    * [[jaccardPairs]] and kept at `threshold`.
    *
    * Scale: the window is PARTITIONED by the blocking key (never a
    * global-sort single-partition window) — each block sorts
    * independently, which is exactly how sorted-neighborhood shards on a
    * cluster; cross-block near-dups are traded away by design (the
    * standard blocking trade-off; run multiple passes with different
    * keys to recover them). Jaccard scoring touches only candidate
    * pairs, never all pairs. */
  def sortedNeighborhoodPairs(documents: DataFrame, k: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    val sh = documents
      .select(col("doc_id"), explode(shingles(col("text"))).as("s"))
    val sizes = docSizes(documents, 3)
    neighborCandidates(documents, k)
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.s") === col("sb.s"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .withColumn("jaccard",
        jaccard(col("n_common"), col("za.n_sh"), col("zb.n_sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SQL twin of [[neighborCandidates]]: CTEs keyed → blocked → pairs
    * → `cand(doc_a, doc_b)`. */
  private def neighborCandidatesSql(k: Int): String = {
    val leads = (1 until k)
      .map(i => s"lead(doc_id, $i) OVER win").mkString(", ")
    s"""keyed AS (
         SELECT doc_id,
           lower(regexp_replace(substr(text, 1, 24), '[^A-Za-z0-9]', '',
             'g')) AS bkey
         FROM documents),
       blocked AS (SELECT doc_id, bkey, substr(bkey, 1, 8) AS blk
         FROM keyed),
       pairs AS (
         SELECT doc_id AS doc_a, unnest([$leads]) AS doc_b
         FROM blocked
         WINDOW win AS (PARTITION BY blk ORDER BY bkey, doc_id)),
       cand AS (SELECT doc_a, doc_b FROM pairs WHERE doc_b IS NOT NULL)"""
  }

  /** DuckDB oracle for [[sortedNeighborhoodPairs]]. */
  def sortedNeighborhoodOracleSql(k: Int = 4,
      threshold: Double = 0.3): String =
    s"""WITH ${neighborCandidatesSql(k)},
       ${shinglesSql()},
       ${jaccardSql(Some("cand"))}
       SELECT doc_a, doc_b, n_common, jaccard FROM jac
       WHERE jaccard >= $threshold
       ORDER BY doc_a, doc_b"""

  /** Fuzzy join (edit-distance record linkage): the same blocked
    * k-successor candidates as [[sortedNeighborhoodPairs]], scored by
    * Levenshtein distance over a 64-char prefix instead of shingle
    * Jaccard — the classic fuzzy-match shape for names/titles/URLs
    * where token sets are too coarse.
    *
    * Scale: candidates are bounded at (k−1)·N before any distance is
    * computed, and the O(p²) Levenshtein runs on fixed-length prefixes
    * (p=64), so scoring cost is linear in N with a constant matrix
    * size — never all-pairs, never unbounded-length DP. */
  def fuzzyJoinPairs(documents: DataFrame, k: Int = 3,
      maxDist: Int = 20): DataFrame = {
    val pre = documents.select(
      col("doc_id"), substring(col("text"), 1, 64).as("pre"))
    neighborCandidates(documents, k)
      .join(pre.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(pre.as("pb"), col("doc_b") === col("pb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa.pre"), col("pb.pre")).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** [[fuzzyJoinPairs]]' typo-metric twin: the SAME sorted-neighborhood
    * candidate gate scored by the codegen'd
    * [[graft.functions.JaroWinkler]] expression instead of levenshtein
    * — transposition-tolerant similarity for short identity strings,
    * replaying DuckDB's `jaro_winkler_similarity` exactly (probe pairs
    * pinned in DedupSpec). The threshold applies to the ROUNDED score
    * in both engines so a 1-ulp libm-free divergence can never flip a
    * boundary row. Same scale shape: blocked candidates only, 64-char
    * prefixes, never all-pairs. */
  def fuzzyJoinJaroWinkler(documents: DataFrame, k: Int = 3,
      minSim: Double = 0.5): DataFrame = {
    val pre = documents.select(
      col("doc_id"), substring(col("text"), 1, 64).as("pre"))
    neighborCandidates(documents, k)
      .join(pre.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(pre.as("pb"), col("doc_b") === col("pb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.JaroWinkler.jaroWinkler(
          col("pa.pre"), col("pb.pre")), 6).as("jw"))
      .filter(col("jw") >= minSim)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB oracle for [[fuzzyJoinJaroWinkler]]. */
  def fuzzyJoinJaroWinklerOracleSql(k: Int = 3,
      minSim: Double = 0.5): String =
    s"""WITH ${neighborCandidatesSql(k)},
       pre AS (SELECT doc_id, substr(text, 1, 64) AS p FROM documents)
       SELECT doc_a, doc_b,
         round(jaro_winkler_similarity(pa.p, pb.p), 6) AS jw
       FROM cand
       JOIN pre pa ON pa.doc_id = doc_a
       JOIN pre pb ON pb.doc_id = doc_b
       WHERE round(jaro_winkler_similarity(pa.p, pb.p), 6) >= $minSim
       ORDER BY doc_a, doc_b"""

  /** DuckDB oracle for [[fuzzyJoinPairs]]. */
  def fuzzyJoinOracleSql(k: Int = 3, maxDist: Int = 20): String =
    s"""WITH ${neighborCandidatesSql(k)},
       pre AS (SELECT doc_id, substr(text, 1, 64) AS p FROM documents)
       SELECT doc_a, doc_b,
         CAST(levenshtein(pa.p, pb.p) AS INTEGER) AS edit_dist
       FROM cand
       JOIN pre pa ON pa.doc_id = doc_a
       JOIN pre pb ON pb.doc_id = doc_b
       WHERE levenshtein(pa.p, pb.p) <= $maxDist
       ORDER BY doc_a, doc_b"""
}
