package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Cols

/** Embedding similarity search over the `embeddings` fixture table
  * (`vec_id, embedding: array<float> dim=64, label`).
  *
  * All vector math uses higher-order functions (`zip_with`/`aggregate`) on
  * arrays cast to double — native Catalyst expressions, sequential
  * per-row folds (deterministic), no UDFs.
  *
  * One kNN result rule: every top-k search here ranks a query's
  * candidates on the cosine rounded to 6 digits, breaks ties by
  * ascending `vec_id`, keeps ranks ≤ k and outputs the cosine rounded
  * to 3. The rule has one Spark home (`ranked` + `topKRows`, fed by
  * `querySet`; IVF candidates come from `centroidProbe`, recall checks
  * from `recallJoin`) and one SQL twin per helper (`rankedSql`,
  * `topKRowsSql`, `probeSql`, `recallSql`, `exactMeansSql`) that the
  * DuckDB oracles call. The two sides are written independently, like
  * [[dist2]] and `d2Sql`: no SQL is generated from Spark code.
  *
  * Scale design:
  *  - Brute-force top-k is the correctness baseline: broadcast the query
  *    vectors (tiny) against the corpus — one scan, per-partition top-k via
  *    window row_number, no corpus shuffle. Linear in corpus size.
  *  - The scale path is bucketed ANN: a random-hyperplane LSH signature
  *    (SRP) assigns each vector to a bucket; queries probe only their own
  *    bucket → cost drops from O(N) to O(N/2^bits) per query. The bucket
  *    id doubles as a partitioning/bucketing key on disk at 100 TB.
  *  - IVF: each query probes the inverted lists of its nearest coarse
  *    centroids only. The centroids are per-label exact means
  *    ([[ivfTopK]]), one Lloyd refinement of them ([[ivfRefinedTopK]]),
  *    or the multi-round [[kmeansTrain]] model ([[ivfTrainedTopK]]).
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Cosine via the native codegen expression (graft.functions
    * .CosineSimilarity) — same sequential double fold as the HOF form
    * (`dot(a,b)/(norm(a)*norm(b))`), so results are bit-identical, but
    * ~3-5× faster on the candidate-pair hot paths. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Pairwise cosine between a small set of vectors (vec_id < bound) —
    * deterministic per-row fold, oracle-checkable with rounding. */
  def pairwiseCosine(embeddings: DataFrame, bound: Int = 10): DataFrame = {
    val small = embeddings.filter(col("vec_id") < bound)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    small.as("a").join(small.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("id_a"),
        col("b.vec_id").as("id_b"),
        round(cosine(col("a.v"), col("b.v")), 3).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The query set: the first `nQueries` vectors of `corpus` (`vec_id`,
    * `v`, ...) as (`query_id`, `q`, `extra`...). */
  private def querySet(corpus: DataFrame, nQueries: Int,
      extra: Column*): DataFrame =
    corpus.filter(col("vec_id") < nQueries)
      .select(Seq(col("vec_id").as("query_id"), col("v").as("q")) ++ extra: _*)

  /** The ranked step of the kNN rule over (query, candidate) rows that
    * carry `q` and `v`: `cos` is their cosine rounded to 6 digits,
    * `rank` the per-query row number by (cos desc, vec_id asc), and
    * ranks above `k` are dropped. */
  private def ranked(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cands
      .withColumn("cos", round(cosine(col("q"), col("v")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The public kNN output of a [[ranked]] frame: (query_id, rank,
    * vec_id, `extra`..., cos rounded to 3), ordered by query and rank. */
  private def topKRows(r: DataFrame, extra: Column*): DataFrame =
    r.select(Seq(col("query_id"), col("rank"), col("vec_id")) ++ extra :+
        round(col("cos"), 3).as("cos"): _*)
      .orderBy(col("query_id"), col("rank"))

  /** Exact top-k of every query in `corpus` (`vec_id`, `v`, ...) against
    * the rest of it, as a [[ranked]] frame: queries broadcast against
    * one corpus scan. */
  private def bruteRanked(corpus: DataFrame, nQueries: Int, k: Int)
      : DataFrame =
    ranked(corpus.join(broadcast(querySet(corpus, nQueries)),
      col("vec_id") =!= col("query_id")), k)

  /** Brute-force exact top-k neighbors for each of `nQueries` query
    * vectors: broadcast queries × corpus scan, per-query top-k. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame =
    topKRows(bruteRanked(embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), nQueries, k))

  /** HARD-NEGATIVE mining for contrastive training — for each query
    * vector, the top-k most-cosine-similar corpus vectors with a
    * DIFFERENT label: the negatives that sit closest to the decision
    * boundary, which contrastive/retrieval fine-tuning weights far
    * above random negatives (the in-batch-negatives upgrade every
    * dense-retriever recipe ships). Same plan shape as
    * [[bruteForceTopK]] — queries broadcast against ONE corpus scan,
    * per-query top-k window — with the label-inequality folded into
    * the join condition so mismatched pairs never materialize. At
    * 100 TB the scan side swaps for any of the bucketed ANN paths
    * (IVF lists / LSH buckets) unchanged: the label filter rides the
    * probe join. Complements [[graft.operators.Pipeline]]'s random
    * negative sampling (`q_neg_sample`). */
  def hardNegatives(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val corpus = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val queries = querySet(corpus, nQueries, col("label").as("q_label"))
    topKRows(ranked(corpus.join(broadcast(queries),
      col("label") =!= col("q_label")), k), col("label").as("neg_label"))
  }

  /** SQL twin of `querySet`: the `q` CTE (query_id, qe, `extra`...) over
    * the first `nQueries` rows of relation `from` (vec_id, e, ...). */
  private[graft] def querySetSql(nQueries: Int, from: String = "v",
      extra: String = ""): String =
    s"q AS (SELECT vec_id AS query_id, e AS qe$extra FROM $from " +
      s"WHERE vec_id < $nQueries)"

  /** SQL twin of [[ranked]]: the `ranked` CTE over the candidate
    * relation `cands` (query_id, vec_id, qe, e, ...) — cosine rounded
    * to 6 digits, per-query row number by (cos DESC, vec_id), ranks
    * above `k` dropped. */
  private[graft] def rankedSql(cands: String, k: Int): String =
    s"""ranked AS (SELECT * FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
           FROM (SELECT *, round(${Cols.sqlCosine("qe", "e")}, 6)
               AS cos FROM $cands))
         WHERE rank <= $k)"""

  /** SQL twin of [[topKRows]], over the [[rankedSql]] CTE. */
  private[graft] def topKRowsSql(extra: String = ""): String =
    s"""SELECT query_id, rank, vec_id, ${extra}round(cos, 3) AS cos
       FROM ranked ORDER BY query_id, rank"""

  /** The whole SQL rank tail: [[rankedSql]] then [[topKRowsSql]]. */
  private[graft] def rankTailSql(cands: String, k: Int,
      extra: String = ""): String =
    s"""${rankedSql(cands, k)}
       ${topKRowsSql(extra)}"""

  /** SQL twin of `bruteRanked`: every query joined to the corpus rows
    * that pass `on` (`vec_id <> query_id`, or [[hardNegatives]]'
    * `label <> q_label`), the CTEs up to `ranked`. */
  private def bruteCtes(nQueries: Int, k: Int, on: String): String =
    s"""v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
       ${querySetSql(nQueries, extra = ", label AS q_label")},
       c AS (SELECT query_id, vec_id, label, qe, e FROM v CROSS JOIN q
         WHERE $on),
       ${rankedSql("c", k)}"""

  /** DuckDB oracle for [[bruteForceTopK]]. */
  def bruteForceOracleSql(nQueries: Int = 5, k: Int = 10): String =
    s"WITH ${bruteCtes(nQueries, k, "vec_id <> query_id")} ${topKRowsSql()}"

  /** DuckDB oracle for [[hardNegatives]] — the [[bruteForceTopK]]
    * oracle with the label inequality in the join. */
  def hardNegativesOracleSql(nQueries: Int = 5, k: Int = 10): String =
    s"WITH ${bruteCtes(nQueries, k, "label <> q_label")} " +
      topKRowsSql("label AS neg_label, ")

  /** Quantized-scan kNN — the production memory-bound ANN pattern:
    * the corpus is scanned in its int8-reconstructed form (4 bytes→1
    * byte per dim in storage; here the reconstruction is computed from
    * the same affine code as Pipeline.quantizeEmbeddings), a coarse
    * top-`rerank` per query is taken on quantized cosines, and only the
    * survivors get the exact full-precision cosine + final top-k. At
    * 100 TB the coarse scan reads 1/4 the bytes and the exact pass
    * touches `rerank` vectors per query. All arithmetic (affine code,
    * reconstruct, cosine, HALF_UP rounding) is replicated in the DuckDB
    * oracle — fully oracle-checked end to end. */
  def quantizedTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
      rerank: Int = 30): DataFrame = {
    val corpus = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val lo = array_min(col("v"))
    val hi = array_max(col("v"))
    // Zero-range (constant) vectors reconstruct as identity: the affine
    // code would divide by (hi - lo) = 0 and poison the coarse score
    // with NaN. Mirrored in the DuckDB oracle.
    val recon = when(hi === lo, col("v")).otherwise(transform(col("v"), x =>
      lo + round((x - lo) / (hi - lo) * 255) / 255.0 * (hi - lo)))
    val coded = corpus.select(col("vec_id"), col("v"), recon.as("r"))
    val wCoarse = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse").desc, col("vec_id"))
    topKRows(ranked(coded
      .join(broadcast(querySet(corpus, nQueries)),
        col("vec_id") =!= col("query_id"))
      .withColumn("coarse", round(cosine(col("q"), col("r")), 6))
      .withColumn("crank", row_number().over(wCoarse))
      .filter(col("crank") <= rerank), k))
  }

  /** Product-quantization ANN (ADC scan + exact rerank) — the
    * memory-bound production pattern one step beyond [[quantizedTopK]]:
    * instead of 1 byte per DIMENSION, the corpus stores m (=8) CODES per
    * vector (4 bits each here), and the scan never touches vectors at
    * all — each query precomputes a (sub, code) lookup table and the
    * approximate cosine is a table-sum over the codes (asymmetric
    * distance computation). Survivors get the exact cosine.
    *
    * Codebooks: per-subspace exact per-component means grouped by label
    * (the same deterministic k-means stand-in as [[ivfTopK]]); encode
    * assigns each sub-vector its max-sub-cosine codeword (native codegen
    * cosine). ADC decomposition for cosine: adot = Σ_sub <q_sub, c_sub>,
    * |v̂|² = Σ_sub |c_sub|², acos = adot / (|q|·sqrt(Σ|c_sub|²)) — both
    * sums run as exact decimal aggregations so they are order-independent
    * and oracle-reproducible. Every arithmetic step is mirrored in DuckDB
    * SQL.
    *
    * Scale: the codebook (m × #codes rows) broadcasts; the ADC join
    * touches only (vec_id, sub, code) triples — 100 TB of vectors never
    * move. This demo scans all codes per query; a deployment composes the
    * IVF probe in front (scan one cell's codes, same ADC).
    *
    * Non-null contract: rows with a null `label` are dropped from the
    * codebook by its reuse-alignment `isNotNull` filter, so they train
    * no codeword (every fixture label is non-null). */
  def pqTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
      m: Int = 8, dim: Int = 64, rerank: Int = 100): DataFrame = {
    val subLen = dim / m
    def subSlices(v: Column): Column =
      array((0 until m).map(s => slice(v, s * subLen + 1, subLen)): _*)
    val corpus = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val subs = corpus
      .select(col("vec_id"), col("label"), posexplode(subSlices(col("v"))))
      .select(col("vec_id"), col("label"), col("pos").as("sub"),
        col("col").as("sv"))
    // codebook: per (sub, label) exact per-component mean sub-vector.
    // The explicit isNotNull matches the isnotnull(label) constraint
    // Catalyst infers into the OTHER codebook consumer (`parts`, whose
    // `code` is an inner-join key downstream) but cannot push into this
    // one past the encode window — without it the two codebook
    // instances canonicalize differently and ReuseExchange cannot fold
    // them, so the double-explode aggregation ran twice (r17 plan
    // audit: 2 BroadcastExchange, 0 reused). No labels are null in any
    // fixture (oracle-pinned at all SFs), so rows are unchanged.
    val codebook = subs
      .filter(col("label").isNotNull)
      .select(col("sub"), col("label"), posexplode(col("sv")))
      .groupBy(col("sub"), col("label"), col("pos"))
      .agg((Cols.decSum(col("col"), 12) / count(lit(1)).cast("double"))
        .as("mc"))
      .groupBy(col("sub"), col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mc"))))
        .getField("mc").as("centroid"))
      .withColumnRenamed("label", "code")
    // encode: max-sub-cosine codeword per (vec_id, sub)
    val wEnc = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("scos").desc, col("code"))
    val codes = subs
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("scos", cosine(col("sv"), col("centroid")))
      .withColumn("r", row_number().over(wEnc))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("sub"), col("code"))
    // per-query ADC lookup tables (tiny: nQueries × m × #codes)
    val queries = querySet(corpus, nQueries)
    val qsubs = queries
      .select(col("query_id"), posexplode(subSlices(col("q"))))
      .select(col("query_id"), col("pos").as("sub"), col("col").as("qs"))
    val parts = qsubs
      .join(codebook, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        dot(col("qs"), col("centroid")).as("dpart"),
        dot(col("centroid"), col("centroid")).as("n2part"))
    val qnorm = queries.select(col("query_id"), norm(col("q")).as("qn"))
    // ADC scan over codes only; coarse top-`rerank` per query
    val wCoarse = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("vec_id"))
    val coarse = codes
      .join(broadcast(parts), Seq("sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(Cols.decSum(col("dpart"), 12).as("adot"),
        Cols.decSum(col("n2part"), 12).as("an2"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qnorm), Seq("query_id"))
      .withColumn("acos",
        round(col("adot") / (col("qn") * sqrt(col("an2"))), 6))
      .withColumn("crank", row_number().over(wCoarse))
      .filter(col("crank") <= rerank)
      .select(col("query_id"), col("vec_id"))
    // exact rerank on the survivors only
    topKRows(ranked(coarse
      .join(corpus.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id")), k))
  }

  /** Deterministic pseudo-random hyperplanes (splitmix64 of (plane, dim))
    * — exposed so the DuckDB oracle can embed the SAME constants and
    * reproduce the buckets exactly. */
  def srpPlanes(bits: Int, dim: Int = 64): Seq[Seq[Double]] = {
    def mix(z0: Long): Double = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      // map to [-1, 1)
      (z >>> 11).toDouble / 4503599627370496.0 - 1.0
    }
    (0 until bits).map(p => (0 until dim).map(d => mix(p.toLong * 131 + d)))
  }

  /** Signed-random-projection LSH bucket id (`bits` hyperplanes). */
  def srpBucket(v: Column, bits: Int = 8, dim: Int = 64): Column = {
    val planes = srpPlanes(bits, dim)
    val bitCols = planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(lit(_)): _*)
      when(dot(v, planeCol) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH-bucketed approximate NN: queries probe only their own SRP bucket.
    * The bucket join is an equi-join on bucket id → hash-partitioned,
    * each bucket ~N/2^bits vectors. */
  def lshTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
      bits: Int = 6): DataFrame = {
    val corpus = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", srpBucket(col("v"), bits))
    val queries = querySet(corpus, nQueries, col("bucket").as("qbucket"))
    topKRows(ranked(corpus.join(broadcast(queries),
      col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id")), k))
  }

  /** Multi-probe LSH ANN: each query probes its own SRP bucket PLUS every
    * Hamming-1 neighbor bucket (one hyperplane flipped). Near misses —
    * vectors on the far side of a single hyperplane — are recovered, so
    * recall rises roughly (bits+1)× the candidate volume at the same
    * index; the classic recall/cost dial for SRP indexes. */
  def lshTopKMultiProbe(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10, bits: Int = 6): DataFrame = {
    val corpus = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", srpBucket(col("v"), bits))
    val probes = array((0 to bits).map(i =>
      if (i == 0) col("bucket")
      else col("bucket").bitwiseXOR(lit(1L << (i - 1)))): _*)
    val queries = querySet(corpus, nQueries, explode(probes).as("probe"))
    topKRows(ranked(corpus.join(broadcast(queries),
      col("bucket") === col("probe") && col("vec_id") =!= col("query_id")), k))
  }

  /** Exact per-dimension mean vectors per cluster key (posexplode →
    * exact decimal sum / count → reassemble); exact so the centroids
    * (and every cosine to them) are oracle-reproducible, unlike
    * order-dependent avg(). */
  private def exactMeans(members: DataFrame, keyCol: String): DataFrame =
    members
      .select(col(keyCol), posexplode(col("v")))
      .groupBy(col(keyCol), col("pos"))
      .agg((Cols.decSum(col("col"), 12) /
        count(lit(1)).cast("double")).as("m"))
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .getField("m").as("centroid"))

  /** SQL twin of [[exactMeans]]: one row per `key` of relation `from`
    * (`key`, e) with `c` its exact per-dimension mean 64-dim list. */
  private[graft] def exactMeansSql(from: String, key: String): String =
    s"""SELECT $key, list(m ORDER BY pos) AS c FROM (
           SELECT $key, pos, ${Cols.sqlDecSum("x", 12)}
             / CAST(count(*) AS DOUBLE) AS m
           FROM (SELECT $key, CAST(unnest(range(64)) AS INTEGER) AS pos,
               unnest(e) AS x FROM $from)
           GROUP BY $key, pos)
         GROUP BY $key"""

  /** Each query's `nprobe` best centroids: `queries` (query_id, q)
    * crossed with the broadcast `centroids` (`key`, centroid), scored by
    * the named column `score`, ranked per query by `order` then `key`;
    * output (query_id, q, probe_`key`). */
  private def centroidProbe(queries: DataFrame, centroids: DataFrame,
      key: String, nprobe: Int, score: Column, order: Column): DataFrame = {
    val wq = Window.partitionBy(col("query_id")).orderBy(order, col(key))
    queries.crossJoin(broadcast(centroids))
      .select(col("*"), score)
      .withColumn("r", row_number().over(wq))
      .filter(col("r") <= nprobe)
      .select(col("query_id"), col("q"), col(key).as(s"probe_$key"))
  }

  /** SQL twin of `centroidProbe`: the `probe` CTE (query_id, qe,
    * probe_`key`) keeping, per row of CTE `q`, the `nprobe` best rows of
    * centroid relation `cents` (`key`, c) by `order` (an expression
    * over qe and c.c, with its direction), then `key`. */
  private[graft] def probeSql(cents: String, key: String, nprobe: Int,
      order: String): String =
    s"""probe AS (SELECT query_id, qe, $key AS probe_$key FROM (
           SELECT q.query_id, q.qe, c.$key,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY $order, c.$key) AS r
           FROM q CROSS JOIN $cents c) WHERE r <= $nprobe)"""

  /** SQL twin of [[nearestCentroid]]: each row of the CTE `v` (vec_id,
    * e, ...) at its nearest centroid of `cents` (`key`, c) — cosine
    * DESC, ties by ascending `key`, row 1 kept; output v's columns plus
    * `domain` (the winning `key`) and `scos`. */
  private[graft] def nearestCentroidSql(cents: String, key: String)
      : String = {
    val cos = Cols.sqlCosine("e", "c.c")
    s"""SELECT * EXCLUDE (r) FROM (
           SELECT v.*, c.$key AS domain, $cos AS scos,
             row_number() OVER (PARTITION BY v.vec_id
               ORDER BY $cos DESC, c.$key) AS r
           FROM v CROSS JOIN $cents c) WHERE r = 1"""
  }

  /** `probeSql`'s cosine order: nearest centroid first. */
  private[graft] val cosDescSql: String =
    s"${Cols.sqlCosine("qe", "c.c")} DESC"

  /** IVF-style ANN: coarse centroids (per-label mean vectors — a
    * deterministic stand-in for offline k-means), each query probes its
    * `nprobe` nearest centroids' inverted lists (nprobe is the standard
    * IVF recall/cost dial; lists are disjoint so no dedup is needed).
    * Centroid assignment and probe are broadcast joins; the corpus is
    * scanned once. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
      nprobe: Int = 1): DataFrame = {
    val corpus = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val centroids = exactMeans(corpus.select(col("label"), col("v")), "label")
    // nearest centroid per query (tiny × tiny cross join)
    val probe = centroidProbe(querySet(corpus, nQueries), centroids, "label",
      nprobe, cosine(col("q"), col("centroid")).as("ccos"), col("ccos").desc)
    topKRows(ranked(corpus.join(broadcast(probe),
      col("label") === col("probe_label") && col("vec_id") =!= col("query_id")),
      k))
  }

  /** IVF with ONE k-means (Lloyd) refinement round: the per-label seed
    * centroids are refined by re-assigning every vector to its nearest
    * seed and recomputing exact means over the new clusters — the
    * iterative-ML shape (assign = cross join vs broadcast centroids;
    * re-mean = one exact-decimal aggregation) that a full k-means job
    * repeats to convergence. Queries then probe the refined index.
    * Every step is deterministic (exact-decimal means, fixed tie-breaks)
    * so the whole refinement is oracle-checked in SQL.
    *
    * Non-null contract: rows with a null `vec_id` are dropped from the
    * assignment by its reuse-alignment `isNotNull` filter, so they
    * shape no refined centroid and are never returned (every fixture
    * vec_id is non-null). */
  def ivfRefinedTopK(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val corpus = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val seeds = exactMeans(corpus.select(col("label"), col("v")), "label")
    val wv = Window.partitionBy(col("vec_id"))
      .orderBy(col("scos").desc, col("label"))
    // The explicit isNotNull matches the isnotnull(vec_id) constraint
    // the final `vec_id =!= query_id` join infers into THIS instance of
    // the assignment subtree but not into the copy under `refined`'s
    // broadcast — aligned, the two instances canonicalize identically
    // and ReuseExchange computes the assignment window once (r17 plan
    // audit: Exchange(19)/Exchange(45) were structural twins separated
    // only by the pushed filter). vec_id is a never-null key in every
    // fixture (oracle-pinned at all SFs), so rows are unchanged.
    val assigned = corpus.select(col("vec_id"), col("v"))
      .filter(col("vec_id").isNotNull)
      .crossJoin(broadcast(seeds))
      .withColumn("scos", cosine(col("v"), col("centroid")))
      .withColumn("r", row_number().over(wv))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("v"), col("label").as("cluster"))
    val refined = exactMeans(assigned.select(col("cluster"), col("v")),
      "cluster")
    val probe = centroidProbe(querySet(corpus, nQueries), refined, "cluster",
      1, cosine(col("q"), col("centroid")).as("ccos"), col("ccos").desc)
    topKRows(ranked(assigned.join(broadcast(probe),
      col("cluster") === col("probe_cluster") &&
        col("vec_id") =!= col("query_id")), k))
  }

  /** Squared Euclidean distance — sequential double fold (zip_with +
    * aggregate), mirrored bit-for-bit by list_sum/list_transform in the
    * DuckDB oracles (the cosine precedent). */
  private[graft] def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Assignment step shared by the Lloyd trainer and the trained-IVF
    * probe: every corpus vector to its d²-nearest centroid (ties break
    * by cluster id). The centroids are driver-held model values, so the
    * argmin is a MAP-ONLY fold over a literal centroid array — score
    * each centroid once with `transform`, take the lexicographic
    * `array_min` over (d², cluster) structs (= d² asc, cluster asc, the
    * exact tie-break the oracle's row_number replays). Zero shuffle,
    * zero join: the cross-join + per-vector-window form this replaced
    * shuffled |corpus|·k full rows per round (measured: q_kmeans warm
    * 3.38 → 2.36 s, the delta being three per-round exchange+sorts).
    * At 100 TB the only per-round shuffle left is the (cluster, pos)
    * re-mean partial-sum — corpus-size-independent. */
  private[graft] def assignToCentroids(corpus: DataFrame,
      cent: Seq[(Int, Seq[Double])]): DataFrame = {
    val centArr = array(cent.map { case (c, m) =>
      struct(typedLit(m).as("m"), lit(c).as("cl")) }: _*)
    val scored = transform(centArr, e =>
      struct(dist2(col("v"), e.getField("m")).as("d"),
        e.getField("cl").as("cl")))
    corpus.select(col("vec_id"), col("v"),
      array_min(scored).getField("cl").as("cluster"))
  }

  /** Per-label exact-mean seed centroids, collected as model values. */
  private def collectCent(df: DataFrame): Seq[(Int, Seq[Double])] =
    df.orderBy(col("cluster")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq

  /** Session-scoped Lloyd MODEL cache (VERDICT r11 item 3):
    * q_kmeans, q_knn_ivf_trained and q_ann_recall_ivf each ran the
    * same multi-round trainer over the same corpus — ~11 s of the r11
    * bench retraining one model. The cached value is the centroid
    * SEQUENCE cent₀..cent_R (≤ R·k·d doubles — model-sized, never
    * data), keyed by a caller-supplied corpus identity; a request for
    * more rounds EXTENDS the cached prefix (Lloyd round r depends only
    * on cent_{r-1}, so the 2-round and 3-round trainings share their
    * first two rounds bit-exactly).
    * Weak session keys ([[graft.SessionCache]]): dropping the session
    * drops its models. */
  private val lloydCache =
    new graft.SessionCache[IndexedSeq[Seq[(Int, Seq[Double])]]]

  /** cent₀ (per-label seed means) through cent_rounds over `corpus`
    * (`vec_id`, `label`, `v`), reusing/extending the session cache when
    * `cacheKey` identifies the corpus. The caller keeps `corpus`
    * persisted while this trains. */
  private def lloydSeq(corpus: DataFrame, rounds: Int,
      cacheKey: Option[String]): IndexedSeq[Seq[(Int, Seq[Double])]] = {
    val perSession = cacheKey.map(_ => lloydCache(corpus.sparkSession))
    var seq = perSession.flatMap(m => cacheKey.flatMap(m.get))
      .getOrElse(IndexedSeq.empty)
    if (seq.isEmpty)
      seq = IndexedSeq(collectCent(
        exactMeans(corpus.select(col("label"), col("v")), "label")
          .withColumnRenamed("label", "cluster")))
    while (seq.length - 1 < rounds) {
      val assigned = assignToCentroids(corpus, seq.last)
      seq = seq :+ collectCent(exactMeans(
        assigned.select(col("cluster"), col("v")), "cluster"))
    }
    // atomic install-if-strictly-longer: a plain check-then-put could
    // let a shorter concurrent training overwrite a longer cached
    // sequence (ADVICE r12 — results stayed correct since extension is
    // deterministic, but the train-once benefit silently regressed)
    for (m <- perSession; k <- cacheKey) {
      var done = false
      while (!done) m.get(k) match {
        case None => done = m.putIfAbsent(k, seq).isEmpty
        case Some(cur) =>
          done = cur.length >= seq.length || m.replace(k, cur, seq)
      }
    }
    seq
  }

  /** Multi-round Lloyd k-means trainer — the full iterative-ML job shape
    * that [[ivfRefinedTopK]]'s single refinement round is one step of
    * (generalized the way pcaTopK generalized pcaTop2): R rounds of
    * assign → exact-decimal re-mean, with a per-(round, cluster) inertia
    * report. Seeds are the per-label exact means (the deterministic
    * stand-in every index here uses). Classic Euclidean Lloyd, so TOTAL
    * inertia is non-increasing round over round (each assignment step
    * can only lower Σd² against the old centroids, each re-mean step
    * minimizes Σd² for the new assignment) — pinned in SimilaritySpec.
    *
    * Scale: per round, assignment is ONE corpus scan against the
    * broadcast centroid block (k·d doubles) with a per-vector window
    * (partitioned by vec_id — fully shuffle-parallel, the ivfRefined
    * precedent), and re-meaning is one map-side-combining aggregation of
    * (cluster, pos) partial sums. The corpus is persisted once and
    * scanned R times — the canonical iterative-ML plan; centroids cross
    * the driver between rounds as model values (k·d ≤ 640 doubles, the
    * pcaTopK / k-means-seeds precedent). No all-pairs join, nothing
    * corpus-sized ever collects.
    *
    * Determinism (oracle bit-parity): means are exact decimal(28,12)
    * sums / counts; d² is a sequential double fold over identical
    * centroid doubles; assignment ties break by cluster id; inertia is
    * an exact decimal sum of d² against the ROUND'S OWN re-mean (so the
    * reported sequence is E(a_r, m_r), the classically monotone one),
    * rounded to 6 on output. Clusters that lose every member simply
    * drop out of later rounds (both engines derive that from the same
    * assignment). Output: (round, cluster, n_members, inertia). */
  def kmeansTrain(embeddings: DataFrame, rounds: Int = 3,
      cacheKey: Option[String] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .persist()
    val seq = lloydSeq(corpus, rounds, cacheKey)
    // the k-row-per-round inertia results are model-sized driver reads
    // (like the centroids themselves); assignments are recomputed per
    // round from the model sequence — a map-only k·d-FMA scan of the
    // PERSISTED corpus, cheaper than the persist/unpersist churn of
    // caching each round's assignment frame — so peak storage is the
    // corpus alone and the returned frame is a local relation with no
    // live cache entries (r9 advice). The R per-round aggregates are
    // UNIONED and collected in ONE action (r16, guide §1.2 "don't pay
    // per-step job overhead for independent subplans"): each branch is
    // the identical join+agg subtree the per-round collect ran — same
    // exact-decimal arithmetic, same rows — but the R driver round
    // trips and R job schedules collapse to one.
    val roundFrames = (1 to rounds).map { r =>
      val assigned = assignToCentroids(corpus, seq(r - 1))
      val mDf = seq(r).toDF("cluster", "centroid")
      assigned.join(broadcast(mDf), "cluster")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          round(Cols.decSum(dist2(col("v"), col("centroid")), 12), 6)
            .as("inertia"))
        .select(lit(r).as("round"), col("cluster"),
          col("n_members"), col("inertia"))
    }
    // rounds = 0 → no frames to union; keep the pre-union contract of
    // returning an empty result instead of throwing on an empty reduce
    val perRound = roundFrames.reduceOption(_.unionAll(_)) match {
      case Some(df) => df.collect()
        .map(x => (x.getInt(0), x.getInt(1), x.getLong(2), x.getDouble(3)))
        .toSeq
      case None => Seq.empty[(Int, Int, Long, Double)]
    }
    corpus.unpersist()
    perRound.toDF("round", "cluster", "n_members", "inertia")
      .orderBy(col("round"), col("cluster"))
  }

  /** The squared-distance SQL fragment over aliased (vector, centroid)
    * list columns — the oracle twin of [[dist2]]. */
  private def d2Sql(vec: String, cen: String): String =
    s"list_sum(list_transform(range(1, 65), " +
      s"j -> ($vec[j] - $cen[j]) * ($vec[j] - $cen[j])))"

  /** The unrolled Lloyd CTE prefix shared by the kmeans and trained-IVF
    * oracles: v → seed means (c0) → per round asg$r / re-mean c$r. AS
    * MATERIALIZED — each round references the previous one several
    * times, and DuckDB's CTE inlining would re-expand the corpus scan
    * exponentially (the pcaTopK lesson). */
  private def lloydCtes(rounds: Int): String = {
    val d2 = d2Sql("a.e", "c.c")
    val sb = new StringBuilder
    sb.append(s"""v AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         FROM embeddings),
       c0 AS MATERIALIZED (${exactMeansSql(
         "(SELECT label AS cluster, e FROM v)", "cluster")})""")
    for (r <- 1 to rounds) {
      sb.append(s""",
       asg$r AS MATERIALIZED (
         SELECT vec_id, e, cluster FROM (
           SELECT a.vec_id, a.e, c.cluster,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY $d2 ASC, c.cluster) AS rn
           FROM v a CROSS JOIN c${r - 1} c) WHERE rn = 1),
       c$r AS MATERIALIZED (${exactMeansSql(s"asg$r", "cluster")})""")
    }
    sb.toString
  }

  /** DuckDB oracle for [[kmeansTrain]]: [[lloydCtes]] + per-round
    * inertia CTEs, identical arithmetic throughout. */
  def kmeansOracleSql(rounds: Int = 3): String = {
    val d2 = d2Sql("a.e", "c.c")
    val is = (1 to rounds).map { r =>
      s"""i$r AS (
         SELECT $r AS round, a.cluster, count(*) AS n_members,
           round(CAST(sum(CAST($d2 AS DECIMAL(28,12))) AS DOUBLE), 6)
             AS inertia
         FROM asg$r a JOIN c$r c USING (cluster) GROUP BY a.cluster)"""
    }.mkString(",\n       ")
    val union = (1 to rounds).map(r => s"SELECT * FROM i$r")
      .mkString(" UNION ALL ")
    s"""WITH ${lloydCtes(rounds)},
       $is
       SELECT round, cluster, n_members, inertia FROM ($union)
       ORDER BY round, cluster"""
  }

  /** R Lloyd rounds over `corpus` (`vec_id`, `label`, `v`); returns the
    * inverted-list assignment against the final trained centroids and
    * those centroids. Lists MUST be keyed by the same means the probe
    * step ranks (AnnScaleGate's `assignment_optimal` invariant): the
    * pre-r15 half-step — lists from the LAST TRAINING assignment
    * (cent_{R−1}) served against cent_R — left ~11% of a 128k-vector
    * gate corpus outside the list its probe centroid owns, silently
    * costing recall at every cluster boundary. The caller persists
    * `corpus` for the loop's 2R+1 eager collect actions and releases
    * it afterwards. */
  private[graft] def trainQuantizer(corpus: DataFrame, rounds: Int,
      cacheKey: Option[String] = None)
      : (DataFrame, Seq[(Int, Seq[Double])]) = {
    val seq = lloydSeq(corpus, rounds, cacheKey)
    (assignToCentroids(corpus, seq(rounds)), seq(rounds))
  }

  /** Serve path over a trained quantizer: each query probes its
    * `nprobe` d²-nearest centroids and ranks those lists (disjoint by
    * construction) by exact cosine. One list scan per (query, probe). */
  private[graft] def serveTrained(corpus: DataFrame, assigned: DataFrame,
      mDf: DataFrame, nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val probe = centroidProbe(querySet(corpus, nQueries), mDf, "cluster",
      nprobe, dist2(col("q"), col("centroid")).as("qd2"), col("qd2").asc)
    topKRows(ranked(assigned.join(broadcast(probe),
      col("cluster") === col("probe_cluster") &&
        col("vec_id") =!= col("query_id")), k))
  }

  /** IVF over the TRAINED coarse quantizer — [[kmeansTrain]]'s R-round
    * Lloyd centroids as the serving index (the trainer feeding the
    * index, closing the train→serve loop): inverted lists are the
    * assignment against the FINAL trained means (the textbook IVF
    * build: train, then index every vector under the centroid the
    * probe step will see), each query probes its d²-nearest trained
    * centroid and ranks that list by exact cosine. Same scale shape as
    * every IVF variant: R broadcast assignment scans to train, one
    * list scan per query to serve. */
  def ivfTrainedTopK(embeddings: DataFrame, rounds: Int = 2,
      nQueries: Int = 5, k: Int = 10, nprobe: Int = 1,
      cacheKey: Option[String] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // persisted for the training loop's rounds+1 eager collect actions
    // (the kmeansTrain access pattern — without it each collect rescans
    // and re-casts the base table); released before returning, so the
    // lazily-evaluated serve query below re-reads the table once per
    // action instead of holding a corpus-sized cache for the session
    val corpus = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .persist()
    val (assigned, cent) = trainQuantizer(corpus, rounds, cacheKey)
    corpus.unpersist()
    serveTrained(corpus, assigned, cent.toDF("cluster", "centroid"),
      nQueries, k, nprobe)
  }

  /** Recall of the TRAINED-quantizer IVF vs exact brute force, at
    * nprobe 1 and 2 — the acceptance curve a serving deployment reads
    * before choosing its probe budget (VERDICT r9 ask: `q_ann_recall`
    * covers the LSH index; this is the trained index's number). Trains
    * ONCE, serves both probe budgets from the same lists; composes two
    * oracled paths so the recall itself is oracle-checked. */
  def ivfTrainedRecall(embeddings: DataFrame, rounds: Int = 2,
      nQueries: Int = 5, k: Int = 10,
      cacheKey: Option[String] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // corpus stays cached through BOTH the training loop and the
    // evaluation legs (brute force + two serves all rescan it), and is
    // released after the ≤2·nQueries-row result is collected — the
    // lshRecall/kmeansTrain eager-model-read pattern: no cache
    // outlives the call
    val corpus = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .persist()
    val (assigned, cent) = trainQuantizer(corpus, rounds, cacheKey)
    val mDf = cent.toDF("cluster", "centroid")
    // ground truth derived FROM the cached corpus frame (a fresh
    // bruteForceTopK(embeddings) plans a different projection and
    // misses the cache — the all-pairs leg would re-read parquet), and
    // collected ONCE: ≤ nQueries·k id pairs serve both probe budgets
    // as a local relation instead of re-running the quadratic scan per
    // action (r10 review finding)
    val brute = bruteRanked(corpus, nQueries, k)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.toDF("query_id", "vec_id")
    // both probe budgets evaluated in ONE action (r16, guide §1.2):
    // the two serve+join+agg legs are independent subplans over the
    // same persisted corpus — unioned, they run under a single job
    // (identical per-leg plans and arithmetic, so the rows are
    // bit-identical to the per-budget collects this replaces) instead
    // of paying two job schedules + two driver round trips.
    val legs = Seq(1, 2).map { np =>
      recallJoin(brute, serveTrained(corpus, assigned, mDf, nQueries, k, np), k)
        .select(lit(np).as("nprobe"), col("query_id"), col("recall"))
    }
    val rows = legs.reduce(_.unionAll(_)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    corpus.unpersist()
    rows.toDF("nprobe", "query_id", "recall")
      .orderBy(col("nprobe"), col("query_id"))
  }

  /** DuckDB oracle for [[ivfTrainedTopK]]: [[lloydCtes]] + the probe /
    * rank tail over the final round's lists and means. */
  def ivfTrainedOracleSql(rounds: Int = 2, nQueries: Int = 5,
      k: Int = 10, nprobe: Int = 1): String = {
    // lloydCtes(rounds + 1): asg${rounds+1} is the serve-time
    // assignment against the FINAL means c$rounds (the same index
    // build trainQuantizer does); the extra c${rounds+1} CTE is never
    // referenced, so DuckDB prunes it
    s"""WITH ${lloydCtes(rounds + 1)},
       ${querySetSql(nQueries)},
       ${probeSql(s"c$rounds", "cluster", nprobe, s"${d2Sql("qe", "c.c")} ASC")},
       cand AS (SELECT probe.query_id, a.vec_id, qe, a.e
         FROM asg${rounds + 1} a JOIN probe
           ON a.cluster = probe.probe_cluster
          AND a.vec_id <> probe.query_id),
       ${rankTailSql("cand", k)}"""
  }

  /** DuckDB oracle for [[ivfTrainedRecall]]: the brute-force top-k
    * outer-joined against [[ivfTrainedOracleSql]] at each probe budget,
    * unioned. */
  def ivfTrainedRecallOracleSql(rounds: Int = 2, nQueries: Int = 5,
      k: Int = 10): String = {
    val brute = s"WITH ${bruteCtes(nQueries, k, "vec_id <> query_id")} " +
      "SELECT query_id, vec_id FROM ranked"
    def one(np: Int): String = s"SELECT $np AS nprobe, * FROM (" +
      recallSql(brute, ivfTrainedOracleSql(rounds, nQueries, k, np), k) + ")"
    s"SELECT * FROM (${one(1)} UNION ALL ${one(2)}) ORDER BY nprobe, query_id"
  }

  /** ANN index evaluation: per-query recall of the multi-probe LSH index
    * against the exact brute-force top-k — the in-engine metric that
    * justifies (or rejects) an index's recall/cost trade-off. Composes
    * two oracled queries, so the recall itself is oracle-checked. */
  def annRecall(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
      bits: Int = 6): DataFrame =
    recallJoin(bruteForceTopK(embeddings, nQueries, k),
      lshTopKMultiProbe(embeddings, nQueries, k, bits), k)
      .orderBy(col("query_id"))

  /** PQ index evaluation: per-query recall of the ADC scan + rerank
    * against the exact brute-force top-k — the acceptance metric for a
    * compression level (codebook size / m / rerank budget). */
  def pqRecall(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10)
      : DataFrame =
    recallJoin(bruteForceTopK(embeddings, nQueries, k),
      pqTopK(embeddings, nQueries, k), k)
      .orderBy(col("query_id"))

  /** Per-query recall@k: the share of the exact `truth` list's
    * (query_id, vec_id) rows that the `approx` list also returned. */
  private def recallJoin(truth: DataFrame, approx: DataFrame, k: Int)
      : DataFrame =
    truth.select(col("query_id"), col("vec_id"))
      .join(approx.select(col("query_id").as("aq"), col("vec_id").as("av")),
        col("query_id") === col("aq") && col("vec_id") === col("av"),
        "left_outer")
      .groupBy(col("query_id"))
      .agg((count(col("av")).cast("double") / lit(k.toDouble)).as("recall"))

  /** SQL twin of `recallJoin`: per-query recall@k of the rows of query
    * `approx` against those of query `truth` (both yield query_id,
    * vec_id); unordered. */
  private[graft] def recallSql(truth: String, approx: String, k: Int)
      : String =
    s"""SELECT b.query_id, CAST(count(m.vec_id) AS DOUBLE) / $k.0 AS recall
          FROM ($truth) b
          LEFT JOIN ($approx) m
            ON b.query_id = m.query_id AND b.vec_id = m.vec_id
          GROUP BY b.query_id"""

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest coarse
    * centroid (per-label exact-mean seeds — the same deterministic
    * stand-in for offline k-means the IVF index uses), compare pairs
    * ONLY within a cluster, and emit one decision row per duplicate:
    * the vector is a near-dup (cosine ≥ threshold) of a lower-id
    * cluster-mate, and `kept_id` is the lowest such id (the keeper).
    *
    * Scale: real SemDeDup grows the centroid count with the corpus so
    * clusters stay bounded; the coarse seeds here are fixed (one per
    * label), so boundedness is enforced explicitly — each cluster is
    * split into ceil(|cluster|/`blockCap`) hash-assigned SUB-BLOCKS and
    * pairs form only within a (cluster, block). Effective cluster count
    * therefore grows linearly with the corpus (the SemDeDup contract),
    * per-block pair cost is capped at blockCap², and total cost is
    * Σ blocks × blockCap² ≈ N × blockCap — linear. The block id is a
    * deterministic multiplicative hash of vec_id (no window, no
    * single-partition cluster sort), so the split is an unbiased random
    * sub-clustering and the pair join on (cluster, block) stays fully
    * shuffle-parallel with ~blockCap-sized groups. At the fixture SFs
    * every cluster is under blockCap, so the split is the identity;
    * ScalingProbe measures the capped growth at 64×. When a cluster
    * splits, the keeper is the lowest-id near-dup within the same
    * block (bounded-candidate blocking, the suppPerPart/maxDf
    * precedent). Assignment is one corpus scan against broadcast
    * centroids. No all-pairs join exists. */
  def semDedup(embeddings: DataFrame, threshold: Double = 0.40,
      blockCap: Int = 512): DataFrame = {
    // assigned feeds FOUR plan subtrees (the sizes aggregate + both
    // pair-join sides, each joined back to sizes). Deliberately LAZY:
    // the subtrees are identical up to their exchanges, so AQE's
    // ReusedExchange dedups them at runtime — measured both ways, the
    // persist-and-release alternative cost +1.0 s in-bench (cache
    // write + eager job) vs the lazy form's 1.3 s total, and the 64×
    // ScalingProbe curve (sublinear) was measured on the lazy form.
    val assigned = nearestCentroid(embeddings
        .select(col("vec_id"), col("label"),
          asDouble(col("embedding")).as("v")))
      .select(col("vec_id"), col("v"), col("domain").as("cluster"))
    // corpus-size-derived sub-blocking: cluster sizes are a tiny
    // (≤ centroid-count rows) aggregate, broadcast back; block id is
    // the engine's standard overflow-safe multiplicative hash
    val sizes = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("csz"))
    val blocked = assigned
      .join(broadcast(sizes), Seq("cluster"))
      .withColumn("blk",
        (((col("vec_id") % lit(2147483648L)) * lit(2654435761L)) %
          lit(4294967296L)) %
          expr(s"(csz + ${blockCap - 1}) div $blockCap"))
    val a = blocked.select(col("cluster").as("ca"), col("blk").as("ba"),
      col("vec_id").as("id_a"), col("v").as("va"))
    val b = blocked.select(col("cluster").as("cb"), col("blk").as("bb"),
      col("vec_id").as("id_b"), col("v").as("vb"))
    val wd = Window.partitionBy(col("id_b")).orderBy(col("id_a"))
    a.join(b, col("ca") === col("cb") && col("ba") === col("bb") &&
        col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1)
      .select(col("id_b").as("dup_id"), col("id_a").as("kept_id"),
        col("ca").as("cluster"), round(col("cos"), 3).as("cos"))
      .orderBy(col("dup_id"))
  }

  /** Shared nearest-centroid assignment: corpus (vec_id, label, v) →
    * one row per vector at its winning per-label exact-mean centroid
    * (cosine desc, domain tiebreak), columns (vec_id, label, v, domain,
    * scos). The assignment half of SemDeDup / IVF / domain routing —
    * one corpus scan against \|labels\| broadcast centroids. */
  private def nearestCentroid(corpus: DataFrame): DataFrame = {
    val seeds = exactMeans(corpus.select(col("label"), col("v")), "label")
      .select(col("label").as("domain"), col("centroid"))
    val wv = Window.partitionBy(col("vec_id"))
      .orderBy(col("scos").desc, col("domain"))
    corpus
      .crossJoin(broadcast(seeds))
      .withColumn("scos", cosine(col("v"), col("centroid")))
      .withColumn("r", row_number().over(wv))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("label"), col("v"), col("domain"),
        col("scos"))
  }

  /** Nearest-centroid DOMAIN CLASSIFICATION — the corpus-curation step
    * that routes each document to a domain mixture (and
    * [[nearestCentroid]] exposed first-class): highest-cosine domain
    * with the self-assignment flag that makes the output a confusion
    * audit of the embedding space. */
  def domainAssign(embeddings: DataFrame): DataFrame =
    nearestCentroid(embeddings
        .select(col("vec_id"), col("label"),
          asDouble(col("embedding")).as("v")))
      .select(col("vec_id"), col("label"), col("domain"),
        round(col("scos"), 6).as("cos"),
        (col("domain") === col("label")).as("is_home"))
      .orderBy(col("vec_id"))

  /** Exact embedding covariance matrix (upper triangle) — the
    * distributed half of PCA / whitening / decorrelation: every entry is
    * cov(X_i, X_j) over the corpus, from EXACT decimal moment sums (the
    * established moments pattern — see Relational.qtyPriceCorrelation)
    * so the single final double expression is engine-identical. The
    * eigen-solve on the collected d×d matrix is driver-side model math
    * (like k-means seeds); SimilaritySpec power-iterates it and pins the
    * residual.
    *
    * Scale: the dim-pair expansion shuffles N·d(d+1)/2 narrow rows into
    * a d²-group partial-agg — the same outer-product accumulation a
    * tree-aggregated distributed PCA performs, expressed declaratively;
    * d is a model constant (64), so cost is linear in the corpus. */
  def embeddingCovariance(embeddings: DataFrame): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), posexplode(asDouble(col("embedding"))))
      .select(col("vec_id"), col("pos").as("i"), col("col").as("x"))
    val nD = col("n").cast("double")
    e.as("a")
      .join(e.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(count(lit(1)).as("n"),
        Cols.decSum(col("a.x") * col("b.x"), 12).as("sxy"),
        Cols.decSum(col("a.x"), 12).as("sa"),
        Cols.decSum(col("b.x"), 12).as("sb"))
      .select(col("i"), col("j"),
        // rounded to 9 decimals: the decimal(38,12) sums carry more
        // significant digits than a double, so each engine's
        // decimal→double conversion can land one ulp apart (observed at
        // sf≥0.01); 9 decimals ≈ 6 significant figures on these
        // ~1e-3-scale covariances, far above the 1e-15 noise
        round((col("sxy") - col("sa") * col("sb") / nD) / (nD - 1), 9)
          .as("cov"))
      .orderBy(col("i"), col("j"))
  }

  /** DuckDB oracle for [[embeddingCovariance]]: identical moment sums
    * and the identical final double expression tree. */
  def embeddingCovarianceOracleSql: String =
    """WITH e AS (
         SELECT vec_id, CAST(i AS INTEGER) AS i,
           CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) AS x
         FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS i)),
       m AS (
         SELECT a.i AS i, b.i AS j, count(*) AS n,
           CAST(sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(a.x AS DECIMAL(28,12))) AS DOUBLE) AS sa,
           CAST(sum(CAST(b.x AS DECIMAL(28,12))) AS DOUBLE) AS sb
         FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
         GROUP BY 1, 2)
       SELECT i, j,
         round((sxy - sa * sb / CAST(n AS DOUBLE))
           / (CAST(n AS DOUBLE) - 1), 9) AS cov
       FROM m ORDER BY i, j"""

  /** Power iteration on the embedding covariance — completes the PCA
    * story in-engine: [[fixedPointCovariance]] is the corpus-scale Gram
    * accumulation; a FIXED number of v ← C·v rounds then runs as
    * driver-local model arithmetic over the collected d·d matrix (r11,
    * decSum-identical — see iterateRoundsLocal), yielding the top
    * principal direction and
    * its eigenvalue estimate λ = ‖C·v‖/‖v‖ (the Rayleigh-quotient limit
    * for a converged v).
    *
    * Determinism (what makes a float iteration oracle-able): every
    * cross-engine-identical double is quantized before it enters an
    * order-sensitive reduction — products are cast to decimal(28,12)
    * BEFORE the sum (exact, order-independent; the embedCov moment-sum
    * trick), and each round's vector is `round(·,12)` so both engines
    * start every round from bit-identical state. v₀ = 1/√64 = 0.125
    * exactly. Rounds scale by 2⁷ (EXACT in binary FP, no rounding
    * interplay) instead of per-round normalization — normalizing would
    * need ‖w‖, a second reference to the round's output, and the plan
    * tree doubled per round (measured 240 parquet scans / 182
    * broadcasts at iters=4 for the all-lazy normalize-per-round form).
    *
    * Scale: the one corpus-scale job is the covariance's sufficient
    * statistics via [[graft.functions.GramMoments]] — a one-pass
    * TypedImperativeAggregate folding each task's rows into a single
    * packed long[] of exact integer moment sums (ONE ~17 KB buffer per
    * partition crosses the shuffle; the explode + self-join formulation
    * this replaced shuffled N·d rows and joined out N·d(d+1)/2 —
    * measured 2.5 s vs 0.3 s at sf0.1, and at 100 TB a full corpus
    * shuffle vs none). The d×d matrix those moments define is a MODEL
    * PARAMETER — dimension-sized, corpus-size-independent — assembled
    * on the driver (the k-means-seeds precedent; each engine derives
    * cov from the same exact integers with the same expression, so the
    * DuckDB oracle's join-shaped moment CTEs agree bit-for-bit) and
    * replayed as a LocalRelation for the rounds. Each round's 64-row
    * vector is read back and re-literalized (the bpeTrain
    * per-round-argmax precedent) — leaving the chain lazy re-executes
    * every prefix once per broadcast reference, measured 4.6 s for
    * arithmetic on 4160 rows. Construction is accordingly EAGER
    * (documented at bpeTrain). */
  def powerIteration(embeddings: DataFrame, iters: Int = 4): DataFrame =
    iterateRounds(embeddings.sparkSession, gramCov(embeddings), iters)

  private val pcaDim = 64

  /** Spark's HALF_UP-on-decimal-string `round(x, s)` semantics, for
    * driver-side model arithmetic that both engines must reproduce. */
  private def roundAt(x: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Corpus pass: GramMoments → the full symmetric d×d covariance as
    * driver rows. cov(i,j) uses the identical double expression tree as
    * the oracle's cov9 CTE over the same exact integers. */
  private def gramCov(embeddings: DataFrame): IndexedSeq[(Int, Int, Double)] = {
    val d = pcaDim
    val nPairs = d * (d + 1) / 2
    val packed = embeddings
      .select(transform(asDouble(col("embedding")),
        x => round(x * 1000000d).cast("long")).as("xq"))
      .agg(graft.functions.GramAggregate.gramMoments(col("xq"), d)
        .as("moments"))
      .head().getSeq[Long](0)
    val n = packed(nPairs + d).toDouble
    def covAt(i: Int, j: Int): Double = {
      val sxy = packed(i * d - i * (i - 1) / 2 + (j - i)).toDouble / 1e12
      val sa = packed(nPairs + i).toDouble / 1e6
      val sb = packed(nPairs + j).toDouble / 1e6
      roundAt((sxy - sa * sb / n) / (n - 1), 9)
    }
    for {
      i <- 0 until d
      j <- i until d
      e <- if (i < j) Seq((i, j, covAt(i, j)), (j, i, covAt(i, j)))
           else Seq((i, j, covAt(i, j)))
    } yield e
  }

  /** The iteration rounds over the (local, model-sized) cov matrix:
    * scaled v ← 2⁷·C·v rounds, then normalization + eigenvalue.
    *
    * Runs as PURE DRIVER ARITHMETIC (r11): the cov matrix is already a
    * collected d·d Seq (≤6 KB at d=32 — the kmeans ≤640-double model
    * precedent), so the former per-round in-engine matvec was ~10 tiny
    * Spark jobs of pure scheduler overhead per PCA query (measured
    * 2.8 s warm at sf0.1, now model-time ~0). Each product is
    * quantized by `BigDecimal.valueOf` + `setScale(12, HALF_EVEN)`.
    * Cross-engine convention (ADVICE r11, characterized by
    * tools/dec12_boundary.py + the PropertySpec boundary test): DuckDB's
    * CAST(double AS DECIMAL(28,12)) agrees with this on every double
    * that is not parked within ~2 ulps of a scale-12 midpoint
    * (0/20000 divergences in the random sweep) — which is why every
    * certified corpus hashes exactly — but INSIDE that band DuckDB
    * matches neither shortest-repr nor exact-binary HALF_EVEN (~25%
    * band divergence; its scale-0 cast even truncates), so no Scala
    * model can track it exactly: a future gate mismatch there is a
    * convention tie, not an algorithm bug (SCALING.md). HALF_EVEN was
    * adopted in r11 when the 16× gate hit 8.49340205e-05, whose exact
    * binary value sits BELOW the apparent midpoint — both engines
    * round down; Spark's in-engine HALF_UP cast was the outlier.
    * Products sum exactly with one terminal double conversion. The
    * display/scale rounds keep valueOf/HALF_UP (Spark's Round), which
    * mirrors DuckDB's `round(double, s)` on every certified corpus.
    * Only the corpus-scale Gram pass touches the cluster. */
  private def iterateRoundsLocal(covRows: Seq[(Int, Int, Double)],
      iters: Int): Seq[(Int, Double, Double)] = {
    val d = pcaDim
    val cov = Array.ofDim[Double](d, d)
    covRows.foreach { case (i, j, c) => cov(i)(j) = c }
    def dec12(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x)
        .setScale(12, java.math.RoundingMode.HALF_EVEN)
    def round(x: Double, s: Int): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue
    def mul(v: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var s = java.math.BigDecimal.ZERO
        var j = 0
        while (j < d) { s = s.add(dec12(cov(i)(j) * v(j))); j += 1 }
        s.doubleValue
      }
    def norm(v: Array[Double]): Double = {
      var s = java.math.BigDecimal.ZERO
      var j = 0
      while (j < d) { s = s.add(dec12(v(j) * v(j))); j += 1 }
      math.sqrt(s.doubleValue)
    }
    var v = Array.fill(d)(0.125)
    for (_ <- 1 until iters) v = mul(v).map(w => round(w * 128d, 12))
    val w = mul(v)
    val nw = norm(w)
    val nv = norm(v)
    val lambda = round(nw / nv, 9)
    (0 until d).map(i => (i, round(w(i) / nw, 12), lambda))
  }

  private def iterateRounds(spark: org.apache.spark.sql.SparkSession,
      covRows: Seq[(Int, Int, Double)], iters: Int): DataFrame = {
    import spark.implicits._
    iterateRoundsLocal(covRows, iters)
      .toDF("dim", "component", "eigenvalue")
      .orderBy(col("dim"))
  }

  /** Top-2 eigenpairs via Hotelling deflation — the k-component PCA
    * pattern: extract (v₁, λ₁), deflate C₂ = C − λ₁v₁v₁ᵀ (quantized to
    * 9 decimals — cov's own scale, and tie-free against v₀, see the
    * covRows2 comment — so both engines iterate the identical matrix), iterate
    * again for (v₂, λ₂). One corpus Gram pass serves both eigenpairs;
    * the deflation and the rounds are dimension-sized model arithmetic
    * on the driver (k-means-seeds precedent; decSum-identical — see
    * iterateRoundsLocal). Output: (k, dim, component, eigenvalue),
    * 2·d rows. */
  def pcaTop2(embeddings: DataFrame, iters: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val covRows = gramCov(embeddings)
    val f = iterateRoundsLocal(covRows, iters)
    val comp = f.map(t => t._1 -> t._2).toMap
    val lambda = f.head._3
    val covRows2 = covRows.map { case (i, j, c) =>
      // 9 decimals like cov itself: a 12-dec deflated matrix times the
      // exact v0=0.125 yields EXACT 15-decimal products whose last
      // digits sit on …500 half-ties, where Spark's HALF_UP
      // double→decimal cast and DuckDB's float-scaled cast disagree
      // systematically (56/64 first-round entries diverged by one
      // 1e-12 quantum). At 9 decimals the ×0.125 product is exactly
      // 12 decimals — nothing to round, tie-free by construction.
      (i, j, roundAt(c - lambda * comp(i) * comp(j), 9))
    }
    val second = iterateRoundsLocal(covRows2, iters)
    (f.map { case (dm, c, l) => (1, dm, c, l) } ++
        second.map { case (dm, c, l) => (2, dm, c, l) })
      .toDF("k", "dim", "component", "eigenvalue")
      .orderBy(col("k"), col("dim"))
  }

  /** General-k PCA via BLOCK (orthogonal / subspace) iteration — the
    * production form that subsumes the [[pcaTop2]] deflation special
    * case: ONE corpus Gram pass ([[gramCov]] — GramMoments, one ~17 KB
    * buffer per partition crosses the shuffle regardless of corpus
    * size), then `iters` rounds of W ← C·V run IN-ENGINE over the
    * model-sized matrix (the iterateRounds precedent) with a
    * driver-side classical Gram-Schmidt QR re-orthonormalization
    * between rounds — dimension-sized model math, the k-means-seeds /
    * bpeTrain precedent; a d×k block for d=64 is ≤ 64·6 doubles.
    *
    * Init is the first k Walsh functions (entries ±0.125 — exactly
    * representable, mutually orthogonal, unit-norm), so round 1's
    * cov·v products are exactly 12-decimal and tie-free (the pcaTop2
    * deflation-quantization argument). Determinism: every
    * order-sensitive reduction is an exact decimal(28,12) sum — the
    * in-engine matmuls via decSum, the driver-side QR dots and norms
    * via the same quantize-each-product-then-exact-sum in BigDecimal —
    * and every vector is re-quantized round(·,12) before it enters the
    * next multiplication, so Spark, the driver and the DuckDB oracle
    * iterate bit-identical state. The projection-subtraction chain is
    * a syntactically left-to-right IEEE expression, identical in Scala
    * and SQL. Eigenvalues are Rayleigh quotients λ_c = u_cᵀ(C·u_c)
    * from one final in-engine matmul, rounded to 9 like cov itself.
    *
    * Output: (k, dim, component, eigenvalue), k·d rows — [[pcaTop2]]'s
    * schema generalized to any k. The k index is POSITIONAL (block
    * column): on a converged run columns sort λ-descending themselves,
    * but the fixture embeddings are near-isotropic (λ₁..λ₄ within 6%),
    * where no iteration count separates components — SimilaritySpec
    * therefore proves convergence on a planted anisotropic corpus
    * (the q_lr_learnable precedent) and pins orthonormality, which
    * holds regardless of spectrum. */
  def pcaTopK(embeddings: DataFrame, k: Int = 4, iters: Int = 4)
      : DataFrame = {
    require(k >= 1 && k <= 6, s"Walsh init spans 6 index bits, got k=$k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val d = pcaDim
    val cov = Array.ofDim[Double](d, d)
    gramCov(embeddings).foreach { case (i, j, c) => cov(i)(j) = c }
    // exact scale-12 dot: quantize each product with the ORACLE'S cast
    // convention (r11: DuckDB CAST(double AS DECIMAL) rounds the
    // shortest decimal repr HALF_EVEN — verified empirically; Spark's
    // in-engine cast rounds it HALF_UP, so the two disagree exactly on
    // shortest-repr ties, one of which the 16x scaled gate hit), sum
    // exactly, one terminal double conversion
    def decDot(a: Array[Double], b: Array[Double]): Double = {
      var s = java.math.BigDecimal.ZERO
      var j = 0
      while (j < d) {
        s = s.add(java.math.BigDecimal.valueOf(a(j) * b(j))
          .setScale(12, java.math.RoundingMode.HALF_EVEN))
        j += 1
      }
      s.doubleValue
    }
    // W = C·V: driver-local like the QR itself (r11 — the block is
    // k·d ≤ 192 doubles; the former per-round in-engine matvec was one
    // tiny Spark job of scheduler overhead per round). decDot IS
    // decSum's arithmetic, so rows replay the oracle unchanged.
    def matmul(u: Array[Array[Double]]): Array[Array[Double]] =
      Array.tabulate(k, d)((c, i) => decDot(cov(i), u(c)))
    // classical Gram-Schmidt: project each column off the already
    // orthonormalized previous ones (left-to-right subtraction chain),
    // quantize once after the chain and once after normalization
    def qr(w: Array[Array[Double]]): Array[Array[Double]] = {
      val u = Array.ofDim[Double](k, d)
      for (c <- 0 until k) {
        val dots = (0 until c).map(p => decDot(w(c), u(p)))
        for (j <- 0 until d) {
          var r = w(c)(j)
          for (p <- 0 until c) r = r - dots(p) * u(p)(j)
          u(c)(j) = roundAt(r, 12)
        }
        val n = math.sqrt(decDot(u(c), u(c)))
        for (j <- 0 until d) u(c)(j) = roundAt(u(c)(j) / n, 12)
      }
      u
    }
    var u = Array.tabulate(k, d)((c, j) =>
      if (((j >> c) & 1) == 0) 0.125 else -0.125)
    for (_ <- 1 to iters) u = qr(matmul(u))
    val wf = matmul(u)
    val lam = (0 until k).map(c => roundAt(decDot(u(c), wf(c)), 9))
    (for (c <- 0 until k; j <- 0 until d)
      yield (c + 1, j, u(c)(j), lam(c)))
      .toDF("k", "dim", "component", "eigenvalue")
      .orderBy(col("k"), col("dim"))
  }

  /** DuckDB oracle for [[pcaTopK]]: [[covCtes]], the Walsh init block,
    * then per round an exact-decimal block matmul CTE and the
    * Gram-Schmidt chain unrolled per column (dots → left-to-right
    * subtraction → round 12 → norm → round 12), then the Rayleigh
    * eigenvalues — identical arithmetic to the engine throughout. The
    * per-round CTEs are AS MATERIALIZED: DuckDB inlines multiply-
    * referenced CTEs, and each round references the previous ~10×, so
    * the inlined plan re-expands the corpus scan exponentially (first
    * run died on file handles); materializing pins one scan total. */
  def pcaTopKOracleSql(k: Int = 4, iters: Int = 4): String = {
    val sb = new StringBuilder
    sb.append(s"WITH $covCtes,\n")
    sb.append(s"""b0 AS (
         SELECT CAST(c AS INTEGER) AS c, CAST(j AS INTEGER) AS j,
           CASE WHEN ((j >> c) & 1) = 0 THEN CAST(0.125 AS DOUBLE)
                ELSE CAST(-0.125 AS DOUBLE) END AS v
         FROM (SELECT unnest(range($k)) AS c),
              (SELECT unnest(range(64)) AS j))""")
    for (r <- 1 to iters) {
      sb.append(s""",
       w$r AS MATERIALIZED (
         SELECT b.c, cv.i AS j,
           CAST(sum(CAST(cv.cov * b.v AS DECIMAL(28,12))) AS DOUBLE) AS w
         FROM cov cv JOIN b${r - 1} b ON cv.j = b.j GROUP BY b.c, cv.i)""")
      for (c <- 0 until k) {
        for (p <- 0 until c)
          sb.append(s""",
       d${r}_${c}_$p AS (
         SELECT CAST(sum(CAST(w.w * u.v AS DECIMAL(28,12))) AS DOUBLE)
           AS d
         FROM w$r w JOIN u${r}_$p u ON w.j = u.j WHERE w.c = $c)""")
        val joins = (0 until c)
          .map(p => s" JOIN u${r}_$p u$p ON w.j = u$p.j").mkString
        val crosses = (0 until c)
          .map(p => s" CROSS JOIN d${r}_${c}_$p dd$p").mkString
        val subtract = (0 until c)
          .map(p => s" - dd$p.d * u$p.v").mkString
        sb.append(s""",
       r${r}_$c AS MATERIALIZED (
         SELECT w.j, round(w.w$subtract, 12) AS rv
         FROM w$r w$joins$crosses WHERE w.c = $c)""")
        sb.append(s""",
       n${r}_$c AS (
         SELECT sqrt(CAST(sum(CAST(rv * rv AS DECIMAL(28,12)))
           AS DOUBLE)) AS n FROM r${r}_$c)""")
        sb.append(s""",
       u${r}_$c AS MATERIALIZED (
         SELECT j, round(rv / n, 12) AS v
         FROM r${r}_$c CROSS JOIN n${r}_$c)""")
      }
      sb.append(s""",
       b$r AS MATERIALIZED (${(0 until k).map(c =>
        s"SELECT $c AS c, j, v FROM u${r}_$c").mkString(" UNION ALL ")})""")
    }
    sb.append(s""",
       wf AS MATERIALIZED (
         SELECT b.c, cv.i AS j,
           CAST(sum(CAST(cv.cov * b.v AS DECIMAL(28,12))) AS DOUBLE) AS w
         FROM cov cv JOIN b$iters b ON cv.j = b.j GROUP BY b.c, cv.i),
       lam AS (
         SELECT b.c,
           round(CAST(sum(CAST(b.v * wf.w AS DECIMAL(28,12)))
             AS DOUBLE), 9) AS eigenvalue
         FROM b$iters b JOIN wf ON b.c = wf.c AND b.j = wf.j
         GROUP BY b.c)
       SELECT CAST(b.c + 1 AS INTEGER) AS k, b.j AS dim,
         b.v AS component, lam.eigenvalue
       FROM b$iters b JOIN lam ON b.c = lam.c
       ORDER BY k, dim""")
    sb.toString
  }

  /** DuckDB oracle for [[powerIteration]]: the covariance from the same
    * exact fixed-point moment sums over 1e-6-quantized components
    * (expressed join-shaped — integer-exact, so it agrees bit-for-bit
    * with the engine's GramMoments accumulation), then the identical
    * rounds unrolled — same decimal(28,12) product quantization before
    * each round sum, same exact ·2⁷ scaling and per-round round(·,12),
    * same final ‖C·v‖/‖v‖ eigenvalue. The fixed-point quantization
    * (~1e-7 relative, far below the estimator's own statistical noise)
    * is what buys exact integer determinism at long-arithmetic speed;
    * [[embeddingCovariance]] remains the exact-decimal deliverable. */
  def powerIterationOracleSql(iters: Int = 4): String =
    s"""WITH ${powerIterationCtes(iters)}
       SELECT w.i AS dim, round(w.w / nw.nw, 12) AS component,
         round(nw.nw / nv.nv, 9) AS eigenvalue
       FROM w CROSS JOIN nw CROSS JOIN nv ORDER BY dim"""

  /** The covariance-matrix CTE prefix shared by every PCA oracle:
    * quantize → integer moments → 9-decimal cov → symmetrized `cov`. */
  private val covCtes: String =
    s"""e AS (
         SELECT vec_id, CAST(i AS INTEGER) AS i,
           CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) AS x
         FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS i)),
       eq AS (
         SELECT vec_id, i, CAST(round(x * 1000000) AS BIGINT) AS xq
         FROM e),
       m AS (
         SELECT a.i AS i, b.i AS j, count(*) AS n,
           sum(a.xq * b.xq) AS sxy, sum(a.xq) AS sa, sum(b.xq) AS sb
         FROM eq a JOIN eq b ON a.vec_id = b.vec_id AND a.i <= b.i
         GROUP BY 1, 2),
       cov9 AS (
         SELECT i, j,
           round((CAST(sxy AS DOUBLE) / 1e12
             - CAST(sa AS DOUBLE) / 1e6 * (CAST(sb AS DOUBLE) / 1e6)
               / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 9) AS cov
         FROM m),
       cov AS (
         SELECT i, j, cov FROM cov9
         UNION ALL SELECT j AS i, i AS j, cov FROM cov9 WHERE i < j)"""

  /** The shared CTE chain behind [[powerIterationOracleSql]] /
    * [[pcaProjectOracleSql]]: [[covCtes]] → unrolled rounds → final w
    * and the two norms. */
  private def powerIterationCtes(iters: Int): String =
    s"""$covCtes,
       ${roundCtes("cov", "", iters)}"""

  /** The iteration-round CTEs over matrix CTE `covName`, all CTE names
    * suffixed `p` so two chains (original + deflated) can coexist. */
  private def roundCtes(covName: String, p: String, iters: Int): String = {
    // assembled as a single CTE list so iters=1 (zero unrolled rounds)
    // still yields well-formed SQL
    val v0 =
      s"""v0$p AS (
         SELECT CAST(unnest(range(64)) AS INTEGER) AS j,
           CAST(0.125 AS DOUBLE) AS v)"""
    val rounds = (1 until iters).map { r =>
      s"""v$r$p AS (
           SELECT c.i AS j,
             round(CAST(sum(CAST(c.cov * v.v AS DECIMAL(28,12)))
               AS DOUBLE) * 128, 12) AS v
           FROM $covName c JOIN v${r - 1}$p v ON c.j = v.j GROUP BY c.i)"""
    }
    val finals = Seq(
      s"""w$p AS (
         SELECT c.i,
           CAST(sum(CAST(c.cov * v.v AS DECIMAL(28,12))) AS DOUBLE) AS w
         FROM $covName c JOIN v${iters - 1}$p v ON c.j = v.j GROUP BY c.i)""",
      s"""nw$p AS (
         SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE))
           AS nw FROM w$p)""",
      s"""nv$p AS (
         SELECT sqrt(CAST(sum(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE))
           AS nv FROM v${iters - 1}$p)""")
    ((v0 +: rounds) ++ finals).mkString(",\n       ")
  }

  /** DuckDB oracle for [[pcaTop2]]: the first chain, the rounded
    * deflation C₂ = round(C − λ₁v₁v₁ᵀ, 9), and a suffixed second
    * chain; identical arithmetic throughout. */
  def pcaTop2OracleSql(iters: Int = 4): String =
    s"""WITH ${powerIterationCtes(iters)},
       comp AS (
         SELECT w.i AS dim, round(w.w / nw.nw, 12) AS component
         FROM w CROSS JOIN nw),
       lam AS (
         SELECT round(nw.nw / nv.nv, 9) AS lambda
         FROM nw CROSS JOIN nv),
       cov2 AS (
         SELECT c.i, c.j,
           round(c.cov - l.lambda * a.component * b.component, 9) AS cov
         FROM cov c
         JOIN comp a ON c.i = a.dim
         JOIN comp b ON c.j = b.dim
         CROSS JOIN lam l),
       ${roundCtes("cov2", "b", iters)}
       SELECT 1 AS k, w.i AS dim, round(w.w / nw.nw, 12) AS component,
         round(nw.nw / nv.nv, 9) AS eigenvalue
       FROM w CROSS JOIN nw CROSS JOIN nv
       UNION ALL
       SELECT 2 AS k, wb.i AS dim, round(wb.w / nwb.nw, 12) AS component,
         round(nwb.nw / nvb.nv, 9) AS eigenvalue
       FROM wb CROSS JOIN nwb CROSS JOIN nvb
       ORDER BY k, dim"""

  /** PCA projection — the eigenvector put to WORK: every embedding's
    * scalar coordinate along the corpus's top principal direction
    * (outlier scoring / decorrelation / 1-D semantic ordering, the
    * standard uses of a leading component). Reuses [[powerIteration]]
    * end-to-end (Gram pass + rounds), then one corpus-scale projection
    * pass: the 64 learned components broadcast; per-vector dot product
    * as decimal-quantized product sums (order-independent, so the
    * per-vector double is engine-identical); rounded to 6.
    *
    * Scale: projection = explode + broadcast join + map-side-combining
    * agg back to vec grain — one pass, no corpus shuffle beyond the
    * vec_id-grain partials. */
  def pcaProject(embeddings: DataFrame, iters: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val comp = iterateRoundsLocal(gramCov(embeddings), iters)
      .map(t => (t._1, t._2))
      .toDF("dim", "component")
    embeddings
      .select(col("vec_id"), posexplode(asDouble(col("embedding"))))
      .select(col("vec_id"), col("pos").as("dim"), col("col").as("x"))
      .join(broadcast(comp), "dim")
      .groupBy(col("vec_id"))
      .agg(round(Cols.decSum(col("x") * col("component"), 12), 6).as("proj"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[pcaProject]]: the [[powerIterationCtes]] chain,
    * a `comp` CTE for the rounded components, then the identical
    * decimal-quantized projection sums. */
  def pcaProjectOracleSql(iters: Int = 4): String =
    s"""WITH ${powerIterationCtes(iters)},
       comp AS (
         SELECT w.i AS dim, round(w.w / nw.nw, 12) AS component
         FROM w CROSS JOIN nw)
       SELECT e.vec_id,
         round(CAST(sum(CAST(e.x * c.component AS DECIMAL(28,12)))
           AS DOUBLE), 6) AS proj
       FROM e JOIN comp c ON e.i = c.dim
       GROUP BY e.vec_id ORDER BY e.vec_id"""

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * restricted to LSH-bucket candidates (the scalable near-dup shape). */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double = 0.9,
      bits: Int = 8): DataFrame = {
    val corpus = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", srpBucket(col("v"), bits))
    corpus.as("a")
      .join(corpus.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(col("cos"), 3).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---- persisted IVF index (build once, query many — the production
  //      ANN serving shape; the inline q_knn_ivf rebuilds per query) ----

  /** One-time per (session, sfDir): materialize the IVF index to disk —
    * `centroids/` (label, exact-mean centroid) and `postings/`
    * label-PARTITIONED (the inverted-list layout: each cluster's
    * vectors in their own directory, so a probe reads only the probed
    * lists' files — at 100 TB this directory pruning IS the index).
    * Cached via [[graft.SessionDirs]] (weak session keys + one
    * shutdown hook). */
  def ivfIndexDir(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): String =
    graft.SessionDirs.getOrBuild(spark, s"ivf:$sfDir",
      "graft_ivf_index") { root =>
      val corpus = graft.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("label"),
          asDouble(col("embedding")).as("v"))
      exactMeans(corpus.select(col("label"), col("v")), "label")
        .write.mode("overwrite").parquet(root.toString + "/centroids")
      corpus.repartition(col("label"))
        .write.mode("overwrite").partitionBy("label")
        .parquet(root.toString + "/postings")
      root.toString
    }

  /** Query the PERSISTED index: identical probe math to [[ivfTopK]]
    * (nprobe = 1), so the same oracle pins it — the build/query split
    * plus exact parquet double round-trip is what's being proven. */
  def ivfDiskTopK(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val dir = ivfIndexDir(spark, sfDir)
    val centroids = spark.read.parquet(dir + "/centroids")
    val postings = spark.read.parquet(dir + "/postings")
      .select(col("vec_id"), col("label"), col("v"))
    val probe = centroidProbe(querySet(postings, nQueries), centroids,
      "label", 1, cosine(col("q"), col("centroid")).as("ccos"),
      col("ccos").desc)
    topKRows(ranked(postings.join(broadcast(probe),
      col("label") === col("probe_label") &&
        col("vec_id") =!= col("query_id")), k))
  }

  /** EXACT mean pairwise dot product over ALL N·(N−1) ordered pairs —
    * the corpus-homogeneity statistic behind diversity scoring and
    * near-dup-rate forecasting — WITHOUT the quadratic pair join, via
    * the Gram identity  Σ_{a≠b} vₐ·v_b = ‖Σv‖² − Σ‖v‖².  One linear
    * pass builds the per-dim component sums (dim-grain shuffle, 64
    * keys) and the per-row self-dots; the N² pairs never materialize.
    * At 100 TB this is the difference between a metadata-sized
    * aggregate and an impossible self-join. All cross-row reductions go
    * through decimal(28,12) so both engines agree bit-exactly. */
  def meanPairwiseDot(embeddings: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    val dimSums = embeddings
      .select(posexplode(v).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(Cols.decSum(col("x"), 12).as("sx"))
    val nss = dimSums.agg(
      Cols.decSum(col("sx") * col("sx"), 12).as("norm_sum_sq"))
    val selfd = embeddings
      .select(aggregate(transform(v, x => x * x), lit(0.0),
        (acc, x) => acc + x).as("self"))
      .agg(Cols.decSum(col("self"), 12).as("sum_self"),
        count(lit(1)).as("n"))
    selfd.crossJoin(broadcast(nss))
      .select(col("n").as("n_vecs"),
        round(col("norm_sum_sq"), 6).as("norm_sum_sq"),
        round(col("sum_self"), 6).as("sum_self_dot"),
        round((col("norm_sum_sq") - col("sum_self")) /
          (col("n") * (col("n") - 1)).cast("double"), 9)
          .as("mean_pairwise_dot"))
  }

  /** DuckDB oracle for [[meanPairwiseDot]] — same decimal reductions,
    * same single-division mean. */
  def meanPairwiseDotOracleSql: String =
    """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        d AS (SELECT u.dim, e[u.dim] AS x
              FROM v, (SELECT unnest(range(1, 65)) AS dim) u),
        s AS (SELECT dim, CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                AS sx FROM d GROUP BY dim),
        nss AS (SELECT CAST(sum(CAST(sx * sx AS DECIMAL(28,12)))
                  AS DOUBLE) AS norm_sum_sq FROM s),
        sd AS (SELECT
                 CAST(sum(CAST(self AS DECIMAL(28,12))) AS DOUBLE)
                   AS sum_self,
                 count(*) AS n
               FROM (SELECT list_sum(list_transform(e, x -> x * x))
                       AS self FROM v))
        SELECT n AS n_vecs,
          round(norm_sum_sq, 6) AS norm_sum_sq,
          round(sum_self, 6) AS sum_self_dot,
          round((norm_sum_sq - sum_self) / CAST(n * (n - 1) AS DOUBLE), 9)
            AS mean_pairwise_dot
        FROM sd, nss"""

  /** Sign of the (i,j) entry of a deterministic ±1 Johnson–Lindenstrauss
    * projection matrix, derived by pure integer arithmetic so the DuckDB
    * oracle replays it exactly (no engine hash function involved). The
    * inner mod-65536 keeps the Knuth-multiplicative product inside
    * int64; bit 16 of the mixed 32-bit product is the sign bit. */
  private def jlSign(i: Column, j: Column): Column = {
    val m = (i * lit(73856093L) + j * lit(19349663L) + lit(83492791L)) %
      lit(65536L)
    val h = (m * lit(2654435761L)) % lit(4294967296L)
    when(shiftright(h, 16) % 2 === 0, lit(1.0)).otherwise(lit(-1.0))
  }

  /** Johnson–Lindenstrauss signed random projection 64 → `outDim` dims
    * (Achlioptas 2003: ±1 entries preserve pairwise distances in
    * expectation just as well as Gaussian ones, and need no float
    * matrix). The compressed vectors are what a 100 TB pipeline ships to
    * the ANN index when 64 dims of float is still too wide — and unlike
    * PCA, the matrix needs no training pass, so the operator is a single
    * embarrassingly-parallel corpus scan: every output dim is a
    * sequential per-row fold (codegen'd HOFs, deterministic order), no
    * shuffle at all.
    *
    * Normalization is left to the consumer (cosine is scale-invariant);
    * values are the raw signed sums, rounded for the oracle compare. */
  def randomProjection(embeddings: DataFrame, outDim: Int = 16): DataFrame = {
    val v = asDouble(col("embedding"))
    val idx = sequence(lit(0L), size(col("embedding")).cast("long") - 1)
    val projCols = (0 until outDim).map { j =>
      // empty-array guard: sequence(0, -1) would descend to [0, -1] and
      // zip_with null-pad — an empty vector projects to 0.0 (mirrored
      // in the oracle's CASE len(e) = 0)
      when(size(col("embedding")) === 0, lit(0.0))
        .otherwise(round(
          aggregate(zip_with(v, idx, (x, i) => x * jlSign(i, lit(j.toLong))),
            lit(0.0), (acc, x) => acc + x), 6)).as(s"p$j")
    }
    embeddings.select(col("vec_id") +: projCols: _*)
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[randomProjection]] — identical integer sign
    * arithmetic ((i,j) zero-based, so the 1-based list index shifts by
    * one) and the same sequential left fold (`list_sum` of the
    * transformed list matches Spark's `aggregate` element order). */
  def randomProjectionOracleSql(outDim: Int = 16): String = {
    val cols = (0 until outDim).map { j =>
      val sign = s"""CASE WHEN ((((((i - 1) * 73856093 + $j * 19349663
             + 83492791) % 65536) * 2654435761) % 4294967296)
             // 65536) % 2 = 0 THEN 1.0 ELSE -1.0 END"""
      s"""CASE WHEN len(e) = 0 THEN 0.0
           ELSE round(list_sum(list_transform(range(1, 65),
             i -> e[i] * $sign)), 6) END AS p$j"""
    }.mkString(",\n          ")
    s"""SELECT vec_id,
          $cols
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings) ORDER BY vec_id"""
  }
}
