package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over fixture-derived graphs. Companion to
  * Pipeline.dedupClusters (connected components): where CC iterates to
  * a data-dependent fixpoint, PageRank here runs a FIXED number of
  * rounds, so the whole computation is one declarative plan — no driver
  * loop reading per-round scalars.
  *
  * Everything is integer fixed-point arithmetic (micro-units, `div`):
  * ranks are bigints, so the result is bit-identical across engines and
  * DuckDB-oracle-checkable with the same unrolled arithmetic — the same
  * determinism trick as the exact-cents decimal aggregations.
  */
object Graph {

  /** The capped part↔supplier graph [[pagerank]] and [[bfsHops]] walk:
    * the deduplicated (p, s) pair list `e0` and both directions of every
    * pair as packed-long (src, dst) edges — 2p for parts, 2s+1 for
    * suppliers. `e0` is materialized ONCE with an eager serialized
    * localCheckpoint (SCALING.md's corpus-scale pin from the 256× graph
    * gate, where this list holds 145M pairs), so lineitem is scanned and
    * deduplicated once however often the rounds reference the graph.
    * The pin is a LogicalRDD inside the returned frames: the
    * ContextCleaner releases it once they are garbage, so it lives
    * exactly as long as the result that reads it. */
  private def bipartite(lineitem: DataFrame, partCap: Long)
      : (DataFrame, DataFrame) = {
    val e0 = lineitem.filter(col("l_partkey") <= partCap)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val edges = e0.select((col("p") * 2).as("src"),
        (col("s") * 2 + 1).as("dst"))
      .unionAll(e0.select((col("s") * 2 + 1).as("src"),
        (col("p") * 2).as("dst")))
    (e0, edges)
  }

  /** PageRank (damping 0.85, 3 rounds) over the bipartite
    * part↔supplier graph of lineitem (who-supplies-what; part degree =
    * supplier diversity). Undirected: each edge contributes both ways,
    * so there are no dangling nodes. `partCap` bounds the fixture
    * subgraph so the bench cost stays fixed across SFs.
    *
    * Fixed-point update, all integer ops (micro-units of rank):
    *   contrib(v) = r(v) div deg(v);  r'(u) = 150000 + (850000 · Σ
    *   contrib(in-neighbors)) div 1000000.
    *
    * Scale: per round = one shuffle join on src + one agg on dst — the
    * textbook distributed PageRank. The edge list is pinned once
    * ([[bipartite]]): ReusedExchange does not fold every edges/deg
    * reference (unpinned, the final plan at sf0.1 read lineitem 3
    * times). `checkpointEvery` = k > 0 cuts the rank lineage
    * with an eager localCheckpoint every k rounds — the 100-TB knob for
    * deep iteration counts, where the unrolled plan (one join+agg
    * subtree per round) would dominate analysis/planning; at the
    * default 3 rounds the plan is small, so the knob defaults off
    * (checkpointing trades recompute-on-executor-loss safety).
    * OperatorSpec pins checkpointed == unrolled. */
  def pagerank(lineitem: DataFrame, partCap: Long = 2000, iters: Int = 3,
      topK: Int = 100, checkpointEvery: Int = 0): DataFrame = {
    // Rounds iterate over PACKED LONG ids (2p for parts, 2s+1 for
    // suppliers — the bfsHops convention, r13): every round's shuffle
    // joins/aggs hash an 8-byte key instead of a "p<digits>" string,
    // and the 256× gate's 280M-row edge relation carries 16-byte rows
    // instead of ~50-byte strings. The label string is reconstructed
    // only at the node-grain projection feeding the final top-K — and
    // BEFORE the orderBy, because the rank tie-break is defined on the
    // LABEL's lexicographic order ("p10" < "p2"), which the oracle
    // replays; sorting by nid would cut ties at the top-K boundary
    // differently.
    val (_, edges) = bipartite(lineitem, partCap)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val withDeg = edges.join(deg, "src")
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    for (i <- 1 to iters) {
      ranks = withDeg.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst"))
        .agg(expr("150000 + (850000 * sum(contrib)) div 1000000").as("r"))
        .select(col("dst").as("node"), col("r"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.select(concat(
          when(col("node") % 2 === 0, lit("p")).otherwise(lit("s")),
          expr("node div 2").cast("string")).as("node"),
        col("r").as("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(topK)
  }

  /** DuckDB oracle: the same fixed-point arithmetic with the rounds
    * unrolled as chained CTEs (`//` is DuckDB integer division). */
  def pagerankOracleSql(partCap: Long = 2000, iters: Int = 3,
      topK: Int = 100): String = {
    val round = (prev: String, cur: String) =>
      s"""$cur AS (
           SELECT e.dst AS node,
             150000 + (850000 * sum(r.r // d.d)) // 1000000 AS r
           FROM edges e
           JOIN $prev r ON e.src = r.node
           JOIN deg d ON e.src = d.src
           GROUP BY e.dst)"""
    val rounds = (1 to iters)
      .map(i => round(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH e0 AS (
         SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
         WHERE l_partkey <= $partCap),
       edges AS (
         SELECT 'p' || p AS src, 's' || s AS dst FROM e0
         UNION ALL SELECT 's' || s, 'p' || p FROM e0),
       deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
       r0 AS (SELECT src AS node, 1000000::BIGINT AS r FROM deg),
       $rounds
       SELECT node, CAST(r AS BIGINT) AS rank FROM r$iters
       ORDER BY rank DESC, node LIMIT $topK"""
  }

  /** Triangle count + global clustering coefficient over the supplier
    * co-supply graph (suppliers sharing a part, part ≤ `partCap`).
    * Degree-ordered orientation: every undirected edge points from its
    * (degree, id)-smaller endpoint, so each triangle {a<b<c} in that
    * total order materializes exactly once as the wedge (a→b, a→c)
    * closed by (b→c) — the standard distributed triangle algorithm
    * (node-iterator++), whose wedge work is bounded by Σ outdeg² with
    * outdeg ≤ O(√m) under degree ordering.
    *
    * Scale: the co-supply projection is per-part quadratic, so postings
    * must be bounded — the same bounded-posting argument as the Jaccard
    * inverted index's `maxDf` cap. Real TPC-H bounds suppliers-per-part
    * at 4 by construction; the synthetic fixture does not (measured 50
    * suppliers on one part at sf0.1, which makes the 1000-supplier
    * co-supply graph a near-clique: 410k of 499.5k possible edges, ~100M
    * wedges — quadratic blowup with no analytic value). `perPartCap`
    * keeps the `suppPerPart` smallest suppliers per part (deterministic,
    * orderable, oracle-expressible), restoring edges = O(parts ·
    * cap²). Everything downstream is equi-join + aggregate on supplier
    * keys. Integer/rational output only. */
  def triangles(lineitem: DataFrame, partCap: Long = 2000,
      suppPerPart: Int = 5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p")).orderBy(col("s"))
    val ps = lineitem.filter(col("l_partkey") <= partCap)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= suppPerPart)
      .drop("rn")
    // The edge list is referenced by deg (twice), oriented, and the edge
    // stats; `oriented` is referenced three more times (both wedge sides
    // + the closing probe). Left unpersisted, Catalyst re-expands each
    // reference into the full lineitem-scan + self-join subtree (the
    // physical plan held 17 copies of the ps⋈ps join — 33 s at sf0.1).
    // Persisting the two tiny reused relations (edge lists are O(parts ×
    // suppliers-per-part²), KBs here, dimension-sized at 100 TB) is the
    // standard Spark idiom for iterative/multi-reference graph plans —
    // GraphX does exactly this; a 1000-executor run would persist with
    // MEMORY_AND_DISK and checkpoint to cut lineage.
    // Measured A/B (ProfileTriangles, sf0.1, r10): dropping THIS edges
    // persist and keeping only `oriented` runs ~0.15 s faster (1.6 vs
    // 1.8 s) because the fixture's lineitem scan is page-cache-cheap —
    // but that variant re-expands the corpus scan + distinct 4× (deg
    // twice, oriented, edgeStats), which inverts the trade at real
    // scale. One corpus scan feeding a cached dimension-sized edge
    // list is the 100 TB-correct shape; kept.
    val edges = ps.as("x").join(ps.as("y"),
        col("x.p") === col("y.p") && col("x.s") < col("y.s"))
      .select(col("x.s").as("u"), col("y.s").as("v"))
      .distinct()
      .persist()
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(uLower, col("u")).otherwise(col("v")).as("lo"),
        when(uLower, col("v")).otherwise(col("u")).as("hi"),
        when(uLower, col("dv")).otherwise(col("du")).as("dhi"))
      .persist()
    val e1 = oriented.select(col("lo").as("l1"), col("hi").as("h1"),
      col("dhi").as("dh1"))
    val e2 = oriented.select(col("lo").as("l2"), col("hi").as("h2"),
      col("dhi").as("dh2"))
    val wedges = e1.join(e2, col("l1") === col("l2") &&
      (col("dh1") < col("dh2") ||
        (col("dh1") === col("dh2") && col("h1") < col("h2"))))
    val tri = wedges
      .join(oriented.select(col("lo").as("cl"), col("hi").as("ch")),
        col("h1") === col("cl") && col("h2") === col("ch"))
      .agg(count(lit(1)).as("n_triangles"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val out = nodeStats.crossJoin(edgeStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        (lit(3.0) * col("n_triangles").cast("double") /
          col("n_wedges").cast("double")).as("clustering"))
    // The output is exactly ONE summary row: materialize it now (while the
    // two persisted relations are hot), then RELEASE the caches — left
    // pinned, they'd accumulate for the life of a multi-query session and
    // at real scale evict working memory. A 1-row collect is a stats
    // read, not a driver-side loop.
    val row = out.collect()
    edges.unpersist()
    oriented.unpersist()
    lineitem.sparkSession.createDataFrame(
      java.util.Arrays.asList(row: _*), out.schema)
  }

  /** DuckDB oracle: identical posting cap, orientation, wedge-close. */
  def trianglesOracleSql(partCap: Long = 2000,
      suppPerPart: Int = 5): String =
    s"""WITH ps0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
           FROM lineitem WHERE l_partkey <= $partCap),
        ps AS (SELECT p, s FROM (
           SELECT p, s, row_number() OVER (PARTITION BY p ORDER BY s) rn
           FROM ps0) WHERE rn <= $suppPerPart),
        e AS (SELECT DISTINCT x.s AS u, y.s AS v
           FROM ps x JOIN ps y ON x.p = y.p AND x.s < y.s),
        deg AS (SELECT n, count(*) AS d FROM (
           SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
        o AS (SELECT
           CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
             THEN e.u ELSE e.v END AS lo,
           CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
             THEN e.v ELSE e.u END AS hi,
           CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
             THEN dv.d ELSE du.d END AS dhi
          FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
        w AS (SELECT a.hi AS b, b2.hi AS c FROM o a JOIN o b2
           ON a.lo = b2.lo
           AND (a.dhi < b2.dhi OR (a.dhi = b2.dhi AND a.hi < b2.hi))),
        t AS (SELECT count(*) AS n_triangles
           FROM w JOIN o ON w.b = o.lo AND w.c = o.hi)
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
          (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
          (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
            AS n_wedges,
          CAST(n_triangles AS BIGINT) AS n_triangles,
          3.0 * CAST(n_triangles AS DOUBLE) /
            CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS DOUBLE)
            AS clustering
        FROM t"""

  /** Multi-source BFS: minimum hop distance from the seed parts over
    * the same bipartite part↔supplier graph as [[pagerank]], a FIXED
    * number of rounds so the whole computation is one declarative plan.
    * The pair list is pinned once ([[bipartite]]), so lineitem is
    * scanned once, not once per reference.
    *
    * Rounds are LINEAR: the step relation is the directed edge list
    * (weight 1) plus a zero-weight self-loop per seed, so
    * `dist_i = min over (steps ⋈ dist_{i-1}) of (d + w)` names the
    * previous round once — one join + one min-agg per round. The
    * doubling form `min(dist_{i-1} ∪ edges ⋈ dist_{i-1})` names it
    * twice, so its plan tree doubles each round. The two are equal
    * with loops on the seeds alone: a
    * seed keeps 0 through its loop, and any other node n with
    * d(n) ≤ i is re-offered d(n) in round i by its predecessor on a
    * shortest path (d = d(n) − 1, in dist_{i-1} by induction), while
    * no step can offer less than the true distance. Loops on every
    * node would give the same rows at the cost of a distinct over all
    * edge sources (BfsLinearSpec pins the equality against the
    * doubling form). min() is idempotent, so re-relaxing settled
    * nodes is harmless (no frontier bookkeeping).
    * `checkpointEvery` = k > 0 localCheckpoints the distance relation
    * every k rounds (the pagerank knob — lineage control for deep
    * iteration at 100 TB; default off at 3 fixed rounds); a production
    * run would also stop when a round changes nothing. */
  def bfsHops(lineitem: DataFrame, partCap: Long = 2000,
      seedCap: Long = 3, iters: Int = 3,
      checkpointEvery: Int = 0, seedModulo: Long = 0): DataFrame = {
    // Rounds iterate over PACKED LONG ids (2p for parts, 2s+1 for
    // suppliers): joins/aggs on an 8-byte key, the label string is
    // reconstructed only in the final tiny projection. At 100 TB a
    // numeric node id is the difference between hashing longs and
    // hashing strings in every round's shuffle.
    val (e0, edges) = bipartite(lineitem, partCap)
    // Only settled (reached) nodes flow through the rounds: unreached
    // nodes would just carry null distances through every aggregation.
    // `seedModulo` > 0 seeds `p % seedModulo <= seedCap` instead of
    // `p <= seedCap` — the k×-scaled gate's knob: scaled copies shift
    // part keys by copy·10⁷, so the plain cap would seed only copy 0
    // and certify a base-sized frontier on a 256× graph.
    val seedPred = if (seedModulo > 0) col("p") % seedModulo <= seedCap
      else col("p") <= seedCap
    val seeds = e0.filter(seedPred).select((col("p") * 2).as("nid"))
      .distinct()
    val steps = edges.select(col("src"), col("dst"), lit(1L).as("w"))
      .unionAll(seeds.select(col("nid").as("src"), col("nid").as("dst"),
        lit(0L).as("w")))
    var dist = seeds.select(col("nid"), lit(0L).as("d"))
    for (i <- 1 to iters) {
      dist = steps.join(dist, col("src") === col("nid"))
        .groupBy(col("dst").as("nid"))
        .agg(min(col("d") + col("w")).as("d"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        dist = dist.localCheckpoint(true)
    }
    dist
      .select(concat(
          when(col("nid") % 2 === 0, lit("p")).otherwise(lit("s")),
          expr("nid div 2").cast("string")).as("node"),
        col("d"))
      .orderBy(col("d"), col("node"))
  }

  /** DuckDB oracle for [[bfsHops]] — rounds unrolled as chained CTEs. */
  def bfsHopsOracleSql(partCap: Long = 2000, seedCap: Long = 3,
      iters: Int = 3, seedModulo: Long = 0): String = {
    val seedPred = if (seedModulo > 0) s"p % $seedModulo <= $seedCap"
      else s"p <= $seedCap"
    val round = (prev: String, cur: String) =>
      s"""$cur AS (
           SELECT node, min(d) AS d FROM (
             SELECT node, d FROM $prev
             UNION ALL
             SELECT e.dst AS node, p.d + 1 AS d
             FROM edges e JOIN $prev p ON e.src = p.node)
           GROUP BY node)"""
    val rounds = (1 to iters)
      .map(i => round(s"d${i - 1}", s"d$i")).mkString(",\n")
    s"""WITH e0 AS (
         SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
         WHERE l_partkey <= $partCap),
       edges AS (
         SELECT 'p' || p AS src, 's' || s AS dst FROM e0
         UNION ALL SELECT 's' || s, 'p' || p FROM e0),
       d0 AS (
         SELECT DISTINCT 'p' || p AS node, 0::BIGINT AS d
         FROM e0 WHERE $seedPred),
       $rounds
       SELECT node, d FROM d$iters ORDER BY d, node"""
  }

  /** Synchronous label propagation (Raghavan et al. 2007, the
    * deterministic variant) over the SAME capped co-supply graph as
    * [[triangles]]: every supplier starts in its own community, and
    * each of a FIXED `iters` rounds relabels every node to its
    * neighbors' most frequent label (ties break to the SMALLEST label —
    * the determinism that makes synchronous LPA oracle-exact where the
    * textbook random tie-break is not). Completes the graph family:
    * PageRank ranks, BFS measures distance, CC finds reachability,
    * triangles measure cohesion — LPA finds the denser-than-chance
    * communities reachability can't separate (CC merges everything
    * touching; LPA splits a bridge).
    *
    * Output is node grain — (node, community) — so the oracle hash
    * pins the ENTIRE propagation, not just surviving community sizes.
    * The default posting cap keeps ONE co-supply witness pair per part
    * (`suppPerPart` = 2, the sparsest faithful projection): the
    * fixture's part↔supplier incidence is random, so at the triangles
    * density (cap 5) the projection is near-Erdős–Rényi and LPA
    * correctly converges to a single community (measured: 1 community
    * at every SF; at cap 2 the sf0.1 graph holds 7). Random graphs
    * have no modular structure to find — the two-clique-bridge spec in
    * OperatorSpec proves the operator finds it when it exists.
    *
    * Scale: per round = ONE shuffle join of the adjacency against the
    * label relation on an 8-byte key + a (node, label) count agg + a
    * map-side-combining per-node argmax fold (`min(struct(-cnt,
    * lbl))` — no window, no sort). The adjacency is dimension-sized
    * under the posting cap and persisted across rounds (the triangles
    * persist rationale); `checkpointEvery` = k > 0 additionally
    * localCheckpoints the label relation every k rounds — the lineage
    * knob for deep iteration (default off at 3 fixed rounds). The
    * node-grain result is materialized DISTRIBUTED via an eager
    * localCheckpoint, which lets the adjacency cache release without a
    * driver-side collect — node-grain data never crosses the driver
    * (r10 VERDICT item 3). */
  def labelPropagation(lineitem: DataFrame, partCap: Long = 2000,
      suppPerPart: Int = 2, iters: Int = 3,
      checkpointEvery: Int = 0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p")).orderBy(col("s"))
    val ps = lineitem.filter(col("l_partkey") <= partCap)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= suppPerPart)
      .drop("rn")
    val e = ps.as("x").join(ps.as("y"),
        col("x.p") === col("y.p") && col("x.s") < col("y.s"))
      .select(col("x.s").as("u"), col("y.s").as("v"))
      .distinct()
    // pre-partitioned on the probe key BEFORE caching: InMemoryTableScan
    // preserves the hash partitioning, so each round's join shuffles
    // ONLY the node-grain label relation — the cached corpus-derived
    // side never re-exchanges (measured: warm 1.86 -> 1.62 s at sf0.1,
    // the remainder being the fixed R-round stage schedule; at 100 TB
    // the saved exchanges are edge-relation-sized, the dominant ones)
    val adj = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("v"))
      .persist()
    var labels = adj.select(col("u").as("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
    for (i <- 1 to iters) {
      labels = adj.join(labels, col("v") === col("n"))
        .groupBy(col("u"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("u"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l")))
          .getField("l").as("newl"))
        .select(col("u").as("n"), col("newl").as("lbl"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        labels = labels.localCheckpoint(true)
    }
    // Eager localCheckpoint: runs the propagation while the adjacency
    // cache is hot and pins the result as a distributed LogicalRDD, so
    // the cache can release immediately — unlike the triangles/kmeans
    // collect precedent (1-row / model-sized), this result is
    // node-grain and must never funnel through the driver.
    val out = labels.select(col("n").as("node"), col("lbl").as("community"))
      .orderBy(col("node"))
      .localCheckpoint(true)
    adj.unpersist()
    out
  }

  /** DuckDB oracle for [[labelPropagation]] — rounds unrolled as
    * chained CTEs; the argmax replays as min over (-count, label). */
  def labelPropagationOracleSql(partCap: Long = 2000,
      suppPerPart: Int = 2, iters: Int = 3): String = {
    val round = (prev: String, cur: String) =>
      s"""$cur AS MATERIALIZED (
           SELECT u AS n, lbl FROM (
             SELECT u, lbl, row_number() OVER (PARTITION BY u
                 ORDER BY cnt DESC, lbl) AS rn
             FROM (SELECT a.u, l.lbl, count(*) AS cnt
               FROM adj a JOIN $prev l ON a.v = l.n GROUP BY a.u, l.lbl))
           WHERE rn = 1)"""
    val rounds = (1 to iters)
      .map(i => round(s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""WITH ps0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
           FROM lineitem WHERE l_partkey <= $partCap),
        ps AS (SELECT p, s FROM (
           SELECT p, s, row_number() OVER (PARTITION BY p ORDER BY s) rn
           FROM ps0) WHERE rn <= $suppPerPart),
        e AS (SELECT DISTINCT x.s AS u, y.s AS v
           FROM ps x JOIN ps y ON x.p = y.p AND x.s < y.s),
        adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        l0 AS (SELECT DISTINCT u AS n, u AS lbl FROM adj),
        $rounds
        SELECT n AS node, lbl AS community FROM l$iters ORDER BY node"""
  }
}
