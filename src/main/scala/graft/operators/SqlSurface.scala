package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** The SQL-parser surface (`spark.sql`): CTEs and subquery forms that the
  * DataFrame API queries don't exercise. Each statement here is written in
  * the dialect intersection of Spark SQL and DuckDB, so THE SAME STRING
  * is both the implementation and the oracle — parser-level differential
  * testing, the strongest parity form available.
  *
  * Catalyst decorrelates the correlated subqueries into joins
  * (RewriteCorrelatedScalarSubquery), so these plan — and scale — exactly
  * like the explicit join forms. */
object SqlSurface {

  val cte: String =
    """WITH seg AS (
         SELECT c_mktsegment,
            CAST(sum(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total,
            count(*) AS n
         FROM customer GROUP BY c_mktsegment)
       SELECT c_mktsegment, total, n FROM seg ORDER BY c_mktsegment"""

  val scalarSubquery: String =
    """SELECT c_custkey, c_acctbal,
          c_acctbal - (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,2)))
              AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM customer)
            AS delta_from_mean
       FROM customer ORDER BY c_custkey"""

  val correlatedSubquery: String =
    """SELECT c_custkey,
          (SELECT max(o_totalprice) FROM orders
           WHERE o_custkey = c_custkey) AS max_order
       FROM customer ORDER BY c_custkey"""

  val inSubquery: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       WHERE o_custkey IN
         (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
       ORDER BY o_orderkey"""

  val existsSubquery: String =
    """SELECT c_custkey, c_mktsegment FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 300000)
         AND NOT EXISTS (SELECT 1 FROM orders o2
                         WHERE o2.o_custkey = c.c_custkey
                           AND o2.o_orderstatus = 'F'
                           AND o2.o_totalprice < 1000)
       ORDER BY c_custkey"""

  val lateralJoin: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
       FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
       ORDER BY c_custkey, o_orderkey"""

  /** Recursive CTE (Spark 4's WITH RECURSIVE / UnionLoop): the
    * canonical hierarchy walk — descendants of the root in the implicit
    * binary tree parent(c) = floor(c/2) over the first 127 customers,
    * carrying depth and an exact integer-cents root-to-node path sum.
    * Depth is 7 (⌈log₂ 127⌉, well under
    * spark.sql.cteRecursionLevelLimit's default 100).
    *
    * Spark INLINES the non-recursive `edges` CTE into the loop body, so
    * each UnionLoop level re-evaluates it — which is exactly why the
    * recursive term must be CHEAP to recompute: a filtered dim-table
    * scan joined via the BROADCAST hint (a /*+ */ hint parses as a plain
    * comment in DuckDB, so the string stays dialect-shared). A windowed
    * or shuffling subquery in its place multiplies that shuffle by the
    * recursion depth — measured 4.6 s vs 1.9 s for this form at sf0.1.
    * floor(x/2.0) not CAST(x/2): Spark truncates double→int casts,
    * DuckDB rounds them — floor is the dialect-stable integer divide. */
  val recursiveCte: String =
    """WITH RECURSIVE edges AS (
         SELECT c_custkey AS child,
            CAST(floor(c_custkey / 2.0) AS BIGINT) AS parent,
            CAST(round(c_acctbal * 100) AS BIGINT) AS cents
         FROM customer WHERE c_custkey <= 127),
       tree AS (
         SELECT child AS node, CAST(1 AS BIGINT) AS depth,
            cents AS path_cents
         FROM edges WHERE child = 1
         UNION ALL
         SELECT /*+ BROADCAST(e) */ e.child, t.depth + 1,
            t.path_cents + e.cents
         FROM edges e JOIN tree t ON e.parent = t.node)
       SELECT node, depth, path_cents FROM tree ORDER BY node"""

  /** The custom NATIVE expressions exercised through the full SQL
    * path — parser → FunctionRegistry → codegen (the route a SQL-only
    * user takes after `VectorFunctions.register`). Unlike
    * the rest of this file the oracle is not the same string (DuckDB
    * has no cosine_sim/word_shingles); the DuckDB side replays the
    * expressions' exact arithmetic (the q_knn_* recipe). */
  val customFns: String =
    """SELECT d.doc_id,
          size(word_shingles(d.text, 3)) AS n_shingles,
          round(cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>),
                           CAST(b.embedding AS ARRAY<DOUBLE>)), 6)
            AS cos_next
       FROM documents d
       JOIN embeddings a ON a.vec_id = d.doc_id
       JOIN embeddings b ON b.vec_id = d.doc_id + 1
       WHERE d.doc_id < 100
       ORDER BY d.doc_id"""

  val customFnsOracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents),
       sh AS (SELECT doc_id,
           CASE WHEN len(w) < 3 THEN 1
                ELSE len(list_distinct(list_transform(range(len(w) - 2),
                  i -> array_to_string(w[i+1:i+3], ' ')))) END AS n_sh
         FROM t),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings)
       SELECT d.doc_id, CAST(sh.n_sh AS INTEGER) AS n_shingles,
         round(${graft.Cols.sqlCosine("a.v", "b.v")}, 6) AS cos_next
       FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
       JOIN sh ON sh.doc_id = d.doc_id
       JOIN e a ON a.vec_id = d.doc_id
       JOIN e b ON b.vec_id = d.doc_id + 1
       ORDER BY d.doc_id"""

  def runWithCustomFns(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    run(spark, sfDir, customFns)
  }

  def run(spark: SparkSession, sfDir: String, sql: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(sql)
  }
}
