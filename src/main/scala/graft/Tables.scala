package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Fixture-table access (TESTDATA.md / FIXTURES.md).
  *
  * All queries read the driver's deterministic Parquet tables. Loading is a
  * plain `spark.read.parquet` so Catalyst's datasource V2 path gives us
  * column pruning + predicate pushdown into the scan for free — at 100 TB
  * the scan is the dominant cost, so every query below is written so its
  * filters/projections reach the Parquet reader (verified via
  * `.explain("formatted")`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // One analyzed DataFrame per (session, dir, table): a fresh
  // `spark.read.parquet` re-lists the directory and re-reads footers for
  // schema inference on every call, which at 92 queries × ~10 tables was
  // ~40% of the whole bench. Reusing the analyzed plan keeps the resolved
  // relation (and its file index) while every query still gets its own
  // Catalyst optimization — pushdown/pruning are per-query, not per-load.
  //
  // Ownership rule: the reused plan lives in storage the SESSION owns — a
  // temp view in its own catalog — so it dies with the session. A static
  // map cannot hold it, not even weakly keyed: a DataFrame (and its
  // HadoopFsRelation) references its session, so the value would pin its
  // own key (see SessionCache). The view name is reserved and injective
  // per (dir, table): the dir is hex-encoded, never hashed. A hit reads
  // the view's stored analyzed plan directly: `spark.table(view)` would
  // re-parse and re-analyze it, 0.2-1 ms per load (measured at sf0.1).
  private[graft] def viewName(sfDir: String, name: String): String =
    "__graft_" + sfDir.getBytes("UTF-8").map(b => f"$b%02x").mkString +
      "_" + name

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val view = viewName(sfDir, name)
    Shim.tempView(spark, view).getOrElse(synchronized {
      Shim.tempView(spark, view).getOrElse {
        val df = raw(spark, sfDir, name)
        // events.ts normalization, branched on the ON-DISK type — fixture
        // vintages have shipped both Parquet TIMESTAMP(NANOS) and
        // TIMESTAMP(MICROS), and assuming either one breaks every events
        // query when the fixtures are regenerated in the other (the round-5
        // lesson). All downstream code sees one canonical type:
        // TimestampType (instant, session-UTC), matching DuckDB's read.
        val loaded = if (name == "events") normalizeTs(df) else df
        loaded.createTempView(view)
        loaded
      }
    })
  }

  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // TIMESTAMP(NANOS): Spark 4 can't read it as a timestamp; with
      // nanosAsLong it arrives as long nanos and is truncated to micros
      // with exact integer division (`div` — double division would lose
      // precision above 2^53 ns). DuckDB applies the same ns→us
      // truncation, so the engines agree.
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // TIMESTAMP(MICROS) isAdjustedToUTC=false: arrives as
      // TIMESTAMP_NTZ; reinterpret the wall-clock as UTC instants. All
      // runner sessions pin spark.sql.session.timeZone=UTC, so the cast
      // is the identity on the stored micros value — same instants the
      // nanos vintage produced, same values DuckDB reads.
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts arrived as unexpected type $other — fixture drift? " +
          "Extend Tables.normalizeTs for the new vintage.")
    }

  /** Un-normalized read (streaming needs the on-disk schema). Uncached —
    * streaming relations must be constructed fresh. */
  def raw(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Register every fixture table as a temp view (for spark.sql paths). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  // ---- fixture-drift canary -------------------------------------------
  // Round 5 burned entirely because a regenerated fixture changed
  // events.ts's physical type and the break surfaced as 62 opaque
  // analysis errors. This contract names the drifted column up front.
  // Values are the acceptable Catalyst `simpleString`s of the column AS
  // LOADED BY `raw` (so known vintage variation is listed explicitly:
  // e.g. events.ts has shipped as TIMESTAMP(NANOS) → bigint under
  // nanosAsLong, and as TIMESTAMP(MICROS) → timestamp_ntz).
  private val tsVintages = Set("bigint", "timestamp_ntz", "timestamp")
  val contract: Map[String, Map[String, Set[String]]] = Map(
    "region" -> Map("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Map("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Map("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Map("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Map("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Map("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> tsVintages, "o_orderpriority" -> Set("string")),
    "lineitem" -> Map("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> tsVintages),
    "events" -> Map("event_id" -> Set("bigint"), "ts" -> tsVintages,
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Map("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Map("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>"), "label" -> Set("int")))

  /** Compares each fixture's on-disk schema against [[contract]] and
    * returns one readable message per drifted/missing column (empty =
    * clean). Run at Verify startup and from the FixtureContractSpec so
    * drift fails with a named column, not 62 downstream analysis errors. */
  def checkContract(spark: SparkSession, sfDir: String): Seq[String] =
    contract.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      val loaded = raw(spark, sfDir, table).schema
        .map(f => f.name -> f.dataType.simpleString).toMap
      cols.toSeq.sortBy(_._1).flatMap { case (name, ok) =>
        loaded.get(name) match {
          case None =>
            Seq(s"$table.$name: MISSING (fixture has ${loaded.keys.toSeq.sorted.mkString(", ")})")
          case Some(t) if !ok(t) =>
            Seq(s"$table.$name: drifted to $t (accepted vintages: ${ok.toSeq.sorted.mkString("/")})")
          case _ => Nil
        }
      }
    }
}
