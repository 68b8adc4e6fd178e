package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-drift canary (see Tables.contract): when the driver
  * regenerates the parquet fixtures with a changed physical type, this
  * suite fails naming the drifted column — instead of the round-5 mode
  * where drift surfaced as dozens of opaque downstream analysis errors. */
class FixtureContractSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("fixture schemas match the contract (drift names the column)") {
    val drift = Tables.checkContract(spark, TestSpark.sf)
    assert(drift.isEmpty,
      s"\nFIXTURE SCHEMA DRIFT:\n  ${drift.mkString("\n  ")}\n" +
        "If the new type is a legitimate new vintage, extend " +
        "Tables.contract AND the loaders that branch on it " +
        "(Tables.normalizeTs, EventsPipeline.historicalRangeScan, " +
        "StreamingPipeline.eventsStream).")
  }

  test("documents.text is pure ASCII (the media-oracle byte==char " +
      "precondition)") {
    // The q_media_features / q_media_frames oracles index payload BYTES
    // as ascii(substring(text, p+1, 1)) — valid only while every char
    // is one byte. A regenerated fixture with any multi-byte character
    // would keep the schema contract green but silently diverge the
    // engines, so the content precondition gets its own named canary.
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val nonAscii = docs
      .filter(length(col("text").cast("binary")) =!= length(col("text")))
      .count()
    assert(nonAscii == 0,
      s"$nonAscii documents contain non-ASCII text: the media oracles' " +
        "byte-indexing arithmetic no longer matches Spark's UTF-8 " +
        "payload bytes — rework Multimodal.*OracleSql byte extraction")
    assert(docs.filter(length(col("text")) === 0).count() == 0,
      "empty documents would crash StubCodec.decode's payload(0) read")
  }

  test("normalizeTs canonicalizes every known events.ts vintage") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val sq = spark
    import sq.implicits._
    // micros-instant vintage arrives as TIMESTAMP_NTZ
    val ntz = Seq(1706572694607263L).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    // nanos vintage arrives as long (nanosAsLong)
    val nanos = Seq(1706572694607263L * 1000L).toDF("ts")
    val fromNtz = Tables.normalizeTs(ntz).schema("ts").dataType
    val fromNanos = Tables.normalizeTs(nanos).schema("ts").dataType
    assert(fromNtz == TimestampType && fromNanos == TimestampType)
    // same instant from both vintages (session is UTC)
    val a = Tables.normalizeTs(ntz).select(unix_micros(col("ts"))).head().getLong(0)
    val b = Tables.normalizeTs(nanos).select(unix_micros(col("ts"))).head().getLong(0)
    assert(a == 1706572694607263L && b == 1706572694607263L)
  }

  // ---- session lifecycle: per-session state must die with the session.
  // The sessions below run NO action: Spark itself keeps a session
  // reachable once it has run a shuffle, a pin outside graft.

  /** Builds a `newSession()`, runs `use` on it, and returns only a weak
    * reference, so no frame of the caller keeps the session alive. */
  private def dropped(use: SparkSession => Unit): WeakReference[AnyRef] = {
    val s = spark.newSession()
    use(s)
    new WeakReference[AnyRef](s)
  }

  private def collected(ref: WeakReference[AnyRef]): Boolean =
    (1 to 30).exists { _ => System.gc(); Thread.sleep(20); ref.get == null }

  test("a dropped session that ran no action is collected (control)") {
    assert(collected(dropped(_ => ())))
  }

  test("a dropped session that loaded every table and a session dir is " +
      "collected") {
    val ref = dropped { s =>
      Tables.all.foreach(Tables.load(s, TestSpark.sf, _))
      SessionDirs.getOrBuild(s, "lifecycle", "graft_lifecycle")(_.toString)
    }
    assert(collected(ref), "Tables/SessionDirs pin a dropped session")
  }

  test("Tables.load reuses one file index per (session, dir, table)") {
    def index(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.get
    val otherSf = TestSpark.sf.replace("sf0.001", "sf0.01")
    Seq("lineitem", "events").foreach { t =>
      val a = index(Tables.load(spark, TestSpark.sf, t))
      assert(a eq index(Tables.load(spark, TestSpark.sf, t)), t)
      assert(a ne index(Tables.load(spark, otherSf, t)), t)
    }
  }
}
