package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
/** Correctness dump: each query of SparkEntry.registry → parquet, plus
  * its oracle SQL in oracle_sql.json, for the DuckDB compare that
  * tools/check_oracle.py replicates. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder.getOrCreate()
    // Fixture-drift canary: fail LOUDLY with the drifted column's name
    // before any query runs (round 5: a regenerated events.ts surfaced as
    // 62 opaque analysis errors). Non-fatal — queries on undrifted tables
    // should still be verified — but the banner makes the cause legible.
    val drift = Tables.checkContract(spark, sfDir)
    if (drift.nonEmpty) {
      System.err.println("[verify] FIXTURE SCHEMA DRIFT DETECTED:")
      drift.foreach(d => System.err.println(s"[verify]   $d"))
    }
    // Builder-side iteration aid: SPARK_GRAFT_ONLY=q_a,q_b restricts the
    // dump to the named queries (driver never sets it — full run).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.registry.filter(q => only.forall(_.contains(q.name))))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `<outDir>/<name>` (one parquet file)
    * and the oracle SQL of `qs` to `<outDir>/oracle_sql.json`. A failing
    * query is named and skipped so every other output is still written;
    * returns the failed names. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      qs: Seq[Query]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = qs.flatMap { q =>
      val t0 = System.nanoTime()
      try {
        q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        println(f"[verify] ${q.name} sec=${(System.nanoTime() - t0) / 1e9}%.2f")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        Some(q.name)
      }
    }
    val json = qs.flatMap(q => q.oracle.map(sql =>
      "\"" + jsonEscape(q.name) + "\": \"" + jsonEscape(sql) + "\""))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json.mkString("{", ",", "}"))
    failed
  }

  /** JSON string-body escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in hand-written SQL would otherwise make the
    * compare's json.load fail and silently zero the correctness check. */
  def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }
}
