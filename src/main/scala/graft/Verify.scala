package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder.getOrCreate()
    new java.io.File(outDir).mkdirs()
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
    // a failing query is named and skipped so every other output is
    // still written; the run then exits 1 (after oracle_sql.json)
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
