package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration behind every entrypoint (Bench,
  * Verify, Smoke, PlanStats, ExplainDump, Plans), probe and test
  * session, so plan evidence and probe counts are taken under the
  * bench's settings. Callers that need more chain `.config`/`.master`
  * on the returned builder.
  *
  * - master `local[$SPARK_GRAFT_CPUS]`, default min(32, cores): a fixed
  *   small default silently wastes the box when the env is unset;
  * - `spark.sql.shuffle.partitions` = `$SPARK_GRAFT_PARTS`, default
  *   max(8, min(32, cpus)) (measured flat 8-32 at sf0.1,
  *   overhead-dominated below 8);
  * - state-store maintenance every 600 s, so snapshot/cleanup never
  *   lands inside a measured window (streaming state dies with the
  *   session);
  * - UTC session time zone: `Tables.normalizeTs` reinterprets NTZ
  *   wall-clocks as UTC instants, the identity only under UTC;
  * - UI off, one log level.
  */
object Session {
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))
  private val parts: Int = sys.env.get("SPARK_GRAFT_PARTS").map(_.toInt)
    .getOrElse(math.max(8, math.min(32, cpus)))

  def builder: SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", parts.toString)
    .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.log.level", "WARN")
}
