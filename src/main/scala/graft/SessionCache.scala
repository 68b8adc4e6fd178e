package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Per-session state keyed WEAKLY on the session: dropping the session
  * drops its entries, and a static strong map would pin every
  * SparkSession (and its executor state) for the life of the JVM
  * (ADVICE r6).
  *
  * The rule that makes weak keys work: a cached value must never
  * reference the session, directly or through a DataFrame or logical
  * plan (a `HadoopFsRelation` holds its session) — such a value keeps
  * its own key alive and the session is never collected. Cache
  * model-sized values (weight vectors, centroids, paths); per-session
  * DataFrames belong in storage the session owns (`Tables.load`'s temp
  * views). */
final class SessionCache[V] {
  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[String, V]])

  /** The session's own map, created on first use. */
  def apply(spark: SparkSession): TrieMap[String, V] =
    sessions.computeIfAbsent(spark, _ => TrieMap.empty[String, V])
}
