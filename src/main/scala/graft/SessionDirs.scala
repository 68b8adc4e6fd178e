package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped temp-DIRECTORY cache — the one lifecycle
  * implementation behind every persisted derived artifact
  * (Sources.partitionedEventsDir's date layout, Similarity.ivfIndexDir's
  * inverted lists).
  *
  * - Per-session paths live in a [[SessionCache]] (weak session keys;
  *   a path never references its session).
  * - Temp roots live until JVM exit (sessions can share them through
  *   the cache) and are then deleted by ONE shutdown hook,
  *   deepest-first, so long-lived multi-session processes don't
  *   accrete orphan directories.
  */
object SessionDirs {
  private val cache = new SessionCache[String]
  private val tmpRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpRoots.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: java.io.IOException => () }
      }))

  /** Get-or-build the per-(session, key) artifact directory: `build`
    * runs at most once per key, receiving a fresh temp root already
    * registered for shutdown cleanup; the returned path (the root or a
    * subdirectory) is cached. Keys should embed the artifact kind
    * (e.g. "ivf:<sfDir>") so different artifacts never collide. */
  def getOrBuild(spark: SparkSession, key: String, prefix: String)(
      build: java.nio.file.Path => String): String = {
    cache(spark).getOrElseUpdate(key, {
      cleanupHook
      val root = java.nio.file.Files.createTempDirectory(prefix)
      tmpRoots.add(root)
      build(root)
    })
  }
}
