package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** The Spark internals only the probes read (StageCountProbe), kept
  * out of the main [[Shim]]. */
object ProbeShim {
  /** Block until every event posted so far has reached every listener
    * (private[spark] listener bus), so listener counts are complete. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
