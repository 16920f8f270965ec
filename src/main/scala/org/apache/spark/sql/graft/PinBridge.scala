package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** A long-lived pin that KEEPS its lineage: the frame's rows persisted
  * at `level` as an RDD of Spark's internal rows, wrapped in a plan
  * leaf that carries the frame's output attributes and statistics —
  * what `localCheckpoint` builds, minus the lineage cut. A partition
  * whose blocks are gone (executor lost, evicted, or the RDD
  * unpersisted by housekeeping) is recomputed from the source plan on
  * the next read instead of failing the job, which is what a pin that
  * outlives one operator call needs. Unlike `Dataset.persist` the pin
  * is not registered with the session's CacheManager, so no other
  * query over the same source is silently answered from it, and the
  * ContextCleaner frees its blocks once the returned frame is
  * unreachable. The rows are materialized by the first action that
  * reads the frame, not here.
  *
  * (`Dataset.ofRows`/`LogicalRDD`'s session list are `private[sql]`,
  * hence this shim lives in the sql package hierarchy like
  * [[SessionBridge]].) */
object PinBridge {

  def persisted(df: DataFrame, level: StorageLevel): DataFrame = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    val rows = qe.toRdd.map(_.copy()).persist(level)
    classic.Dataset.ofRows(qe.sparkSession,
      LogicalRDD(qe.analyzed.output, rows)(qe.sparkSession, Some(qe.optimizedPlan.stats)))
  }
}
