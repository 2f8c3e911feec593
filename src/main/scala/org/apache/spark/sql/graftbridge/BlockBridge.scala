package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** The one block-release primitive. `RDD.unpersist` logs a "was locally
  * checkpointed, its lineage has been truncated" WARN for every locally
  * checkpointed RDD before it calls `SparkContext.unpersistRDD` and resets
  * the storage level. Releasing a superseded round or sweeping a finished
  * query is exactly the case where that loss is intended, so a locally
  * checkpointed RDD goes to `unpersistRDD` (`private[spark]`, hence the
  * [[ColumnBridge]] package) directly. Its storage level stays set, which
  * changes nothing: with its blocks gone and its lineage truncated, a later
  * read fails either way. Any other RDD goes through `unpersist`, which
  * logs nothing for it and resets the level, so a later read recomputes
  * and does not re-cache untracked blocks.
  */
object BlockBridge {
  def release(rdd: RDD[_], blocking: Boolean): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking)
}
