package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge to the `private[spark]` block-manager calls behind
  * `graft.engine.Pin`: the bytes the block-manager master holds
  * for a stored RDD, and the release path of `RDD.unpersist` without its
  * "was locally checkpointed" warning (a released checkpoint is the
  * program's choice, not an accident worth a WARN line per release). */
object StorageBridge {

  /** The locally checkpointed RDD whose blocks back `df`, when `df` is a
    * checkpoint (its plan is the checkpoint's LogicalRDD). */
  def checkpointed(df: DataFrame): Option[RDD[_]] = df.queryExecution.analyzed match {
    case lr: LogicalRDD
        if lr.rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]) =>
      Some(lr.rdd)
    case _ => None
  }

  /** Memory plus disk bytes of `rdd`'s stored blocks, or None unless every
    * partition is stored. Executors report each block to the master
    * before their task ends, so after a job over every partition the
    * figure is complete; one round trip to the master, no job. */
  def storedBytes(rdd: RDD[_]): Option[Long] = {
    val blocks = SparkEnv.get.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.collect {
        case (RDDBlockId(id, split), st) if id == rdd.id =>
          split -> (st.memSize + st.diskSize)
      })
    if (blocks.map(_._1).distinct.size == rdd.getNumPartitions)
      Some(blocks.map(_._2).sum)
    else None
  }

  /** Frees `rdd`'s blocks and forgets it as persistent — what
    * non-blocking `RDD.unpersist` does, minus the warning. */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
