package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into the `private[sql]` Dataset factory: re-host a
  * checkpoint-backed frame in ANOTHER session that shares the same
  * SparkContext. Spark 4's LogicalRDD is session-free (binding happens
  * at `Dataset.ofRows`), so the same materialized blocks can be planned
  * under a different SQLConf — what graft's iterative operators use to
  * run their loops with loop-scoped planning config (static planning,
  * data-proportional width) WITHOUT mutating the caller's shared
  * session conf, which is process-global and would corrupt concurrent
  * queries. The same factory re-wraps a checkpoint with measured
  * statistics (`withSizeInBytes`). Like ColumnBridge, this subpackage
  * exists solely for that one factory. */
object DatasetBridge {

  /** Re-plan a LogicalRDD-backed (localCheckpoint'd) frame under `to`.
    * `newInstance()` refreshes the attribute ids so the re-hosted plan
    * can be joined against frames that also reference the original. */
  def rehost(df: DataFrame, to: org.apache.spark.sql.SparkSession): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        Dataset.ofRows(to.asInstanceOf[ClassicSession], lr.newInstance())
      case other => throw new IllegalArgumentException(
        s"rehost needs a checkpoint-backed frame, got ${other.getClass.getSimpleName}")
    }

  /** The same checkpoint-backed frame, its LogicalRDD reporting
    * `sizeInBytes` instead of the estimate Spark copied from the plan the
    * checkpoint replaced (`LogicalRDD.fromDataset` keeps the optimized
    * plan's stats). The rows, attribute ids and constraints stay; the
    * stats survive [[rehost]], whose `newInstance()` carries them. */
  def withSizeInBytes(df: DataFrame, sizeInBytes: BigInt): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[ClassicSession]
        Dataset.ofRows(session, lr.copy()(
          session, Some(Statistics(sizeInBytes)), Some(lr.constraints)))
      case other => throw new IllegalArgumentException(
        s"withSizeInBytes needs a checkpoint-backed frame, got ${other.getClass.getSimpleName}")
    }
}
