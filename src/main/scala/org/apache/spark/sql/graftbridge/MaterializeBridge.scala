package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Spark's `Dataset.localCheckpoint` body with one change: the row
  * RDD is persisted (MEMORY_AND_DISK) and counted instead of
  * checkpointed, so it keeps its lineage and a lost block is
  * recomputed. `LogicalRDD.fromDataset` carries the plan's output
  * partitioning and ordering over, exactly as localCheckpoint does.
  * Returns the frame and its row count (the one eager job).
  */
object MaterializeBridge {
  def persistWithCount(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      val n = rdd.count()
      (Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), n)
    }
  }
}
