package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.MaterializeBridge

/** graft's one materialization barrier: every intermediate that feeds
  * more than one consumer, or closes an iteration round, goes through
  * here. It is the reference's Dask `persist()` (q01's barrier): run
  * the plan once, eagerly, and keep the rows (MEMORY_AND_DISK) while
  * KEEPING the lineage. A lost block — a lost executor, or a
  * [[graft.tools.SessionHygiene]] sweep — is recomputed from that
  * lineage instead of killing the query, which is what
  * `localCheckpoint` did. The result keeps the plan's output
  * partitioning and ordering, so a consumer keyed like the
  * materialized plan adds no exchange.
  *
  * Nothing enters the CacheManager: the blocks belong to the returned
  * frame's RDD, and they live as long as anything derived from that
  * frame does (Spark's ContextCleaner unpersists them once the RDD is
  * unreachable), or until hygiene drops them. A loop that
  * re-materializes — `SemDedup.lloydCentroids`, the t25/t26 BPE
  * merges — therefore keeps its earlier rounds' blocks until the
  * result is dropped or hygiene runs.
  */
object Materialize {

  /** `df`, computed once and held. One eager job. */
  def apply(df: DataFrame): DataFrame = withCount(df)._1

  /** [[apply]] plus the row count its eager job already took, so a
    * caller that needs the count runs no second job. */
  def withCount(df: DataFrame): (DataFrame, Long) =
    MaterializeBridge.persistWithCount(df)
}
