package graft.tools

import org.apache.spark.sql.SparkSession

/** The one shared between-queries cleanup (r15 verdict item: one
  * function, three call sites — graft.Bench, BdbBenchmarkRunner,
  * ConfSpec — instead of three inlined copies).
  *
  * Releases every persisted RDD block and cached table on the
  * session, so blocks pinned by `cache()`/`localCheckpoint()` inside
  * the query just run don't starve later shuffle-heavy queries of
  * execution memory (measured: uncapped LSH/simhash checkpoints
  * inflated later queries up to 10x before this hygiene existed).
  *
  * CONTRACT — never call this while a localCheckpointed frame the
  * caller still needs is LIVE. `localCheckpoint` TRUNCATES lineage:
  * once its blocks are unpersisted they are unrecoverable, and the
  * next action on the frame dies with
  * SPARK_JOB_CANCELLED/CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the r15
  * probe-corpus incident, SCALE.md). Safe between INDEPENDENT
  * queries that each rebuild from source (the three call sites);
  * unsafe inside any loop that holds a checkpointed frame across
  * iterations — there, keep a handle on each frame you pinned and
  * unpersist exactly those, and only after the last action that
  * reads them has run.
  *
  * @param blocking true = wait for block removal so the unpersist
  *                 work is never billed to the NEXT timed query (the
  *                 bench discipline); false = fire-and-forget (enough
  *                 for footprint control in a correctness sweep).
  */
object SessionHygiene {
  def unpersistAll(spark: SparkSession, blocking: Boolean = true): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
    spark.catalog.clearCache()
  }
}
