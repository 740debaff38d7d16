package graft.tools

import org.apache.spark.sql.SparkSession

/** The one shared between-queries cleanup (r15 verdict item: one
  * function, three call sites — graft.Bench, BdbBenchmarkRunner,
  * ConfSpec — instead of three inlined copies).
  *
  * Releases every persisted RDD block and cached table on the
  * session, so blocks held by [[graft.ops.Materialize]] or `cache()`
  * inside the query just run don't starve later shuffle-heavy
  * queries of execution memory (measured: uncapped LSH/simhash
  * materializations inflated later queries up to 10x before this
  * hygiene existed). A frame still in use afterwards recomputes its
  * released blocks from lineage.
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
