package graft

/** Session-global configuration hygiene for the whole query surface
  * (r14 verdict item 5): o63's recursion row-limit raise was a
  * session-wide mutation until it was sized to its table, and the
  * class of bug — a query that flips a session conf and leaves it
  * flipped for every LATER query in the same session — is invisible
  * to the per-query DuckDB gate (each query is right; the SESSION
  * drifts). This spec builds every registered query in one session
  * and asserts the conf map is unchanged afterward, except the three
  * DOCUMENTED session-scoped settings:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong` and
  *    `spark.sql.parquet.inferTimestampNTZ.enabled` — Tables.load's
  *    reader contract for the nanos-timestamped events parquet,
  *    deliberately session-wide (every consumer needs them);
  *  - `spark.sql.cteRecursionRowLimit` — o63's runaway valve,
  *    documented table-sized (lazy planning: a scoped restore would
  *    undo it before execution).
  *
  * Any NEW key in this list needs the same written justification —
  * the allowlist is the contract, not a suppression.
  *
  * Streaming queries execute inside their builder (runToTable /
  * processAllAvailable), so their save/restore discipline
  * (StreamConf) is exercised for real here, not just plan-built.
  */
class ConfSpec extends SparkSpec {

  test("the full query sweep leaves session confs unchanged " +
      "(documented allowlist aside)") {
    val s = spark
    val allowed = Set(
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.cteRecursionRowLimit")
    val failures = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val snap = s.conf.getAll
      try fn(s, sf)
      catch { case e: Throwable =>
        failures += s"$name: build failed: ${e.getMessage}"
      }
      val now = s.conf.getAll
      val changed = ((snap.keySet ++ now.keySet) -- allowed)
        .filter(k => snap.get(k) != now.get(k))
      if (changed.nonEmpty)
        failures += s"$name mutated session confs: " + changed.toSeq.sorted
          .map(k => s"$k: ${snap.get(k)} -> ${now.get(k)}").mkString("; ")
      // release checkpoint/cache blocks the builder pinned so the
      // sweep's footprint stays flat — safe between independent
      // queries that each rebuild from source (SessionHygiene's
      // contract); non-blocking is enough for footprint control
      graft.tools.SessionHygiene.unpersistAll(s, blocking = false)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
