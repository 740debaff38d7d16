package graft.bdb

import org.apache.spark.sql.SparkSession

/** Whole-benchmark runner — the E3 equivalent of the reference's
  * `gpu_bdb/benchmark_runner.py`: one shared session, every query run
  * `repeats` times (reference N_REPEATS=5, `benchmark_runner.py:9`),
  * per-run wall-clock written as a CSV results table (the reference
  * pushes the same rows to a sheet, `bdb_tools/utils.py:800-841`).
  *
  * Contamination defense (same discipline as `graft.Bench`): repeats
  * are FULL-SUITE PASSES, not back-to-back runs of one query — the
  * host's stall windows span >1 min and would swallow adjacent
  * repeats of the same query; pass separation decorrelates them. The
  * reported time per query is the min across passes, and any query
  * whose min is still >5× the median of all mins gets one ISOLATED
  * re-run appended (`run` column `rerun`) so a stall that happened to
  * hit every pass of one query can't masquerade as a plan defect.
  * Every per-pass time stays in the CSV for audit.
  *
  * Usage: BdbBenchmarkRunner <bdbParquetBasePath> <outCsv> [repeats]
  */
object BdbBenchmarkRunner {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BdbBenchmarkRunner <bdbParquetBasePath> <outCsv> [repeats]")
    val basePath = args(0)
    val outCsv = args(1)
    val repeats = if (args.length > 2) args(2).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session(cpus.toInt,
      appName = "graft-bdb-benchmark")
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_BDB_ONLY=q18,q30 limits the suite for profiling
    val only = sys.env.get("SPARK_GRAFT_BDB_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val qs = only.fold(BdbQueries.all)(f => BdbQueries.all.filter {
      case (n, _) => f(n)
    })
    try run(spark, basePath, outCsv, repeats, qs)
    finally spark.stop()
  }

  final case class RunResult(query: String, pass: String, readS: Double,
      mainS: Double, writeS: Double, totalS: Double, rows: Long,
      status: String) {
    def csv: String =
      f"$query,$pass,$readS%.3f,$mainS%.3f,$writeS%.3f,$totalS%.3f,$rows,$status"
  }

  /** Core loop, reusable against any session (tests pass their own).
    * `queries` defaults to the reference-parameter set; callers on
    * tiny data can override individual entries (e.g. q28 with a
    * vocabulary-sized feature space instead of the 2^23 default,
    * whose dense NB model costs ~200 MB per broadcast).
    *
    * Timing is phase-split the way the reference clocks each query
    * (`bdb_tools/utils.py:54-84`: read-graph / main / write):
    *  - read_secs: building the DataFrame graph (catalog lookups,
    *    plan construction — Spark's analogue of the reference's
    *    read-graph step; scans are lazy so this is cheap by design),
    *  - main_secs: materializing the result via
    *    [[graft.ops.Materialize]] — every scan/shuffle/compute runs
    *    here, and its one eager job also yields the row count,
    *  - write_secs: writing the ALREADY-materialized result as
    *    parquet, so the write clock contains no recompute (the
    *    reference's to_parquet step).
    * A regression that shows up in main but not write is compute- or
    * scan-side; one in write alone is sink-side. Caveat: the ML
    * queries (q05/q20/q25/q26/q28) train eagerly while the graph is
    * built, so their fit cost lands in read_secs — same attribution
    * as the reference, whose q25-style queries also fit inside the
    * "main" closure they time as a unit.
    *
    * `mustHaveRows` is the data-validity gate (round-5 lesson: the
    * sf1 suite "passed" for two rounds while its hardest queries
    * computed empty results): after all passes, any listed query
    * whose best run produced 0 rows fails the whole invocation —
    * AFTER the CSVs are written, so the evidence survives.
    *
    * Returns per-query best totals (post-rerun).
    */
  def run(spark: SparkSession, basePath: String, outCsv: String,
      repeats: Int,
      queries: Map[String, SparkSession => org.apache.spark.sql.DataFrame]
        = BdbQueries.all,
      mustHaveRows: Set[String] = Set.empty): Map[String, Double] = {
    BdbCatalog.registerParquet(spark, basePath)
    val writeDir = java.nio.file.Files
      .createTempDirectory("bdb-bench-write")
    val results = new scala.collection.mutable.ListBuffer[RunResult]

    def attempt(name: String,
        fn: SparkSession => org.apache.spark.sql.DataFrame,
        pass: String): RunResult = {
      var status = "ok"
      val t0 = System.nanoTime()
      var tRead = 0L; var tMain = 0L; var tWrite = 0L; var rows = 0L
      try {
        val df = fn(spark)
        tRead = System.nanoTime()
        val (mat, n) = graft.ops.Materialize.withCount(df)
        rows = n
        tMain = System.nanoTime()
        mat.write.mode("overwrite").parquet(s"$writeDir/$name")
        tWrite = System.nanoTime()
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bdb-bench] $name $pass: ${e.getMessage}")
        status = "error"
      } finally {
        // drop the materialized blocks so query N's result doesn't
        // occupy execution memory during query N+1 (shared helper)
        graft.tools.SessionHygiene.unpersistAll(spark, blocking = true)
      }
      val end = if (tWrite != 0L) tWrite else System.nanoTime()
      val r = RunResult(name, pass,
        if (tRead != 0L) (tRead - t0) / 1e9 else 0.0,
        if (tMain != 0L) (tMain - tRead) / 1e9 else 0.0,
        if (tWrite != 0L) (tWrite - tMain) / 1e9 else 0.0,
        (end - t0) / 1e9, rows, status)
      println(f"[bdb-bench] $name $pass: read=${r.readS}%.3f " +
        f"main=${r.mainS}%.3f write=${r.writeS}%.3f " +
        f"total=${r.totalS}%.3f s rows=$rows ($status)")
      r
    }

    val sorted = queries.toSeq.sortBy(_._1)
    try {
      (1 to repeats).foreach { pass =>
        sorted.foreach { case (name, fn) =>
          results += attempt(name, fn, pass.toString)
        }
      }
      // isolated re-run of suspicious outliers: min still >5x the
      // median of per-query mins (and >2s, so tiny queries' jitter
      // doesn't trigger re-runs)
      def minOk(name: String): Option[Double] = {
        val ts = results.filter(r => r.query == name && r.status == "ok")
        if (ts.isEmpty) None else Some(ts.map(_.totalS).min)
      }
      val mins = sorted.flatMap { case (n, _) => minOk(n) }.sorted
      if (mins.nonEmpty) {
        val median = mins(mins.size / 2)
        sorted.foreach { case (name, fn) =>
          if (minOk(name).exists(m => m > 5 * median && m > 2.0))
            results += attempt(name, fn, "rerun")
        }
      }
    } finally {
      val header = "query,run,read_secs,main_secs,write_secs,total_secs,rows,status"
      java.nio.file.Files.write(java.nio.file.Paths.get(outCsv),
        (header +: results.map(_.csv)).mkString("\n").getBytes("UTF-8"))
      // summary: best pass per query (what scaling analyses should read)
      val summary = "query,best_total_secs,best_main_secs,rows,passes_ok" +:
        sorted.map { case (name, _) =>
          val ok = results.filter(r => r.query == name && r.status == "ok")
          if (ok.isEmpty) s"$name,,,0,0"
          else {
            val best = ok.minBy(_.totalS)
            f"$name,${best.totalS}%.3f,${best.mainS}%.3f,${ok.map(_.rows).max},${ok.size}"
          }
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outCsv.replaceAll("\\.csv$", "") + "_summary.csv"),
        summary.mkString("\n").getBytes("UTF-8"))
      // the full 30-query result set is non-trivial at sf>=1: don't
      // leave it orphaned in /tmp
      def rmTree(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).forEach(rmTree(_))
        java.nio.file.Files.deleteIfExists(p)
      }
      rmTree(writeDir)
    }

    val empty = mustHaveRows.toSeq.sorted.filter { name =>
      results.filter(r => r.query == name && r.status == "ok")
        .forall(_.rows == 0L)
    }
    if (empty.nonEmpty)
      throw new AssertionError(
        s"queries produced 0 rows but must be non-empty: ${empty.mkString(", ")} " +
          "(data-validity gate: an empty pipeline benchmarks nothing)")
    sorted.flatMap { case (name, _) =>
      val ok = results.filter(r => r.query == name && r.status == "ok")
      if (ok.isEmpty) None else Some(name -> ok.map(_.totalS).min)
    }.toMap
  }
}
