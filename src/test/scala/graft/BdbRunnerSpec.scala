package graft

import graft.bdb.BdbBenchmarkRunner

/** End-to-end drive of the E3 benchmark runner: fixture tables written
  * to the reference parquet layout (basePath/table dir), catalog
  * re-registered from disk, all 30 queries timed, CSV emitted.
  *
  * Queries run with REFERENCE default parameters here (item 10001
  * etc.), so many return 0 rows on the small fixture — the runner's
  * contract is that they all execute and the results table is
  * complete.
  */
class BdbRunnerSpec extends SparkSpec {

  test("loadTest converts pipe-CSV to parquet with schemas intact") {
    val base = "target/graft-tmp/bdb-csv"
    val out = "target/graft-tmp/bdb-parquet-lt"
    // the fixture as dataGen-style pipe CSV (no quoting)
    graft.bdb.BdbDataGen.writeCsv(spark, base, graft.bdb.BdbDataGen.Counts(0.0))
    val frames = BdbFixture.frames(spark)
    val sc = spark.sparkContext
    val group = s"loadtest-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val report = try graft.bdb.BdbCatalog.loadTest(spark, base, out)
      finally sc.clearJobGroup()
    // the pool's threads inherit the caller's job group: one job per
    // table (the row count rides the write), none outside the group
    assert(sc.statusTracker.getJobIdsForGroup(group).length === 23)
    assert(report.map(_._1) === graft.bdb.BdbSchemas.tables)
    report.foreach { case (t, n, secs) =>
      assert(n === frames(t).count(), s"$t row count drifted")
      assert(secs >= 0)
    }
    // converted layout must be queryable end-to-end
    graft.bdb.BdbCatalog.registerParquet(spark, out)
    val q01 = graft.bdb.BdbQueries1
      .q01(spark, stores = Seq(1, 2, 3, 4, 5), minCount = 0).count()
    assert(q01 > 0)
  }

  test("loadTest throws when a table's CSV directory is missing") {
    val base = "target/graft-tmp/bdb-csv-missing"
    graft.bdb.BdbDataGen.writeCsv(spark, base, graft.bdb.BdbDataGen.Counts(0.0))
    val gone = new java.io.File(s"$base/reason")
    org.apache.commons.io.FileUtils.deleteDirectory(gone)
    val e = intercept[Exception] {
      graft.bdb.BdbCatalog.loadTest(spark, base,
        "target/graft-tmp/bdb-parquet-missing")
    }
    assert(e.getMessage.contains(gone.getPath), e.getMessage)
  }

  test("BdbBenchmarkRunner times all 30 queries from a parquet layout") {
    val base = "/root/repo/target/graft-tmp/bdb-parquet"
    BdbFixture.frames(spark).foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$base/$t")
    }
    val outCsv = s"$base/results.csv"
    // fixture vocabulary is tiny: shrink q28's hashed feature space so
    // the NB model broadcast isn't 200 MB (reference default 2^23)
    val best = BdbBenchmarkRunner.run(spark, base, outCsv, repeats = 1,
      queries = graft.bdb.BdbQueries.all +
        ("q28" -> ((s: org.apache.spark.sql.SparkSession) =>
          graft.bdb.BdbQueries2.q28(s, numFeatures = 1 << 16))))
    val lines = scala.io.Source.fromFile(outCsv).getLines().toSeq
    assert(lines.head ===
      "query,run,read_secs,main_secs,write_secs,total_secs,rows,status")
    // header + 30 queries x 1 repeat (+ any isolated outlier re-runs)
    assert(lines.length >= 31)
    assert(lines.tail.map(_.split(",")(0)).distinct.length === 30)
    val failed = lines.tail.filterNot(_.endsWith(",ok"))
    assert(failed.isEmpty, s"queries errored: $failed")
    // phase split must account for the total (read + main + write)
    lines.tail.foreach { l =>
      val f = l.split(",")
      val Array(r, m, w, t) = f.slice(2, 6).map(_.toDouble)
      assert(math.abs(r + m + w - t) < 0.05, s"phase drift: $l")
    }
    assert(best.size === 30)
    val summary = scala.io.Source
      .fromFile(s"$base/results_summary.csv").getLines().toSeq
    assert(summary.head === "query,best_total_secs,best_main_secs,rows,passes_ok")
    assert(summary.length === 31)
  }

  test("mustHaveRows fails the run when a gated query is empty") {
    val base = "/root/repo/target/graft-tmp/bdb-parquet"
    // item 10001 does not exist at fixture scale -> q02 returns 0 rows
    val e = intercept[AssertionError] {
      BdbBenchmarkRunner.run(spark, base,
        s"$base/results-gate.csv", repeats = 1,
        queries = Map("q02" -> ((s: org.apache.spark.sql.SparkSession) =>
          graft.bdb.BdbQueries1.q02(s, itemSk = 10001L))),
        mustHaveRows = Set("q02"))
    }
    assert(e.getMessage.contains("q02"))
  }
}
