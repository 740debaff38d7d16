package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries are forced through the `noop` sink — unlike `count()`,
  * noop materializes every output column, so projection-heavy work
  * (cosines, hashes, string pipelines) is actually measured. This
  * mirrors the reference's timing discipline, which writes results to
  * parquet and clocks the write (`bdb_tools/utils.py:54-84,117-147`).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER=local-cluster[n,c,m] → real executor JVMs
    val spark = Engine.session(cpus.toInt,
      master = Some(graft.tools.ClusterConf.master(cpus)),
      appName = "graft-bench")
    // the testdata ships ONE parquet file per table; at the default
    // 128 MB split size every scan is a single task no matter how
    // many cores the box has. 8 MB splits the row-grouped files
    // across the executor threads (a real cluster reading many-file
    // tables tunes this to its own file sizes instead).
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "8388608"))
    // ERROR (not WARN) from the very start: streaming queries emit a
    // burst of WARN lines (AQE-disabled, checkpoint cleanup, job-group
    // cancel) and sbt pumps forked stderr on a separate thread — a
    // late stderr flush after the stdout JSON pushed round 2's JSON
    // line out of the driver's 2000-char tail window. Keeping stderr
    // silent is the only robust fix.
    spark.sparkContext.setLogLevel("ERROR")
    // untimed warm-up so JIT/codegen startup isn't billed to the
    // alphabetically-first query
    try SparkEntry.queries("o15_multi_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }
    // SPARK_GRAFT_ONLY=q1,q2 limits the run for local profiling;
    // SPARK_GRAFT_REPEATS=N takes the min of N runs per query — the
    // reference's repeated-measurement discipline (N_REPEATS=5 with
    // min taken, benchmark_runner.py:9). Default 2: single cold runs
    // on this host show sporadic ~25 s stalls landing on arbitrary
    // queries (host-level interference — the same queries are
    // sub-second in isolation); min-of-2 suppresses one-off stalls
    // while still charging every query its real steady-state cost.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val repeats = sys.env.get("SPARK_GRAFT_REPEATS")
      .map(_.toInt).getOrElse(2).max(1)
    var failed = List.empty[String]
    var errors = List.empty[String]
    val attempted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Repeats run as FULL PASSES over the suite (pass 1 all queries,
    // then pass 2), not back-to-back per query: the host's sporadic
    // multi-second stall windows span a minute or more, so adjacent
    // repeats can BOTH land inside one (measured: a min-of-2 query at
    // 44 s that runs in 0.6 s otherwise). Same-query repeats separated
    // by a whole pass can't share a stall window.
    val passTimes = scala.collection.mutable
      .LinkedHashMap[String, List[Double]]()
    // One timed attempt with the standard post-query hygiene. Returns
    // the elapsed seconds, or None on failure — a failed attempt's
    // elapsed time is meaningless (fast-fail would make a broken round
    // look fast); a query with zero successes is reported solely in
    // `failed` and excluded from min/total/sec_per_query.
    // `recordFailure=false` for the isolated contamination re-runs: the
    // query already holds a valid suite-pass min, so a re-run failure
    // is logged to the detail file but must not land it in `failed`
    // (the contract is that only zero-success queries appear there).
    def attempt(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        recordFailure: Boolean = true)
        : Option[Double] = {
      val t0 = System.nanoTime()
      try {
        // guide §1.5: label the jobs so a UI/event-log profile of a
        // bench run maps stages back to queries (no timing effect)
        spark.sparkContext.setJobDescription(s"bench: $name")
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        if (recordFailure && !failed.contains(name)) failed ::= name
        errors ::= s"$name: ${e.getMessage}"
        None
      } finally {
        spark.sparkContext.setJobDescription(null)
        // release blocks held by Materialize/cache() inside the query
        // just run (shared helper); blocking, so unpersist work is
        // never billed to a neighbor
        graft.tools.SessionHygiene.unpersistAll(spark, blocking = true)
      }
    }
    // One short JSON line in the driver's shape, reusable for the
    // incremental checkpoints below and the final print.
    // `reruns` counts the isolated contamination re-runs taken after
    // the passes (below): those queries got one more min-of-N sample
    // than the rest — a small systematic downward bias on exactly the
    // slow queries. Carrying the count in the artifact keeps the
    // asymmetry visible instead of silent; per-query suite-vs-isolated
    // values land in the detail file's RERUN lines.
    var rerunCount = 0
    // Host-window calibration INSIDE the artifact (r14 verdict item):
    // the three fixed data-free reference jobs (graft.tools.Calibrate
    // — ALU-saturating, light, shuffle+hash-agg) run before pass 1
    // and again after the re-runs, so BENCH_rN.json self-adjudicates
    // window inflation against SCALE.md's quiet-window reference row
    // without cross-referencing builder prose. Pre vs post also
    // exposes mid-run regime drift. min-of-3 (vs the standalone
    // tool's 5) keeps the overhead ~15 s on a ~200 s suite.
    def calTriple(): Option[(Double, Double, Double)] =
      try Some(graft.tools.Calibrate.triple(spark, 3))
      catch { case scala.util.control.NonFatal(e) =>
        errors ::= s"calibrate failed: ${e.getMessage}"; None
      }
    def calJson(t: Option[(Double, Double, Double)]): String =
      t.map { case (a, b, c) => f"[$a%.2f,$b%.2f,$c%.2f]" }
        .getOrElse("null")
    val calPre = calTriple()
    var calPost: Option[(Double, Double, Double)] = None
    // One-word window verdict IN the artifact (r15 verdict item 7):
    // readers of BENCH_rN.json shouldn't need SCALE.md to classify
    // the run. The shuffle shape is the discriminating reading
    // (quiet-window reference 2.35 s; quiet band <= 2.9 s, degraded
    // windows measure 2.9-6+ s — SCALE.md host-calibration rows).
    // Classified on the POST triple (it brackets the timed passes
    // from the near side); pre is the fallback if post failed.
    def windowVerdict: String =
      calPost.orElse(calPre).map(_._3) match {
        case Some(shuf) => if (shuf <= 2.9) "quiet" else "degraded"
        case None => "unknown"
      }
    def jsonLine(res: Seq[(String, Double)], headlineQs: String): String = {
      val total = res.map(_._2).sum
      val avg = if (res.nonEmpty) total / res.size else 0.0
      val failedJs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      val sfName = new java.io.File(sfDir).getName
      // cpus rides along because the calibrate reference shapes are
      // fixed 32-way jobs: on a non-32-core session they inflate from
      // core count alone, and a reader normalizing against SCALE.md's
      // local[32] quiet-window line must be able to see that
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","n_queries":${res.size},"sec_per_query":$avg%.2f,"failed":$failedJs,"reruns":$rerunCount,"cpus":"$cpus","calibrate":{"pre":${calJson(calPre)},"post":${calJson(calPost)}},"window":"$windowVerdict","queries":$headlineQs,"sf":"$sfName"}"""
    }
    (1 to repeats).foreach { pass =>
      attempted.foreach { case (name, fn) =>
        attempt(name, fn).foreach { t =>
          passTimes.updateWith(name)(o => Some(o.getOrElse(Nil) :+ t))
        }
      }
      // Timeout insurance: two rounds lost their official artifact to
      // host stalls landing inside the driver's timeout budget. After
      // every pass, print a complete, parseable JSON line (min over
      // passes so far, empty headline map to stay short) — if the
      // process dies mid-pass-N (or mid-re-run) the driver's tail
      // window still holds a plausible total from the passes that
      // completed. The FINAL line printed below supersedes these (the
      // driver parses the last JSON line in its tail).
      val sofar = attempted.flatMap { case (n, _) =>
        passTimes.get(n).map(ts => n -> ts.min)
      }
      println(jsonLine(sofar, "{}"))
      System.out.flush()
    }
    val best = passTimes.map { case (n, ts) => n -> ts.min }
    // Contamination defense: this host has sporadic stall windows that
    // can span BOTH separated passes (round 4 recorded 92.3 s for a
    // query that runs in 8.4 s isolated — an 11x lie; round 8 recorded
    // 2.35 s for s09_funnel, 1.16 s isolated — a 2x lie that slipped
    // under the original 5x-median threshold). A stall can only
    // inflate, never deflate, so any min still >2x the suite median
    // (floored at 1 s so sub-second noise never triggers it) gets one
    // isolated re-run here, after the passes, and the min is kept —
    // genuinely expensive queries just get a confirming extra sample.
    // Per-pass times + re-runs land in the detail file so a
    // contaminated run is diagnosable post-hoc.
    val rerunLog = scala.collection.mutable.ListBuffer[String]()
    if (best.nonEmpty) {
      val sortedMins = best.values.toSeq.sorted
      val median = sortedMins(sortedMins.size / 2)
      val threshold = (median * 2).max(1.0)
      val byNameFn = attempted.toMap
      best.filter(_._2 > threshold).keys.toSeq.sorted.foreach { name =>
        attempt(name, byNameFn(name), recordFailure = false).foreach { t =>
          rerunLog += f"RERUN $name%-24s suite=${best(name)}%.3f isolated=$t%.3f s"
          rerunCount += 1
          if (t < best(name)) best(name) = t
        }
      }
    }
    calPost = calTriple()
    val results = attempted.flatMap { case (name, _) =>
      best.get(name).map(name -> _)
    }
    // The driver keeps only the last ~2000 chars of output and parses
    // the JSON line from that tail — a per-query map over the full
    // suite (~2.6k chars in round 2, ~7.5k at 277 queries) gets
    // truncated and the round records no bench number, and even stderr
    // diagnostics are hazardous: stream buffering can flush them AFTER
    // the stdout JSON (this truncated round 2's result). So the FULL
    // per-query map goes to bench_full_<sf>.json (plus the detail
    // file), and the stdout line carries the largest headline subset
    // that keeps it under ~1800 chars. The r16 verdict asked for all
    // 277 entries inline; that is physically incompatible with the
    // 2000-char tail parse, so the round-17 compromise is: headline
    // grown 33 -> 58 (additions-only — every query the r16/r17
    // optimization rounds touched, plus the most expensive untouched
    // queries by the committed ExecStats profile), full map on disk.
    val headline = Seq(
      "a01_lang_id", "a09_lm_score", "a11_contamination",
      "b25_rfm", "b29_brand_pairs",
      "d01_dedup_exact", "d04_minhash_lsh_neardup", "d07_simhash_neardup",
      "d09_knn_bruteforce", "d12_dup_groups", "m01_kmeans_lloyd",
      "o08_join_agg", "o13_basket_pairs", "o26_topk", "o28_window_rank",
      "o55_incremental_agg", "o56_zorder_prune",
      "s02_sessions", "s04_session_pairs", "s09_funnel", "t03_word_counts",
      "t18_tfidf", "t19_inverted_index", "d18_cms_heavyhitters",
      "d19_bloom_prune", "o51_gap_fill", "x02_streaming_sessions",
      "x04_tumbling_window", "x05_asof_join", "m02_kmeans_iter3",
      "m04_nb_ppm_text", "a14_weighted_sample", "x20_native_session_window",
      // round-17 additions (additions-only per the bench contract):
      // r16/r17 touched paths first, then the top of the ExecStats
      // cost profile (bench/execstats_r16_baseline.log)
      "g01_pagerank", "g02_triangles", "t21_pmi_cooccur",
      "t32_pmi_bigvocab_join", "o42_percentiles", "m05_multiclass_metrics",
      "b28_nb_accuracy", "a26_neardup_manifest", "o45_cube_grouping",
      "b59_bdb_q28", "b61_bdb_q20_kmeans", "b62_bdb_q25_kmeans",
      "b63_bdb_q26_kmeans", "d05_ngram_jaccard", "d20_containment",
      "a24_full_curation", "o63_recursive_cte", "d29_allpairs_prefix",
      "d31_knn_pq_trained", "g04_kcore", "x09_streaming_dedup",
      "x10_stream_stream_join", "o31_cached_reuse",
      "b18_declining_mentions", "d38_bloom_decontaminate")
    val byName = results.toMap
    val sfName = new java.io.File(sfDir).getName
    // best-effort only: a detail-file failure (read-only cwd, …) must
    // never cost the round its JSON line
    try {
      val detail = new java.io.PrintWriter(s"bench_detail_$sfName.txt")
      try {
        results.foreach { case (k, v) =>
          val passes = passTimes.getOrElse(k, Nil)
            .map(t => f"$t%.3f").mkString(" ")
          detail.println(f"$k%-28s $v%.3f s  passes=[$passes]")
        }
        rerunLog.foreach(detail.println)
        errors.reverse.foreach(e => detail.println(s"FAILED $e"))
      } finally detail.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        errors ::= s"bench_detail write failed: ${e.getMessage}"
    }
    val qs = headline.flatMap(h => byName.get(h).map(v =>
        "\"" + h + f"""\":$v%.2f"""))
      .mkString("{", ",", "}")
    // The same line also goes to a bare file: the driver's tail parse
    // has failed on logger-prefixed output before, and a plain
    // single-line JSON file is machine-readable regardless (best
    // effort — must never cost the round its stdout line).
    try {
      val pw = new java.io.PrintWriter(s"bench_last_$sfName.json")
      try pw.println(jsonLine(results, qs)) finally pw.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    // FULL per-query map (all queries, not the headline subset) as a
    // machine-readable file — the r16 verdict's "make every query's
    // time visible" item, delivered on disk because a ~7.5k-char
    // stdout line cannot survive the driver's 2000-char tail parse.
    try {
      val allQs = results.map { case (k, v) =>
        "\"" + k + f"""\":$v%.2f""" }.mkString("{", ",", "}")
      val pw = new java.io.PrintWriter(s"bench_full_$sfName.json")
      try pw.println(jsonLine(results, allQs)) finally pw.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    // quiet shutdown: nothing may print after the JSON line or the
    // driver's tail window can lose it. Drain any in-flight stderr
    // (sbt's err pump is asynchronous) before emitting the line.
    System.err.flush()
    Thread.sleep(500)
    println(jsonLine(results, qs))
    System.out.flush()
    spark.stop()
  }
}
