package graft

import org.apache.spark.graftbridge.JobCount

/** Physical-plan assertions — the 100 TB story is in the plan shape,
  * not just the results: filters/projections must reach the parquet
  * scan, small dims must broadcast, top-k must plan
  * TakeOrderedAndProject (no global sort), and sessionization must
  * shuffle exactly once on the user key.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("o01: predicate pushed + columns pruned at the parquet scan") {
    val p = plan("o01_scan_prune")
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("GreaterThan(l_quantity,45"), p.take(2000))
    // only the 3 selected columns are read
    assert(p.contains("ReadSchema"), p.take(2000))
    assert(!p.contains("l_extendedprice"), "scan reads unneeded columns")
  }

  test("o04: dimension join is broadcast, not shuffled") {
    val p = plan("o04_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("o26: top-k plans TakeOrderedAndProject (no global sort)") {
    val p = plan("o26_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("s02: sessionization shuffles exactly once (by user)") {
    val p = plan("s02_sessions")
    val hashExchanges =
      "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 1,
      s"expected 1 hash exchange, got $hashExchanges:\n${p.take(4000)}")
  }

  test("o10: semi join stays semi in the physical plan") {
    val p = plan("o10_semi_join")
    assert(p.contains("LeftSemi"), p.take(3000))
  }

  test("d09: ANN scan broadcasts the query set") {
    val p = plan("d09_knn_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("d14: HLL aggregator applies partial (map-side) aggregation") {
    val p = plan("d14_hll_sketch")
    // the sketch must shrink BEFORE the exchange: a partial_ aggregate
    // of the udaf below the shuffle, the final above it
    assert(p.contains("partial_"), p.take(3000))
    assert(p.toLowerCase.contains("hllagg"), p.take(3000))
  }

  test("d18: CMS sketch aggregates partially below the exchange") {
    val p = plan("d18_cms_heavyhitters")
    // constant-size counter partials must combine map-side — the
    // whole point of the sketch at scale
    assert(p.contains("partial_"), p.take(3000))
    assert(p.toLowerCase.contains("cmsagg"), p.take(3000))
  }

  test("d19: bloom prefilter sits at the fact scan, below the join") {
    // the membership test (element_at over the bitset literal) must
    // appear BELOW the join in the plan tree (children print after
    // their parent) — the scan-side prefilter, not a post-join filter.
    // Note: executedPlan is AdaptiveSparkPlan; assert on the printed
    // tree, which includes the inner plan.
    val p = plan("d19_bloom_prune")
    val join = p.indexOf("HashJoin")
    assert(join >= 0, p.take(3000))
    val filterBelow = p.indexOf("element_at", join)
    assert(filterBelow > join,
      "bloom membership filter not below the join:\n" + p.take(4000))
  }

  test("d07: banded simhash pairs plan equi-joins, no theta join") {
    // pigeonhole banding must make candidate generation an equi-join;
    // an O(n^2) BroadcastNestedLoopJoin/CartesianProduct would be the
    // round-3 all-pairs regression coming back
    val p = plan("d07_simhash_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("d04: LSH verify uses the sorted-hash two-pointer kernel and " +
      "no global candidate distinct") {
    val p = plan("d04_minhash_lsh_neardup")
    assert(p.toLowerCase.contains("intersectcountsorted"), p.take(3000))
    // exactly-once band emission replaces the distinct over the
    // duplicated pair stream — no HashAggregate keyed on (id_1, id_2)
    // below the verify joins; cheap proxy: the word "distinct" must
    // not appear as a candidate-dedup aggregate
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("b01/o13: basket pair generation is one aggregation pass, " +
      "no self-join") {
    // the collect_set + ArrayPairs form: the groupBy(basket) exchange
    // is the only shuffle before the pair count — a SortMergeJoin in
    // the plan means the two-shuffle distinct+self-join shape came
    // back
    for (q <- Seq("b01_item_pairs", "o13_basket_pairs")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q self-joins:\n" + p.take(3000))
      assert(p.contains("arraypairs"), s"$q missing generator:\n" + p.take(3000))
    }
  }

  test("b02: co-view runs one sessionize pass — single clickstream " +
      "scan, no self-join") {
    // the one-pass collect_set form: one events scan, one user-keyed
    // exchange; the session item-set aggregation rides the
    // sessionizer's partitioning (hash(user) satisfies the
    // (user, session) clustering)
    val p = plan("b02_session_coview")
    assert(p.sliding("FileScan".length).count(_ == "FileScan") == 1,
      "clickstream scanned more than once:\n" + p.take(4000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      p.take(4000))
    // exactly two exchanges: sessionize (user) + final item count
    assert(p.sliding("Exchange hash".length)
      .count(_ == "Exchange hash") == 2, p.take(4000))
  }

  test("b20: per-customer features pre-aggregate per order, no " +
      "distinct expand") {
    // countDistinct-over-the-joined-fact would plan an Expand over
    // every lineitem row; the per-order partial aggregation form has
    // none
    val p = plan("b20_return_features")
    assert(!p.contains("Expand"), p.take(3000))
  }

  test("d23: semantic dedup pair stage is an equi-join on cluster id") {
    // the quadratic cosine stage must be confined to clusters: the
    // asg-x-asg join keys on cid (hash/sort-merge), never a
    // CartesianProduct over the corpus. The one nested-loop join in
    // the plan is the K-centroid broadcast assignment (intentional,
    // |cents| = n/61).
    val p = plan("d23_semdedup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("cid"), p.take(3000))
  }

  test("a26: near-dup manifest has no all-pairs stage") {
    // the near-dup group machinery inside the manifest keeps its
    // bucketed shape: every join is keyed (shingle bucket / node /
    // group / doc), never a CartesianProduct; the only nested-loop
    // join allowed is the 1-row totals broadcast splice.
    val p = plan("a26_neardup_manifest")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("group_id"), p.take(3000))
  }

  test("x12: binned range join shuffles, no nested-loop join") {
    val p = plan("x12_binned_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("s10: session metrics reuse the sessionizer's user partitioning") {
    // window (user_id) + groupBy(user_id, session_seq) + countDistinct:
    // the subset rule means ONE hash exchange serves all three
    val p = plan("s10_session_metrics")
    val hashExchanges =
      "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 1,
      s"expected 1 hash exchange, got $hashExchanges:\n${p.take(4000)}")
  }

  test("o57: grouping sets plan one Expand, not a union of scans") {
    val p = plan("o57_grouping_sets")
    assert("Expand".r.findAllIn(p).length === 1, p.take(3000))
    assert(!p.contains("Union"), p.take(3000))
  }

  test("a11: eval n-gram dictionary broadcasts to the train scan") {
    val p = plan("a11_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("t19: inverted index collapses (term, doc) partials map-side") {
    val p = plan("t19_inverted_index")
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("o62: NOT IN plans a null-aware anti join (broadcast-only op)") {
    val p = plan("o62_notin_nulls")
    // BroadcastHashJoin's trailing flag is isNullAwareAntiJoin — the
    // operator that implements NOT IN's three-valued logic; it exists
    // only as a broadcast join, which is why a huge NOT IN subquery
    // is a scale hazard NOT EXISTS doesn't have
    val nullAware =
      "LeftAnti, BuildRight, true".r.findAllIn(p).length
    assert(nullAware >= 1, p.take(4000))
  }

  test("m02: one job to seed and one per Lloyd round (job count)") {
    // ExactLloyd.fit: the vec_id < 8 seed collect, then each round is
    // one job of per-partition exact sums; the answer is read off the
    // fit, so no assignment, shuffle or join job follows (12 when each
    // round grouped by cluster through an aggregate and collected)
    val (_, jobs) = JobCount(spark.sparkContext) {
      SparkEntry.queries("m02_kmeans_iter3")(spark, sf).collect()
    }
    assert(jobs <= 4, s"m02 ran $jobs jobs")
  }

  test("m04: class prior/default tables broadcast; no cartesian blowup") {
    val p = plan("m04_nb_ppm_text")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the only large join is word-keyed (test words x class-word
    // table); the class fan-out must stay broadcast
    assert(!p.contains("CartesianProduct"),
      "class fan-out planned as CartesianProduct:\n" + p.take(3000))
  }

  test("a14: weighted sample shuffles once per stratum window") {
    val p = plan("a14_weighted_sample")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // one exchange on source for the prefix-sum windows (the final
    // orderBy adds a range exchange, not a hash one)
    assert(hashExchanges === 1,
      s"expected 1 hash exchange, got $hashExchanges:\n${p.take(4000)}")
  }

  test("q10/q12/q18: ETL outputs write unsorted (no global range sort)") {
    BdbFixture.register(spark)
    Seq(
      "q10" -> graft.bdb.BdbQueries1.q10(spark),
      "q12" -> graft.bdb.BdbQueries1.q12(spark),
      "q18" -> graft.bdb.BdbQueries2.q18(spark)).foreach { case (n, df) =>
      val p = df.queryExecution.executedPlan.toString
      // the reference writes ETL results unsorted and verifies
      // order-insensitively (utils.py:449-477); a global range sort
      // of a multi-million-row output is pure cost at 100 TB
      assert(!p.contains("rangepartitioning"),
        s"$n plans a global sort:\n${p.take(3000)}")
    }
  }

  test("a17: packing is one hash exchange (per-shard prefix sum, no global sort)") {
    val p = plan("a17_sequence_pack")
    // one exchange for the shard windows + the final presentation
    // sort; crucially NO rangepartitioning before the window — the
    // prefix sum must run per shard, not over a global order
    val upToSort = p.split("Sort ").head
    val hashExchanges =
      "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 1,
      s"expected 1 hash exchange, got $hashExchanges:\n${p.take(4000)}")
    assert(!upToSort.contains("rangepartitioning"), p.take(4000))
  }

  test("d26: SQ8 search broadcasts queries — corpus never shuffles") {
    val p = plan("d26_knn_sq8")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("d27: token pipeline runs once; only chunk-table exchanges remain") {
    val p = plan("d27_cdc_chunks")
    // the chunk table is checkpointed, so the final plan must contain
    // NO token explode (the window+fingerprint pipeline executed
    // exactly once, into the checkpoint) — both the dup-fp branch and
    // the per-doc branch read the materialized chunk table
    assert(!p.contains("Generate"),
      s"token pipeline re-executes in the final plan:\n${p.take(4000)}")
    // remaining exchanges move only the ~tokens/16-row chunk table:
    // (fp,doc) distinct partial, fp dup count, final per-doc agg
    val hashExchanges =
      "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges <= 3,
      s"expected <=3 hash exchanges, got $hashExchanges:\n${p.take(4000)}")
  }

  test("partitioned layout prunes partitions at the scan") {
    import org.apache.spark.sql.functions._
    val path = "/root/repo/target/graft-tmp/orders_by_year"
    val o = Tables.load(spark, sf, "orders")
      .withColumn("yr", year(to_date(col("o_orderdate"))))
    graft.ops.Partitioned.writePartitioned(o, path, "yr")
    val filtered = spark.read.parquet(path).filter(col("yr") === 1996)
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("(yr"),
      p.take(3000))
    val expected = o.filter(col("yr") === 1996).count()
    assert(filtered.count() === expected)
  }

  test("t30: BM25 is narrow scan + broadcast stats + TakeOrdered — " +
    "no token explode, no corpus shuffle before the top-k") {
    val p = plan("t30_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must not be a global sort:\n${p.take(3000)}")
    assert(!p.contains("Generate"),
      s"per-doc tf/dl must be read narrow off split(), not exploded:\n${
        p.take(3000)}")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the 1-row stats frame must broadcast:\n${p.take(3000)}")
  }

  test("d36: passage pipeline runs once (checkpoint); the keeper join " +
    "stays fp-keyed") {
    val p = plan("d36_span_removal")
    assert(!p.contains("Generate"),
      s"passage Generate re-executes in the final plan:\n${p.take(4000)}")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("a24: eval n-gram set broadcasts for decontamination; no " +
    "cartesian anywhere in the composite") {
    val p = plan("a24_full_curation")
    assert(p.contains("BroadcastExchange"),
      s"eval shingle set must broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }
}
