package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: formatted physical plans for the headline
  * queries, each with the one-line reason this is the plan we WANT
  * (the `.explain` → iterate loop's end state; invariants are
  * enforced by PlanSpec/TopKSpec/RangeJoinSpec).
  *
  * Usage: `sbt "runMain graft.tools.DumpPlans [sfDir] [outFile]"`.
  */
object DumpPlans {

  private val picks: Seq[(String, String)] = Seq(
    "o01_scan_prune" ->
      "filter + projection reach the parquet scan (PushedFilters, 3-column ReadSchema) — no post-scan filtering of unread columns",
    "o04_broadcast_join" ->
      "dimension side broadcast (BroadcastHashJoin) — the fact table never shuffles for the join",
    "o10_semi_join" ->
      "LeftSemi survives planning — probe side never widens, output stays fact-sized",
    "o26_topk" ->
      "TakeOrderedAndProject — top-k without materializing a global sort",
    "s02_sessions" ->
      "ONE Exchange hashpartitioning(user_id) feeds flag, running-sum session id, and the final aggregation — the whole sessionizer is a single shuffle",
    "d09_knn_bruteforce" ->
      "query set broadcast (BroadcastNestedLoopJoin) — one corpus scan, zero corpus shuffle; cosine is the codegen'd CosineF kernel",
    "d14_hll_sketch" ->
      "partial_hllagg below the exchange — the 1 KB sketch shuffles, not the values",
    "x07_topk_operator" ->
      "custom TopKPerKeyExec after one hash exchange — bounded k-row buffers instead of a per-group sort",
    "x08_topk_rewrite" ->
      "same exec reached DECLARATIVELY: the row_number()<=k window idiom rewritten by TopKRewriteRule (no Window/Sort in the plan)",
    "x12_binned_range_join" ->
      "interval containment as an equi-join on bin keys + residual filter — no BroadcastNestedLoopJoin/CartesianProduct",
    "d17_corpus_curation" ->
      "dedup-keeper + lang-ID + quality in ONE plan: the feature projections fuse into a single documents scan; the keeper check is one aggregation + equi-join",
    "d18_cms_heavyhitters" ->
      "partial CmsAgg below the exchange — the constant-size (d*w) counter array shuffles to one reducer, not the keys; estimates join broadcast",
    "d19_bloom_prune" ->
      "the 64 KiB bloom bitset is a codegen'd filter AT the lineitem scan, before the join exchange — only maybe-matching rows shuffle",
    "s10_session_metrics" ->
      "ONE hash exchange on user_id serves the session window, the (user, session) aggregate AND the countDistinct — subset-satisfied ClusteredDistribution",
    "o57_grouping_sets" ->
      "the (flag,status)/(flag)/() lattice as a single Expand + aggregation — not a union of three scans",
    "a11_contamination" ->
      "the eval n-gram dictionary broadcasts (BroadcastHashJoin) — the train-side shingle stream never shuffles for the membership test",
    "t19_inverted_index" ->
      "partial_count below the first exchange — duplicate tokens collapse map-side, the shuffle carries one row per distinct (term, doc)",
    "o56_zorder_prune" ->
      "after the Morton re-layout, BOTH rectangle predicates are PushedFilters at the scan — footer min/max skip the non-intersecting files (measured in PartitionedSpec)",
    "o63_recursive_cte" ->
      "WITH RECURSIVE executes as an incremental loop (UnionLoop), not a self-join blowup — iteration count bounded by the hierarchy depth",
    "d04_minhash_lsh_neardup" ->
      "the 100x-critical near-dup shape: one shingle materialization feeds signatures and both verify sides; the banded table is materialized once and band joins are equi-joins on band hash (pairs form only inside buckets, volume tracks true near-dups at the 8x8 S-curve); the integer size-bound prune runs before any shingle-array shuffle; AQE splits hot band buckets (AqeSpec)",
    "d07_simhash_neardup" ->
      "pigeonhole banding as equi-joins on 16-bit band keys; each surviving pair is emitted EXACTLY ONCE by the first-matching-band predicate (band k requires bands 0..k-1 differ) — no global distinct over the duplicated candidate stream, so dedup cost is zero shuffles instead of one over all candidates",
    "d12_dup_groups" ->
      "star-contraction CC as ONE LINEAR JOB: 4 large/small-star alternations, each a one-pass explode symmetrize + window min (one node-keyed exchange per star) + round-closing distinct — exact at ANY component depth, no per-round materialization (every stage single-consumer; a run deeper than 4 rounds materializes every 4 to bound plan depth)",
    "g01_pagerank" ->
      "the co-purchase edge list is built once (materialized — it feeds all 5 hops); each rank is consumed exactly once so the 5 join+aggregate hops run as one linear job with no per-round checkpoints; rank arithmetic is integer ppm so partial-agg order can't flip bits at any parallelism",
    "s04_session_pairs" ->
      "pair generation with NO second exchange: the groupBy(user, session) reuses the sessionizer's hashpartitioning(user) (subset-satisfied ClusteredDistribution) and the pair expansion is a per-row Generate over the collected set — the textbook distinct + self-join form plans the window sort twice plus a join exchange",
    "t24_multi_needle" ->
      "the Aho-Corasick automaton runs INSIDE whole-stage codegen (one reference-object call per row, MultiNeedleMatches.doGenCode) — needle count drops out of the per-row scan cost, and no crossJoin against the needle list appears anywhere in the plan",
    "d23_semdedup" ->
      "SemDeDup shape: K-centroid assignment is the one BroadcastNestedLoopJoin (|cents| = n/61) over a single corpus scan; the quadratic cosine stage equi-joins on cluster id — no CartesianProduct, pair volume is sum(|cluster|^2), never n^2",
    "d24_kll_quantiles" ->
      "partial_kllagg below the exchange — the O(k log(n/k)) sketch shuffles, not the values; three quantiles ride one aggregation pass (no per-quantile sort, no global sort anywhere)",
    "b02_session_coview" ->
      "one-pass co-view: a single clickstream scan and the sessionizer's hash(user) exchange serve the per-session item sets; target filter + explode are per-row — the join formulation re-ran the whole sessionize pipeline on the target side",
    "b21_return_rebuy" ->
      "the rebuy window as a RANGE frame (days -90..-1) over one (cust, part) exchange — single fact scan, fully codegen'd, replacing the ret x buy self-join that computed the lineitem⋈orders base twice",
    "o13_basket_pairs" ->
      "one aggregation pass: groupBy(order) + collect_set + the ArrayPairs Generator — the basket exchange is the only shuffle before the pair count (the distinct + self-join form paid two shuffles and an SMJ)",
    "a17_sequence_pack" ->
      "GPT-style packing as a per-shard prefix sum: ONE hash exchange on the shard key feeds the window cumsum — no rangepartitioning (a global ordered sort would serialize the corpus); shards are simultaneously the parallelism unit and the training-file unit",
    "d26_knn_sq8" ->
      "SQ8 ANN: the dims-row [min,max] aggregate broadcasts back (BroadcastNestedLoopJoin over a 1-row frame), encoding is a narrow map, and the encoded query set broadcasts against one corpus scan — the corpus never shuffles, and the scanned codes are 4x denser than floats",
    "d27_cdc_chunks" ->
      "content-defined chunking: the materialized chunk table is the ONLY thing later stages touch (no Generate in the final plan — the token window pipeline ran exactly once); dup detection is a fingerprint aggregate with map-side partials",
    "d30_knn_pq" ->
      "PQ ANN: corpus encoding is a NARROW codegen'd argmin over the literal codebook (no join anywhere before the code stream), and the query-side 128-entry ADC lookup table broadcasts (BroadcastHashJoin) — the corpus never shuffles until the per-query top-k aggregate over 8-code rows",
    "g03_cc_star" ->
      "star-contraction CC: each alternation is a node-keyed min aggregate + node-keyed join over the materialized edge set — O(log n) rounds total where min-label propagation needs graph-diameter rounds",
    "b23_cov_months" ->
      "ONE shuffle: the pruned scan pre-partitions on suppkey, and the daily aggregate, monthly aggregate AND consecutive-month lead() window all run partition-local (suppkey subset-satisfies every downstream distribution; (suppkey,date) is ~unique so map-side partials had nothing to combine anyway)",
    "t30_bm25_topk" ->
      "BM25 without a token stream: per-doc tf and length are NARROW projections off one split() (no Generate anywhere), the 1-row corpus-stats frame broadcasts back, and the top-10 is TakeOrderedAndProject — scoring n docs for a k-term query is one corpus scan at any size",
    "m11_pca_power" ->
      "the Gram matrix is 36 plain sum() columns in ONE whole-stage-codegen aggregate (constant-size map-side partials) — the only corpus pass; the 3-round power iteration is k-bounded driver BigInt on the single collected row",
    "d36_span_removal" ->
      "the materialized passage table is the ONLY input to both the keeper aggregate and the fp-keyed join back (no Generate in the final plan — chunking ran exactly once); owner and occurrence shuffle on the SAME fp key, and the rebuild is one doc-keyed aggregate",
    "a24_full_curation" ->
      "the full curation manifest in one plan: keeper resolution is an fp-keyed aggregate + doc-keyed join, the eval n-gram dictionary BROADCASTS for the decontamination anti-gate (the corpus shingle stream never shuffles for membership), and everything downstream is a source-keyed rollup over 20 rows",
    "g04_kcore" ->
      "all 6 simultaneous peel rounds plan as ONE linear job: each round is two chained node-keyed Window counts over the symmetrized edge table (no keep-node table, no join, no per-round checkpoint); edge volume is non-increasing per round and the committed round count is the proven fixpoint (GraphOpsSpec)")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = graft.Engine.session(4, appName = "graft-plans")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= "# PLANS — headline physical plans (generated by graft.tools.DumpPlans)\n\n"
    sb ++= s"Source data: `$sfDir`. Each section states the plan-shape\n"
    sb ++= "property that makes the query scale (enforced by PlanSpec /\n"
    sb ++= "TopKSpec / RangeJoinSpec), then the `formatted` physical plan.\n"
    picks.foreach { case (name, why) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      sb ++= s"\n## $name\n\n**Why this plan:** $why\n\n```\n$plan```\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      sb.toString)
    println(s"[plans] wrote $out (${picks.size} queries)")
    spark.stop()
  }
}
