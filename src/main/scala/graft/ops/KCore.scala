package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K-core peeling (Seidman 1983; the distributed peel round of
  * Montresor et al., "Distributed k-Core Decomposition", PODC'11) —
  * the graph-curation primitive that isolates the densely-connected
  * backbone (spam/bot rings, boilerplate link farms) of a derived
  * co-occurrence graph.
  *
  * One peel round removes every node whose CURRENT degree is below
  * k, then every edge touching a removed node. On a SYMMETRIZED edge
  * table this is two chained window counts — no keep-node table, no
  * join, no per-round materialization:
  *
  *   survivors = edges where count(*) over (partition by src) >= k
  *           AND count(*) over (partition by dst) >= k
  *
  * Both windows are computed on the SAME round's table before either
  * filter applies, which is exactly the simultaneous-peel semantics;
  * symmetry makes the dst window the dst's full degree.
  *
  * Scale shape: each round is two node-keyed exchanges in one LINEAR
  * pipeline (every stage single-consumer — the StarCC lesson: no
  * checkpoints needed, the whole R-round peel plans as one job).
  * Edge volume is non-increasing per round and typically collapses
  * after the first peel. Fixed R rounds keep the oracle replayable;
  * the fixpoint is data-dependent, so callers pick R >= the observed
  * convergence depth and GraphSpec asserts one extra round changes
  * nothing at the gated scales (the d12 convergence discipline).
  */
object KCore {

  /** One simultaneous peel round at threshold k. */
  def peelRound(edges: DataFrame, k: Int): DataFrame =
    edges
      .withColumn("__ds", count(lit(1)).over(Window.partitionBy("src")))
      .withColumn("__dd", count(lit(1)).over(Window.partitionBy("dst")))
      .filter(col("__ds") >= k && col("__dd") >= k)
      .drop("__ds", "__dd")

  /** R peel rounds; returns the surviving edge table.
    *
    * `checkEvery = 0` (the gated g04 default) keeps all R rounds in
    * ONE linear job with no materialization barrier — right when R is
    * a committed fixpoint for the data (GraphOpsSpec's one-extra-round
    * assertion). A runtime caller at NEW data has no such assertion;
    * `checkEvery = N > 0` inserts a survivors-count probe every N
    * rounds (one [[Materialize.withCount]] — peeling only removes
    * edges, so an unchanged count IS the fixpoint) and stops early,
    * trading one materialization per probe window for a convergence
    * signal and a bound on wasted rounds. */
  def peel(edges: DataFrame, k: Int, rounds: Int,
      checkEvery: Int = 0): DataFrame =
    if (checkEvery <= 0) {
      (1 to rounds).foldLeft(edges)((e, _) => peelRound(e, k))
    } else {
      var (e, last) = Materialize.withCount(edges)
      var done = last == 0L
      var r = 0
      while (r < rounds && !done) {
        val step = math.min(checkEvery, rounds - r)
        val (next, n) = Materialize.withCount(
          (1 to step).foldLeft(e)((acc, _) => peelRound(acc, k)))
        e = next
        r += step
        done = n == last || n == 0L
        last = n
      }
      e
    }

  /** Surviving nodes with their in-core degree after R rounds. */
  def coreNodes(edges: DataFrame, k: Int, rounds: Int,
      checkEvery: Int = 0): DataFrame =
    peel(edges, k, rounds, checkEvery)
      .groupBy("src")
      .agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
}
