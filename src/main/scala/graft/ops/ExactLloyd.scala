package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact-integer Lloyd k-means over a NAMED-COLUMN feature frame —
  * the m02 discipline (`queries/MlQueries.scala` kmeansIter)
  * generalized so the BDB segmentation fits (q20/q25/q26) can run
  * their ACTUAL clustering as replayable relational algebra instead
  * of a threshold-checked MLlib fit:
  *
  *  - features quantized ONCE to integer units (`round(x*unit)` as
  *    BIGINT — pick `unit` so the source values are exact, e.g. 100
  *    for 2-decimal money, 1 for counts);
  *  - per iteration: assignment by integer squared L2 (ties to the
  *    lowest centroid id) as ONE narrow kernel pass
  *    ([[graft.expressions.Kernels.argminL2Micro]]) against a
  *    k*dim centroid matrix collected to the driver — the same
  *    collect-then-broadcast loop MLlib's KMeans runs; recentering by
  *    exact floor-division mean over a k-bounded vector aggregate;
  *  - after `iters` rounds, one final assignment against the final
  *    centroids yields the labels, and the exact integer WSSSE
  *    (sum of squared unit-space distances) is computed through
  *    DECIMAL(38,0) so a 100 TB corpus cannot silently wrap a BIGINT
  *    accumulator (per-row d2 stays in long — safe while
  *    unit*|x| <= ~1e8 at dim <= 64, which each call site documents;
  *    the recenter sums use LongVecSumAgg's Math.addExact, so a
  *    centroid sum that would wrap fails LOUDLY instead).
  *
  * Every value is an exact integer, so the result is independent of
  * partitioning and accumulation order, and a DuckDB oracle can
  * replay the unrolled iterations verbatim (the b61–b63 gates).
  * Deterministic seeding: the k rows with the smallest ids.
  *
  * Reference: the fits this replays are TPCx-BB q20/q25/q26
  * (`gpu_bdb/bdb_tools/q20_utils.py` etc., k-means k=8); their
  * reference verification is a WSSSE threshold
  * (`bdb_tools/utils.py:957-1018`) — kept as the MLlib parity check
  * in MlThresholdSpec, while this path makes the fit itself
  * hash-replayable at fixture scale.
  */
object ExactLloyd {

  private def vsum = udaf(new LongVecSumAgg)

  /** (flat k*dim matrix, sorted ids) from collected (cid, qv) rows. */
  private def toMatrix(rows: Array[(Long, Array[Long])])
      : (Array[Long], Array[Long]) = {
    val sorted = rows.sortBy(_._1)
    val ids = sorted.map(_._1)
    val dim = sorted.head._2.length
    val flat = new Array[Long](ids.length * dim)
    sorted.zipWithIndex.foreach { case ((_, v), i) =>
      System.arraycopy(v, 0, flat, i * dim, dim)
    }
    (flat, ids)
  }

  /** Labels + exact WSSSE: one row per input row with
    * (idCol, cluster, wssse) — wssse the scalar total spliced onto
    * every row (the o29 pattern), in squared unit-space integers.
    */
  def fitLabels(feats: DataFrame, idCol: String, dims: Seq[String],
      k: Int, iters: Int, unit: Long): DataFrame = {
    // quantize once; materialize so the (possibly expensive)
    // feature aggregation doesn't re-execute for every one of the
    // iters+2 passes below (the x26/a27 multi-consumer pattern)
    val qv = Materialize(feats.select(col(idCol).cast("long").as("_id"),
      array(dims.map(c =>
        round(col(c).cast("double") * unit, 0).cast("long")): _*).as("qv")))

    def collectQv(df: DataFrame): Array[(Long, Array[Long])] =
      df.collect().map(r =>
        (r.getLong(0), r.getSeq[Long](1).toArray))

    def assign(cents: (Array[Long], Array[Long])): DataFrame =
      qv.select(col("_id"),
        graft.expressions.GraftFunctions.argmin_l2_micro(col("qv"),
          typedlit(cents._1.toSeq), typedlit(cents._2.toSeq)).as("cid"),
        col("qv"))

    // exact floor-division mean per dimension (pmod keeps Spark's
    // truncating `div` aligned with DuckDB's flooring `//` on
    // negative sums) — a k-bounded (cid, pos, cv) collect per
    // iteration, LongVecSumAgg's partial being one dim-length sums
    // array so only k*dim longs cross the exchange (the m02 shape)
    def recenter(asg: DataFrame): (Array[Long], Array[Long]) = {
      val rows = asg.groupBy("cid")
        .agg(vsum(col("qv")).as("sv"), count(lit(1)).as("n"))
        .select(col("cid"), col("n"), posexplode(col("sv")))
        .toDF("cid", "n", "pos", "s")
        .select(col("cid"), col("pos"),
          expr("(s - pmod(s, n)) div n").as("cv"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val ids = rows.map(_._1).distinct.sorted
      val dim = rows.map(_._2).max + 1
      val flat = new Array[Long](ids.length * dim)
      val idPos = ids.zipWithIndex.toMap
      rows.foreach { case (cid, pos, cv) => flat(idPos(cid) * dim + pos) = cv }
      (flat, ids)
    }

    // seeding contract: the k SMALLEST ids, which is only well-defined
    // (and only matches the oracle's SELECT DISTINCT id ... LIMIT k
    // replay) when ids are unique — enforce it rather than rely on the
    // call sites happening to pass grouped frames. One narrow two-
    // counter agg over the already-materialized frame; k-bounded
    // driver state as before.
    val Array(nRows, nIds) = qv
      .agg(count(lit(1)), countDistinct(col("_id"))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    require(nRows == nIds,
      s"ExactLloyd: feature frame has $nRows rows but only $nIds " +
        "distinct ids — seeding by k-smallest-id requires one row per " +
        "id (dedupe/group the feature frame before fitting)")
    val seedRows = collectQv(
      qv.orderBy("_id").limit(k).select(col("_id"), col("qv")))
    require(seedRows.nonEmpty,
      "ExactLloyd: empty feature frame (nothing to seed from)")
    var cents = toMatrix(seedRows)
    (1 to iters).foreach { _ =>
      cents = recenter(assign(cents))
    }

    // FINAL assignment and its WSSSE contribution in ONE kernel pass:
    // argmin_l2_micro_d2 returns [cid, d2] — the winning squared
    // distance is computed by the argmin scan anyway, so the old
    // k-row centroid join + zip_with that RE-derived d2 for the
    // assigned centroid was a second full pass over the corpus
    // (identical long arithmetic, so wssse is bit-identical). The
    // materialized table still feeds two consumers (scalar total +
    // labels).
    val finalAsg = Materialize(qv.select(col("_id"),
        graft.expressions.GraftFunctions.argmin_l2_micro_d2(col("qv"),
          typedlit(cents._1.toSeq), typedlit(cents._2.toSeq)).as("_ad"))
      .select(col("_id"), col("_ad").getItem(0).as("cid"),
        col("_ad").getItem(1).as("d2")))
    val wssse = finalAsg
      .agg(sum(col("d2").cast("decimal(38,0)")).cast("bigint").as("wssse"))
    finalAsg.select(col("_id").as(idCol), col("cid").as("cluster"))
      .crossJoin(broadcast(wssse))
      .orderBy(idCol)
  }
}
