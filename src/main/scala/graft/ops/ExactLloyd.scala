package graft.ops

import graft.expressions.GraftFunctions.argmin_l2_micro_d2
import graft.expressions.Kernels
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
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
  *  - per iteration, ONE Spark job: each partition assigns its rows
  *    by integer squared L2 (ties to the lowest centroid id,
  *    [[graft.expressions.Kernels.argminL2Micro]]) against the k*dim
  *    centroid matrix and returns its exact k*dim sums and k counts;
  *    the driver adds the partials and recenters by exact
  *    floor-division mean — the collect-then-broadcast loop MLlib's
  *    KMeans runs, without a shuffle;
  *  - after `iters` rounds, one final assignment against the final
  *    centroids yields the labels, and the exact integer WSSSE
  *    (sum of squared unit-space distances) is computed through
  *    DECIMAL(38,0) so a 100 TB corpus cannot silently wrap a BIGINT
  *    accumulator (per-row d2 stays in long — safe while
  *    unit*|x| <= ~1e8 at dim <= 64, which each call site documents;
  *    the recenter sums use Math.addExact, so a centroid sum that
  *    would wrap fails LOUDLY instead).
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

  /** One Lloyd round as one job over the (_id, qv) rows: each
    * partition assigns its rows and returns exact k*dim sums and k
    * counts, the driver adds them and takes the floor-division mean
    * (Math.floorDiv is DuckDB's `//` on negative sums). Clusters that
    * lost every member drop out, as they do from the oracle's
    * GROUP BY.
    */
  private def recenter(rows: RDD[InternalRow],
      cents: (Array[Long], Array[Long])): (Array[Long], Array[Long]) = {
    val (flat, ids) = cents
    val nc = ids.length
    val dim = flat.length / nc
    def add(acc: Array[Long], p: Int, v: Long): Unit =
      acc(p) = Math.addExact(acc(p), v)
    val partials = rows.mapPartitions { it =>
      val c = UnsafeArrayData.fromPrimitiveArray(flat)
      val i = UnsafeArrayData.fromPrimitiveArray(ids)
      val sums = new Array[Long](nc * dim)
      val n = new Array[Long](nc)
      it.foreach { r =>
        val v = r.getArray(1)
        val p = java.util.Arrays.binarySearch(ids,
          Kernels.argminL2Micro(v, c, i))
        n(p) += 1
        var j = 0
        while (j < dim) { add(sums, p * dim + j, v.getLong(j)); j += 1 }
      }
      Iterator.single((sums, n))
    }.collect()
    val sums = new Array[Long](nc * dim)
    val n = new Array[Long](nc)
    partials.foreach { case (ps, pn) =>
      ps.indices.foreach(x => add(sums, x, ps(x)))
      pn.indices.foreach(x => add(n, x, pn(x)))
    }
    val kept = (0 until nc).filter(n(_) > 0)
    (kept.flatMap(p => (0 until dim).map(j =>
      Math.floorDiv(sums(p * dim + j), n(p)))).toArray,
      kept.map(ids(_)).toArray)
  }

  /** Labels + exact WSSSE: one row per input row with
    * (idCol, cluster, wssse) — wssse the scalar total on every row (the
    * o29 pattern), in squared unit-space integers. Jobs: the feature
    * frame's own and the id grouping's shuffle, then one to hold the
    * quantized vectors, one to seed, one per round and one for the
    * final assignment.
    */
  def fitLabels(feats: DataFrame, idCol: String, dims: Seq[String],
      k: Int, iters: Int, unit: Long): DataFrame = {
    // quantize once, one row per id, and hold it: every round reads it.
    // Seeding by the k SMALLEST ids (the oracle's SELECT DISTINCT id
    // ... LIMIT k replay) is only well-defined when ids are unique, so
    // the frame is grouped by id (one shuffle, none when the features
    // are already partitioned by it) and an Observation on the holding
    // job counts the rows and ids it saw.
    val q = dims.indices.map(j => s"_q$j")
    val shape = Observation()
    val qv = Materialize(feats
      .groupBy(col(idCol).cast("long").as("_id"))
      .agg(count(lit(1)).as("_n"), dims.zip(q).map { case (d, c) =>
        first(round(col(d).cast("double") * unit, 0).cast("long")).as(c)
      }: _*)
      .observe(shape, sum(col("_n")).as("rows"), count(col("_id")).as("ids"))
      .select(col("_id"), array(q.map(col): _*).as("qv")))
    val nRows = Option(shape.get("rows")).fold(0L)(_.asInstanceOf[Long])
    val nIds = shape.get("ids").asInstanceOf[Long]
    require(nRows == nIds,
      s"ExactLloyd: feature frame has $nRows rows but only $nIds " +
        "distinct ids — seeding by k-smallest-id requires one row per " +
        "id (dedupe/group the feature frame before fitting)")
    val seedRows = qv.orderBy("_id").limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(seedRows.nonEmpty,
      "ExactLloyd: empty feature frame (nothing to seed from)")
    val rows = qv.queryExecution.toRdd
    var cents = toMatrix(seedRows)
    (1 to iters).foreach { _ => cents = recenter(rows, cents) }

    // FINAL assignment and its WSSSE in ONE kernel pass:
    // argmin_l2_micro_d2 returns [cid, d2], the winning squared
    // distance the argmin scan computes anyway; the total rides the
    // holding job as an Observation and is spliced back as a literal
    val total = Observation()
    val labels = Materialize(qv.select(col("_id"),
        argmin_l2_micro_d2(col("qv"),
          typedlit(cents._1.toSeq), typedlit(cents._2.toSeq)).as("_ad"))
      .select(col("_id"), col("_ad").getItem(0).as("cid"),
        col("_ad").getItem(1).as("d2"))
      .observe(total, sum(col("d2").cast("decimal(38,0)")).as("wssse"))
      .select(col("_id"), col("cid")))
    val wssse = total.get("wssse").asInstanceOf[java.math.BigDecimal]
      .longValueExact()
    labels.select(col("_id").as(idCol), col("cid").as("cluster"),
        lit(wssse).as("wssse"))
      .orderBy(idCol)
  }
}
