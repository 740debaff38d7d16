package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic-dedup centroid machinery (SemDeDup — Abbas et al.,
  * arXiv:2303.09540) shared by d23 (exact-cosine assignment) and d32
  * (PQ-ADC assignment), and — critically — THE k-switch that decides
  * how centroids travel to the assignment stage.
  *
  * Two regimes, chosen EXPLICITLY in [[assignCos]] / [[assignAdc]]:
  *
  *  - '''k <= MaxLiteralK''' (every gated oracle/bench scale: the
  *    every-61st sampling rule gives k = n/61 = 8..327 there): the
  *    k-bounded centroid set is driver-collected and compiled into a
  *    codegen'd kernel literal (argmax_cos / pq_assign_adc) — ONE
  *    narrow pass over the corpus, no join, no shuffle; measured ~10x
  *    faster than the join form at those k (the m02/d31 codebook
  *    discipline).
  *
  *  - '''k > MaxLiteralK''' (the 100 TB regime, where n/61 sampling
  *    would put millions of vectors on the driver and megabytes of
  *    literal into codegen): the grows-with-n sampling rule is
  *    ABANDONED for the SemDeDup paper's actual configuration — a
  *    FIXED cluster count ([[DefaultFixedK]]) fitted by distributed
  *    Lloyd iterations ([[lloydCentroids]]), with centroids living in
  *    a DataFrame end to end (never driver-collected, never a codegen
  *    literal) and assignment running as a broadcast-join +
  *    struct-max argmax ([[assignCosJoin]] / [[assignAdcJoin]]) where
  *    map-side partials mean only n rows reach the exchange. Expected
  *    cluster size n/k then grows with the corpus; the within-cluster
  *    stage stays bounded because SemDeDup only compares against
  *    EARLIER cluster members under a cosine threshold — and when
  *    even fixed-k brute assignment is too much arithmetic, the
  *    coarse+PQ composite index (d33, ivfpq_encode) is the assignment
  *    engine: both halves of that composite are the join-path shapes
  *    below, so nothing here is circular.
  *
  * Both assignment forms share exact tie-break semantics with the
  * DuckDB oracles: highest cosine then lowest centroid id (d23), and
  * lowest ADC distance then lowest centroid id (d32); cosines are
  * rounded to 6 decimals on both paths (see [[Similarity.cosine]] and
  * the argmax_cos kernel), so literal-vs-join assignments are
  * bit-identical for the same centroid set (SemDedupSpec asserts it).
  */
object SemDedup {

  /** Largest centroid count shipped to executors as a compiled kernel
    * literal. 4096 * 64 dims * 4 B = 1 MiB of constant — comfortably
    * inside codegen/broadcast budgets; the gated scales top out at
    * k = 327 (engine sf1: 20k vectors / 61). Above this, assignment
    * MUST NOT collect: see the class doc's large-k regime. */
  val MaxLiteralK = 4096L

  /** Fixed cluster count for the large-corpus path. The SemDeDup paper
    * clusters pre-normalized embeddings into a fixed 11k clusters for
    * LAION-440M; the principle is that k is a CONFIGURATION, not a
    * function of n. Kept modest here so tests exercise the path. */
  val DefaultFixedK = 1024

  /** The every-61st sampling rule used at literal scales (keeps
    * E[cluster size] ~ 61 so the within-cluster quadratic stays
    * bounded at the scales where this path is legal). */
  val SampleMod = 61

  /** Sampled centroid candidates as a DataFrame: (cid, cvec). */
  def sampledCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % SampleMod === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  // ------------------------------------------------------------------
  // The k-switch entry points (what d23 / d32 call).
  // ------------------------------------------------------------------

  /** The probe limit for the k-switch: maxLiteralK+1 clamped into
    * Int range (limit() takes an Int; a naive .toInt would WRAP for
    * maxLiteralK > 2^31 and silently collect a partial centroid set
    * down the literal path — and the +1 itself wraps at
    * Long.MaxValue, so the bound check comes BEFORE the increment). */
  private[graft] def probeLimit(maxLiteralK: Long): Int =
    if (maxLiteralK >= Int.MaxValue.toLong) Int.MaxValue
    else (maxLiteralK + 1).toInt

  /** Exact-cosine cluster assignment with the explicit k-switch.
    * Returns (vec_id, cid, embedding).
    *
    * The switch costs ONE bounded pass: collect up to maxLiteralK+1
    * sampled centroids — if that returns <= maxLiteralK rows it IS
    * the complete set and feeds the kernel directly (no separate
    * count action, no second execution of the sampled pipeline);
    * k+1 rows back means the bound is exceeded and the collected
    * prefix is discarded for the fixed-k join path. */
  def assignCos(e: DataFrame, maxLiteralK: Long = MaxLiteralK,
      fixedK: Int = DefaultFixedK, lloydIters: Int = 2): DataFrame = {
    val head = sampledCentroids(e)
      .limit(probeLimit(maxLiteralK)).collect()
    if (head.length <= maxLiteralK) assignCosLiteralRows(e, head)
    else assignCosJoin(e, lloydCentroids(e, fixedK, lloydIters))
  }

  /** PQ-ADC cluster assignment (d32) with the same k-switch (and the
    * same single bounded collect — see [[assignCos]]). */
  def assignAdc(e: DataFrame, maxLiteralK: Long = MaxLiteralK,
      fixedK: Int = DefaultFixedK, lloydIters: Int = 2): DataFrame = {
    import graft.expressions.GraftFunctions.pq_encode
    val head = sampledCentroids(e)
      .select(col("cid"), pq_encode(col("cvec")).as("ccodes"))
      .limit(probeLimit(maxLiteralK)).collect()
    if (head.length <= maxLiteralK) assignAdcLiteralRows(e, head)
    else assignAdcJoin(e, lloydCentroids(e, fixedK, lloydIters))
  }

  // ------------------------------------------------------------------
  // Small-k: kernel literals (the gated-scale fast path).
  // ------------------------------------------------------------------

  /** Assign via the argmax_cos kernel from already-collected
    * (cid, cvec) rows — what [[assignCos]]'s single bounded collect
    * feeds: one narrow pass per vector, query norm hoisted, no join
    * (vs ~6 s of n*k row plumbing for the join form at sf1). */
  def assignCosLiteralRows(e: DataFrame,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    // An empty centroid set would otherwise surface as a bare
    // NoSuchElementException on cRows.head below — name the cause
    // (the every-61st sample selects nothing on a corpus with no
    // vec_id % 61 == 0) instead of assigning to nothing silently.
    require(rows.nonEmpty,
      "SemDedup.assignCosLiteralRows: empty centroid set — the " +
        s"every-${SampleMod}th vec_id sample selected no rows " +
        "(corpus empty or ids miss the sampling residue); seed " +
        "centroids explicitly or use the fixed-k join path")
    val cRows = rows
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val dim = cRows.head._2.length
    val cFlat = new Array[Float](cRows.length * dim)
    cRows.zipWithIndex.foreach { case ((_, v), i) =>
      System.arraycopy(v, 0, cFlat, i * dim, dim)
    }
    e.select(col("vec_id"),
      graft.expressions.GraftFunctions.argmax_cos(col("embedding"),
        cFlat, cRows.map(_._1)).as("cid"),
      col("embedding"))
  }

  /** Assign via the pq_assign_adc kernel from already-collected
    * (cid, ccodes) rows — what [[assignAdc]]'s single bounded collect
    * feeds (per-vector M*K LUT built in-kernel, code matrix scanned in
    * place — the broadcast-join form of the same argmin copies the
    * LUT into every joined row, measured 14.4 s of pure row copy at
    * sf1 vs ~0.5 s for the kernel). */
  def assignAdcLiteralRows(e: DataFrame,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import graft.expressions.GraftFunctions.pq_assign_adc
    // Same empty-set guard as assignCosLiteralRows: an empty codes
    // literal would feed pq_assign_adc a zero-centroid argmin.
    require(rows.nonEmpty,
      "SemDedup.assignAdcLiteralRows: empty centroid set — the " +
        s"every-${SampleMod}th vec_id sample selected no rows " +
        "(corpus empty or ids miss the sampling residue); seed " +
        "centroids explicitly or use the fixed-k join path")
    val centRows = rows.sortBy(_.getLong(0))
    val centIds = centRows.map(_.getLong(0))
    val codesFlat = centRows.flatMap(_.getSeq[Int](1))
    e.select(col("vec_id"),
      pq_assign_adc(col("embedding"), typedlit(codesFlat),
        typedlit(centIds)).as("cid"),
      col("embedding"))
  }

  // ------------------------------------------------------------------
  // Large-k: centroids stay a DataFrame; nothing touches the driver.
  // ------------------------------------------------------------------

  /** Exact-cosine assignment against a centroid TABLE: broadcast the
    * k-bounded-but-not-literal centroid set, score, and argmax with
    * map-side struct-max partials — only n rows reach the exchange
    * (the d23/m01 max_by discipline; a row_number window would sort
    * and shuffle the full n*k scored stream). Tie-break (highest
    * cosine, then lowest cid) matches argmax_cos exactly: max over
    * struct(ccos, -cid), with NaN ordered greatest on both paths. */
  def assignCosJoin(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("ccos", Similarity.cosine(col("embedding"), col("cvec")))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"))).as("_m"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), (-col("_m.ncid")).as("cid"), col("embedding"))

  /** PQ-ADC assignment against a centroid TABLE — the relational form
    * of pq_assign_adc (and of the d32 oracle's `adc` CTE): the corpus
    * side explodes its M*K-bounded ADC lookup table once (narrow),
    * centroid codes ride as a broadcast of k*M (cid, s, code) rows,
    * and the per-(vec, cid) distance is a SUM over the M matched LUT
    * rows. Two keyed aggregations, both with map-side partials; no
    * literal, no driver collect. */
  def assignAdcJoin(e: DataFrame, cents: DataFrame): DataFrame = {
    val lut = Pq.adcTable(e.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val ccodes = Pq.encode(
      cents.select(col("cid"), col("cvec")), "cid", "cvec")
      .select(col("cid"), col("s").as("cs"), col("code"))
    val asg = lut.join(broadcast(ccodes),
        lut("s") === col("cs") && lut("c") === col("code"))
      .groupBy(col("q_id").as("vec_id"), col("cid"))
      .agg(sum("d2").as("adc"))
      .groupBy("vec_id")
      .agg(min(struct(col("adc"), col("cid"))).as("_m"))
      .select(col("vec_id"), col("_m.cid").as("cid"))
    e.join(asg, Seq("vec_id"))
      .select(col("vec_id"), col("cid"), col("embedding"))
  }

  /** Fixed-k spherical Lloyd, fully distributed: seeds are the k
    * hash-lowest vec_ids (deterministic, TakeOrdered — k-bounded),
    * each iteration re-assigns by cosine ([[assignCosJoin]]) and
    * recomputes per-cluster element-wise means via one posexplode +
    * two keyed aggregations (k*dim rows after partials). Centroids
    * are materialized per round (double-consumed next round) but
    * NEVER collected; every round's blocks stay held until the
    * result is dropped ([[Materialize]]). Empty clusters drop out, as in standard
    * Lloyd. */
  def lloydCentroids(e: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = Materialize(
      e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
    var i = 0
    while (i < iters) {
      cents = Materialize(assignCosJoin(e, cents)
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg(col("x").cast("double")).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"),
          expr("transform(pm, p -> CAST(p.m AS FLOAT))").as("cvec")))
      i += 1
    }
    cents
  }
}
