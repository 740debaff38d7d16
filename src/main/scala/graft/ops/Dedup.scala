package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operator family for training-data pipelines:
  * exact (hash-groupBy), bag-of-words canonical key, MinHash+LSH
  * (shingle → k-min signature → banded buckets → candidate pairs →
  * exact-Jaccard verify), SimHash, n-gram Jaccard.
  *
  * Every shingle consumer reads ONE shape: a per-doc frame `(id, hs)`
  * where `hs` is the doc's sorted, distinct shingle-hash array, built
  * by one kernel pass over the doc's words. Two hash contracts:
  *  - PORTABLE ([[ngramPortableHashArrays]], the md5-based 60-bit
  *    [[Text.portableHash]]) wherever the hash VALUES are replayed by
  *    a SQL oracle: minhash signatures, the verify and prefix stages;
  *  - xxhash64 ([[ngramShingleHashes]]) where the hash is only a
  *    bucket or join key that never reaches a result: the all-pairs
  *    bucket family and the decontamination joins.
  *
  * 100 TB design: every stage is linear except candidate-pair
  * generation, which is confined to LSH band buckets (shuffle by
  * band hash, pairs only within a bucket). Signatures are one kernel
  * call per doc over its hash array (no aggregate, no exchange); no
  * driver-side state anywhere.
  */
object Dedup {

  /** Default SimHash width for [[simhash]]/[[simhashPairsBanded]] —
    * the 60-bit scale form. One definition repo-wide (the kernel's
    * home, [[graft.expressions.GraftFunctions.SimhashDefaultBits]],
    * whose scaladoc carries the width-sizing rule: 32-bit is
    * output-quadratic past ~10^5 docs; 60-bit holds to ~10^9; beyond
    * that, two-long 128-bit fingerprints). */
  val DefaultSimBits: Int =
    graft.expressions.GraftFunctions.SimhashDefaultBits

  /** Exact-duplicate groups: normalize → md5 fingerprint → groupBy. */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), Text.fingerprint(col(text)).as("fp"))
      .groupBy("fp")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Canonical bag-of-words key: md5 of the sorted distinct token set.
    * Catches docs that are permutations/repetitions of the same
    * vocabulary — a cheap linear near-dup pass. Empty tokens from
    * whitespace runs are dropped (the [[withWords]] discipline) so
    * "x y" and "x  y" canonicalize to the SAME key — keeping them
    * would make the key sensitive to exactly the spacing noise a
    * vocabulary-set fingerprint exists to erase.
    */
  def bagOfWordsKey(text: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(
      filter(split(text, " "), w => length(w) > 0)))))

  /** One row per DOC with its sorted distinct word n-gram shingle
    * set as xxhash64 values (`hs`), built by ONE kernel pass over the
    * token array ([[graft.expressions.Kernels.ngramShingleHashes]]) —
    * no shingle STRING is ever allocated. The bucket-family and
    * decontamination form: their keys never reach a result, so the
    * portable-hash discipline does not apply and a 64-bit collision
    * is the accepted risk ([[commonCountsFromBuckets]]'s key note).
    * Stages whose hash VALUES are oracle-replayed (minhash signatures,
    * the verify and prefix stages) read [[ngramPortableHashArrays]].
    */
  def ngramShingleHashes(df: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    hashArrays(df, id, text, n,
      graft.expressions.GraftFunctions.ngram_shingle_hashes)

  /** One row per DOC with its sorted distinct PORTABLE shingle-hash
    * set ([[graft.expressions.Kernels.ngramPortableHashes]]) — the
    * minhash family's working form: signatures read it with
    * [[minhashSignatures]], the hashed-set verify
    * consumes it as-is (already sorted for intersect_count_sorted),
    * and sizes are `size(hs)`. Replaces the exploded string-shingle
    * stream + its 3 downstream exchanges (signature agg, hashed-set
    * collect_list, size groupBy) and halves the md5 work (one pass,
    * not signatures + verify separately).
    */
  def ngramPortableHashArrays(df: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    hashArrays(df, id, text, n,
      graft.expressions.GraftFunctions.ngram_portable_hashes)

  /** `(id, hs)` from a shingle-hash kernel, for docs with at least n
    * words: a shorter doc has no shingle and so no row, as in the
    * oracles' exploded `GROUP BY doc_id`. The filter reads the words
    * array, not `size(hs)`: a filter on the kernel's output is pushed
    * below the projection and runs the kernel a second time per doc.
    */
  private def hashArrays(df: DataFrame, id: String, text: String, n: Int,
      kernel: (Column, Int) => Column): DataFrame =
    withWords(df, id, text).filter(size(col("__w")) >= n)
      .select(col(id), kernel(col("__w"), n).as("hs"))

  /** Exact Jaccard for candidate pairs over the per-doc SORTED hash
    * arrays of [[ngramPortableHashArrays]]:
    * jaccard = |A∩B| / (|A|+|B|-|A∩B|), all-integer inputs, so the
    * double division is engine-deterministic. Each surviving pair pays
    * one two-pointer merge ([[graft.expressions.IntersectCountSorted]])
    * — no (pairs x shingles) explode shuffle, no collect_list
    * exchange, no second md5 pass. Identical values to a string-
    * shingle count barring a 60-bit hash collision inside one document
    * pair (probability ~ |sh|^2 / 2^61; the signature stage rests on
    * the same hash family).
    *
    * `minJaccardPct` (0-100): exact size-bound prune — jaccard can
    * never exceed min(|A|,|B|)/max(|A|,|B|), so pairs failing
    * `100*min >= p*max` are dropped on the narrow size table before
    * the hash arrays are joined in. A necessary condition for
    * `jaccard >= p/100`, so the row set is unchanged.
    * `thresholdPct` applies that filter itself in integer space
    * ([[thresholded]]).
    */
  def jaccardVerifyHashArrays(candidates: DataFrame, harr: DataFrame,
      id: String, minJaccardPct: Int = 0,
      thresholdPct: Int = 0): DataFrame = {
    import graft.expressions.GraftFunctions.intersect_count_sorted
    val pruned =
      if (minJaccardPct <= 0) candidates
      else {
        val sizes = harr.select(col(id), size(col("hs")).as("n"))
        candidates
          .join(sizes.as("pa"), col("id_1") === col(s"pa.$id"))
          .join(sizes.as("pb"), col("id_2") === col(s"pb.$id"))
          .filter(atLeastPct(least(col("pa.n"), col("pb.n")),
            greatest(col("pa.n"), col("pb.n")), minJaccardPct))
          .select(col("id_1"), col("id_2"))
      }
    val counted = pruned
      .join(harr.as("za"), col("id_1") === col(s"za.$id"))
      .join(harr.as("zb"), col("id_2") === col(s"zb.$id"))
      .select(col("id_1"), col("id_2"),
        intersect_count_sorted(col("za.hs"), col("zb.hs")).as("n_common"),
        size(col("za.hs")).as("na"), size(col("zb.hs")).as("nb"))
    thresholded(counted, col("na") + col("nb") - col("n_common"),
      thresholdPct)
      .select(col("id_1"), col("id_2"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common"))).as("jaccard"))
  }

  /** EXACT integer form of the caller-side `jaccard >= pct/100`
    * filter: `100 * n_common >= pct * union` over the pre-division
    * integer columns, so the hot per-pair compare stays in
    * whole-stage-codegen long space and (when the caller then drops
    * the jaccard column, as dupEdges does) the double division is
    * never evaluated at all. Row-set equivalence to the double
    * compare is exact, not approximate: IEEE division is correctly
    * rounded, so double(n/u) and double(pct/100) can only straddle
    * the >= boundary differently if the two exact rationals differ
    * by less than one ulp — which forces u > 2^53/100, far beyond
    * any document's shingle-set size (DedupSpec proves the boundary
    * cases). `thresholdPct = 0` keeps the unfiltered contract.
    */
  private[graft] def thresholded(counted: DataFrame, union: Column,
      thresholdPct: Int): DataFrame =
    if (thresholdPct <= 0) counted
    else counted.filter(atLeastPct(col("n_common"), union, thresholdPct))

  /** `100 * part >= pct * whole`, multiplied in long space: the
    * shingle counts are ints, and an int product overflows (an ANSI
    * error) once a count passes 2^31/100, about 21M shingles.
    */
  private def atLeastPct(part: Column, whole: Column, pct: Int): Column =
    part.cast("long") * 100 >= whole.cast("long") * pct

  /** Word n-grams WITH multiplicity (one row per occurrence) — the
    * input for repetition analysis, where how often the top n-gram
    * repeats is the signal (the hash-array shinglers are this per-doc
    * deduplicated).
    */
  def ngrams(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    withWords(df, id, text)
      .select(col(id), explode(shingleExpr(n)).as("sh"))

  /** (id, __w) projection with the words array MATERIALIZED as an
    * attribute. The shingle transform's lambda references the array n
    * times per shingle; if the split is inlined into the lambda
    * (which CollapseProject does to a words-array column sitting in a
    * plain Project under a Project), every element_at re-evaluates it
    * — O(doc_len) per access, quadratic per doc (measured 7x on d05,
    * and it RETURNED as a 5x a07/a09 regression when an intermediate
    * array Project was introduced in round 8). A Generate node does
    * not collapse into its child Project, so [[shingleExpr]] must be
    * evaluated INSIDE the explode over this projection.
    */
  private def withWords(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
      filter(split(col(text), " "), w => length(w) > 0).as("__w"))

  /** Shingle-array expression over the materialized `__w` attribute
    * ([[withWords]]); evaluate only inside a Generate. */
  private def shingleExpr(n: Int): Column = {
    val w = col("__w")
    // sequence(a, b) descends when b < a -> guard short docs explicitly
    val idx = when(size(w) >= n, sequence(lit(1), size(w) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    transform(idx,
      i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*))
  }

  /** Modulus of the minhash affine family — a prime just under 2^31
    * (the one Spark MLlib's MinHashLSH uses,
    * `org.apache.spark.ml.feature.MinHashLSH.HASH_PRIME`), so
    * c_i * h < 2^62: exact in 64-bit integers in ANY engine — DuckDB
    * BIGINT overflow is an error, not a wrap, so staying under 2^63
    * is a correctness requirement for the oracle, not a nicety.
    */
  val MinhashPrime = 2038074743L

  /** Deterministic per-function coefficients (c_i odd-ish in
    * [1, p-1], d_i in [0, p-1]) derived from the portable hash of a
    * fixed label — no RNG, so engine and oracle agree by
    * construction.
    */
  def minhashCoeffs(k: Int): IndexedSeq[(Long, Long)] =
    (0 until k).map { i =>
      import org.apache.spark.unsafe.types.UTF8String
      val c = graft.expressions.Kernels
        .portableHash60(UTF8String.fromString(s"mh|a|$i")) %
        (MinhashPrime - 1) + 1
      val dd = graft.expressions.Kernels
        .portableHash60(UTF8String.fromString(s"mh|b|$i")) % MinhashPrime
      (c, dd)
    }

  /** MinHash signatures `id, sig_0..sig_{k-1}` from the per-doc
    * portable-hash arrays of [[ngramPortableHashArrays]]: one
    * `minhash_sigs` kernel call per doc
    * ([[graft.expressions.Kernels.minhashSigs]]) — no shingle explode,
    * no exchange, no k aggregate buffers.
    *
    * Hash family: g_i(x) = (c_i * h + d_i) mod p with h the shingle's
    * 60-bit portable hash reduced mod p, and per-function constants
    * from [[minhashCoeffs]] — the same construction as MLlib's
    * MinHashLSH (`MinHashLSH.hashFunction`). The per-i constants are
    * what makes band rows independent: a per-SHINGLE linear form
    * (a + i*b) makes g_i's argmin nearly the same shingle for every i,
    * so an 8-row band collides whenever ONE row would — measured
    * 11.3M candidates where J^8-independence predicts ~10^4. A salted-
    * md5-per-i family is independent too but recomputes the digest k
    * times per shingle; at k=64 that WAS the signature cost (measured
    * 3.3 s of d04's sf0.1 time).
    */
  def minhashSignatures(harr: DataFrame, id: String, k: Int): DataFrame =
    harr.select(col(id), graft.expressions.GraftFunctions
        .minhash_sigs(col("hs"), k).as("__sigs"))
      .select(col(id) +: (0 until k)
        .map(i => element_at(col("__sigs"), i + 1).as(s"sig_$i")): _*)

  /** LSH candidate pairs (id_1 < id_2) from `sig_0..sig_{k-1}`
    * signature columns: band b's key is md5 over its `rowsPerBand`
    * values, and two docs are candidates when they share any band's
    * key. Each pair is emitted EXACTLY ONCE — by its first matching
    * band. A near-dup pair typically collides in several bands, so
    * the naive bands-join + distinct shuffles the pair stream at its
    * duplicated size (2.3x at sf0.1, 21M rows) just to dedup it.
    * Carrying all band hashes on both join sides instead lets band
    * j's join filter out pairs that already matched in any band
    * i < j — the union is distinct BY CONSTRUCTION and the global
    * distinct exchange disappears. Same candidate set as the
    * `SELECT DISTINCT` band join of the d04/d21 oracles (DedupSpec
    * checks it against a driver-side reference); the per-row extra
    * predicate is j string equality checks against an O(1)-width row.
    */
  def lshCandidatesOnce(sigs: DataFrame, id: String, k: Int,
      rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    // materialize once: the banded table feeds 2*nBands join sides
    // below, and recomputing the upstream signature aggregation per
    // side is nBands x the whole signature cost (measured 10 s of
    // d04's sf0.1 time at 8 bands). One row per doc with nBands
    // hashes — O(corpus) rows, the natural artifact to persist at
    // any scale.
    val withH = Materialize(sigs.select(col(id) +: (0 until nBands).map {
      b =>
        val cols = (0 until rowsPerBand)
          .map(r => col(s"sig_${b * rowsPerBand + r}").cast("string"))
        md5(concat_ws("#", cols: _*)).as(s"bh_$b")
    }: _*))
    (0 until nBands).map { j =>
      val noEarlier = (0 until j)
        .map(i => col(s"a.bh_$i") =!= col(s"b.bh_$i"))
        .foldLeft(lit(true))(_ && _)
      withH.as("a")
        .join(withH.as("b"),
          col(s"a.bh_$j") === col(s"b.bh_$j") &&
            col(s"a.$id") < col(s"b.$id") && noEarlier)
        .select(col(s"a.$id").as("id_1"), col(s"b.$id").as("id_2"))
    }.reduce(_ union _)
  }

  /** All-pairs Jaccard over per-doc shingle-hash arrays `(id, hs)`,
    * bucket form: pairs sharing >= 1 (non-heavy) shingle get their
    * common count from [[commonCountsFromBuckets]], then sizes
    * (`size(hs)`, narrow) join in. Use when candidates ARE "pairs
    * sharing a shingle" — no separate verify pass needed. Sizes stay
    * uncapped (full |A|, |B|): when the df cap engages, a boilerplate
    * shingle stops generating pairs but still counts toward set size,
    * so jaccard is under- (never over-) estimated for boilerplate-
    * heavy docs — the conservative direction for dedup.
    */
  def jaccardAllPairs(harr: DataFrame, id: String, maxDf: Int = 10000,
      thresholdPct: Int = 0): DataFrame = {
    val counted = withSizes(harr, id, maxDf)
    thresholded(counted, col("za.n") + col("zb.n") - col("n_common"),
      thresholdPct)
      .select(col("id_1"), col("id_2"),
        (col("n_common").cast("double") /
          (col("za.n") + col("zb.n") - col("n_common"))).as("jaccard"))
  }

  /** All-pairs asymmetric containment over `(id, hs)`, same bucket
    * shape as [[jaccardAllPairs]]: c_1in2 = |A∩B|/|A|
    * detects doc 1 CONTAINED in doc 2 (quotation, boilerplate wrap,
    * partial scrape) even when symmetric Jaccard is low because the
    * container is much larger — the subset-dup case Jaccard misses.
    */
  def containmentAllPairs(harr: DataFrame, id: String,
      maxDf: Int = 10000, minMaxContainmentPct: Int = 0): DataFrame = {
    val counted = withSizes(harr, id, maxDf)
    // greatest(c_1in2, c_2in1) >= p/100 over positive denominators is
    // exactly 100*n_common >= p*least(|A|,|B|) — the [[thresholded]]
    // integer-space equivalence, applied to the smaller set size
    val filtered =
      if (minMaxContainmentPct <= 0) counted
      else counted.filter(atLeastPct(col("n_common"),
        least(col("za.n"), col("zb.n")), minMaxContainmentPct))
    filtered
      .select(col("id_1"), col("id_2"), col("n_common"),
        (col("n_common").cast("double") / col("za.n")).as("c_1in2"),
        (col("n_common").cast("double") / col("zb.n")).as("c_2in1"))
  }

  /** [[commonCountsFromBuckets]] with both docs' set sizes joined in
    * as `za.n`, `zb.n`. The sizes are `size(hs)`, a narrow projection
    * of the same arrays: no groupBy over the shingle stream. */
  private def withSizes(harr: DataFrame, id: String,
      maxDf: Int): DataFrame = {
    val sizes = harr.select(col(id), size(col("hs")).as("n"))
    commonCountsFromBuckets(harr, id, maxDf)
      .join(sizes.as("za"), col("id_1") === col(s"za.$id"))
      .join(sizes.as("zb"), col("id_2") === col(s"zb.$id"))
  }

  /** Prefix-filtered candidate pairs for an EXACT high-threshold
    * similarity join (AllPairs, Bayardo et al., WWW'07), over the
    * per-doc portable-hash arrays of [[ngramPortableHashArrays]]:
    * order every doc's shingle hashes by ascending document frequency
    * (rarest first — ties on the hash, a total order), keep only the first
    * `n - ceil(t*n) + 1` as the doc's PREFIX, and bucket-join on
    * prefix entries alone. Theorem: two sets with Jaccard >= t must
    * share at least one prefix shingle under any global order — so
    * verifying exactly on these candidates returns every qualifying
    * pair, while the pair stream shrinks ~(1-t)^2: at t=0.8 only the
    * rarest ~20% of each doc's shingles enter buckets, and the
    * highest-df (biggest-bucket) shingles drop out first. This is the
    * exact-join complement to LSH (d04, approximate) and to the full
    * bucket join (d05/d12, needed only for LOW thresholds where
    * prefixes degenerate). `tPct` in percent for exact integer
    * arithmetic. The whole prefix pipeline runs on 8-byte longs, with
    * no shingle string and no md5 pass beyond the arrays' own.
    */
  def prefixFilteredCandidatesHashed(harr: DataFrame, id: String,
      tPct: Int): DataFrame = {
    require(tPct > 0 && tPct <= 100, s"tPct out of range: $tPct")
    val exploded = harr.select(col(id), explode(col("hs")).as("h"))
    val docFreq = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val sizes = harr.select(col(id), size(col("hs")).as("n"))
    val wDoc = Window.partitionBy(col(id)).orderBy(col("df"), col("h"))
    val prefix = exploded
      .join(docFreq, "h")
      .withColumn("rk", row_number().over(wDoc))
      .join(sizes, id)
      .filter(col("rk") <=
        col("n") - expr(s"(($tPct * n) + 99) div 100") + 1)
      .select(col(id), col("h"))
    prefix.groupBy(col("h")).agg(sort_array(collect_list(col(id))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(graft.expressions.ArrayPairs
        .array_pairs(col("ids")).as(Seq("id_1", "id_2")))
      .distinct()
  }

  /** Near-dup EDGE stage shared by pair queries (d05-shape) and
    * group resolution (d12): all pairs of docs with exact n-gram
    * Jaccard >= tPct/100, as (u, v) with u < v. One logical contract,
    * two physical paths picked by the threshold:
    *
    *  - `tPct >= 60`: AllPairs prefix filter ([[
    *    prefixFilteredCandidatesHashed]], exact by the prefix theorem)
    *    + [[jaccardVerifyHashArrays]] with the size-ratio prune at
    *    tPct. At t=0.8 only each doc's rarest ~20% of shingles enter
    *    buckets, so the candidate stream shrinks ~(1-t)^2 — the d29
    *    discipline composed into the edge stage.
    *  - below 60: full df-capped buckets ([[jaccardAllPairs]]) — at
    *    low thresholds prefixes degenerate (t=0.1 keeps 90% of
    *    shingles) and the bucket join with the df cap is the right
    *    shape.
    *
    * Neither path takes per-doc sizes from a groupBy over the shingle
    * stream: both read `size(hs)` off the per-doc hash arrays. The 60
    * crossover: prefix length is
    * n - ceil(t*n) + 1, so below t=0.6 more than ~40% of each doc's
    * shingles still enter buckets AND the verify stage joins the full
    * hashed-set arrays per surviving pair — measured slower than the
    * straight bucket count at sf0.1 for t<=0.5.
    */
  def dupEdges(docTable: DataFrame, id: String, text: String, n: Int,
      tPct: Int, maxDf: Int = 10000): DataFrame = {
    require(tPct > 0 && tPct <= 100, s"tPct out of range: $tPct")
    // threshold applied INSIDE the pair ops in exact integer space
    // ([[thresholded]]): the hot per-pair compare never leaves
    // whole-stage-codegen long arithmetic, and because this caller
    // drops the jaccard column the double division is pruned from the
    // plan entirely — same row set as `jaccard >= tPct/100.0` by the
    // correctly-rounded-division argument (DedupSpec boundary cases)
    val pairs =
      if (tPct >= 60) {
        // prefix path on portable-hash arrays: the qualifying edge
        // set is order-invariant (AllPairs theorem), so the (df, h)
        // tie-break replaces (df, sh) and no shingle string is built
        // the array table feeds prefix (df + window) and verify
        val harr = Materialize(ngramPortableHashArrays(docTable, id, text, n))
        jaccardVerifyHashArrays(
          prefixFilteredCandidatesHashed(harr, id, tPct), harr, id,
          minJaccardPct = tPct, thresholdPct = tPct)
      } else
        // bucket path on xxhash arrays (no string allocs), not
        // materialized: the bucket stream and the sizes each scan the
        // doc table once, and a Materialize would add an eager job
        jaccardAllPairs(ngramShingleHashes(docTable, id, text, n), id,
          maxDf, thresholdPct = tPct)
    pairs.select(col("id_1").as("u"), col("id_2").as("v"))
  }

  /** Common-shingle counts per doc pair via shingle BUCKETS over the
    * per-doc hash arrays `(id, hs)`, with a built-in document-frequency
    * cap. `hs` must be distinct per doc (both array shinglers are).
    *
    * One shuffle (groupBy on the exploded hash) collects each
    * shingle's doc list; pairs
    * then stream out of two chained explodes within the bucket — the
    * same (pair, shingle) row set the shingle-equality self-join
    * produces, minus the join build and the second shuffle of the
    * shingle table.
    *
    * The df cap is structural and free: a bucket larger than `maxDf`
    * is dropped BEFORE pair expansion. A single boilerplate shingle
    * shared by 10^6 docs would otherwise emit a quadratic bucket —
    * the cap bounds every bucket at maxDf^2 pair rows, making the
    * worst case linear in the corpus for fixed maxDf. High-df
    * shingles carry ~zero similarity signal (they fail to
    * discriminate by definition), which is why near-dup pipelines
    * drop them rather than pay to pair on them. No silent caps:
    * dropped-bucket counts ride the job as an observed metric and are
    * logged on completion ([[Metrics.observeDropped]]). On testdata
    * the cap is a no-op (max observed df is 25 at sf0.1), so results
    * are identical to the uncapped self-join.
    */
  def commonCountsFromBuckets(harr: DataFrame, id: String,
      maxDf: Int): DataFrame = {
    // bucket key is the shingle's hash, not its string: the key never
    // reaches a result (buckets exist only to pair ids), and shuffling
    // 8 fixed bytes per row instead of a 20-40 byte string shrinks the
    // family's largest exchange. A cross-doc collision would merge
    // two buckets and over-count one pair by 1 — probability
    // ~ S^2/2^64 for S distinct shingles, the same accepted risk as
    // the hashed-set verify path.
    val buckets = harr.select(col(id), explode(col("hs")).as("h"))
      .groupBy(col("h"))
      .agg(collect_list(col(id)).as("ids"))
    val guarded = Metrics
      .observeDropped(buckets, "dedup_df_cap", size(col("ids")) > maxDf)
      .filter(size(col("ids")).between(2, maxDf))
    // ArrayPairs emits the i<j pairs directly — the chained
    // explode-x-explode form generated |bucket|^2 rows and filtered
    // half away AFTER materializing them; ids are distinct per bucket
    // (shingles are per-doc distinct), so sorted-value pairs == the
    // id_a < id_b join
    guarded
      .select(graft.expressions.ArrayPairs
        .array_pairs(sort_array(col("ids"))).as(Seq("id_1", "id_2")))
      .groupBy(col("id_1"), col("id_2"))
      .agg(count(lit(1)).as("n_common"))
  }

  /** SimHash near-dup pairs via pigeonhole banding. For hamming <= h
    * over a `bits`-wide fingerprint, split the fingerprint into h+1
    * disjoint bit bands: two fingerprints within hamming h differ in
    * at most h bands, so they MUST agree exactly on at least one.
    * Candidates therefore come from an equi-join on (band_id, band
    * key) — shuffle-partitionable, pairs only form inside a bucket —
    * and exact hamming verifies. No all-pairs theta join anywhere,
    * unlike the brute-force form this replaces (round-3 verdict).
    * Exact: returns precisely the pairs with hamming <= maxHamming.
    *
    * `bits` defaults to [[DefaultSimBits]] (60) — the scale width; a
    * caller taking a narrower fingerprint (32-bit is OUTPUT-quadratic
    * past ~10^5 docs, see the DefaultSimBits scaladoc) must name it.
    */
  def simhashPairsBanded(fp: DataFrame, id: String, maxHamming: Int,
      bits: Int = DefaultSimBits): DataFrame = {
    val nBands = maxHamming + 1
    // Every band needs >= 1 bit or its key masks to a constant and
    // that band's equi-join degenerates to the all-pairs theta join
    // this function exists to avoid (quadratic, not wrong — the
    // hamming filter still holds — which is why it must fail loudly
    // here instead of surfacing as a mystery blow-up at scale).
    require(nBands <= bits && bits <= 64,
      s"Dedup.simhashPairsBanded: maxHamming + 1 = $nBands bands over " +
        s"$bits fingerprint bits leaves a band with zero bits (need " +
        "maxHamming < bits <= 64). If you passed (bits, maxHamming) " +
        "positionally — the pre-r15 parameter order — swap them: the " +
        "signature is (fp, id, maxHamming, bits), and call sites " +
        "should name `bits =` explicitly.")
    def key(side: String, j: Int) = {
      val lo = j * bits / nBands
      val w = (j + 1) * bits / nBands - lo
      // 1L << 64 wraps to 1 (mask 0 — a constant key, the degenerate
      // join the require above guards in the w=0 form); a single
      // full-width band (bits=64, maxHamming=0) takes the whole word
      val mask = if (w >= 64) -1L else (1L << w) - 1
      shiftright(col(s"$side.simhash"), lo).bitwiseAND(lit(mask))
    }
    bandedPairs(fp, id, maxHamming, nBands, key,
      bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
  }

  /** The banded self-join core shared by [[simhashPairsBanded]] and
    * [[simhashPairsBanded2]] — exactly-once emission (the
    * lshCandidatesOnce trick): band j's equi-join also requires that
    * no band i < j matched, so a pair agreeing on several bands is
    * emitted only by its first — the union is distinct BY
    * CONSTRUCTION and the global distinct exchange over the
    * duplicated candidate stream (the dominant cost when near-dup
    * clusters are large) disappears. Band keys are bit slices of the
    * fingerprint, so the "no earlier match" predicate costs j
    * shift-mask compares per joined row — no extra columns carried.
    * Candidates only form inside a band-key hash bucket; each of the
    * nBands joins shuffles the O(corpus) fingerprint table, never
    * the pair stream. */
  private def bandedPairs(fp: DataFrame, id: String, maxHamming: Int,
      nBands: Int, key: (String, Int) => org.apache.spark.sql.Column,
      hamming: org.apache.spark.sql.Column): DataFrame =
    (0 until nBands).map { j =>
      val noEarlier = (0 until j)
        .map(i => key("a", i) =!= key("b", i))
        .foldLeft(lit(true))(_ && _)
      fp.as("a")
        .join(fp.as("b"),
          key("a", j) === key("b", j) &&
            col(s"a.$id") < col(s"b.$id") && noEarlier)
        .select(col(s"a.$id").as("id_1"), col(s"b.$id").as("id_2"),
          hamming.as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }.reduce(_ union _)

  /** Two-long fingerprint banding — the width rung ABOVE the 60-bit
    * default, for corpora past ~10^9 docs where even 60 bits starts
    * admitting by-chance pairs (see GraftFunctions.SimhashDefaultBits's
    * width table). Fingerprints arrive as TWO columns (`simhash_lo`,
    * `simhash_hi`, each carrying `bitsPerWord` meaningful low bits —
    * the [[graft.expressions.GraftFunctions.simhash_fp2]] layout) and
    * the pigeonhole argument runs over the CONCATENATED
    * 2*bitsPerWord-bit string: hamming <= h implies >= 1 of h+1
    * disjoint bit bands identical, band keys are slices that may span
    * the word boundary, and exact hamming (the sum of the two words'
    * xor popcounts) verifies. Same exactly-once emission and
    * shuffle-parallel plan as [[simhashPairsBanded]]; wider bands
    * (~17 bits at h=6) mean even fewer by-chance candidates per
    * bucket than the 60-bit form.
    */
  def simhashPairsBanded2(fp: DataFrame, id: String, maxHamming: Int,
      bitsPerWord: Int = DefaultSimBits): DataFrame = {
    val total = 2 * bitsPerWord
    val nBands = maxHamming + 1
    require(nBands <= total && bitsPerWord >= 1 && bitsPerWord <= 64,
      s"Dedup.simhashPairsBanded2: maxHamming + 1 = $nBands bands over " +
        s"$total fingerprint bits leaves a band with zero bits (need " +
        "maxHamming < 2*bitsPerWord, 1 <= bitsPerWord <= 64)")
    // fail-loud discipline, the two-word edition: a band wider than
    // one long cannot be packed into a single join key — shiftleft
    // would silently DROP the hi-word bits past bit 63, making the
    // key cover only 64 of the band's bits (still exact thanks to
    // the hamming verify, but admitting by-chance collisions the
    // caller believes the full band excludes). Only tiny maxHamming
    // over wide words reaches this (e.g. maxHamming=0 at 120 bits =
    // one 120-bit band) — there, the single-word operator per word
    // or a struct key is the right tool.
    val maxBandW = (total + nBands - 1) / nBands
    require(maxBandW <= 64,
      s"Dedup.simhashPairsBanded2: widest band is $maxBandW bits — a " +
        "band key only holds 64. Raise maxHamming (more, narrower " +
        "bands) or band each word separately.")
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    // bits [from, from+w) of the concatenated (hi:lo) bit string,
    // lo word = bits 0..bitsPerWord-1
    def slice(side: String, from: Int, w: Int) = {
      val lo = col(s"$side.simhash_lo")
      val hi = col(s"$side.simhash_hi")
      val b = bitsPerWord
      if (from + w <= b) shiftright(lo, from).bitwiseAND(lit(mask(w)))
      else if (from >= b) shiftright(hi, from - b).bitwiseAND(lit(mask(w)))
      else {
        val wl = b - from // low-word part width; rest comes from hi
        shiftright(lo, from).bitwiseAND(lit(mask(wl)))
          .bitwiseOR(shiftleft(hi.bitwiseAND(lit(mask(w - wl))), wl))
      }
    }
    def key(side: String, j: Int) = {
      val from = j * total / nBands
      val w = (j + 1) * total / nBands - from
      slice(side, from, w)
    }
    val hamming =
      bit_count(col("a.simhash_lo").bitwiseXOR(col("b.simhash_lo"))) +
        bit_count(col("a.simhash_hi").bitwiseXOR(col("b.simhash_hi")))
    bandedPairs(fp, id, maxHamming, nBands, key, hamming)
  }

  /** SimHash fingerprint (`bits`-wide) over token occurrences:
    * per bit j, sum +1/-1 by hash bit; fingerprint sets bit j where
    * the sum is positive. Width defaults to [[DefaultSimBits]] (the
    * 60-bit scale form); narrower widths must be named — see the
    * DefaultSimBits scaladoc for the sizing rule.
    */
  def simhash(words: DataFrame, id: String,
      bits: Int = DefaultSimBits): DataFrame = {
    val h = Text.portableHash(col("word"))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b_$j")
    }
    words.groupBy(col(id))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(id),
        (0 until bits).map(j =>
          when(col(s"b_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }
}
