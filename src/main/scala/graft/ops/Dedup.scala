package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operator family for training-data pipelines:
  * exact (hash-groupBy), bag-of-words canonical key, MinHash+LSH
  * (shingle → k-min signature → banded buckets → candidate pairs →
  * exact-Jaccard verify), SimHash, n-gram Jaccard.
  *
  * All hashes are the engine-portable md5-based 60-bit hash
  * ([[Text.portableHash]]) so a SQL oracle can reproduce every stage.
  *
  * 100 TB design: every stage is linear except candidate-pair
  * generation, which is confined to LSH band buckets (shuffle by
  * band hash, pairs only within a bucket). Signatures are one
  * map-side-combinable aggregation over the shingle explode; no
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
    * whitespace runs are dropped (the [[wordShingles]] discipline) so
    * "x y" and "x  y" canonicalize to the SAME key — keeping them
    * would make the key sensitive to exactly the spacing noise a
    * vocabulary-set fingerprint exists to erase.
    */
  def bagOfWordsKey(text: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(
      filter(split(text, " "), w => length(w) > 0)))))

  /** Distinct word-level 1-shingles per document — deduplicated
    * NARROW (array_distinct before the explode; id is unique per
    * input row), so no shuffle. */
  def wordShingles(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), explode(array_distinct(
        filter(split(col(text), " "), w => length(w) > 0))).as("sh"))

  /** Distinct word n-gram shingles per document — built NARROW from
    * the token array (sequence + transform + element_at), no
    * positional self-join, and deduplicated narrow too: ZERO shuffles
    * end to end. (The join formulation shuffles the exploded words
    * table n-1 times — 8x slower at 5k docs, catastrophically worse
    * at scale.)
    */
  def ngramShingles(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    // per-doc dedup happens NARROW (array_distinct on the shingle
    // array INSIDE the explode): (id, sh) rows come out already
    // distinct, so no shuffle — the .distinct() formulation paid a
    // full exchange of the shingle stream, by far the largest
    // intermediate in the dedup family (id is unique per input row,
    // so per-doc distinct == global distinct)
    withWords(df, id, text)
      .select(col(id),
        explode(array_distinct(shingleExpr(n))).as("sh"))

  /** Per-doc DISTINCT-shingle counts computed NARROW: the size of the
    * deduplicated shingle array, read off before any explode — one
    * scan over the docs, ZERO shuffles. Identical values to
    * `ngramShingles(...).groupBy(id).count()`, which pays a full
    * exchange of the shingle stream (the largest intermediate in the
    * family) just to count rows per doc; feeding THIS to the
    * verify/jaccard stages instead removes that exchange and the
    * second evaluation of the shingle pipeline it forces. Docs with
    * zero shingles (shorter than n words) come out with n = 0 instead
    * of being absent — indistinguishable downstream, since only docs
    * appearing in a candidate pair (and so holding >= 1 shingle) are
    * ever looked up. The single-element explode is a real Generate
    * node: like [[ngramShingles]], the shingle lambda must NOT
    * collapse into the words-array projection ([[withWords]]) or
    * every element_at re-evaluates the split — O(doc_len) per access.
    */
  def ngramShingleSizes(df: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    withWords(df, id, text)
      .select(col(id), explode(array(
        size(array_distinct(shingleExpr(n))).cast("long"))).as("n"))

  /** Distinct word n-gram shingles per doc as their xxhash64 values
    * (`shh`), built by ONE kernel pass over the token array — no
    * shingle STRING is ever allocated (2.6M ~25-byte allocations per
    * scan at sf1 were the dominant cost of the bucketed family's
    * build). Bit-identical to
    * `ngramShingles(...).select(id, xxhash64(sh))` up to 64-bit
    * collisions, which the bucketed consumers already accept
    * ([[commonCountsFromBuckets]]'s key note). Use for consumers that
    * bucket on the HASH and never surface the shingle; stages whose
    * oracle sees shingle strings or string order (minhash signatures,
    * the d29 prefix's (df, sh) tie-break) keep [[ngramShingles]].
    */
  def ngramShingleHashes(df: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    withWords(df, id, text)
      .select(col(id), explode(graft.expressions.GraftFunctions
        .ngram_shingle_hashes(col("__w"), n)).as("shh"))

  /** [[ngramShingleSizes]] over the hashed kernel — per-doc distinct
    * HASH counts, so sizes agree exactly with what
    * [[ngramShingleHashes]] consumers count. */
  def ngramShingleHashSizes(df: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    withWords(df, id, text)
      .select(col(id), explode(array(
        size(graft.expressions.GraftFunctions
          .ngram_shingle_hashes(col("__w"), n)).cast("long"))).as("n"))

  /** One row per DOC with its sorted distinct PORTABLE shingle-hash
    * set ([[graft.expressions.Kernels.ngramPortableHashes]]) — the
    * minhash family's working form: signatures read it with
    * [[graft.expressions.MinhashSigsOf]], the hashed-set verify
    * consumes it as-is (already sorted for intersect_count_sorted),
    * and sizes are `size(hs)`. Replaces the exploded string-shingle
    * stream + its 3 downstream exchanges (signature agg, hashed-set
    * collect_list, size groupBy) and halves the md5 work (one pass,
    * not signatures + verify separately). Docs shorter than n words
    * come out with an EMPTY array — filter size(hs) > 0 where the
    * exploded form's absence matters (it feeds a groupBy, so such
    * docs simply had no rows).
    */
  def ngramPortableHashArrays(df: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    withWords(df, id, text).select(col(id),
      graft.expressions.GraftFunctions
        .ngram_portable_hashes(col("__w"), n).as("hs"))

  /** [[jaccardVerifyHashedSets]] over the per-doc hash ARRAYS of
    * [[ngramPortableHashArrays]] (no collect_list exchange, no
    * second md5 pass — the arrays arrive sorted). */
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
    * repeats is the signal ([[ngramShingles]] is this per-doc
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

  /** MinHash signatures: k affine universal hashes off ONE md5 per
    * shingle, min per doc (map-side partial min).
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
    * times per shingle row; at k=64 that WAS the signature cost
    * (measured 3.3 s of d04's sf0.1 time).
    *
    * h lands in its own projection before the aggregate so the digest
    * runs once per row, not once per aggregate expression (same
    * inline-lambda hazard as the [[ngrams]] note).
    */
  def minhashSignatures(shingles: DataFrame, id: String, k: Int): DataFrame = {
    val coeffs = minhashCoeffs(k)
    val h = col("__h")
    shingles
      .select(col(id),
        (Text.portableHash(col("sh")) % MinhashPrime).as("__h"))
      .groupBy(col(id))
      .agg(min((h * coeffs(0)._1 + coeffs(0)._2) % MinhashPrime).as("sig_0"),
        (1 until k).map { i =>
          min((h * coeffs(i)._1 + coeffs(i)._2) % MinhashPrime)
            .as(s"sig_$i")
        }: _*)
  }

  /** LSH band keys: md5 over each band's r signature values.
    * Returns (id, band_id, band_hash) — shuffle-by-band_hash then
    * pair-within-bucket is the candidate generation.
    */
  def lshBands(sigs: DataFrame, id: String, k: Int, rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val cols = (0 until rowsPerBand)
        .map(r => col(s"sig_${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band_id"),
        md5(concat_ws("#", cols: _*)).as("band_hash"))
    }
    sigs.select(col(id), explode(array(bands: _*)).as("b"))
      .select(col(id), col("b.band_id"), col("b.band_hash"))
  }

  /** Candidate pairs, each emitted EXACTLY ONCE — by its first
    * matching band. A near-dup pair typically collides in several
    * bands, so the naive bands-join + distinct shuffles the pair
    * stream at its duplicated size (2.3x at sf0.1, 21M rows) just to
    * dedup it. Carrying all band hashes on both join sides instead
    * lets band j's join filter out pairs that already matched in any
    * band i < j — the union is distinct BY CONSTRUCTION and the
    * global distinct exchange disappears. Same candidate set as
    * [[lshCandidates]]; the per-row extra predicate is j string
    * equality checks against an O(1)-width row.
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

  /** Candidate pairs from shared LSH buckets (distinct over bands). */
  def lshCandidates(bands: DataFrame, id: String): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_1"), col(s"b.$id").as("id_2"))
      .distinct()

  /** Exact Jaccard over shingle sets, restricted to candidate pairs.
    * jaccard = |A∩B| / (|A|+|B|-|A∩B|), all-integer inputs so the
    * double division is engine-deterministic.
    */
  /** `minJaccardPct` (0-100): exact size-bound prune — jaccard can
    * never exceed min(|A|,|B|)/max(|A|,|B|), so when the caller will
    * filter `jaccard >= p/100`, pairs failing `100*min >= p*max` are
    * eliminated BEFORE the expensive common-shingle join using only
    * the (cheap) size table. Integer arithmetic, no float compare —
    * a necessary condition, so the final row set is unchanged.
    */
  def jaccardVerify(candidates: DataFrame, shingles: DataFrame,
      id: String, minJaccardPct: Int = 0): DataFrame = {
    val sizes = shingles.groupBy(col(id)).agg(count(lit(1)).as("n"))
    val withSizes = candidates
      .join(sizes.as("za"), col("id_1") === col(s"za.$id"))
      .join(sizes.as("zb"), col("id_2") === col(s"zb.$id"))
      .select(col("id_1"), col("id_2"),
        col("za.n").as("na"), col("zb.n").as("nb"))
    val pruned =
      if (minJaccardPct <= 0) withSizes
      else withSizes.filter(
        atLeastPct(least(col("na"), col("nb")),
          greatest(col("na"), col("nb")), minJaccardPct))
    pruned
      .join(shingles.as("sa"), col("id_1") === col(s"sa.$id"))
      .join(shingles.as("sb"),
        col("id_2") === col(s"sb.$id") && col("sa.sh") === col("sb.sh"))
      .groupBy("id_1", "id_2", "na", "nb")
      .agg(count(lit(1)).as("n_common"))
      .select(col("id_1"), col("id_2"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common"))).as("jaccard"))
  }

  /** Exact Jaccard for candidate pairs via per-doc shingle ARRAYS:
    * two set-table joins (one row per pair) and an `array_intersect`,
    * instead of exploding each pair into its shingle-match rows and
    * re-aggregating. Bit-identical jaccard to [[jaccardVerify]] (same
    * integer inputs); different cost shape: rows stay |pairs| and the
    * (pairs x shingles) shuffle disappears, but each pair pays an
    * O(|A|+|B|) intersection. Wins when docs are long and candidates
    * few; on d04's shape at sf0.1 (tiny docs, 364k candidate pairs —
    * the synthetic corpus is near-dup-heavy) the explode form
    * measured faster (2.1s vs 2.9s), so d04 keeps [[jaccardVerify]].
    */
  def jaccardVerifySets(candidates: DataFrame, shingles: DataFrame,
      id: String, minJaccardPct: Int = 0): DataFrame = {
    val sets = shingles.groupBy(col(id))
      .agg(collect_list(col("sh")).as("shs")) // already distinct per doc
    // size-bound prune on the NARROW size table first (same necessary
    // condition as [[jaccardVerify]]): pruned pairs never shuffle the
    // shingle arrays at all.
    val pruned =
      if (minJaccardPct <= 0) candidates
      else {
        val sizes = shingles.groupBy(col(id)).agg(count(lit(1)).as("n"))
        candidates
          .join(sizes.as("pa"), col("id_1") === col(s"pa.$id"))
          .join(sizes.as("pb"), col("id_2") === col(s"pb.$id"))
          .filter(atLeastPct(least(col("pa.n"), col("pb.n")),
            greatest(col("pa.n"), col("pb.n")), minJaccardPct))
          .select(col("id_1"), col("id_2"))
      }
    pruned
      .join(sets.as("za"), col("id_1") === col(s"za.$id"))
      .join(sets.as("zb"), col("id_2") === col(s"zb.$id"))
      .select(col("id_1"), col("id_2"),
        size(array_intersect(col("za.shs"), col("zb.shs"))).as("n_common"),
        size(col("za.shs")).as("na"), size(col("zb.shs")).as("nb"))
      .select(col("id_1"), col("id_2"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common"))).as("jaccard"))
  }

  /** Exact Jaccard for candidate pairs via SORTED HASHED shingle
    * sets: each doc's shingle set becomes an ascending array of
    * 60-bit portable hashes, the size-bound prune runs on the narrow
    * size table first, and surviving pairs pay one two-pointer merge
    * ([[graft.expressions.IntersectCountSorted]]) instead of a
    * per-row string hash set. Identical jaccard values to
    * [[jaccardVerify]]/[[jaccardVerifySets]] barring a 60-bit hash
    * collision inside one document pair (probability ~ |sh|^2 / 2^61;
    * the signature stage already rests on the same hash family).
    * This is the scale path: verify cost is |pairs| * O(|A|+|B|)
    * primitive compares, with no (pairs x shingles) explode shuffle.
    */
  def jaccardVerifyHashedSets(candidates: DataFrame, shingles: DataFrame,
      id: String, minJaccardPct: Int = 0,
      sizesNarrow: Option[DataFrame] = None): DataFrame = {
    import graft.expressions.GraftFunctions.intersect_count_sorted
    val hsets = shingles.groupBy(col(id))
      .agg(sort_array(collect_list(Text.portableHash(col("sh")))).as("hs"))
    val pruned =
      if (minJaccardPct <= 0) candidates
      else {
        val sizes = sizesNarrow.getOrElse(
          shingles.groupBy(col(id)).agg(count(lit(1)).as("n")))
        candidates
          .join(sizes.as("pa"), col("id_1") === col(s"pa.$id"))
          .join(sizes.as("pb"), col("id_2") === col(s"pb.$id"))
          .filter(atLeastPct(least(col("pa.n"), col("pb.n")),
            greatest(col("pa.n"), col("pb.n")), minJaccardPct))
          .select(col("id_1"), col("id_2"))
      }
    pruned
      .join(hsets.as("za"), col("id_1") === col(s"za.$id"))
      .join(hsets.as("zb"), col("id_2") === col(s"zb.$id"))
      .select(col("id_1"), col("id_2"),
        intersect_count_sorted(col("za.hs"), col("zb.hs")).as("n_common"),
        size(col("za.hs")).as("na"), size(col("zb.hs")).as("nb"))
      .select(col("id_1"), col("id_2"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common"))).as("jaccard"))
  }

  /** All-pairs Jaccard over shingle sets, bucket form: pairs sharing
    * >= 1 (non-heavy) shingle get their common count from
    * [[commonCountsFromBuckets]], then sizes join in. Use when
    * candidates ARE "pairs sharing a shingle" — no separate verify
    * pass needed. Sizes stay uncapped (full |A|, |B|): when the df
    * cap engages, a boilerplate shingle stops generating pairs but
    * still counts toward set size, so jaccard is under- (never over-)
    * estimated for boilerplate-heavy docs — the conservative
    * direction for dedup.
    */
  def jaccardAllPairs(shingles: DataFrame, id: String,
      maxDf: Int = 10000, sizesNarrow: Option[DataFrame] = None,
      thresholdPct: Int = 0): DataFrame = {
    // callers that derive shingles from a doc table pass the
    // zero-shuffle [[ngramShingleSizes]] projection; the groupBy
    // fallback keeps the op usable over an arbitrary shingle stream
    val sizes = sizesNarrow.getOrElse(
      shingles.groupBy(col(id)).agg(count(lit(1)).as("n")))
    val counted = commonCountsFromBuckets(shingles, id, maxDf)
      .join(sizes.as("za"), col("id_1") === col(s"za.$id"))
      .join(sizes.as("zb"), col("id_2") === col(s"zb.$id"))
    thresholded(counted, col("za.n") + col("zb.n") - col("n_common"),
      thresholdPct)
      .select(col("id_1"), col("id_2"),
        (col("n_common").cast("double") /
          (col("za.n") + col("zb.n") - col("n_common"))).as("jaccard"))
  }

  /** All-pairs asymmetric containment over shingle sets, same bucket
    * shape as [[jaccardAllPairs]]: c_1in2 = |A∩B|/|A|
    * detects doc 1 CONTAINED in doc 2 (quotation, boilerplate wrap,
    * partial scrape) even when symmetric Jaccard is low because the
    * container is much larger — the subset-dup case Jaccard misses.
    */
  def containmentAllPairs(shingles: DataFrame, id: String,
      maxDf: Int = 10000, sizesNarrow: Option[DataFrame] = None,
      minMaxContainmentPct: Int = 0): DataFrame = {
    val sizes = sizesNarrow.getOrElse(
      shingles.groupBy(col(id)).agg(count(lit(1)).as("n")))
    val counted = commonCountsFromBuckets(shingles, id, maxDf)
      .join(sizes.as("za"), col("id_1") === col(s"za.$id"))
      .join(sizes.as("zb"), col("id_2") === col(s"zb.$id"))
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

  /** Prefix-filtered candidate pairs for an EXACT high-threshold
    * similarity join (AllPairs, Bayardo et al., WWW'07): order every
    * doc's shingles by ascending document frequency (rarest first —
    * ties on the shingle string, a total order), keep only the first
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
    * arithmetic.
    */
  def prefixFilteredCandidates(shingles: DataFrame, id: String,
      tPct: Int, sizesNarrow: Option[DataFrame] = None): DataFrame = {
    require(tPct > 0 && tPct <= 100, s"tPct out of range: $tPct")
    val docFreq = shingles.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val sizes = sizesNarrow.getOrElse(
      shingles.groupBy(col(id)).agg(count(lit(1)).as("n")))
    val wDoc = Window.partitionBy(col(id)).orderBy(col("df"), col("sh"))
    val prefix = shingles
      .join(docFreq, "sh")
      .withColumn("rk", row_number().over(wDoc))
      .join(sizes, id)
      .filter(col("rk") <=
        col("n") - expr(s"(($tPct * n) + 99) div 100") + 1)
      .select(col(id), col("sh"))
    prefix.groupBy(col("sh")).agg(sort_array(collect_list(col(id))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(graft.expressions.ArrayPairs
        .array_pairs(col("ids")).as(Seq("id_1", "id_2")))
      .distinct()
  }

  /** [[prefixFilteredCandidates]] over the per-doc portable-hash
    * arrays of [[ngramPortableHashArrays]]. The AllPairs theorem
    * holds under ANY global total order, so (df, hash) replaces
    * (df, sh) as the tie-break — the candidate SET may differ, the
    * verified qualifying set cannot (DedupSpec proves it) — and the
    * whole prefix pipeline moves from 25-byte shingle strings to
    * 8-byte longs with zero additional md5 passes.
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
    *    prefixFilteredCandidates]], exact by the prefix theorem) +
    *    hashed-set verify with the size-ratio prune at tPct. At
    *    t=0.8 only each doc's rarest ~20% of shingles enter buckets,
    *    so the candidate stream shrinks ~(1-t)^2 — the d29 discipline
    *    composed into the edge stage.
    *  - below 60: full df-capped buckets ([[jaccardAllPairs]]) — at
    *    low thresholds prefixes degenerate (t=0.1 keeps 90% of
    *    shingles) and the bucket join with the df cap is the right
    *    shape.
    *
    * Both paths take per-doc sizes from the zero-shuffle
    * [[ngramShingleSizes]] projection rather than a groupBy over the
    * shingle stream. The 60 crossover: prefix length is
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
        val harr = Materialize(
          ngramPortableHashArrays(docTable, id, text, n)
            .filter(size(col("hs")) > 0))
        jaccardVerifyHashArrays(
          prefixFilteredCandidatesHashed(harr, id, tPct), harr, id,
          minJaccardPct = tPct, thresholdPct = tPct)
      } else
        // bucket path: kernel-hashed shingles (no string allocs)
        jaccardAllPairs(ngramShingleHashes(docTable, id, text, n), id,
          maxDf, Some(ngramShingleHashSizes(docTable, id, text, n)),
          thresholdPct = tPct)
    pairs.select(col("id_1").as("u"), col("id_2").as("v"))
  }

  /** Common-shingle counts per doc pair via shingle BUCKETS, with a
    * built-in document-frequency cap.
    *
    * One shuffle (groupBy sh) collects each shingle's doc list; pairs
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
  def commonCountsFromBuckets(shingles: DataFrame, id: String,
      maxDf: Int): DataFrame = {
    // bucket key is xxhash64(sh), not the shingle string: the key
    // never reaches a result (buckets exist only to pair ids), so the
    // engine-portable hash discipline doesn't apply, and shuffling 8
    // fixed bytes per row instead of a 20-40 byte string shrinks the
    // family's largest exchange. A cross-doc collision would merge
    // two buckets and over-count one pair by 1 — probability
    // ~ S^2/2^64 for S distinct shingles, the same accepted risk as
    // the hashed-set verify path. A stream from
    // [[ngramShingleHashes]] arrives pre-hashed (`shh`) and skips
    // the hash here too.
    val key =
      if (shingles.columns.contains("shh")) col("shh")
      else xxhash64(col("sh"))
    val buckets = shingles.groupBy(key.as("shh"))
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
