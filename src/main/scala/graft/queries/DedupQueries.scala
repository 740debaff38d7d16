package graft.queries

import graft.Tables
import graft.ops.{Dedup, Materialize, ScalarQuant, Similarity, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication + similarity-search suite — the training-data
  * pipeline operators (exact / bag-of-words / MinHash-LSH / SimHash /
  * n-gram-Jaccard dedup on `documents`; brute-force and IVF-bucketed
  * cosine top-k on `embeddings`).
  *
  * The production near-dup paths run UNCAPPED on the full corpus:
  * d04 (MinHash-LSH) and d07 (banded SimHash) bound candidate
  * generation by bucket structure alone — pairs only form inside an
  * LSH band bucket / an identical-band-key bucket — which is the
  * shape that survives 100 TB. Only the explicitly-labeled
  * brute-force baselines (d08 all-pairs cosine at `vec_id < 500`,
  * and d09's exhaustive scoring) keep a cap: they exist to calibrate
  * recall of the bucketed variants (d22), not to run at scale.
  */
object DedupQueries extends Suite {

  /** MinHash signature length and band shape, tuned so the LSH
    * S-curve matches the 0.9 verify filter: 8 bands x 8 rows gives a
    * candidate-probability midpoint (1/b)^(1/r) = (1/8)^(1/8) ~ 0.77,
    * so P(candidate) ~ 99% at j=0.9 but only ~3% at j=0.5. The old
    * K=8/r=2 shape (midpoint ~0.5) passed 99.9% false candidates to
    * the verify join — harmless at 5k docs, but candidate volume IS
    * the job at 10^9 docs. Public because d13 (Extras) shares d03's
    * oracle and so its signature width.
    */
  val MinhashK = 64
  val MinhashRowsPerBand = 8 // → 8 bands

  private val K = MinhashK
  private val RowsPerBand = MinhashRowsPerBand
  /** The EXPLICIT small-corpus SimHash width: d06/d07 gate the
    * 32-bit fingerprint form, which is output-quadratic past ~10^5
    * docs (r14 slope run: 14.6x on 3x data) — every scale consumer
    * takes the 60-bit default ([[graft.ops.Dedup.DefaultSimBits]],
    * gated by d39) and a caller wanting 32 bits must name this
    * constant. */
  private val SmallCorpusSimBits = 32

  /** The corpus bound that keeps [[SmallCorpusSimBits]]'s CONTRACT
    * valid in d07's own data (r15 verdict item 3): a 32-bit/
    * hamming<=6 near-dup threshold admits ~2.8e-4 of ALL pairs by
    * chance, so its OUTPUT (and any correct algorithm computing it —
    * Omega(output)) goes quadratic past ~10^5 docs; 2e4 docs keep
    * the by-chance pair count at ~56k (2.8e-4 * C(2e4,2)), small
    * against the banded join's linear corpus passes. d07 filters its
    * corpus to this bound in ENGINE AND ORACLE alike — the gate's
    * data now carries the contract instead of relying on test
    * corpora staying small (all three driver SFs are <= 5000 docs,
    * so gated results are unchanged; the engine-scale slope corpora
    * are where the cap binds). Corpora past the bound use d39's
    * 60-bit default or d40's 120-bit rung, where the threshold
    * admits true near-dups only. */
  private val SimBits32CorpusCap = 20000

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
  private def embs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")

  // ---- shared oracle SQL fragments -------------------------------

  /** Portable 60-bit hash of an expression (mirror of
    * Text.portableHash). One definition repo-wide:
    * [[OracleFragments.hash60]]. */
  private def hSqlPlain(e: String): String = OracleFragments.hash60(e)

  /** Distinct word shingles per doc (mirror of the n=1
    * [[Dedup.ngramPortableHashArrays]] sets d03 signs). */
  private def wordShinglesSql(src: String): String =
    s"""ws AS (
       |  SELECT DISTINCT doc_id, w AS sh FROM (
       |    SELECT doc_id, unnest(string_split(text,' ')) AS w FROM $src)
       |  WHERE len(w) > 0)""".stripMargin
  private val WordShinglesSql = wordShinglesSql("documents")

  /** Distinct word-3-gram shingles per doc (the string form of the
    * n=3 hash-array shinglers — same fragment as d05's oracle).
    * The near-dup pipelines shingle on 3-grams, not single words: the
    * synthetic corpus has a ~31-word vocabulary, so unigram shingle
    * sets of RANDOM doc pairs overlap at jaccard ~0.6+ and candidate
    * volume is O(all pairs) under any banding; the 31^3 3-gram space
    * puts random-pair jaccard near 0 while true near-dups stay >= 0.9
    * (the standard shingle-size argument, MMDS ch. 3.2).
    */
  private def ngram3ShinglesSql(src: String): String =
    s"""w AS (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
       |    word
       |  FROM (
       |    SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
       |           unnest(string_split(text,' ')) AS word
       |    FROM $src)
       |  WHERE len(word) > 0),
       |ws AS (
       |  SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS sh
       |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |           JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)"""
      .stripMargin

  /** Mirror of Dedup.minhashSignatures' affine universal-hash family:
    * g_i = (c_i * h + d_i) mod p, h = portable 60-bit hash mod p, with
    * the same deterministic coefficients (Dedup.minhashCoeffs) inlined
    * as literals. All values < 2^31 so c_i * h < 2^62 — exact BIGINT
    * in DuckDB (whose overflow is an error, not a wrap).
    */
  private def sigSelect(src: String): String = {
    val p = graft.ops.Dedup.MinhashPrime
    val coeffs = graft.ops.Dedup.minhashCoeffs(K)
    val cols = coeffs.zipWithIndex
      .map { case ((c, dd), i) => s"MIN((h * $c + $dd) % $p) AS sig_$i" }
      .mkString(",\n    ")
    s"""sigs AS (
       |  SELECT doc_id,
       |    $cols
       |  FROM (SELECT doc_id,
       |          CAST('0x' || substr(md5(sh),1,15) AS BIGINT) % $p AS h
       |        FROM $src)
       |  GROUP BY doc_id)""".stripMargin
  }

  private val BandsSql: String = {
    val bands = (0 until K / RowsPerBand).map { b =>
      val parts = (0 until RowsPerBand)
        .map(r => s"sig_${b * RowsPerBand + r}::VARCHAR")
        .mkString(" || '#' || ")
      s"SELECT doc_id, $b AS band_id, md5($parts) AS band_hash FROM sigs"
    }
    "bands AS (\n  " + bands.mkString("\n  UNION ALL\n  ") + ")"
  }

  /** Cosine between two embedding columns, double-accumulated and
    * rounded to 6 (mirror of Similarity.cosine). */
  private[queries] def cosSql(a: String, b: String): String = {
    def n(t: String) =
      s"sqrt(list_sum(list_transform($t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""round(list_sum(list_transform(range(1, len($a.embedding)+1),
       |    i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))
       |  / (${n(a)} * ${n(b)}), 6)""".stripMargin
  }

  val qs: Seq[Q] = Seq(

    // D1: exact dedup — normalize, md5 fingerprint, hash-groupBy.
    Q("d01_dedup_exact",
      (s, d) => Dedup.exactGroups(docs(s, d), "doc_id", "text")
        .orderBy("fp"),
      Some("""SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp,
             |  MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
             |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin)),

    // D2: bag-of-words canonical-key dedup — catches permuted /
    // repeated-vocabulary duplicates in one linear pass.
    Q("d02_dedup_bow", (s, d) =>
      docs(s, d)
        .select(col("doc_id"), Dedup.bagOfWordsKey(col("text")).as("bow"))
        .groupBy("bow")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dupes"))
        .filter(col("n_dupes") >= 2)
        .orderBy("keep_id"),
      Some("""SELECT md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text,' '), w -> w <> ''))),' ')) AS bow,
             |  MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
             |FROM documents GROUP BY 1 HAVING COUNT(*) >= 2
             |ORDER BY keep_id""".stripMargin)),

    // D3: minhash signatures (K affine hashes over the portable hash
    // of each word shingle) — verifies the whole signature pipeline
    // per doc. Word shingles are the n=1 hash arrays; a doc with no
    // word has no array and, as in the oracle, no signature.
    Q("d03_minhash_sigs", (s, d) =>
      Dedup.minhashSignatures(
          Dedup.ngramPortableHashArrays(docs(s, d), "doc_id", "text", 1),
          "doc_id", K)
        .orderBy("doc_id"),
      Some(s"WITH $WordShinglesSql,\n${sigSelect("ws")}\n" +
        "SELECT * FROM sigs ORDER BY doc_id")),

    // D4: full MinHash+LSH near-dup detection: 3-gram shingles ->
    // signatures -> 8 bands of 8 -> bucket-join candidates ->
    // exact-Jaccard verify >= 0.9. (3-grams, not words: see
    // ngram3ShinglesSql — unigram sets over this corpus's ~31-word
    // vocabulary make random pairs near-dup candidates.)
    Q("d04_minhash_lsh_neardup", (s, d) => {
      val base = docs(s, d)
      // the per-doc sorted portable-hash set feeds FOUR consumers
      // (signatures, prune sizes, both verify sides) — materialize
      // once (see d12 note). One kernel pass builds it: no shingle
      // strings, one md5 per shingle TOTAL, and the signature agg /
      // hashed-set collect_list / size groupBy exchanges all
      // disappear (each was a full pass over the exploded stream).
      val harr = Materialize(
        Dedup.ngramPortableHashArrays(base, "doc_id", "text", 3))
      // exactly-once candidates: no global distinct over the 2.3x-
      // duplicated pair stream (see lshCandidatesOnce scaladoc)
      val cands = Dedup.lshCandidatesOnce(
        Dedup.minhashSignatures(harr, "doc_id", K), "doc_id", K, RowsPerBand)
      // raw jaccard, not round-6: the ratio of exact ints is
      // bit-identical across engines, while rounding can flip when a
      // rational lands exactly on a 1e-6 boundary (e.g. k/640)
      // minJaccardPct=90: exact size-bound prune before the shingle
      // arrays ever shuffle (necessary condition for the 0.9 filter).
      // Hashed-sets verify: two-pointer merge over sorted hash arrays
      // instead of the (pairs x shingles) explode shuffle (~10x at the
      // old loose banding; still wins now that the 8x8 S-curve keeps
      // candidate volume proportional to true near-dups).
      Dedup.jaccardVerifyHashArrays(cands, harr, "doc_id", minJaccardPct = 90)
        .filter(col("jaccard") >= 0.9)
        .orderBy("id_1", "id_2")
    },
      Some(s"""WITH ${ngram3ShinglesSql("documents")},
              |${sigSelect("ws")},
              |$BandsSql,
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
              |  FROM bands a JOIN bands b
              |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
              |   AND a.doc_id < b.doc_id),
              |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
              |common AS (
              |  SELECT id_1, id_2, COUNT(*) AS n_common
              |  FROM cand JOIN ws sa ON sa.doc_id = id_1
              |            JOIN ws sb ON sb.doc_id = id_2 AND sa.sh = sb.sh
              |  GROUP BY id_1, id_2)
              |SELECT id_1, id_2,
              |  CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) AS jaccard
              |FROM common JOIN sizes za ON za.doc_id = id_1
              |            JOIN sizes zb ON zb.doc_id = id_2
              |WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= 0.9
              |ORDER BY id_1, id_2""".stripMargin)),

    // D5: n-gram (3-shingle) Jaccard near-dup — candidate pairs share
    // at least one shingle; exact Jaccard >= 0.1 reported.
    Q("d05_ngram_jaccard", (s, d) => {
      // bucket form with built-in df cap 10_000: pair generation is
      // quadratic per shared shingle, so one boilerplate shingle
      // across 10^6 docs would be a scale-killer. The cap is a no-op
      // on testdata (max observed df 25 at sf0.1); drops are logged
      // via observed metric. (The candidates-then-reverify form
      // re-joins the shingle table twice more — measured 5x slower.)
      // Shingles enter as kernel-built xxhash arrays: buckets key on
      // the hash anyway, sizes are size(hs), and no shingle string is
      // ever allocated
      val harr = Dedup.ngramShingleHashes(docs(s, d), "doc_id", "text", 3)
      // thresholdPct: the >= 0.1 gate in exact integer space inside
      // the op (same row set — see Dedup.thresholded); the output
      // jaccard doubles are computed only for survivors
      Dedup.jaccardAllPairs(harr, "doc_id", thresholdPct = 10)
        .orderBy("id_1", "id_2")
    },
      Some(s"""WITH ${ngram3ShinglesSql("documents")},
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
             |  FROM ws a JOIN ws b ON a.sh = b.sh AND a.doc_id < b.doc_id),
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
             |common AS (
             |  SELECT id_1, id_2, COUNT(*) AS n_common
             |  FROM cand JOIN ws sa ON sa.doc_id = id_1
             |            JOIN ws sb ON sb.doc_id = id_2 AND sa.sh = sb.sh
             |  GROUP BY id_1, id_2)
             |SELECT id_1, id_2,
             |  CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) AS jaccard
             |FROM common JOIN sizes za ON za.doc_id = id_1
             |            JOIN sizes zb ON zb.doc_id = id_2
             |WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= 0.1
             |ORDER BY id_1, id_2""".stripMargin)),

    // D6: SimHash fingerprints (32-bit) over token occurrences.
    Q("d06_simhash_fp", (s, d) =>
      Dedup.simhash(Text.words(docs(s, d), "doc_id", "text"), "doc_id",
        SmallCorpusSimBits)
        .orderBy("doc_id"),
      Some {
        val bitSums = OracleFragments.simhashBitSums(
          SmallCorpusSimBits, "word")
        val fp = OracleFragments.simhashFold(SmallCorpusSimBits)
        s"""WITH w AS (
           |  SELECT doc_id, word FROM (
           |    SELECT doc_id, unnest(string_split(text,' ')) AS word
           |    FROM documents) WHERE len(word) > 0),
           |bits AS (
           |  SELECT doc_id,
           |    $bitSums
           |  FROM w GROUP BY doc_id)
           |SELECT doc_id, CAST($fp AS BIGINT) AS simhash
           |FROM bits ORDER BY doc_id""".stripMargin
      }),

    // D7: SimHash near-dup pairs — hamming distance <= 6 of 32 bits,
    // corpus-capped at SimBits32CorpusCap: 7-band pigeonhole
    // candidates (an equi-join; any pair within hamming 6 agrees
    // exactly on >= 1 of 7 disjoint bands) + exact hamming verify.
    // Identical result to the all-pairs form, without its O(n^2)
    // theta join. The fingerprint table feeds both sides of the band
    // join — materialize once. The cap is the 32-bit CONTRACT made
    // explicit in the gate's data (see SimBits32CorpusCap): past
    // ~10^5 docs the threshold's OUTPUT goes quadratic regardless of
    // algorithm — d39/d40 below are the same operator at the scale
    // bit-widths.
    Q("d07_simhash_neardup", (s, d) => {
      // fingerprints come from the simhash_fp kernel — one narrow
      // scan over the word arrays (per-word md5s ride the thread
      // memo) instead of the 64-column +/-1 bit-sum aggregate over
      // the 2.7M-row word explode; values are identical (spec).
      // Zero-word docs are filtered to mirror their absence from the
      // exploded groupBy.
      val fp = Materialize(docs(s, d)
        .filter(col("doc_id") < SimBits32CorpusCap)
        .select(col("doc_id"), filter(split(col("text"), " "),
          w => length(w) > 0).as("__w"))
        .filter(size(col("__w")) > 0)
        .select(col("doc_id"), graft.expressions.GraftFunctions
          .simhash_fp(col("__w"), SmallCorpusSimBits).as("simhash")))
      Dedup.simhashPairsBanded(fp, "doc_id", 6, SmallCorpusSimBits)
        .orderBy("id_1", "id_2")
    },
      Some {
        val bitSums = OracleFragments.simhashBitSums(
          SmallCorpusSimBits, "word")
        val fp = OracleFragments.simhashFold(SmallCorpusSimBits)
        s"""WITH w AS (
           |  SELECT doc_id, word FROM (
           |    SELECT doc_id, unnest(string_split(text,' ')) AS word
           |    FROM documents WHERE doc_id < $SimBits32CorpusCap)
           |  WHERE len(word) > 0),
           |bits AS (SELECT doc_id, $bitSums FROM w GROUP BY doc_id),
           |fp AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bits)
           |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           |  bit_count(xor(a.simhash, b.simhash)) AS hamming
           |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
           |ORDER BY id_1, id_2""".stripMargin
      }),

    // D39: SimHash near-dup at the SCALE bit-width. d07's committed
    // 32-bit/hamming<=6 contract is OUTPUT-quadratic past ~10^5 docs:
    // C(32,<=6)/2^32 ~ 2.8e-4 of ALL pairs land inside the threshold
    // by chance (measured on the slope corpora: 804k pairs from 50k
    // docs, ~7M from 150k — the sf3 point where d07's time went
    // superlinear for exactly this reason; any correct algorithm is
    // Omega(output) there). At 60 bits — the full portable word hash
    // both engines already share — the chance rate is C(60,<=6)/2^60
    // ~ 5e-11, so the output is true near-dups only, AND the same
    // 7-band pigeonhole join gets 8-9-bit band keys (16x fewer
    // enumerated candidates than 32-bit's 4-5-bit bands). Same
    // kernel, same banding operator, same exactness guarantee
    // (hamming<=6 implies >= 1 of 7 disjoint bands identical).
    // Width stays the scale knob: a 10^9-doc corpus raises it again
    // (two-long 128-bit fps, same construction).
    Q("d39_simhash60_neardup", (s, d) => {
      val fp = Materialize(docs(s, d)
        .select(col("doc_id"), filter(split(col("text"), " "),
          w => length(w) > 0).as("__w"))
        .filter(size(col("__w")) > 0)
        .select(col("doc_id"), graft.expressions.GraftFunctions
          .simhash_fp(col("__w")).as("simhash"))) // default width = 60
      Dedup.simhashPairsBanded(fp, "doc_id", 6)
        .orderBy("id_1", "id_2")
    },
      Some {
        val W = graft.expressions.GraftFunctions.SimhashDefaultBits
        val bitSums = OracleFragments.simhashBitSums(W, "word")
        val fp = OracleFragments.simhashFold(W)
        s"""WITH w AS (
           |  SELECT doc_id, word FROM (
           |    SELECT doc_id, unnest(string_split(text,' ')) AS word
           |    FROM documents) WHERE len(word) > 0),
           |bits AS (SELECT doc_id, $bitSums FROM w GROUP BY doc_id),
           |fp AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bits)
           |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           |  bit_count(xor(a.simhash, b.simhash)) AS hamming
           |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
           |ORDER BY id_1, id_2""".stripMargin
      }),

    // D40: SimHash near-dup at the BEYOND-10^9-doc width rung — the
    // two-long 120-bit fingerprint the d39 scaladoc promised in
    // prose, now in code: word-hash bits 0-59 (the same md5 prefix
    // d39 uses) drive the LO word, bits 60-119 (the md5's NEXT 15 hex
    // chars) the HI word, and the 7-band pigeonhole join runs over
    // the concatenated 120-bit string (bands ~17 bits wide — by-chance
    // admit rate C(120,<=6)/2^120 ~ 2.9e-27, and band buckets are
    // 2^17-sparse). Same kernel construction (ExpressionsSpec pins the LO
    // word bit-identical to the 60-bit fingerprint), same banding
    // operator shape, same exactness guarantee.
    Q("d40_simhash120_neardup", (s, d) => {
      val fp = Materialize(docs(s, d)
        .select(col("doc_id"), filter(split(col("text"), " "),
          w => length(w) > 0).as("__w"))
        .filter(size(col("__w")) > 0)
        .select(col("doc_id"), graft.expressions.GraftFunctions
          .simhash_fp2(col("__w")).as("fp2"))
        .select(col("doc_id"),
          col("fp2").getItem(0).as("simhash_lo"),
          col("fp2").getItem(1).as("simhash_hi")))
      Dedup.simhashPairsBanded2(fp, "doc_id", 6)
        .orderBy("id_1", "id_2")
    },
      Some {
        val W = graft.expressions.GraftFunctions.SimhashDefaultBits
        val bitSumsLo = OracleFragments.simhashBitSums(W, "word")
        val bitSumsHi = OracleFragments.simhashBitSums(W, "word",
          pfx = "c", hi = true)
        val fpLo = OracleFragments.simhashFold(W)
        val fpHi = OracleFragments.simhashFold(W, pfx = "c")
        s"""WITH w AS (
           |  SELECT doc_id, word FROM (
           |    SELECT doc_id, unnest(string_split(text,' ')) AS word
           |    FROM documents) WHERE len(word) > 0),
           |bits AS (SELECT doc_id, $bitSumsLo,
           |    $bitSumsHi
           |  FROM w GROUP BY doc_id),
           |fp AS (SELECT doc_id, CAST($fpLo AS BIGINT) AS lo,
           |    CAST($fpHi AS BIGINT) AS hi FROM bits)
           |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           |  bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
           |    AS hamming
           |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 6
           |ORDER BY id_1, id_2""".stripMargin
      }),

    // D8: embedding cosine near-dup pairs (brute force within cap).
    // Cap 500 (= the whole corpus at sf0.01, a quarter of the former
    // 1000-cap work at sf0.1): the baseline only exists to calibrate
    // d04/d10/d11 recall, and 125k pairs calibrate as well as 500k.
    Q("d08_embed_neardup", (s, d) => {
      val e = embs(s, d).filter(col("vec_id") < 500)
        .select("vec_id", "embedding")
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos",
          Similarity.cosine(col("a.embedding"), col("b.embedding")))
        .filter(col("cos") >= 0.45)
        .select(col("a.vec_id").as("id_1"), col("b.vec_id").as("id_2"),
          col("cos"))
        .orderBy("id_1", "id_2")
    },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500)
              |SELECT a.vec_id AS id_1, b.vec_id AS id_2,
              |  ${cosSql("a", "b")} AS cos
              |FROM e a JOIN e b ON a.vec_id < b.vec_id
              |WHERE ${cosSql("a", "b")} >= 0.45
              |ORDER BY id_1, id_2""".stripMargin)),

    // D9: brute-force cosine top-k — the ANN baseline. Query set is
    // broadcast against the corpus; rank on the rounded cosine so
    // ordering is engine-deterministic.
    Q("d09_knn_bruteforce", (s, d) => {
      val e = embs(s, d).select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"), col("cos"))
        .orderBy("q_id", "rnk")
    },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < 10),
              |scored AS (
              |  SELECT q.q_id, e.vec_id AS n_id, ${cosSql("q", "e")} AS cos
              |  FROM q, embeddings e WHERE e.vec_id <> q.q_id),
              |ranked AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |    ORDER BY cos DESC, n_id) AS rnk FROM scored)
              |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= 10
              |ORDER BY q_id, rnk""".stripMargin)),

    // D10: IVF-bucketed ANN — assign every vector to its nearest seed
    // centroid (broadcast), search only the query's bucket. The scale
    // path: cost drops by the centroid count, recall is approximate.
    Q("d10_knn_ivf", (s, d) => {
      val e = embs(s, d).select("vec_id", "embedding")
      val cents = e.filter(col("vec_id").isin(0, 101, 202, 303))
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val wAsg = Window.partitionBy("vec_id").orderBy(desc("ccos"), col("cid"))
      val asg = e.crossJoin(broadcast(cents))
        .withColumn("ccos", Similarity.cosine(col("embedding"), col("cvec")))
        .withColumn("arn", row_number().over(wAsg))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("cid"), col("embedding"))
      val q = asg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("cid").as("q_cid"),
          col("embedding").as("q_emb"))
      val wK = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
      asg.join(broadcast(q),
          col("cid") === col("q_cid") && col("vec_id") =!= col("q_id"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
        .withColumn("rnk", row_number().over(wK))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"), col("cos"))
        .orderBy("q_id", "rnk")
    },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
              |cents AS (SELECT vec_id AS cid, embedding FROM embeddings
              |          WHERE vec_id IN (0, 101, 202, 303)),
              |scored_c AS (
              |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS ccos
              |  FROM e, cents c),
              |asg AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY ccos DESC, cid) AS arn FROM scored_c)
              |  WHERE arn = 1),
              |q AS (
              |  SELECT a.vec_id AS q_id, a.cid AS q_cid, e.embedding
              |  FROM asg a JOIN e ON e.vec_id = a.vec_id WHERE a.vec_id < 10),
              |scored AS (
              |  SELECT q.q_id, e.vec_id AS n_id, ${cosSql("q", "e")} AS cos
              |  FROM q JOIN asg a ON a.cid = q.q_cid AND a.vec_id <> q.q_id
              |         JOIN e ON e.vec_id = a.vec_id),
              |ranked AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |    ORDER BY cos DESC, n_id) AS rnk FROM scored)
              |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin)),

    // D16: IVF with nprobe=2 — each query searches its TWO nearest
    // centroid buckets (the standard recall knob: cost scales with
    // nprobe/#centroids; buckets are disjoint so the union needs no
    // dedup). Same plan shape as d10, one extra probe row per query.
    Q("d16_knn_ivf_nprobe", (s, d) => {
      val e = embs(s, d).select("vec_id", "embedding")
      val cents = e.filter(col("vec_id").isin(0, 101, 202, 303))
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val wAsg = Window.partitionBy("vec_id").orderBy(desc("ccos"), col("cid"))
      val scoredC = e.crossJoin(broadcast(cents))
        .withColumn("ccos", Similarity.cosine(col("embedding"), col("cvec")))
        .withColumn("arn", row_number().over(wAsg))
      val asg = scoredC.filter(col("arn") === 1)
        .select(col("vec_id"), col("cid"), col("embedding"))
      val probes = scoredC.filter(col("vec_id") < 10 && col("arn") <= 2)
        .select(col("vec_id").as("q_id"), col("cid").as("q_cid"),
          col("embedding").as("q_emb"))
      val wK = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
      asg.join(broadcast(probes),
          col("cid") === col("q_cid") && col("vec_id") =!= col("q_id"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
        .withColumn("rnk", row_number().over(wK))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"), col("cos"))
        .orderBy("q_id", "rnk")
    },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
              |cents AS (SELECT vec_id AS cid, embedding FROM embeddings
              |          WHERE vec_id IN (0, 101, 202, 303)),
              |scored_c AS (
              |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS ccos
              |  FROM e, cents c),
              |ranked_c AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              |    ORDER BY ccos DESC, cid) AS arn FROM scored_c),
              |asg AS (SELECT vec_id, cid FROM ranked_c WHERE arn = 1),
              |probes AS (
              |  SELECT vec_id AS q_id, cid AS q_cid FROM ranked_c
              |  WHERE arn <= 2 AND vec_id < 10),
              |q AS (
              |  SELECT p.q_id, p.q_cid, e.embedding
              |  FROM probes p JOIN e ON e.vec_id = p.q_id),
              |scored AS (
              |  SELECT q.q_id, e.vec_id AS n_id, ${cosSql("q", "e")} AS cos
              |  FROM q JOIN asg a ON a.cid = q.q_cid AND a.vec_id <> q.q_id
              |         JOIN e ON e.vec_id = a.vec_id),
              |ranked AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |    ORDER BY cos DESC, n_id) AS rnk FROM scored)
              |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin)),

    // D11: random-hyperplane LSH ANN — sign bits of 4 deterministic
    // integer hyperplane dots bucket the corpus (16 buckets); search
    // only the query's bucket. Planes broadcast; vector components
    // quantized to exact integers so buckets are engine-identical.
    Q("d11_knn_rplsh", (s, d) => {
      import s.implicits._
      val planes = Similarity.rpPlanes(4, 64).toDF("pid", "dim", "w")
      val e = embs(s, d).select("vec_id", "embedding")
      val buckets = e
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos0", "v")))
        .withColumn("dim", col("pos0") + 1)
        .withColumn("qv", round(col("v").cast("double") * 1000000, 0).cast("long"))
        .join(broadcast(planes), "dim")
        .groupBy("vec_id", "pid")
        .agg(sum(col("qv") * col("w")).as("dot"))
        .groupBy("vec_id")
        .agg(sum(when(col("dot") >= 0, expr("shiftleft(1, pid)"))
          .otherwise(0L)).as("bucket"))
      val withB = e.join(buckets, "vec_id")
      val q = withB.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("bucket").as("q_bucket"),
          col("embedding").as("q_emb"))
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
      withB.join(broadcast(q),
          col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"), col("cos"))
        .orderBy("q_id", "rnk")
    },
      Some {
        val planeValues = Similarity.rpPlanes(4, 64)
          .map { case (j, dim, w) => s"($j,$dim,$w)" }.mkString(", ")
        s"""WITH planes(pid, dim, w) AS (VALUES $planeValues),
           |ev AS (
           |  SELECT vec_id, generate_subscripts(embedding,1) AS dim,
           |         unnest(embedding) AS v
           |  FROM embeddings),
           |qv AS (
           |  SELECT vec_id, dim,
           |    CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
           |  FROM ev),
           |dots AS (
           |  SELECT vec_id, pid, CAST(SUM(qv * w) AS BIGINT) AS dot
           |  FROM qv JOIN planes USING (dim) GROUP BY vec_id, pid),
           |buckets AS (
           |  SELECT vec_id,
           |    CAST(SUM(CASE WHEN dot >= 0 THEN (1 << pid) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM dots GROUP BY vec_id),
           |e AS (SELECT b.vec_id, bucket, embedding
           |      FROM buckets b JOIN embeddings em ON em.vec_id = b.vec_id),
           |q AS (SELECT vec_id AS q_id, bucket AS q_bucket, embedding
           |      FROM e WHERE vec_id < 10),
           |scored AS (
           |  SELECT q.q_id, e.vec_id AS n_id, ${cosSql("q", "e")} AS cos
           |  FROM q JOIN e ON e.bucket = q.q_bucket AND e.vec_id <> q.q_id),
           |ranked AS (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
           |    ORDER BY cos DESC, n_id) AS rnk FROM scored)
           |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= 5
           |ORDER BY q_id, rnk""".stripMargin
      }),

    // D12: duplicate-GROUP clustering — connected components of the
    // n-gram near-dup graph by large-star/small-star contraction
    // (ops/StarCC, Kiveris SoCC'14). Min-label propagation needs
    // graph-DIAMETER rounds (the r8 form ran 5, exact only for
    // components of diameter <= 5 — boilerplate dup chains at 100 TB
    // exceed that routinely); star contraction halves component
    // heights per alternation, so 4 rounds resolve chains past depth
    // 16 (StarCCSpec) and tens of rounds cover any real corpus. Each
    // round is the same two shuffle-partitionable primitives (node-
    // keyed min aggregate + node-keyed join) on an edge set that
    // SHRINKS toward |V| as stars collapse — unlike propagation,
    // whose per-round cost stays at |E| forever. Fixed-round
    // determinism: every emitted edge is a pure function of the
    // round's input (min over neighborhoods, no ties on distinct
    // ids), so the oracle replays the identical rounds bit-exactly,
    // converged or not — same discipline as g01/g03.
    Q("d12_dup_groups", (s, d) => {
      // full corpus: edges come from the SHARED edge stage
      // (Dedup.dupEdges) — at d12's default t=0.1 that is the
      // df-capped bucketed shingle join (quadratic only within a
      // bounded bucket, same scale shape as d05/d20) with per-doc
      // sizes from the zero-shuffle narrow projection; a t >= 0.6 run
      // of the same stage switches to the exact AllPairs prefix path
      // (d29's discipline), where only each doc's rarest shingles
      // enter buckets. The star rounds are one linear pipeline (every
      // stage single-consumer), so the whole query is one job with no
      // materialization barrier.
      val base = docs(s, d)
      val edges = Dedup.dupEdges(base, "doc_id", "text", 3, tPct = 10)
      // edges are distinct by construction (pair-keyed aggregate);
      // dedupEvery=2 drops one inert exchange per skipped round —
      // sound here because the thresholded edge set is tiny relative
      // to the corpus, so a x16 transient between dedups stays far
      // below the shingle stream the query already shuffled
      val roots = graft.ops.StarCC.components(edges, rounds = 4,
        distinctInput = false, dedupEvery = 2)
      base.select("doc_id")
        .join(roots, col("doc_id") === col("node"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("root"), col("doc_id")).as("group_id"))
        .orderBy("doc_id")
    },
      Some {
        s"""WITH docs_c AS (SELECT * FROM documents),
           |${ngram3ShinglesSql("docs_c")},
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
           |common AS (
           |  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
           |  FROM ws a JOIN ws b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id),
           |e0 AS MATERIALIZED (
           |  SELECT id_1 AS u, id_2 AS v FROM common
           |  JOIN sizes za ON za.doc_id = id_1
           |  JOIN sizes zb ON zb.doc_id = id_2
           |  WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= 0.1),
           |${StarSql.rounds(4)},
           |roots AS (
           |  SELECT GREATEST(u, v) AS node, MIN(LEAST(u, v)) AS root
           |  FROM e4 GROUP BY 1)
           |SELECT d2.doc_id, COALESCE(r.root, d2.doc_id) AS group_id
           |FROM docs_c d2 LEFT JOIN roots r ON d2.doc_id = r.node
           |ORDER BY doc_id""".stripMargin
      }),

    // D20: asymmetric containment |A∩B|/|A| over 3-gram shingles —
    // catches a short doc quoted/wrapped inside a longer one, where
    // symmetric Jaccard stays low because the container dominates the
    // union. Same one-self-join shape (and cost) as d05.
    Q("d20_containment", (s, d) => {
      // same bucket shape + df cap as d05 (no-op on testdata), same
      // kernel-hashed shingle arrays
      val harr = Dedup.ngramShingleHashes(docs(s, d), "doc_id", "text", 3)
      // minMaxContainmentPct: greatest(c_1in2, c_2in1) >= 0.5 as the
      // exact integer 2*n_common >= least(|A|,|B|) inside the op —
      // same row set, hot compare stays in codegen long space
      Dedup.containmentAllPairs(harr, "doc_id", minMaxContainmentPct = 50)
        .orderBy("id_1", "id_2")
    },
      Some(s"""WITH ${ngram3ShinglesSql("documents")},
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
             |common AS (
             |  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
             |  FROM ws a JOIN ws b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY a.doc_id, b.doc_id)
             |SELECT id_1, id_2, n_common,
             |  CAST(n_common AS DOUBLE) / za.n AS c_1in2,
             |  CAST(n_common AS DOUBLE) / zb.n AS c_2in1
             |FROM common JOIN sizes za ON za.doc_id = id_1
             |            JOIN sizes zb ON zb.doc_id = id_2
             |WHERE greatest(CAST(n_common AS DOUBLE) / za.n,
             |               CAST(n_common AS DOUBLE) / zb.n) >= 0.5
             |ORDER BY id_1, id_2""".stripMargin)),

    // D21: MinHash estimator quality — per candidate pair the
    // signature-agreement estimate (matching positions / K) next to
    // the exact Jaccard it approximates. E[est] = J is the identity
    // LSH relies on; emitting both makes the tradeoff auditable (even
    // at K=64 the estimate moves in 1/64 steps with stddev
    // ~sqrt(J(1-J)/64) ~ 0.04 near J=0.9 — why the exact verify pass
    // after banding is not optional at 0.9 thresholds). Runs d04's
    // hashed pipeline; the oracle keeps the string shingles and the
    // DISTINCT band join, so it checks that pipeline independently.
    Q("d21_minhash_est", (s, d) => {
      val base = docs(s, d).filter(col("doc_id") < 1000)
      // signatures, prune sizes and both verify sides read the arrays
      val harr = Materialize(
        Dedup.ngramPortableHashArrays(base, "doc_id", "text", 3))
      // three consumers (the band table, est join x2) — one row per
      // doc, materialize instead of re-running the signature kernel
      val sigs = Materialize(Dedup.minhashSignatures(harr, "doc_id", K))
      val cands = Dedup.lshCandidatesOnce(sigs, "doc_id", K, RowsPerBand)
      val nMatch = (0 until K).map(i =>
        when(col(s"a.sig_$i") === col(s"b.sig_$i"), 1).otherwise(0))
        .reduce(_ + _)
      val est = cands
        .join(sigs.as("a"), col("id_1") === col("a.doc_id"))
        .join(sigs.as("b"), col("id_2") === col("b.doc_id"))
        .select(col("id_1"), col("id_2"), nMatch.as("n_match"))
      Dedup.jaccardVerifyHashArrays(cands, harr, "doc_id",
          minJaccardPct = 90, thresholdPct = 90)
        .join(est, Seq("id_1", "id_2"))
        .select(col("id_1"), col("id_2"), col("n_match"),
          (col("n_match").cast("double") / K).as("est_jaccard"),
          col("jaccard").as("exact_jaccard"))
        .orderBy("id_1", "id_2")
    },
      Some {
        val matches = (0 until K)
          .map(i => s"CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH docs_c AS (SELECT * FROM documents WHERE doc_id < 1000),
           |${ngram3ShinglesSql("docs_c")},
           |${sigSelect("ws")},
           |$BandsSql,
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
           |common AS (
           |  SELECT id_1, id_2, COUNT(*) AS n_common
           |  FROM cand JOIN ws sa ON sa.doc_id = id_1
           |            JOIN ws sb ON sb.doc_id = id_2 AND sa.sh = sb.sh
           |  GROUP BY id_1, id_2),
           |est AS (
           |  SELECT c.id_1, c.id_2, $matches AS n_match
           |  FROM cand c JOIN sigs a ON c.id_1 = a.doc_id
           |              JOIN sigs b ON c.id_2 = b.doc_id)
           |SELECT common.id_1, common.id_2, n_match,
           |  CAST(n_match AS DOUBLE) / $K AS est_jaccard,
           |  CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common)
           |    AS exact_jaccard
           |FROM common JOIN sizes za ON za.doc_id = common.id_1
           |            JOIN sizes zb ON zb.doc_id = common.id_2
           |            JOIN est ON est.id_1 = common.id_1
           |                    AND est.id_2 = common.id_2
           |WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= 0.9
           |ORDER BY common.id_1, common.id_2""".stripMargin
      }),

    // D22: recall@5 of the IVF index against exact search, computed IN
    // the engine — the ANN quality metric. Both pipelines share the
    // corpus scan shapes of d09/d10; overlap is an equi-join on
    // (query, neighbor) and recall is exact integer percent. At scale
    // this is the continuous index-quality probe run on a sampled
    // query set after every index rebuild.
    Q("d22_knn_recall", (s, d) => {
      val K = 5
      val e = embs(s, d).select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wq = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
      val exact = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
        .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= K)
        .select(col("q_id"), col("vec_id").as("n_id"))
      val cents = e.filter(col("vec_id").isin(0, 101, 202, 303))
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val wAsg = Window.partitionBy("vec_id").orderBy(desc("ccos"), col("cid"))
      val asg = e.crossJoin(broadcast(cents))
        .withColumn("ccos", Similarity.cosine(col("embedding"), col("cvec")))
        .withColumn("arn", row_number().over(wAsg)).filter(col("arn") === 1)
        .select(col("vec_id"), col("cid"), col("embedding"))
      val qv = asg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("cid").as("q_cid"),
          col("embedding").as("q_emb"))
      val wk = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
      val ivf = asg.join(broadcast(qv),
          col("cid") === col("q_cid") && col("vec_id") =!= col("q_id"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
        .withColumn("rnk", row_number().over(wk)).filter(col("rnk") <= K)
        .select(col("q_id"), col("vec_id").as("n_id"))
      val hits = exact.join(ivf, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      q.select("q_id").join(hits, Seq("q_id"), "left_outer")
        .na.fill(0L, Seq("n_hit"))
        .withColumn("recall_pct", expr(s"n_hit * 100 div $K"))
        .orderBy("q_id")
    },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
              |q0 AS (SELECT vec_id AS q_id, embedding FROM embeddings
              |       WHERE vec_id < 10),
              |ex_scored AS (
              |  SELECT q.q_id, e.vec_id AS n_id, ${cosSql("q", "e")} AS cos
              |  FROM q0 q, e WHERE e.vec_id <> q.q_id),
              |ex AS (
              |  SELECT q_id, n_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, n_id) AS rnk FROM ex_scored)
              |  WHERE rnk <= 5),
              |cents AS (SELECT vec_id AS cid, embedding FROM embeddings
              |          WHERE vec_id IN (0, 101, 202, 303)),
              |scored_c AS (
              |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS ccos
              |  FROM e, cents c),
              |asg AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY ccos DESC, cid) AS arn FROM scored_c)
              |  WHERE arn = 1),
              |qv AS (
              |  SELECT a.vec_id AS q_id, a.cid AS q_cid, e.embedding
              |  FROM asg a JOIN e ON e.vec_id = a.vec_id WHERE a.vec_id < 10),
              |iv_scored AS (
              |  SELECT q.q_id, e.vec_id AS n_id, ${cosSql("q", "e")} AS cos
              |  FROM qv q JOIN asg a ON a.cid = q.q_cid AND a.vec_id <> q.q_id
              |            JOIN e ON e.vec_id = a.vec_id),
              |iv AS (
              |  SELECT q_id, n_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, n_id) AS rnk FROM iv_scored)
              |  WHERE rnk <= 5),
              |hits AS (
              |  SELECT ex.q_id, COUNT(*) AS n_hit
              |  FROM ex JOIN iv ON ex.q_id = iv.q_id AND ex.n_id = iv.n_id
              |  GROUP BY ex.q_id)
              |SELECT q0.q_id,
              |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
              |  CAST(COALESCE(n_hit, 0) * 100 // 5 AS BIGINT) AS recall_pct
              |FROM q0 LEFT JOIN hits ON q0.q_id = hits.q_id
              |ORDER BY q0.q_id""".stripMargin)),

    // D23: semantic dedup — cluster-bucketed embedding near-dup in the
    // style of SemDeDup (Abbas et al., arXiv:2303.09540): k-means-style
    // cluster assignment confines the quadratic cosine stage to
    // within-cluster pairs, then a doc is a semantic duplicate if an
    // earlier (lower-id) doc in ITS cluster is within the cosine
    // threshold. Centroids are every-61st vector, so K grows with the
    // corpus and expected cluster size stays bounded: the pair stage is
    // sum(|c|^2) ~ n*|c| work keyed by cluster id (hash-partitioned,
    // AQE-splittable on a hot cluster), never all-pairs. At 100 TB the
    // assignment pass is a broadcast of K centroids over one corpus
    // scan — the same IVF shape as d10/d22 — and dedup cost scales
    // linearly in n for fixed cluster size. The reference has no
    // embedding-level dedup; this is the LLM-pipeline extension.
    Q("d23_semdedup", (s, d) => {
      val Tau = 0.45
      val e = embs(s, d).select("vec_id", "embedding")
      // Assignment goes through the EXPLICIT k-switch in
      // ops/SemDedup.assignCos: at the gated scales (k = n/61 <=
      // MaxLiteralK) it is the argmax_cos kernel against a k-bounded
      // collected centroid matrix (one narrow pass, the m02/d31
      // lesson — identical round-6 cosines and the oracle's
      // ROW_NUMBER ORDER BY ccos DESC, cid tie-break); past the bound
      // the every-61st rule is abandoned for FIXED-k distributed
      // Lloyd centroids kept as a table with broadcast-join
      // struct-max assignment — never driver-collected, never a
      // codegen literal. See the SemDedup scaladoc for the regime
      // rule; SemDedupSpec gates both sides.
      val asg = graft.ops.SemDedup.assignCos(e)
      // One cid-keyed aggregation replaces the whole dup stage: the
      // cid self-join + cosine filter + distinct + left_outer count
      // materialized ~3.7M joined rows at sf1, each dragging two
      // ~260 B embedding copies. Here each cluster's members are
      // collected once (sorted by vec_id, so "earlier doc" is the
      // array prefix) and the semdedup_dups kernel runs the same
      // round-6 cosine scan in-place with an early break per member.
      // Hot-cluster skew lands one task per cluster — bounded on the
      // literal path by the every-61st centroid rule and on the
      // fixed-k path by AQE splitting the cid-keyed exchange.
      asg
        .groupBy(col("cid").as("cluster"))
        .agg(count(lit(1)).as("n_docs"),
          sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
            .as("mem"))
        .select(col("cluster"), col("n_docs"),
          size(graft.expressions.GraftFunctions.semdedup_dups(
            expr("transform(mem, x -> x.vec_id)"),
            flatten(expr("transform(mem, x -> x.embedding)")), Tau))
            .cast("long").as("n_dups"))
        .orderBy("cluster")
    },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
              |cents AS (SELECT vec_id AS cid, embedding FROM embeddings
              |          WHERE vec_id % 61 = 0),
              |scored AS (
              |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS ccos
              |  FROM e, cents c),
              |asg AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY ccos DESC, cid) AS arn FROM scored)
              |  WHERE arn = 1),
              |dups AS (
              |  SELECT DISTINCT a.vec_id
              |  FROM asg a JOIN asg b
              |    ON a.cid = b.cid AND b.vec_id < a.vec_id
              |  JOIN e ea ON ea.vec_id = a.vec_id
              |  JOIN e eb ON eb.vec_id = b.vec_id
              |  WHERE ${cosSql("ea", "eb")} >= 0.45)
              |SELECT asg.cid AS cluster,
              |  COUNT(*) AS n_docs,
              |  CAST(COALESCE(SUM(CASE WHEN dups.vec_id IS NOT NULL
              |    THEN 1 END), 0) AS BIGINT) AS n_dups
              |FROM asg LEFT JOIN dups ON asg.vec_id = dups.vec_id
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D26: SQ8 scalar-quantized ANN — the FAISS-SQ idea completing
    // the ANN family (d09 exact / d10+d16 IVF / d11 RP-LSH / d23
    // cluster-bucketed): 8-bit per-dim codes against corpus-wide
    // [min,max] ranges, integer L2 on the codes. 4x denser vectors
    // → 4x less scan bandwidth at 100 TB; encode is a narrow map
    // (the dims-row range aggregate broadcasts), search is the same
    // broadcast-query/one-corpus-scan plan as d09. All integer
    // arithmetic (1e6-floored inputs), so the oracle replays the
    // codes and distances bit-exactly. See ops/ScalarQuant.scala.
    Q("d26_knn_sq8", (s, d) => {
      val e = embs(s, d).select("vec_id", "embedding")
      val enc = ScalarQuant.encodeAll(e, "embedding")
        .select("vec_id", "code")
      val q = enc.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("code").as("q_code"))
      val wK = Window.partitionBy("q_id")
        .orderBy(asc("dist"), col("vec_id"))
      enc.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("dist",
          ScalarQuant.codeDist(col("q_code"), col("code")))
        .withColumn("rnk", row_number().over(wK))
        .filter(col("rnk") <= 10)
        .select(col("q_id"), col("vec_id").as("n_id"),
          col("rnk"), col("dist"))
        .orderBy("q_id", "rnk")
    },
      Some("""WITH x AS (
             |  SELECT vec_id, generate_subscripts(embedding,1) AS dim,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6)
             |      AS BIGINT) AS xi
             |  FROM embeddings),
             |r AS (SELECT dim, MIN(xi) AS mn, MAX(xi) AS mx
             |      FROM x GROUP BY 1),
             |c AS (
             |  SELECT vec_id, x.dim,
             |    CASE WHEN mx = mn THEN 0
             |         ELSE ((xi - mn) * 255) // (mx - mn) END AS code
             |  FROM x JOIN r ON x.dim = r.dim),
             |qd AS (SELECT vec_id AS q_id, dim, code AS q_code
             |       FROM c WHERE vec_id < 10),
             |sc AS (
             |  SELECT qd.q_id, c.vec_id AS n_id,
             |    CAST(SUM((q_code - code) * (q_code - code)) AS BIGINT)
             |      AS dist
             |  FROM qd JOIN c ON qd.dim = c.dim AND c.vec_id <> qd.q_id
             |  GROUP BY 1, 2),
             |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
             |         ORDER BY dist, n_id) AS rnk FROM sc)
             |SELECT q_id, n_id, rnk, dist FROM rk WHERE rnk <= 10
             |ORDER BY q_id, rnk""".stripMargin)),

    // D29: EXACT high-threshold similarity join via AllPairs prefix
    // filtering (Bayardo et al., WWW'07 — see
    // Dedup.prefixFilteredCandidatesHashed): only each doc's rarest ~20%
    // of shingles (df-ascending prefix at t=0.8) enter buckets, so
    // the pair stream shrinks ~(1-t)^2 while the result stays
    // provably complete. The oracle is the plain quadratic Jaccard
    // join — the result is algorithm-independent, which is exactly
    // why a sophisticated plan can sit behind a simple gate.
    // Completes the similarity-join triad: LSH (d04, approximate),
    // full buckets (d05/d12, low thresholds), prefix filter (d29,
    // exact high thresholds).
    Q("d29_allpairs_prefix", (s, d) => {
      // per-doc portable-hash arrays feed df, sizes, prefix, and
      // verify — one kernel pass, one md5 per shingle, 8-byte keys
      // through every prefix exchange; the (df, h) prefix order is
      // internal (the oracle is the brute-force join, and AllPairs
      // is exact under any total order)
      val harr = Materialize(
        Dedup.ngramPortableHashArrays(docs(s, d), "doc_id", "text", 3))
      val cands = Dedup.prefixFilteredCandidatesHashed(harr, "doc_id", 80)
      Dedup.jaccardVerifyHashArrays(cands, harr, "doc_id",
          minJaccardPct = 80)
        .filter(col("jaccard") >= 0.8)
        .orderBy("id_1", "id_2")
    },
      Some(s"""WITH ${ngram3ShinglesSql("documents")},
              |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
              |common AS (
              |  SELECT a.doc_id AS id_1, b.doc_id AS id_2,
              |    COUNT(*) AS n_common
              |  FROM ws a JOIN ws b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY a.doc_id, b.doc_id)
              |SELECT id_1, id_2,
              |  CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common)
              |    AS jaccard
              |FROM common
              |JOIN sizes za ON za.doc_id = id_1
              |JOIN sizes zb ON zb.doc_id = id_2
              |WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common)
              |  >= 0.8
              |ORDER BY id_1, id_2""".stripMargin)),

    // D27: content-defined chunking (CDC) dedup — chunk boundaries
    // where the rolling 3-gram hash ≡ 0 (mod 16), so boundaries are a
    // pure function of LOCAL content: inserting or deleting a word
    // shifts only the chunks it touches, and every other chunk keeps
    // its fingerprint. That is the shift-robustness fixed-stride
    // passage windows (t23) lack — the rsync/LBFS idea applied to
    // token streams. ~1/16 boundary rate → ~16-token expected chunks.
    // One exchange on doc_id feeds the lead()s, the boundary cumsum,
    // AND the chunk fingerprint groupBy (doc_id is a prefix of the
    // group key, so the window partitioning is reused); dup detection
    // is a chunk-fingerprint aggregate with map-side partials.
    Q("d27_cdc_chunks", (s, d) => {
      val w = Text.wordsWithPos(docs(s, d), "doc_id", "text")
      val wd = Window.partitionBy("doc_id").orderBy("pos")
      val g = w
        .withColumn("w2", lead("word", 1).over(wd))
        .withColumn("w3", lead("word", 2).over(wd))
        .withColumn("bnd",
          when(col("w3").isNotNull &&
            Text.portableHash(concat_ws(" ", col("word"), col("w2"),
              col("w3"))) % 16 === 0, 1L).otherwise(0L))
        .withColumn("chunk_id", coalesce(
          sum("bnd").over(wd.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      // the chunk table feeds BOTH the dup-fp aggregate and the
      // per-doc join — materialize once (d12 discipline) or the
      // whole window+fingerprint pipeline executes twice
      val chunks = Materialize(g.groupBy("doc_id", "chunk_id")
        .agg(md5(concat_ws(" ",
          expr("transform(sort_array(collect_list(struct(pos, word))), x -> x.word)")))
          .as("fp")))
      val dupFp = chunks.groupBy("fp")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("fp")
        .withColumn("is_dup", lit(1))
      chunks.join(broadcast(dupFp), Seq("fp"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("is_dup").isNotNull, 1L).otherwise(0L))
            .as("n_dup_chunks"))
        .withColumn("dup_ppm",
          expr("n_dup_chunks * 1000000 div n_chunks"))
        .orderBy("doc_id")
    },
      Some(s"""WITH w0 AS (
              |  SELECT doc_id,
              |    generate_subscripts(string_split(text,' '),1) AS pos,
              |    unnest(string_split(text,' ')) AS word
              |  FROM documents),
              |w AS (
              |  SELECT doc_id,
              |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
              |    word
              |  FROM w0 WHERE len(word) > 0),
              |g0 AS (
              |  SELECT doc_id, pos, word,
              |    lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
              |    lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
              |  FROM w),
              |g AS (
              |  SELECT doc_id, pos, word,
              |    CASE WHEN w3 IS NOT NULL AND
              |      ${hSqlPlain("word || ' ' || w2 || ' ' || w3")} % 16 = 0
              |      THEN 1 ELSE 0 END AS bnd
              |  FROM g0),
              |c AS (
              |  SELECT doc_id, pos, word,
              |    COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS chunk_id
              |  FROM g),
              |chunks AS (
              |  SELECT doc_id, chunk_id,
              |    md5(string_agg(word, ' ' ORDER BY pos)) AS fp
              |  FROM c GROUP BY doc_id, chunk_id),
              |dup AS (
              |  SELECT fp FROM chunks
              |  GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2)
              |SELECT chunks.doc_id, COUNT(*) AS n_chunks,
              |  CAST(SUM(CASE WHEN dup.fp IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_dup_chunks,
              |  CAST((SUM(CASE WHEN dup.fp IS NOT NULL THEN 1 ELSE 0 END)
              |    * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm
              |FROM chunks LEFT JOIN dup ON chunks.fp = dup.fp
              |GROUP BY chunks.doc_id ORDER BY chunks.doc_id""".stripMargin)),

    // D30: PQ-coded ANN (Jegou TPAMI'11, ops/Pq): corpus encoded to
    // M=8 sub-codes by a NARROW codegen'd argmin over a literal
    // codebook (no join, no shuffle — one scan encodes 100 TB), then
    // searched with asymmetric distance: the query's 128-entry
    // codeword-distance lookup table broadcasts and each corpus
    // vector costs 8 integer adds. Completes the quantization ladder
    // brute (d09) -> SQ8 (d26) -> IVF (d10/d16) -> PQ; exact integer
    // micro-units end to end so the oracle replays bit-identically.
    Q("d30_knn_pq", (s, d) => {
      val e = embs(s, d).select("vec_id", "embedding")
      val codes = graft.ops.Pq.encode(e, "vec_id", "embedding")
      val lut = graft.ops.Pq.adcTable(
        e.filter(col("vec_id") < 10), "vec_id", "embedding")
      val wK = Window.partitionBy("q_id")
        .orderBy(asc("adc"), col("vec_id"))
      codes.join(broadcast(lut),
          codes("s") === lut("s") && codes("code") === lut("c") &&
            codes("vec_id") =!= lut("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum("d2").as("adc"))
        .withColumn("rnk", row_number().over(wK))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("n_id"),
          col("rnk"), col("adc"))
        .orderBy("q_id", "rnk")
    },
      Some(s"""WITH cb(s, c, j, w) AS (VALUES ${graft.ops.Pq.codebookSql}),
              |eq AS (
              |  SELECT vec_id, generate_subscripts(embedding,1) - 1 AS d0,
              |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6)
              |      AS BIGINT) AS v
              |  FROM embeddings),
              |sq AS (SELECT vec_id, d0 // 8 AS s, d0 % 8 AS j, v FROM eq),
              |dist AS MATERIALIZED (
              |  SELECT sq.vec_id, sq.s, cb.c,
              |    CAST(SUM((sq.v - cb.w) * (sq.v - cb.w)) AS BIGINT) AS d2
              |  FROM sq JOIN cb ON cb.s = sq.s AND cb.j = sq.j
              |  GROUP BY 1, 2, 3),
              |codes AS (
              |  SELECT vec_id, s, c AS code FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
              |      ORDER BY d2, c) AS rn FROM dist) WHERE rn = 1),
              |lut AS (SELECT vec_id AS q_id, s, c, d2 FROM dist
              |        WHERE vec_id < 10),
              |adc AS (
              |  SELECT lut.q_id, codes.vec_id AS n_id,
              |    CAST(SUM(lut.d2) AS BIGINT) AS adc
              |  FROM codes JOIN lut ON lut.s = codes.s AND lut.c = codes.code
              |    AND codes.vec_id <> lut.q_id
              |  GROUP BY 1, 2),
              |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |         ORDER BY adc, n_id) AS rnk FROM adc)
              |SELECT q_id, n_id, rnk, adc FROM rk WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin)),

    // D31: PQ with a TRAINED codebook — per-subspace k-means in the
    // m02 integer-Lloyd discipline (2 unrolled iterations, exact
    // micro-unit arithmetic, floor-division recentering), seeded from
    // the first K vectors' subvectors. ALL 8 subspaces train in ONE
    // set of keyed aggregates (s rides the group keys): assignment is
    // a broadcast-centroid join + (vec_id, s, c)-keyed partial-agg
    // distance + struct-min argmin; recentering is a (s, c, j)-keyed
    // exact mean. The same dist stage then serves final encoding AND
    // the query-side ADC lookup table — corpus shuffles only on its
    // own keys with a K-bounded row multiplier, linear at any scale.
    Q("d31_knn_pq_trained", (s, d) => {
      import graft.expressions.GraftFunctions.pq_encode_cb
      val Mq = graft.ops.Pq.M; val Kq = graft.ops.Pq.K
      val SDq = graft.ops.Pq.SubDim
      val e = embs(s, d).select("vec_id", "embedding")
      // the exploded stream now feeds only the recenter joins, the
      // seed collect and the 10-query LUT — assignment/encode never
      // touches it (see assignCb)
      val eq = Materialize(embs(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "pos", "x")
        .select(col("vec_id"),
          (col("pos") / 8).cast("int").as("s"),
          (col("pos") % 8).cast("int").as("j"),
          floor(col("x").cast("double") * 1000000).cast("long").as("v")))
      // Per-iteration codebook COLLECT (<= M*K*SubDim = 1024 values —
      // the m02/MLlib loop): assignment/encode is then ONE narrow
      // kernel pass (pq_encode_cb) per stage instead of an n*K-row
      // broadcast-join distance aggregate — the four dist passes that
      // dominated d31 (10.7 s at sf1) are gone. A presence bitmask
      // rides along because an iteration can empty a cluster.
      def collectCb(c: DataFrame): (Array[Long], Array[Long]) = {
        val flat = new Array[Long](Mq * Kq * SDq)
        val present = new Array[Long](Mq)
        c.collect().foreach { r =>
          val s0 = r.getInt(0); val cc = r.getLong(1).toInt
          val j = r.getInt(2); val w = r.getLong(3)
          flat((s0 * Kq + cc) * SDq + j) = w
          present(s0) |= 1L << cc
        }
        (flat, present)
      }
      def assignCb(cb: (Array[Long], Array[Long])): DataFrame =
        e.select(col("vec_id"),
            posexplode(pq_encode_cb(col("embedding"),
              typedlit(cb._1.toSeq), typedlit(cb._2.toSeq))))
          .toDF("vec_id", "s", "c")
          .select(col("vec_id"), col("s"), col("c").cast("long").as("c"))
      def recenter(asg: DataFrame): DataFrame = eq
        .join(asg, Seq("vec_id", "s"))
        .groupBy("s", "c", "j")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .select(col("s"), col("c"), col("j"),
          expr("(sv - pmod(sv, n)) div n").as("w"))
      var cb = collectCb(eq.filter(col("vec_id") < 16)
        .select(col("s"), col("vec_id").as("c"), col("j"),
          col("v").as("w")))
      (1 to 2).foreach { _ => cb = collectCb(recenter(assignCb(cb))) }
      val codes = assignCb(cb)
      // query-side LUT: exact distances of the 10 query vectors to
      // every PRESENT trained codeword — the cent table is rebuilt
      // from the collected codebook (tiny), the join touches only the
      // 10 filtered vectors' 640 exploded rows
      import s.implicits._
      val centDf = (for {
        s0 <- 0 until Mq; c <- 0 until Kq
        if (cb._2(s0) & (1L << c)) != 0; j <- 0 until SDq
      } yield (s0, c.toLong, j, cb._1((s0 * Kq + c) * SDq + j)))
        .toDF("s", "c", "j", "w")
      val lut = eq.filter(col("vec_id") < 10)
        .join(broadcast(centDf), Seq("s", "j"))
        .groupBy("vec_id", "s", "c")
        .agg(sum((col("v") - col("w")) * (col("v") - col("w"))).as("d2"))
        .select(col("vec_id").as("q_id"), col("s"), col("c"),
          col("d2"))
      val wK = Window.partitionBy("q_id")
        .orderBy(asc("adc"), col("vec_id"))
      codes.join(broadcast(lut),
          codes("s") === lut("s") && codes("c") === lut("c") &&
            codes("vec_id") =!= lut("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum("d2").as("adc"))
        .withColumn("rnk", row_number().over(wK))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("n_id"),
          col("rnk"), col("adc"))
        .orderBy("q_id", "rnk")
    },
      Some {
        def distSql(cent: String, out: String) =
          s"""$out AS MATERIALIZED (
             |  SELECT eq.vec_id, eq.s, ct.c,
             |    CAST(SUM((eq.v - ct.w) * (eq.v - ct.w)) AS BIGINT) AS d2
             |  FROM eq JOIN $cent ct ON ct.s = eq.s AND ct.j = eq.j
             |  GROUP BY 1, 2, 3)""".stripMargin
        def assignSql(dist: String, out: String) =
          s"""$out AS (
             |  SELECT vec_id, s, c FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
             |      ORDER BY d2, c) AS rn FROM $dist) WHERE rn = 1)""".stripMargin
        def recenterSql(asg: String, out: String) =
          s"""$out AS MATERIALIZED (
             |  SELECT s, c, j,
             |    (sv - (((sv % n) + n) % n)) // n AS w FROM (
             |    SELECT a.s, a.c, eq.j, CAST(SUM(eq.v) AS BIGINT) AS sv,
             |      COUNT(*) AS n
             |    FROM eq JOIN $asg a ON eq.vec_id = a.vec_id AND eq.s = a.s
             |    GROUP BY 1, 2, 3))""".stripMargin
        s"""WITH eq AS MATERIALIZED (
           |  SELECT vec_id, (gs - 1) // 8 AS s, (gs - 1) % 8 AS j, v
           |  FROM (
           |    SELECT vec_id, generate_subscripts(embedding,1) AS gs,
           |      CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6)
           |        AS BIGINT) AS v
           |    FROM embeddings)),
           |c0 AS (SELECT s, vec_id AS c, j, v AS w FROM eq
           |       WHERE vec_id < 16),
           |${distSql("c0", "s1")},
           |${assignSql("s1", "a1")},
           |${recenterSql("a1", "c1")},
           |${distSql("c1", "s2")},
           |${assignSql("s2", "a2")},
           |${recenterSql("a2", "c2")},
           |${distSql("c2", "s3")},
           |${assignSql("s3", "codes")},
           |lut AS (SELECT vec_id AS q_id, s, c, d2 FROM s3
           |        WHERE vec_id < 10),
           |adc AS (
           |  SELECT lut.q_id, codes.vec_id AS n_id,
           |    CAST(SUM(lut.d2) AS BIGINT) AS adc
           |  FROM codes JOIN lut ON lut.s = codes.s AND lut.c = codes.c
           |    AND codes.vec_id <> lut.q_id
           |  GROUP BY 1, 2),
           |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
           |         ORDER BY adc, n_id) AS rnk FROM adc)
           |SELECT q_id, n_id, rnk, adc FROM rk WHERE rnk <= 5
           |ORDER BY q_id, rnk""".stripMargin
      }),

    // D32: SemDeDup with PQ-ADC cluster assignment — the documented
    // scale path for d23's assignment stage made concrete. d23
    // assigns each vector by exact cosine against ALL k centroids
    // (k = n/61 grows with the corpus, so assignment compute is
    // n*k*Dim float ops — the published SemDeDup brute shape); here
    // assignment goes through the PQ index (d30 machinery): each
    // vector builds its M*K ADC lookup table in ONE narrow kernel
    // pass (pq_adc_lut), each centroid is M one-byte-ish codes
    // (pq_encode, broadcast), and the distance to a centroid is M=8
    // integer table lookups instead of Dim=64 float multiplies —
    // 8x less assignment arithmetic and an integer-exact result the
    // oracle replays bit-identically. The argmin is the d23 max_by
    // discipline (map-side partials; only n rows shuffle). The
    // within-cluster dup stage stays EXACT cosine — PQ approximates
    // only the bucketing, where an assignment flip moves a vector
    // between clusters but never fabricates a false duplicate pair.
    Q("d32_semdedup_pq", (s, d) => {
      val Tau = 0.45
      val e = embs(s, d).select("vec_id", "embedding")
      // Assignment goes through the EXPLICIT k-switch in
      // ops/SemDedup.assignAdc: at the gated scales it is the
      // pq_assign_adc kernel over k-bounded collected centroid CODES
      // (per-vector M*K LUT built in-kernel, code matrix scanned in
      // place — the broadcast-join form of the same argmin copies the
      // 1 KB LUT into every n*k joined row, measured 14.4 s of pure
      // row copy at sf1 vs ~0.5 s for the kernel); past MaxLiteralK
      // the every-61st rule is abandoned for FIXED-k Lloyd centroids
      // whose CODES ride as a broadcast (cid, s, code) table joined
      // against the corpus's exploded M*K LUT — the relational form
      // of this oracle's `adc` CTE, never driver-collected. See the
      // SemDedup scaladoc for the regime rule; SemDedupSpec gates
      // both sides.
      val asg = graft.ops.SemDedup.assignAdc(e)
      val dups = asg.as("a").join(asg.as("b"),
          col("a.cid") === col("b.cid") &&
            col("b.vec_id") < col("a.vec_id"))
        .filter(Similarity.cosine(col("a.embedding"), col("b.embedding"))
          >= Tau)
        .select(col("a.vec_id").as("vec_id")).distinct()
        .withColumn("is_dup", lit(1L))
      asg.join(dups, Seq("vec_id"), "left_outer")
        .groupBy(col("cid").as("cluster"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("is_dup"), lit(0L)).as("n_dups"))
        .orderBy("cluster")
    },
      Some(s"""WITH cb(s, c, j, w) AS (VALUES ${graft.ops.Pq.codebookSql}),
              |eq AS (
              |  SELECT vec_id, generate_subscripts(embedding,1) - 1 AS d0,
              |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6)
              |      AS BIGINT) AS v
              |  FROM embeddings),
              |sq AS (SELECT vec_id, d0 // 8 AS s, d0 % 8 AS j, v FROM eq),
              |dist AS MATERIALIZED (
              |  SELECT sq.vec_id, sq.s, cb.c,
              |    CAST(SUM((sq.v - cb.w) * (sq.v - cb.w)) AS BIGINT) AS d2
              |  FROM sq JOIN cb ON cb.s = sq.s AND cb.j = sq.j
              |  GROUP BY 1, 2, 3),
              |ccodes AS (
              |  SELECT vec_id AS cid, s, c AS code FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
              |      ORDER BY d2, c) AS rn FROM dist WHERE vec_id % 61 = 0)
              |  WHERE rn = 1),
              |adc AS (
              |  SELECT d.vec_id, cc.cid, CAST(SUM(d.d2) AS BIGINT) AS adc
              |  FROM dist d JOIN ccodes cc ON cc.s = d.s AND cc.code = d.c
              |  GROUP BY 1, 2),
              |asg AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY adc, cid) AS rn FROM adc) WHERE rn = 1),
              |e AS (SELECT vec_id, embedding FROM embeddings),
              |dups AS (
              |  SELECT DISTINCT a.vec_id
              |  FROM asg a JOIN asg b ON a.cid = b.cid
              |    AND b.vec_id < a.vec_id
              |  JOIN e ea ON ea.vec_id = a.vec_id
              |  JOIN e eb ON eb.vec_id = b.vec_id
              |  WHERE ${cosSql("ea", "eb")} >= 0.45)
              |SELECT asg.cid AS cluster,
              |  COUNT(*) AS n_docs,
              |  CAST(COALESCE(SUM(CASE WHEN dups.vec_id IS NOT NULL
              |    THEN 1 END), 0) AS BIGINT) AS n_dups
              |FROM asg LEFT JOIN dups ON asg.vec_id = dups.vec_id
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D33: IVF-PQ composite ANN (IVFADC — Jégou et al., "Product
    // Quantization for Nearest Neighbor Search", TPAMI 2011 §V): the
    // canonical 100 TB ANN index, composing d10's coarse inverted-file
    // pruning with d30's PQ bandwidth cut. Each corpus vector
    // coarse-assigns to its nearest seed centroid and PQ-encodes the
    // RESIDUAL v - centroid — finer quantization than raw-vector PQ
    // for the same M bytes because the coarse fit shrinks residual
    // magnitudes. The index build is ONE narrow kernel scan
    // (ivfpq_encode: centroids + codebook ride as k-bounded
    // literals; no join, no corpus shuffle); a query probes its
    // nprobe=2 nearest cells and scores ONLY those cells' codes via
    // a per-(query, cell) residual ADC lookup table (2*M*K rows,
    // broadcast) — the scan fraction drops by nprobe/#cells and each
    // scanned row costs M=8 integer lookups. Exact micro-unit
    // arithmetic throughout, so DuckDB replays bit-identically.
    Q("d33_knn_ivfpq", (s, d) => {
      import graft.expressions.GraftFunctions.ivfpq_encode
      import s.implicits._
      val Mq = graft.ops.Pq.M; val Kq = graft.ops.Pq.K
      val SDq = graft.ops.Pq.SubDim; val Dim = graft.ops.Pq.Dim
      val seeds = Seq(0L, 101L, 202L, 303L)
      val e = embs(s, d).select("vec_id", "embedding")
      // k-bounded collects: 4 coarse centroids (quantized exactly as
      // the kernel quantizes) + the deterministic hash codebook
      val centsFlat = new Array[Long](seeds.length * Dim)
      e.filter(col("vec_id").isin(seeds: _*)).collect().foreach { r =>
        val ci = seeds.indexOf(r.getLong(0))
        val arr = r.getSeq[Float](1)
        var j = 0
        while (j < Dim) {
          centsFlat(ci * Dim + j) =
            math.floor(arr(j).toDouble * 1000000.0).toLong
          j += 1
        }
      }
      val cbFlat = new Array[Long](Mq * Kq * SDq)
      for (s0 <- 0 until Mq; c <- 0 until Kq; j <- 0 until SDq)
        cbFlat((s0 * Kq + c) * SDq + j) = graft.ops.Pq.codeword(s0, c, j)
      // index build: one narrow scan -> (vec_id, cid, s, code)
      val enc = e.select(col("vec_id"),
          ivfpq_encode(col("embedding"), typedlit(centsFlat.toSeq),
            typedlit(cbFlat.toSeq)).as("enc"))
        .select(col("vec_id"),
          element_at(typedlit(seeds), col("enc")(0) + 1).as("cid"),
          posexplode(slice(col("enc"), 2, Mq)))
        .toDF("vec_id", "cid", "s", "code")
      // query side (10 vectors): integer streams are tiny; probes =
      // 2 nearest cells by exact integer L2, LUT = residual ADC table
      val eqq = embs(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "jj", "x")
        .select(col("vec_id"), col("jj"),
          floor(col("x").cast("double") * 1000000).cast("long").as("v"))
      val centDf = (for { ci <- seeds.indices; j <- 0 until Dim }
        yield (seeds(ci), j, centsFlat(ci * Dim + j)))
        .toDF("ccid", "cjj", "w")
      val cd = eqq.join(broadcast(centDf), col("jj") === col("cjj"))
        .groupBy(col("vec_id"), col("ccid"))
        .agg(sum((col("v") - col("w")) * (col("v") - col("w"))).as("d2"))
      val wP = Window.partitionBy("vec_id").orderBy(asc("d2"), col("ccid"))
      val probes = cd.withColumn("rn", row_number().over(wP))
        .filter(col("rn") <= 2)
        .select(col("vec_id").as("q_id"), col("ccid").as("q_cid"))
      val cbDf = (for { s0 <- 0 until Mq; c <- 0 until Kq; j <- 0 until SDq }
        yield (s0, c, j, cbFlat((s0 * Kq + c) * SDq + j)))
        .toDF("cs", "ccode", "cj", "cw")
      val qres = eqq.join(broadcast(probes), col("vec_id") === col("q_id"))
        .join(broadcast(centDf),
          col("ccid") === col("q_cid") && col("cjj") === col("jj"))
        .select(col("q_id"), col("q_cid"),
          (col("jj") / SDq).cast("int").as("s"),
          (col("jj") % SDq).cast("int").as("j"),
          (col("v") - col("w")).as("rv"))
      val lut = qres
        .join(broadcast(cbDf), col("cs") === col("s") && col("cj") === col("j"))
        .groupBy(col("q_id"), col("q_cid"), col("s").as("ls"), col("ccode"))
        .agg(sum((col("rv") - col("cw")) * (col("rv") - col("cw"))).as("d2"))
        .select(col("q_id"), col("q_cid"), col("ls"),
          col("ccode").as("lc"), col("d2"))
      val wK = Window.partitionBy("q_id").orderBy(asc("adc"), col("vec_id"))
      enc.join(broadcast(lut),
          col("cid") === col("q_cid") && col("s") === col("ls") &&
            col("code") === col("lc") && col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum("d2").as("adc"))
        .withColumn("rnk", row_number().over(wK))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"), col("adc"))
        .orderBy("q_id", "rnk")
    },
      Some(s"""WITH eq AS MATERIALIZED (
              |  SELECT vec_id, gs - 1 AS jj,
              |    CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS v
              |  FROM (SELECT vec_id, generate_subscripts(embedding,1) AS gs,
              |          unnest(embedding) AS x FROM embeddings)),
              |cents AS MATERIALIZED (
              |  SELECT vec_id AS cid, jj, v AS w FROM eq
              |  WHERE vec_id IN (0, 101, 202, 303)),
              |cd AS MATERIALIZED (
              |  SELECT eq.vec_id, ct.cid,
              |    CAST(SUM((eq.v - ct.w) * (eq.v - ct.w)) AS BIGINT) AS d2
              |  FROM eq JOIN cents ct ON ct.jj = eq.jj
              |  GROUP BY 1, 2),
              |asg AS (SELECT vec_id, cid FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              |    ORDER BY d2, cid) AS rn FROM cd) WHERE rn = 1),
              |res AS MATERIALIZED (
              |  SELECT eq.vec_id, eq.jj // 8 AS s, eq.jj % 8 AS j,
              |    eq.v - ct.w AS rv
              |  FROM eq JOIN asg ON asg.vec_id = eq.vec_id
              |       JOIN cents ct ON ct.cid = asg.cid AND ct.jj = eq.jj),
              |cb(s, c, j, w) AS (VALUES ${graft.ops.Pq.codebookSql}),
              |dist AS (
              |  SELECT res.vec_id, res.s, cb.c,
              |    CAST(SUM((res.rv - cb.w) * (res.rv - cb.w)) AS BIGINT) AS d2
              |  FROM res JOIN cb ON cb.s = res.s AND cb.j = res.j
              |  GROUP BY 1, 2, 3),
              |codes AS (SELECT vec_id, s, c FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
              |    ORDER BY d2, c) AS rn FROM dist) WHERE rn = 1),
              |cc AS (SELECT codes.vec_id, asg.cid, codes.s, codes.c
              |       FROM codes JOIN asg ON asg.vec_id = codes.vec_id),
              |probes AS (SELECT vec_id AS q_id, cid AS q_cid FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              |    ORDER BY d2, cid) AS rn FROM cd WHERE vec_id < 10)
              |  WHERE rn <= 2),
              |qres AS (
              |  SELECT p.q_id, p.q_cid, eq.jj // 8 AS s, eq.jj % 8 AS j,
              |    eq.v - ct.w AS rv
              |  FROM eq JOIN probes p ON eq.vec_id = p.q_id
              |       JOIN cents ct ON ct.cid = p.q_cid AND ct.jj = eq.jj),
              |lut AS (
              |  SELECT qres.q_id, qres.q_cid, qres.s, cb.c,
              |    CAST(SUM((qres.rv - cb.w) * (qres.rv - cb.w)) AS BIGINT)
              |      AS d2
              |  FROM qres JOIN cb ON cb.s = qres.s AND cb.j = qres.j
              |  GROUP BY 1, 2, 3, 4),
              |adc AS (
              |  SELECT lut.q_id, cc.vec_id AS n_id,
              |    CAST(SUM(lut.d2) AS BIGINT) AS adc
              |  FROM cc JOIN lut ON lut.q_cid = cc.cid AND lut.s = cc.s
              |    AND lut.c = cc.c AND cc.vec_id <> lut.q_id
              |  GROUP BY 1, 2),
              |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |         ORDER BY adc, n_id) AS rnk FROM adc)
              |SELECT q_id, n_id, rnk, adc FROM rk WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin)),

    // D35: duplicate-aware soft weights — instead of DROPPING exact
    // duplicates (d01), keep every copy but weight it 1/n_copies, the
    // "soft dedup" sampling stance for LLM training mixtures (each
    // CONTENT contributes one unit of probability mass regardless of
    // how many times it was crawled). One content-hash aggregate +
    // one co-partitioned join back (both shuffle on the same md5 key
    // — no second exchange of the corpus side), then a per-source
    // rollup: n_docs vs the effective (dup-discounted) ppm mass shows
    // each source's inflation factor. Integer-exact ppm weights.
    Q("d35_dedup_weights", (s, d) => {
      val h = docs(s, d)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val cnt = h.groupBy("h").agg(count(lit(1)).as("nc"))
      h.join(cnt, Seq("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("1000000 div nc")).as("eff_ppm"))
        .orderBy("source")
    },
      Some("""WITH h AS (
             |  SELECT doc_id, source, md5(text) AS h FROM documents),
             |c AS (SELECT h, COUNT(*) AS nc FROM h GROUP BY h)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(1000000 // nc) AS BIGINT) AS eff_ppm
             |FROM h JOIN c USING (h)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // D37: HARD-NEGATIVE mining for contrastive embedding training —
    // for each anchor vector, the top-k most-similar corpus vectors
    // with a DIFFERENT label (the "hard" negatives: high-similarity,
    // wrong-class examples that dominate the contrastive gradient —
    // the standard mining step for training retrieval/embedding
    // models on curated corpora). Same scale shape as d09: the
    // k-bounded anchor set broadcasts against ONE corpus scan (no
    // corpus shuffle), the label inequality prunes before scoring,
    // and per-anchor top-k is a bounded window. At 10^9 vectors the
    // scan fraction drops through the same IVF/PQ ladder as d10/d33 —
    // mining composes with any of the ANN indexes because it is just
    // a filtered top-k.
    Q("d37_hard_negatives", (s, d) => {
      val e = embs(s, d)
        .select(col("vec_id"), col("embedding"),
          col("label").cast("long").as("label"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("label") =!= col("q_label"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("neg_id"),
          col("label").as("neg_label"), col("rnk"), col("cos"))
        .orderBy("q_id", "rnk")
    },
      Some(s"""WITH q AS (
              |  SELECT vec_id AS q_id, embedding,
              |    CAST(label AS BIGINT) AS q_label
              |  FROM embeddings WHERE vec_id < 10),
              |scored AS (
              |  SELECT q.q_id, e.vec_id AS neg_id,
              |    CAST(e.label AS BIGINT) AS neg_label,
              |    ${cosSql("q", "e")} AS cos
              |  FROM q, embeddings e
              |  WHERE CAST(e.label AS BIGINT) <> q.q_label),
              |ranked AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |    ORDER BY cos DESC, neg_id) AS rnk FROM scored)
              |SELECT q_id, neg_id, neg_label, rnk, cos
              |FROM ranked WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin)),

    // A26: NEAR-dup-aware curation manifest — the seam a24 stops
    // short of: its keeper stage is exact-dedup only, while a
    // training run's sampler should see the near-dup structure the
    // pipeline already computes. Here the keep/weight column comes
    // from the near-dup GROUPS themselves: d12's edge stage
    // (Dedup.dupEdges — bucketed/prefix-filtered, quadratic only
    // within bounded buckets, never all-pairs) + star-contraction
    // group resolution, then each doc carries the d35 soft weight
    // 1/|group| so every near-duplicate CONTENT contributes one unit
    // of token mass however many times it was crawled. The per-source
    // rollup allocates a half-budget by temperature weights over the
    // EFFECTIVE (dup-discounted) token mass — a24's allocation stage
    // driven by near-dup-derived weights. Scale shape: one windowed
    // group-size count on the group key (no group materialization,
    // no second corpus exchange), everything downstream a
    // sources-bounded rollup.
    Q("a26_neardup_manifest", (s, d) => {
      val base = docs(s, d)
      val edges = Dedup.dupEdges(base, "doc_id", "text", 3, tPct = 10)
      // roots is dup-membership-bounded (tiny next to the corpus) and
      // feeds two consumers below — pin it so the whole edge+star
      // pipeline runs once
      val roots = Materialize(graft.ops.StarCC.components(edges, rounds = 4,
        distinctInput = false, dedupEvery = 2))
      // group sizes from roots alone (StarCC.groupSizes — self-
      // consistent with the coalesce labeling for ANY star output,
      // proven against the window form on non-converged tables in
      // StarCCSpec). Singletons aren't in roots at all (coalesce 1).
      // This replaces a COUNT window partitioned by group_id — a
      // full-corpus exchange — with a dup-groups-bounded join; no
      // broadcast hint, so AQE broadcasts while sizes is small and
      // falls back to a shuffle join on a dup-heavy corpus.
      val sizes = graft.ops.StarCC.groupSizes(roots)
      val g = base.select(col("doc_id"), col("source"),
          expr("size(filter(split(text, ' '), w -> w != ''))")
            .cast("long").as("dl"))
        .join(roots, col("doc_id") === col("node"), "left_outer")
        .select(col("doc_id"), col("source"), col("dl"),
          coalesce(col("root"), col("doc_id")).as("group_id"))
      val gw = g.join(sizes, Seq("group_id"), "left_outer")
        .withColumn("nc", coalesce(col("nc"), lit(1L)))
      val ps = gw.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("dl").as("tokens_raw"),
          sum(expr("(dl * 1000000) div nc")).as("eff_tokens_ppm"))
        .withColumn("eff", expr("eff_tokens_ppm div 1000000"))
        .withColumn("w",
          floor(sqrt(col("eff").cast("double"))).cast("long"))
      // suite totals as an unpartitioned window over the SOURCES-
      // BOUNDED ps table (~|sources| rows at any corpus size): the
      // agg + crossJoin(broadcast) form planned a second consumer of
      // ps plus a broadcast-build job; the window is one
      // SinglePartition exchange of ~20 rows and keeps ps
      // single-consumer. Exact integer sums either way.
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ps.withColumn("tt", sum("eff").over(wAll))
        .withColumn("sw", sum("w").over(wAll))
        .select(col("source"), col("n_docs"), col("tokens_raw"),
          col("eff_tokens_ppm"),
          expr("((tt div 2) * w) div sw").as("alloc_tokens"),
          least(expr("(((tt div 2) * w) div sw) * 1000000 div eff"),
            lit(1000000L)).as("rate_ppm"))
        .orderBy("source")
    },
      Some {
        s"""WITH docs_c AS (SELECT * FROM documents),
           |${ngram3ShinglesSql("docs_c")},
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
           |common AS (
           |  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
           |  FROM ws a JOIN ws b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id),
           |e0 AS MATERIALIZED (
           |  SELECT id_1 AS u, id_2 AS v FROM common
           |  JOIN sizes za ON za.doc_id = id_1
           |  JOIN sizes zb ON zb.doc_id = id_2
           |  WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= 0.1),
           |${StarSql.rounds(4)},
           |roots AS (
           |  SELECT GREATEST(u, v) AS node, MIN(LEAST(u, v)) AS root
           |  FROM e4 GROUP BY 1),
           |g AS (
           |  SELECT d2.doc_id, d2.source,
           |    CAST(len(list_filter(string_split(d2.text, ' '),
           |        w -> len(w) > 0)) AS BIGINT) AS dl,
           |    COALESCE(r.root, d2.doc_id) AS group_id
           |  FROM docs_c d2 LEFT JOIN roots r ON d2.doc_id = r.node),
           |gw AS (
           |  SELECT *, COUNT(*) OVER (PARTITION BY group_id) AS nc FROM g),
           |ps AS (
           |  SELECT source, COUNT(*) AS n_docs,
           |    CAST(SUM(dl) AS BIGINT) AS tokens_raw,
           |    CAST(SUM((dl * 1000000) // nc) AS BIGINT) AS eff_tokens_ppm,
           |    CAST(SUM((dl * 1000000) // nc) AS BIGINT) // 1000000 AS eff,
           |    CAST(floor(sqrt(CAST(
           |      CAST(SUM((dl * 1000000) // nc) AS BIGINT) // 1000000
           |      AS DOUBLE))) AS BIGINT) AS w
           |  FROM gw GROUP BY source),
           |t AS (SELECT CAST(SUM(eff) AS BIGINT) AS tt,
           |             CAST(SUM(w) AS BIGINT) AS sw FROM ps)
           |SELECT source, n_docs, tokens_raw, eff_tokens_ppm,
           |  ((tt // 2) * w) // sw AS alloc_tokens,
           |  LEAST((((tt // 2) * w) // sw) * 1000000 // eff,
           |    1000000) AS rate_ppm
           |FROM ps, t ORDER BY source""".stripMargin
      })
  )
}
