package graft.queries

import graft.Tables
import graft.ops.{Bloom, Cms, CmsAgg, Dedup, Materialize, Pack, Split, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation / pipeline-infrastructure suite: deterministic
  * train-val-test splitting, stratified sampling, TF-IDF term
  * weighting, count–min heavy hitters, and bloom-filter join pruning.
  * All membership and counting is integer-exact (portable-hash
  * buckets, exact counters), so every query oracles bit-exactly; the
  * only doubles are single exact divisions of small integers.
  */
object CurationQueries extends Suite {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** `doc_id, sh`: each doc's distinct word 3-gram shingles as their
    * xxhash64 values, one row per shingle — the decontamination join
    * key of a11, d38 and a24. */
  private def shingleHashes(docs: DataFrame): DataFrame =
    Dedup.ngramShingleHashes(docs, "doc_id", "text", 3)
      .select(col("doc_id"), explode(col("hs")).as("sh"))

  /** Portable salted 60-bit hash in DuckDB (mirror of
    * Text.saltedHash / Split.bucket's salting). */
  private def hSql(e: String, salt: String): String =
    s"CAST('0x' || substr(md5($e || '$salt'),1,15) AS BIGINT)"

  val qs: Seq[Q] = Seq(

    // Deterministic 80/10/10 split + 5-fold id: membership is a pure
    // function of doc_id (salted portable hash), invariant to
    // partitioning/order/scale — Spark's randomSplit is none of those.
    Q("a05_hash_split", (s, d) => {
      val assigned = Split.assign(docs(s, d), "doc_id",
        Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
      assigned
        .withColumn("fold", Split.fold(col("doc_id"), 5))
        .select("doc_id", "split", "fold")
        .orderBy("doc_id")
    },
      Some(s"""SELECT doc_id,
              |  CASE WHEN b < 8000 THEN 'train'
              |       WHEN b < 9000 THEN 'val' ELSE 'test' END AS split,
              |  CAST(${hSql("CAST(doc_id AS VARCHAR)", "|fold")} % 5 AS INT) AS fold
              |FROM (
              |  SELECT doc_id,
              |    ${hSql("CAST(doc_id AS VARCHAR)", "|split")} % 10000 AS b
              |  FROM documents)
              |ORDER BY doc_id""".stripMargin)),

    // Stratified sampling: per-language fractions (en 30%, zh 50%,
    // rest 20%) — per-stratum rates with per-row determinism.
    Q("a06_stratified_sample", (s, d) => {
      Split.stratifiedSample(docs(s, d), "doc_id", "lang",
          Map("en" -> 3000, "zh" -> 5000), defaultFrac = 2000)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      Some(s"""SELECT doc_id, lang FROM (
              |  SELECT doc_id, lang,
              |    ${hSql("CAST(doc_id AS VARCHAR)", "|sample")} % 10000 AS b
              |  FROM documents)
              |WHERE b < CASE lang WHEN 'en' THEN 3000
              |                    WHEN 'zh' THEN 5000 ELSE 2000 END
              |ORDER BY doc_id""".stripMargin)),

    // Mixture balancing: every language downsampled to the rarest
    // language's share — uniform-mixture corpus rebalancing with
    // exact integer thresholds (min_count*10000 div count) and
    // hash-deterministic membership.
    Q("a08_mixture_balance", (s, d) => {
      Split.balanceStrata(docs(s, d), "doc_id", "lang")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      Some(s"""WITH c AS (
              |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
              |m AS (SELECT MIN(n) AS mn FROM c),
              |t AS (SELECT lang, (mn * 10000) // n AS thr FROM c, m)
              |SELECT doc_id, documents.lang
              |FROM documents JOIN t
              |  ON documents.lang IS NOT DISTINCT FROM t.lang
              |WHERE ${hSql("CAST(doc_id AS VARCHAR)", "|mix")} % 10000 < thr
              |ORDER BY doc_id""".stripMargin)),

    // Repetition quality filter (the Gopher-style gate): keep docs
    // whose type-token ratio is high enough AND whose most frequent
    // 2-gram doesn't dominate — both metrics are exact integer ratios
    // computed in two aggregations over the token/ngram explodes.
    Q("a07_repetition_filter", (s, d) => {
      // every metric is a pure per-doc function of the word array —
      // ONE narrow scan (token/distinct sizes off the array, the top
      // 2-gram count via the top_ngram_run kernel) replaces the two
      // corpus-wide explode aggregations + join. The words array is a
      // materialized attribute below the Generate so its four
      // references evaluate the split once (Dedup's withWords
      // discipline); docs too short for a 2-gram fall out through the
      // same NaN-ratio filters that dropped them from the old inner
      // join (0-bigram docs: top2_frac = 0/0).
      docs(s, d)
        .select(col("doc_id"), filter(split(col("text"), " "),
          w => length(w) > 0).as("__w"))
        .select(col("doc_id"), explode(array(struct(
          size(col("__w")).cast("long").as("n_tokens"),
          size(array_distinct(col("__w"))).cast("long").as("n_distinct"),
          graft.expressions.GraftFunctions.top_ngram_run(col("__w"), 2)
            .as("top2"),
          (size(col("__w")) - 1).cast("long").as("n2")))).as("m"))
        .select(col("doc_id"), col("m.n_tokens").as("n_tokens"),
          (col("m.n_distinct").cast("double") / col("m.n_tokens"))
            .as("unique_ratio"),
          (col("m.top2").cast("double") / col("m.n2")).as("top2_frac"))
        .filter(col("unique_ratio") >= 0.4 && col("top2_frac") <= 0.04)
        .orderBy("doc_id")
    },
      Some("""WITH w0 AS (
             |  SELECT doc_id,
             |    generate_subscripts(string_split(text,' '),1) AS pos,
             |    unnest(string_split(text,' ')) AS word
             |  FROM documents),
             |-- drop empty tokens BEFORE pairing and renumber, exactly
             |-- like the Spark side's filtered words array — a doc with
             |-- consecutive spaces must form the same 2-grams
             |w AS (
             |  SELECT doc_id,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
             |    word
             |  FROM w0 WHERE len(word) > 0),
             |tok AS (
             |  SELECT doc_id, COUNT(*) AS n_tokens,
             |    COUNT(DISTINCT word) AS n_distinct
             |  FROM w GROUP BY 1),
             |g AS (
             |  SELECT a.doc_id, a.word || ' ' || b.word AS sh
             |  FROM w a JOIN w b
             |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
             |gc AS (SELECT doc_id, sh, COUNT(*) AS c FROM g GROUP BY 1, 2),
             |gs AS (SELECT doc_id, MAX(c) AS top2,
             |         CAST(SUM(c) AS BIGINT) AS n2 FROM gc GROUP BY 1)
             |SELECT doc_id, n_tokens,
             |  CAST(n_distinct AS DOUBLE) / n_tokens AS unique_ratio,
             |  CAST(top2 AS DOUBLE) / n2 AS top2_frac
             |FROM tok JOIN gs USING (doc_id)
             |WHERE CAST(n_distinct AS DOUBLE) / n_tokens >= 0.4
             |  AND CAST(top2 AS DOUBLE) / n2 <= 0.04
             |ORDER BY doc_id""".stripMargin)),

    // TF-IDF building blocks: exact tf/df counts and the smoothed
    // idf ratio (N+1)/(df+1) as one exact integer division — the
    // ln() weighting lives in Text.tfIdfLog (ScalaTest-verified):
    // JVM Math.log and DuckDB ln differ in the last ulp (~1e-3 of
    // inputs, measured), so the oracle pins everything up to the log.
    Q("t18_tfidf", (s, d) => {
      val w = Text.words(docs(s, d), "doc_id", "text")
      val tf = w.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = w.groupBy("word")
        .agg(countDistinct("doc_id").as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "word").crossJoin(broadcast(n))
        .withColumn("idf_ratio",
          (col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double"))
        .filter(col("doc_id") < 100 && length(col("word")) >= 6)
        .select("doc_id", "word", "tf", "df", "idf_ratio")
        .orderBy("doc_id", "word")
    },
      Some("""WITH w AS (
             |  SELECT doc_id, w AS word FROM (
             |    SELECT doc_id, unnest(string_split(text,' ')) AS w
             |    FROM documents)
             |  WHERE len(w) > 0),
             |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
             |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents)
             |SELECT doc_id, word, tf, df,
             |  CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS idf_ratio
             |FROM tf JOIN df USING (word), n
             |WHERE doc_id < 100 AND len(word) >= 6
             |ORDER BY doc_id, word""".stripMargin)),

    // Count–min heavy hitters: one-pass constant-memory frequency
    // sketch (CmsAgg), estimates vs exact counts per supplier — the
    // estimate is integer-exact and oracle-reproducible (3 GROUP BYs).
    Q("d18_cms_heavyhitters", (s, d) => {
      val D = 3; val W = 1024
      val li = Tables.load(s, d, "lineitem")
      val cms = udaf(new CmsAgg(D, W))
      val counters = li.agg(
        cms(col("l_suppkey").cast("string")).as("cs"))
      li.groupBy("l_suppkey").agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(counters))
        .withColumn("est_cnt",
          Cms.estimate(col("cs"), col("l_suppkey"), D, W))
        .select("l_suppkey", "est_cnt", "exact_cnt")
        .orderBy("l_suppkey")
    }, {
      val h = (i: Int) => hSql("CAST(l_suppkey AS VARCHAR)", s"|s$i")
      val hk = (i: Int) => hSql("CAST(ex.l_suppkey AS VARCHAR)", s"|s$i")
      Some(s"""WITH ex AS (
              |  SELECT l_suppkey, COUNT(*) AS exact_cnt
              |  FROM lineitem GROUP BY 1),
              |l0 AS (SELECT ${h(0)} % 1024 AS b, COUNT(*) AS c
              |       FROM lineitem GROUP BY 1),
              |l1 AS (SELECT ${h(1)} % 1024 AS b, COUNT(*) AS c
              |       FROM lineitem GROUP BY 1),
              |l2 AS (SELECT ${h(2)} % 1024 AS b, COUNT(*) AS c
              |       FROM lineitem GROUP BY 1)
              |SELECT ex.l_suppkey, LEAST(l0.c, l1.c, l2.c) AS est_cnt,
              |  ex.exact_cnt
              |FROM ex
              |JOIN l0 ON ${hk(0)} % 1024 = l0.b
              |JOIN l1 ON ${hk(1)} % 1024 = l1.b
              |JOIN l2 ON ${hk(2)} % 1024 = l2.b
              |ORDER BY l_suppkey""".stripMargin)
    }),

    // Bloom-filter runtime join pruning: lineitem is prefiltered by a
    // 64 KiB bitset of the selective orders' keys BEFORE the shuffle;
    // the join then removes the bloom's false positives, so the
    // oracle is simply the plain join — the bitset is a transparent
    // optimization (BloomSpec asserts the pruning itself).
    Q("d19_bloom_prune", (s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val sel = Tables.load(s, d, "orders")
        .filter(col("o_totalprice") > 480000)
        .select("o_orderkey", "o_orderpriority")
      Bloom.prefilterJoin(li, sel,
          col("l_orderkey"), col("o_orderkey"), bits = 1 << 19, k = 4)
        .groupBy("o_orderpriority")
        .agg(
          sum(col("l_quantity").cast("decimal(14,2)")).cast("double")
            .as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE)
             |    AS sum_qty,
             |  COUNT(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_totalprice > 480000
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // Corpus-internal bigram LM quality score: every doc scored by the
    // average corpus probability of its bigrams, in parts-per-million
    // — p(w2|w1) ≈ c(w1 w2)*1e6 div c(w1), all integer arithmetic so
    // the oracle is bit-exact (no ln/float divergence). Low scores =
    // improbable token sequences (the perplexity-filter signal of LLM
    // data pipelines, kept in exact integer space). Count tables are
    // term-keyed aggregates with map-side partials; the joins back to
    // the bigram stream are term-keyed shuffles (broadcast when the
    // vocabulary is small, as Catalyst chooses here).
    Q("a09_lm_score", (s, d) => {
      // the bigram stream is the dominant intermediate and its key
      // never reaches a result — shuffle 8-byte xxhash64 keys through
      // the count and both joins instead of "w1 w2" strings (the
      // dedup-bucket discipline; collision risk ~|vocab|^2/2^64)
      val base = docs(s, d)
      val uniH = Text.words(base, "doc_id", "text")
        .groupBy(xxhash64(col("word")).as("w1h"))
        .agg(count(lit(1)).as("c1"))
      // Checkpoint the occurrence stream once (it feeds the bigram
      // count AND the join probe), count per bigram hash with
      // map-side partials, equi-join the stream back, roll up per
      // doc. This is the skew-safe shape at the Zipfian design
      // point: a stopword bigram collapses in the count's partial
      // aggregation and the join's hot key is AQE-splittable. Two
      // r12 rewrites were tried and REJECTED: a per-bigram
      // collect_list(doc_id) (no join, fastest here) materializes a
      // corpus-frequent bigram's whole doc list in one buffer —
      // O(n_docs) skew the design point forbids; a (doc, h)
      // pre-aggregation (k-compressed join) just adds an exchange on
      // corpora without repeated per-doc bigrams (measured +1.4 s at
      // engine sf1, where occurrences/distinct = 1.17).
      // feeds the bigram count AND the join probe
      val bi = Materialize(Dedup.ngrams(base, "doc_id", "text", 2)
        .select(col("doc_id"), xxhash64(col("sh")).as("h"),
          xxhash64(substring_index(col("sh"), " ", 1)).as("w1h")))
      val biCount = bi.groupBy("h").agg(count(lit(1)).as("c2"))
      bi.join(biCount, "h")
        .join(uniH, "w1h") // vocabulary-sized, broadcast by Catalyst
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum((c2 * 1000000) div c1) div count(1)").as("lm_ppm"))
        .orderBy("doc_id")
    },
      Some("""WITH w0 AS (
             |  SELECT doc_id,
             |    generate_subscripts(string_split(text,' '),1) AS pos,
             |    unnest(string_split(text,' ')) AS word
             |  FROM documents),
             |w AS (
             |  SELECT doc_id,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
             |    word
             |  FROM w0 WHERE len(word) > 0),
             |g AS (
             |  SELECT a.doc_id, a.word || ' ' || b.word AS sh, a.word AS w1
             |  FROM w a JOIN w b
             |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
             |c1 AS (SELECT word, COUNT(*) AS c1 FROM w GROUP BY 1),
             |c2 AS (SELECT sh, COUNT(*) AS c2 FROM g GROUP BY 1)
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |  CAST(SUM((c2 * 1000000) // c1) // COUNT(*) AS BIGINT) AS lm_ppm
             |FROM g JOIN c2 USING (sh) JOIN c1 ON g.w1 = c1.word
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Domain-mix report: docs and exact token mass per (source, lang)
    // plus each cell's parts-per-million share — the mixture table a
    // training-data pipeline reports before/after rebalancing (a08).
    // Token counting stays inside the scan projection (no explode);
    // the single global total is a broadcast scalar.
    Q("a10_domain_mix", (s, d) => {
      val perDoc = docs(s, d).select(col("source"), col("lang"),
        size(filter(split(col("text"), " "),
          w => length(w) > 0)).as("n_tok"))
      val grouped = perDoc.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      val total = grouped.agg(sum("n_tokens").as("tot"))
      grouped.crossJoin(broadcast(total))
        .withColumn("token_ppm", expr("n_tokens * 1000000 div tot"))
        .select("source", "lang", "n_docs", "n_tokens", "token_ppm")
        .orderBy("source", "lang")
    },
      Some("""WITH p AS (
             |  SELECT source, lang,
             |    len(list_filter(string_split(text, ' '),
             |                    w -> len(w) > 0)) AS n_tok
             |  FROM documents),
             |g AS (
             |  SELECT source, lang, COUNT(*) AS n_docs,
             |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
             |  FROM p GROUP BY 1, 2),
             |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM g)
             |SELECT source, lang, n_docs, n_tokens,
             |  CAST((n_tokens * 1000000) // tot AS BIGINT) AS token_ppm
             |FROM g, t ORDER BY source, lang""".stripMargin)),

    // Benchmark decontamination: training docs sharing any 3-gram with
    // the held-out eval slice (doc_id % 100 == 0 stands in for the
    // benchmark set), with the shared-shingle count as evidence. Real
    // pipelines use 8-13-gram windows; this corpus's docs are short,
    // so n=3 keeps the overlap non-trivial — n is a parameter. The
    // eval shingle set is small by construction — Catalyst broadcasts
    // it, so the train-side scan never shuffles; at 100 TB this is a
    // bloom/broadcast-semi-join against the eval n-gram dictionary.
    // Shingles join as their xxhash64 values (the key never reaches
    // the result; a 64-bit collision is the accepted risk).
    Q("a11_contamination", (s, d) => {
      val sh = shingleHashes(docs(s, d))
      val evalSh = sh.filter(col("doc_id") % 100 === 0)
        .select("sh").distinct()
      sh.filter(col("doc_id") % 100 =!= 0)
        .join(broadcast(evalSh), "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_ngrams"))
        .orderBy("doc_id")
    },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    generate_subscripts(string_split(text,' '),1) AS pos,
             |    unnest(string_split(text,' ')) AS word
             |  FROM documents),
             |g3 AS (
             |  SELECT DISTINCT a.doc_id,
             |    a.word || ' ' || b.word || ' ' || c.word AS sh
             |  FROM w a
             |  JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
             |ev AS (SELECT DISTINCT sh FROM g3 WHERE doc_id % 100 = 0)
             |SELECT doc_id, COUNT(*) AS n_shared_ngrams
             |FROM g3 JOIN ev USING (sh)
             |WHERE doc_id % 100 <> 0
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // D38: BLOOM-prefiltered decontamination — a11's exact shared-
    // 3-gram test in the shape that survives an eval set too large to
    // broadcast as a hash relation: the 64 KiB bloom bitset of the
    // eval shingles broadcasts instead (a codegen'd filter AT the
    // corpus shingle stream, d19's discipline), so only shingles that
    // MIGHT be eval shingles reach the keyed verify join — at a ~1%
    // false-positive rate the exchange carries ~1% of a clean
    // corpus's shingles instead of all of them, and the exact join
    // erases the bloom's false positives, making the result provably
    // identical to the plain join. The oracle is therefore the plain
    // exact-join rollup — algorithm-independent, like d19's. Output
    // is the per-source decontamination report (docs, contaminated,
    // clean ppm) a curation run logs.
    Q("d38_bloom_decontaminate", (s, d) => {
      val base = docs(s, d)
      val sh = shingleHashes(base)
      val evalSh = sh.filter(col("doc_id") % 100 === 0)
        .select(col("sh").as("ev_sh")).distinct()
      val trainSh = sh.filter(col("doc_id") % 100 =!= 0)
      val contaminated = Bloom.prefilterJoin(trainSh, evalSh,
          col("sh"), col("ev_sh"), bits = 1 << 19, k = 4)
        .select("doc_id").distinct()
        .withColumn("is_c", lit(1L))
      base.filter(col("doc_id") % 100 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("is_c"), lit(0L)).as("n_contaminated"))
        .withColumn("clean_ppm",
          expr("((n_docs - n_contaminated) * 1000000) div n_docs"))
        .orderBy("source")
    },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    generate_subscripts(string_split(text,' '),1) AS pos,
             |    unnest(string_split(text,' ')) AS word
             |  FROM documents),
             |g3 AS (
             |  SELECT DISTINCT a.doc_id,
             |    a.word || ' ' || b.word || ' ' || c.word AS sh
             |  FROM w a
             |  JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
             |ev AS (SELECT DISTINCT sh FROM g3 WHERE doc_id % 100 = 0),
             |contam AS (
             |  SELECT DISTINCT g3.doc_id FROM g3 JOIN ev USING (sh)
             |  WHERE g3.doc_id % 100 <> 0)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN contam.doc_id IS NOT NULL
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
             |  CAST(((COUNT(*) - SUM(CASE WHEN contam.doc_id IS NOT NULL
             |    THEN 1 ELSE 0 END)) * 1000000) // COUNT(*) AS BIGINT) AS clean_ppm
             |FROM documents dd LEFT JOIN contam ON dd.doc_id = contam.doc_id
             |WHERE dd.doc_id % 100 <> 0
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Priority dedup keeper: within each exact-dup group keep the
    // BEST doc (longest, then lowest id) instead of d01's min-id —
    // the curation policy that preserves the richest copy. One
    // row_number over the fingerprint partitioning; at scale this is
    // the same single shuffle as the plain dedup.
    Q("a12_keeper_priority", (s, d) => {
      val w = Window.partitionBy("fp")
        .orderBy(desc("n_chars"), asc("doc_id"))
      docs(s, d)
        .select(col("doc_id"), col("n_chars"),
          Text.fingerprint(col("text")).as("fp"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("doc_id", "n_chars", "fp")
        .orderBy("doc_id")
    },
      Some("""WITH f AS (
             |  SELECT doc_id, n_chars,
             |    md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp,
             |    row_number() OVER (
             |      PARTITION BY md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
             |      ORDER BY n_chars DESC, doc_id) AS rk
             |  FROM documents)
             |SELECT doc_id, n_chars, fp FROM f WHERE rk = 1
             |ORDER BY doc_id""".stripMargin)),

    // Fixed-size per-group sampling: exactly k=50 docs per language by
    // salted-hash rank — the deterministic reservoir (a06 samples a
    // FRACTION per stratum; pipelines also need exact-k eval slices).
    // Hash order is a pure row function, so the sample is identical on
    // any partitioning/cluster size; one window over the lang
    // partitioning is the only shuffle.
    Q("a13_group_sample", (s, d) => {
      val w = Window.partitionBy("lang")
        .orderBy(Text.saltedHash(col("doc_id").cast("string"), 7),
          col("doc_id"))
      docs(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    },
      Some(s"""SELECT doc_id, lang, rk FROM (
              |  SELECT doc_id, lang, row_number() OVER (
              |    PARTITION BY lang
              |    ORDER BY ${hSql("CAST(doc_id AS VARCHAR)", "|s7")}, doc_id) AS rk
              |  FROM documents)
              |WHERE rk <= 50 ORDER BY lang, rk""".stripMargin)),

    // Deterministic systematic PPS (probability-proportional-to-size)
    // sampling: ~k docs per source stratum with inclusion chance
    // proportional to token mass — the weighted subset a mixture-
    // tuning pipeline draws when long documents should be kept more
    // often. Selection is a pure function of the data (per-stratum
    // cumulative weight + a salted-hash offset stepping through it),
    // so the sample is identical on any engine / partitioning /
    // cluster size — Spark's sample()/randomSplit are neither. The
    // per-stratum window prefix sum is the only shuffle (no global
    // sort), the scale-safe shape for stratified corpora.
    Q("a14_weighted_sample", (s, d) => {
      val k = 25
      val perDoc = docs(s, d).select(col("source"), col("doc_id"),
        size(filter(split(col("text"), " "),
          t => length(t) > 0)).cast("bigint").as("w"))
      val wOrd = Window.partitionBy("source").orderBy("doc_id")
      val wAll = Window.partitionBy("source")
      perDoc
        .withColumn("cum_end", sum("w").over(wOrd))
        .withColumn("cum_start", col("cum_end") - col("w"))
        .withColumn("tot", sum("w").over(wAll))
        .withColumn("step", greatest(expr(s"tot div $k"), lit(1L)))
        .withColumn("off", pmod(Text.portableHash(col("source")), col("step")))
        // doc selected iff its weight interval [cum_start, cum_end)
        // contains a point of the offset step grid; shifted by +step
        // so both floor-divisions see nonnegative arguments (Spark
        // `div` truncates, DuckDB `//` floors — they only agree >= 0)
        .filter(expr("(cum_end - off + step - 1) div step > " +
          "(cum_start - off + step - 1) div step"))
        .select("source", "doc_id", "w")
        .orderBy("source", "doc_id")
    },
      Some(s"""WITH p AS (
              |  SELECT source, doc_id,
              |    CAST(len(list_filter(string_split(text, ' '),
              |                         t -> len(t) > 0)) AS BIGINT) AS w
              |  FROM documents),
              |c AS (
              |  SELECT source, doc_id, w,
              |    CAST(SUM(w) OVER (PARTITION BY source ORDER BY doc_id
              |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end,
              |    CAST(SUM(w) OVER (PARTITION BY source) AS BIGINT) AS tot
              |  FROM p),
              |s1 AS (
              |  SELECT *, cum_end - w AS cum_start,
              |    GREATEST(tot // 25, 1) AS step
              |  FROM c),
              |s2 AS (
              |  SELECT *,
              |    ${hSql("source", "")} % step AS off
              |  FROM s1)
              |SELECT source, doc_id, w FROM s2
              |WHERE (cum_end - off + step - 1) // step
              |    > (cum_start - off + step - 1) // step
              |ORDER BY source, doc_id""".stripMargin)),

    // OOV-rate report: per doc the fraction of tokens outside the
    // corpus's top-100 vocabulary, in exact integer ppm — the
    // out-of-vocabulary signal tokenizer/corpus audits track. The
    // vocabulary is a frequency top-k (ties broken by word, so the
    // cut is total-ordered); it broadcasts to an anti-join flag on
    // the token stream.
    Q("a15_oov_rate", (s, d) => {
      val w = Text.words(docs(s, d), "doc_id", "text")
      val vocabW = Window.orderBy(desc("c"), asc("word"))
      val vocab = w.groupBy("word").agg(count(lit(1)).as("c"))
        .withColumn("vrk", row_number().over(vocabW))
        .filter(col("vrk") <= 100).select("word")
        .withColumn("in_vocab", lit(1))
      w.join(broadcast(vocab), Seq("word"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
        .orderBy("doc_id")
    },
      Some("""WITH w AS (
             |  SELECT doc_id, w AS word FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  WHERE len(w) > 0),
             |vocab AS (
             |  SELECT word FROM (
             |    SELECT word, row_number() OVER (
             |      ORDER BY COUNT(*) DESC, word) AS vrk
             |    FROM w GROUP BY word)
             |  WHERE vrk <= 100)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_oov,
             |  CAST((SUM(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END)
             |    * 1000000) // COUNT(*) AS BIGINT) AS oov_ppm
             |FROM w LEFT JOIN vocab ON w.word = vocab.word
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // PII redaction, oracle-gated: the corpus has no real PII, so
    // each doc gets a deterministic synthetic email/phone/IP built
    // from its id, and Text.redact's sequential regexp passes must
    // produce the identical redacted string in both engines. The
    // patterns use only char-classes and counted quantifiers, which
    // match identically under Java regex (backtracking) and RE2
    // (DuckDB) — the portability contract Text.RedactPatterns
    // documents, here actually enforced by the hash gate.
    Q("a16_pii_redact", (s, d) => {
      val raw = concat(
        lit("contact u"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-1234 at 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 now"))
      docs(s, d)
        .select(col("doc_id"), Text.redact(raw).as("redacted"))
        .orderBy("doc_id")
    },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    'contact u' || doc_id || '@example.com or +1-555-'
             |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             |      || '-1234 at 10.0.' || (doc_id % 256) || '.7 now' AS raw
             |  FROM documents)
             |SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(raw,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}', '<PHONE>', 'g'),
             |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS redacted
             |FROM p ORDER BY doc_id""".stripMargin)),

    // Sequence packing: lay documents end-to-end per hash shard and
    // cut the token stream every 256 tokens — the GPT-style
    // concatenative packing of a pretraining writer, as a pure
    // per-shard prefix sum (see ops/Pack.scala for the 100 TB
    // rationale: shards are the unit of parallelism, no global sort).
    Q("a17_sequence_pack", (s, d) => {
      // count NON-EMPTY tokens (irregular spacing would otherwise
      // count phantom tokens into offsets that a23's filtered token
      // stream then never emits — offsets and emission must agree on
      // one tokenization)
      val toks = docs(s, d).select(col("doc_id"),
        size(graft.ops.Text.tokens(col("text")))
          .as("n_tok"))
      Pack.pack(toks, "doc_id", "n_tok", nShards = 8, ctx = 256)
        .select("doc_id", "shard", "n_tok", "off", "bin")
        .orderBy("doc_id")
    },
      Some(s"""WITH t AS (
              |  SELECT doc_id,
              |    len(list_filter(string_split(text,' '),
              |        x -> len(x) > 0)) AS n_tok,
              |    CAST(${hSql("CAST(doc_id AS VARCHAR)", "|pack")} % 8
              |      AS INT) AS shard
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, shard, n_tok,
              |    CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
              |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS off
              |  FROM t)
              |SELECT doc_id, shard, n_tok, off, off // 256 AS bin
              |FROM c ORDER BY doc_id""".stripMargin)),

    // DSIR-style importance weighting: score each document by how
    // in-domain its tokens are — per word, the 1e6-scaled share of
    // its occurrences that come from the target sources; per doc, the
    // integer mean of its words' shares (Data Selection via
    // Importance Resampling, hashed-ngram flavor, kept in exact
    // integer space so the oracle is bit-exact). One word-keyed
    // aggregate with map-side partials; the (vocab-bounded) score
    // table broadcasts back onto the token stream — same scale shape
    // as the a09 LM score.
    Q("a19_dsir_weight", (s, d) => {
      val base = docs(s, d).withColumn("is_t",
        col("source").isin("src0", "src1", "src2", "src3")
          .cast("long"))
      val w = base.select(col("doc_id"), col("is_t"),
          explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val r = w.groupBy("word")
        .agg(count(lit(1)).as("c_all"), sum("is_t").as("c_t"))
        .select(col("word"),
          expr("(c_t * 1000000) div c_all").as("r_ppm"))
      // no broadcast hint: the score table is vocab-sized — AQE
      // broadcasts it while it fits and falls back to a word-keyed
      // shuffle join when a 100 TB crawl's long-tail vocab doesn't
      // (a forced hint would OOM instead of falling back)
      w.join(r, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          expr("sum(r_ppm) div count(1)").as("dsir_ppm"))
        .orderBy("doc_id")
    },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    CASE WHEN source IN ('src0','src1','src2','src3')
             |      THEN 1 ELSE 0 END AS is_t,
             |    w AS word
             |  FROM (SELECT doc_id, source,
             |          unnest(string_split(text,' ')) AS w
             |        FROM documents)
             |  WHERE len(w) > 0),
             |r AS (
             |  SELECT word,
             |    CAST((SUM(is_t) * 1000000) // COUNT(*) AS BIGINT) AS r_ppm
             |  FROM w GROUP BY 1)
             |SELECT doc_id, COUNT(*) AS n_tok,
             |  CAST(SUM(r_ppm) // COUNT(*) AS BIGINT) AS dsir_ppm
             |FROM w JOIN r USING (word)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // RAG-style overlapping chunking: windows of 20 tokens at stride
    // 10 (each token belongs to <=2 windows), chunk text emitted per
    // (doc, window). Narrow per-doc computation — each token emits
    // its <=2 window memberships and one doc-keyed exchange serves
    // the per-window string assembly; window count ~ n/stride.
    Q("a22_rag_chunks", (s, d) => {
      val w = Text.wordsWithPos(docs(s, d), "doc_id", "text")
        .withColumn("w1", expr("(pos - 1) div 10"))
      // second membership: with width = 2x stride every token also
      // falls inside the PREVIOUS window (when one exists) — position
      // p <= 10(w1-1)+20 holds for all p with (p-1) div 10 = w1
      val member = w.select(col("doc_id"), col("pos"), col("word"),
          col("w1").as("wid"))
        .unionByName(w.filter(col("w1") >= 1)
          .select(col("doc_id"), col("pos"), col("word"),
            (col("w1") - 1).as("wid")))
      member
        .groupBy("doc_id", "wid")
        .agg(count(lit(1)).as("n_tok"),
          concat_ws(" ", expr(
            "transform(sort_array(collect_list(struct(pos, word))), x -> x.word)"))
            .as("chunk"))
        .orderBy("doc_id", "wid")
    },
      Some("""WITH w0 AS (
             |  SELECT doc_id,
             |    generate_subscripts(string_split(text,' '),1) AS pos,
             |    unnest(string_split(text,' ')) AS word
             |  FROM documents),
             |w AS (
             |  SELECT doc_id,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
             |    word
             |  FROM w0 WHERE len(word) > 0),
             |member AS (
             |  SELECT doc_id, pos, word, (pos - 1) // 10 AS wid FROM w
             |  UNION ALL
             |  SELECT doc_id, pos, word, (pos - 1) // 10 - 1 AS wid
             |  FROM w WHERE (pos - 1) // 10 >= 1)
             |SELECT doc_id, wid, COUNT(*) AS n_tok,
             |  string_agg(word, ' ' ORDER BY pos) AS chunk
             |FROM member GROUP BY doc_id, wid
             |ORDER BY doc_id, wid""".stripMargin)),

    // Packed-bin materialization — the final pretraining-writer step:
    // token-level placement (global per-shard token index = doc
    // offset + in-doc position) slices STRADDLING documents across
    // context windows, then each bin assembles its exact 256-token
    // stream (emitted as count + fingerprint; a writer would emit the
    // token ids). Offsets come from the a17 prefix sum; the token
    // explode joins them doc-keyed and the bin assembly groups by
    // (shard, bin) — placement never changes once computed, so bins
    // are write-once shards.
    Q("a23_pack_emit", (s, d) => {
      // same non-empty tokenization as a17: offsets count exactly the
      // tokens emitted below, so placement stays gapless under
      // irregular spacing (the unfiltered-posexplode form indexed by
      // raw split position and silently skipped the empties' slots)
      val toks = docs(s, d).select(col("doc_id"),
        size(graft.ops.Text.tokens(col("text")))
          .as("n_tok"))
      val packed = Pack.pack(toks, "doc_id", "n_tok",
          nShards = 8, ctx = 256)
        .select("doc_id", "shard", "off")
      // join at DOC level, then explode: the offset join moves |docs|
      // rows (one text per row), never the exploded token stream —
      // exploding first would shuffle every token through the join.
      // The empty-word filter runs NARROW on the array before the
      // posexplode, so positions come out renumbered.
      docs(s, d).join(packed, "doc_id")
        .select(col("doc_id"), col("shard"), col("off"),
          posexplode(graft.ops.Text.tokens(col("text"))).as(Seq("pos0", "word")))
        .withColumn("idx", col("off") + col("pos0"))
        .withColumn("bin", expr("idx div 256"))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_tok"),
          md5(concat_ws(" ", expr(
            "transform(sort_array(collect_list(struct(idx, word))), x -> x.word)")))
            .as("fp"))
        .orderBy("shard", "bin")
    },
      Some(s"""WITH t AS (
              |  SELECT doc_id,
              |    len(list_filter(string_split(text,' '),
              |        x -> len(x) > 0)) AS n_tok,
              |    CAST(${hSql("CAST(doc_id AS VARCHAR)", "|pack")} % 8
              |      AS INT) AS shard
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, shard,
              |    CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
              |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS off
              |  FROM t),
              |w0 AS (
              |  SELECT doc_id,
              |    generate_subscripts(string_split(text,' '),1) AS pos,
              |    unnest(string_split(text,' ')) AS word
              |  FROM documents),
              |w AS (
              |  SELECT doc_id,
              |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
              |    word
              |  FROM w0 WHERE len(word) > 0),
              |placed AS (
              |  SELECT c.shard, w.word, c.off + w.pos - 1 AS idx
              |  FROM w JOIN c ON w.doc_id = c.doc_id)
              |SELECT shard, idx // 256 AS bin, COUNT(*) AS n_tok,
              |  md5(string_agg(word, ' ' ORDER BY idx)) AS fp
              |FROM placed GROUP BY shard, idx // 256
              |ORDER BY shard, bin""".stripMargin)),

    // Temperature-scaled mixture sampling (multilingual-LM style):
    // per-language sampling mass ∝ n^(1/2) (T=2), so low-resource
    // languages are up-weighted relative to proportional sampling —
    // the standard cure for high-resource dominance. Weights are
    // floor(sqrt(n)) (IEEE sqrt is correctly rounded, so floor is
    // engine-identical); target total = half the corpus; per-doc
    // membership via the salted hash. One tiny aggregate broadcasts
    // back — the same no-shuffle membership shape as a05/a08.
    Q("a21_temperature_mix", (s, d) => {
      val base = docs(s, d)
      val counts = base.groupBy("lang").agg(count(lit(1)).as("n"))
        .withColumn("w",
          floor(sqrt(col("n").cast("double"))).cast("long"))
      val tot = counts.agg(sum("n").as("nt"), sum("w").as("sw"))
      val thr = counts.crossJoin(broadcast(tot))
        .select(col("lang"),
          expr("((nt div 2) * w * 10000) div (sw * n)").as("thr"))
      base.join(broadcast(thr), "lang")
        .filter(Split.bucket(col("doc_id"), "temp") < col("thr"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      Some(s"""WITH c AS (
              |  SELECT lang, COUNT(*) AS n,
              |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
              |  FROM documents GROUP BY lang),
              |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
              |             CAST(SUM(w) AS BIGINT) AS sw FROM c),
              |thr AS (
              |  SELECT lang, ((nt // 2) * w * 10000) // (sw * n) AS thr
              |  FROM c, t)
              |SELECT doc_id, lang
              |FROM documents JOIN thr USING (lang)
              |WHERE ${hSql("CAST(doc_id AS VARCHAR)", "|temp")} % 10000 < thr
              |ORDER BY doc_id""".stripMargin)),

    // Leakage-safe train/test split: membership is hashed from the
    // bag-of-words DUP KEY, not the row id — every (near-)duplicate
    // of a document lands in the same split by construction, so a
    // test document can never have a training-set twin (the
    // train/test contamination channel row-id splits leave open).
    // Same narrow-map scale shape as a05: no shuffle, no dup-group
    // materialization — co-assignment falls out of hashing the key.
    Q("a20_leakage_split", (s, d) => {
      val keyed = docs(s, d).select(col("doc_id"),
        Dedup.bagOfWordsKey(col("text")).as("k"))
      Split.assign(keyed, "k", Seq("train" -> 9000, "test" -> 1000),
          saltName = "lsplit")
        .select("doc_id", "split")
        .orderBy("doc_id")
    },
      Some(s"""SELECT doc_id,
              |  CASE WHEN ${hSql(
                   "md5(array_to_string(list_sort(list_distinct(" +
                     "list_filter(string_split(text,' '), " +
                     "w -> w <> ''))),' '))", "|lsplit")}
              |    % 10000 < 9000 THEN 'train' ELSE 'test' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // A27: per-source DISTRIBUTION-DRIFT monitor — the corpus-ops
    // check a continuously-ingesting pipeline runs so one source
    // drifting (shorter docs, boilerplate floods, truncation bugs)
    // is caught BEFORE it skews the training mixture. Each source's
    // doc-length histogram (10 fixed 100-word bands, top band open) is
    // compared to the whole corpus's as an integer chi-square-style
    // statistic: drift_ppb = sum_b (obs_ppm - exp_ppm)^2 * 1000 /
    // max(exp_ppm, 1), where exp is the corpus band share and obs the
    // source's. Pure integer arithmetic (ppm shares, floor division)
    // so the oracle replays it bit-exactly; the (source x band) table
    // is bounded at any corpus size, and the only corpus pass is one
    // narrow length scan into a keyed aggregate with map-side
    // partials.
    Q("a27_source_drift", (s, d) => {
      // feeds corpus bands + per-source rollup
      val b = Materialize(docs(s, d).select(col("source"),
        least(expr("size(filter(split(text, ' '), w -> w != '')) div 100"),
          lit(9L)).as("band"))
        .groupBy("source", "band").agg(count(lit(1)).as("n_sb")))
      val corp = b.groupBy("band").agg(sum("n_sb").as("n_b"))
        .crossJoin(broadcast(
          b.agg(sum("n_sb").as("n"))))
        .select(col("band"), expr("(n_b * 1000000) div n").as("exp_ppm"))
      val src = b.groupBy("source").agg(sum("n_sb").as("n_s"))
      b.join(src, "source")
        .withColumn("obs_ppm", expr("(n_sb * 1000000) div n_s"))
        .join(broadcast(corp), "band")
        .groupBy("source")
        .agg(max("n_s").as("n_docs"),
          sum(expr("((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) * 1000)" +
            " div greatest(exp_ppm, 1)")).as("drift_ppb"))
        .select(col("source"), col("n_docs"), col("drift_ppb"))
        .orderBy("source")
    },
      Some("""WITH b AS (
             |  SELECT source,
             |    LEAST(len(list_filter(string_split(text, ' '),
             |      w -> len(w) > 0)) // 100, 9) AS band,
             |    COUNT(*) AS n_sb
             |  FROM documents GROUP BY 1, 2),
             |corp AS (
             |  SELECT band,
             |    (SUM(n_sb) * 1000000) // (SELECT SUM(n_sb) FROM b) AS exp_ppm
             |  FROM b GROUP BY band),
             |src AS (SELECT source, SUM(n_sb) AS n_s FROM b GROUP BY source)
             |SELECT b.source, CAST(MAX(n_s) AS BIGINT) AS n_docs,
             |  CAST(SUM(
             |    (((n_sb * 1000000) // n_s - exp_ppm)
             |     * ((n_sb * 1000000) // n_s - exp_ppm) * 1000)
             |    // GREATEST(exp_ppm, 1)) AS BIGINT) AS drift_ppb
             |FROM b JOIN src ON b.source = src.source
             |JOIN corp ON b.band = corp.band
             |GROUP BY b.source ORDER BY b.source""".stripMargin)),

    // A28: CAPPED temperature mixture — the water-filling step real
    // mixture planning needs on top of a21/a24's raw temperature
    // weights: a small high-weight source can be allocated more
    // tokens than it HAS (upsampling beyond ~1 epoch degrades), so
    // each source is capped at its own token mass and the excess is
    // redistributed among uncapped sources proportionally to their
    // weights — one redistribution round here (sources that cap in
    // round 1 are fixed, round 2 reallocates the freed budget; at 20
    // sources the fixpoint is reached in 1-2 rounds and every round
    // is a source-bounded 20-row computation, free at any corpus
    // size). All integer floor division; epochs_ppm = alloc/tokens
    // shows the sampling pressure per source.
    Q("a28_capped_mixture", (s, d) => {
      // 20-row frame; feeds three total splices
      val ps = Materialize(docs(s, d).select(col("source"),
          expr("size(filter(split(text, ' '), w -> w != ''))")
            .cast("long").as("dl"))
        .groupBy("source").agg(sum("dl").as("tokens"))
        .withColumn("w",
          floor(sqrt(col("tokens").cast("double"))).cast("long")))
      val t0 = ps.agg(sum("tokens").as("tt"), sum("w").as("sw"))
      val r1 = ps.crossJoin(broadcast(t0))
        .withColumn("b", expr("tt div 2"))
        .withColumn("raw1", expr("(b * w) div sw"))
        .withColumn("capped", (col("raw1") >= col("tokens")).cast("long"))
      val t1 = r1.agg(
        sum(when(col("capped") === 1L, col("tokens"))).as("fixed"),
        sum(when(col("capped") === 0L, col("w"))).as("sw2"))
      r1.crossJoin(broadcast(t1))
        .withColumn("alloc",
          when(col("capped") === 1L, col("tokens"))
            .otherwise(least(col("tokens"),
              expr("((b - coalesce(fixed, 0)) * w) div sw2"))))
        .select(col("source"), col("tokens"), col("w"), col("capped"),
          col("alloc"),
          expr("(alloc * 1000000) div tokens").as("epochs_ppm"))
        .orderBy("source")
    },
      Some("""WITH ps AS (
             |  SELECT source,
             |    CAST(SUM(len(list_filter(string_split(text, ' '),
             |      w -> len(w) > 0))) AS BIGINT) AS tokens
             |  FROM documents GROUP BY source),
             |pw AS (
             |  SELECT source, tokens,
             |    CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS w
             |  FROM ps),
             |t0 AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tt,
             |              CAST(SUM(w) AS BIGINT) AS sw FROM pw),
             |r1 AS (
             |  SELECT pw.*, tt // 2 AS b, ((tt // 2) * w) // sw AS raw1,
             |    CASE WHEN ((tt // 2) * w) // sw >= tokens
             |      THEN 1 ELSE 0 END AS capped
             |  FROM pw, t0),
             |t1 AS (
             |  SELECT CAST(SUM(CASE WHEN capped = 1 THEN tokens END)
             |           AS BIGINT) AS fixed,
             |         CAST(SUM(CASE WHEN capped = 0 THEN w END)
             |           AS BIGINT) AS sw2
             |  FROM r1)
             |SELECT source, tokens, w, CAST(capped AS BIGINT) AS capped,
             |  CASE WHEN capped = 1 THEN tokens
             |    ELSE LEAST(tokens,
             |      ((b - COALESCE(fixed, 0)) * w) // sw2) END AS alloc,
             |  (CASE WHEN capped = 1 THEN tokens
             |    ELSE LEAST(tokens,
             |      ((b - COALESCE(fixed, 0)) * w) // sw2) END * 1000000)
             |    // tokens AS epochs_ppm
             |FROM r1, t1 ORDER BY source""".stripMargin)),

    // A24: the END-TO-END curation manifest — the whole preprocessing
    // chain a training run actually consumes, composed in ONE plan:
    // exact-dedup keepers (d01's fingerprint), a length band, eval-set
    // DECONTAMINATION (a11's shared-3-gram test as a left-anti gate,
    // the eval slice itself excluded from the corpus), then per-source
    // temperature-mixture allocation (a21's integer sqrt weights over
    // KEPT token mass) of a half-total token budget, with the final
    // per-source sampling rate in ppm. Scale shape: keeper resolution
    // is one fp-keyed aggregate; decontamination shuffles the shingle
    // stream once against a broadcast eval-shingle set; everything
    // after the doc-keyed joins is a 20-row source rollup — no
    // all-pairs stage, no driver loop. This is the manifest d17
    // (keep/drop flags) stops short of: what to TRAIN ON, per source,
    // under a token budget.
    Q("a24_full_curation", (s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") % 100 =!= 0)
      val base = corpus.select(col("doc_id"), col("source"),
        expr("size(filter(split(text, ' '), w -> w != ''))")
          .cast("long").as("dl"))
      val keep = corpus
        .select(Text.fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy("fp").agg(min("doc_id").as("keep_id"))
      val sh = shingleHashes(docs(s, d))
      val evalSh = sh.filter(col("doc_id") % 100 === 0)
        .select("sh").distinct()
      val contam = sh.filter(col("doc_id") % 100 =!= 0)
        .join(broadcast(evalSh), "sh").select("doc_id").distinct()
      val kept = base
        .join(keep.select(col("keep_id").as("doc_id")), "doc_id")
        .join(contam, Seq("doc_id"), "left_anti")
        .filter(col("dl").between(20, 2000))
      val perSrc = kept.groupBy("source")
        .agg(count(lit(1)).as("docs_kept"), sum("dl").as("tokens_kept"))
        .withColumn("w",
          floor(sqrt(col("tokens_kept").cast("double"))).cast("long"))
      val tot = perSrc.agg(sum("tokens_kept").as("tt"), sum("w").as("sw"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("docs_kept"), col("tokens_kept"),
          expr("((tt div 2) * w) div sw").as("alloc_tokens"),
          least(expr("(((tt div 2) * w) div sw) * 1000000 div tokens_kept"),
            lit(1000000L)).as("rate_ppm"))
        .orderBy("source")
    },
      Some("""WITH c AS (
             |  SELECT doc_id, source, text,
             |    len(list_filter(string_split(text, ' '),
             |        w -> len(w) > 0)) AS dl
             |  FROM documents WHERE doc_id % 100 <> 0),
             |k AS (
             |  SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
             |    AS fp, MIN(doc_id) AS keep_id
             |  FROM c GROUP BY 1),
             |w AS (
             |  SELECT doc_id,
             |    generate_subscripts(string_split(text,' '),1) AS pos,
             |    unnest(string_split(text,' ')) AS word
             |  FROM documents),
             |g3 AS (
             |  SELECT DISTINCT a.doc_id,
             |    a.word || ' ' || b.word || ' ' || cc.word AS sh
             |  FROM w a
             |  JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  JOIN w cc ON a.doc_id = cc.doc_id AND cc.pos = a.pos + 2),
             |ev AS (SELECT DISTINCT sh FROM g3 WHERE doc_id % 100 = 0),
             |contam AS (
             |  SELECT DISTINCT g3.doc_id FROM g3 JOIN ev USING (sh)
             |  WHERE g3.doc_id % 100 <> 0),
             |kept AS (
             |  SELECT c.doc_id, c.source, c.dl
             |  FROM c JOIN k ON c.doc_id = k.keep_id
             |  WHERE c.doc_id NOT IN (SELECT doc_id FROM contam)
             |    AND c.dl BETWEEN 20 AND 2000),
             |ps AS (
             |  SELECT source, COUNT(*) AS docs_kept,
             |    CAST(SUM(dl) AS BIGINT) AS tokens_kept,
             |    CAST(floor(sqrt(CAST(SUM(dl) AS DOUBLE))) AS BIGINT) AS w
             |  FROM kept GROUP BY source),
             |t AS (SELECT CAST(SUM(tokens_kept) AS BIGINT) AS tt,
             |             CAST(SUM(w) AS BIGINT) AS sw FROM ps)
             |SELECT source, docs_kept, tokens_kept,
             |  ((tt // 2) * w) // sw AS alloc_tokens,
             |  LEAST((((tt // 2) * w) // sw) * 1000000 // tokens_kept,
             |    1000000) AS rate_ppm
             |FROM ps, t ORDER BY source""".stripMargin)),

    // A25: LEARNED quality filter — the CCNet / GPT-3 shape (train a
    // cheap linear model to imitate a labeling rule, then gate the
    // corpus with the model) with m10's exact-integer discipline so
    // even the TRAINING is oracle-replayable: ridge normal equations
    // on [1, n_words, stop_ppm] against the a02 heuristic label, 3x3
    // Cramer solve in driver BigInt (nano-scaled coefficients — the
    // ppm-scale feature needs ~1e-6 coefficient resolution, so m10's
    // milli scale would truncate beta_2 to zero), then one scoring
    // pass and the probe-vs-heuristic confusion matrix. The
    // disagreement cells are the POINT: a linear probe cannot express
    // the label's length BAND (non-monotone in n_words), which is
    // exactly the fidelity question a production probe audit asks.
    // Scale shape: ONE aggregate (9 sums, map-side partials) trains;
    // ONE narrow pass scores; the confusion is a 4-row rollup.
    Q("a25_quality_probe", (s, d) => {
      import s.implicits._
      // integer label: stop_ratio < 0.2  <=>  5 * n_stop < n_words
      // feeds the training aggregate AND scoring
      val f = Materialize(docs(s, d).select(
        size(split(col("text"), " ")).cast("long").as("x1"),
        Text.markerCount(col("text"), "the").as("ns"))
        .select(col("x1"), expr("ns * 1000000 div x1").as("x2"),
          when(col("x1").between(30, 1000) &&
            col("ns") * 5 < col("x1"), 1L).otherwise(0L).as("y")))
      val r = f.agg(
        count(lit(1)).as("n"), sum("x1").as("sx1"), sum("x2").as("sx2"),
        sum(col("x1") * col("x1")).as("sx11"),
        sum(col("x1") * col("x2")).as("sx12"),
        sum(col("x2") * col("x2")).as("sx22"),
        sum("y").as("sy"), sum(col("x1") * col("y")).as("sx1y"),
        sum(col("x2") * col("y")).as("sx2y")).collect()(0)
      val lam = BigInt(1000)
      val a00 = BigInt(r.getLong(0)); val a01 = BigInt(r.getLong(1))
      val a02c = BigInt(r.getLong(2))
      val a11 = BigInt(r.getLong(3)) + lam; val a12 = BigInt(r.getLong(4))
      val a22 = BigInt(r.getLong(5)) + lam
      val b0 = BigInt(r.getLong(6)); val b1 = BigInt(r.getLong(7))
      val b2 = BigInt(r.getLong(8))
      val det = a00 * (a11 * a22 - a12 * a12) -
        a01 * (a01 * a22 - a12 * a02c) + a02c * (a01 * a12 - a11 * a02c)
      val det0 = b0 * (a11 * a22 - a12 * a12) -
        a01 * (b1 * a22 - a12 * b2) + a02c * (b1 * a12 - a11 * b2)
      val det1 = a00 * (b1 * a22 - b2 * a12) -
        b0 * (a01 * a22 - a12 * a02c) + a02c * (a01 * b2 - b1 * a02c)
      val det2 = a00 * (a11 * b2 - a12 * b1) -
        a01 * (a01 * b2 - b1 * a02c) + b0 * (a01 * a12 - a11 * a02c)
      require(det != 0, "a25: singular probe system")
      val nano = BigInt(1000000000L)
      val (c0, c1, c2) = ((det0 * nano / det).toLong,
        (det1 * nano / det).toLong, (det2 * nano / det).toLong)
      f.withColumn("score",
          lit(c0) + lit(c1) * col("x1") + lit(c2) * col("x2"))
        .withColumn("pred",
          when(col("score") * 2 >= 1000000000L, 1L).otherwise(0L))
        .groupBy(col("y").as("label"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "pred")
    },
      Some("""WITH f AS (
             |  SELECT
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
             |    (len(list_filter(string_split(text, ' '), x -> x = 'the'))
             |      * 1000000) // len(string_split(text, ' ')) AS x2,
             |    CASE WHEN len(string_split(text, ' ')) BETWEEN 30 AND 1000
             |      AND len(list_filter(string_split(text, ' '),
             |            x -> x = 'the')) * 5
             |          < len(string_split(text, ' '))
             |      THEN 1 ELSE 0 END AS y
             |  FROM documents),
             |m AS (
             |  SELECT COUNT(*) AS n, SUM(x1) AS sx1, SUM(x2) AS sx2,
             |    SUM(x1*x1) AS sx11, SUM(x1*x2) AS sx12,
             |    SUM(x2*x2) AS sx22, SUM(y) AS sy,
             |    SUM(x1*y) AS sx1y, SUM(x2*y) AS sx2y
             |  FROM f),
             |a AS (
             |  SELECT CAST(n AS HUGEINT) AS a00, CAST(sx1 AS HUGEINT) AS a01,
             |    CAST(sx2 AS HUGEINT) AS a02,
             |    CAST(sx11 + 1000 AS HUGEINT) AS a11,
             |    CAST(sx12 AS HUGEINT) AS a12,
             |    CAST(sx22 + 1000 AS HUGEINT) AS a22,
             |    CAST(sy AS HUGEINT) AS b0, CAST(sx1y AS HUGEINT) AS b1,
             |    CAST(sx2y AS HUGEINT) AS b2
             |  FROM m),
             |dets AS (
             |  SELECT
             |    a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02)
             |      + a02*(a01*a12 - a11*a02) AS det,
             |    b0*(a11*a22 - a12*a12) - a01*(b1*a22 - a12*b2)
             |      + a02*(b1*a12 - a11*b2) AS det0,
             |    a00*(b1*a22 - b2*a12) - b0*(a01*a22 - a12*a02)
             |      + a02*(a01*b2 - b1*a02) AS det1,
             |    a00*(a11*b2 - a12*b1) - a01*(a01*b2 - b1*a02)
             |      + b0*(a01*a12 - a11*a02) AS det2
             |  FROM a),
             |sc AS (
             |  SELECT f.y,
             |    CASE WHEN 2 * (CAST((det0 * 1000000000) // det AS BIGINT)
             |        + CAST((det1 * 1000000000) // det AS BIGINT) * f.x1
             |        + CAST((det2 * 1000000000) // det AS BIGINT) * f.x2)
             |      >= 1000000000 THEN 1 ELSE 0 END AS pred
             |  FROM f, dets)
             |SELECT CAST(y AS BIGINT) AS label, CAST(pred AS BIGINT) AS pred,
             |  COUNT(*) AS n
             |FROM sc GROUP BY y, pred ORDER BY label, pred""".stripMargin))
  )
}
