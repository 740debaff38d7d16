package graft.queries

import graft.Tables
import graft.ops.{Exact, Materialize, Text}
import graft.expressions.SentenceWords.sentence_words
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second text batch: the custom one-pass sentence+word Generator and
  * a q18-style composite (regression -> gazetteer -> corpus mention
  * counting) on the testdata mapping.
  */
object TextQueries2 extends Suite {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  val qs: Seq[Q] = Seq(

    // Custom Generator: single-pass sentence+word tokenization with
    // positions (SURVEY §2e). Sentence breaks are synthesized by
    // turning ' slow ' into '. ' (the corpus has no punctuation).
    Q("t14_sentence_words", (s, d) =>
      docs(s, d).filter(col("doc_id") < 50)
        .withColumn("t", call_function("replace",
          col("text"), lit(" slow "), lit(". ")))
        .select(col("doc_id"), sentence_words(col("t"))
          .as(Seq("sentence_idx", "word_idx", "sentence", "word")))
        .orderBy("doc_id", "sentence_idx", "word_idx"),
      Some("""WITH d2 AS (
             |  SELECT doc_id, replace(text, ' slow ', '. ') AS t
             |  FROM documents WHERE doc_id < 50),
             |s AS (
             |  SELECT doc_id,
             |    generate_subscripts(string_split(t,'.'),1) AS si,
             |    unnest(string_split(t,'.')) AS sent
             |  FROM d2),
             |st AS (
             |  SELECT doc_id, si, trim(sent) AS sentence FROM s
             |  WHERE len(trim(sent)) > 0),
             |w AS (
             |  SELECT doc_id, si AS sentence_idx,
             |    generate_subscripts(string_split(sentence,' '),1) AS word_idx,
             |    sentence,
             |    unnest(string_split(sentence,' ')) AS word
             |  FROM st)
             |SELECT doc_id, sentence_idx, word_idx, sentence, word
             |FROM w WHERE len(word) > 0
             |ORDER BY doc_id, sentence_idx, word_idx""".stripMargin)),

    // q18 composite on the testdata mapping: brands with declining
    // monthly revenue (closed-form slope < 0), counted by how many
    // documents mention any word of their part names
    // (ref: queries/q18/..._dask_sql.py:47-246).
    Q("b18_declining_mentions", (s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val p = Tables.load(s, d, "part")
      val monthly = li
        .join(broadcast(p.select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("m",
          (year(to_date(col("l_shipdate"))) - 1995) * 12 +
            month(to_date(col("l_shipdate"))))
        .groupBy("p_brand", "m")
        .agg(Exact.dsumDec(col("l_extendedprice")).as("rev"))
      val declining = monthly.groupBy("p_brand")
        .agg(Exact.dslope(col("m"), col("rev").cast("double")).as("slope"))
        .filter(col("slope") < 0)
      val gaz = p.join(broadcast(declining.select("p_brand")), "p_brand")
        .select(col("p_brand"), explode(split(col("p_name"), " ")).as("word"))
        .distinct()
      Text.words(docs(s, d), "doc_id", "text")
        .join(broadcast(gaz), "word")
        .groupBy("p_brand")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("p_brand")
    },
      Some("""WITH monthly AS (
             |  SELECT p_brand,
             |    (year(CAST(l_shipdate AS DATE)) - 1995) * 12
             |      + month(CAST(l_shipdate AS DATE)) AS m,
             |    SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS rev
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1, 2),
             |sums AS (
             |  SELECT p_brand, CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(m AS DECIMAL(18,0))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(rev AS DECIMAL(14,2))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(m AS DECIMAL(18,0)) * CAST(m AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(m AS DECIMAL(18,0)) * CAST(rev AS DECIMAL(14,2))) AS DOUBLE) AS sxy
             |  FROM monthly GROUP BY p_brand),
             |declining AS (
             |  SELECT p_brand FROM sums
             |  WHERE n * sxx - sx * sx <> 0
             |    AND round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) < 0),
             |gaz AS (
             |  SELECT DISTINCT p_brand, unnest(string_split(p_name,' ')) AS word
             |  FROM part JOIN declining USING (p_brand)),
             |w AS (
             |  SELECT doc_id, w2 AS word FROM (
             |    SELECT doc_id, unnest(string_split(text,' ')) AS w2 FROM documents)
             |  WHERE len(w2) > 0)
             |SELECT p_brand, COUNT(DISTINCT doc_id) AS n_docs
             |FROM gaz JOIN w USING (word)
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // Array higher-order functions over the token array — size /
    // array_distinct / aggregate (fold) / slice / array_contains, all
    // computed NARROW (no explode, no shuffle): the token array stays
    // inside one projection, which is the 100 TB-friendly shape for
    // per-document features.
    Q("t16_array_hofs", (s, d) =>
      docs(s, d)
        .withColumn("tokens",
          filter(split(col("text"), " "), w => length(w) > 0))
        .select(col("doc_id"),
          size(col("tokens")).as("n_tokens"),
          size(array_distinct(col("tokens"))).as("n_distinct"),
          aggregate(col("tokens"), lit(0),
            (acc, x) => acc + length(x)).as("total_chars"),
          concat_ws("_", slice(col("tokens"), 1, 3)).as("first3"),
          array_contains(col("tokens"), "the").as("has_the"))
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> len(x) > 0)
             |      AS tokens
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(tokens) AS INT) AS n_tokens,
             |  CAST(len(list_distinct(tokens)) AS INT) AS n_distinct,
             |  CAST(coalesce(list_sum(list_transform(tokens, x -> len(x))), 0)
             |    AS INT) AS total_chars,
             |  array_to_string(tokens[1:3], '_') AS first3,
             |  list_contains(tokens, 'the') AS has_the
             |FROM t ORDER BY doc_id""".stripMargin)),

    // Fuzzy matching: edit-distance near-duplicate part names — the
    // string-similarity member of the dedup family (exact integer
    // distances, engine-identical). Candidate pairs capped by key and
    // prefiltered on length difference (a cheap upper-bound prune that
    // any edit-distance join needs at scale: |len(a)-len(b)| <= k).
    Q("t17_fuzzy_levenshtein", (s, d) => {
      val p = Tables.load(s, d, "part")
        .filter(col("p_partkey") < 300)
        .select(col("p_partkey").as("pk"), col("p_name").as("name"))
      p.as("a").join(p.as("b"), col("a.pk") < col("b.pk"))
        .filter(abs(length(col("a.name")) - length(col("b.name"))) <= 4)
        .withColumn("dist", levenshtein(col("a.name"), col("b.name")))
        .filter(col("dist") <= 4)
        .select(col("a.pk").as("pk_1"), col("b.pk").as("pk_2"), col("dist"))
        .orderBy("pk_1", "pk_2")
    },
      Some("""WITH p AS (
             |  SELECT p_partkey AS pk, p_name AS name FROM part
             |  WHERE p_partkey < 300)
             |SELECT a.pk AS pk_1, b.pk AS pk_2,
             |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
             |FROM p a JOIN p b ON a.pk < b.pk
             |WHERE abs(len(a.name) - len(b.name)) <= 4
             |  AND levenshtein(a.name, b.name) <= 4
             |ORDER BY pk_1, pk_2""".stripMargin)),

    // The END-TO-END corpus-curation composition — what the dedup /
    // lang-ID / quality operators exist FOR: keep documents that are
    // (a) the exact-dedup keeper of their fingerprint group,
    // (b) predicted English, (c) inside the quality envelope. One
    // declarative plan: Catalyst fuses the feature projections into a
    // single scan, and the dedup keeper check is one aggregation +
    // self-equi-join.
    Q("d17_corpus_curation", (s, d) => {
      val markers = Seq(
        "en" -> Seq("the", "a"), "de" -> Seq("der", "und"),
        "es" -> Seq("el", "y"), "fr" -> Seq("le", "et"))
      // ONE count_markers kernel pass counts all 8 stopword markers
      // (plus n_stop, element 1) per doc — Text.langId's composed
      // form ran one full-text replace COPY per marker (9 per doc);
      // the argmax/tie composition below is langId's, verbatim, over
      // the counts array
      val flat = markers.flatMap(_._2)
      // explode(array(...)): Generate barrier so the counts array is
      // evaluated ONCE per row — ~10 downstream references would
      // otherwise re-run the kernel per reference after
      // CollapseProject
      val withC = docs(s, d).select(col("doc_id"), col("text"),
        explode(array(graft.expressions.GraftFunctions
          .count_markers(col("text"), flat))).as("__c"))
      val offs = markers.map(_._2.length).scanLeft(0)(_ + _)
      val scores = markers.zipWithIndex.map { case ((lang, ws), li) =>
        lang -> ws.indices
          .map(j => element_at(col("__c"), offs(li) + j + 1))
          .reduce(_ + _)
      }
      val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
      val pred = scores.foldRight(lit("unknown")) { case ((lang, sc), acc) =>
        when(sc === best && best > 0, lit(lang)).otherwise(acc)
      }
      val scored = withC.select(col("doc_id"),
        pred.as("pred_lang"),
        size(split(col("text"), " ")).as("n_words"),
        element_at(col("__c"), 1).as("n_stop"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_words"))
      val keepers = docs(s, d)
        .select(Text.fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy("fp").agg(min("doc_id").as("keep_id"))
      scored.join(keepers, col("doc_id") === col("keep_id"))
        .filter(col("pred_lang") === "en" &&
          col("n_words").between(30, 1000) && col("stop_ratio") < 0.2)
        .select("doc_id", "n_words", "stop_ratio")
        .orderBy("doc_id")
    },
      Some("""WITH c AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    len(list_filter(w, x -> x = 'the')) AS n_the,
             |    len(list_filter(w, x -> x = 'a')) AS n_a,
             |    len(list_filter(w, x -> x = 'der'))
             |      + len(list_filter(w, x -> x = 'und')) AS s_de,
             |    len(list_filter(w, x -> x = 'el'))
             |      + len(list_filter(w, x -> x = 'y')) AS s_es,
             |    len(list_filter(w, x -> x = 'le'))
             |      + len(list_filter(w, x -> x = 'et')) AS s_fr,
             |    len(w) AS n_words,
             |    len(list_filter(w, x -> x = 'the')) AS n_stop
             |  FROM c),
             |f AS (
             |  SELECT doc_id, n_words,
             |    CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
             |    CASE
             |      WHEN n_the + n_a >= greatest(n_the + n_a, s_de, s_es, s_fr)
             |           AND n_the + n_a > 0 THEN 'en'
             |      WHEN s_de >= greatest(s_de, s_es, s_fr) AND s_de > 0 THEN 'de'
             |      WHEN s_es >= greatest(s_es, s_fr) AND s_es > 0 THEN 'es'
             |      WHEN s_fr > 0 THEN 'fr'
             |      ELSE 'unknown' END AS pred_lang
             |  FROM m),
             |k AS (
             |  SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp,
             |    MIN(doc_id) AS keep_id
             |  FROM documents GROUP BY 1)
             |SELECT doc_id, n_words, stop_ratio
             |FROM f JOIN k ON doc_id = keep_id
             |WHERE pred_lang = 'en' AND n_words BETWEEN 30 AND 1000
             |  AND stop_ratio < 0.2
             |ORDER BY doc_id""".stripMargin)),

    // Inverted-index build: term -> (document frequency, total term
    // frequency, sorted posting list). Two-level aggregation: the
    // (term, doc) partial collapses duplicates map-side BEFORE the
    // by-term shuffle, so the exchange carries one row per distinct
    // (term, doc) — not one per token occurrence. Posting lists are
    // bounded by corpus df; at web scale the long tail is fine and the
    // stopword head is exactly what CmsAgg heavy-hitter detection
    // flags for segmented/blocked posting storage.
    Q("t19_inverted_index", (s, d) => {
      Text.words(docs(s, d), "doc_id", "text")
        .groupBy("word", "doc_id")
        .agg(count(lit(1)).as("tf"))
        .groupBy("word")
        .agg(count(lit(1)).as("df"),
          sum("tf").as("tf_total"),
          // joined to a string: keeps the cross-engine compare scalar
          // (same discipline as o41_collect_sorted)
          array_join(sort_array(collect_list(col("doc_id")))
            .cast("array<string>"), ",").as("postings"))
        .orderBy("word")
    },
      Some("""WITH w AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
             |  FROM documents),
             |wf AS (
             |  SELECT word, doc_id, COUNT(*) AS tf
             |  FROM w WHERE len(word) > 0 GROUP BY 1, 2)
             |SELECT word, COUNT(*) AS df,
             |  CAST(SUM(tf) AS BIGINT) AS tf_total,
             |  array_to_string(list_sort(list(doc_id)), ',') AS postings
             |FROM wf GROUP BY word ORDER BY word""".stripMargin)),

    // Keyword extraction: top-3 terms per doc by EXACT integer tf-idf
    // weight tf * ((N+1)*1e6 div (df+1)) — the float ln stays out of
    // the gate (t18's discipline), ties broken lexicographically so
    // the top-k is total-ordered and engine-independent. The
    // row_number()<=k idiom is exactly what TopKRewrite turns into
    // TopKPerKeyExec when installed (x08).
    Q("t20_keyword_topk", (s, d) => {
      val w = Text.words(docs(s, d), "doc_id", "text")
      val tf = w.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = w.groupBy("word").agg(countDistinct("doc_id").as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val win = Window.partitionBy("doc_id")
        .orderBy(desc("weight"), asc("word"))
      tf.join(dfreq, "word").crossJoin(broadcast(n))
        .withColumn("weight",
          expr("tf * ((n_docs + 1) * 1000000 div (df + 1))"))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= 3 && col("doc_id") < 100)
        .select("doc_id", "rk", "word", "tf", "df", "weight")
        .orderBy("doc_id", "rk")
    },
      Some("""WITH w AS (
             |  SELECT doc_id, w AS word FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  WHERE len(w) > 0),
             |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
             |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT doc_id, word, tf, df,
             |    tf * (((n_docs + 1) * 1000000) // (df + 1)) AS weight
             |  FROM tf JOIN df USING (word), n),
             |ranked AS (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY weight DESC, word) AS rk
             |  FROM scored)
             |SELECT doc_id, rk, word, tf, df, CAST(weight AS BIGINT) AS weight
             |FROM ranked WHERE rk <= 3 AND doc_id < 100
             |ORDER BY doc_id, rk""".stripMargin)),

    // Word co-occurrence + PMI: document-level pair counts against
    // the independence expectation, kept in exact integer ppm space
    // (ratio = c_xy*N / (c_x*c_y); PMI's log is monotone in it, so
    // ranking/thresholding needs no float). The pair stream is the
    // within-doc distinct self-join (O13's shape applied to words);
    // marginals join back by term — broadcast-sized here, term-keyed
    // shuffles at web scale.
    Q("t21_pmi_cooccur", (s, d) => {
      import s.implicits._
      // Per-doc distinct words stay NARROW (array_distinct behind the
      // split — no corpus-wide distinct exchange); materialized once
      // for its two consumers (df counts + the pair pass).
      val wd = Materialize(docs(s, d).select(col("doc_id"),
        expr("array_distinct(filter(split(text, ' '), w -> w != ''))")
          .as("ws")))
      val cx = wd.select(explode(col("ws")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      // Apriori prune: c_xy <= min(c_x, c_y), so a pair surviving
      // c_xy >= 20 only involves df>=20 words — only the head
      // vocabulary gets ids (sorted, so id order == the oracle's
      // lexicographic pair order). Pair counting itself is the
      // blob-packed dense-slice operator (see CoOccur scaladoc:
      // 14 -> 1.8 s at sf1 vs the explode+groupBy form); words and
      // marginals are decoded back only on the ~400k survivors.
      val idRows = graft.ops.Guards.boundedCollect(
        cx.filter(col("c") >= 20).orderBy("word"),
        "t21 head vocabulary (df >= 20)",
        "raise the df cut, or switch to CoOccur.pairCountsAuto " +
          "(routes broadcast<->join at this bound by itself; the " +
          "join route is vocabIds + pairCountsJoin, proven " +
          "count-equal in CoOccurSpec; exercised end-to-end by t32)")
      val vocab = idRows.map(_.getString(0))
      val pairs = graft.ops.CoOccur.pairCounts(
        wd, "ws", vocab, minCount = 20,
        parts = s.sessionState.conf.numShufflePartitions)
      val ids = idRows.toSeq.zipWithIndex
        .map { case (r, i) => (i, r.getString(0), r.getLong(1)) }
        .toDF("id", "word", "c")
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      pairs
        .join(broadcast(ids.select(col("id").as("id1"),
          col("word").as("w1"), col("c").as("c_x"))), "id1")
        .join(broadcast(ids.select(col("id").as("id2"),
          col("word").as("w2"), col("c").as("c_y"))), "id2")
        .crossJoin(broadcast(n))
        .withColumn("pmi_ratio_ppm",
          expr("c_xy * n_docs * 1000000 div (c_x * c_y)"))
        .select("w1", "w2", "c_xy", "c_x", "c_y", "pmi_ratio_ppm")
        .orderBy("w1", "w2")
    },
      Some("""WITH wd AS (
             |  SELECT DISTINCT doc_id, w AS word FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  WHERE len(w) > 0),
             |cx AS (SELECT word, COUNT(*) AS c FROM wd GROUP BY 1),
             |pairs AS (
             |  SELECT a.word AS w1, b.word AS w2, COUNT(*) AS c_xy
             |  FROM wd a JOIN wd b
             |    ON a.doc_id = b.doc_id AND a.word < b.word
             |  GROUP BY 1, 2),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents)
             |SELECT w1, w2, c_xy, ca.c AS c_x, cb.c AS c_y,
             |  CAST((c_xy * n_docs * 1000000) // (ca.c * cb.c) AS BIGINT)
             |    AS pmi_ratio_ppm
             |FROM pairs JOIN cx ca ON pairs.w1 = ca.word
             |           JOIN cx cb ON pairs.w2 = cb.word, n
             |WHERE c_xy >= 20
             |ORDER BY w1, w2""".stripMargin)),

    // T32: PMI through the AUTO-ROUTED co-occurrence operator with
    // the beyond-driver-memory route exercised END-TO-END on real
    // data: maxBroadcastVocab is forced to 16 (the df>=10 vocabulary
    // is far past it), so CoOccur.pairCountsAuto routes itself to
    // vocabIds (distributed lexicographic id assignment) +
    // pairCountsJoin (term-keyed id join into the open-map reducer)
    // + the distributed id->word decode — NOTHING vocabulary-sized
    // touches the driver anywhere in this query, exactly the plan a
    // 10^9-term corpus runs (t21 above is the same computation on
    // the broadcast route). Marginals join back by WORD (term-keyed
    // shuffle at scale; Catalyst may broadcast at fixture size).
    // Looser cuts than t21 (df/c_xy >= 10) so the two gates pin
    // different result sets.
    Q("t32_pmi_bigvocab_join", (s, d) => {
      val wd = Materialize(docs(s, d).select(col("doc_id"),
        expr("array_distinct(filter(split(text, ' '), w -> w != ''))")
          .as("ws")))
      val cx = wd.select(explode(col("ws")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      // apriori: c_xy <= min(c_x, c_y), so the df>=10 vocabulary is
      // COMPLETE for pairs surviving c_xy >= 10
      val vocab = cx.filter(col("c") >= 10).select("word")
      val pairs = graft.ops.CoOccur.pairCountsAuto(
        wd, "doc_id", "ws", vocab, "word", minCount = 10,
        parts = s.sessionState.conf.numShufflePartitions,
        maxBroadcastVocab = 16)
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      pairs
        .join(cx.select(col("word").as("w1"), col("c").as("c_x")), "w1")
        .join(cx.select(col("word").as("w2"), col("c").as("c_y")), "w2")
        .crossJoin(broadcast(n))
        .withColumn("pmi_ratio_ppm",
          expr("c_xy * n_docs * 1000000 div (c_x * c_y)"))
        .select("w1", "w2", "c_xy", "c_x", "c_y", "pmi_ratio_ppm")
        .orderBy("w1", "w2")
    },
      Some("""WITH wd AS (
             |  SELECT DISTINCT doc_id, w AS word FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  WHERE len(w) > 0),
             |cx AS (SELECT word, COUNT(*) AS c FROM wd GROUP BY 1),
             |pairs AS (
             |  SELECT a.word AS w1, b.word AS w2, COUNT(*) AS c_xy
             |  FROM wd a JOIN wd b
             |    ON a.doc_id = b.doc_id AND a.word < b.word
             |  GROUP BY 1, 2),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents)
             |SELECT w1, w2, c_xy, ca.c AS c_x, cb.c AS c_y,
             |  CAST((c_xy * n_docs * 1000000) // (ca.c * cb.c) AS BIGINT)
             |    AS pmi_ratio_ppm
             |FROM pairs JOIN cx ca ON pairs.w1 = ca.word
             |           JOIN cx cb ON pairs.w2 = cb.word, n
             |WHERE c_xy >= 10
             |ORDER BY w1, w2""".stripMargin)),

    // Passage-level dedup: documents chunked into non-overlapping
    // 10-token windows, each fingerprinted; a passage seen in 2+
    // DISTINCT docs is duplicated — sub-document dedup (boilerplate,
    // quoted paragraphs) that whole-doc fingerprints (d01) miss. Per
    // doc: passage count, duplicated-passage count, exact ppm rate.
    // The passage build is one ordered per-(doc, window) aggregation;
    // the dup set is a fingerprint-keyed count-distinct.
    // Aho-Corasick multi-needle scan (custom codegen Expression,
    // graft.expressions.MultiNeedleMatches): which of a literal
    // needle list occurs in each document, one O(text) pass instead
    // of needles × rows instr probes. The list is deliberately
    // nested/overlapping ("tab" ⊂ "table", "park" ⊂ "spark",
    // "or" ⊂ "sort"/"order", "wind" ⊂ "window") to exercise the
    // failure/output-link paths; the oracle pins the semantics to
    // the composed form (list_filter + contains, needle-list order).
    Q("t24_multi_needle", (s, d) => {
      val needles = Array("tab", "table", "scan", "can", "spark",
        "park", "or", "sort", "window", "wind", "merge", "batch",
        "stream")
      val m = graft.expressions.GraftFunctions.multi_needle_matches(
        col("text"), lit(needles))
      docs(s, d).select(col("doc_id"),
          array_join(m, ",").as("matched"),
          size(m).cast("long").as("n_matched"))
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id,
             |  -- COALESCE: DuckDB's array_to_string is NULL on an
             |  -- empty list where Spark's array_join is '' (bit us at
             |  -- sf0.1, the first scale with a zero-match doc)
             |  COALESCE(array_to_string(list_filter(
             |    ['tab','table','scan','can','spark','park','or','sort',
             |     'window','wind','merge','batch','stream'],
             |    n -> contains(text, n)), ','), '') AS matched,
             |  CAST(len(list_filter(
             |    ['tab','table','scan','can','spark','park','or','sort',
             |     'window','wind','merge','batch','stream'],
             |    n -> contains(text, n))) AS BIGINT) AS n_matched
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("t23_passage_dedup", (s, d) => {
      // narrow passage build — see d28's note (same fp values as the
      // exploded collect_list groupBy, no 2.9M-row exchange)
      // feeds the dup aggregate AND the final join
      val passages = Materialize(docs(s, d)
        .select(col("doc_id"), filter(split(col("text"), " "),
          x => length(x) > 0).as("__w"))
        .filter(size(col("__w")) > 0)
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, (size(__w) - 1) div 10),
            |  i -> md5(concat_ws(' ', slice(__w, i * 10 + 1, 10))))"""
            .stripMargin)))
        .toDF("doc_id", "wid", "fp"))
      val dupFp = passages.groupBy("fp")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("fp")
        .withColumn("is_dup", lit(1))
      passages.join(broadcast(dupFp), Seq("fp"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_passages"),
          sum(when(col("is_dup").isNotNull, 1L).otherwise(0L))
            .as("n_dup_passages"))
        .withColumn("dup_ppm",
          expr("n_dup_passages * 1000000 div n_passages"))
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
             |p AS (
             |  SELECT doc_id, (pos - 1) // 10 AS wid,
             |    md5(string_agg(word, ' ' ORDER BY pos)) AS fp
             |  FROM w GROUP BY doc_id, (pos - 1) // 10),
             |dup AS (
             |  SELECT fp FROM p GROUP BY fp
             |  HAVING COUNT(DISTINCT doc_id) >= 2)
             |SELECT doc_id, COUNT(*) AS n_passages,
             |  CAST(SUM(CASE WHEN dup.fp IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dup_passages,
             |  CAST((SUM(CASE WHEN dup.fp IS NOT NULL THEN 1 ELSE 0 END)
             |    * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm
             |FROM p LEFT JOIN dup ON p.fp = dup.fp
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // D28: duplicated-SPAN extents — for each doc, the longest run of
    // CONSECUTIVE duplicated 10-token passages (islands over the
    // passage-dup flags). t23 reports how much of a doc is
    // duplicated; this reports how CONTIGUOUS the duplication is —
    // the remove-the-span signal (one long boilerplate block vs
    // scattered common phrases) that span-level dedup
    // (Lee et al., "Deduplicating Training Data...", arXiv:2107.06499)
    // acts on. Same one-exchange passage machinery as t23; the run
    // analysis is one more window over the tiny passage table.
    Q("d28_dup_spans", (s, d) => {
      // passages built NARROW: chunk the word array into 10-token
      // slices and md5 each inside the Generate (same fp values as
      // the old wordsWithPos explode + (doc, wid) collect_list
      // groupBy, without its 2.9M-row exchange — the passage stream
      // starts at ~290k rows)
      // feeds the dup aggregate AND the run scan
      val passages = Materialize(docs(s, d)
        .select(col("doc_id"), filter(split(col("text"), " "),
          x => length(x) > 0).as("__w"))
        .filter(size(col("__w")) > 0)
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, (size(__w) - 1) div 10),
            |  i -> md5(concat_ws(' ', slice(__w, i * 10 + 1, 10))))"""
            .stripMargin)))
        .toDF("doc_id", "wid", "fp"))
      val dupFp = passages.groupBy("fp")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("fp")
        .withColumn("is_dup", lit(1))
      val flagged = passages
        .join(broadcast(dupFp), Seq("fp"), "left_outer")
        .withColumn("dup", col("is_dup").isNotNull)
      val wIsl = Window.partitionBy("doc_id", "dup").orderBy("wid")
      val runs = flagged
        .withColumn("grp", col("wid") - row_number().over(wIsl))
        .filter(col("dup"))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
        .groupBy("doc_id").agg(max("run").as("max_dup_run"))
      flagged.groupBy("doc_id")
        .agg(count(lit(1)).as("n_passages"))
        .join(runs, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_passages"),
          coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
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
             |p AS (
             |  SELECT doc_id, (pos - 1) // 10 AS wid,
             |    md5(string_agg(word, ' ' ORDER BY pos)) AS fp
             |  FROM w GROUP BY doc_id, (pos - 1) // 10),
             |dup AS (
             |  SELECT fp FROM p GROUP BY fp
             |  HAVING COUNT(DISTINCT doc_id) >= 2),
             |fl AS (
             |  SELECT p.doc_id, p.wid,
             |    CASE WHEN dup.fp IS NOT NULL THEN 1 ELSE 0 END AS dup
             |  FROM p LEFT JOIN dup ON p.fp = dup.fp),
             |isl AS (
             |  SELECT doc_id, dup,
             |    wid - row_number() OVER (PARTITION BY doc_id, dup
             |      ORDER BY wid) AS grp
             |  FROM fl),
             |runs AS (
             |  SELECT doc_id, MAX(run) AS max_dup_run FROM (
             |    SELECT doc_id, grp, COUNT(*) AS run
             |    FROM isl WHERE dup = 1 GROUP BY doc_id, grp)
             |  GROUP BY doc_id),
             |np AS (SELECT doc_id, COUNT(*) AS n_passages
             |       FROM fl GROUP BY doc_id)
             |SELECT np.doc_id, np.n_passages,
             |  CAST(COALESCE(runs.max_dup_run, 0) AS BIGINT) AS max_dup_run
             |FROM np LEFT JOIN runs ON np.doc_id = runs.doc_id
             |ORDER BY np.doc_id""".stripMargin)),

    // T25: BPE tokenizer-training step — two merge iterations as
    // relational algebra. The corpus collapses to the weighted
    // VOCABULARY first (one aggregate; everything after is
    // corpus-size-independent — exactly how real BPE trainers count),
    // then each iteration is: adjacent-symbol pair counts weighted by
    // word frequency → argmax merge (count desc, pair asc — total
    // order) → greedy left-to-right merge application. The merge is
    // EXACT BPE greedy semantics (overlapping matches resolve
    // left-first: y·y·y with merge (y,y) → yy·y): Spark applies it as
    // a fold over the symbol array (narrow, one projection); the
    // oracle replays it with an islands window (odd positions of each
    // consecutive-match run) — two independent formulations of the
    // same contract, reconciled by the hash gate.
    Q("t25_bpe_merges", (s, d) => {
      // tiny (|vocab| rows); feeds both iterations
      val vocab = Materialize(Text.words(docs(s, d), "doc_id", "text")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .withColumn("syms", split(col("word"), ""))
        .select("word", "cnt", "syms"))

      def pairCounts(v: DataFrame): DataFrame =
        v.select(col("cnt"),
            explode(expr(
              """CASE WHEN size(syms) >= 2
                 |THEN zip_with(slice(syms, 1, size(syms) - 1),
                 |              slice(syms, 2, size(syms) - 1),
                 |              (a, b) -> concat(a, ' ', b))
                 |ELSE array() END""".stripMargin)).as("pr"))
          .groupBy("pr").agg(sum("cnt").as("pcnt"))

      def top3(pc: DataFrame, it: Int): DataFrame = {
        val w = Window.orderBy(desc("pcnt"), asc("pr"))
        pc.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(lit(it).as("it"), col("rnk"), col("pr"), col("pcnt"))
      }

      val pc1 = Materialize(pairCounts(vocab))
      val b1 = pc1.orderBy(desc("pcnt"), asc("pr")).limit(1)
        .select(substring_index(col("pr"), " ", 1).as("mx"),
          substring_index(col("pr"), " ", -1).as("my"))
      // greedy-left merge fold: if the accumulator's last symbol is x
      // and the current is y, fuse them — the fused token no longer
      // equals x, so runs resolve left-first like reference BPE
      val vocab2 = vocab.crossJoin(broadcast(b1))
        .withColumn("syms", expr(
          """aggregate(syms, CAST(array() AS array<string>),
             |  (acc, c) -> CASE WHEN size(acc) > 0
             |      AND element_at(acc, -1) = mx AND c = my
             |    THEN concat(slice(acc, 1, size(acc) - 1),
             |                array(concat(mx, my)))
             |    ELSE concat(acc, array(c)) END)""".stripMargin))
        .select("word", "cnt", "syms")
      val pc2 = pairCounts(vocab2)
      top3(pc1, 1).unionByName(top3(pc2, 2)).orderBy("it", "rnk")
    },
      Some("""WITH v AS (
             |  SELECT word, COUNT(*) AS cnt FROM (
             |    SELECT unnest(string_split(text,' ')) AS word
             |    FROM documents) WHERE len(word) > 0 GROUP BY word),
             |s1 AS (
             |  SELECT word, cnt,
             |    generate_subscripts(string_split(word,''),1) AS pos,
             |    unnest(string_split(word,'')) AS sym
             |  FROM v),
             |pc1 AS (
             |  SELECT a.sym || ' ' || b.sym AS pr,
             |    CAST(SUM(a.cnt) AS BIGINT) AS pcnt
             |  FROM s1 a JOIN s1 b ON a.word = b.word AND b.pos = a.pos + 1
             |  GROUP BY 1),
             |b1 AS (SELECT string_split(pr, ' ')[1] AS mx,
             |              string_split(pr, ' ')[2] AS my
             |       FROM pc1 ORDER BY pcnt DESC, pr LIMIT 1),
             |m AS (
             |  SELECT s.word, s.cnt, s.pos, s.sym,
             |    CASE WHEN s.sym = b1.mx AND lead(s.sym) OVER
             |        (PARTITION BY s.word ORDER BY s.pos) = b1.my
             |      THEN 1 ELSE 0 END AS mm
             |  FROM s1 s, b1),
             |isl AS (
             |  SELECT *, pos - row_number() OVER
             |      (PARTITION BY word, mm ORDER BY pos) AS grp
             |  FROM m),
             |sel AS (
             |  SELECT *, CASE WHEN mm = 1 AND (row_number() OVER
             |      (PARTITION BY word, mm, grp ORDER BY pos)) % 2 = 1
             |    THEN 1 ELSE 0 END AS sel
             |  FROM isl),
             |em AS (
             |  SELECT word, cnt, pos,
             |    CASE WHEN sel = 1 THEN (SELECT mx || my FROM b1)
             |         WHEN COALESCE(lag(sel) OVER
             |           (PARTITION BY word ORDER BY pos), 0) = 1 THEN NULL
             |         ELSE sym END AS sym
             |  FROM sel),
             |s2 AS (
             |  SELECT word, cnt,
             |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
             |    sym
             |  FROM em WHERE sym IS NOT NULL),
             |pc2 AS (
             |  SELECT a.sym || ' ' || b.sym AS pr,
             |    CAST(SUM(a.cnt) AS BIGINT) AS pcnt
             |  FROM s2 a JOIN s2 b ON a.word = b.word AND b.pos = a.pos + 1
             |  GROUP BY 1),
             |t1 AS (SELECT 1 AS it, CAST(row_number() OVER
             |         (ORDER BY pcnt DESC, pr) AS INT) AS rnk, pr, pcnt
             |       FROM pc1 ORDER BY pcnt DESC, pr LIMIT 3),
             |t2 AS (SELECT 2 AS it, CAST(row_number() OVER
             |         (ORDER BY pcnt DESC, pr) AS INT) AS rnk, pr, pcnt
             |       FROM pc2 ORDER BY pcnt DESC, pr LIMIT 3)
             |SELECT * FROM t1 UNION ALL SELECT * FROM t2
             |ORDER BY it, rnk""".stripMargin)),

    // T26: BPE ENCODE — close the tokenizer loop: apply the two
    // merges t25 learns back to every document and report the
    // char-token vs BPE-token counts (the compression the tokenizer
    // buys). All symbol work happens on the weighted VOCABULARY
    // (corpus-size-independent); per-word encoded lengths then join
    // back onto the token stream — the a09/a19 broadcast-back shape.
    // Spark applies each merge as the t25 fold; the oracle replays it
    // with the islands-window formulation, twice.
    Q("t26_bpe_encode", (s, d) => {
      val w = Text.words(docs(s, d), "doc_id", "text")
      val vocab = Materialize(
        w.groupBy("word").agg(count(lit(1)).as("cnt"))
          .withColumn("syms", split(col("word"), "")))

      def pairCounts(v: DataFrame): DataFrame =
        v.select(col("cnt"), explode(expr(
            """CASE WHEN size(syms) >= 2
               |THEN zip_with(slice(syms, 1, size(syms) - 1),
               |              slice(syms, 2, size(syms) - 1),
               |              (a, b) -> concat(a, ' ', b))
               |ELSE array() END""".stripMargin)).as("pr"))
          .groupBy("pr").agg(sum("cnt").as("pcnt"))
      def best(pc: DataFrame): DataFrame =
        pc.orderBy(desc("pcnt"), asc("pr")).limit(1)
          .select(substring_index(col("pr"), " ", 1).as("mx"),
            substring_index(col("pr"), " ", -1).as("my"))
      def applyMerge(v: DataFrame, b: DataFrame): DataFrame =
        v.crossJoin(broadcast(b))
          .withColumn("syms", expr(
            """aggregate(syms, CAST(array() AS array<string>),
               |  (acc, c) -> CASE WHEN size(acc) > 0
               |      AND element_at(acc, -1) = mx AND c = my
               |    THEN concat(slice(acc, 1, size(acc) - 1),
               |                array(concat(mx, my)))
               |    ELSE concat(acc, array(c)) END)""".stripMargin))
          .select("word", "cnt", "syms")

      val v1 = Materialize(applyMerge(vocab, best(pairCounts(vocab))))
      val v2 = applyMerge(v1, best(pairCounts(v1)))
      // encode-back as ONE narrow scan: the trained vocab's per-word
      // BPE symbol count is vocabulary-sized by construction, so it
      // collects into a broadcast map (the lexicon discipline) and
      // word_lookup_sums reads both per-doc sums off the word array —
      // no occurrences join, no per-doc groupBy exchange. Zero-word
      // docs are filtered to mirror their absence from the old inner
      // join.
      val bpeMap = new java.util.HashMap[
        org.apache.spark.unsafe.types.UTF8String, java.lang.Long](1 << 15)
      graft.ops.Guards.boundedCollect(
        v2.select(col("word"), size(col("syms")).cast("long").as("n_bpe")),
        "t26 BPE symbol-count vocabulary",
        "swap word_lookup_sums for a (word)-keyed equi-join of the " +
          "symbol counts onto the exploded token stream")
        .foreach { r =>
          bpeMap.put(org.apache.spark.unsafe.types.UTF8String
            .fromString(r.getString(0)), r.getLong(1))
        }
      docs(s, d)
        .select(col("doc_id"), filter(split(col("text"), " "),
          x => length(x) > 0).as("__w"))
        .filter(size(col("__w")) > 0)
        .select(col("doc_id"), explode(array(
          graft.expressions.GraftFunctions
            .word_lookup_sums(col("__w"), bpeMap))).as("t"))
        .select(col("doc_id"),
          element_at(col("t"), 1).as("n_char_tokens"),
          element_at(col("t"), 2).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }, {
      // one greedy-left merge application round in SQL: from symbol
      // stream `src` (word, cnt, pos, sym) and 1-row merge table `b`
      // (mx, my) to stream `out`
      def mergeRound(src: String, b: String, out: String): String =
        s"""m_$out AS (
           |  SELECT s.word, s.cnt, s.pos, s.sym,
           |    CASE WHEN s.sym = $b.mx AND lead(s.sym) OVER
           |        (PARTITION BY s.word ORDER BY s.pos) = $b.my
           |      THEN 1 ELSE 0 END AS mm
           |  FROM $src s, $b),
           |isl_$out AS (
           |  SELECT *, pos - row_number() OVER
           |      (PARTITION BY word, mm ORDER BY pos) AS grp
           |  FROM m_$out),
           |sel_$out AS (
           |  SELECT *, CASE WHEN mm = 1 AND (row_number() OVER
           |      (PARTITION BY word, mm, grp ORDER BY pos)) % 2 = 1
           |    THEN 1 ELSE 0 END AS sel
           |  FROM isl_$out),
           |em_$out AS (
           |  SELECT word, cnt, pos,
           |    CASE WHEN sel = 1 THEN (SELECT mx || my FROM $b)
           |         WHEN COALESCE(lag(sel) OVER
           |           (PARTITION BY word ORDER BY pos), 0) = 1 THEN NULL
           |         ELSE sym END AS sym
           |  FROM sel_$out),
           |$out AS (
           |  SELECT word, cnt,
           |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
           |    sym
           |  FROM em_$out WHERE sym IS NOT NULL)""".stripMargin
      def pcSql(src: String, out: String): String =
        s"""$out AS (
           |  SELECT a.sym || ' ' || b.sym AS pr,
           |    CAST(SUM(a.cnt) AS BIGINT) AS pcnt
           |  FROM $src a JOIN $src b
           |    ON a.word = b.word AND b.pos = a.pos + 1
           |  GROUP BY 1)""".stripMargin
      def bSql(pc: String, out: String): String =
        s"""$out AS (SELECT string_split(pr, ' ')[1] AS mx,
           |              string_split(pr, ' ')[2] AS my
           |       FROM $pc ORDER BY pcnt DESC, pr LIMIT 1)""".stripMargin
      Some(s"""WITH wd AS (
              |  SELECT doc_id, w AS word FROM (
              |    SELECT doc_id, unnest(string_split(text,' ')) AS w
              |    FROM documents) WHERE len(w) > 0),
              |v AS (SELECT word, COUNT(*) AS cnt FROM wd GROUP BY word),
              |s1 AS (
              |  SELECT word, cnt,
              |    generate_subscripts(string_split(word,''),1) AS pos,
              |    unnest(string_split(word,'')) AS sym
              |  FROM v),
              |${pcSql("s1", "pc1")},
              |${bSql("pc1", "b1")},
              |${mergeRound("s1", "b1", "s2")},
              |${pcSql("s2", "pc2")},
              |${bSql("pc2", "b2")},
              |${mergeRound("s2", "b2", "s3")},
              |wl AS (
              |  SELECT word, len(word) AS n_char, COUNT(*) AS n_bpe
              |  FROM s3 GROUP BY word)
              |SELECT doc_id,
              |  CAST(SUM(n_char) AS BIGINT) AS n_char_tokens,
              |  CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
              |FROM wd JOIN wl USING (word)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    }),

    // T27: the learned (averaged-perceptron) NER behind the q27 seam,
    // oracle-gated on its gazetteer-verifiable subset: every part
    // name, capitalized into the org slot of a context template the
    // tagger was trained on shapes like ("the service at <Org> was
    // terrible"), must be extracted EXACTLY — no missed mentions, no
    // spurious spans from the lowercase context. The oracle replays
    // the construction (it knows which span the tagger must find);
    // generalization to genuinely unseen orgs + contexts stays
    // asserted sbt-side (BdbQueriesSpec). The tagger runs
    // per-partition over the frozen once-per-JVM weight map — the
    // reference's load-model-once-per-worker discipline
    // (bdb_tools/q27_utils.py:31-39).
    Q("t27_perceptron_ner", (s, d) => {
      import s.implicits._
      val cap = concat_ws(" ", transform(split(col("p_name"), " "),
        w => concat(upper(substring(w, 1, 1)),
          substring(w, 2, Int.MaxValue))))
      val sent = Tables.load(s, d, "part")
        .select(col("p_partkey"),
          concat(lit("the service at "), cap, lit(" was terrible"))
            .as("sentence"))
      sent.as[(Long, String)].mapPartitions { it =>
        // per-partition memo: tagging is a pure function of the
        // sentence, and real catalogs repeat names heavily (this
        // corpus has 64 distinct part names) — tag each distinct
        // sentence once per partition instead of per row. Bounded:
        // cleared past 64k entries so a high-cardinality corpus
        // degrades to plain per-row tagging, never to unbounded heap.
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        it.flatMap { case (pk, snt) =>
          if (memo.size > 65536) memo.clear()
          memo.getOrElseUpdate(snt, graft.bdb.PerceptronNer.orgSpans(snt))
            .map(sp => (pk, sp))
        }
      }.toDF("p_partkey", "org_span")
        .orderBy("p_partkey", "org_span")
    },
      Some("""SELECT p_partkey,
             |  array_to_string(list_transform(string_split(p_name, ' '),
             |    x -> upper(x[1]) || x[2:]), ' ') AS org_span
             |FROM part ORDER BY p_partkey, org_span""".stripMargin)),

    // T28: the PRETRAINED NER (extractor #4 behind the q27 seam) —
    // same oracle construction as t27, different model provenance:
    // weights come from the committed artifact
    // resources/graft/ner/org_weights.tsv (trained OFFLINE by
    // graft.tools.TrainNer on the committed CoNLL-style corpus; zero
    // training on the query path), loaded once per JVM and read by
    // every partition closure — the load-a-shipped-checkpoint seam
    // the reference fills with spaCy en_core_web_sm / BERT
    // (bdb_tools/q27_utils.py:42-54, q27_bert_utils.py:28-60). The
    // template is a training-corpus context shape ("shipping from
    // <Org> was fast"), so the oracle knows the exact span the tagger
    // must produce; generalization to unseen orgs/contexts is
    // asserted sbt-side (BdbQueriesSpec).
    Q("t28_pretrained_ner", (s, d) => {
      import s.implicits._
      val cap = concat_ws(" ", transform(split(col("p_name"), " "),
        w => concat(upper(substring(w, 1, 1)),
          substring(w, 2, Int.MaxValue))))
      val sent = Tables.load(s, d, "part")
        .select(col("p_partkey"),
          concat(lit("shipping from "), cap, lit(" was fast"))
            .as("sentence"))
      sent.as[(Long, String)].mapPartitions { it =>
        // same bounded per-partition memo as t27
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        it.flatMap { case (pk, snt) =>
          if (memo.size > 65536) memo.clear()
          memo.getOrElseUpdate(snt, graft.bdb.PretrainedNer.orgSpans(snt))
            .map(sp => (pk, sp))
        }
      }.toDF("p_partkey", "org_span")
        .orderBy("p_partkey", "org_span")
    },
      Some("""SELECT p_partkey,
             |  array_to_string(list_transform(string_split(p_name, ' '),
             |    x -> upper(x[1]) || x[2:]), ' ') AS org_span
             |FROM part ORDER BY p_partkey, org_span""".stripMargin)),

    // D34: winnowing fingerprint dedup (Schleimer, Wilkerson, Aiken,
    // "Winnowing: Local Algorithms for Document Fingerprinting",
    // SIGMOD 2003 — the MOSS algorithm). d28/t23 detect duplication
    // CHUNK-ALIGNED (fixed 10-token passages); winnowing detects it
    // at ARBITRARY word offset: hash every k=5-word shingle, then in
    // each window of w=8 consecutive positions keep only the minimum
    // (fp, pos) key — any shared run of >= k+w-1 words between two
    // docs is guaranteed to share a selected fingerprint, yet only
    // ~2/w of positions survive. The scale shape: shingle hashing AND
    // window-min selection run in ONE narrow kernel pass per doc
    // (winnow_keys — the composed higher-order-function form re-evals
    // the shingle array per window element, O(n^2) md5 work), so the
    // only corpus exchange is the ~2n/w selected fingerprints; the
    // full position stream never shuffles. The oracle replays
    // selection with window functions over the exploded stream — an
    // independent formulation reconciled by the hash gate.
    Q("d34_winnow_dedup", (s, d) => {
      import graft.expressions.GraftFunctions.winnow_keys
      val K = 5; val W = 8
      // feeds the dup aggregate AND the doc rollup
      val sel = Materialize(docs(s, d)
        .select(col("doc_id"), filter(split(col("text"), " "),
          x => length(x) > 0).as("__w"))
        .filter(size(col("__w")) >= K)
        .select(col("doc_id"),
          explode(winnow_keys(col("__w"), K, W)).as("selkey"))
        .select(col("doc_id"), substring(col("selkey"), 1, 32).as("fp")))
      val dup = sel.groupBy("fp")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("fp")
        .withColumn("isdup", lit(1))
      sel.join(broadcast(dup), Seq("fp"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sel"),
          sum(when(col("isdup").isNotNull, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_sel"), col("n_dup"),
          expr("n_dup * 1000000 div n_sel").as("dup_ppm"))
        .orderBy("doc_id")
    },
      Some("""WITH w0 AS (
             |  SELECT doc_id,
             |    generate_subscripts(string_split(text,' '),1) AS pos0,
             |    unnest(string_split(text,' ')) AS word
             |  FROM documents),
             |w AS (
             |  SELECT doc_id,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY pos0) - 1
             |      AS pos, word
             |  FROM w0 WHERE len(word) > 0),
             |sh AS (
             |  SELECT doc_id, pos,
             |    md5(string_agg(word, ' ') OVER (PARTITION BY doc_id
             |      ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING))
             |      AS fp,
             |    COUNT(*) OVER (PARTITION BY doc_id) AS nw
             |  FROM w),
             |kkt AS (
             |  SELECT doc_id, pos,
             |    fp || lpad(CAST(pos AS VARCHAR), 8, '0') AS kk
             |  FROM sh WHERE pos <= nw - 5),
             |mins AS (
             |  SELECT doc_id, pos,
             |    min(kk) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mk,
             |    GREATEST(MAX(pos) OVER (PARTITION BY doc_id) - 7, 0)
             |      AS tmax
             |  FROM kkt),
             |sel AS (
             |  SELECT DISTINCT doc_id, mk FROM mins WHERE pos <= tmax),
             |sf AS (SELECT doc_id, substr(mk, 1, 32) AS fp FROM sel),
             |dupf AS (
             |  SELECT fp FROM sf GROUP BY fp
             |  HAVING COUNT(DISTINCT doc_id) >= 2)
             |SELECT sf.doc_id, COUNT(*) AS n_sel,
             |  CAST(SUM(CASE WHEN dupf.fp IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dup,
             |  CAST((SUM(CASE WHEN dupf.fp IS NOT NULL THEN 1 ELSE 0 END)
             |    * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm
             |FROM sf LEFT JOIN dupf ON sf.fp = dupf.fp
             |GROUP BY sf.doc_id ORDER BY sf.doc_id""".stripMargin)),

    // T29: corpus vocabulary-growth and token-mass diagnostics — the
    // Heaps-law curve (distinct vocabulary vs corpus prefix) and
    // token counts per corpus decile, the statistics that decide
    // whether a training corpus is lexically degenerate (the round-9
    // lesson: a fixed 31-word vocabulary made every shingle-df family
    // look quadratic — this query is the detector). Deciles cut by
    // doc_id VALUE against the max id (a scalar splice — no global
    // row-number sort at 100 TB); vocabulary first-appearance is one
    // (word -> min doc_id) aggregate; the cumulative rollup is a
    // 10-row window.
    Q("t29_zipf_heaps", (s, d) => {
      val dw = docs(s, d)
        .select(col("doc_id"), filter(split(col("text"), " "),
          x => length(x) > 0).as("__w"))
      val mx = dw.agg(max("doc_id").as("mx"))
      val dstat = dw.select(col("doc_id"), size(col("__w")).as("ntok"))
        .crossJoin(broadcast(mx))
        .select(least(expr("doc_id * 10 div (mx + 1)"), lit(9L))
          .as("decile"), col("ntok"))
        .groupBy("decile")
        .agg(count(lit(1)).as("docs_n"),
          sum(col("ntok").cast("long")).as("tokens_n"))
      val vocab = dw.select(col("doc_id"), explode(col("__w")).as("word"))
        .groupBy("word").agg(min("doc_id").as("fd"))
        .crossJoin(broadcast(mx))
        .select(least(expr("fd * 10 div (mx + 1)"), lit(9L)).as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("vocab_n"))
      val wC = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dstat.join(vocab, Seq("decile"), "left_outer")
        .select(col("decile"), col("docs_n"), col("tokens_n"),
          coalesce(col("vocab_n"), lit(0L)).as("vocab_n"))
        .select(col("decile"),
          sum("docs_n").over(wC).as("docs_cum"),
          sum("tokens_n").over(wC).as("tokens_cum"),
          sum("vocab_n").over(wC).as("vocab_cum"))
        .orderBy("decile")
    },
      Some("""WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
             |wn AS (
             |  SELECT doc_id, w AS word FROM (
             |    SELECT doc_id, unnest(string_split(text,' ')) AS w
             |    FROM documents) WHERE len(w) > 0),
             |dn AS (
             |  SELECT LEAST((doc_id * 10) // (SELECT mx + 1 FROM mx), 9)
             |    AS decile, COUNT(*) AS docs_n
             |  FROM documents GROUP BY 1),
             |tk AS (
             |  SELECT LEAST((doc_id * 10) // (SELECT mx + 1 FROM mx), 9)
             |    AS decile, COUNT(*) AS tokens_n
             |  FROM wn GROUP BY 1),
             |vb AS (
             |  SELECT LEAST((fd * 10) // (SELECT mx + 1 FROM mx), 9)
             |    AS decile, COUNT(*) AS vocab_n
             |  FROM (SELECT word, MIN(doc_id) AS fd FROM wn GROUP BY word)
             |  GROUP BY 1)
             |SELECT dn.decile,
             |  CAST(SUM(dn.docs_n) OVER (ORDER BY dn.decile) AS BIGINT)
             |    AS docs_cum,
             |  CAST(SUM(COALESCE(tk.tokens_n, 0)) OVER (ORDER BY dn.decile)
             |    AS BIGINT) AS tokens_cum,
             |  CAST(SUM(COALESCE(vb.vocab_n, 0)) OVER (ORDER BY dn.decile)
             |    AS BIGINT) AS vocab_cum
             |FROM dn LEFT JOIN tk ON tk.decile = dn.decile
             |     LEFT JOIN vb ON vb.decile = dn.decile
             |ORDER BY dn.decile""".stripMargin)),

    // T30: BM25 ranked retrieval — the standard retrieval scorer
    // (Robertson/Sparck Jones; the RAG corpus-search primitive t18's
    // plain tf-idf lacks: tf SATURATION via k1 and document-LENGTH
    // normalization via b). t20's integer discipline extended to the
    // full BM25 form: the float ln-idf is replaced by its (monotone)
    // argument scaled to ppm, and the k1=1.2 / b=0.75 rationals are
    // multiplied through by 10*tok_total so the saturation term
    //   tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl)
    // becomes the exact integer
    //   22*tf*tok*1e6 div (10*tf*tok + 3*tok + 9*dl*N).
    // Scale shape: per-doc tf for the k query terms and the doc
    // length are read NARROW off one split() — no token explode, the
    // corpus never shuffles; N / tok_total / per-term df collapse to
    // ONE aggregate row broadcast back; the top-10 is
    // TakeOrderedAndProject. Scoring n docs for a k-term query costs
    // one narrow scan at any corpus size.
    Q("t30_bm25_topk", (s, d) => {
      val terms = Seq("merge", "window", "batch", "sort")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        expr(s"size(filter(split(text, ' '), w -> w = '$t'))")
          .cast("long").as(s"tf$i")
      }
      // narrow 6-col frame; feeds stats + scoring
      val base = Materialize(docs(s, d).select(
        col("doc_id") +:
          expr("size(filter(split(text, ' '), w -> w != ''))")
            .cast("long").as("dl") +: tfCols: _*))
      val statCols = count(lit(1)).as("n_docs") +: sum("dl").as("tok") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val stats = base.agg(statCols.head, statCols.tail: _*)
      val score = terms.indices.map { i =>
        expr(s"""(((2 * (n_docs - df$i) + 1) * 1000000) div (2 * df$i + 1))
                | * ((22 * tf$i * tok * 1000000)
                |    div (10 * tf$i * tok + 3 * tok + 9 * dl * n_docs))"""
          .stripMargin)
      }.reduce(_ + _)
      base.crossJoin(broadcast(stats))
        .withColumn("score", score)
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .withColumn("rk",
          row_number().over(Window.orderBy(desc("score"), asc("doc_id"))))
        .select("rk", "doc_id", "dl", "score")
        .orderBy("rk")
    },
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    len(list_filter(string_split(text, ' '),
             |        w -> len(w) > 0)) AS dl,
             |    len(list_filter(string_split(text, ' '),
             |        w -> w = 'merge')) AS tf0,
             |    len(list_filter(string_split(text, ' '),
             |        w -> w = 'window')) AS tf1,
             |    len(list_filter(string_split(text, ' '),
             |        w -> w = 'batch')) AS tf2,
             |    len(list_filter(string_split(text, ' '),
             |        w -> w = 'sort')) AS tf3
             |  FROM documents),
             |st AS (
             |  SELECT COUNT(*) AS n_docs, SUM(dl) AS tok,
             |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
             |    SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
             |  FROM b),
             |sc AS (
             |  SELECT doc_id, dl,
             |    (((2 * (n_docs - df0) + 1) * 1000000) // (2 * df0 + 1))
             |      * ((22 * tf0 * tok * 1000000)
             |         // (10 * tf0 * tok + 3 * tok + 9 * dl * n_docs))
             |    + (((2 * (n_docs - df1) + 1) * 1000000) // (2 * df1 + 1))
             |      * ((22 * tf1 * tok * 1000000)
             |         // (10 * tf1 * tok + 3 * tok + 9 * dl * n_docs))
             |    + (((2 * (n_docs - df2) + 1) * 1000000) // (2 * df2 + 1))
             |      * ((22 * tf2 * tok * 1000000)
             |         // (10 * tf2 * tok + 3 * tok + 9 * dl * n_docs))
             |    + (((2 * (n_docs - df3) + 1) * 1000000) // (2 * df3 + 1))
             |      * ((22 * tf3 * tok * 1000000)
             |         // (10 * tf3 * tok + 3 * tok + 9 * dl * n_docs))
             |      AS score
             |  FROM b, st),
             |top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 10)
             |SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rk,
             |  doc_id, CAST(dl AS BIGINT) AS dl, CAST(score AS BIGINT) AS score
             |FROM top ORDER BY rk""".stripMargin)),

    // T31: RECIPROCAL-RANK-FUSION hybrid retrieval — the standard RAG
    // retrieval composition (Cormack et al., SIGIR'09): a lexical arm
    // (t30's integer BM25 over a term query) and a dense arm (cosine
    // against an anchor embedding, d09's broadcast-probe shape) each
    // produce a top-20 ranking, fused as sum of 1e9/(60+rank) over the
    // UNION of both lists (a doc present in one arm scores that arm
    // alone) — integer floor division, so both engines replay the
    // fusion bit-exactly. Scale shape: each arm is one corpus scan +
    // bounded top-k (TakeOrderedAndProject); the fusion itself joins
    // two 20-row frames — free at any corpus size. The dense arm
    // composes with the IVF/PQ indexes exactly as d10/d33.
    Q("t31_rrf_hybrid", (s, d) => {
      // lexical arm: t30's exact-integer BM25 (k1=1.2, b=0.75 in
      // tenths; same saturation + length-norm algebra)
      val terms = Seq("merge", "window", "batch", "sort")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        expr(s"size(filter(split(text, ' '), w -> w = '$t'))")
          .cast("long").as(s"tf$i")
      }
      // feeds corpus stats + scoring
      val base = Materialize(docs(s, d).select(
        col("doc_id") +:
          expr("size(filter(split(text, ' '), w -> w != ''))")
            .cast("long").as("dl") +: tfCols: _*))
      val statCols = count(lit(1)).as("n_docs") +: sum("dl").as("tok") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val stats = base.agg(statCols.head, statCols.tail: _*)
      val score = terms.indices.map { i =>
        expr(s"""(((2 * (n_docs - df$i) + 1) * 1000000) div (2 * df$i + 1))
                | * ((22 * tf$i * tok * 1000000)
                |    div (10 * tf$i * tok + 3 * tok + 9 * dl * n_docs))"""
          .stripMargin)
      }.reduce(_ + _)
      val lex = base.crossJoin(broadcast(stats))
        .withColumn("score", score)
        .orderBy(desc("score"), asc("doc_id")).limit(20)
        .withColumn("lex_rk", row_number()
          .over(Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
        .select(col("doc_id").as("id"), col("lex_rk"))
      // dense arm: cosine against anchor vec 0 (1-row broadcast)
      val e = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val den = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .withColumn("cos",
          graft.ops.Similarity.cosine(col("q_emb"), col("embedding")))
        .orderBy(desc("cos"), col("vec_id")).limit(20)
        .withColumn("den_rk", row_number()
          .over(Window.orderBy(desc("cos"), col("vec_id"))).cast("long"))
        .select(col("vec_id").as("id"), col("den_rk"))
      lex.join(den, Seq("id"), "full_outer")
        .withColumn("rrf",
          coalesce(expr("1000000000 div (60 + lex_rk)"), lit(0L)) +
            coalesce(expr("1000000000 div (60 + den_rk)"), lit(0L)))
        .orderBy(desc("rrf"), col("id")).limit(10)
        .withColumn("rk", row_number()
          .over(Window.orderBy(desc("rrf"), col("id"))).cast("long"))
        .select("rk", "id", "lex_rk", "den_rk", "rrf")
        .orderBy("rk")
    },
      Some(s"""WITH b AS (
              |  SELECT doc_id,
              |    len(list_filter(string_split(text, ' '),
              |        w -> len(w) > 0)) AS dl,
              |    len(list_filter(string_split(text, ' '),
              |        w -> w = 'merge')) AS tf0,
              |    len(list_filter(string_split(text, ' '),
              |        w -> w = 'window')) AS tf1,
              |    len(list_filter(string_split(text, ' '),
              |        w -> w = 'batch')) AS tf2,
              |    len(list_filter(string_split(text, ' '),
              |        w -> w = 'sort')) AS tf3
              |  FROM documents),
              |st AS (
              |  SELECT COUNT(*) AS n_docs, SUM(dl) AS tok,
              |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
              |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
              |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
              |    SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
              |  FROM b),
              |sc AS (
              |  SELECT doc_id,
              |    (((2 * (n_docs - df0) + 1) * 1000000) // (2 * df0 + 1))
              |      * ((22 * tf0 * tok * 1000000)
              |         // (10 * tf0 * tok + 3 * tok + 9 * dl * n_docs))
              |    + (((2 * (n_docs - df1) + 1) * 1000000) // (2 * df1 + 1))
              |      * ((22 * tf1 * tok * 1000000)
              |         // (10 * tf1 * tok + 3 * tok + 9 * dl * n_docs))
              |    + (((2 * (n_docs - df2) + 1) * 1000000) // (2 * df2 + 1))
              |      * ((22 * tf2 * tok * 1000000)
              |         // (10 * tf2 * tok + 3 * tok + 9 * dl * n_docs))
              |    + (((2 * (n_docs - df3) + 1) * 1000000) // (2 * df3 + 1))
              |      * ((22 * tf3 * tok * 1000000)
              |         // (10 * tf3 * tok + 3 * tok + 9 * dl * n_docs))
              |      AS score
              |  FROM b, st),
              |lex AS (
              |  SELECT doc_id AS id,
              |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rk
              |  FROM (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 20)),
              |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
              |den0 AS (
              |  SELECT e.vec_id AS id, ${DedupQueries.cosSql("qv", "e")} AS cos
              |  FROM embeddings e, qv WHERE e.vec_id <> 0),
              |den AS (
              |  SELECT id, ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS den_rk
              |  FROM (SELECT * FROM den0 ORDER BY cos DESC, id LIMIT 20)),
              |f AS (
              |  SELECT COALESCE(lex.id, den.id) AS id, lex_rk, den_rk,
              |    COALESCE(1000000000 // (60 + lex_rk), 0)
              |      + COALESCE(1000000000 // (60 + den_rk), 0) AS rrf
              |  FROM lex FULL OUTER JOIN den ON lex.id = den.id)
              |SELECT ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS rk,
              |  id, lex_rk, den_rk, rrf
              |FROM (SELECT * FROM f ORDER BY rrf DESC, id LIMIT 10)
              |ORDER BY rk""".stripMargin)),

    // D36: duplicated-SPAN REMOVAL — the corpus-cleaning ACTION that
    // d28 only measures (Lee et al., "Deduplicating Training Data
    // Makes Language Models Better", arXiv:2107.06499 removes the
    // duplicated span, keeping one canonical copy, instead of
    // dropping whole documents). Same one-exchange passage machinery
    // as t23/d28, now carrying the chunk TEXT: each 10-token passage
    // keeps exactly its first occurrence corpus-wide (min (doc_id,
    // wid) per fingerprint — deterministic keeper, within-doc repeats
    // removed too), and every doc is reconstructed from its kept
    // passages in order. Scale shape: fp-keyed aggregate + fp-keyed
    // join back (co-partitioned — one exchange pair) + doc-keyed
    // rebuild; no all-pairs stage, no driver materialization. The
    // rebuilt text is gated as md5 so the compare stays scalar.
    Q("d36_span_removal", (s, d) => {
      // feeds the owner aggregate AND the join back
      val passages = Materialize(docs(s, d)
        .select(col("doc_id"), filter(split(col("text"), " "),
          x => length(x) > 0).as("__w"))
        .filter(size(col("__w")) > 0)
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, (size(__w) - 1) div 10),
            |  i -> concat_ws(' ', slice(__w, i * 10 + 1, 10)))"""
            .stripMargin)))
        .toDF("doc_id", "wid", "chunk")
        .withColumn("fp", md5(col("chunk"))))
      val owner = passages.groupBy("fp")
        .agg(min(struct(col("doc_id"), col("wid"))).as("own"))
      passages.join(owner, "fp") // fp-keyed, co-partitioned with owner
        .withColumn("keep",
          col("own.doc_id") === col("doc_id") && col("own.wid") === col("wid"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_passages"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("wid"), col("chunk"))))),
            x => x.getField("chunk")), " ")).as("clean_md5"))
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
             |p AS (
             |  SELECT doc_id, (pos - 1) // 10 AS wid,
             |    string_agg(word, ' ' ORDER BY pos) AS chunk
             |  FROM w GROUP BY doc_id, (pos - 1) // 10),
             |f AS (
             |  SELECT doc_id, wid, chunk,
             |    row_number() OVER (PARTITION BY md5(chunk)
             |      ORDER BY doc_id, wid) AS rn
             |  FROM p)
             |SELECT doc_id, COUNT(*) AS n_passages,
             |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept,
             |  md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END,
             |    ' ' ORDER BY wid), '')) AS clean_md5
             |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )
}
