package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r17 nbConfusion restructure (m04/m05/b28): the per-token
  * crossJoin(cls) stream was replaced by an inner join on word plus
  * the arithmetic completion wsum = msum + (ntok - mcnt) * def_ppm.
  * This spec pins the completion identity against the OLD per-token
  * formulation on a corpus built to hit the edges the rewrite could
  * break: an EMPTY and a NULL test document (ntok = 0 — must score
  * prior-only),
  * a test document whose true lang is UNSEEN in training (scores
  * only over the trained class list), a document with every word
  * unseen (pure def_ppm path), and multi-class word overlap.
  */
class NbConfusionSpec extends SparkSpec {
  import spark.implicits._

  test("inner-join + token-count completion == old per-token " +
    "crossJoin scoring (empty doc, unseen class, unseen words)") {
    val dir = java.nio.file.Files
      .createTempDirectory("nbconf").toString
    // doc_id % 10 == 0 -> test; others train
    Seq(
      (1L, "apple banana apple cherry", "aa", "s1"),
      (2L, "banana banana date", "aa", "s1"),
      (3L, "egg fig grape egg", "bb", "s2"),
      (4L, "fig fig grape banana", "bb", "s2"),
      (5L, "grape egg", "bb", "s2"),              // prior argmax is bb
      (10L, "", "aa", "s1"),                       // EMPTY test doc
      (50L, null, "nn", "s4"),                     // NULL text test doc
      (20L, "apple egg zebra", "zz", "s3"),        // UNSEEN true lang
      (30L, "zebra yak xylo", "bb", "s2"),         // every word unseen
      (40L, "banana fig", "aa", "s1"))             // cross-class words
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    // engine path (the r17 restructured nbConfusion behind m04)
    val engine = SparkEntry.queries("m04_nb_ppm_text")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet

    // reference: the PRE-r17 per-token formulation, verbatim algebra
    val base = spark.read.parquet(s"$dir/documents.parquet")
    val isTest = pmod(col("doc_id"), lit(10)) === 0
    val trd = base.filter(!isTest).select("doc_id", "lang")
    val ted = base.filter(isTest).select("doc_id", "lang")
    val tew = graft.ops.Text.words(base.filter(isTest), "doc_id", "text")
    val trw = base.filter(!isTest)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val pcnt = trd.groupBy("lang").agg(count(lit(1)).as("pc"))
    val cls = pcnt.select("lang")
    val priors = pcnt
      .crossJoin(broadcast(trd.agg(count(lit(1)).as("dd"))))
      .select(col("lang"), expr("(pc * 1000000) div dd").as("prior_ppm"))
    val cw = trw.groupBy("lang", "word").agg(count(lit(1)).as("c"))
    val nc = cw.groupBy("lang").agg(sum("c").as("n_c"))
    val vocab = cw.agg(countDistinct("word").as("v"))
    val den = cls.join(nc, Seq("lang"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("lang"),
        (coalesce(col("n_c"), lit(0L)) + col("v")).as("den"))
    val pw = cw.join(broadcast(den), "lang")
      .select(col("lang"), col("word"),
        expr("((c + 1) * 1000000) div den").as("p_ppm"))
    val defp = den.select(col("lang"),
      expr("1000000 div den").as("def_ppm"))
    val occ = tew.crossJoin(broadcast(cls))
      .join(broadcast(defp), "lang")
      .join(pw, Seq("lang", "word"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("p_ppm"), col("def_ppm")).as("ppm"))
    val wsum = occ.groupBy("doc_id", "lang").agg(sum("ppm").as("wsum"))
    val scores = ted.withColumnRenamed("lang", "true_lang")
      .crossJoin(broadcast(cls))
      .join(broadcast(priors), "lang")
      .join(wsum, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("true_lang"), col("lang"),
        (coalesce(col("wsum"), lit(0L)) + col("prior_ppm")).as("score"))
    val reference = scores
      .groupBy(col("doc_id"), col("true_lang"))
      .agg(min_by(col("lang"),
        struct((-col("score")).as("ns"), col("lang"))).as("pred_lang"))
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet

    assert(engine === reference)
    // the edges are actually present in the output: the unseen true
    // lang appears (scored over trained classes), and the empty and
    // NULL docs each contribute one prior-only prediction — for the
    // NULL doc that is bb, the prior argmax, not the lexical-first aa
    assert(engine.exists(_._1 == "zz"), s"unseen-class row missing: $engine")
    assert(engine.contains(("nn", "bb", 1L)),
      s"NULL-text doc must predict the prior argmax: $engine")
    assert(engine.toSeq.map(_._3).sum === 5L,
      s"5 test docs expected: $engine")
  }
}
