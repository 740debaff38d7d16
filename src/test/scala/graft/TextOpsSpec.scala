package graft

import graft.ops.{Dedup, Text}
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenizer never emits empty tokens") {
    val df = Seq((1L, "a  b   c"), (2L, " x "), (3L, "")).toDF("id", "text")
    val words = Text.words(df, "id", "text").select("word")
      .collect().map(_.getString(0))
    assert(words.forall(_.nonEmpty))
    assert(words.sorted.toSeq === Seq("a", "b", "c", "x"))
  }

  test("positional tokenizer: 1-based contiguous positions") {
    val df = Seq((1L, "p q r")).toDF("id", "text")
    val out = Text.wordsWithPos(df, "id", "text")
      .orderBy("pos").collect().map(r => (r.getAs[Int]("pos"), r.getAs[String]("word")))
    assert(out.toSeq === Seq((1, "p"), (2, "q"), (3, "r")))
  }

  test("portable hash matches the documented DuckDB formula") {
    // md5('abc') = 900150983cd24fb0...; first 15 hex digits as int:
    val got = Seq("abc").toDF("s")
      .select(Text.portableHash(col("s"))).first().getLong(0)
    assert(got === 648541476951500027L)
  }

  test("marker count: token equality, adjacent repeats included") {
    val df = Seq((1L, "the cat the dog a mouse")).toDF("id", "text")
    val r = df.select(
      Text.markerCount(col("text"), "the").as("nthe"),
      Text.markerCount(col("text"), "a").as("na")).first()
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === 1L)
    // adjacent repeats share a delimiter: all must count
    val adj = Seq((1L, "the the the")).toDF("id", "text")
      .select(Text.markerCount(col("text"), "the")).first()
    assert(adj.getLong(0) === 3L)
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("A  b C", "a b c")).toDF("x", "y")
    val r = df.select(
      (Text.fingerprint(col("x")) === Text.fingerprint(col("y"))).as("eq"))
      .first()
    assert(r.getBoolean(0))
  }

  test("ngram shingles: n=2 over 4 words -> 3 shingles") {
    val df = Seq((1L, "a b c d")).toDF("id", "text")
    val sh = DedupSpec.ngramShingles(df, "id", "text", 2)
      .select("sh").collect().map(_.getString(0)).sorted
    assert(sh.toSeq === Seq("a b", "b c", "c d"))
  }

  test("BPE merge fold is greedy left-to-right on overlapping runs") {
    // the t25 merge-application lambda, pinned on the cases where
    // naive string replace diverges from reference BPE
    val cases = Seq(
      ("yyyy", "y", "y", Seq("yy", "yy")),   // runs merge left-first
      ("yyy", "y", "y", Seq("yy", "y")),
      ("aab", "a", "b", Seq("a", "ab")),     // merge after a non-match
      ("abab", "a", "b", Seq("ab", "ab")),   // every occurrence merges
      ("ba", "a", "b", Seq("b", "a")))       // order matters
    val df = cases.map(c => (c._1, c._2, c._3)).toDF("w", "mx", "my")
    val out = df.withColumn("m", expr(
      """aggregate(split(w, ''), CAST(array() AS array<string>),
        |  (acc, c) -> CASE WHEN size(acc) > 0
        |      AND element_at(acc, -1) = mx AND c = my
        |    THEN concat(slice(acc, 1, size(acc) - 1),
        |                array(concat(mx, my)))
        |    ELSE concat(acc, array(c)) END)""".stripMargin))
      .select("w", "m").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    cases.foreach { case (w, _, _, want) =>
      assert(out(w) === want, s"word $w")
    }
  }

  test("t30 BM25: integer saturation is monotone (up in tf, down in dl, " +
    "diminishing returns); single-term ranking agrees with float BM25") {
    def sat(tf: Long, dl: Long, tok: Long, n: Long): Long =
      if (tf == 0) 0L
      else (22L * tf * tok * 1000000L) /
        (10L * tf * tok + 3L * tok + 9L * dl * n)
    assert(sat(2, 50, 10000, 100) > sat(1, 50, 10000, 100), "monotone in tf")
    assert(sat(1, 30, 10000, 100) > sat(1, 80, 10000, 100),
      "longer docs score lower at equal tf")
    val g1 = sat(2, 50, 10000, 100) - sat(1, 50, 10000, 100)
    val g2 = sat(3, 50, 10000, 100) - sat(2, 50, 10000, 100)
    assert(g1 > g2, "tf saturation must have diminishing returns")

    // single-term ranking: the integer scorer's strict order never
    // inverts float BM25 (k1=1.2, b=0.75, ln idf) — the idf surrogate
    // is constant per term, so doc order rides on the saturation term
    val docs = Tables.load(spark, sf, "documents").select(
      expr("size(filter(split(text, ' '), w -> w != ''))")
        .cast("long").as("dl"),
      expr("size(filter(split(text, ' '), w -> w = 'merge'))")
        .cast("long").as("tf")).collect()
      .map(r => (r.getAs[Long]("tf"), r.getAs[Long]("dl")))
    val n = docs.length.toLong
    val tok = docs.map(_._2).sum
    val df = docs.count(_._1 > 0).toLong
    assert(df > 0, "test term must occur in the corpus")
    val avgdl = tok.toDouble / n
    def intScore(tf: Long, dl: Long): Long =
      (((2 * (n - df) + 1) * 1000000L) / (2 * df + 1)) * sat(tf, dl, tok, n)
    def floatScore(tf: Long, dl: Long): Double =
      if (tf == 0) 0.0
      else math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
        (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val scored = docs.map { case (tf, dl) =>
      (intScore(tf, dl), floatScore(tf, dl))
    }
    for {
      (a, ai) <- scored.zipWithIndex
      (b, bi) <- scored.zipWithIndex if ai < bi
    } {
      if (a._1 > b._1)
        assert(a._2 >= b._2 - 1e-12, s"inversion: $a vs $b")
      if (b._1 > a._1)
        assert(b._2 >= a._2 - 1e-12, s"inversion: $b vs $a")
    }

    // and the query itself: 10 rows, ranked by non-increasing score
    val top = SparkEntry.queries("t30_bm25_topk")(spark, sf)
      .orderBy("rk").collect()
    assert(top.length === 10)
    val scores = top.map(_.getAs[Long]("score"))
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    assert(scores.head > 0, "top document must match at least one term")
  }
}
