package graft

import graft.expressions.GraftFunctions
import graft.ops.{Similarity, Text}
import org.apache.spark.sql.functions._

/** Native Catalyst kernels must be bit-identical to the composed
  * built-in forms they replace (those forms are what the DuckDB
  * oracles mirror).
  */
class ExpressionsSpec extends SparkSpec {

  test("portable_hash60 == conv(substr(md5)) form, corpus-wide") {
    val words = Text.words(Tables.load(spark, sf, "documents"), "doc_id", "text")
    val mismatches = words
      .select(Text.portableHash(col("word")).as("native"),
        Text.portableHashSql(col("word")).as("composed"))
      .filter(col("native") =!= col("composed"))
      .count()
    assert(mismatches === 0L)
  }

  test("cosine_f == zip_with/aggregate form on embedding pairs") {
    val e = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 40).select("vec_id", "embedding")
    val mismatches = e.as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("native"),
        Similarity.cosineHof(col("a.embedding"), col("b.embedding")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mismatches === 0L)
  }

  test("SQL registration: portable_hash60 and cosine_f callable") {
    val r = spark.sql(
      "SELECT portable_hash60('abc') AS h, " +
        "cosine_f(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float))) AS c")
      .first()
    assert(r.getLong(0) === 648541476951500027L)
    assert(r.getDouble(1) === 1.0)
  }

  test("multi_needle_matches: crafted nested/overlapping needles") {
    import spark.implicits._
    val needles = Array("tab", "table", "or", "sort", "spark", "park",
      "a", "résumé")
    val rows = Seq(
      (1L, "a sorted table for spark"),
      (2L, "no hits in this text"),
      (3L, "résumé naïve"),
      (4L, "tabtabtab"),
      (5L, "")).toDF("id", "text")
      .select(col("id"), GraftFunctions.multi_needle_matches(
        col("text"), lit(needles)).as("m"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList))
    assert(rows(0) === (1L,
      List("tab", "table", "or", "sort", "spark", "park", "a")))
    assert(rows(1) === (2L, List.empty[String]))
    assert(rows(2) === (3L, List("a", "résumé")))
    assert(rows(3) === (4L, List("tab", "a")))
    assert(rows(4) === (5L, List.empty[String]))
  }

  test("multi_needle_matches == filter/instr composed form, corpus-wide") {
    val needles = Array("tab", "table", "scan", "can", "spark", "park",
      "or", "sort", "window", "wind", "merge", "batch", "stream", "the")
    val nl = lit(needles)
    val mismatches = Tables.load(spark, sf, "documents")
      .select(
        GraftFunctions.multi_needle_matches(col("text"), nl).as("native"),
        filter(nl, n => instr(col("text"), n) > 0).as("composed"))
      .filter(col("native") =!= col("composed"))
      .count()
    assert(mismatches === 0L)
  }

  test("multi_needle_matches rejects empty needles and non-literals") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "text")
    intercept[Exception] {
      df.select(GraftFunctions.multi_needle_matches(
        col("text"), lit(Array("a", "")))).collect()
    }
    intercept[Exception] {
      df.select(GraftFunctions.multi_needle_matches(
        col("text"), array(col("text")))).collect()
    }
  }

  test("array_pairs == flatten/transform HOF form, corpus-wide") {
    import graft.expressions.ArrayPairs.array_pairs
    val sets = Text.words(Tables.load(spark, sf, "documents"),
        "doc_id", "text")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("word"))).as("a"))
    val native = sets
      .select(col("doc_id"), array_pairs(col("a")).as(Seq("i1", "i2")))
    val hof = sets.select(col("doc_id"), explode(
        flatten(transform(col("a"), (x, i) => transform(
          slice(col("a"), i + lit(2), size(col("a")) - i - lit(1)),
          y => struct(x.as("i1"), y.as("i2")))))).as("p"))
      .select(col("doc_id"), col("p.i1"), col("p.i2"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
    // degenerate arrays emit nothing, null emits nothing
    import spark.implicits._
    val edge = Seq(Seq("x"), Seq.empty[String], null)
      .toDF("a").select(array_pairs(col("a")).as(Seq("i1", "i2")))
    assert(edge.count() === 0L)
  }

  test("argmax_cos == crossJoin + max_by(struct(cos, -cid)) form") {
    val e = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
    val cRows = e.filter(col("vec_id") % 17 === 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val dim = cRows.head._2.length
    val flat = new Array[Float](cRows.length * dim)
    cRows.zipWithIndex.foreach { case ((_, v), i) =>
      System.arraycopy(v, 0, flat, i * dim, dim)
    }
    val native = e.select(col("vec_id"),
      GraftFunctions.argmax_cos(col("embedding"),
        flat, cRows.map(_._1)).as("cid"))
    val cents = e.filter(col("vec_id") % 17 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val composed = e.crossJoin(broadcast(cents))
      .withColumn("ccos", Similarity.cosine(col("embedding"), col("cvec")))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
    // exact-tie: duplicate centroids -> lowest id wins
    import spark.implicits._
    val dup = Seq((0L, Array(1f, 2f))).toDF("vec_id", "embedding")
      .select(GraftFunctions.argmax_cos(col("embedding"),
        Array(1f, 2f, 1f, 2f), Array(7L, 3L)).as("cid"))
    assert(dup.head().getLong(0) === 3L)
  }

  test("semdedup_dups == cid self-join + cosine filter + distinct form") {
    val tau = 0.45
    val e = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 300)
      .select(col("vec_id"), (col("vec_id") % 7).as("cid"), col("embedding"))
    val native = e.groupBy("cid")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
        .as("mem"))
      .select(explode(GraftFunctions.semdedup_dups(
        expr("transform(mem, x -> x.vec_id)"),
        flatten(expr("transform(mem, x -> x.embedding)")), tau))
        .as("vec_id"))
    val composed = e.as("a").join(e.as("b"),
        col("a.cid") === col("b.cid") &&
          col("b.vec_id") < col("a.vec_id"))
      .filter(Similarity.cosine(col("a.embedding"), col("b.embedding"))
        >= tau)
      .select(col("a.vec_id").as("vec_id")).distinct()
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
  }

  test("ngram_shingle_hashes == xxhash64(ngramShingles) set, corpus-wide") {
    val base = Tables.load(spark, sf, "documents")
    for (n <- Seq(1, 3)) {
      val harr = graft.ops.Dedup
        .ngramShingleHashes(base, "doc_id", "text", n)
      val native = harr.select(col("doc_id"), explode(col("hs")).as("shh"))
      val sh = DedupSpec.ngramShingles(base, "doc_id", "text", n)
      val composed = sh.select(col("doc_id"), xxhash64(col("sh")).as("shh"))
      assert(native.exceptAll(composed).isEmpty &&
        composed.exceptAll(native).isEmpty, s"n=$n")
      // size(hs) is each doc's distinct string-shingle count, and a
      // doc without a shingle has no row
      val sizes = harr.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
      val counted = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      assert(sizes.exceptAll(counted).isEmpty &&
        counted.exceptAll(sizes).isEmpty, s"n=$n sizes")
    }
  }

  test("ngram_portable_hashes + minhash_sigs == exploded composed forms") {
    val base = Tables.load(spark, sf, "documents")
    val k = 8
    val harr = graft.ops.Dedup
      .ngramPortableHashArrays(base, "doc_id", "text", 3)
    val sh = DedupSpec.ngramShingles(base, "doc_id", "text", 3)
    // hash sets: kernel arrays == sorted collect_list of portable hashes
    val nativeSets = harr.select(col("doc_id"),
      array_join(col("hs"), ",").as("hss"))
    val composedSets = sh.groupBy("doc_id")
      .agg(array_join(sort_array(
        collect_list(graft.ops.Text.portableHash(col("sh")))), ",").as("hss"))
    assert(nativeSets.exceptAll(composedSets).isEmpty &&
      composedSets.exceptAll(nativeSets).isEmpty)
    // signatures: kernel == min per doc of the affine family over the
    // string shingles' portable hashes, computed on the driver
    val nativeSigs = harr.select(col("doc_id"),
        GraftFunctions.minhash_sigs(col("hs"), k).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val refSigs = sh.groupBy("doc_id").agg(collect_list(col("sh")))
      .collect().map(r => r.getLong(0) ->
        DedupSpec.minhashReference(r.getSeq[String](1), k)).toMap
    assert(nativeSigs.nonEmpty && nativeSigs === refSigs)
  }

  test("salted_minhash_sigs == transform/array_min composed form") {
    val k = 8
    val base = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), array_distinct(filter(
        split(col("text"), " "), w => length(w) > 0)).as("__w"))
      .filter(size(col("__w")) > 0)
    val native = base.select(col("doc_id"),
      array_join(GraftFunctions.salted_minhash_sigs(col("__w"), k), ",")
        .as("s"))
    val composed = base.select(col("doc_id"),
      array_join(array((0 until k).map(i =>
        array_min(transform(col("__w"),
          sh => graft.ops.Text.saltedHash(sh, i)))): _*), ",").as("s"))
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
  }

  test("count_markers == token-filter composed form, corpus-wide") {
    val ms = Seq("the", "a", "der", "und", "el", "y", "le", "et")
    val base = Tables.load(spark, sf, "documents")
    val native = base.select(col("doc_id"),
      array_join(GraftFunctions.count_markers(col("text"), ms), ",").as("c"))
    val composed = base.select(col("doc_id"),
      array_join(array(ms.map(m =>
        graft.ops.Text.markerCount(col("text"), m)): _*), ",").as("c"))
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
    // adjacent repeats all count (the non-overlapping replace trick
    // this replaced shared delimiter spaces and undercounted)
    import spark.implicits._
    val edge = Seq("the the x", "a a a", "a  a").toDF("text")
      .select(GraftFunctions.count_markers(col("text"), Seq("the", "a"))
        .as("c")).collect().map(_.getSeq[Long](0))
    assert(edge(0) === Seq(2L, 0L)) // 'the the' = two tokens
    assert(edge(1) === Seq(0L, 3L)) // 'a a a' = three tokens
    assert(edge(2) === Seq(0L, 2L)) // double space: still two tokens
    // and the composed form agrees on the edges
    val edgeC = Seq("the the x", "a a a", "a  a").toDF("text")
      .select(graft.ops.Text.markerCount(col("text"), "the").as("t"),
        graft.ops.Text.markerCount(col("text"), "a").as("a"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edgeC.toSeq === Seq((2L, 0L), (0L, 3L), (0L, 2L)))
  }

  test("simhash_fp == 64-column bit-sum aggregate, corpus-wide") {
    val base = Tables.load(spark, sf, "documents")
    val native = base
      .select(col("doc_id"), filter(split(col("text"), " "),
        w => length(w) > 0).as("__w"))
      .filter(size(col("__w")) > 0)
      .select(col("doc_id"),
        GraftFunctions.simhash_fp(col("__w"), 24).as("simhash"))
    val composed = graft.ops.Dedup.simhash(
      Text.words(base, "doc_id", "text"), "doc_id", 24)
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
  }

  test("simhash_fp2: LO word bit-identical to the 60-bit kernel, " +
      "corpus-wide; HI word a real second dimension") {
    val base = Tables.load(spark, sf, "documents")
    val words = base
      .select(col("doc_id"), filter(split(col("text"), " "),
        w => length(w) > 0).as("__w"))
      .filter(size(col("__w")) > 0)
    val both = words.select(col("doc_id"),
      GraftFunctions.simhash_fp(col("__w")).as("fp60"),
      GraftFunctions.simhash_fp2(col("__w")).as("fp2"))
      .select(col("doc_id"), col("fp60"),
        col("fp2").getItem(0).as("lo"), col("fp2").getItem(1).as("hi"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getAs[Long]("lo") === r.getAs[Long]("fp60"),
        s"doc ${r.getLong(0)}: fp2 LO word diverged from the 60-bit fp")
      assert((r.getAs[Long]("hi") >>> 60) === 0L,
        s"doc ${r.getLong(0)}: HI word has bits above 60 set")
    }
    // the hi words are not a copy of lo and not degenerate
    assert(both.map(_.getAs[Long]("hi")).distinct.length > 1)
    assert(both.exists(r => r.getAs[Long]("hi") != r.getAs[Long]("lo")))
  }

  test("multimodal image decode is deterministic and joins metadata") {
    val media = graft.ops.Multimodal.asBinary(
      Tables.load(spark, sf, "documents").limit(20), "doc_id", "text", "image")
    val dims = graft.ops.Multimodal.decodeDimsImageIo(media, "doc_id")
    val planned = graft.ops.Multimodal.withResizePlan(dims, 256)
    val rows = planned.collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val w = r.getAs[Int]("width"); val h = r.getAs[Int]("height")
      val ow = r.getAs[Int]("out_width"); val oh = r.getAs[Int]("out_height")
      assert(w >= 16 && h >= 16)
      assert(math.max(ow, oh) <= 256)
    }
  }

  test("multi_needle_matches rejects duplicate needles at plan time") {
    import spark.implicits._
    val df = Seq((1L, "sort")).toDF("id", "text")
    val e = intercept[Exception] {
      df.select(GraftFunctions.multi_needle_matches(
        col("text"), lit(Array("or", "or")))).collect()
    }
    assert(e.getMessage.contains("duplicate needle"))
  }

  test("cosine_f fails loudly on dimension mismatch and null elements") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(GraftFunctions.cosine_f(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("dimension mismatch"),
      s"got: ${e.getMessage}")
    val dfN = Seq((Seq[Option[Float]](Some(1f), None),
      Seq[Option[Float]](Some(1f), Some(2f)))).toDF("a", "b")
    val eN = intercept[Exception] {
      dfN.select(GraftFunctions.cosine_f(col("a"), col("b"))).collect()
    }
    assert(eN.getMessage.contains("NULL element"), s"got: ${eN.getMessage}")
  }

  test("array_pairs: oversize groups fail with the named skew message") {
    import graft.expressions.ArrayPairs.array_pairs
    import spark.implicits._
    // 66000 elements -> 2.18e9 pairs > Int.MaxValue: the require must
    // fire BEFORE any allocation (pre-fix, n*(n-1) wrapped in Int and
    // crashed with NegativeArraySizeException)
    val df = Seq(Tuple1((0 until 66000).map(_.toLong).toArray)).toDF("ids")
    val e = intercept[Exception] {
      df.select(array_pairs(col("ids")).as(Seq("a", "b"))).count()
    }
    assert(e.getMessage.contains("split or salt"), s"got: ${e.getMessage}")
  }

  test("semdedup_dups rejects an empty embedding blob for m > 1") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val ids = new GenericArrayData(Array[Any](1L, 2L))
    val flat = new GenericArrayData(Array.empty[Any])
    val e = intercept[IllegalArgumentException] {
      graft.expressions.Kernels.semdedupDups(ids, flat, 0.9)
    }
    assert(e.getMessage.contains("semdedup_dups"))
  }

  test("sentence_words trims spaces ONLY (SQL trim parity, not Java trim)") {
    import spark.implicits._
    import graft.expressions.SentenceWords.sentence_words
    // tab inside a sentence: SQL trim keeps it, Java trim would strip
    val df = Seq((1L, "a.\tb c")).toDF("doc_id", "text")
    val rows = df.select(sentence_words(col("text"))
        .as(Seq("si", "wi", "sentence", "word")))
      .collect().map(r => (r.getString(2), r.getString(3)))
    assert(rows.toSet === Set(("a", "a"), ("\tb c", "\tb"), ("\tb c", "c")),
      s"got: ${rows.mkString(", ")}")
  }

  test("cosine_f passes NaN through for zero-norm vectors (no crash)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f)),   // zero left norm -> 0/0
      (Array(0f, 0f, 0f), Array(0f, 0f, 0f)),   // both zero
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f))    // well-defined = 1.0
    ).toDF("a", "b")
    val got = df.select(
      graft.expressions.GraftFunctions.cosine_f(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(got(0).isNaN, s"expected NaN, got ${got(0)}")
    assert(got(1).isNaN, s"expected NaN, got ${got(1)}")
    assert(got(2) === 1.0)
    // the composed HOF form DIVERGES here under ANSI mode: Spark
    // errors on double divide-by-zero, so zero-norm vectors crash it —
    // the kernel's NaN matches the DuckDB oracle (non-ANSI float
    // division), which is the behavior the correctness gate needs
    val wellDefined = df.filter(element_at(col("a"), 1) =!= 0f)
      .select(graft.ops.Similarity.cosineHof(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(wellDefined.toSeq === Seq(1.0))
    intercept[ArithmeticException] {
      df.select(graft.ops.Similarity.cosineHof(col("a"), col("b"))).collect()
    }
  }
}
