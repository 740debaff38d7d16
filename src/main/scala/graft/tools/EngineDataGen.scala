package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for the ENGINE suite's star schema
  * (TESTDATA.md tables) — produces an sfX-equivalent directory by
  * templating off `/root/testdata/sf0.1`: size-invariant dimensions
  * (region/nation) are copied verbatim, template vocabularies
  * (document words, part-name adjective/noun inventories) seed the
  * HEAD of a Heaps-law vocabulary that grows with corpus size (see
  * the documents section — the round-9 fixed-vocab corpus made
  * shingle df grow linearly with the corpus, so slope measurements
  * measured the data, not the operators), and fact/dimension row
  * counts scale by the multiplier (sf1 = 10x sf0.1, matching the
  * 0.01→0.1 scaling the driver itself used for facts).
  *
  * Slope measurements must compare SAME-GENERATOR corpora: generate
  * a mult=1 directory alongside the mult=10 one and take slopes
  * between the two (the driver's sf0.1 testdata has the old dense
  * distribution — slopes against it confound generator and scale).
  *
  * All columns are deterministic hash functions of the row id (no
  * RNG): regenerating at the same multiplier is bit-identical, and
  * generation is fully distributed (spark.range + column exprs, no
  * driver-side data). Each table lands as ONE parquet FILE named
  * `<table>.parquet` — `Tables.loadStream`'s
  * `pathGlobFilter=<name>.parquet` matches file names, so a directory
  * layout would silently feed streaming queries nothing.
  *
  * This is a BENCH data generator (slope measurements at sf≥1); the
  * oracle gate stays on the driver's own immutable testdata.
  *
  * Usage: `sbt "runMain graft.tools.EngineDataGen <outDir> [mult]"`
  */
object EngineDataGen {

  /** Deterministic double in [0,1) from any columns. */
  private def u(cols: org.apache.spark.sql.Column*) =
    (pmod(xxhash64(cols: _*), lit(1000000007L)).cast("double") / 1e9)

  private def writeOne(df: DataFrame, outDir: String, name: String): Unit = {
    val tmp = s"$outDir/_$name"
    // single FILE per table (loadStream's pathGlobFilter contract) but
    // SMALL row groups: parquet splits at row-group boundaries, so a
    // coalesce(1) file with default 128 MB groups would be one
    // unsplittable task and serialize every scan (measured: the
    // flagship agg 12.7 s on a one-group 6M-row lineitem, 1.9 s with
    // 4 MB groups)
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (4 * 1024 * 1024).toString)
      .parquet(tmp)
    val dir = new java.io.File(tmp)
    val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file for $name"))
    val dest = new java.io.File(s"$outDir/$name.parquet")
    if (dest.exists()) dest.delete()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    def rm(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(rm); f.delete()
    }
    rm(dir)
    println(s"[datagen] wrote $name")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: EngineDataGen <outDir> [mult]")
    val outDir = args(0)
    val mult = if (args.length > 1) args(1).toInt else 10
    val template = "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session(cpus.toInt,
      appName = "graft-engine-datagen")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    def t(name: String) =
      graft.Tables.readParquet(spark, s"$template/$name.parquet")

    // ---- size-invariant dimensions: copy verbatim ------------------
    writeOne(t("region"), outDir, "region")
    writeOne(t("nation"), outDir, "nation")

    // ---- template-derived vocabularies -----------------------------
    val vocab: Array[String] = t("documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .collect().map(_.getString(0)).sorted
    val pAdj: Array[String] = t("part")
      .select(split(col("p_name"), " ").getItem(0).as("w")).distinct()
      .collect().map(_.getString(0)).sorted
    val pNoun: Array[String] = t("part")
      .select(split(col("p_name"), " ").getItem(1).as("w")).distinct()
      .collect().map(_.getString(0)).sorted
    val langs = Seq("en", "en", "de", "es", "fr", "zh") // ~en 2x weight
    println(s"[datagen] vocab=${vocab.length} adj=${pAdj.length} noun=${pNoun.length}")

    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nPart = 20000L * mult
    val nOrders = 150000L * mult
    val nEvents = 100000L * mult
    val nDocs = 5000L * mult
    val nEmb = 2000L * mult
    val nUsers = 1500L * mult

    // ---- customer / supplier / part --------------------------------
    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY").map(lit): _*)
    writeOne(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(xxhash64(col("id"), lit("cn")), lit(25L)).cast("int")
        .as("c_nationkey"),
      round(u(col("id"), lit("cb")) * 11000 - 1000, 2).as("c_acctbal"),
      element_at(segs,
        (pmod(xxhash64(col("id"), lit("cs")), lit(5L)) + 1).cast("int"))
        .as("c_mktsegment")), outDir, "customer")

    writeOne(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(xxhash64(col("id"), lit("sn")), lit(25L)).cast("int")
        .as("s_nationkey"),
      round(u(col("id"), lit("sb")) * 10000, 2).as("s_acctbal")),
      outDir, "supplier")

    val adjArr = array(pAdj.map(lit): _*)
    val nounArr = array(pNoun.map(lit): _*)
    val types = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
      "SMALL", "STANDARD").map(lit): _*)
    writeOne(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(
        element_at(adjArr, (pmod(xxhash64(col("id"), lit("pa")),
          lit(pAdj.length.toLong)) + 1).cast("int")),
        lit(" "),
        element_at(nounArr, (pmod(xxhash64(col("id"), lit("pn")),
          lit(pNoun.length.toLong)) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"),
        (pmod(xxhash64(col("id"), lit("pb")), lit(25L)) + 1)).as("p_brand"),
      element_at(types, (pmod(xxhash64(col("id"), lit("pt")),
        lit(6L)) + 1).cast("int")).as("p_type"),
      (pmod(xxhash64(col("id"), lit("ps")), lit(50L)) + 1).cast("int")
        .as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2)
        .as("p_retailprice")), outDir, "part")

    // ---- orders / lineitem -----------------------------------------
    val statuses = array(Seq("F", "O", "P").map(lit): _*)
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW").map(lit): _*)
    val day = 86400L
    val oBase = to_timestamp(lit("1995-01-01 00:00:00"))
    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit("oc")), lit(nCust)).as("o_custkey"),
      element_at(statuses, (pmod(xxhash64(col("id"), lit("os")),
        lit(3L)) + 1).cast("int")).as("o_orderstatus"),
      round(u(col("id"), lit("op")) * 499000 + 1000, 2).as("o_totalprice"),
      timestamp_seconds(unix_timestamp(oBase) +
        pmod(xxhash64(col("id"), lit("od")), lit(2404L)) * day)
        .as("o_orderdate"),
      element_at(prios, (pmod(xxhash64(col("id"), lit("opr")),
        lit(5L)) + 1).cast("int")).as("o_orderpriority"))
    writeOne(orders, outDir, "orders")

    // lines per order: 1 + (h%4) + (h2%4) — triangular 1..7, mean 4
    // (template: mean 4.0, range 1..17; the tail does not drive cost)
    val rf = array(Seq("A", "N", "R").map(lit): _*)
    val ls = array(Seq("F", "O").map(lit): _*)
    val li = spark.range(nOrders).select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (lit(1) +
          pmod(xxhash64(col("id"), lit("ln1")), lit(4L)) +
          pmod(xxhash64(col("id"), lit("ln2")), lit(4L))).cast("int")))
          .as("l_linenumber"))
      .select(
        col("l_orderkey"),
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit("lp")),
          lit(nPart)).as("l_partkey"),
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit("lsu")),
          lit(nSupp)).as("l_suppkey"),
        col("l_linenumber"),
        (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit("lq")),
          lit(50L)) + 1).cast("double").as("l_quantity"),
        round(u(col("l_orderkey"), col("l_linenumber"), lit("le")) *
          104100 + 900, 2).as("l_extendedprice"),
        (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit("ld")),
          lit(11L)).cast("double") / 100.0).as("l_discount"),
        (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit("lt")),
          lit(9L)).cast("double") / 100.0).as("l_tax"),
        element_at(rf, (pmod(xxhash64(col("l_orderkey"),
          col("l_linenumber"), lit("lr")), lit(3L)) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(ls, (pmod(xxhash64(col("l_orderkey"),
          col("l_linenumber"), lit("lls")), lit(2L)) + 1).cast("int"))
          .as("l_linestatus"),
        timestamp_seconds(unix_timestamp(oBase) +
          (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
            lit("lsd")), lit(2499L)) + 1) * day).as("l_shipdate"))
    writeOne(li, outDir, "lineitem")

    // ---- events (30-day window, ts monotone in event_id) -----------
    val evTypes = array(Seq("click", "error", "purchase", "signup",
      "view").map(lit): _*)
    val evBase = to_timestamp(lit("2024-01-01 00:00:00"))
    val spanUs = 30L * day * 1000000L
    writeOne(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(unix_micros(evBase) +
        col("id") * (spanUs / nEvents) +
        pmod(xxhash64(col("id"), lit("ej")), lit(spanUs / nEvents)))
        .as("ts"),
      pmod(xxhash64(col("id"), lit("eu")), lit(nUsers)).as("user_id"),
      element_at(evTypes, (pmod(xxhash64(col("id"), lit("et")),
        lit(5L)) + 1).cast("int")).as("event_type"),
      round(u(col("id"), lit("ev")) * 560, 2).as("value"),
      format_string("{\"k\": %d}",
        pmod(xxhash64(col("id"), lit("ek")), lit(100L))).as("props")),
      outDir, "events")

    // ---- documents (10-100 words, ~0.2% exact dups) ----------------
    //
    // Heaps-law vocabulary with Zipf word frequencies. The round-9
    // corpus drew words UNIFORMLY from the template's fixed 31-word
    // vocabulary, so the 3-gram shingle space was ~30k strings total
    // and per-shingle document frequency grew LINEARLY with corpus
    // size — every inverted-index bucket join's pair stream grew
    // quadratically BY CONSTRUCTION of the corpus, which made the sf1
    // slope table measure the data pathology instead of the
    // operators. Real corpora obey Heaps' law (|V| ~ K * N^beta,
    // beta ~ 0.5) with power-law word frequencies: the vocabulary
    // grows with the corpus and per-shingle df stays bounded except
    // for deliberate boilerplate. Reproduced here deterministically:
    //  - |V| = max(template vocab, ceil(8 * sqrt(expected tokens)))
    //  - rank drawn by power-law inverse CDF at s = 0.7:
    //    rank = floor((u * (V^(1-s) - 1) + 1)^(1/(1-s))), so
    //    P(rank = r) ~ r^-s. s = 0.7, not the word-unigram s ~ 1,
    //    because the SHINGLE stage consumes this corpus after the
    //    boilerplate discipline every real near-dup pipeline applies
    //    (drop stopword-dominated shingles — our maxDf cap): the
    //    post-filter df distribution is flatter than raw unigrams. At
    //    s = 1 the 31 head words still carried ~43% of token mass and
    //    head-shingle buckets stayed quadratic (measured: pair stream
    //    43x on 10x data); s = 0.7 puts ~16% on the head.
    //  - head ranks map to the template's words (the corpus keeps the
    //    template flavor exactly where frequency mass sits, i.e. as
    //    boilerplate); tail ranks are synthetic "w<rank>" words.
    val expTokens = nDocs * 55.0 // nWords ~ U[10,100], mean 55
    val heapsV = math.max(vocab.length.toLong,
      math.ceil(8.0 * math.sqrt(expTokens)).toLong)
    println(s"[datagen] heaps vocab |V| = $heapsV (template ${vocab.length})")
    val vocabArr = array(vocab.map(lit): _*)
    val langArr = array(langs.map(lit): _*)
    // dup seeding: doc ids ending in 500..507 per 5000-block reuse the
    // block-base text (mirrors the template's 8-dups-per-5000 rate)
    val baseId = when(pmod(col("id"), lit(5000L)).between(500L, 507L),
      col("id") - pmod(col("id"), lit(5000L))).otherwise(col("id"))
    val nWords = (pmod(xxhash64(baseId, lit("dn")), lit(91L)) + 10)
    val zipfS = 0.7
    def zipfWord(i: org.apache.spark.sql.Column) = {
      val oneMinusS = 1.0 - zipfS
      val scale = math.pow(heapsV.toDouble, oneMinusS) - 1.0
      // u() tops out at ~1.000000007, so clamp the rank into [1, V]
      val rank = greatest(lit(1L), least(
        floor(pow(u(baseId, i, lit("dw")) * scale + 1.0,
          lit(1.0 / oneMinusS))).cast("long"),
        lit(heapsV)))
      when(rank <= vocab.length, element_at(vocabArr, rank.cast("int")))
        .otherwise(concat(lit("w"), rank))
    }
    writeOne(spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), nWords.cast("int")),
        i => zipfWord(i))).as("text"),
      element_at(langArr, (pmod(xxhash64(col("id"), lit("dl")),
        lit(langs.length.toLong)) + 1).cast("int")).as("lang"),
      concat(lit("src"),
        pmod(xxhash64(col("id"), lit("ds")), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text"))), outDir, "documents")

    // ---- embeddings (64-dim, values ~U[-0.25, 0.25], labels 0-9) ---
    writeOne(spark.range(nEmb).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => (u(col("id"), i, lit("em")) * 0.5 - 0.25).cast("float"))
        .as("embedding"),
      pmod(xxhash64(col("id"), lit("el")), lit(10L)).cast("int")
        .as("label")), outDir, "embeddings")

    println(s"[datagen] done: $outDir (mult=$mult)")
    spark.stop()
  }
}
