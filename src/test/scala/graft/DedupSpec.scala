package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups identical-after-normalization docs") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "other text")
    ).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups === Set((1L, 2L), (3L, 1L)))
  }

  test("minhash: identical shingle sets -> identical signatures") {
    val df = Seq((1L, "a b c d e"), (2L, "e d c b a"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(
      Dedup.wordShingles(df, "doc_id", "text"), "doc_id", 8)
      .orderBy("doc_id").collect()
    val s1 = sigs(0).toSeq.tail
    val s2 = sigs(1).toSeq.tail
    val s3 = sigs(2).toSeq.tail
    assert(s1 === s2)       // same word set, any order
    assert(s1 !== s3)       // disjoint vocab
  }

  test("LSH buckets identical docs together; jaccard verify = 1.0") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val harr = Dedup.ngramPortableHashArrays(df, "doc_id", "text", 1)
    val k = 8
    val sigs = harr.select(col("doc_id"), graft.expressions.GraftFunctions
        .minhash_sigs(col("hs"), k).as("s"))
      .select(col("doc_id") +: (0 until k)
        .map(i => element_at(col("s"), i + 1).as(s"sig_$i")): _*)
    val cands = Dedup.lshCandidatesOnce(sigs, "doc_id", k, 2)
    val verified = Dedup.jaccardVerifyHashArrays(cands, harr, "doc_id")
      .collect()
    assert(verified.length === 1)
    assert(verified(0).getLong(0) === 1L && verified(0).getLong(1) === 2L)
    assert(verified(0).getDouble(2) === 1.0)
  }

  test("lshCandidatesOnce == pairs sharing a band, each emitted once") {
    val k = 16; val r = 4 // 4 bands of 4 rows
    // every doc starts with unique signature values ...
    val base = (1L to 14L)
      .map(id => id -> Array.tabulate(k)(j => id * 100 + j)).toMap
    // ... then pairs copy whole bands from their partner
    def share(a: Long, b: Long, bands: Int*): Unit = bands.foreach { bd =>
      (bd * r until (bd + 1) * r).foreach(j => base(b)(j) = base(a)(j))
    }
    share(1, 2, 0) // exactly one band each, first ...
    share(3, 4, 2) // ... middle ...
    share(5, 6, 3) // ... and last
    share(7, 8, 1, 2, 3) // three bands: must still come out once
    share(11, 12, 1); share(11, 13, 1) // a three-doc bucket
    // no band: 3 of band 0's 4 rows agree, and rows of different
    // bands agree, but no band agrees on all of its rows
    (0 until r - 1).foreach(j => base(10)(j) = base(9)(j))
    base(14)(4) = base(9)(4); base(14)(8) = base(9)(8)
    val sigs = base.toSeq.map { case (id, s) => (id, s.toSeq) }
      .toDF("doc_id", "s")
      .select(col("doc_id") +: (0 until k)
        .map(j => element_at(col("s"), j + 1).as(s"sig_$j")): _*)
      .repartition(3)
    val got = Dedup.lshCandidatesOnce(sigs, "doc_id", k, r)
    // driver-side reference: ids a < b agreeing on some band's r values
    val expected = (for {
      a <- base.keys; b <- base.keys if a < b
      if (0 until k / r).exists(bd =>
        (bd * r until (bd + 1) * r).forall(j => base(a)(j) == base(b)(j)))
    } yield (a, b)).toSet
    assert(expected === Set((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L),
      (11L, 12L), (11L, 13L), (12L, 13L)))
    val rows = got.collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(rows.toSet === expected)
    assert(rows.length === rows.distinct.length)
    assert(got.count() === got.distinct().count())
  }

  test("bagOfWordsKey: whitespace runs don't change the key") {
    val keys = Seq((1L, "x y"), (2L, "x  y"), (3L, "y x x"), (4L, "x z"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.bagOfWordsKey(col("text")).as("k"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(keys(0) === keys(1)) // double space = same vocabulary
    assert(keys(0) === keys(2)) // permutation/repetition
    assert(keys(0) !== keys(3)) // different vocabulary
  }

  test("simhashPairsBanded: full-width single band stays an equi-join") {
    // bits=64, maxHamming=0: one band spanning the whole word. The
    // pre-fix mask (1L << 64) - 1 wrapped to 0, constant-folding the
    // band key and degenerating the join to all-pairs — assert the
    // plan keeps a hash-partitionable equi-join and the result is
    // exactly the equal-fingerprint pairs.
    val fp = Seq((1L, 42L), (2L, 42L), (3L, -7L), (4L, 42L), (5L, -7L))
      .toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairsBanded(fp, "doc_id", 0, bits = 64)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"full-width band degenerated to a non-equi join:\n$plan")
    val got = pairs.select("id_1", "id_2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (1L, 4L), (2L, 4L), (3L, 5L)))
  }

  test("simhashPairsBanded: zero-bit bands fail loudly") {
    val fp = Seq((1L, 1L)).toDF("doc_id", "simhash")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairsBanded(fp, "doc_id", 4, bits = 4) // 5 bands, 4 bits
    }
    assert(e.getMessage.contains("zero bits"))
  }

  test("simhashPairsBanded2: exact hamming<=h pairs over random " +
      "two-long fingerprints (boundary-spanning bands included)") {
    val rnd = new scala.util.Random(7)
    val mask60 = (1L << 60) - 1
    // clustered fingerprints so hamming<=6 pairs actually exist:
    // 12 seeds, each perturbed by 0-9 random bit flips across the
    // full 120-bit string (some flips land in the hi word, some lo,
    // exercising the word boundary)
    val seeds = Seq.fill(12)((rnd.nextLong() & mask60,
      rnd.nextLong() & mask60))
    val fps = (0L until 120L).map { i =>
      var (lo, hi) = seeds((i % 12).toInt)
      (0 until rnd.nextInt(10)).foreach { _ =>
        val b = rnd.nextInt(120)
        if (b < 60) lo ^= 1L << b else hi ^= 1L << (b - 60)
      }
      (i, lo, hi)
    }
    val brute = (for {
      a <- fps; b <- fps if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2) +
        java.lang.Long.bitCount(a._3 ^ b._3)
      if h <= 6
    } yield (a._1, b._1, h)).toSet
    val got = Dedup.simhashPairsBanded2(
      fps.toDF("doc_id", "simhash_lo", "simhash_hi"), "doc_id", 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(got === brute)
    assert(brute.nonEmpty) // the test tested something
  }

  test("simhashPairsBanded2: zero-bit bands fail loudly") {
    val fp = Seq((1L, 1L, 1L)).toDF("doc_id", "simhash_lo", "simhash_hi")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairsBanded2(fp, "doc_id", 5, bitsPerWord = 2)
    }
    assert(e.getMessage.contains("zero bits"))
  }

  test("simhashPairsBanded2: a band wider than one long fails loudly " +
      "(shiftleft would silently truncate the key)") {
    val fp = Seq((1L, 1L, 1L)).toDF("doc_id", "simhash_lo", "simhash_hi")
    val e = intercept[IllegalArgumentException] {
      // maxHamming=0 at the default 60-bit words = one 120-bit band
      Dedup.simhashPairsBanded2(fp, "doc_id", 0)
    }
    assert(e.getMessage.contains("widest band"))
  }

  test("simhash: identical docs equal, disjoint docs differ") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val fp = Dedup.simhash(
      graft.ops.Text.words(df, "doc_id", "text"), "doc_id",
      bits = 32)
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
  }

  test("cosine: self = 1, orthogonal = 0") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 2.0f), 0.0)
    ).toDF("a", "b", "expected")
    val rows = df.select(
      Similarity.cosine(col("a"), col("b")).as("cos"), col("expected"))
      .collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("IVF recall: nprobe=2 >= nprobe=1, both measured against brute force") {
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf)
        .filter(org.apache.spark.sql.functions.col("rnk") <= 5)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = topk("d09_knn_bruteforce")
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val per = truth.map { case (q, t) =>
        approx.get(q).map(a => (a & t).size.toDouble / t.size).getOrElse(0.0)
      }
      per.sum / per.size
    }
    val r1 = recall(topk("d10_knn_ivf"))
    val r2 = recall(topk("d16_knn_ivf_nprobe"))
    assert(r2 >= r1, s"nprobe=2 recall $r2 < nprobe=1 recall $r1")
    assert(r2 > 0.0, "nprobe=2 found nothing")
  }

  test("prefix filtering is exact at t=0.8 and prunes the pair stream") {
    import org.apache.spark.sql.functions._
    val docsDf = Tables.load(spark, sf, "documents")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("jaccard") >= 0.8)
        .select("id_1", "id_2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val harr = Dedup.ngramPortableHashArrays(docsDf, "doc_id", "text", 3)
      .filter(size(col("hs")) > 0).localCheckpoint()
    val prefixCands = Dedup.prefixFilteredCandidatesHashed(harr, "doc_id", 80)
      .localCheckpoint()
    // ground truth: every pair sharing a string shingle, exact jaccard
    val full = Dedup.jaccardAllPairs(
      Dedup.ngramShingles(docsDf, "doc_id", "text", 3), "doc_id")
      .localCheckpoint()
    // exactness: verifying the pruned candidates finds the identical
    // qualifying pair set the full bucket join finds
    val qualifying = pairSet(full)
    assert(qualifying.nonEmpty)
    assert(pairSet(Dedup.jaccardVerifyHashArrays(prefixCands, harr,
      "doc_id", minJaccardPct = 80)) === qualifying)
    // and the candidate stream actually shrank (the point of the
    // algorithm — rarest-20%-of-shingles buckets)
    val (np, nf) = (prefixCands.count(), full.count())
    assert(np * 2 < nf,
      s"prefix candidates $np not meaningfully below full $nf")
  }

  test("dupEdges: the t>=0.6 prefix path and the bucket path agree " +
    "on the qualifying edge set") {
    import org.apache.spark.sql.functions._
    val docsDf = Tables.load(spark, sf, "documents")
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // t=0.8 routes through the AllPairs prefix filter; the same
    // threshold applied to the full bucket join is the ground truth
    val viaPrefix = edgeSet(Dedup.dupEdges(docsDf, "doc_id", "text", 3,
      tPct = 80))
    val sh = Dedup.ngramShingles(docsDf, "doc_id", "text", 3)
    val viaBuckets = edgeSet(Dedup.jaccardAllPairs(sh, "doc_id")
      .filter(col("jaccard") >= 0.8)
      .select(col("id_1").as("u"), col("id_2").as("v")))
    assert(viaPrefix === viaBuckets)
    // the low-threshold route is the bucket join itself
    val lo = edgeSet(Dedup.dupEdges(docsDf, "doc_id", "text", 3, tPct = 10))
    val loTruth = edgeSet(Dedup.jaccardAllPairs(sh, "doc_id")
      .filter(col("jaccard") >= 0.1)
      .select(col("id_1").as("u"), col("id_2").as("v")))
    assert(lo === loTruth)
  }

  test("integer threshold (100*n >= p*union) == double jaccard/" +
    "containment filter, exhaustively through every boundary") {
    import org.apache.spark.sql.functions._
    // the r17 thresholded/minMaxContainmentPct filters replace
    // `n.toDouble/u >= p/100.0` with `100*n >= p*u`; the two can only
    // disagree when the exact rationals n/u and p/100 differ yet
    // round to the same double — impossible below u ~ 2^53/100.
    // Exhaust every (n, u) boundary up to u=2000 for the thresholds
    // the queries use (10, 50, 60, 80, 90) plus awkward primes.
    for (p <- Seq(1, 7, 10, 33, 50, 60, 80, 90, 99, 100);
         u <- 1 to 2000; n <- Seq(0L, 1L,
           (p.toLong * u) / 100 - 1, (p.toLong * u) / 100,
           (p.toLong * u) / 100 + 1, u.toLong).filter(x => x >= 0 && x <= u)) {
      val viaDouble = n.toDouble / u >= p / 100.0
      val viaInt = n * 100 >= p.toLong * u
      assert(viaDouble === viaInt, s"divergence at n=$n u=$u p=$p")
    }
    // and through the engine ops on docs ENGINEERED to sit exactly ON
    // the boundary: word-level 1-gram shingles, |A|=11, |B|=11,
    // |A∩B|=2, union=20 -> jaccard exactly 0.1; containment pair with
    // n_common/min exactly 0.5
    val a = (0 until 9).map(i => s"a$i").mkString(" ") + " s0 s1"
    val b = (0 until 9).map(i => s"b$i").mkString(" ") + " s0 s1"
    val docsDf = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val sh = Dedup.wordShingles(docsDf, "doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("id_1", "id_2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // j = 2/20 = 0.1: >= 10 keeps it, >= 11 (via 11pct) drops it —
    // identical to the double filter on the unthresholded op
    assert(pairs(Dedup.jaccardAllPairs(sh, "doc_id", thresholdPct = 10))
      === pairs(Dedup.jaccardAllPairs(sh, "doc_id")
        .filter(col("jaccard") >= 0.1)))
    assert(pairs(Dedup.jaccardAllPairs(sh, "doc_id", thresholdPct = 10))
      === Set((1L, 2L)))
    assert(pairs(Dedup.jaccardAllPairs(sh, "doc_id", thresholdPct = 11))
      === pairs(Dedup.jaccardAllPairs(sh, "doc_id")
        .filter(col("jaccard") >= 0.11)))
    // containment: doc 3 = {s0, s1, c0, c1} (|C|=4), doc 4 = {s0, s1}
    // (|D|=2) -> c_DinC = 2/2 = 1.0, c_CinD = 2/4 = 0.5 boundary;
    // also check a pair sitting strictly BELOW 0.5 on both sides
    val docs2 = Seq((3L, "s0 s1 c0 c1"), (4L, "s0 s1"),
      (5L, "s0 e0 e1 e2 e3")).toDF("doc_id", "text")
    val sh2 = Dedup.wordShingles(docs2, "doc_id", "text")
    assert(pairs(Dedup.containmentAllPairs(sh2, "doc_id",
        minMaxContainmentPct = 50))
      === pairs(Dedup.containmentAllPairs(sh2, "doc_id")
        .filter(greatest(col("c_1in2"), col("c_2in1")) >= 0.5)))
    assert(pairs(Dedup.containmentAllPairs(sh2, "doc_id",
        minMaxContainmentPct = 51))
      === pairs(Dedup.containmentAllPairs(sh2, "doc_id")
        .filter(greatest(col("c_1in2"), col("c_2in1")) >= 0.51)))
  }

  test("thresholded compares counts above 2^31/100 without int overflow") {
    // ~25M-shingle docs: 100 * n_common passes Int.MaxValue, an ANSI
    // overflow error if the product is taken in int space
    val counted = Seq((1L, 2L, 25000000, 30000000, 30000000))
      .toDF("id_1", "id_2", "n_common", "na", "nb")
    val union = col("na") + col("nb") - col("n_common")
    // jaccard = 25M / 35M = 0.714...
    assert(Dedup.thresholded(counted, union, 71).count() === 1L)
    assert(Dedup.thresholded(counted, union, 72).count() === 0L)
  }

  test("d12 pipeline: depth-9 near-dup chain resolves to ONE group " +
    "(past min-label propagation's diameter-5 bound)") {
    import org.apache.spark.sql.functions._
    // doc_i = block_i ++ block_{i+1}: consecutive docs share exactly
    // the 3 word-3-grams interior to the shared block (jaccard
    // 3/13 ~ 0.23 >= 0.1), docs two apart share nothing — so the dup
    // graph is the diameter-9 path 0-1-...-9, which 5 rounds of
    // min-label propagation CANNOT collapse but 4 star alternations do
    def block(i: Int) = (0 until 5).map(k => s"w${i}x$k").mkString(" ")
    val docsDf = (0 until 10)
      .map(i => (i.toLong, block(i) + " " + block(i + 1)))
      .toDF("doc_id", "text")
    val sh = Dedup.ngramShingles(docsDf, "doc_id", "text", 3)
    val edges = Dedup.jaccardAllPairs(sh, "doc_id")
      .filter(col("jaccard") >= 0.1)
      .select(col("id_1").as("u"), col("id_2").as("v"))
    val e = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e === (0L until 9L).map(i => (i, i + 1)).toSet,
      s"expected the path graph, got $e")
    val roots = graft.ops.StarCC.components(edges, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 9L).forall(i => roots(i) === 0L),
      s"chain not fully collapsed: $roots")
  }

  test("pq_assign_adc kernel == composed LUT-lookup argmin, and the " +
    "code-matrix length guard fires") {
    import graft.expressions.GraftFunctions.{pq_adc_lut, pq_assign_adc, pq_encode}
    import graft.ops.Pq
    import org.apache.spark.sql.functions._
    val vecs = (0 until 12).map { i =>
      (i.toLong, (0 until Pq.Dim)
        .map(j => ((i * 31 + j * 7) % 17) / 34.0f - 0.25f).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding").localCheckpoint()
    // centroids = vectors 0, 3, 6, 9 (ids deliberately non-contiguous)
    val centRows = df.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id").as("cid"), pq_encode(col("embedding")).as("cc"))
      .orderBy("cid").collect()
    val ids = centRows.map(_.getLong(0))
    val codesFlat = centRows.flatMap(_.getSeq[Int](1))
    val viaKernel = df.select(col("vec_id"),
        pq_assign_adc(col("embedding"), typedlit(codesFlat), typedlit(ids))
          .as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: explicit LUT + per-centroid sum + (adc, cid) argmin
    val lutRows = df.select(col("vec_id"), pq_adc_lut(col("embedding")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val expected = lutRows.map { case (v, lut) =>
      v -> ids.zipWithIndex.map { case (cid, ci) =>
        val adc = (0 until Pq.M)
          .map(s => lut(s * Pq.K + codesFlat(ci * Pq.M + s))).sum
        (adc, cid)
      }.min._2
    }
    assert(viaKernel === expected)
    // a truncated code matrix is rejected loudly, not read out of bounds
    val bad = intercept[Exception] {
      df.select(pq_assign_adc(col("embedding"),
        typedlit(codesFlat.dropRight(1)), typedlit(ids))).collect()
    }
    assert(bad.getMessage != null)
  }

  test("pq_encode_cb: runtime codebook encode == the keyed-join argmin, " +
    "and absent codewords are skipped") {
    import graft.expressions.GraftFunctions.pq_encode_cb
    import graft.ops.Pq
    import org.apache.spark.sql.functions._
    val vecs = (0 until 10).map { i =>
      (i.toLong, (0 until Pq.Dim)
        .map(j => ((i * 13 + j * 5) % 19) / 38.0f - 0.25f).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding").localCheckpoint()
    // a runtime codebook with cluster 3 ABSENT in subspace 0 and all
    // others present, values from a deterministic formula
    val flat = new Array[Long](Pq.M * Pq.K * Pq.SubDim)
    val present = new Array[Long](Pq.M)
    for (s <- 0 until Pq.M; c <- 0 until Pq.K; j <- 0 until Pq.SubDim) {
      if (!(s == 0 && c == 3)) {
        flat((s * Pq.K + c) * Pq.SubDim + j) =
          ((s * 31 + c * 17 + j * 7) % 41) * 10000L - 200000L
        present(s) |= 1L << c
      }
    }
    val viaKernel = df.select(col("vec_id"),
        pq_encode_cb(col("embedding"), typedlit(flat.toSeq),
          typedlit(present.toSeq)).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // reference: per (vec, s) argmin by (d2, c) over PRESENT entries
    val expected = vecs.map { case (v, emb) =>
      v -> (0 until Pq.M).map { s =>
        (0 until Pq.K).filter(c => (present(s) & (1L << c)) != 0)
          .map { c =>
            val d2 = (0 until Pq.SubDim).map { j =>
              val q = math.floor(emb(s * Pq.SubDim + j).toDouble * 1e6).toLong
              val t = q - flat((s * Pq.K + c) * Pq.SubDim + j); t * t
            }.sum
            (d2, c)
          }.min._2
      }
    }.toMap
    assert(viaKernel.view.mapValues(_.toSeq).toMap ===
      expected.view.mapValues(_.toSeq).toMap)
    // the absent codeword is never emitted for subspace 0
    assert(viaKernel.values.map(_.head).forall(c =>
      (present(0) & (1L << c)) != 0))
  }

  test("PQ: encode shape/determinism; identical vectors share codes; " +
    "self-ADC is the per-subspace minimum") {
    import graft.ops.Pq
    val v = (0 until 64).map(i => (i * 7 % 13) / 26.0f - 0.25f).toArray
    val w = (0 until 64).map(i => (i * 5 % 11) / 22.0f - 0.25f).toArray
    val df = Seq((1L, v), (2L, v), (3L, w)).toDF("vec_id", "embedding")
    val codes = Pq.encode(df, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(codes.length === 3 * Pq.M)
    assert(codes.forall { case (_, s, c) =>
      s >= 0 && s < Pq.M && c >= 0 && c < Pq.K })
    // identical input -> identical codes (and invariant to partitioning)
    val c1 = codes.filter(_._1 == 1L).map(x => (x._2, x._3)).sorted
    val c2 = codes.filter(_._1 == 2L).map(x => (x._2, x._3)).sorted
    assert(c1 === c2)
    val reparted = Pq.encode(df.repartition(5), "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    assert(reparted === codes.sorted)
    // ADC(q -> same-vector corpus entry) == sum over subspaces of the
    // MINIMUM codeword distance — the tightest ADC any entry can get
    val lut = Pq.adcTable(df.filter(col("vec_id") === 1L),
      "vec_id", "embedding").collect()
      .map(r => ((r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    val minSum = (0 until Pq.M).map { s =>
      (0 until Pq.K).map(c => lut((s, c))).min }.sum
    val selfAdc = c1.map { case (s, c) => lut((s, c)) }.sum
    assert(selfAdc === minSum)
  }

  test("trained PQ codebook (d31's Lloyd) reduces total quantization error") {
    // Lloyd monotonicity: after two integer-exact iterations the sum
    // over (vector, subspace) of the min squared distance to a
    // codeword must not exceed the seed codebook's — the property
    // that makes d31's trained codebook better than d30's random one
    val eq = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "pos", "x")
      .select(col("vec_id"),
        (col("pos") / 8).cast("int").as("s"),
        (col("pos") % 8).cast("int").as("j"),
        floor(col("x").cast("double") * 1000000).cast("long").as("v"))
      .localCheckpoint()
    def dist(cent: org.apache.spark.sql.DataFrame) = eq
      .join(broadcast(cent), Seq("s", "j"))
      .groupBy("vec_id", "s", "c")
      .agg(sum((col("v") - col("w")) * (col("v") - col("w"))).as("d2"))
    def assign(cent: org.apache.spark.sql.DataFrame) = dist(cent)
      .groupBy("vec_id", "s")
      .agg(min(struct(col("d2"), col("c"))).as("_m"))
      .select(col("vec_id"), col("s"), col("_m.c").as("c"))
    def recenter(asg: org.apache.spark.sql.DataFrame) = eq
      .join(asg, Seq("vec_id", "s"))
      .groupBy("s", "c", "j")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .select(col("s"), col("c"), col("j"),
        expr("(sv - pmod(sv, n)) div n").as("w"))
    def totalErr(cent: org.apache.spark.sql.DataFrame): Long = dist(cent)
      .groupBy("vec_id", "s").agg(min("d2").as("m"))
      .agg(sum("m")).head.getLong(0)
    val c0 = eq.filter(col("vec_id") < 16)
      .select(col("s"), col("vec_id").as("c"), col("j"), col("v").as("w"))
      .localCheckpoint()
    val c2 = recenter(assign(recenter(assign(c0)))).localCheckpoint()
    val (e0, e2) = (totalErr(c0), totalErr(c2))
    assert(e2 < e0, s"training did not reduce error: $e0 -> $e2")
  }

  test("winnow_keys matches a brute-force reference and guarantees " +
      "a shared fingerprint on any >= k+w-1 word overlap") {
    import spark.implicits._
    import graft.expressions.GraftFunctions.winnow_keys
    val K = 5; val W = 8
    // brute-force reference: md5-hex keys, per-window argmin, distinct
    def ref(words: Seq[String]): Seq[String] = {
      if (words.length < K) return Seq.empty
      val md = java.security.MessageDigest.getInstance("MD5")
      val keys = (0 to words.length - K).map { i =>
        val h = md.digest(words.slice(i, i + K).mkString(" ")
          .getBytes("UTF-8")).map("%02x".format(_)).mkString
        h + f"$i%08d"
      }
      val tmax = math.max(keys.length - W, 0)
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      (0 to tmax).foreach { t =>
        out += keys.slice(t, t + W).min
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 50).map(i => s"w$i")
    val docsSeq = (0 until 30).map { i =>
      i.toLong -> (0 until (3 + rnd.nextInt(40)))
        .map(_ => vocab(rnd.nextInt(vocab.length)))
    }
    val got = docsSeq.map { case (id, ws) => (id, ws) }
      .toDF("doc_id", "words")
      .select(col("doc_id"), winnow_keys(col("words"), K, W).as("sel"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    docsSeq.foreach { case (id, ws) =>
      assert(got(id) === ref(ws).toSet, s"doc $id winnow mismatch")
    }
    // guarantee: two docs sharing a run of K+W-1 words at DIFFERENT
    // offsets share at least one selected 32-char fingerprint
    val run = (0 until (K + W - 1)).map(i => s"shared$i")
    val a = (0 until 20).map(_ => vocab(rnd.nextInt(50))) ++ run ++
      (0 until 7).map(_ => vocab(rnd.nextInt(50)))
    val b = (0 until 3).map(_ => vocab(rnd.nextInt(50))) ++ run ++
      (0 until 31).map(_ => vocab(rnd.nextInt(50)))
    val fa = ref(a).map(_.take(32)).toSet
    val fb = ref(b).map(_.take(32)).toSet
    assert(fa.intersect(fb).nonEmpty,
      "winnow guarantee violated: no shared fingerprint on a " +
        s"${K + W - 1}-word shared run")
  }

  test("d36 span removal: every distinct passage survives exactly once " +
    "corpus-wide; dup-free docs reconstruct verbatim") {
    val out = SparkEntry.queries("d36_span_removal")(spark, sf).collect()
    // each doc keeps a subset of its passages
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_passages"))
    }
    // the kept total equals the number of DISTINCT passage
    // fingerprints — one canonical copy per distinct span, no more,
    // no fewer (the keep-first-occurrence contract)
    val chunks = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), expr(
        """filter(split(text, ' '), x -> length(x) > 0)""").as("__w"))
      .filter(size(col("__w")) > 0)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, (size(__w) - 1) div 10),
          |  i -> concat_ws(' ', slice(__w, i * 10 + 1, 10)))"""
          .stripMargin)).as("chunk"))
    val nDistinct = chunks.select("chunk").distinct().count()
    assert(out.map(_.getAs[Long]("n_kept")).sum === nDistinct)
    // a doc whose passages are all unique reconstructs to exactly its
    // (whitespace-normalized) original text
    val allKept = out.filter(r =>
      r.getAs[Long]("n_kept") == r.getAs[Long]("n_passages"))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_md5"))
      .toMap
    assert(allKept.nonEmpty, "corpus should contain dup-free docs")
    val expected = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), md5(expr(
        "array_join(filter(split(text, ' '), x -> length(x) > 0), ' ')"))
        .as("m"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("m"))
      .toMap
    allKept.foreach { case (id, m) =>
      assert(m === expected(id), s"doc $id did not reconstruct verbatim")
    }
  }
}
