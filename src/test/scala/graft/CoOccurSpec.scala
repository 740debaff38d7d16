package graft

import graft.ops.CoOccur
import org.apache.spark.sql.functions._

/** Blob-packed co-occurrence counts against the naive pair groupBy on
  * random corpora — exactness of the triangular index round-trip, the
  * minCount cut, non-vocab word skipping, and slice-boundary cases
  * the oracle query (t21) exercises only at one vocabulary size.
  */
class CoOccurSpec extends SparkSpec {
  import spark.implicits._

  private def naive(docs: Seq[(Long, Seq[String])], vocab: Array[String],
      minCount: Long): Set[(Int, Int, Long)] = {
    val id = vocab.zipWithIndex.toMap
    docs.flatMap { case (_, ws) =>
      val ids = ws.distinct.flatMap(id.get).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        yield (ids(i), ids(j))
    }.groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toLong) }
      .filter(_._3 >= minCount).toSet
  }

  private def run(docs: Seq[(Long, Seq[String])], vocab: Array[String],
      minCount: Long, parts: Int): Set[(Int, Int, Long)] = {
    val df = docs.toDF("doc_id", "ws")
    CoOccur.pairCounts(df, "ws", vocab, minCount, parts)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
  }

  test("random corpus matches the naive pair groupBy exactly") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 61).map(i => f"w$i%03d").toArray // odd V: T odd
    val extra = Array("zz_not_in_vocab", "aa_not_in_vocab")
    val docs = (0L until 200L).map { d =>
      val n = 2 + rnd.nextInt(12)
      d -> (Seq.fill(n)(vocab(rnd.nextInt(vocab.length))) ++
        (if (rnd.nextBoolean()) extra.toSeq else Nil))
    }
    // duplicate words within a doc must not double-count
    val withDups = docs.map { case (d, ws) => d -> (ws ++ ws.take(2)) }
    for (minCount <- Seq(1L, 3L); parts <- Seq(3, 32)) {
      assert(run(withDups, vocab, minCount, parts) ===
        naive(withDups, vocab, minCount),
        s"minCount=$minCount parts=$parts")
    }
  }

  test("triangular decode covers the first/last pair and slice edges") {
    val vocab = Array("a", "b", "c", "d", "e")
    val docs = Seq(
      0L -> Seq("a", "b"),     // idx 0 (first)
      1L -> Seq("d", "e"),     // idx T-1 (last)
      2L -> Seq("a", "e"),     // off(0) end
      3L -> Seq("a", "b", "c", "d", "e")) // all 10 pairs
    assert(run(docs, vocab, 1, 4) === naive(docs, vocab, 1))
  }

  test("empty vocab and sub-pair docs return no rows") {
    val docs = Seq(0L -> Seq("a"), 1L -> Seq.empty[String])
    assert(run(docs, Array("a"), 1, 8) === Set.empty)
    assert(run(docs, Array.empty[String], 1, 8) === Set.empty)
  }

  test("routing: dense below MaxDenseSlice, open-map reducer above") {
    // 61-word vocab at 3 reducers: slice = 611 — dense
    assert(CoOccur.routesDense(61, 3))
    // 10M-word vocab at 1024 reducers: slice ~ 4.9e10 — sparse
    assert(!CoOccur.routesDense(10000000, 1024))
    // the bound is exact: slice == maxDenseSlice stays dense
    assert(CoOccur.routesDense(61, 3, maxDenseSlice = 611))
    assert(!CoOccur.routesDense(61, 3, maxDenseSlice = 610))
    // raising the bound past the dense reducer's Int-indexable
    // ceiling must degrade to sparse, not route dense and then throw:
    // 95k vocab at 1 reducer -> slice ~ 4.5e9 > Int.MaxValue-8,
    // maxDenseSlice = Long.MaxValue notwithstanding
    assert(!CoOccur.routesDense(95000, 1, maxDenseSlice = Long.MaxValue))
    // while a slice under the ceiling still honors a raised bound
    assert(CoOccur.routesDense(61, 3, maxDenseSlice = Long.MaxValue))
  }

  test("sparse reducer ≡ dense reducer on random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 61).map(i => f"w$i%03d").toArray
    val docs = (0L until 150L).map { d =>
      val n = 2 + rnd.nextInt(15)
      d -> Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
    }
    val df = docs.toDF("doc_id", "ws")
    def collectSet(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => (x.getInt(0), x.getInt(1), x.getLong(2))).toSet
    for (minCount <- Seq(1L, 2L); parts <- Seq(3, 32)) {
      val dense = collectSet(
        CoOccur.pairCountsDense(df, "ws", vocab, minCount, parts))
      val sparse = collectSet(
        CoOccur.pairCountsSparse(df, "ws", vocab, minCount, parts))
      assert(sparse === dense, s"minCount=$minCount parts=$parts")
      assert(dense === naive(docs, vocab, minCount))
      // and the router takes the sparse path when forced
      val routed = collectSet(CoOccur.pairCounts(df, "ws", vocab,
        minCount, parts, maxDenseSlice = 1L))
      assert(routed === dense)
    }
  }

  test("vocabIds: distributed lexicographic ids == position in sorted order") {
    val words = Seq("pear", "apple", "fig", "apple", "banana", "kiwi")
    val got = CoOccur.vocabIds(
      words.toDF("w").repartition(4), "w")
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    val expect = words.distinct.sorted.zipWithIndex.toMap
    assert(got === expect)
  }

  test("vocabIds: null words are dropped, real ids stay unshifted") {
    // a null would sort first and silently shift every real word's id
    // by one, desyncing pairCountsJoin from the broadcast paths
    val words = Seq(null, "pear", "apple", null, "fig")
    val got = CoOccur.vocabIds(
      words.toDF("w").repartition(3), "w")
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(got === Map("apple" -> 0, "fig" -> 1, "pear" -> 2))
  }

  test("join-assigned ids ≡ broadcast paths on random corpora") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 61).map(i => f"w$i%03d").toArray
    val extra = Array("zz_not_in_vocab")
    val docs = (0L until 150L).map { d =>
      val n = 2 + rnd.nextInt(15)
      d -> (Seq.fill(n)(vocab(rnd.nextInt(vocab.length))) ++
        (if (rnd.nextBoolean()) extra.toSeq else Nil))
    }
    val df = docs.toDF("doc_id", "ws")
    // the id table comes from the DISTRIBUTED assignment, not the
    // broadcast array — the full beyond-driver-memory route
    val vdf = CoOccur.vocabIds(vocab.toSeq.toDF("w").repartition(3), "w")
    def collectSet(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => (x.getInt(0), x.getInt(1), x.getLong(2))).toSet
    for (minCount <- Seq(1L, 2L); parts <- Seq(3, 32)) {
      val joined = collectSet(CoOccur.pairCountsJoin(
        df, "doc_id", "ws", vdf, minCount, parts))
      val dense = collectSet(
        CoOccur.pairCountsDense(df, "ws", vocab, minCount, parts))
      assert(joined === dense, s"minCount=$minCount parts=$parts")
      assert(joined === naive(docs, vocab, minCount))
    }
    // sub-2-word vocab returns no rows (the T==0 guard)
    assert(collectSet(CoOccur.pairCountsJoin(df, "doc_id", "ws",
      CoOccur.vocabIds(Seq("w000").toDF("w"), "w"), 1L, 4)) === Set.empty)
  }

  test("pairCountsAuto: routesBroadcast boundary is exact") {
    // the predicate the auto route decides on, pinned like routesDense
    assert(CoOccur.routesBroadcast(0))
    assert(CoOccur.routesBroadcast(graft.ops.Guards.MaxBroadcastVocab))
    assert(!CoOccur.routesBroadcast(
      graft.ops.Guards.MaxBroadcastVocab + 1L))
    assert(CoOccur.routesBroadcast(16, bound = 16))
    assert(!CoOccur.routesBroadcast(17, bound = 16))
  }

  test("pairCountsAuto: broadcast route ≡ join route ≡ array API") {
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 61).map(i => f"w$i%03d").toArray
    val extra = Array("zz_not_in_vocab")
    val docs = (0L until 150L).map { d =>
      val n = 2 + rnd.nextInt(15)
      d -> (Seq.fill(n)(vocab(rnd.nextInt(vocab.length))) ++
        (if (rnd.nextBoolean()) extra.toSeq else Nil))
    }
    val df = docs.toDF("doc_id", "ws")
    // vocab as a DataFrame with duplicates and a null — both routes
    // must ignore them identically
    val vdf = (vocab.toSeq ++ Seq(vocab.head, null))
      .toDF("w").repartition(3)
    def words(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x =>
        (x.getString(0), x.getString(1), x.getLong(2))).toSet
    // the array API's id output decoded through the sorted vocab —
    // the ground truth in WORD space
    val arrayDecoded = CoOccur.pairCounts(df, "ws", vocab, 2L, 8)
      .collect()
      .map(r => (vocab(r.getInt(0)), vocab(r.getInt(1)), r.getLong(2)))
      .toSet
    // bound far above the vocab: takes the broadcast route
    val viaBroadcast = words(CoOccur.pairCountsAuto(
      df, "doc_id", "ws", vdf, "w", 2L, 8))
    // bound far below: takes vocabIds + pairCountsJoin + join decode
    val viaJoin = words(CoOccur.pairCountsAuto(
      df, "doc_id", "ws", vdf, "w", 2L, 8, maxBroadcastVocab = 4))
    assert(viaBroadcast === arrayDecoded)
    assert(viaJoin === arrayDecoded)
    // the boundary itself: bound == distinct vocab stays broadcast,
    // one less flips to the join route — equal either way
    val atBound = words(CoOccur.pairCountsAuto(
      df, "doc_id", "ws", vdf, "w", 2L, 8,
      maxBroadcastVocab = vocab.length))
    val justUnder = words(CoOccur.pairCountsAuto(
      df, "doc_id", "ws", vdf, "w", 2L, 8,
      maxBroadcastVocab = vocab.length - 1))
    assert(atBound === arrayDecoded)
    assert(justUnder === arrayDecoded)
  }

  test("join route: no CacheManager entry, same rows across hygiene") {
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 40).map(i => f"v$i%03d").toArray
    val docs = (0L until 80L).map { d =>
      d -> Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length)))
    }
    val df = docs.toDF("doc_id", "ws")
    val vdf = vocab.toSeq.toDF("w")
    def rows(r: org.apache.spark.sql.DataFrame) =
      r.select("w1", "w2", "c_xy").collect()
        .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
    val expected = rows(CoOccur.pairCountsAuto(df, "doc_id", "ws", vdf,
      "w", 2L, 8))
    spark.catalog.clearCache()
    // forced join route: its id table is materialized, not cached
    val res = CoOccur.pairCountsAuto(
      df, "doc_id", "ws", vdf, "w", 2L, 8, maxBroadcastVocab = 4)
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cache.isEmpty, "the join route registered a cached table")
    // dropping every block between build and drain costs a recompute
    graft.tools.SessionHygiene.unpersistAll(spark, blocking = true)
    assert(expected.nonEmpty)
    assert(rows(res) === expected)
  }

  test("OpenLongCount: counts exactly across growth, including key 0") {
    val m = new graft.ops.OpenLongCount(4)
    val rnd = new scala.util.Random(3)
    val keys = Seq.fill(5000)(rnd.nextInt(700).toLong) ++ Seq(0L, 0L, 0L)
    keys.foreach(m.add)
    val expect = keys.groupBy(identity).map { case (k, v) => k -> v.size }
    val got = m.iterator.map { case (k, c) => k -> c }.toMap
    assert(got === expect)
    assert(m.size === expect.size)
  }
}
