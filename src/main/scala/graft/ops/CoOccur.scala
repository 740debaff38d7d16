package graft.ops

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exact document-level word co-occurrence counting (the t21 / PMI
  * shape): given per-document DISTINCT word arrays and a sorted head
  * vocabulary, count for every unordered vocab pair (a, b) the number
  * of documents containing both.
  *
  * Why not `explode pairs + groupBy`: the pair stream is quadratic in
  * per-doc vocab hits (~87M rows at sf1 here) and its key cardinality
  * is near the stream size (~33M distinct), so hash aggregation pays a
  * full partial phase with a ~1.05 combine ratio (per-task maps of
  * millions of entries, spill) plus a per-pair-row exchange (~24-32
  * bytes of UnsafeRow + record framing per 8-byte key). Measured
  * 14 s at sf1; this operator does the identical computation in
  * ~1.8 s by restructuring, not approximating:
  *
  *  1. Pairs are generated NARROWLY per document (ids from a
  *     broadcast word->id map over the sorted vocab, so id order ==
  *     lexicographic word order) and bucketed map-side by reducer.
  *  2. Each pair is a triangular index idx in [0, V(V-1)/2); the
  *     exchange ships per-reducer Array[Int] BLOBS of idx/R slots
  *     (4 bytes per pair, ~one row per map-task x reducer) instead of
  *     one row per pair — the same hash-partitioned-by-key exchange,
  *     packed ~8x denser.
  *  3. Reducer p owns the slice {idx : idx % R == p} and counts into
  *     a DENSE int array of T/R slots (11 MB at V=13k, L3-resident —
  *     no per-key hashing at all), then emits only pairs with
  *     count >= minCount.
  *
  * Scale notes (100 TB): the exchange is the algorithm's inherent
  * term-pair shuffle, just packed; reducers scale out with R. The
  * dense slice costs T/R ints per reducer, which stops being L3/
  * memory-sane past ~1M vocab words at practical R — so
  * [[pairCounts]] carries an EXPLICIT route (the SemDedup k-switch
  * discipline): slices <= [[MaxDenseSlice]] take the dense-array
  * reducer; larger vocabularies take [[pairCountsSparse]], whose
  * map side ships whole triangular indices as packed longs (8
  * bytes/pair, still blob-dense) and whose reducer counts in an
  * open-addressing map sized by the DISTINCT pairs a reducer
  * actually observes (Zipfian corpora realize a tiny fraction of
  * V²/2) rather than by the slice. CoOccurSpec proves dense ≡
  * sparse ≡ join row-for-row and pins the routing. The head
  * vocabulary (df >= cut) is collected and broadcast like the
  * lexicon/centroid patterns — Heaps-sublinear in corpus size and
  * bounded by total_tokens/minDf; past the driver-broadcast bound
  * ([[Guards.MaxBroadcastVocab]]) the scale route is [[vocabIds]]
  * (distributed lexicographic id assignment) + [[pairCountsJoin]]
  * (term-keyed id join into the same open-map reducer) — no
  * driver-sized state anywhere on that route. [[pairCountsAuto]]
  * picks broadcast↔join by itself from the vocabulary's measured
  * cardinality ([[routesBroadcast]]), so a single call site holds
  * from a 13k-word head vocabulary to a 10^9-term one.
  *
  * Reference: document co-occurrence / PMI as in gpu-bdb's text
  * analytics family; counts are exact, matching the naive pair
  * groupBy row-for-row (CoOccurSpec proves equality on random
  * corpora; t21's DuckDB oracle gates it end-to-end). The dense
  * path's per-pair count is an Int with a guarded increment — a pair
  * co-occurring in > 2^31-1 documents fails LOUDLY (message naming
  * the sparse path, whose counts are Long) instead of wrapping.
  */
object CoOccur {

  /** Dense/sparse reducer routing bound: the largest per-reducer
    * triangular slice (in 4-byte count slots — 2^28 = 1 GiB) the
    * dense-array reducer takes by default. Above it (≈1M+ vocab words
    * at default R) [[pairCounts]] routes to the open-map reducer. */
  val MaxDenseSlice: Long = 1L << 28

  /** True iff a (V, parts) instance takes the dense-slice reducer —
    * the routing predicate, exposed so the spec pins it. The bound is
    * clamped to the dense reducer's hard Int-indexability ceiling
    * (Int.MaxValue - 8 count slots), so a caller who RAISES
    * maxDenseSlice past what a JVM array can hold degrades to the
    * sparse path instead of tripping the dense path's require. */
  private[graft] def routesDense(vocabSize: Int, parts: Int,
      maxDenseSlice: Long = MaxDenseSlice): Boolean = {
    val t = vocabSize.toLong * (vocabSize - 1) / 2
    math.max(1L, t / parts + 1) <=
      math.min(maxDenseSlice, (Int.MaxValue - 8).toLong)
  }

  private val pairSchema = StructType(Seq(
    StructField("id1", IntegerType, nullable = false),
    StructField("id2", IntegerType, nullable = false),
    StructField("c_xy", LongType, nullable = false)))

  /** Count documents containing each vocab pair.
    *
    * @param docWords  one row per document, `wordsCol` an
    *                  array<string> of the document's words
    *                  (duplicates are deduped internally — a doc
    *                  contributes each pair once); non-vocab words
    *                  are ignored.
    * @param vocab     SORTED word list; ids are positions, so
    *                  id1 < id2 iff word1 < word2 lexicographically.
    * @param minCount  only pairs with c_xy >= minCount are returned.
    * @param parts     reducer count R (pair-space slices).
    * @param maxDenseSlice routing bound, [[MaxDenseSlice]] unless a
    *                  caller forces a path (raising it past the
    *                  default is honored up to the dense reducer's
    *                  Int-indexable ceiling, Int.MaxValue - 8 slots;
    *                  beyond that the routing itself degrades to the
    *                  sparse reducer rather than throwing).
    * @return DataFrame(id1 INT, id2 INT, c_xy LONG), id1 < id2.
    */
  def pairCounts(docWords: DataFrame, wordsCol: String,
      vocab: Array[String], minCount: Long, parts: Int,
      maxDenseSlice: Long = MaxDenseSlice): DataFrame =
    if (routesDense(vocab.length, parts, maxDenseSlice))
      pairCountsDense(docWords, wordsCol, vocab, minCount, parts,
        maxDenseSlice)
    else pairCountsSparse(docWords, wordsCol, vocab, minCount, parts)

  /** True iff a vocabulary of `distinctVocab` words takes the
    * broadcast (dense/sparse) route in [[pairCountsAuto]] — the
    * broadcast↔join routing predicate, exposed so the spec pins it
    * (the [[routesDense]] discipline one level up). */
  private[graft] def routesBroadcast(distinctVocab: Long,
      bound: Int = Guards.MaxBroadcastVocab): Boolean =
    distinctVocab <= bound

  /** Fully-routed pair counting: the vocabulary arrives as a
    * DataFrame and the result comes back as WORDS — the operator
    * itself picks the route by distinct-vocabulary cardinality
    * against the driver-broadcast bound ([[routesBroadcast]]):
    *
    *  - within the bound: collect the sorted vocabulary once
    *    (bounded by construction) and run the broadcast operator
    *    ([[pairCounts]], which routes dense↔sparse by slice size) —
    *    id→word decode is a broadcast join on the tiny id table;
    *  - past the bound: [[vocabIds]] (distributed lexicographic id
    *    assignment, materialized) + [[pairCountsJoin]] (term-keyed id
    *    join into the open-map reducer) — decode joins the SAME
    *    distributed id table, so no word→id or id→word state ever
    *    touches the driver.
    *
    * One call site therefore survives a 10^9-term vocabulary without
    * a code change (previously the caller had to read the
    * [[Guards.boundedCollect]] diagnosis and switch APIs by hand).
    * The distinct+sort+id-assignment pass runs ONCE ([[vocabIds]],
    * materialized); the routing probe is that materialization's own
    * count — deliberately NOT `limit(bound+1).count()`, whose global
    * limit funnels up to bound+1 rows from EVERY upstream partition
    * into a single-partition exchange exactly when the vocabulary is
    * huge. On the join route the returned frame reads the
    * materialized id table in the pair pass and both decode joins.
    * All three underlying paths are proven row-for-row
    * equal (CoOccurSpec dense ≡ sparse ≡ join, plus the auto-route
    * boundary spec).
    *
    * @param docIdCol a REAL per-row key: the join route regroups by
    *                 it ([[pairCountsJoin]]'s contract), so rows
    *                 sharing a doc id would merge into one document
    *                 there while the broadcast route treats every row
    *                 as its own document — route-independence of the
    *                 result requires per-row-unique ids.
    * @param vocab    candidate vocabulary (any size); null words and
    *                 duplicates are ignored on both routes.
    * @return DataFrame(w1 STRING, w2 STRING, c_xy LONG), w1 < w2
    *         lexicographically.
    */
  def pairCountsAuto(docWords: DataFrame, docIdCol: String,
      wordsCol: String, vocab: DataFrame, wordCol: String,
      minCount: Long, parts: Int,
      maxBroadcastVocab: Int = Guards.MaxBroadcastVocab,
      maxDenseSlice: Long = MaxDenseSlice): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val spark = docWords.sparkSession
    // one distinct+sort+id pass for probe, collect, AND the join
    // route — vocabIds materializes it (its eager count IS the
    // routing probe: re-counting the just-materialized table cost a
    // redundant scan job per call)
    val (ids, probed) = vocabIdsWithCount(vocab, wordCol)
    if (routesBroadcast(probed, maxBroadcastVocab)) {
      // bounded by the probe; id order == lexicographic word order
      val words = ids.orderBy("id").collect().map(_.getString(0))
      val idRows = words.zipWithIndex
        .map { case (w, i) => Row(w, i) }.toSeq
      val bcIds = spark.createDataFrame(
        spark.sparkContext.parallelize(idRows, 1), idSchema)
      decodePairs(
        pairCounts(docWords, wordsCol, words, minCount, parts,
          maxDenseSlice),
        broadcast(bcIds))
    } else
      decodePairs(
        pairCountsJoinV(docWords, docIdCol, wordsCol, ids, minCount,
          parts, knownV = Some(probed)),
        ids)
  }

  private val idSchema = StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("id", IntegerType, nullable = false)))

  /** id→word decode shared by both [[pairCountsAuto]] routes: two
    * id-keyed joins against the (word, id) table. On the broadcast
    * route the table carries a broadcast hint; on the join route
    * Catalyst picks broadcast vs shuffle from the table's actual
    * size — at the scales that force that route these are shuffle
    * joins, the documented price of dropping the driver bound. */
  private def decodePairs(pairs: DataFrame, ids: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    pairs
      .join(ids.select(col("id").as("id1"), col("word").as("w1")), "id1")
      .join(ids.select(col("id").as("id2"), col("word").as("w2")), "id2")
      .select("w1", "w2", "c_xy")
  }

  // ------------------------------------------------------------------
  // Shared pieces (one copy — the dense≡sparse spec guards them).
  // ------------------------------------------------------------------

  private def broadcastWordIds(docWords: DataFrame, vocab: Array[String]) = {
    val word2id = new java.util.HashMap[UTF8String, Integer](vocab.length * 2)
    var i = 0
    while (i < vocab.length) {
      word2id.put(UTF8String.fromString(vocab(i)), i); i += 1
    }
    docWords.sparkSession.sparkContext.broadcast(word2id)
  }

  /** Normalize one doc's id buffer (sort + dedupe the first n0
    * entries in place — a doc contributes each pair once) and call
    * `emit` once per unordered pair's triangular index
    * (idx(i,j) = off(i) + j - i - 1). Shared by all three id
    * sources (broadcast map, pre-joined arrays). */
  private def emitDocPairs(ids: Array[Int], n0: Int, V: Int)(
      emit: Long => Unit): Unit = {
    java.util.Arrays.sort(ids, 0, n0)
    var w = 0
    var rd = 0
    while (rd < n0) {
      if (w == 0 || ids(rd) != ids(w - 1)) { ids(w) = ids(rd); w += 1 }
      rd += 1
    }
    val n = w
    var a = 0
    while (a < n) {
      val ai = ids(a).toLong
      val base = ai * (V - 1) - ai * (ai - 1) / 2 - ai - 1
      var b = a + 1
      while (b < n) { emit(base + ids(b)); b += 1 }
      a += 1
    }
  }

  /** Doc side for the broadcast-vocab paths: per row, map words to
    * vocab ids through the broadcast map and emit the doc's pairs. */
  private def forEachPairIdx(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      m: java.util.HashMap[UTF8String, Integer], V: Int)(
      emit: Long => Unit): Unit = {
    var ids = new Array[Int](1 << 12)
    rows.foreach { r =>
      val arr = r.getArray(0)
      val nw = arr.numElements()
      if (nw > ids.length) ids = new Array[Int](Integer.highestOneBit(nw) << 1)
      var n = 0
      var k = 0
      while (k < nw) {
        val v = m.get(arr.getUTF8String(k))
        if (v != null) { ids(n) = v.intValue(); n += 1 }
        k += 1
      }
      emitDocPairs(ids, n, V)(emit)
    }
  }

  /** Doc side for the join path: rows already carry the doc's vocab
    * ids as an array<int> (assigned by a term-keyed join upstream). */
  private def forEachPairIdxFromIds(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      V: Int)(emit: Long => Unit): Unit = {
    var ids = new Array[Int](1 << 12)
    rows.foreach { r =>
      val arr = r.getArray(0)
      val nw = arr.numElements()
      if (nw > ids.length) ids = new Array[Int](Integer.highestOneBit(nw) << 1)
      var k = 0
      while (k < nw) { ids(k) = arr.getInt(k); k += 1 }
      emitDocPairs(ids, nw, V)(emit)
    }
  }

  /** Per-reducer packed-long blob accumulator for the map side of the
    * sparse/join paths (one blob row per map-task x reducer — no
    * per-pair UnsafeRow framing across the exchange). */
  private final class LongBlobBuf(R: Int) {
    private val bufs = new Array[Array[Long]](R)
    private val sizes = new Array[Int](R)
    locally {
      var p = 0
      while (p < R) { bufs(p) = new Array[Long](1 << 12); p += 1 }
    }
    def add(idx: Long): Unit = {
      val tp = (idx % R).toInt
      var buf = bufs(tp)
      if (sizes(tp) == buf.length) {
        buf = java.util.Arrays.copyOf(buf, buf.length << 1)
        bufs(tp) = buf
      }
      buf(sizes(tp)) = idx
      sizes(tp) += 1
    }
    def result: Iterator[(Int, Array[Long])] =
      (0 until R).iterator.filter(sizes(_) > 0).map { p =>
        (p, java.util.Arrays.copyOf(bufs(p), sizes(p)))
      }
  }

  /** Reduce side shared by the sparse and join paths: reducer p owns
    * {idx : idx % R == p} and counts in the open-addressing Long map. */
  private def sparseReduce(spark: org.apache.spark.sql.SparkSession,
      blobs: RDD[(Int, Array[Long])], V: Int, minC: Long,
      R: Int): DataFrame = {
    val survivors = blobs.partitionBy(byReducer(R)).mapPartitions { it =>
      val cnt = new OpenLongCount(1 << 16)
      it.foreach { case (_, blob) =>
        var i = 0
        while (i < blob.length) { cnt.add(blob(i)); i += 1 }
      }
      cnt.iterator.filter(_._2 >= minC).map { case (idx, c) =>
        val (a, b) = invertTriangular(idx, V)
        Row(a, b, c)
      }
    }
    spark.createDataFrame(survivors, pairSchema)
  }

  /** Invert a triangular index to its (a, b) pair: largest a with
    * off(a) <= idx, by EXACT integer binary search (~log2 V probes
    * per surviving pair). The previous float-sqrt seed loses to
    * cancellation once (2V-1)² exceeds 2^53 — V ≳ 6.7e7, exactly the
    * sparse path's regime — where a NaN seed would degrade the
    * linear fixup to O(V) per pair. */
  private def invertTriangular(idx: Long, vocabSize: Int): (Int, Int) = {
    val vm1 = (vocabSize - 1).toLong
    def off(x: Long): Long = x * vm1 - x * (x - 1) / 2
    var lo = 0L
    var hi = vm1 - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (off(mid) <= idx) lo = mid else hi = mid - 1
    }
    (lo.toInt, (idx - off(lo) + lo + 1).toInt)
  }

  private def byReducer(r: Int) = new Partitioner {
    def numPartitions: Int = r
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** The dense-slice path — see the object scaladoc, steps 1-3. */
  private[graft] def pairCountsDense(docWords: DataFrame, wordsCol: String,
      vocab: Array[String], minCount: Long, parts: Int,
      maxSlice: Long = MaxDenseSlice): DataFrame = {
    val spark = docWords.sparkSession
    val schema = pairSchema
    val V = vocab.length
    val R = parts
    val T = V.toLong * (V - 1) / 2
    val slice = math.max(1L, T / R + 1)
    // the hard ceiling is Int-indexability of the count array; the
    // soft one is the caller's routing bound (raisable past the
    // default, so pairCounts' maxDenseSlice contract holds both ways)
    require(slice <= math.min(maxSlice, (Int.MaxValue - 8).toLong),
      s"dense pair-space slice $slice too large: raise parts past $R " +
        "or route via pairCounts to the open-map reducer")
    if (T == 0)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)

    val bcMap = broadcastWordIds(docWords, vocab)
    val sliceI = slice.toInt
    val minC = math.max(minCount, 1L) // empty dense slots are not pairs

    // map side: ids per doc -> triangular idx -> slot blobs per reducer
    val blobs: RDD[(Int, Array[Int])] =
      docWords.select(wordsCol).queryExecution.toRdd.mapPartitions { rows =>
        val bufs = new Array[Array[Int]](R)
        val sizes = new Array[Int](R)
        var p = 0
        while (p < R) { bufs(p) = new Array[Int](1 << 12); p += 1 }
        forEachPairIdx(rows, bcMap.value, V) { idx =>
          val tp = (idx % R).toInt
          var buf = bufs(tp)
          if (sizes(tp) == buf.length) {
            buf = java.util.Arrays.copyOf(buf, buf.length << 1)
            bufs(tp) = buf
          }
          buf(sizes(tp)) = (idx / R).toInt
          sizes(tp) += 1
        }
        (0 until R).iterator.filter(sizes(_) > 0).map { p =>
          (p, java.util.Arrays.copyOf(bufs(p), sizes(p)))
        }
      }

    // reduce side: dense count over the owned slice, emit survivors
    val survivors = blobs.partitionBy(byReducer(R))
      .mapPartitionsWithIndex { (p, it) =>
        val cnt = new Array[Int](sliceI)
        it.foreach { case (_, blob) =>
          var i = 0
          while (i < blob.length) {
            val s = blob(i)
            val c = cnt(s) + 1
            if (c < 0) throw new ArithmeticException(
              s"CoOccur dense count overflow at slot $s (> ${Int.MaxValue} " +
                "docs share one pair): use the sparse path (Long counts) " +
                "via pairCounts with a smaller maxDenseSlice")
            cnt(s) = c
            i += 1
          }
        }
        Iterator.range(0, sliceI).filter(cnt(_) >= minC).map { s =>
          val (a, b) = invertTriangular(s.toLong * R + p, V)
          Row(a, b, cnt(s).toLong)
        }
      }
    spark.createDataFrame(survivors, schema)
  }

  /** The large-vocab path: identical doc-side pair generation, but
    * blobs carry the WHOLE triangular idx as packed longs (8 bytes/
    * pair — still one blob row per map-task x reducer, no per-pair
    * UnsafeRow framing) and reducer p (owning {idx : idx % R == p})
    * counts in an open-addressing map with LONG counts. Memory per
    * reducer is ~16 bytes per DISTINCT observed pair / R —
    * data-proportional like any hash aggregation, instead of the
    * dense path's slice-proportional array; for a Zipfian corpus the
    * realized pair set is a small fraction of V(V-1)/2, which is
    * exactly the regime where V makes the dense slice unaffordable.
    */
  private[graft] def pairCountsSparse(docWords: DataFrame, wordsCol: String,
      vocab: Array[String], minCount: Long, parts: Int): DataFrame = {
    val spark = docWords.sparkSession
    val schema = pairSchema
    val V = vocab.length
    val R = parts
    val T = V.toLong * (V - 1) / 2
    if (T == 0)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)

    val bcMap = broadcastWordIds(docWords, vocab)
    val minC = math.max(minCount, 1L)

    val blobs: RDD[(Int, Array[Long])] =
      docWords.select(wordsCol).queryExecution.toRdd.mapPartitions { rows =>
        val buf = new LongBlobBuf(R)
        forEachPairIdx(rows, bcMap.value, V)(buf.add)
        buf.result
      }
    sparseReduce(spark, blobs, V, minC, R)
  }

  // ------------------------------------------------------------------
  // The beyond-driver-memory path: ids by term-keyed JOIN.
  // ------------------------------------------------------------------

  /** Assign dense lexicographic ids (0..V-1, id order == word order)
    * to a vocabulary DataFrame WITHOUT collecting it — the scale path
    * [[Guards.boundedCollect]]'s diagnosis names for vocabularies past
    * the driver-broadcast bound. Sort + zipWithIndex: the sorted
    * frame's partition order is its global order, so per-partition
    * offsets (one extra count job, the standard zipWithIndex shape)
    * yield exactly the position ids the broadcast paths compute.
    *
    * Null words are dropped before id assignment — the broadcast
    * paths can never hold a null key (`Array[String]` vocab feeding a
    * string-keyed map), so a null here would silently shift every
    * real word's id by one and desync the three paths.
    *
    * The result is materialized ([[Materialize]]): the global
    * distinct+sort+zipWithIndex pipeline (zipWithIndex alone adds a
    * count job per evaluation) is the dominant cost at the scales
    * that force this path, and downstream consumers evaluate the id
    * table more than once ([[pairCountsJoin]]: a scalar count + the
    * join) — materializing once makes each re-read a plain scan. The
    * lineage is deterministic, so a recomputed lost block carries
    * identical ids.
    *
    * @return DataFrame(word STRING, id INT), one row per distinct
    *         non-null input word, materialized.
    */
  def vocabIds(vocab: DataFrame, wordCol: String): DataFrame =
    vocabIdsWithCount(vocab, wordCol)._1

  /** [[vocabIds]] plus the vocabulary size its eager materialization
    * already computed — so callers that need V (the routing probe,
    * [[pairCountsJoin]]'s id-space bound) don't re-scan the
    * materialized table with a second count job. */
  private[graft] def vocabIdsWithCount(vocab: DataFrame,
      wordCol: String): (DataFrame, Long) = {
    val spark = vocab.sparkSession
    val wc = org.apache.spark.sql.functions.col(wordCol)
    val sorted = vocab.select(wc.as("word"))
      .where(org.apache.spark.sql.functions.col("word").isNotNull)
      .distinct().orderBy("word")
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      // >= so V stays <= Int.MaxValue (ids 0..V-1): the strictest
      // consumer bound (pairCountsJoin's V <= Int.MaxValue) and this
      // guard's own message agree at the boundary
      if (i >= Int.MaxValue.toLong) throw new IllegalStateException(
        "CoOccur.vocabIds: vocabulary exceeds Int.MaxValue entries")
      Row(r.getString(0), i.toInt)
    }
    Materialize.withCount(spark.createDataFrame(rdd, idSchema))
  }

  /** Pair counting with JOIN-assigned vocab ids — the full
    * beyond-driver-memory route: no word->id map is ever collected or
    * broadcast by this operator. The doc side explodes to (doc, word),
    * inner-joins the id table (Catalyst picks broadcast vs shuffle
    * hash by the table's actual size — at the scales that force this
    * path it is a shuffle join on the word key), regroups to per-doc
    * id arrays, and feeds the SAME packed-long-blob map side and
    * open-map reducer as [[pairCountsSparse]]. Costs vs the broadcast
    * paths: one explode + join + doc-keyed regroup exchange — the
    * documented price of dropping the driver bound.
    *
    * Counts are row-for-row equal to the other two paths
    * (CoOccurSpec proves dense ≡ sparse ≡ join on random corpora).
    *
    * @param docWords one row per document with `docIdCol` and
    *                 `wordsCol` (array<string>; duplicates fine).
    *                 `docIdCol` must be a real per-row key: the join
    *                 path regroups by it, so rows SHARING a doc id
    *                 (or multiple null ids) merge into one document
    *                 here while the broadcast paths treat every row
    *                 as its own document.
    * @param vocab    (word, id) table from [[vocabIds]] — ids MUST be
    *                 dense 0..V-1 in word order for the triangular
    *                 indexing to match the other paths. Without
    *                 `knownV` this operator evaluates it twice (the V
    *                 count, then the join); [[vocabIds]] returns it
    *                 materialized, so a hand-built substitute should
    *                 be materialized too or it re-executes its DAG
    *                 per evaluation.
    */
  def pairCountsJoin(docWords: DataFrame, docIdCol: String,
      wordsCol: String, vocab: DataFrame, minCount: Long,
      parts: Int): DataFrame =
    pairCountsJoinV(docWords, docIdCol, wordsCol, vocab, minCount,
      parts, knownV = None)

  /** [[pairCountsJoin]] with the vocabulary size pre-counted.
    * `private[graft]`: a knownV != vocab's true row count mis-sizes
    * the triangular id space with no runtime check, so only callers
    * that hand over the count their own materialization produced
    * ([[pairCountsAuto]] via [[vocabIdsWithCount]]) may use it —
    * the ADVICE-r16 silent-corruption footgun, fenced off.
    *
    * @param knownV   the vocabulary size, when the caller already
    *                 counted it (MUST equal vocab's row count — the
    *                 triangular id space is sized by it); None counts.
    */
  private[graft] def pairCountsJoinV(docWords: DataFrame, docIdCol: String,
      wordsCol: String, vocab: DataFrame, minCount: Long,
      parts: Int, knownV: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = docWords.sparkSession
    // one scalar job over the distributed id table — skipped when the
    // caller already knows V ([[pairCountsAuto]] passes the count its
    // vocabIds materialization produced; a wrong knownV would break
    // the triangular indexing, so it is private-ish by convention)
    val V = knownV.getOrElse(vocab.count())
    if (V < 2)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], pairSchema)
    require(V <= Int.MaxValue,
      s"CoOccur.pairCountsJoin: vocabulary of $V exceeds Int id space")
    val R = parts
    val minC = math.max(minCount, 1L)
    val idArrays = docWords
      .select(col(docIdCol).as("_doc"),
        explode(array_distinct(col(wordsCol))).as("word"))
      .join(vocab.select(col("word"), col("id")), "word")
      .groupBy("_doc")
      .agg(collect_list(col("id")).as("_ids"))
      .select("_ids")
    val vi = V.toInt
    val blobs: RDD[(Int, Array[Long])] =
      idArrays.queryExecution.toRdd.mapPartitions { rows =>
        val buf = new LongBlobBuf(R)
        forEachPairIdxFromIds(rows, vi)(buf.add)
        buf.result
      }
    sparseReduce(spark, blobs, vi, minC, R)
  }
}

/** Minimal open-addressing long->long count map for the sparse
  * co-occur reducer: power-of-two capacity, linear probing, murmur
  * fmix64 spread, grow at 3/4 load. Keys are stored +1 so 0 marks
  * empty (triangular idx 0 is a valid key); counts are Long, so no
  * realizable corpus wraps them. Capacity fails fast at 2^30 slots
  * (~800M distinct pairs on one reducer) with the remedy named,
  * instead of overflowing Int on the next doubling.
  */
private[graft] final class OpenLongCount(initialCapacity: Int) {
  private var cap = math.max(
    Integer.highestOneBit(math.max(initialCapacity, 2) - 1) << 1, 16)
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var n = 0

  private def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  def size: Int = n

  def add(key: Long): Unit = {
    val k = key + 1
    var i = (mix(key) & (cap - 1)).toInt
    var done = false
    while (!done) {
      val cur = keys(i)
      if (cur == k) { vals(i) += 1; done = true }
      else if (cur == 0L) {
        keys(i) = k; vals(i) = 1L; n += 1
        if (n.toLong * 4 >= cap.toLong * 3) grow()
        done = true
      } else i = (i + 1) & (cap - 1)
    }
  }

  private def grow(): Unit = {
    if (cap >= (1 << 30)) throw new IllegalStateException(
      s"OpenLongCount at $n distinct pairs on one reducer: raise the " +
        "reducer count (CoOccur parts) so each open map stays under " +
        "2^30 slots")
    val ok = keys; val ov = vals
    cap <<= 1
    keys = new Array[Long](cap)
    vals = new Array[Long](cap)
    var j = 0
    while (j < ok.length) {
      val k = ok(j)
      if (k != 0L) {
        var i = (mix(k - 1) & (cap - 1)).toInt
        while (keys(i) != 0L) i = (i + 1) & (cap - 1)
        keys(i) = k; vals(i) = ov(j)
      }
      j += 1
    }
  }

  /** (key, count) pairs in slot order (NOT sorted). */
  def iterator: Iterator[(Long, Long)] =
    Iterator.range(0, cap).filter(keys(_) != 0L)
      .map(i => (keys(i) - 1, vals(i)))
}
