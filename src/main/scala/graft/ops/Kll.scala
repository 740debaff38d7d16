package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable quantile sketch over Long values — the equal-buffer
  * deterministic variant of the MRL/KLL family (Manku-Rajagopalan-
  * Lindsay, SIGMOD'98; Karnin-Lang-Liberty, arXiv:1603.05346):
  * level h holds items of weight 2^h in a buffer of at most `k`
  * items; a full level sorts and keeps every second item (alternating
  * offset per compaction, tracked in the buffer so the sketch is a
  * pure deterministic function of its insertion/merge order — no RNG,
  * unlike the randomized-offset KLL), pushing k/2 survivors one level
  * up. `reduce` is O(1) amortized, `merge` concatenates level-wise
  * then compacts, and the state is bounded by k * #levels =
  * O(k log(n/k)) longs however large the input — the property that
  * lets a 100 TB quantile run as one map-side-combinable aggregation
  * with constant-size partials instead of a global sort.
  *
  * Quantile semantics: smallest value whose cumulative weight reaches
  * ceil(num*W/den) over the weighted item multiset, with the quantile
  * given as an exact RATIONAL num/den (the [[HistQuantileAgg]]
  * discipline — a float q would make the rank depend on whether the
  * other engine multiplies in decimal or IEEE double). In the EXACT
  * regime (total inserted n <= k: no compaction ever fires) this is
  * precisely the discrete rank-ceil(num*n/den) order statistic, which
  * a SQL oracle reproduces with row_number + integer arithmetic. That
  * is how [[KllAgg]] is oracle-gated hash-exactly (d24 runs with k
  * above the largest group so the insert/merge/rank machinery is
  * verified end-to-end); the approximation regime (n >> k) is
  * property-tested instead (KllSpec: rank error against sorted truth,
  * merge-shape invariance within the bound) because compaction order
  * is not SQL-expressible.
  *
  * Buffer layout (flat Array[Long], ExpressionEncoder like
  * [[CmsAgg]]/[[KmvAgg]]):
  * {{{
  * [0] = header: format version (high 32 bits) | k (low 32 bits)
  * [1] = L (#levels)
  * [2        .. 2+L)   per-level item count
  * [2+L      .. 2+2L)  per-level next compaction offset (0|1)
  * [2+2L     .. 2+3L)  per-level slab capacity (grown on demand,
  *                     4096 -> 2x -> ... -> k, so small groups never
  *                     allocate k-sized slabs)
  * [2+3L ..)           level slabs, level h at sum(caps(0..h))
  * }}}
  */
class KllAgg(num: Long, den: Long, k: Int = KllAgg.DefaultK)
    extends Aggregator[Long, Array[Long], Long] {
  require(num > 0 && num <= den, s"quantile must be in (0,1], got $num/$den")
  require(k >= 8 && (k & 1) == 0, s"k must be even and >= 8, got $k")

  import KllAgg._

  override def zero: Array[Long] = {
    val cap0 = math.min(InitialCap, k)
    val buf = new Array[Long](2 + 3 + cap0) // header + 1 level + slab
    buf(0) = KllAgg.header(k)
    buf(1) = 1
    buf(4) = cap0
    buf
  }

  // raw items enter at level 0 (weight 2^0, as the class doc states).
  // Inserting at level 1 — the previous behavior — left the level-0
  // slab zero() allocates permanently dead: a never-used k-long
  // (32 KB at the default k) carried through every shuffle partial
  // and every persisted sketch, plus one extra addLevel per sketch.
  // Output-identical either way: a uniform weight doubling cancels
  // through the rank walk's ceil arithmetic (KllSpec pins exactness).
  override def reduce(buf: Array[Long], v: Long): Array[Long] =
    insert(buf, v, 0)

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    KllAgg.mergeBuffers(a, b)

  override def finish(buf: Array[Long]): Long = quantile(buf, num, den)

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

object KllAgg {
  val DefaultK = 4096
  private[ops] val InitialCap = 4096

  /** Serialized-buffer format version, carried in slot 0's high 32
    * bits (the slot always held k, which fits 32 bits by the k-even
    * require — the high half was zero in every pre-versioned build).
    * Version 1 = the current level-0-insert format. Any buffer whose
    * high half is 0 predates versioning — which includes every build
    * whose raw items entered at level 1 with silent double weight —
    * so [[KllMergeAgg]] fails LOUDLY on it instead of double-counting
    * (the r15 persisted-state compatibility contract, now enforced at
    * runtime rather than by scaladoc alone). */
  private[ops] val FormatVersion = 1L

  // ---- flat-buffer accessors --------------------------------------
  private[ops] def header(k: Long): Long = (FormatVersion << 32) | k
  private[graft] def versionOf(b: Array[Long]): Long = b(0) >>> 32
  private def kOf(b: Array[Long]): Long = b(0) & 0xffffffffL

  /** Fail loudly on a buffer from an incompatible serialized format —
    * the [[KllMergeAgg]] entry check for persisted partials. */
  private[graft] def requireCurrentFormat(b: Array[Long]): Unit =
    require(versionOf(b) == FormatVersion,
      s"KLL sketch buffer has format version ${versionOf(b)} (current " +
        s"$FormatVersion): state persisted by a pre-version build may " +
        "carry double-weighted items (pre-level-0-fix). Rebuild the " +
        "state table by replaying its source through the current " +
        "KllSketchAgg before incremental reads resume.")

  private def levels(b: Array[Long]): Int = b(1).toInt
  private def count(b: Array[Long], h: Int): Long = b(2 + h)
  private def parityIdx(b: Array[Long], h: Int): Int = 2 + levels(b) + h
  private def capIdx(b: Array[Long], h: Int): Int = 2 + 2 * levels(b) + h
  private def cap(b: Array[Long], h: Int): Long = b(capIdx(b, h))
  private def slabOff(b: Array[Long], h: Int): Int = {
    var o = 2 + 3 * levels(b)
    var i = 0
    while (i < h) { o += b(capIdx(b, i)).toInt; i += 1 }
    o
  }

  /** Level-wise merge of two sketch buffers (same k). Items from b
    * land in slab order via chunked arraycopy — the exact sequence
    * (and therefore every compaction boundary) item-by-item insert
    * would produce, without its per-item accessor overhead: a level
    * fills to k, compacts, and the remaining chunk continues into
    * the emptied slab. */
  private[graft] def mergeBuffers(a: Array[Long], b: Array[Long])
      : Array[Long] = {
    requireCurrentFormat(a)
    requireCurrentFormat(b)
    require(a(0) == b(0), "cannot merge KLL sketches with different k")
    val k = kOf(a)
    val lb = levels(b)
    var out = a
    var h = 0
    while (h < lb) {
      // slabOff(b, h) is stable across reallocs of `out` (b is never
      // mutated); out's own offset is recomputed inside bulkAppend.
      out = bulkAppend(out, b, slabOff(b, h), count(b, h).toInt, h)
      h += 1
    }
    out
  }

  /** Append n items from src[off..off+n) to level h of buf in order,
    * via chunked arraycopy — the exact sequence (and every compaction
    * boundary) item-by-item insert would produce: a level fills to k,
    * compacts, and the remaining chunk continues into the emptied
    * slab. */
  private def bulkAppend(buf0: Array[Long], src: Array[Long], off: Int,
      n: Int, h: Int): Array[Long] = {
    var buf = buf0
    val k = kOf(buf)
    var i = 0
    while (i < n) {
      while (h >= levels(buf)) buf = addLevel(buf)
      if (count(buf, h) == k) buf = compact(buf, h)
      val chunk = math.min(k - count(buf, h), (n - i).toLong).toInt
      while (cap(buf, h) < count(buf, h) + chunk) buf = grow(buf, h)
      System.arraycopy(src, off + i,
        buf, slabOff(buf, h) + count(buf, h).toInt, chunk)
      buf(2 + h) += chunk
      i += chunk
    }
    buf
  }

  /** Insert one item at level h, compacting upward as needed.
    * Returns the (possibly reallocated) buffer. */
  private def insert(buf0: Array[Long], v: Long, h: Int): Array[Long] = {
    var buf = buf0
    while (h >= levels(buf)) buf = addLevel(buf)
    if (count(buf, h) == kOf(buf)) buf = compact(buf, h)
    else if (count(buf, h) == cap(buf, h)) buf = grow(buf, h)
    val n = count(buf, h).toInt
    buf(slabOff(buf, h) + n) = v
    buf(2 + h) += 1
    buf
  }

  /** Sort level h, keep every second item starting at the level's
    * alternating offset, push survivors up one level. */
  private def compact(buf0: Array[Long], h: Int): Array[Long] = {
    var buf = buf0
    if (h + 1 >= levels(buf)) buf = addLevel(buf)
    val n = count(buf, h).toInt
    val off = slabOff(buf, h)
    java.util.Arrays.sort(buf, off, off + n)
    val start = buf(parityIdx(buf, h)).toInt
    buf(parityIdx(buf, h)) ^= 1L
    val survivors = new Array[Long]((n - start + 1) / 2)
    var i = start; var j = 0
    while (i < n) { survivors(j) = buf(off + i); j += 1; i += 2 }
    buf(2 + h) = 0
    bulkAppend(buf, survivors, 0, j, h + 1)
  }

  private def addLevel(old: Array[Long]): Array[Long] = {
    val l = levels(old)
    val cap0 = math.min(InitialCap.toLong, kOf(old))
    var slabs = 0L
    var i = 0
    while (i < l) { slabs += old(2 + 2 * l + i); i += 1 }
    val buf = new Array[Long](2 + 3 * (l + 1) + slabs.toInt + cap0.toInt)
    buf(0) = old(0)
    buf(1) = l + 1
    System.arraycopy(old, 2, buf, 2, l)                 // counts
    System.arraycopy(old, 2 + l, buf, 2 + (l + 1), l)   // parities
    System.arraycopy(old, 2 + 2 * l, buf, 2 + 2 * (l + 1), l) // caps
    buf(2 + 3 * (l + 1) - 1) = cap0                     // new level cap
    System.arraycopy(old, 2 + 3 * l, buf, 2 + 3 * (l + 1), slabs.toInt)
    buf
  }

  /** Double level h's slab (up to k). */
  private def grow(old: Array[Long], h: Int): Array[Long] = {
    val l = levels(old)
    val oldCap = old(2 + 2 * l + h).toInt
    val newCap = math.min(oldCap.toLong * 2, kOf(old)).toInt
    var slabs = 0L
    var i = 0
    while (i < l) { slabs += old(2 + 2 * l + i); i += 1 }
    val buf = new Array[Long](old.length + (newCap - oldCap))
    System.arraycopy(old, 0, buf, 0, 2 + 3 * l)
    buf(2 + 2 * l + h) = newCap
    // copy slabs, shifting those above level h
    var srcOff = 2 + 3 * l
    var dstOff = 2 + 3 * l
    i = 0
    while (i < l) {
      val c = old(2 + 2 * l + i).toInt
      System.arraycopy(old, srcOff, buf, dstOff, c)
      srcOff += c
      dstOff += (if (i == h) newCap else c)
      i += 1
    }
    buf
  }

  /** Smallest value whose cumulative weight reaches
    * ceil(num * W / den) — exact integer rank arithmetic. */
  private[graft] def quantile(buf: Array[Long], num: Long, den: Long): Long = {
    val l = levels(buf)
    var total = 0L
    var h = 0
    while (h < l) { total += count(buf, h) << h; h += 1 }
    if (total == 0) return 0L
    val target = ((num * total + den - 1) / den).max(1L)
    // Sort each level's slab (primitive sort — a single boxed sortBy
    // over all retained items cost ~0.7 s at m=786k), then walk an
    // L-way merge accumulating each level's constant weight until the
    // target rank is reached. Tie order between levels is irrelevant:
    // the answer is the VALUE at which cumulative weight crosses the
    // target, and equal values contribute the same total weight in
    // any order.
    val slabs = new Array[Array[Long]](l)
    h = 0
    while (h < l) {
      val n = count(buf, h).toInt
      val s = new Array[Long](n)
      System.arraycopy(buf, slabOff(buf, h), s, 0, n)
      java.util.Arrays.sort(s)
      slabs(h) = s
      h += 1
    }
    val cursor = new Array[Int](l)
    var cum = 0L
    var last = 0L
    while (cum < target) {
      var best = -1
      var bestV = 0L
      h = 0
      while (h < l) {
        if (cursor(h) < slabs(h).length) {
          val v = slabs(h)(cursor(h))
          if (best < 0 || v < bestV) { best = h; bestV = v }
        }
        h += 1
      }
      if (best < 0) return last // exhausted (cannot happen: target <= total)
      cursor(best) += 1
      cum += 1L << best
      last = bestV
    }
    last
  }

  /** Total retained items — the sketch's actual memory footprint in
    * values (for tests/diagnostics). */
  private[graft] def retained(buf: Array[Long]): Int = {
    var m = 0
    var h = 0
    while (h < levels(buf)) { m += count(buf, h).toInt; h += 1 }
    m
  }
}

/** [[KllAgg]] that returns the sketch STATE instead of a quantile —
  * the partial-aggregate half of the incremental pattern (x18/x22):
  * each micro-batch persists its per-group sketch to a state table,
  * and [[KllMergeAgg]] folds the persisted partials at read time.
  * Exact under any batch slicing because merge is the same operation
  * partial aggregation already applies within a batch.
  *
  * PERSISTED-STATE FORMAT NOTE: builds before the level-0 insert fix
  * (raw items entered at level 1, weight 2) serialize sketches whose
  * every retained item carries DOUBLE the weight of a current-build
  * item. Within one build the doubling cancels through the rank
  * walk, but merging a PRE-fix persisted state table with POST-fix
  * partials via [[KllMergeAgg]] would silently double-weight the old
  * rows. ENFORCED at runtime since the format gained a version slot
  * (slot 0's high 32 bits, [[KllAgg.FormatVersion]]): every pre-
  * version buffer has a zero high half, so [[KllMergeAgg]] fails
  * loudly on it with the rebuild remedy (replay the source through
  * the current KllSketchAgg) instead of merging bad weights.
  */
class KllSketchAgg(k: Int = KllAgg.DefaultK)
    extends Aggregator[Long, Array[Long], Array[Long]] {
  private val core = new KllAgg(1, 2, k)
  override def zero: Array[Long] = core.zero
  override def reduce(b: Array[Long], v: Long): Array[Long] =
    core.reduce(b, v)
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    KllAgg.mergeBuffers(a, b)
  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

/** Folds serialized [[KllSketchAgg]] partials back into one sketch
  * and reads a quantile off it (merge-on-read half of x22). The empty
  * buffer sentinel is a zero-length array (an Aggregator zero must be
  * a value, and sketches carry their own k + format version in
  * slot 0).
  */
class KllMergeAgg(num: Long, den: Long)
    extends Aggregator[Array[Long], Array[Long], Long] {
  override def zero: Array[Long] = Array.emptyLongArray
  override def reduce(acc: Array[Long], sketch: Array[Long]): Array[Long] =
    merge(acc, sketch)
  // format check on EVERY non-empty input, not just inside
  // mergeBuffers: a single-sketch group never reaches mergeBuffers
  // (the a.isEmpty short-circuit), and a stale persisted partial must
  // fail loudly on that path too
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.nonEmpty) KllAgg.requireCurrentFormat(a)
    if (b.nonEmpty) KllAgg.requireCurrentFormat(b)
    if (a.isEmpty) b.clone()   // clone: mergeBuffers mutates its left arg
    else if (b.isEmpty) a
    else KllAgg.mergeBuffers(a, b)
  }
  override def finish(buf: Array[Long]): Long =
    if (buf.isEmpty) 0L else KllAgg.quantile(buf, num, den)
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}
