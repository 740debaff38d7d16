package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths where composed
  * built-ins are interpreted per-element (higher-order array lambdas)
  * or allocate intermediates (md5-hex-conv chains). Both expressions
  * participate in whole-stage codegen via `doGenCode` that calls a
  * static JVM kernel — one virtual call per row, primitive loops, no
  * per-element lambda dispatch.
  */
object Kernels {

  /** 60-bit portable hash: value of the first 15 hex digits of
    * md5(utf8(s)) — identical to
    * `CAST('0x' || substr(md5(s),1,15) AS BIGINT)` (DuckDB) and
    * `conv(substr(md5(s),1,15),16,10)` (Spark SQL).
    */
  // MessageDigest is stateful and not thread-safe — one per thread,
  // reset per call, so the kernel does no per-row allocation.
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def portableHash60(s: UTF8String): Long = {
    val b = s.getBytes
    portableHash60(b, b.length)
  }

  /** [[portableHash60]] of the bytes `b(0 until len)`. */
  private def portableHash60(b: Array[Byte], len: Int): Long = {
    val md = md5.get()
    md.reset()
    md.update(b, 0, len)
    val d = md.digest()
    // first 15 hex digits = 7.5 bytes: take high 60 bits of the first
    // 8 bytes (hex digit 16 is the low nibble of byte 8)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }


  /** Cosine similarity of two float vectors, accumulated in double
    * left-to-right (identical to the zip_with/aggregate composition
    * and the documented DuckDB oracle), rounded to 6 decimals.
    */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    // mismatched dims / null elements fail LOUDLY (the argmin_l2_micro
    // discipline): silently truncating to the shorter array or reading
    // a null slot as 0.0f would produce a plausible-but-wrong
    // similarity — in a dedup/ANN pipeline that is a silently wrong
    // keep/drop decision, strictly worse than a named failure
    require(b.numElements() == n,
      s"cosine_f: dimension mismatch ($n vs ${b.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"cosine_f: NULL element at index $i")
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val c = dot / (math.sqrt(na) * math.sqrt(nb))
    roundOrPass6(c)
  }

  /** Two-pointer intersection count over ascending duplicate-free
    * long arrays. See [[IntersectCountSorted]].
    */
  def intersectCountSorted(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }


  /** PQ encode: the M argmin-codeword sub-codes of a float vector
    * against [[graft.ops.Pq]]'s deterministic codebook, as one
    * primitive-loop kernel. The composed-Column form of the same
    * computation is a 1024-term expression tree (M*K*SubDim distance
    * terms) that overflows generated-method limits and falls back to
    * interpreted evaluation — measured 15.8 s vs ~1 s at sf0.1 for
    * d30's corpus encode. Quantization (floor(x*1e6) as long) and
    * lowest-code tiebreak match the SQL oracle exactly.
    */
  private lazy val pqCb: Array[Array[Array[Long]]] =
    Array.tabulate(graft.ops.Pq.M, graft.ops.Pq.K, graft.ops.Pq.SubDim)(
      graft.ops.Pq.codeword)

  /** The kernels index `emb` as a dense Pq.Dim-float vector — a short
    * array would read out of bounds and a null element would silently
    * decode as 0.0f (diverging from the SQL oracle's NULL semantics),
    * so both are rejected loudly. Parquet-read arrays carry
    * containsNull=true in their schema even when no element is null,
    * so the guard is a per-row runtime check, not an analysis-time
    * type rejection. Cost: Dim null-bit reads per row, noise next to
    * the M*K*SubDim distance loop.
    */
  private def requirePqDim(emb: ArrayData): Unit = {
    if (emb.numElements() != graft.ops.Pq.Dim)
      throw new IllegalArgumentException(
        s"pq kernels need a dense ${graft.ops.Pq.Dim}-element " +
          s"array<float> embedding, got ${emb.numElements()} elements")
    var i = 0
    while (i < graft.ops.Pq.Dim) {
      if (emb.isNullAt(i))
        throw new IllegalArgumentException(
          s"pq kernels need a dense array<float> embedding, found a " +
            s"NULL element at index $i")
      i += 1
    }
  }

  def pqEncode(emb: ArrayData): ArrayData = {
    requirePqDim(emb)
    val cb = pqCb
    val m = graft.ops.Pq.M; val k = graft.ops.Pq.K
    val sd = graft.ops.Pq.SubDim
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var bestC = 0; var bestD = Long.MaxValue
      var c = 0
      while (c < k) {
        val row = cb(s)(c)
        var d = 0L; var j = 0
        while (j < sd) {
          val v = math.floor(
            emb.getFloat(s * sd + j).toDouble * 1000000.0).toLong
          val t = v - row(j)
          d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; bestC = c } // strict <: lowest c wins ties
        c += 1
      }
      codes(s) = bestC; s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }


  /** Per-query ADC lookup table: exact integer squared distances of a
    * float vector's M subvectors to ALL K codewords, flattened as
    * M*K longs (entry s*K + c). Same quantization/codebook as
    * [[pqEncode]]; one kernel call replaces a ~3000-node expression
    * tree whose per-plan optimization alone cost seconds.
    */
  def pqAdcLut(emb: ArrayData): ArrayData = {
    requirePqDim(emb)
    val cb = pqCb
    val m = graft.ops.Pq.M; val k = graft.ops.Pq.K
    val sd = graft.ops.Pq.SubDim
    val out = new Array[Long](m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        val row = cb(s)(c)
        var d = 0L; var j = 0
        while (j < sd) {
          val v = math.floor(
            emb.getFloat(s * sd + j).toDouble * 1000000.0).toLong
          val t = v - row(j)
          d += t * t; j += 1
        }
        out(s * k + c) = d; c += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** PQ-ADC cluster assignment in ONE narrow pass: build the vector's
    * M*K lookup table (as [[pqAdcLut]]) in a stack array, then scan
    * the k centroids' codes (flattened literal, entry c*M + s) and
    * return the id of the argmin by (adc, id). The broadcast-join
    * form of the same argmin copies the 1 KB LUT array into every one
    * of the n*k joined rows — measured 14.4 s of pure row-copy at
    * sf1 vs sub-second for this kernel. The codes/ids arrays come
    * from a k-bounded driver collect (k = corpus/61 — the x25
    * centroid-splice discipline); at a k too large for a literal,
    * fall back to the broadcast-join form (d23's shape).
    */
  def pqAssignAdc(emb: ArrayData, codesFlat: ArrayData,
      ids: ArrayData): Long = {
    requirePqDim(emb)
    val cb = pqCb
    val m = graft.ops.Pq.M; val kk = graft.ops.Pq.K
    val sd = graft.ops.Pq.SubDim
    val lut = new Array[Long](m * kk)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < kk) {
        val row = cb(s)(c)
        var d = 0L; var j = 0
        while (j < sd) {
          val v = math.floor(
            emb.getFloat(s * sd + j).toDouble * 1000000.0).toLong
          val t = v - row(j)
          d += t * t; j += 1
        }
        lut(s * kk + c) = d; c += 1
      }
      s += 1
    }
    val nc = ids.numElements()
    require(nc > 0 && codesFlat.numElements() == nc * m,
      s"pq_assign_adc: ${codesFlat.numElements()} codes for $nc ids " +
        s"(need $m per centroid)")
    var best = Long.MaxValue; var bestId = Long.MaxValue
    var ci = 0
    while (ci < nc) {
      var adc = 0L; var s2 = 0
      while (s2 < m) {
        adc += lut(s2 * kk + codesFlat.getInt(ci * m + s2)); s2 += 1
      }
      val id = ids.getLong(ci)
      if (adc < best || (adc == best && id < bestId)) {
        best = adc; bestId = id
      }
      ci += 1
    }
    bestId
  }

  /** Integer-L2 argmin against a flattened centroid matrix: for a
    * quantized micro-unit vector v (dim = v.length), return the id of
    * the centroid (entry c*dim + j) minimizing the exact squared
    * distance, ties to the lowest id — the Lloyd assignment of
    * [[graft.ops.ExactLloyd]]'s rounds as ONE kernel call per row.
    * The per-iteration centroid matrix comes from a k-bounded driver
    * collect, the same collect-then-broadcast-values loop MLlib's
    * KMeans runs; the keyed-join form shuffles an n*k*dim exploded
    * distance stream per iteration instead. Overflow-safe: micro-unit
    * diffs <= ~1e6 => per-term <= 1e12, * dim(64) « 2^63.
    */
  def argminL2Micro(v: ArrayData, cents: ArrayData, ids: ArrayData): Long = {
    val dim = v.numElements()
    val nc = ids.numElements()
    require(nc > 0 && cents.numElements() == nc * dim,
      s"argmin_l2_micro: ${cents.numElements()} centroid values for " +
        s"$nc ids at dim $dim")
    // validate nulls ONCE, not once per centroid: the inner loop runs
    // nc times over the same vector, so an in-loop check pays nc*dim
    // redundant null-bit reads per row on the Lloyd hot path
    var j0 = 0
    while (j0 < dim) {
      if (v.isNullAt(j0))
        throw new IllegalArgumentException(
          s"argmin_l2_micro: NULL element at index $j0")
      j0 += 1
    }
    var best = Long.MaxValue; var bestId = Long.MaxValue
    var c = 0
    while (c < nc) {
      var d = 0L; var j = 0
      while (j < dim) {
        val t = v.getLong(j) - cents.getLong(c * dim + j)
        d += t * t; j += 1
      }
      val id = ids.getLong(c)
      if (d < best || (d == best && id < bestId)) { best = d; bestId = id }
      c += 1
    }
    bestId
  }

  /** [[argminL2Micro]] that also returns the winning squared
    * distance: [bestId, bestD2] as a 2-element long array. The Lloyd
    * FINAL assignment needs both (labels + WSSSE contribution); one
    * kernel pass replaces assignment followed by a k-row join +
    * zip_with re-computation of the distance to the assigned
    * centroid — one full pass over the corpus removed. d2 is the
    * same exact integer the zip_with form produced (identical long
    * arithmetic over identical inputs).
    */
  def argminL2MicroD2(v: ArrayData, cents: ArrayData,
      ids: ArrayData): ArrayData = {
    val dim = v.numElements()
    val nc = ids.numElements()
    require(nc > 0 && cents.numElements() == nc * dim,
      s"argmin_l2_micro_d2: ${cents.numElements()} centroid values " +
        s"for $nc ids at dim $dim")
    var j0 = 0
    while (j0 < dim) {
      if (v.isNullAt(j0))
        throw new IllegalArgumentException(
          s"argmin_l2_micro_d2: NULL element at index $j0")
      j0 += 1
    }
    var best = Long.MaxValue; var bestId = Long.MaxValue
    var c = 0
    while (c < nc) {
      var d = 0L; var j = 0
      while (j < dim) {
        val t = v.getLong(j) - cents.getLong(c * dim + j)
        d += t * t; j += 1
      }
      val id = ids.getLong(c)
      if (d < best || (d == best && id < bestId)) { best = d; bestId = id }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(bestId, best))
  }

  /** PQ encode against a RUNTIME codebook (the trained-codebook
    * variant of [[pqEncode]], whose codebook is compile-time): for
    * each subspace s, the argmin codeword among the PRESENT entries
    * of the flattened codebook (entry (s*K + c)*SubDim + j), ties to
    * the lowest c. `present` carries one bitmask long per subspace
    * (bit c set = codeword c exists) because Lloyd iterations can
    * empty a cluster — absent entries are skipped, matching the
    * join form where a missing (s, c) simply contributes no distance
    * row. Same floor(x*1e6) quantization as the other PQ kernels.
    * The codebook comes from a K-bounded per-iteration collect (the
    * m02/MLlib loop); this kernel replaces the n*K-row broadcast-join
    * distance aggregate per Lloyd stage with one narrow pass.
    */
  def pqEncodeCb(emb: ArrayData, cb: ArrayData,
      present: ArrayData): ArrayData = {
    requirePqDim(emb)
    val m = graft.ops.Pq.M; val k = graft.ops.Pq.K
    val sd = graft.ops.Pq.SubDim
    require(cb.numElements() == m * k * sd && present.numElements() == m,
      s"pq_encode_cb: codebook ${cb.numElements()} values / " +
        s"${present.numElements()} masks (need ${m * k * sd} / $m)")
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val mask = present.getLong(s)
      var bestC = -1; var bestD = Long.MaxValue
      var c = 0
      while (c < k) {
        if ((mask & (1L << c)) != 0) {
          var d = 0L; var j = 0
          while (j < sd) {
            val v = math.floor(
              emb.getFloat(s * sd + j).toDouble * 1000000.0).toLong
            val t = v - cb.getLong((s * k + c) * sd + j)
            d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; bestC = c } // strict <: lowest c wins
        }
        c += 1
      }
      require(bestC >= 0, s"pq_encode_cb: no codeword present in subspace $s")
      codes(s) = bestC; s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** IVF-PQ index build (IVFADC — Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011 §V): coarse-assign the
    * vector to its nearest centroid by exact integer L2 in micro
    * units (ties to the lowest cell index), then PQ-encode the
    * RESIDUAL v - centroid against the runtime codebook (entry
    * (s*K + c)*SubDim + j; ties to the lowest c). Returns
    * [cell, code_0, ..., code_{M-1}]. One narrow kernel call per
    * corpus row — the whole index build is a single scan, no join, no
    * shuffle; centroids and codebook arrive as literals from a
    * k-bounded collect (the d31/d32 discipline). Overflow-safe:
    * micro values <= ~1e6 => residual <= ~2e6, + codeword 2.5e5 =>
    * per-term < 5.1e12, * 64 terms « 2^63.
    */
  def ivfpqEncode(emb: ArrayData, cents: ArrayData,
      cb: ArrayData): ArrayData = {
    requirePqDim(emb)
    val dim = graft.ops.Pq.Dim
    val m = graft.ops.Pq.M; val k = graft.ops.Pq.K
    val sd = graft.ops.Pq.SubDim
    require(cents.numElements() > 0 && cents.numElements() % dim == 0,
      s"ivfpq_encode: ${cents.numElements()} centroid values at dim $dim")
    val nc = cents.numElements() / dim
    require(cb.numElements() == m * k * sd,
      s"ivfpq_encode: codebook ${cb.numElements()} values " +
        s"(need ${m * k * sd})")
    val v = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      v(i) = math.floor(emb.getFloat(i).toDouble * 1000000.0).toLong
      i += 1
    }
    var cell = -1; var bestD = Long.MaxValue
    var c = 0
    while (c < nc) {
      var d = 0L; var j = 0
      while (j < dim) {
        val t = v(j) - cents.getLong(c * dim + j); d += t * t; j += 1
      }
      if (d < bestD) { bestD = d; cell = c } // strict <: lowest cell wins
      c += 1
    }
    val out = new Array[Int](1 + m)
    out(0) = cell
    var s = 0
    while (s < m) {
      var bestC = -1; var bD = Long.MaxValue
      var cc = 0
      while (cc < k) {
        var d = 0L; var j = 0
        while (j < sd) {
          val t = v(s * sd + j) - cents.getLong(cell * dim + s * sd + j) -
            cb.getLong((s * k + cc) * sd + j)
          d += t * t; j += 1
        }
        if (d < bD) { bD = d; bestC = cc } // strict <: lowest c wins
        cc += 1
      }
      out(1 + s) = bestC; s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * SIGMOD 2003): hash every k-word shingle to its md5 hex, form the
    * 40-byte key `md5hex || lpad(pos, 8, '0')`, and keep the DISTINCT
    * minima of every window of w consecutive positions (windows
    * truncated at the doc tail mirror the oracle's ROWS BETWEEN
    * frame). Any shared run of >= k+w-1 words between two docs shares
    * a selected fingerprint, yet only ~2/w of positions survive — the
    * arbitrary-offset dedup signal at ~2n/w exchange cost. One narrow
    * O(n*w) pass per row; the composed higher-order-function form
    * re-evaluates the shingle array per window element (HOFs don't
    * cache non-lambda subtrees), which is O(n^2) md5 work.
    */
  def winnowKeys(words: ArrayData, k: Int, w: Int): ArrayData = {
    val m = words.numElements()
    if (m < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[UTF8String](0))
    require(m < 100000000, s"winnow_keys: $m words overflow the 8-digit key")
    val npos = m - k + 1
    val keys = new Array[Array[Byte]](npos)
    var buf = shingleBuf.get()
    val md = md5.get()
    val hexd = "0123456789abcdef".getBytes
    var i = 0
    while (i < npos) {
      var len = 0
      var j = 0
      while (j < k) {
        val wd = words.getUTF8String(i + j)
        val wb = wd.numBytes()
        if (len + wb + 1 > buf.length) {
          buf = java.util.Arrays.copyOf(buf,
            Integer.highestOneBit(len + wb + 1) << 1)
          shingleBuf.set(buf)
        }
        if (j > 0) { buf(len) = ' '.toByte; len += 1 }
        wd.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
        len += wb
        j += 1
      }
      md.reset()
      md.update(buf, 0, len)
      val d = md.digest()
      val key = new Array[Byte](40)
      var b = 0
      while (b < 16) {
        key(b * 2) = hexd((d(b) >> 4) & 0xf)
        key(b * 2 + 1) = hexd(d(b) & 0xf)
        b += 1
      }
      var p = i; var dig = 39
      while (dig >= 32) { key(dig) = ('0' + p % 10).toByte; p /= 10; dig -= 1 }
      keys(i) = key
      i += 1
    }
    val tmax = math.max(npos - w, 0)
    val seen = new Array[Boolean](npos)
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var t = 0
    while (t <= tmax) {
      val end = math.min(t + w, npos)
      var arg = t
      var q = t + 1
      while (q < end) {
        if (java.util.Arrays.compare(keys(q), keys(arg)) < 0) arg = q
        q += 1
      }
      if (!seen(arg)) {
        seen(arg) = true
        out += UTF8String.fromBytes(keys(arg))
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Argmax-cosine over a prebuilt [[CosIndex]]: the centroid id with
    * the highest [[cosineF]] similarity to v (same round-to-6
    * semantics and left-to-right accumulation order, so the winner is
    * IDENTICAL to composing cosine_f per centroid and taking
    * max_by(struct(cos, -id)) — including NaN-greatest ordering for
    * zero-norm inputs); ties to the lowest id. Query norm hoisted out
    * of the k-loop; centroid norms precomputed once in the index. One
    * narrow pass replaces the n*k crossJoin scored stream + agg
    * (d23's assignment, the m02/d31 kernel lesson).
    */
  def argmaxCos(v: ArrayData, idx: CosIndex): Long = {
    val dim = v.numElements()
    require(idx.dim == dim,
      s"argmax_cos: vector dim $dim vs index dim ${idx.dim}")
    val cents = idx.flat
    val nc = idx.ids.length
    // One primitive copy per row: the k-loop below reads the query
    // vector nc times, and ArrayData.getFloat in that inner loop is
    // nc*dim virtual calls with bounds checks (measured ~6x the whole
    // kernel cost at engine sf1). Same values, same left-to-right
    // accumulation — cosines stay bit-identical.
    val vf = v.toFloatArray()
    var na = 0.0
    var j = 0
    while (j < dim) {
      val x = vf(j).toDouble
      na += x * x; j += 1
    }
    val sna = math.sqrt(na)
    // Two-pass argmax so round-to-6 (a BigDecimal over the EXACT
    // binary expansion — ~400 ns/call, and nc calls/row made it the
    // whole kernel's cost) runs only on near-winners. Pass 1 tracks
    // the RAW max (NaN greatest, Spark's ordering); pass 2 rounds
    // only candidates within 1.01e-6 of it — round6 is monotone and
    // two values rounding equal differ by < 1e-6, so every possible
    // round-6 co-winner is a candidate and the selected id is
    // IDENTICAL to rounding all nc cosines.
    val raw = new Array[Double](nc)
    var rawMax = Double.NaN
    var haveRaw = false
    var c = 0
    while (c < nc) {
      var dot = 0.0
      var i = 0
      val off = c * dim
      while (i < dim) {
        dot += vf(i).toDouble * cents(off + i)
        i += 1
      }
      val cos = dot / (sna * idx.norms(c))
      raw(c) = cos
      if (!haveRaw || java.lang.Double.compare(cos, rawMax) > 0) {
        rawMax = cos; haveRaw = true
      }
      c += 1
    }
    val floor = rawMax - 1.01e-6 // NaN floor -> only compare==0 passes
    var best = Double.NegativeInfinity; var bestId = Long.MaxValue
    var haveBest = false
    c = 0
    while (c < nc) {
      val rc = raw(c)
      if (java.lang.Double.compare(rc, rawMax) == 0 || rc >= floor) {
        val cos = roundOrPass6(rc)
        val id = idx.ids(c)
        // Double.compare: NaN > +Inf, matching Spark's struct ordering
        val cmp = java.lang.Double.compare(cos, best)
        if (!haveBest || cmp > 0 || (cmp == 0 && id < bestId)) {
          best = cos; bestId = id; haveBest = true
        }
      }
      c += 1
    }
    bestId
  }

  /** SemDeDup's within-cluster dup scan over one cluster's members
    * (ids ASCENDING, embeddings flattened m*dim): member i is a dup
    * if ANY earlier member j has round-6 cosine >= tau. Returns the
    * dup ids. Replaces the cid self-join + cosine filter + distinct
    * (3.7M joined rows each dragging two ~260 B embedding copies at
    * sf1) with one evaluation per cluster row; the j-loop breaks on
    * the first hit, so it does strictly fewer cosines than the join
    * form it mirrors. NaN cosines (zero-norm) compare GREATER than
    * tau, matching Spark's NaN ordering in the filter it replaces.
    */
  def semdedupDups(ids: ArrayData, flat: ArrayData, tau: Double)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val m = ids.numElements()
    val out = new Array[Long](math.max(m - 1, 0))
    var nOut = 0
    if (m > 1) {
      val dim = flat.numElements() / m
      // dim > 0 too: an empty flat would floor dim to 0, pass the
      // m*dim check vacuously, and NaN-cosine every member into a
      // "duplicate" — reject the malformed cluster loudly
      require(dim > 0 && flat.numElements() == m * dim,
        s"semdedup_dups: ${flat.numElements()} values for $m members")
      // One primitive copy per cluster: the i*j dup scan reads each
      // member up to m times and ArrayData.getFloat there is virtual
      // calls + bounds checks (the argmaxCos lesson). Same values,
      // same accumulation order — cosines stay bit-identical.
      val ff = flat.toFloatArray()
      // hoist norms
      val norms = new Array[Double](m)
      var i = 0
      while (i < m) {
        var s = 0.0
        var j = 0
        val off = i * dim
        while (j < dim) {
          val x = ff(off + j).toDouble
          s += x * x; j += 1
        }
        norms(i) = math.sqrt(s)
        i += 1
      }
      // round6 (BigDecimal over the exact binary expansion) only in
      // the 1e-6 band around tau: raw >= tau+1.01e-6 rounds >= tau
      // for sure, raw < tau-1.01e-6 rounds < tau for sure (round6 is
      // monotone with error < 0.5e-6+ulp), and NaN (zero-norm) falls
      // through both raw tests to the exact compare, where it orders
      // GREATER (Spark's NaN ordering). Decisions identical to
      // rounding every pair.
      val hi = tau + 1.01e-6
      val lo = tau - 1.01e-6
      i = 1
      while (i < m) {
        var j = 0
        var dup = false
        while (j < i && !dup) {
          var dot = 0.0
          var k = 0
          val oi = i * dim; val oj = j * dim
          while (k < dim) {
            dot += ff(oi + k).toDouble * ff(oj + k).toDouble
            k += 1
          }
          val cos = dot / (norms(i) * norms(j))
          if (cos >= hi) dup = true
          else if (!(cos < lo) &&
            java.lang.Double.compare(roundOrPass6(cos), tau) >= 0) dup = true
          j += 1
        }
        if (dup) { out(nOut) = ids.getLong(i); nOut += 1 }
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, nOut))
  }

  private val shingleBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 12)
  }

  /** Distinct word n-gram shingle HASHES straight off the token
    * array: for each n-window, the xxhash64 (seed 42, Spark's
    * `xxhash64()`) of the bytes of `w_i ' ' w_i+1 ... ' ' w_i+n-1` —
    * bit-identical to xxhash64(concat_ws(" ", shingle)) without ever
    * allocating the 20-40 byte shingle STRING (2.6M allocations per
    * scan at sf1 — the dominant cost of the bucketed dedup family's
    * shingle build). Result is sorted + deduplicated: the bucketed
    * consumers key on the hash anyway, so per-doc distinctness by
    * hash == by string up to 64-bit collisions (the same accepted
    * risk as the bucket key, see
    * [[graft.ops.Dedup.commonCountsFromBuckets]]).
    */
  def ngramShingleHashes(words: ArrayData, n: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    sortedDistinct(ngramWindowHashes(words, n, xxhash42))

  /** [[ngramShingleHashes]] with the ENGINE-PORTABLE md5 hash
    * ([[portableHash60]]) instead of xxhash64 — for the minhash
    * family, whose hash values are oracle-replayed (signatures,
    * hashed-set verify). Sorted + deduplicated, so the result is both
    * the per-doc distinct shingle-hash set AND the ready-sorted input
    * of intersect_count_sorted. One md5 per shingle window, no
    * shingle string ever allocated.
    */
  def ngramPortableHashes(words: ArrayData, n: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    sortedDistinct(ngramWindowHashes(words, n, portableHash60))

  private val xxhash42: (Array[Byte], Int) => Long = (b, len) =>
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, len, 42L)

  /** `hash(bytes, len)` of every n-gram window of `words`, unsorted,
    * one entry per occurrence: the window's words joined by single
    * spaces, written into a reused per-thread buffer. */
  private def ngramWindowHashes(words: ArrayData, n: Int,
      hash: (Array[Byte], Int) => Long): Array[Long] = {
    val m = words.numElements()
    if (m < n) return Array.emptyLongArray
    val k = m - n + 1
    val out = new Array[Long](k)
    var buf = shingleBuf.get()
    var i = 0
    while (i < k) {
      var len = 0
      var j = 0
      while (j < n) {
        val w = words.getUTF8String(i + j)
        val wb = w.numBytes()
        if (len + wb + 1 > buf.length) {
          buf = java.util.Arrays.copyOf(buf,
            Integer.highestOneBit(len + wb + 1) << 1)
          shingleBuf.set(buf)
        }
        if (j > 0) { buf(len) = ' '.toByte; len += 1 }
        w.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
        len += wb
        j += 1
      }
      out(i) = hash(buf, len)
      i += 1
    }
    out
  }

  /** `hs` sorted and deduplicated (in place), as an array value. */
  private def sortedDistinct(hs: Array[Long])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < hs.length) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(hs, w))
  }

  /** Count of the most frequent n-gram within ONE document's word
    * array (a07's top-2-gram repetition signal): hash every window,
    * sort, longest equal run — a narrow per-row evaluation replacing
    * the (doc, sh) count + per-doc max over the corpus-wide bigram
    * explode. Counts by 64-bit hash, so two distinct n-grams
    * colliding WITHIN one doc could merge runs — the same accepted
    * risk class as the bucket keys (~windows^2/2^64 per doc).
    */
  def topNgramRun(words: ArrayData, n: Int): Long = {
    val hs = ngramWindowHashes(words, n, xxhash42)
    java.util.Arrays.sort(hs)
    var best = 0L
    var run = 0L
    var i = 0
    while (i < hs.length) {
      if (i == 0 || hs(i) != hs(i - 1)) run = 1L else run += 1L
      if (run > best) best = run
      i += 1
    }
    best
  }

  /** All k MinHash signature values in one pass over a doc's
    * portable-hash shingle set: sig_i = min over shingles of
    * ((h % P) * c_i + d_i) % P with the [[graft.ops.Dedup]] affine
    * family — the values of the oracles' `MIN(...) GROUP BY doc_id`
    * over the exploded shingles, without the exchange or the k
    * aggregate buffers per doc. Input must be non-empty (callers
    * filter zero-shingle docs, mirroring their absence from the
    * oracles' groupBy).
    */
  def minhashSigs(hashes: ArrayData, cs: Array[Long], ds: Array[Long])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val m = hashes.numElements()
    require(m > 0, "minhash_sigs: empty shingle set")
    val p = graft.ops.Dedup.MinhashPrime
    val k = cs.length
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i) % p
      var f = 0
      while (f < k) {
        val v = (h * cs(f) + ds(f)) % p
        if (v < out(f)) out(f) = v
        f += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Salted-minhash signatures over a doc's DISTINCT word array:
    * sig_i = min over words of portableHash60(word + "|s" + i) —
    * value-identical to the composed transform/array_min columns
    * (and the oracle's MIN(md5(sh || '|si')) replay). The per-word
    * salted hashes are memoized PER THREAD (t27's bounded-memo
    * discipline: corpora repeat words heavily — this one has a 13k
    * vocabulary across 2.7M word instances, so ~99.5% of the 8-md5
    * bundles become lookups; cleared past 64k entries so a
    * high-cardinality corpus degrades to plain hashing, never to
    * unbounded heap).
    */
  def saltedMinhashSigs(words: ArrayData, salts: Array[Array[Byte]],
      memoTL: ThreadLocal[java.util.HashMap[UTF8String, Array[Long]]])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val k = salts.length
    val m = words.numElements()
    require(m > 0, "salted_minhash_sigs: empty word set")
    val memo = memoTL.get()
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    val md = md5.get()
    var i = 0
    while (i < m) {
      val w = words.getUTF8String(i)
      var hs = memo.get(w)
      if (hs == null) {
        if (memo.size() > 65536) memo.clear()
        hs = new Array[Long](k)
        val wb = w.getBytes
        var s = 0
        while (s < k) {
          md.reset()
          md.update(wb)
          md.update(salts(s))
          val d = md.digest()
          var v = 0L
          var b = 0
          while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
          hs(s) = v >>> 4
          s += 1
        }
        memo.put(UTF8String.fromBytes(wb), hs)
      }
      var s = 0
      while (s < k) { if (hs(s) < out(s)) out(s) = hs(s); s += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Count space-delimited occurrences of each marker in text — the
    * number of tokens equal to it, the exact value of
    * [[graft.ops.Text.markerCount]]'s token-filter form — computed by
    * byte search over ONE padded copy instead of one split+filter
    * pass per marker (d17 counts 9 markers per doc). Matches may
    * share their delimiter space (the p += ml-1 advance), so adjacent
    * repeats all count — the non-overlapping replace trick this
    * replaced undercounted "the the the" as 2.
    */
  def countMarkers(text: UTF8String, markers: Array[Array[Byte]])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val tb = text.getBytes
    val n = tb.length + 2
    var buf = shingleBuf.get()
    if (buf.length < n) {
      buf = new Array[Byte](Integer.highestOneBit(n) << 1)
      shingleBuf.set(buf)
    }
    buf(0) = ' '.toByte
    System.arraycopy(tb, 0, buf, 1, tb.length)
    buf(n - 1) = ' '.toByte
    val out = new Array[Long](markers.length)
    var mi = 0
    while (mi < markers.length) {
      val m = markers(mi)
      val ml = m.length
      var c = 0L
      var p = 0
      while (p <= n - ml) {
        var j = 0
        while (j < ml && buf(p + j) == m(j)) j += 1
        // advance ml-1 on a hit: the trailing delimiter space can
        // open the next match (adjacent repeats share one space)
        if (j == ml) { c += 1; p += ml - 1 } else p += 1
      }
      out(mi) = c
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // per-thread word -> portableHash60 memo (pure global function, so
  // sharing across queries is safe; bounded like the t27 memo)
  private val hash60Memo =
    new ThreadLocal[java.util.HashMap[UTF8String, java.lang.Long]] {
      override def initialValue() =
        new java.util.HashMap[UTF8String, java.lang.Long](1 << 12)
    }

  private def portableHash60Memoized(w: UTF8String): Long = {
    val memo = hash60Memo.get()
    var v = memo.get(w)
    if (v == null) {
      if (memo.size() > 65536) memo.clear()
      v = java.lang.Long.valueOf(portableHash60(w))
      memo.put(UTF8String.fromBytes(w.getBytes), v)
    }
    v.longValue()
  }

  /** SimHash fingerprint of ONE document's word multiset —
    * value-identical to the 64-column +/-1 bit-sum aggregate over the
    * exploded word stream ([[graft.ops.Dedup.simhash]]'s composed
    * form and its oracle): per word, bit j of the portable hash adds
    * +/-1 to sum j; fp sets bit j iff sum j > 0. Per-word hashes ride
    * the thread's md5 memo (repetitive corpora hash each distinct
    * word once per thread, not once per occurrence).
    */
  def simhashFp(words: ArrayData, bits: Int): Long = {
    val m = words.numElements()
    val sums = new Array[Int](bits)
    var i = 0
    while (i < m) {
      val h = portableHash60Memoized(words.getUTF8String(i))
      var j = 0
      while (j < bits) {
        sums(j) += (((h >>> j) & 1L).toInt << 1) - 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < bits) {
      if (sums(j) > 0) fp |= 1L << j
      j += 1
    }
    fp
  }

  // per-thread word -> [lo60, hi60] memo for the two-long fingerprint
  // kernel (one md5 per distinct word per thread serves BOTH words)
  private val hash120Memo =
    new ThreadLocal[java.util.HashMap[UTF8String, Array[Long]]] {
      override def initialValue() =
        new java.util.HashMap[UTF8String, Array[Long]](1 << 12)
    }

  private def hash120Memoized(w: UTF8String): Array[Long] = {
    val memo = hash120Memo.get()
    var v = memo.get(w)
    if (v == null) {
      if (memo.size() > 65536) memo.clear()
      val md = md5.get()
      md.reset()
      val d = md.digest(w.getBytes)
      // lo = md5 bits 0-59 (hex chars 1-15) — IDENTICAL to
      // portableHash60, so fp2's first word equals the 60-bit kernel's
      // fingerprint bit for bit; hi = bits 60-119 (hex chars 16-30)
      var a = 0L
      var i = 0
      while (i < 8) { a = (a << 8) | (d(i) & 0xffL); i += 1 }
      var b = d(7) & 0x0fL // hex char 16 = low nibble of byte 8
      i = 8
      while (i < 15) { b = (b << 8) | (d(i) & 0xffL); i += 1 }
      v = Array(a >>> 4, b)
      memo.put(UTF8String.fromBytes(w.getBytes), v)
    }
    v
  }

  /** Two-long SimHash fingerprint — the width rung above the 60-bit
    * default ([[simhashFp]]'s construction over 120 hash bits): word
    * hash bits 0-59 drive the LO word's ±1 bit sums, bits 60-119 (the
    * md5's next 15 hex chars) the HI word's. Returns [lo, hi], each
    * using its low 60 bits; the LO word is bit-identical to
    * `simhashFp(words, 60)` (ExpressionsSpec pins it), so the rung is the
    * same construction, literally — just more of the hash.
    */
  def simhashFp2(words: ArrayData)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bits = 60
    val m = words.numElements()
    val sums = new Array[Int](2 * bits)
    var i = 0
    while (i < m) {
      val h = hash120Memoized(words.getUTF8String(i))
      val lo = h(0)
      val hi = h(1)
      var j = 0
      while (j < bits) {
        sums(j) += (((lo >>> j) & 1L).toInt << 1) - 1
        sums(bits + j) += (((hi >>> j) & 1L).toInt << 1) - 1
        j += 1
      }
      i += 1
    }
    var fpLo = 0L
    var fpHi = 0L
    var j = 0
    while (j < bits) {
      if (sums(j) > 0) fpLo |= 1L << j
      if (sums(bits + j) > 0) fpHi |= 1L << j
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(fpLo, fpHi))
  }

  /** Per-doc [sum(chars), sum(lookup)] over a word array against a
    * broadcast word->long map (t26's BPE token counting: the map is
    * the trained vocab's per-word BPE symbol count, vocabulary-sized
    * by construction). One narrow evaluation replaces the
    * occurrences-join + per-doc groupBy over the exploded word
    * stream. Words absent from the map contribute 0 to the lookup
    * sum (impossible for t26 — the vocab is built FROM these words).
    */
  def wordLookupSums(words: ArrayData,
      map: java.util.HashMap[UTF8String, java.lang.Long])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val m = words.numElements()
    var chars = 0L
    var looked = 0L
    var i = 0
    while (i < m) {
      val w = words.getUTF8String(i)
      chars += w.numChars()
      val v = map.get(w)
      if (v != null) looked += v.longValue()
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(chars, looked))
  }

  /** Read the exact integer-rank num/den quantile off a KllAgg
    * sketch buffer. Sketch layout + rank arithmetic live in
    * [[graft.ops.KllAgg.quantile]]; this is the executor-side bridge
    * so a single KllSketchAgg aggregation can serve several quantile
    * reads (one sketch built + shuffled instead of one per quantile).
    */
  def kllQuantile(buf: ArrayData, num: Long, den: Long): Long =
    graft.ops.KllAgg.quantile(buf.toLongArray(), num, den)

  private def roundOrPass6(c: Double): Double = {
    // round half-up to 6 decimals over the EXACT binary expansion —
    // bit-identical to Spark's round(expr, 6) on doubles, which passes
    // NaN/Infinity through (a zero-norm vector divides 0/0 here)
    if (c.isNaN || c.isInfinite) c
    else new java.math.BigDecimal(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** kll_quantile(sketch, num, den) -> long: the num/den quantile read
  * off a [[graft.ops.KllSketchAgg]] buffer (array<bigint>). num/den
  * are plan-time constants baked into codegen. Post-aggregation use:
  * evaluated once per GROUP row, so N quantiles cost one sketch
  * build instead of N parallel KllAgg aggregations (d24's shape).
  */
case class KllQuantileOf(child: Expression, num: Long, den: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"kll_quantile needs array<bigint>, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    Kernels.kllQuantile(v.asInstanceOf[ArrayData], num, den)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Kernels.kllQuantile($c, ${num}L, ${den}L)")

  override protected def withNewChildInternal(c: Expression): KllQuantileOf =
    copy(child = c)
}

/** portable_hash60(string) -> long. See [[Kernels.portableHash60]]. */
case class PortableHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"portable_hash60 needs string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    Kernels.portableHash60(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Kernels.portableHash60($c)")

  override protected def withNewChildInternal(c: Expression): PortableHash60 =
    copy(child = c)
}

/** cosine_f(array<float>, array<float>) -> double (rounded to 6).
  * See [[Kernels.cosineF]].
  */
case class CosineF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure("cosine_f needs two array<float> inputs")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.Kernels.cosineF($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : CosineF = copy(left = l, right = r)
}

/** intersect_count_sorted(array<bigint>, array<bigint>) -> int:
  * number of common elements of two ASCENDING-SORTED duplicate-free
  * long arrays, by two-pointer merge — no per-row hash set, no
  * allocation, whole-stage-codegen friendly. The exact-Jaccard
  * verify stage of MinHash-LSH dedup calls this millions of times per
  * partition on hashed shingle sets; `size(array_intersect(a, b))`
  * (per-row OpenHashSet build) measured ~4x slower at sf0.1.
  */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure("intersect_count_sorted needs two array<bigint> inputs")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.intersectCountSorted(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.Kernels.intersectCountSorted($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : IntersectCountSorted = copy(left = l, right = r)
}

/** unscaled_long(decimal(p<=18,s)) -> long: the decimal's unscaled
  * integer value (e.g. 12.34 at scale 2 -> 1234). Lets exact money
  * arithmetic run on long multiply/add instead of BigDecimal: a
  * decimal(14,2)x(14,2) product is precision 29, which falls off
  * Spark's long-backed Decimal fast path, but the equivalent
  * cents-as-long product is a single IMUL. Compact decimals return
  * their long payload directly — no allocation, codegen-friendly.
  */
case class UnscaledLong(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case d: DecimalType if d.precision <= 18 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"unscaled_long needs decimal with precision <= 18, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    v.asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$c.toUnscaledLong()")

  override protected def withNewChildInternal(c: Expression): UnscaledLong =
    copy(child = c)
}


/** pq_encode(array<float>) -> array<int>: the M PQ sub-codes. See
  * [[Kernels.pqEncode]].
  */
case class PqEncode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        // containsNull=true is accepted (parquet reads always carry
        // it); actual null ELEMENTS are rejected per row by the
        // kernel's dense-vector guard
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"pq_encode needs array<float>, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    Kernels.pqEncode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Kernels.pqEncode($c)")

  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
}


/** pq_adc_lut(array<float>) -> array<bigint> of M*K squared
  * distances (entry s*K + c). See [[Kernels.pqAdcLut]].
  */
case class PqAdcLut(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        // same containsNull policy as PqEncode: accept the schema,
        // reject actual null elements per row in the kernel
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"pq_adc_lut needs array<float>, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    Kernels.pqAdcLut(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Kernels.pqAdcLut($c)")

  override protected def withNewChildInternal(c: Expression): PqAdcLut =
    copy(child = c)
}

/** pq_assign_adc(array<float>, array<int>, array<bigint>) -> bigint:
  * id of the ADC-argmin centroid. See [[Kernels.pqAssignAdc]]; the
  * codes/ids children are literals built from a k-bounded collect.
  */
case class PqAssignAdc(emb: Expression, codes: Expression, ids: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = emb
  override def second: Expression = codes
  override def third: Expression = ids
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (emb.dataType, codes.dataType, ids.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, false),
          ArrayType(LongType, false)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("pq_assign_adc needs (array<float>, array<int>, " +
          s"array<bigint>), got $other")
    }

  override def nullSafeEval(e: Any, c: Any, i: Any): Any =
    Kernels.pqAssignAdc(e.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], i.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, c, i) =>
      s"graft.expressions.Kernels.pqAssignAdc($e, $c, $i)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): PqAssignAdc = copy(emb = f, codes = s, ids = t)
}

/** argmin_l2_micro_d2(array<bigint>, array<bigint>, array<bigint>) ->
  * array<bigint> [bestId, bestD2]. See [[Kernels.argminL2MicroD2]].
  */
case class ArgminL2MicroD2(v: Expression, cents: Expression,
    ids: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = v
  override def second: Expression = cents
  override def third: Expression = ids
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (v.dataType, cents.dataType, ids.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, false),
          ArrayType(LongType, false)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("argmin_l2_micro_d2 needs (array<bigint>, " +
          s"array<bigint>, array<bigint>), got $other")
    }

  override def nullSafeEval(a: Any, c: Any, i: Any): Any =
    Kernels.argminL2MicroD2(a.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], i.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, c, i) =>
      s"graft.expressions.Kernels.argminL2MicroD2($a, $c, $i)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): ArgminL2MicroD2 = copy(v = f, cents = s, ids = t)
}

/** Broadcast-side centroid matrix for [[ArgmaxCos]]: the flattened
  * nc*dim float values widened to double (exact) with per-centroid
  * norms precomputed ONCE — norms accumulate left-to-right over the
  * same widened values as the per-row composed form, so every cosine
  * the kernel produces is bit-identical to cosine_f's.
  */
final class CosIndex(centsF: Array[Float], val ids: Array[Long])
    extends Serializable {
  require(ids.nonEmpty && centsF.length % ids.length == 0,
    s"CosIndex: ${centsF.length} values for ${ids.length} ids")
  val dim: Int = centsF.length / ids.length
  val flat: Array[Double] = centsF.map(_.toDouble)
  val norms: Array[Double] = Array.tabulate(ids.length) { c =>
    var s = 0.0
    var j = 0
    val off = c * dim
    while (j < dim) { val x = flat(off + j); s += x * x; j += 1 }
    math.sqrt(s)
  }
}

/** argmax_cos(array<float>) -> bigint against a constructor-time
  * [[CosIndex]] (the MultiNeedle literal-state pattern: norms are
  * built once and shipped with the expression, not recomputed per
  * row). Ties to the lowest id. See [[Kernels.argmaxCos]].
  */
case class ArgmaxCos(child: Expression, index: CosIndex)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"argmax_cos needs array<float>, got $other")
    }

  override def nullSafeEval(a: Any): Any =
    Kernels.argmaxCos(a.asInstanceOf[ArrayData], index)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idxRef = ctx.addReferenceObj("cosIndex", index,
      classOf[CosIndex].getName)
    defineCodeGen(ctx, ev, a =>
      s"graft.expressions.Kernels.argmaxCos($a, $idxRef)")
  }

  override protected def withNewChildInternal(c: Expression): ArgmaxCos =
    copy(child = c)
}

/** ngram_shingle_hashes(array<string>, n) -> array<bigint>: sorted
  * distinct xxhash64 values of the word n-gram shingles. See
  * [[Kernels.ngramShingleHashes]].
  */
case class NgramShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"ngram_shingle_hashes needs array<string>, got $other")
    }

  override def nullSafeEval(w: Any): Any =
    Kernels.ngramShingleHashes(w.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w =>
      s"graft.expressions.Kernels.ngramShingleHashes($w, $n)")

  override protected def withNewChildInternal(c: Expression): NgramShingleHashes =
    copy(child = c)
}

/** ngram_portable_hashes(array<string>, n) -> array<bigint>: sorted
  * distinct PORTABLE (md5-60) shingle hashes. See
  * [[Kernels.ngramPortableHashes]].
  */
case class NgramPortableHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"ngram_portable_hashes needs array<string>, got $other")
    }

  override def nullSafeEval(w: Any): Any =
    Kernels.ngramPortableHashes(w.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w =>
      s"graft.expressions.Kernels.ngramPortableHashes($w, $n)")

  override protected def withNewChildInternal(c: Expression)
      : NgramPortableHashes = copy(child = c)
}

/** minhash_sigs(array<bigint>) -> array<bigint>: the k affine-min
  * signature values over a portable-hash shingle set; coefficients
  * fixed at construction ([[graft.ops.Dedup.minhashCoeffs]]). See
  * [[Kernels.minhashSigs]].
  */
case class MinhashSigsOf(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, s"signature width must be >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val coeffs = {
    val cd = graft.ops.Dedup.minhashCoeffs(k)
    (cd.map(_._1).toArray, cd.map(_._2).toArray)
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"minhash_sigs needs array<bigint>, got $other")
    }

  override def nullSafeEval(h: Any): Any =
    Kernels.minhashSigs(h.asInstanceOf[ArrayData], coeffs._1, coeffs._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val csRef = ctx.addReferenceObj("minhashCs", coeffs._1, "long[]")
    val dsRef = ctx.addReferenceObj("minhashDs", coeffs._2, "long[]")
    defineCodeGen(ctx, ev, h =>
      s"graft.expressions.Kernels.minhashSigs($h, $csRef, $dsRef)")
  }

  override protected def withNewChildInternal(c: Expression): MinhashSigsOf =
    copy(child = c)
}

/** salted_minhash_sigs(array<string>, k) -> array<bigint>: the k
  * salted portable-hash minima over a distinct word set, with a
  * per-thread bounded word->hashes memo. See
  * [[Kernels.saltedMinhashSigs]].
  */
case class SaltedMinhashSigs(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1 && k <= 64, s"signature width out of range: $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val salts: Array[Array[Byte]] =
    Array.tabulate(k)(i => s"|s$i".getBytes("UTF-8"))
  // per-(instance, thread) memo: expression instances can be shared
  // across concurrently-running tasks in one JVM, so the map itself
  // must be thread-confined
  @transient private lazy val memoTL =
    new ThreadLocal[java.util.HashMap[UTF8String, Array[Long]]] {
      override def initialValue() =
        new java.util.HashMap[UTF8String, Array[Long]](1 << 12)
    }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"salted_minhash_sigs needs array<string>, got $other")
    }

  override def nullSafeEval(w: Any): Any =
    Kernels.saltedMinhashSigs(w.asInstanceOf[ArrayData], salts, memoTL)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltsRef = ctx.addReferenceObj("salts", salts, "byte[][]")
    val memoRef = ctx.addReferenceObj("memoTL", memoTL,
      classOf[ThreadLocal[_]].getName)
    defineCodeGen(ctx, ev, w =>
      s"graft.expressions.Kernels.saltedMinhashSigs($w, $saltsRef, $memoRef)")
  }

  override protected def withNewChildInternal(c: Expression)
      : SaltedMinhashSigs = copy(child = c)
}

/** simhash_fp(array<string>, bits) -> bigint: SimHash fingerprint of
  * a word multiset. See [[Kernels.simhashFp]].
  */
case class SimhashFp(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 60, s"bits out of range: $bits")
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"simhash_fp needs array<string>, got $other")
    }

  override def nullSafeEval(w: Any): Any =
    Kernels.simhashFp(w.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w =>
      s"graft.expressions.Kernels.simhashFp($w, $bits)")

  override protected def withNewChildInternal(c: Expression): SimhashFp =
    copy(child = c)
}

/** simhash_fp2(array<string>) -> array<bigint>[lo, hi]: the two-long
  * 120-bit fingerprint rung. See [[Kernels.simhashFp2]].
  */
case class SimhashFp2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"simhash_fp2 needs array<string>, got $other")
    }

  override def nullSafeEval(w: Any): Any =
    Kernels.simhashFp2(w.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w =>
      s"graft.expressions.Kernels.simhashFp2($w)")

  override protected def withNewChildInternal(c: Expression): SimhashFp2 =
    copy(child = c)
}

/** word_lookup_sums(array<string>) -> array<bigint>[2]: per-doc
  * [char-sum, map-lookup-sum] against a constructor-time word->long
  * map. See [[Kernels.wordLookupSums]].
  */
case class WordLookupSums(child: Expression,
    map: java.util.HashMap[UTF8String, java.lang.Long])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"word_lookup_sums needs array<string>, got $other")
    }

  override def nullSafeEval(w: Any): Any =
    Kernels.wordLookupSums(w.asInstanceOf[ArrayData], map)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("lookupMap", map,
      classOf[java.util.HashMap[_, _]].getName)
    defineCodeGen(ctx, ev, w =>
      s"graft.expressions.Kernels.wordLookupSums($w, $mRef)")
  }

  override protected def withNewChildInternal(c: Expression): WordLookupSums =
    copy(child = c)
}

/** top_ngram_run(array<string>, n) -> bigint: count of the most
  * frequent n-gram within the array. See [[Kernels.topNgramRun]].
  */
case class TopNgramRun(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram width must be >= 1, got $n")
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"top_ngram_run needs array<string>, got $other")
    }

  override def nullSafeEval(w: Any): Any =
    Kernels.topNgramRun(w.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w =>
      s"graft.expressions.Kernels.topNgramRun($w, $n)")

  override protected def withNewChildInternal(c: Expression): TopNgramRun =
    copy(child = c)
}

/** count_markers(string) -> array<bigint>: per-marker space-delimited
  * TOKEN-EQUALITY counts over text (constructor-time marker list) —
  * for each marker, the number of whitespace-split tokens equal to
  * it, so adjacent repeats all count ("the the the" counts 3 for
  * "the"). See [[Kernels.countMarkers]] and
  * [[graft.ops.Text.markerCount]] (same semantics, one shared
  * kernel contract).
  */
case class CountMarkers(child: Expression, markers: Seq[String])
    extends UnaryExpression {
  require(markers.nonEmpty, "count_markers needs at least one marker")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val markerBytes: Array[Array[Byte]] =
    markers.map(m => s" $m ".getBytes("UTF-8")).toArray

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"count_markers needs string, got $other")
    }

  override def nullSafeEval(t: Any): Any =
    Kernels.countMarkers(t.asInstanceOf[UTF8String], markerBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("markers", markerBytes, "byte[][]")
    defineCodeGen(ctx, ev, t =>
      s"graft.expressions.Kernels.countMarkers($t, $mRef)")
  }

  override protected def withNewChildInternal(c: Expression): CountMarkers =
    copy(child = c)
}

/** semdedup_dups(array<bigint>, array<float>, tau) -> array<bigint>:
  * within-cluster SemDeDup scan. ids must be ASCENDING and the flat
  * embedding matrix row-aligned with them; tau is a plan-time
  * constant. See [[Kernels.semdedupDups]].
  */
case class SemdedupDups(ids: Expression, flat: Expression, tau: Double)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = ids
  override def right: Expression = flat
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (ids.dataType, flat.dataType) match {
      case (ArrayType(LongType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("semdedup_dups needs (array<bigint>, " +
          s"array<float>), got $other")
    }

  override def nullSafeEval(i: Any, f: Any): Any =
    Kernels.semdedupDups(i.asInstanceOf[ArrayData],
      f.asInstanceOf[ArrayData], tau)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (i, f) =>
      s"graft.expressions.Kernels.semdedupDups($i, $f, ${tau})")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SemdedupDups = copy(ids = l, flat = r)
}

/** pq_encode_cb(array<float>, array<bigint>, array<bigint>) ->
  * array<int>: PQ codes against a runtime codebook with a
  * per-subspace presence bitmask. See [[Kernels.pqEncodeCb]].
  */
case class PqEncodeCb(emb: Expression, cb: Expression, present: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = emb
  override def second: Expression = cb
  override def third: Expression = present
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (emb.dataType, cb.dataType, present.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, false),
          ArrayType(LongType, false)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("pq_encode_cb needs (array<float>, array<bigint>, " +
          s"array<bigint>), got $other")
    }

  override def nullSafeEval(e: Any, c: Any, p: Any): Any =
    Kernels.pqEncodeCb(e.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, c, p) =>
      s"graft.expressions.Kernels.pqEncodeCb($e, $c, $p)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): PqEncodeCb = copy(emb = f, cb = s, present = t)
}

/** winnow_keys(array<string>, k, w) -> array<string> of distinct
  * selected `md5hex || lpad(pos, 8, '0')` keys. See
  * [[Kernels.winnowKeys]].
  */
case class WinnowKeys(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, s"winnow_keys: need k,w >= 1, got ($k, $w)")
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"winnow_keys needs array<string>, got $other")
    }

  override def nullSafeEval(words: Any): Any =
    Kernels.winnowKeys(words.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.Kernels.winnowKeys($c, $k, $w)")

  override protected def withNewChildInternal(c: Expression): WinnowKeys =
    copy(child = c)
}

/** ivfpq_encode(array<float>, array<bigint>, array<bigint>) ->
  * array<int> of [coarse cell, M residual PQ codes]. See
  * [[Kernels.ivfpqEncode]]; centroids and codebook children are
  * literals built from a k-bounded collect.
  */
case class IvfPqEncode(emb: Expression, cents: Expression, cb: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = emb
  override def second: Expression = cents
  override def third: Expression = cb
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (emb.dataType, cents.dataType, cb.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, false),
          ArrayType(LongType, false)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("ivfpq_encode needs (array<float>, " +
          s"array<bigint>, array<bigint>), got $other")
    }

  override def nullSafeEval(e: Any, c: Any, b: Any): Any =
    Kernels.ivfpqEncode(e.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, c, b) =>
      s"graft.expressions.Kernels.ivfpqEncode($e, $c, $b)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): IvfPqEncode = copy(emb = f, cents = s, cb = t)
}

object GraftFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expr => toExpr}

  /** Default SimHash fingerprint width: the FULL 60-bit portable word
    * hash (md5 prefix — the widest a single DuckDB-replayable long
    * carries). Width is THE near-dup scale knob — the by-chance admit
    * rate at hamming <= 6 is C(bits,<=6)/2^bits:
    * {{{
    * width | by-chance admit | regime / entry point
    * ------+-----------------+-------------------------------------
    *   32  |     ~2.8e-4     | output QUADRATIC past ~10^5 docs (r14
    *       |                 | slope: d07 14.6x on 3x data); small
    *       |                 | corpora only, must be NAMED at the
    *       |                 | call site (SmallCorpusSimBits)
    *   60  |     ~5e-11      | THE default (simhash_fp, d39): true
    *       |                 | near-dups only through ~10^9 docs;
    *       |                 | 7-band join gets 8-9-bit band keys
    *  120  |     ~2.9e-27    | the two-long rung (simhash_fp2 +
    *       |                 | Dedup.simhashPairsBanded2, gated by
    *       |                 | d40): same construction over md5 bits
    *       |                 | 0-119, LO word bit-identical to the
    *       |                 | 60-bit fp; for corpora past 10^9 docs
    * }}} */
  val SimhashDefaultBits: Int = 60

  def portable_hash60(c: Column): Column = toCol(PortableHash60(toExpr(c)))
  def cosine_f(a: Column, b: Column): Column =
    toCol(CosineF(toExpr(a), toExpr(b)))
  def unscaled_long(c: Column): Column = toCol(UnscaledLong(toExpr(c)))
  def intersect_count_sorted(a: Column, b: Column): Column =
    toCol(IntersectCountSorted(toExpr(a), toExpr(b)))
  def multi_needle_matches(text: Column, needles: Column): Column =
    toCol(MultiNeedleMatches(toExpr(text), toExpr(needles)))
  def pq_encode(c: Column): Column = toCol(PqEncode(toExpr(c)))
  def pq_adc_lut(c: Column): Column = toCol(PqAdcLut(toExpr(c)))
  def pq_assign_adc(emb: Column, codes: Column, ids: Column): Column =
    toCol(PqAssignAdc(toExpr(emb), toExpr(codes), toExpr(ids)))
  def argmin_l2_micro_d2(v: Column, cents: Column, ids: Column): Column =
    toCol(ArgminL2MicroD2(toExpr(v), toExpr(cents), toExpr(ids)))
  def pq_encode_cb(emb: Column, cb: Column, present: Column): Column =
    toCol(PqEncodeCb(toExpr(emb), toExpr(cb), toExpr(present)))
  def ivfpq_encode(emb: Column, cents: Column, cb: Column): Column =
    toCol(IvfPqEncode(toExpr(emb), toExpr(cents), toExpr(cb)))
  def winnow_keys(words: Column, k: Int, w: Int): Column =
    toCol(WinnowKeys(toExpr(words), k, w))
  def kll_quantile(c: Column, num: Long, den: Long): Column =
    toCol(KllQuantileOf(toExpr(c), num, den))
  def argmax_cos(v: Column, cents: Array[Float], ids: Array[Long]): Column =
    toCol(ArgmaxCos(toExpr(v), new CosIndex(cents, ids)))
  def semdedup_dups(ids: Column, flat: Column, tau: Double): Column =
    toCol(SemdedupDups(toExpr(ids), toExpr(flat), tau))
  def ngram_shingle_hashes(words: Column, n: Int): Column =
    toCol(NgramShingleHashes(toExpr(words), n))
  def ngram_portable_hashes(words: Column, n: Int): Column =
    toCol(NgramPortableHashes(toExpr(words), n))
  def minhash_sigs(hashes: Column, k: Int): Column =
    toCol(MinhashSigsOf(toExpr(hashes), k))
  def salted_minhash_sigs(words: Column, k: Int): Column =
    toCol(SaltedMinhashSigs(toExpr(words), k))
  def count_markers(text: Column, markers: Seq[String]): Column =
    toCol(CountMarkers(toExpr(text), markers))
  def top_ngram_run(words: Column, n: Int): Column =
    toCol(TopNgramRun(toExpr(words), n))
  def simhash_fp(words: Column, bits: Int = SimhashDefaultBits): Column =
    toCol(SimhashFp(toExpr(words), bits))
  def simhash_fp2(words: Column): Column = toCol(SimhashFp2(toExpr(words)))
  def word_lookup_sums(words: Column,
      map: java.util.HashMap[UTF8String, java.lang.Long]): Column =
    toCol(WordLookupSums(toExpr(words), map))

  /** The SQL-callable functions, (name, expression class, builder):
    * [[register]] and [[GraftSparkExtensions]] both read this list. */
  private[expressions] val sqlFunctions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("portable_hash60", classOf[PortableHash60], e => PortableHash60(e.head)),
    ("cosine_f", classOf[CosineF], e => CosineF(e(0), e(1))),
    ("multi_needle_matches", classOf[MultiNeedleMatches],
      e => MultiNeedleMatches(e(0), e(1))))

  /** Register as SQL functions (`SELECT portable_hash60(x)`). */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "built-in")
    }
}
