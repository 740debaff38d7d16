package graft

import graft.ops.{ExactLinFit, ExactLloyd}
import org.apache.spark.graftbridge.JobCount
import org.apache.spark.sql.functions._

/** Hand-checkable cases for the deterministic fit machinery behind
  * the b61–b64 gates (exact-integer Lloyd, closed-form linear fit).
  */
class ExactFitSpec extends SparkSpec {
  import spark.implicits._

  test("ExactLloyd: hand-traced 2-cluster run (labels + exact WSSSE)") {
    // seeds are the two smallest ids (both in the left group); the
    // second Lloyd round still separates the groups: c1 captures
    // (0,0),(0,1) and c2 captures (10,10),(10,11), WSSSE = 0+1+0+1.
    val feats = Seq(
      (1L, 0.0, 0.0), (2L, 0.0, 1.0), (3L, 10.0, 10.0), (4L, 10.0, 11.0))
      .toDF("id", "fx", "fy")
    val out = ExactLloyd.fitLabels(feats, "id", Seq("fx", "fy"),
      k = 2, iters = 2, unit = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(t => t._1 -> t._2).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
    assert(out.forall(_._3 == 2L))
  }

  test("argmin_l2_micro_d2 == (argmin_l2_micro, hand-computed d2), " +
    "ties to the lowest id in both") {
    import graft.expressions.GraftFunctions.{argmin_l2_micro, argmin_l2_micro_d2}
    // centroids: id 5 -> (0,0), id 7 -> (3,4), id 9 -> (3,4) (ids 7/9
    // EXACTLY tied for every input — the tiebreak edge)
    val flat = Seq(0L, 0L, 3L, 4L, 3L, 4L)
    val ids = Seq(5L, 7L, 9L)
    val rows = Seq(
      (1L, Seq(0L, 0L)), (2L, Seq(3L, 4L)), (3L, Seq(2L, 2L)),
      (4L, Seq(-5L, 10L)), (6L, Seq(1000000L, -1000000L)))
    def d2(v: Seq[Long], c: (Long, Long)) = {
      val dx = v(0) - c._1; val dy = v(1) - c._2; dx * dx + dy * dy
    }
    val expected = rows.map { case (id, v) =>
      val ds = Seq(5L -> d2(v, (0L, 0L)), 7L -> d2(v, (3L, 4L)),
        9L -> d2(v, (3L, 4L)))
      val best = ds.map(_._2).min
      id -> ((ds.filter(_._2 == best).map(_._1).min, best))
    }.toMap
    val got = rows.toDF("id", "v")
      .select(col("id"),
        argmin_l2_micro(col("v"), typedlit(flat), typedlit(ids)).as("cid"),
        argmin_l2_micro_d2(col("v"), typedlit(flat), typedlit(ids)).as("ad"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).toList))
    got.foreach { case (id, cid, ad) =>
      val (eCid, eD2) = expected(id)
      assert(cid === eCid, s"argmin for $id")
      assert(ad === List(eCid, eD2), s"argmin_d2 for $id")
    }
  }

  test("ExactLloyd: rerun is bit-identical (order independence)") {
    val feats = (1L to 60L).map(i =>
      (i, (i % 7).toDouble * 3, (i % 5).toDouble)).toDF("id", "fx", "fy")
      .repartition(4)
    def run() = ExactLloyd.fitLabels(feats, "id", Seq("fx", "fy"),
      k = 4, iters = 3, unit = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(run() == run())
  }

  test("ExactLloyd: one job per round on top of a fixed count") {
    val feats = (1L to 60L).map(i =>
      (i, (i % 7).toDouble * 3, (i % 5).toDouble)).toDF("id", "fx", "fy")
      .repartition(4)
    def jobs(iters: Int): Int = JobCount(spark.sparkContext) {
      ExactLloyd.fitLabels(feats, "id", Seq("fx", "fy"),
        k = 4, iters = iters, unit = 100L).collect()
    }._2
    val one = jobs(1)
    assert(jobs(4) - one === 3)
    assert(one - 1 <= LloydFixedJobs, s"$one jobs at one round")
  }

  /** Jobs of a fit besides its rounds, on a frame not keyed by id:
    * the input's own repartition, the id grouping's shuffle and the
    * hold, the seed, the final assignment, and the sorted collect's
    * three. */
  private val LloydFixedJobs = 8

  test("ExactLinFit: recovers an exactly linear label") {
    // y == x2 on a full factorial: least squares has the exact
    // solution (0, 0, 1, 0); every prediction is 0 or 1 exactly.
    val rows = for (x1 <- 1 to 2; x2 <- 0 to 1; x3 <- 0 to 1)
      yield (x1.toLong, x2.toLong, x3.toLong, x2.toLong)
    val feats = rows.toDF("x1", "x2", "x3", "y")
    val r = ExactLinFit.fitStats(feats, "x1", "x2", "x3", "y").head()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 0.0)
    assert((r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) ==
      ((4L, 0L, 0L, 4L)))
    assert(r.getLong(8) == 1000000L)
  }

  test("ExactLinFit: shared formula strings parse in Spark expr()") {
    // the oracle evaluates the same strings in DuckDB; this pins the
    // Spark side of the contract (det4 well-formed, names resolve)
    // moments of the non-singular design x1=(1,2,3,5), x2=(0,1,0,1),
    // x3=(0,0,1,1), y=(1,0,1,0) — det(X) = 1, so the Cramer
    // denominator is nonzero. (A singular design's 0/0 is NaN even
    // under ANSI — only integral/decimal division throws — which is
    // why fitStats carries an explicit raise_error guard, tested
    // below.)
    val sums = Seq((4.0, 11.0, 2.0, 2.0, 39.0, 7.0, 8.0, 2.0, 1.0, 2.0,
      2.0, 4.0, 0.0, 1.0))
      .toDF("sn", "s1", "s2", "s3", "s11", "s12", "s13", "s22", "s23",
        "s33", "sy", "s1y", "s2y", "s3y")
    val vals = sums.select(ExactLinFit.coefStrs.map(c => expr(c)): _*)
      .head()
    assert((0 to 3).forall(i => !vals.isNullAt(i)))
  }

  test("ExactLinFit: singular design fails loudly, not NaN") {
    // x3 == x2 everywhere -> det(X^T X) = 0 -> every Cramer quotient
    // is 0/0 = NaN silently (double division never throws, even ANSI);
    // the guard must surface a named error instead of NaN coefficients
    val rows = for (x1 <- 1 to 4; x2 <- 0 to 1)
      yield (x1.toLong, x2.toLong, x2.toLong, (x1 % 2).toLong)
    val feats = rows.toDF("x1", "x2", "x3", "y")
    val e = intercept[Exception] {
      ExactLinFit.fitStats(feats, "x1", "x2", "x3", "y").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("singular design matrix")), e.toString)
  }

  test("ExactLloyd: duplicate ids in the feature frame are rejected") {
    // seeding is k-smallest-id; with duplicate ids the seed vectors
    // would be nondeterministic and diverge from the oracle's
    // SELECT DISTINCT replay — the contract is enforced, not assumed
    val feats = Seq(
      (1L, 0.0, 0.0), (1L, 0.0, 1.0), (3L, 10.0, 10.0), (4L, 10.0, 11.0))
      .toDF("id", "fx", "fy")
    val e = intercept[IllegalArgumentException] {
      ExactLloyd.fitLabels(feats, "id", Seq("fx", "fy"),
        k = 2, iters = 1, unit = 1L).collect()
    }
    assert(e.getMessage.contains("distinct ids"))
  }

  test("ImageIoCodec: real PNG encode->decode round-trips every band layout") {
    import graft.ops.Multimodal.ImageIoCodec
    // hashes picked so h % 3 covers gray (1), RGB (3) and RGBA (4)
    for (h <- Seq(0L, 1L, 2L, 123456789L, 987654321L, 555L)) {
      val (w, ht, bands) = ImageIoCodec.plan(h)
      val (dw, dh, db) = ImageIoCodec.decode(ImageIoCodec.synthesizePng(h))
      assert((dw, dh, db) == ((w, ht, bands)), s"h=$h")
    }
  }

  test("WavCodec: real WAV encode->decode round-trips rate/duration/channels") {
    import graft.ops.Multimodal.WavCodec
    // hashes covering both channel counts and several rate/duration
    // cells, incl. the extremes (8 kHz/250 ms and 48 kHz/2000 ms)
    for (h <- Seq(0L, 1L, 5L, 7L, 23L, 47L, 123456789L, 987654321L)) {
      val (sr, dur, ch) = WavCodec.plan(h)
      val (dsr, ddur, dch) = WavCodec.decode(WavCodec.synthesizeWav(h))
      assert((dsr, ddur, dch) == ((sr, dur, ch)), s"h=$h")
    }
  }

  test("AviCodec: real MJPEG-AVI encode->decode round-trips fps/frames/dims") {
    import graft.ops.Multimodal.AviCodec
    // hashes covering all four fps values and several frame-count /
    // dimension cells, incl. the plan extremes (h=0 -> 5 fps, 2
    // frames, 16x16; and large mixed hashes)
    for (h <- Seq(0L, 1L, 2L, 3L, 0x7ffL, 0xabcL,
        123456789L, 987654321L, (1L << 60) - 1)) {
      val (fps, nf, w, ht) = AviCodec.plan(h)
      val avi = AviCodec.synthesizeAvi(h)
      val (dfps, ddur, dw, dh, dnf) = AviCodec.decode(avi)
      assert((dfps, dnf, dw, dh) == ((fps, nf, w, ht)), s"h=$h")
      assert(ddur == nf * 1000 / fps, s"h=$h")
      // the duration arithmetic is exact by construction (every
      // planned fps divides 1000) — the SQL-replayability contract
      assert(nf * 1000 % fps == 0, s"h=$h")
    }
  }

  test("AviCodec: the container is genuine RIFF/AVI (magic + header fields)") {
    import graft.ops.Multimodal.AviCodec
    val avi = AviCodec.synthesizeAvi(123456789L)
    assert(new String(avi.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    // declared RIFF payload size matches the actual byte count
    val sz = java.nio.ByteBuffer.wrap(avi, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(sz == avi.length - 8)
    // a decoder that ignores our parser agrees on the frame payload:
    // every 00dc chunk begins with the JPEG SOI marker
    var i = 12
    var sawJpeg = false
    while (i + 8 <= avi.length) {
      val id = new String(avi.slice(i, i + 4), "US-ASCII")
      val csz = java.nio.ByteBuffer.wrap(avi, i + 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (id == "LIST") i += 12 // descend
      else {
        if (id == "00dc") {
          assert((avi(i + 8) & 0xff) == 0xff && (avi(i + 9) & 0xff) == 0xd8)
          sawJpeg = true
        }
        i += 8 + csz + (csz & 1)
      }
    }
    assert(sawJpeg)
  }
}
