package graft.queries

import graft.Tables
import graft.ops.{Materialize, Multimodal}
import graft.streaming.StreamingSessionize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal + streaming surface queries.
  *
  * x01/x06/x11 verify the multimodal binary pipeline end-to-end
  * through REAL codecs (javax.imageio PNG, javax.sound WAV, MJPEG-AVI
  * via an in-repo RIFF walk + javax.imageio JPEG per frame): media is
  * synthesized per plan, the plan derives from md5(content) with
  * SQL-replayable arithmetic ([[Multimodal.StubCodec.hash60]]), and
  * the DECODED metadata is what the oracle gates — a match proves
  * decode agreed with plan. x02 runs the Structured-Streaming
  * sessionizer to completion and verifies its windows against a
  * window-function oracle (half-open gap semantics).
  */
object Extras extends Suite {

  val qs: Seq[Q] = Seq(

    // x01 runs the REAL image codec (javax.imageio): each doc's
    // planned PNG is rendered and then actually DECODED inside the
    // mapPartitions seam; the oracle predicts the planned dims from
    // the content hash, so a hash match proves decoder and plan
    // agreed (Multimodal.ImageIoCodec). Resize clamps at 64 so the
    // aspect-preserving path binds for the [16,79] side range.
    Q("x01_multimodal_decode", (s, d) => {
      val media = Multimodal.asBinary(
        Tables.load(s, d, "documents"), "doc_id", "text", "image")
        .transform(Multimodal.decodeParallel(_, "doc_id")) // see x29
      val dims = Multimodal.decodeDimsImageIo(media, "doc_id")
      val planned = Multimodal.withFrameSamplePlan(
        Multimodal.withResizePlan(dims, 64), 30)
      planned
        .join(media.select("doc_id", "n_bytes"), "doc_id")
        .select("doc_id", "modality", "width", "height", "channels",
          "n_frames", "out_width", "out_height", "n_sampled_frames",
          "n_bytes")
        .orderBy("doc_id")
    },
      Some("""WITH h AS (
             |  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
             |    CAST('0x' || substr(md5(text),1,15) AS BIGINT) AS hv
             |  FROM documents),
             |dims AS (
             |  SELECT doc_id, n_bytes,
             |    CAST((hv % 64) + 16 AS INT) AS width,
             |    CAST(((hv // 64) % 64) + 16 AS INT) AS height,
             |    CAST(CASE hv % 3 WHEN 0 THEN 1 WHEN 1 THEN 3
             |      ELSE 4 END AS INT) AS channels,
             |    CAST(1 AS INT) AS n_frames
             |  FROM h)
             |SELECT doc_id, 'image' AS modality, width, height, channels,
             |  n_frames,
             |  CAST((width * (CASE WHEN greatest(width,height) > 64 THEN 64
             |                 ELSE greatest(width,height) END))
             |       // greatest(width,height) AS INT) AS out_width,
             |  CAST((height * (CASE WHEN greatest(width,height) > 64 THEN 64
             |                  ELSE greatest(width,height) END))
             |       // greatest(width,height) AS INT) AS out_height,
             |  CAST(1 AS INT) AS n_sampled_frames,
             |  n_bytes
             |FROM dims ORDER BY doc_id""".stripMargin)),

    // x06 runs the REAL audio codec (javax.sound.sampled WAV): each
    // doc's planned 16-bit PCM WAV is rendered (memoized — pure
    // function of the plan) and then actually DECODED per row; the
    // oracle predicts the planned rate/duration/channels from the
    // content hash, so a hash match proves decoder and plan agreed
    // (Multimodal.WavCodec, the x01 ImageIoCodec pattern).
    Q("x06_audio_pipeline", (s, d) => {
      val media = Multimodal.asBinary(
        Tables.load(s, d, "documents"), "doc_id", "text", "audio")
        .transform(Multimodal.decodeParallel(_, "doc_id")) // see x29
      Multimodal.withAudioWindowPlan(
          Multimodal.decodeAudioWav(media, "doc_id"), 1000)
        .select("doc_id", "sample_rate", "duration_ms", "n_channels",
          "n_windows")
        .orderBy("doc_id")
    },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5(text),1,15) AS BIGINT) AS hv
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(8000 * ((hv % 6) + 1) AS INT) AS sample_rate,
             |  CAST(((hv % 8) + 1) * 250 AS INT) AS duration_ms,
             |  CAST((hv % 2) + 1 AS INT) AS n_channels,
             |  CAST((((hv % 8) + 1) * 250 + 999) // 1000 AS INT) AS n_windows
             |FROM h ORDER BY doc_id""".stripMargin)),

    Q("x02_streaming_sessions",
      (s, d) => StreamingSessionize.sessionCounts(s, d),
      Some("""WITH e AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS tsn FROM events
             |), flagged AS (
             |  SELECT *, CASE WHEN lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) IS NULL
             |                   OR tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) >= 3600000000
             |            THEN 1 ELSE 0 END AS new_s
             |  FROM e
             |), sess AS (
             |  SELECT user_id, tsn,
             |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsn, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
             |  FROM flagged)
             |SELECT user_id, MIN(tsn) AS start_us,
             |  COUNT(*) AS n_events
             |FROM sess GROUP BY user_id, session_seq
             |ORDER BY user_id, start_us""".stripMargin)),

    // Custom stateful streaming sessionizer (flatMapGroupsWithState):
    // emits closed sessions + the final open one per user. Strict-gt
    // timeout (batch semantics), so the oracle is the s02 CTE plus a
    // closed flag (the user's last session is the open one).
    Q("x03_stateful_stream_sessions",
      (s, d) => graft.streaming.StatefulSessionize.sessions(s, d),
      Some("""WITH e AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS tsn FROM events
             |), flagged AS (
             |  SELECT *, CASE WHEN lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) IS NULL
             |                   OR tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) > 3600000000
             |            THEN 1 ELSE 0 END AS new_s
             |  FROM e
             |), sess AS (
             |  SELECT user_id, tsn,
             |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsn, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
             |  FROM flagged
             |), agg AS (
             |  SELECT user_id, session_seq, MIN(tsn) AS start_us,
             |    MAX(tsn) AS end_us, COUNT(*) AS n_events
             |  FROM sess GROUP BY user_id, session_seq)
             |SELECT user_id, start_us, end_us, n_events,
             |  session_seq < MAX(session_seq) OVER (PARTITION BY user_id) AS closed
             |FROM agg
             |ORDER BY user_id, start_us""".stripMargin)),

    // Streaming tumbling-window aggregation (the windowed-agg half of
    // the Structured Streaming surface; session windows are x02).
    Q("x04_tumbling_window", (s, d) => {
      val spark = s
      val stream = Tables.loadStream(s, d, "events")
      val agg = stream
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("ets"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      graft.streaming.StreamConf.runToTable(s, agg, "graft_tumbling", "complete")
      spark.table("graft_tumbling")
        .select(unix_micros(col("window.start")).as("start_us"),
          col("event_type"), col("n"))
        .orderBy("start_us", "event_type")
    },
      Some("""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS start_us,
             |  event_type, COUNT(*) AS n
             |FROM events GROUP BY 1, 2
             |ORDER BY start_us, event_type""".stripMargin)),

    // As-of join: each purchase gets the user's latest prior-or-equal
    // signup (value + timestamp). Composed union+window (one shuffle);
    // oracle = DuckDB's native ASOF LEFT JOIN.
    Q("x05_asof_join", (s, d) => {
      val e = Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), expr("ts div 1000").as("tsu"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "tsu")
      val signups = e.filter(col("event_type") === "signup")
        .groupBy("user_id", "tsu")  // unique per (key, ts)
        .agg(max("value").as("signup_value"))
      graft.ops.AsOf.joinAsOf(purchases, signups, "user_id", "tsu",
          Seq("signup_value"))
        .select(col("event_id"), col("user_id"),
          col("_asof_ts").as("signup_ts"), col("signup_value"))
        .orderBy("event_id")
    },
      Some("""WITH p AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
             |  WHERE event_type = 'purchase'),
             |s AS (
             |  SELECT user_id, epoch_us(ts) AS tsu, MAX(value) AS signup_value
             |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
             |SELECT p.event_id, p.user_id, s.tsu AS signup_ts, s.signup_value
             |FROM p ASOF LEFT JOIN s
             |  ON p.user_id = s.user_id AND p.tsu >= s.tsu
             |ORDER BY p.event_id""".stripMargin)),

    // Top-3 orders per customer through the CUSTOM physical operator
    // (graft.plans.TopKPerKey — bounded per-group buffers, no window
    // sort); oracle = the window formulation.
    Q("x07_topk_operator", (s, d) => {
      val o = Tables.load(s, d, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
      graft.plans.TopK.perKey(o, Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .orderBy("o_custkey", "o_orderkey")
    },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders)
             |WHERE rn <= 3
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // The same operator reached DECLARATIVELY: the query is the plain
    // row_number window idiom, and the TopKRewrite optimizer rule
    // (Rule[LogicalPlan], SURVEY §2e) substitutes TopKPerKeyExec —
    // plan shape asserted in TopKSpec. Engine.session installs the
    // rule.
    Q("x08_topk_rewrite", (s, d) => {
      val c = Tables.load(s, d, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      c.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).drop("rn")
        .orderBy("c_nationkey", "c_custkey")
    },
      Some("""SELECT c_custkey, c_nationkey, c_acctbal FROM (
             |  SELECT c_custkey, c_nationkey, c_acctbal,
             |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
             |      ORDER BY c_acctbal DESC, c_custkey) AS rn
             |  FROM customer)
             |WHERE rn <= 3
             |ORDER BY c_nationkey, c_custkey""".stripMargin)),

    // Video modality through the REAL codec (Multimodal.AviCodec):
    // each doc's planned MJPEG-in-AVI is rendered (memoized) and then
    // actually DECODED per row — in-repo RIFF walk + a javax.imageio
    // JPEG decode of every frame chunk — then the sampled-frame WORK
    // LIST fans out (one row per kept frame with its timestamp), the
    // explode a real pipeline feeds to a frame decoder. The decoded
    // dims/fps/duration ride along (broadcast self-join on the
    // 200-row video frame), so the oracle gates both the decode
    // outputs and the fan-out arithmetic from md5.
    Q("x11_video_frames", (s, d) => {
      val media = Multimodal.asBinary(
        Tables.load(s, d, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", "video")
      // 200 rows, consumed by frames + dims below
      val video = Materialize(Multimodal.decodeVideoAvi(media, "doc_id"))
      Multimodal.sampledFrames(video, "doc_id", 2)
        .join(broadcast(video.select("doc_id", "fps", "duration_ms",
          "width", "height", "n_total_frames")), "doc_id")
        .orderBy("doc_id", "frame_idx")
    },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5(text),1,15) AS BIGINT) AS hv
             |  FROM documents WHERE doc_id < 200),
             |v AS (
             |  SELECT doc_id,
             |    CAST(CASE hv % 4 WHEN 0 THEN 5 WHEN 1 THEN 10
             |      WHEN 2 THEN 20 ELSE 25 END AS INT) AS fps,
             |    CAST((hv // 4) % 32 + 2 AS INT) AS ntf,
             |    CAST(((hv // 128) % 8 + 2) * 8 AS INT) AS width,
             |    CAST(((hv // 1024) % 8 + 2) * 8 AS INT) AS height
             |  FROM h),
             |vt AS (
             |  SELECT doc_id, fps, ntf, width, height,
             |    CAST(ntf * 1000 // fps AS INT) AS duration_ms
             |  FROM v)
             |SELECT doc_id,
             |  CAST(f.i AS INT) AS frame_idx,
             |  CAST(f.i * 1000 // fps AS INT) AS ts_ms,
             |  fps, duration_ms, width, height,
             |  ntf AS n_total_frames
             |FROM vt, unnest(generate_series(0, ntf - 1, 2)) AS f(i)
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Stream-static join: the event stream enriched against a static
    // dimension (broadcast per micro-batch, no state store) — the
    // bread-and-butter streaming enrichment shape.
    Q("x14_stream_static_join", (s, d) => {
      val spark = s
      val stream = Tables.loadStream(s, d, "events")
      val dim = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val agg = stream
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy("c_nationkey", "event_type")
        .agg(count(lit(1)).as("n"))
      graft.streaming.StreamConf.runToTable(s, agg, "graft_stream_static", "complete")
      spark.table("graft_stream_static")
        .orderBy("c_nationkey", "event_type")
    },
      Some("""SELECT c_nationkey, event_type, COUNT(*) AS n
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY c_nationkey, event_type
             |ORDER BY c_nationkey, event_type""".stripMargin)),

    // Stream-static ANTI join — the streaming decontamination /
    // blocklist gate: arriving events are dropped when their user is
    // on a static high-volume ("bot") list, the shape a streaming
    // ingest pipeline uses to filter against a fixed eval-set or
    // blocklist fingerprint table. The static side broadcasts (it is
    // re-planned per micro-batch, so at scale keep it compact or
    // refreshed via foreachBatch); the anti join is stateless —
    // nothing accumulates, unlike the stream-stream join.
    Q("x24_stream_anti_join", (s, d) => {
      val spark = s
      val stream = Tables.loadStream(s, d, "events")
      val bots = Tables.load(s, d, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 100)
        .select(col("user_id").as("bot_id"))
      val agg = stream
        .join(broadcast(bots), col("user_id") === col("bot_id"),
          "left_anti")
        .groupBy("event_type")
        // no count(distinct): unsupported on streaming aggregations —
        // the exact id-sum checksum gates the surviving row set instead
        .agg(count(lit(1)).as("n"),
          sum("event_id").as("id_sum"))
      graft.streaming.StreamConf.runToTable(s, agg,
        "graft_stream_anti", "complete")
      spark.table("graft_stream_anti").orderBy("event_type")
    },
      Some("""WITH bots AS (
             |  SELECT user_id FROM events
             |  GROUP BY user_id HAVING COUNT(*) >= 100)
             |SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(event_id) AS BIGINT) AS id_sum
             |FROM events WHERE user_id NOT IN (SELECT user_id FROM bots)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Streaming count-min sketch: the mergeable-sketch Aggregator
    // inside a streaming aggregation — micro-batch partials combine
    // through CmsAgg.merge, so the end-state counters are IDENTICAL
    // to the batch sketch (the oracle replays the batch SQL). Per
    // event_type, estimates for users 0..19 sit next to exact counts.
    Q("x15_streaming_cms", (s, d) => {
      val D = 3; val W = 1024
      val spark = s
      val static = Tables.load(s, d, "events")
      val stream = Tables.loadStream(s, d, "events")
      val cms = udaf(new graft.ops.CmsAgg(D, W))
      val agg = stream.groupBy("event_type")
        .agg(cms(col("user_id").cast("string")).as("cs"))
      graft.streaming.StreamConf.runToTable(s, agg, "graft_stream_cms", "complete")
      val exact = static.filter(col("user_id") < 20)
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("exact_cnt"))
      exact.join(spark.table("graft_stream_cms"), "event_type")
        .withColumn("est_cnt",
          graft.ops.Cms.estimate(col("cs"), col("user_id"), D, W))
        .select("event_type", "user_id", "est_cnt", "exact_cnt")
        .orderBy("event_type", "user_id")
    }, {
      def h(e: String, i: Int) =
        s"CAST('0x' || substr(md5($e || '|s$i'),1,15) AS BIGINT)"
      val u = "CAST(user_id AS VARCHAR)"
      val uk = "CAST(ex.user_id AS VARCHAR)"
      Some(s"""WITH ex AS (
              |  SELECT event_type, user_id, COUNT(*) AS exact_cnt
              |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
              |l0 AS (SELECT event_type, ${h(u, 0)} % 1024 AS b,
              |         COUNT(*) AS c FROM events GROUP BY 1, 2),
              |l1 AS (SELECT event_type, ${h(u, 1)} % 1024 AS b,
              |         COUNT(*) AS c FROM events GROUP BY 1, 2),
              |l2 AS (SELECT event_type, ${h(u, 2)} % 1024 AS b,
              |         COUNT(*) AS c FROM events GROUP BY 1, 2)
              |SELECT ex.event_type, ex.user_id,
              |  LEAST(l0.c, l1.c, l2.c) AS est_cnt, ex.exact_cnt
              |FROM ex
              |JOIN l0 ON l0.event_type = ex.event_type
              |       AND ${h(uk, 0)} % 1024 = l0.b
              |JOIN l1 ON l1.event_type = ex.event_type
              |       AND ${h(uk, 1)} % 1024 = l1.b
              |JOIN l2 ON l2.event_type = ex.event_type
              |       AND ${h(uk, 2)} % 1024 = l2.b
              |ORDER BY ex.event_type, ex.user_id""".stripMargin)
    }),

    // Streaming SLIDING window (2h width, 1h slide): every event lands
    // in exactly two overlapping windows; the oracle materializes both
    // window starts per event and re-aggregates.
    Q("x13_sliding_window", (s, d) => {
      val spark = s
      val stream = Tables.loadStream(s, d, "events")
      val agg = stream
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("ets"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      graft.streaming.StreamConf.runToTable(s, agg, "graft_sliding", "complete")
      spark.table("graft_sliding")
        .select(unix_micros(col("window.start")).as("start_us"),
          col("event_type"), col("n"))
        .orderBy("start_us", "event_type")
    },
      Some("""WITH e AS (
             |  SELECT epoch_us(ts) AS tsu, event_type FROM events),
             |w AS (
             |  SELECT event_type, unnest([
             |    (tsu // 3600000000) * 3600000000,
             |    (tsu // 3600000000) * 3600000000 - 3600000000
             |  ]) AS start_us
             |  FROM e)
             |SELECT start_us, event_type, COUNT(*) AS n
             |FROM w GROUP BY start_us, event_type
             |ORDER BY start_us, event_type""".stripMargin)),

    // Binned range join: ship-dates joined to 90-day order windows as
    // an EQUI-join on day bins + residual containment filter (plan
    // asserted BNLJ-free in RangeJoinSpec) — the hash-join-shaped
    // interval join that survives 100 TB where the nested-loop form
    // doesn't.
    Q("x12_binned_range_join", (s, d) => {
      val day0 = lit("1992-01-01").cast("date")
      val iv = Tables.load(s, d, "orders")
        .filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), day0).as("lo_d"))
        .withColumn("hi_d", col("lo_d") + 90)
      val pts = Tables.load(s, d, "lineitem")
        .select(datediff(col("l_shipdate").cast("date"), day0).as("pd"))
      graft.ops.RangeJoin.binned(pts, iv,
          col("pd"), col("lo_d"), col("hi_d"), binWidth = 32)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_shipped"))
        .orderBy("o_orderkey")
    },
      Some("""WITH iv AS (
             |  SELECT o_orderkey,
             |    CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS INT) AS lo_d
             |  FROM orders WHERE o_orderkey < 100),
             |p AS (
             |  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1992-01-01' AS INT) AS pd
             |  FROM lineitem)
             |SELECT o_orderkey, COUNT(*) AS n_shipped
             |FROM iv JOIN p ON pd BETWEEN lo_d AND lo_d + 90
             |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),

    // Streaming exactly-once dedup: dropDuplicates over a stream keeps
    // state per fingerprint and emits each exactly once (Append). The
    // kept doc_id per fingerprint is arrival-order-dependent, so the
    // verified output is the fingerprint set itself — deterministic
    // under any batching. At scale the state is bounded with
    // dropDuplicatesWithinWatermark.
    Q("x09_streaming_dedup", (s, d) => {
      val stream = Tables.loadStream(s, d, "documents")
      graft.streaming.StreamConf.runToTable(s,
        stream.select(md5(col("text")).as("fp")).dropDuplicates("fp"),
        "graft_stream_dedup", "append")
        .orderBy("fp")
    },
      Some("SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp")),

    // Stream-stream inner join with watermarks + an event-time range
    // condition (purchases joined to the same user's signups within
    // the preceding hour) — the state-bounded join form; the emitted
    // set equals the batch join once all input is processed.
    Q("x10_stream_stream_join", (s, d) => {
      def src = Tables.loadStream(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("ets"))
      val signups = src.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
          col("ets").as("s_ts"))
        .withWatermark("s_ts", "1 hour")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ets").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      // 2, not the 4 other streams use: the join keeps TWO stores per
      // partition (one per side), so its per-partition commit cost is
      // double — halving partitions rebalances it (6.3s -> 5.7s)
      graft.streaming.StreamConf.runToTable(s,
        purchases.join(signups,
            col("p_user") === col("s_user") &&
              col("s_ts") <= col("p_ts") &&
              col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
          .select("purchase_id", "signup_id"),
        "graft_ss_join", "append", statePartitions = 2)
        .orderBy("purchase_id", "signup_id")
    },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
             |  FROM events)
             |SELECT p.event_id AS purchase_id, sg.event_id AS signup_id
             |FROM e p JOIN e sg
             |  ON p.user_id = sg.user_id
             | AND p.event_type = 'purchase' AND sg.event_type = 'signup'
             | AND sg.tsu <= p.tsu AND sg.tsu >= p.tsu - 3600000000
             |ORDER BY purchase_id, signup_id""".stripMargin)),

    // MinHash word signatures under d03's oracle, through the one
    // signature operator (the minhash_sigs kernel over the n=1
    // portable-hash arrays); the name stays for the gate. The
    // typed-Aggregator API is exercised by HllAgg (d14), CmsAgg,
    // KmvAgg and the KLL aggregators.
    Q("d13_minhash_aggregator", (s, d) =>
      graft.ops.Dedup.minhashSignatures(graft.ops.Dedup
          .ngramPortableHashArrays(Tables.load(s, d, "documents"),
            "doc_id", "text", 1), "doc_id", DedupQueries.MinhashK)
        .orderBy("doc_id"),
      Some(DedupQueries.oracles("d03_minhash_sigs"))),

    // HLL sketch via the typed Aggregator — the estimate itself is
    // oracle-verified bit-exactly (integer harmonic sum + a fixed
    // IEEE multiply/divide chain; see HllAgg scaladoc), next to the
    // exact distinct for the accuracy read.
    Q("d14_hll_sketch", (s, d) => {
      val hll = udaf(new graft.ops.HllAgg())
      // HLL registers depend only on the SET of hash values (insert
      // is a per-register max), so distinct (grp, partkey) FIRST:
      // the md5 portable hash runs once per distinct key instead of
      // once per row (6M -> ~600k at engine sf1, measured 5.6 -> ~1 s),
      // the exact count becomes a plain count over the same distinct
      // frame (no countDistinct expand), and both aggregates reuse
      // the one (grp, partkey) exchange with map-side partials.
      Tables.load(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"), col("l_partkey"))
        .distinct()
        .select(col("grp"),
          graft.ops.Text.portableHash(col("l_partkey").cast("string"))
            .as("hv"))
        .groupBy("grp")
        .agg(hll(col("hv")).as("hll_nd"),
          // count(hv), not count(*): countDistinct ignored NULL keys
          // and distinct() keeps a (grp, NULL) row, so a star-count
          // would read one high per group on data with null keys;
          // hv is null exactly when the key is null
          count(col("hv")).as("exact_nd"))
        .orderBy("grp")
    },
      Some(s"""WITH hashed AS (
              |  SELECT l_returnflag AS grp, l_partkey,
              |    CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),1,15) AS BIGINT) AS hv
              |  FROM lineitem),
              |hll AS (
              |${graft.ops.HllAgg.oracleSql()}),
              |ex AS (SELECT grp, COUNT(DISTINCT l_partkey) AS exact_nd
              |       FROM hashed GROUP BY grp)
              |SELECT grp, hll_nd, exact_nd FROM hll JOIN ex USING (grp)
              |ORDER BY grp""".stripMargin)),

    // Histogram quantile sketch: price p50/p95 per return flag from a
    // fixed-bin count vector — the mergeable approximate-quantile
    // whose answer is integer-exact on both engines (unlike
    // approx_percentile's engine-private t-digest). Prices quantized
    // to cents, $100 bins.
    Q("d15_histogram_quantiles", (s, d) => {
      val W = 10000L; val NB = 1100
      val p50 = udaf(new graft.ops.HistQuantileAgg(W, NB, 1, 2))
      val p95 = udaf(new graft.ops.HistQuantileAgg(W, NB, 19, 20))
      Tables.load(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        .groupBy("grp")
        .agg(p50(col("cents")).as("p50_cents"),
          p95(col("cents")).as("p95_cents"))
        .orderBy("grp")
    },
      Some(s"""WITH v AS (
              |  SELECT l_returnflag AS grp,
              |    LEAST(GREATEST(
              |      CAST(round(l_extendedprice * 100, 0) AS BIGINT) // 10000,
              |      0), 1099) AS b
              |  FROM lineitem),
              |bc AS (SELECT grp, b, COUNT(*) AS c FROM v GROUP BY grp, b),
              |cum AS (
              |  SELECT grp, b,
              |    SUM(c) OVER (PARTITION BY grp ORDER BY b) AS cum,
              |    SUM(c) OVER (PARTITION BY grp) AS tot
              |  FROM bc)
              |SELECT grp,
              |  ${graft.ops.HistQuantileAgg.oracleSql(10000L, 1, 2, "p50_cents")},
              |  ${graft.ops.HistQuantileAgg.oracleSql(10000L, 19, 20, "p95_cents")}
              |FROM cum GROUP BY grp ORDER BY grp""".stripMargin)),

    // KMV bottom-k distinct sketch (ops/Kmv) — the set-operation
    // estimator next to d14's HLL: bottom-k of a union is bottom-k of
    // the merged bottom-k's, so the sketch supports the INTERSECTION
    // estimate HLL cannot give (audience-overlap at 100 TB: one scan,
    // constant state per group, no distinct-set shuffle). The sketch
    // is a deterministic function of the portable hash — `ORDER BY hv
    // LIMIT k` IS the sketch in SQL — so unlike randomized sketches
    // d25 is hash-gated IN the approximation regime (k=256 << the
    // ~2000 distinct parts per flag at sf0.01).
    Q("d25_kmv_overlap", (s, d) => {
      val K = 256
      val kmv = udaf(new graft.ops.KmvAgg(K))
      val li = Tables.load(s, d, "lineitem")
        .filter(col("l_returnflag").isin("N", "R"))
      val sk = li
        .select(col("l_returnflag").as("g"),
          graft.ops.Text.portableHash(col("l_partkey").cast("string"))
            .as("hv"))
        .groupBy("g").agg(kmv(col("hv")).as("sk"))
        .groupBy()
        .agg(max(when(col("g") === "N", col("sk"))).as("sk_n"),
          max(when(col("g") === "R", col("sk"))).as("sk_r"))
        .withColumn("union_sk",
          expr(s"slice(array_sort(array_union(sk_n, sk_r)), 1, $K)"))
        .withColumn("rho", size(expr(
          "array_intersect(array_intersect(union_sk, sk_n), sk_r)"))
          .cast("bigint"))
        .withColumn("est_n", expr(graft.ops.KmvAgg.estimateSql("sk_n", K)))
        .withColumn("est_r", expr(graft.ops.KmvAgg.estimateSql("sk_r", K)))
        .withColumn("est_union",
          expr(graft.ops.KmvAgg.estimateSql("union_sk", K)))
        .withColumn("est_inter", expr(
          "CAST(rho AS DOUBLE) * est_union / CAST(size(union_sk) AS DOUBLE)"))
      val exact = li
        .groupBy("l_partkey")
        .agg(max(when(col("l_returnflag") === "N", 1).otherwise(0)).as("in_n"),
          max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("in_r"))
        .agg(sum("in_n").as("exact_n"), sum("in_r").as("exact_r"),
          sum(col("in_n") * col("in_r")).as("exact_inter"))
      sk.crossJoin(broadcast(exact))
        .select("est_n", "est_r", "est_union", "rho", "est_inter",
          "exact_n", "exact_r", "exact_inter")
    },
      Some("""WITH h AS (
             |  SELECT DISTINCT l_returnflag AS g,
             |    CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),1,15) AS BIGINT) AS hv
             |  FROM lineitem WHERE l_returnflag IN ('N','R')),
             |kn AS (SELECT hv FROM h WHERE g='N' ORDER BY hv LIMIT 256),
             |kr AS (SELECT hv FROM h WHERE g='R' ORDER BY hv LIMIT 256),
             |ku AS (
             |  SELECT hv FROM (
             |    SELECT DISTINCT hv FROM (
             |      SELECT hv FROM kn UNION ALL SELECT hv FROM kr))
             |  ORDER BY hv LIMIT 256),
             |stats AS (SELECT
             |  (SELECT COUNT(*) FROM kn) AS n_n,
             |  (SELECT MAX(hv) FROM kn) AS hk_n,
             |  (SELECT COUNT(*) FROM kr) AS n_r,
             |  (SELECT MAX(hv) FROM kr) AS hk_r,
             |  (SELECT COUNT(*) FROM ku) AS n_u,
             |  (SELECT MAX(hv) FROM ku) AS hk_u,
             |  (SELECT COUNT(*) FROM ku
             |   WHERE hv IN (SELECT hv FROM kn)
             |     AND hv IN (SELECT hv FROM kr)) AS rho),
             |ests AS (SELECT
             |  CASE WHEN n_n < 256 THEN CAST(n_n AS DOUBLE)
             |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
             |      / CAST(hk_n AS DOUBLE) END AS est_n,
             |  CASE WHEN n_r < 256 THEN CAST(n_r AS DOUBLE)
             |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
             |      / CAST(hk_r AS DOUBLE) END AS est_r,
             |  CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
             |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
             |      / CAST(hk_u AS DOUBLE) END AS est_union,
             |  CAST(rho AS BIGINT) AS rho, n_u
             |  FROM stats),
             |exact AS (
             |  SELECT
             |    CAST(SUM(in_n) AS BIGINT) AS exact_n,
             |    CAST(SUM(in_r) AS BIGINT) AS exact_r,
             |    CAST(SUM(in_n * in_r) AS BIGINT) AS exact_inter
             |  FROM (
             |    SELECT l_partkey,
             |      MAX(CASE WHEN l_returnflag='N' THEN 1 ELSE 0 END) AS in_n,
             |      MAX(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) AS in_r
             |    FROM lineitem WHERE l_returnflag IN ('N','R')
             |    GROUP BY l_partkey))
             |SELECT est_n, est_r, est_union, rho,
             |  CAST(rho AS DOUBLE) * est_union / CAST(n_u AS DOUBLE) AS est_inter,
             |  exact_n, exact_r, exact_inter
             |FROM ests, exact""".stripMargin)),

    // MRL/KLL quantile sketch via the typed Aggregator (ops/Kll):
    // level-buffered, merge-commutative, O(k log(n/k)) state — the
    // rank-based mergeable quantile next to d15's fixed-bin histogram
    // (bins need a known value range; the sketch doesn't). Run here in
    // the EXACT regime (k above the largest group, so no compaction
    // fires and the answer is the discrete rank-ceil(q*n) order
    // statistic a SQL oracle reproduces) — that hash-gates the
    // insert/merge/rank machinery end-to-end; the approximation
    // regime (k << n, the 100 TB configuration) is property-tested in
    // KllSpec because compaction order is not SQL-expressible.
    Q("d24_kll_quantiles", (s, d) => {
      // ONE sketch per group serves all three quantile reads
      // (kll_quantile over the finished buffer, evaluated once per
      // group row) — three parallel KllAgg aggregations would each
      // build, partial-merge, and SHUFFLE their own K-sized buffer
      // (3x the exchange bytes and 3x the insert path for identical
      // answers; with the non-boxing quantile read + chunked merge in
      // ops/Kll, measured 5.1 -> 1.6 s at sf1).
      val K = 1 << 19
      val sk = udaf(new graft.ops.KllSketchAgg(K))
      val q = graft.expressions.GraftFunctions.kll_quantile _
      Tables.load(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"), col("l_linestatus").as("ls"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        .groupBy("grp", "ls")
        .agg(sk(col("cents")).as("sketch"), count(lit(1)).as("n"))
        .select(col("grp"), col("ls"),
          q(col("sketch"), 1, 2).as("p50_cents"),
          q(col("sketch"), 9, 10).as("p90_cents"),
          q(col("sketch"), 99, 100).as("p99_cents"),
          col("n"))
        .orderBy("grp", "ls")
    },
      Some("""WITH v AS (
             |  SELECT l_returnflag AS grp, l_linestatus AS ls,
             |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
             |  FROM lineitem),
             |r AS (
             |  SELECT grp, ls, cents,
             |    ROW_NUMBER() OVER (PARTITION BY grp, ls ORDER BY cents) AS rn,
             |    COUNT(*) OVER (PARTITION BY grp, ls) AS n
             |  FROM v)
             |SELECT grp, ls,
             |  MAX(CASE WHEN rn = GREATEST((1 * n + 1) // 2, 1)
             |    THEN cents END) AS p50_cents,
             |  MAX(CASE WHEN rn = GREATEST((9 * n + 9) // 10, 1)
             |    THEN cents END) AS p90_cents,
             |  MAX(CASE WHEN rn = GREATEST((99 * n + 99) // 100, 1)
             |    THEN cents END) AS p99_cents,
             |  MAX(n) AS n
             |FROM r GROUP BY grp, ls ORDER BY grp, ls""".stripMargin)),

    // Streaming quantile maintenance — x18's incremental partial-
    // aggregate pattern carrying a NON-decomposable statistic: each
    // micro-batch persists its per-group KLL sketch (KllSketchAgg,
    // array<bigint>) to the state table; serving merges the partials
    // (KllMergeAgg) and reads quantiles off the merged sketch. Exact
    // under any batch slicing because batch-split merge IS the same
    // operation partial aggregation applies within a batch — so the
    // oracle is simply the rank statistic over ALL events, however
    // the stream was sliced. At 100 TB the state table holds
    // O(k log n) longs per (group, batch), compacted by re-sketching
    // old partials; quantile serving never rescans the stream.
    Q("x22_streaming_quantiles", (s, d) => {
      val K = 1 << 15  // exact regime: > max per-type rows at bench SF
      val sketch = udaf(new graft.ops.KllSketchAgg(K))
      val p50 = udaf(new graft.ops.KllMergeAgg(1, 2))
      val p95 = udaf(new graft.ops.KllMergeAgg(19, 20))
      val stream = Tables.loadStream(s, d, "events",
        Map("maxFilesPerTrigger" -> "1"))
      val tbl = "x22_partials"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), tbl)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      val ckpt = graft.streaming.StreamConf.ephemeralCheckpoint(tbl)
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch
            .select(col("event_type"),
              round(col("value") * 100, 0).cast("long").as("cents"))
            .groupBy("event_type")
            .agg(sketch(col("cents")).as("sk"), count(lit(1)).as("n"))
            .withColumn("batch_id", lit(batchId))
            .write.mode(if (batchId == 0L) "overwrite" else "append")
            .saveAsTable(tbl)
        }.start()
      try q.processAllAvailable()
      finally { q.stop(); graft.streaming.StreamConf.dropCheckpoint(ckpt) }
      s.table(tbl).dropDuplicates("batch_id", "event_type")
        .groupBy("event_type")
        .agg(p50(col("sk")).as("p50_cents"), p95(col("sk")).as("p95_cents"),
          sum("n").as("n"))
        .orderBy("event_type")
    },
      Some("""WITH v AS (
             |  SELECT event_type,
             |    CAST(round(value * 100, 0) AS BIGINT) AS cents
             |  FROM events),
             |r AS (
             |  SELECT event_type, cents,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
             |    COUNT(*) OVER (PARTITION BY event_type) AS n
             |  FROM v)
             |SELECT event_type,
             |  MAX(CASE WHEN rn = GREATEST((1 * n + 1) // 2, 1)
             |    THEN cents END) AS p50_cents,
             |  MAX(CASE WHEN rn = GREATEST((19 * n + 19) // 20, 1)
             |    THEN cents END) AS p95_cents,
             |  MAX(n) AS n
             |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Media dedup BEFORE decode: content-hash dedup on the opaque
    // binary column, so each distinct payload is decoded once and the
    // (expensive at scale) codec fan-out runs on keepers only — the
    // multimodal analog of d01. The stub payload is the text bytes,
    // so the oracle reproduces the hash as md5(text).
    Q("x17_media_dedup", (s, d) => {
      val media = graft.ops.Multimodal.asBinary(
        Tables.load(s, d, "documents"), "doc_id", "text", "image")
      media.groupBy(md5(col("content")).as("content_md5"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
          min("n_bytes").as("n_bytes"))
        .orderBy("content_md5")
    },
      Some("""SELECT md5(text) AS content_md5,
             |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
             |  MIN(octet_length(CAST(text AS BLOB))) AS n_bytes
             |FROM documents GROUP BY 1 ORDER BY content_md5""".stripMargin)),

    // Perceptual media near-dup — the fingerprint arm NEXT TO x17's
    // exact-byte arm (r14 verdict item): every video IN THE CORPUS is
    // DECODED (the same RIFF walk + per-frame javax.imageio JPEG
    // decode as x11; the r15 200-doc cap is gone — this arm is
    // data-scaled like x31, with decoded stream features — fps, dims,
    // frame count — in every token so distinct streams stay
    // distinct), its decoded frame stream becomes a token array, and
    // a 60-bit SimHash over the tokens feeds the d39 banding
    // operator — so videos whose decoded frame sequences look alike
    // pair up at hamming <= 6 even when their container bytes differ,
    // which is exactly what md5-over-bytes dedup cannot see.
    // `is_exact` joins the byte arm back on: 1 = the pair is also a
    // byte-identical duplicate (x17's class), 0 = perceptual-only.
    // Same banded plan shape as d39 (7 bands, exactly-once
    // candidates, no all-pairs join), so the 100 TB story is the
    // measured d39 one — decode-dominated and ~linear (slope rows).
    Q("x29_media_neardup", (s, d) => {
      // feeds the decode AND the md5 arm
      val media = Materialize(Multimodal.asBinary(
        Tables.load(s, d, "documents"),
        "doc_id", "text", "video")
        // spread the single-file scan for the CPU-bound decode
        // (explicit count — AQE would coalesce a tiny-bytes stage)
        .transform(Multimodal.decodeParallel(_, "doc_id")))
      val md = media.select(col("doc_id"), md5(col("content")).as("m"))
      // corpus-sized, both sides of the band join
      val fp = Materialize(Multimodal.decodeVideoFrameTokens(media, "doc_id")
        .select(col("doc_id"),
          graft.expressions.GraftFunctions.simhash_fp(col("frame_tokens"))
            .as("simhash"))) // default width = 60, the d39 scale form
      graft.ops.Dedup.simhashPairsBanded(fp, "doc_id", 6)
        .join(md.select(col("doc_id").as("id_1"), col("m").as("m1")),
          "id_1")
        .join(md.select(col("doc_id").as("id_2"), col("m").as("m2")),
          "id_2")
        .withColumn("is_exact", (col("m1") === col("m2")).cast("int"))
        .select("id_1", "id_2", "hamming", "is_exact")
        .orderBy("id_1", "id_2")
    },
      Some {
        val W = graft.expressions.GraftFunctions.SimhashDefaultBits
        val bitSums = OracleFragments.simhashBitSums(W, "word")
        val fpSum = OracleFragments.simhashFold(W)
        s"""WITH h AS (
           |  SELECT doc_id, md5(text) AS m,
           |    CAST('0x' || substr(md5(text),1,15) AS BIGINT) AS hv
           |  FROM documents),
           |v AS (
           |  SELECT doc_id, m,
           |    CAST(CASE hv % 4 WHEN 0 THEN 5 WHEN 1 THEN 10
           |      WHEN 2 THEN 20 ELSE 25 END AS INT) AS fps,
           |    CAST((hv // 4) % 32 + 2 AS INT) AS nf,
           |    CAST(((hv // 128) % 8 + 2) * 8 AS INT) AS w,
           |    CAST(((hv // 1024) % 8 + 2) * 8 AS INT) AS ht
           |  FROM h),
           |tok AS (
           |  SELECT doc_id,
           |    CAST(fps AS VARCHAR) || ':' || CAST(w AS VARCHAR) || ':' ||
           |      CAST(ht AS VARCHAR) || ':' || CAST(nf AS VARCHAR) || ':' ||
           |      CAST(f.i AS VARCHAR) AS word
           |  FROM v, unnest(generate_series(0, nf - 1)) AS f(i)),
           |bits AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id),
           |fp AS (SELECT doc_id, CAST($fpSum AS BIGINT) AS simhash FROM bits),
           |p AS (
           |  SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           |    bit_count(xor(a.simhash, b.simhash)) AS hamming
           |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6)
           |SELECT id_1, id_2, hamming,
           |  CAST(ha.m = hb.m AS INT) AS is_exact
           |FROM p JOIN h ha ON ha.doc_id = id_1
           |       JOIN h hb ON hb.doc_id = id_2
           |ORDER BY id_1, id_2""".stripMargin
      }),

    // x29's AUDIO sibling, corpus-sized: the decoded WAV's 250 ms
    // analysis-window stream (sample rate + channels from the REAL
    // AudioSystem decode, window count from the decoded duration, and
    // a per-window CONTENT digest read off the decoded PCM — lossless
    // for 16-bit WAV, so SQL-replayable, the energy/MFCC slot of a
    // real pipeline) is tokenized, 60-bit SimHashed, and banded —
    // audio near-dup pairs that byte hashing can't see, with the same
    // is_exact tie-back. The r15 200-doc cap is gone: each doc's
    // audio carries a unique tone offset in its PCM (WavCodec.tone),
    // so distinct recordings stay distinct and the corpus-sized pair
    // output sits at fingerprint-class density like x31's. One
    // perceptual construction, three modalities (x29 video, this,
    // x31 image): the operator surface a media curation pipeline
    // dedupes with.
    Q("x30_audio_neardup", (s, d) => {
      val media = Materialize(Multimodal.asBinary(
        Tables.load(s, d, "documents"),
        "doc_id", "text", "audio")
        .transform(Multimodal.decodeParallel(_, "doc_id"))) // see x29
      val md = media.select(col("doc_id"), md5(col("content")).as("m"))
      val fp = Materialize(
        Multimodal.decodeAudioWindowTokens(media, "doc_id")
          .select(col("doc_id"),
            graft.expressions.GraftFunctions.simhash_fp(col("window_tokens"))
              .as("simhash")))
      graft.ops.Dedup.simhashPairsBanded(fp, "doc_id", 6)
        .join(md.select(col("doc_id").as("id_1"), col("m").as("m1")),
          "id_1")
        .join(md.select(col("doc_id").as("id_2"), col("m").as("m2")),
          "id_2")
        .withColumn("is_exact", (col("m1") === col("m2")).cast("int"))
        .select("id_1", "id_2", "hamming", "is_exact")
        .orderBy("id_1", "id_2")
    },
      Some {
        val W = graft.expressions.GraftFunctions.SimhashDefaultBits
        val bitSums = OracleFragments.simhashBitSums(W, "word")
        val fpSum = OracleFragments.simhashFold(W)
        s"""WITH h AS (
           |  SELECT doc_id, md5(text) AS m,
           |    CAST('0x' || substr(md5(text),1,15) AS BIGINT) AS hv
           |  FROM documents),
           |v AS (
           |  SELECT doc_id, m,
           |    CAST(8000 * (hv % 6 + 1) AS INT) AS sr,
           |    CAST(hv % 2 + 1 AS INT) AS ch,
           |    CAST(hv % 8 + 1 AS INT) AS nw,
           |    CAST((hv // 1024) % 256 AS INT) AS tone
           |  FROM h),
           |tok AS (
           |  SELECT doc_id,
           |    CAST(sr AS VARCHAR) || ':' || CAST(ch AS VARCHAR) || ':' ||
           |      CAST(nw AS VARCHAR) || ':' || CAST(f.i AS VARCHAR) || ':' ||
           |      CAST((f.i * ((sr // 4) * ch * 2) * 13 + 5 + tone) % 256
           |        AS VARCHAR) AS word
           |  FROM v, unnest(generate_series(0, nw - 1)) AS f(i)),
           |bits AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id),
           |fp AS (SELECT doc_id, CAST($fpSum AS BIGINT) AS simhash FROM bits),
           |p AS (
           |  SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           |    bit_count(xor(a.simhash, b.simhash)) AS hamming
           |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6)
           |SELECT id_1, id_2, hamming,
           |  CAST(ha.m = hb.m AS INT) AS is_exact
           |FROM p JOIN h ha ON ha.doc_id = id_1
           |       JOIN h hb ON hb.doc_id = id_2
           |ORDER BY id_1, id_2""".stripMargin
      }),

    // x29's IMAGE sibling over the WHOLE corpus: the decoded PNG's
    // 16x16 tile grid (dims + raster bands from the REAL ImageIO
    // decode) is tokenized per tile — the walk a per-tile pHash
    // pipeline does — 60-bit SimHashed, and banded. Corpus-sized
    // (not capped like the video/audio arms), so this is also the
    // arm with a data-scaled slope row.
    Q("x31_image_neardup", (s, d) => {
      val media = Materialize(Multimodal.asBinary(
        Tables.load(s, d, "documents"), "doc_id", "text", "image")
        .transform(Multimodal.decodeParallel(_, "doc_id"))) // see x29
      val md = media.select(col("doc_id"), md5(col("content")).as("m"))
      val fp = Materialize(Multimodal.decodeImageTileTokens(media, "doc_id")
        .select(col("doc_id"),
          graft.expressions.GraftFunctions.simhash_fp(col("tile_tokens"))
            .as("simhash")))
      graft.ops.Dedup.simhashPairsBanded(fp, "doc_id", 6)
        .join(md.select(col("doc_id").as("id_1"), col("m").as("m1")),
          "id_1")
        .join(md.select(col("doc_id").as("id_2"), col("m").as("m2")),
          "id_2")
        .withColumn("is_exact", (col("m1") === col("m2")).cast("int"))
        .select("id_1", "id_2", "hamming", "is_exact")
        .orderBy("id_1", "id_2")
    },
      Some {
        val W = graft.expressions.GraftFunctions.SimhashDefaultBits
        val bitSums = OracleFragments.simhashBitSums(W, "word")
        val fpSum = OracleFragments.simhashFold(W)
        s"""WITH h AS (
           |  SELECT doc_id, md5(text) AS m,
           |    CAST('0x' || substr(md5(text),1,15) AS BIGINT) AS hv
           |  FROM documents),
           |v AS (
           |  SELECT doc_id, m,
           |    CAST(hv % 64 + 16 AS INT) AS w,
           |    CAST((hv // 64) % 64 + 16 AS INT) AS ht,
           |    CAST(CASE hv % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
           |      AS INT) AS b
           |  FROM h),
           |vt AS (
           |  SELECT doc_id, m, w, ht, b,
           |    ((w + 15) // 16) * ((ht + 15) // 16) AS tiles
           |  FROM v),
           |tok AS (
           |  SELECT doc_id,
           |    CAST(w AS VARCHAR) || ':' || CAST(ht AS VARCHAR) || ':' ||
           |      CAST(b AS VARCHAR) || ':' || CAST(f.i AS VARCHAR) AS word
           |  FROM vt, unnest(generate_series(0, tiles - 1)) AS f(i)),
           |bits AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id),
           |fp AS (SELECT doc_id, CAST($fpSum AS BIGINT) AS simhash FROM bits),
           |p AS (
           |  SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           |    bit_count(xor(a.simhash, b.simhash)) AS hamming
           |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6)
           |SELECT id_1, id_2, hamming,
           |  CAST(ha.m = hb.m AS INT) AS is_exact
           |FROM p JOIN h ha ON ha.doc_id = id_1
           |       JOIN h hb ON hb.doc_id = id_2
           |ORDER BY id_1, id_2""".stripMargin
      }),

    // Streaming incremental-aggregate maintenance (o55's streaming
    // form): foreachBatch APPENDS each micro-batch's PARTIAL aggregate
    // (count + exact integer checksum) to a warehouse state table; the
    // served state is the aggregate over the partials (merge-on-read).
    // No driver-side state anywhere — partials live in the catalog
    // table and merge exactly under any batch slicing, so the final
    // state equals the batch recompute (the oracle). At scale the
    // append target is the same pattern's Delta/Iceberg table, with a
    // periodic compaction replacing the on-read merge.
    Q("x18_stream_incremental", (s, d) => {
      val stream = Tables.loadStream(s, d, "events",
        Map("maxFilesPerTrigger" -> "1"))
      val tbl = "x18_partials"
      // reset state from any prior run: drop the catalog entry AND the
      // managed-table location (a previous JVM's directory survives
      // the in-memory catalog and would fail LOCATION_ALREADY_EXISTS)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), tbl)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      // batch_id rides along so a replayed batch (foreachBatch is
      // at-least-once on checkpoint recovery) can't double-count: the
      // read side dedupes on (batch_id, event_type) first — replayed
      // partials are byte-identical, so keeping one copy is exact.
      val ckpt = graft.streaming.StreamConf.ephemeralCheckpoint(tbl)
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
        (batch: DataFrame, batchId: Long) =>
          batch.groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
            .withColumn("batch_id", lit(batchId))
            .write.mode(if (batchId == 0L) "overwrite" else "append")
            .saveAsTable(tbl)
      }.start()
      try q.processAllAvailable()
      finally { q.stop(); graft.streaming.StreamConf.dropCheckpoint(ckpt) }
      s.table(tbl).dropDuplicates("batch_id", "event_type")
        .groupBy("event_type")
        .agg(sum("n").as("n"), sum("id_sum").as("id_sum"))
        .orderBy("event_type")
    },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(event_id) AS BIGINT) AS id_sum
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // Streaming sequence packing: the continuously-ingesting
    // pretraining writer — per-shard running token offsets carried as
    // ONE long of state per shard (bounded forever), placements
    // emitted append-only and never revised. Same parameters and
    // oracle as batch a17; batch-slicing equivalence asserted in
    // StreamingSpec. See streaming/StreamingPack.
    Q("x23_stream_pack", (s, d) =>
      graft.streaming.StreamingPack.pack(s, d),
      Some(CurationQueries.oracles("a17_sequence_pack"))),

    // Append-mode windowed aggregation under a watermark: only
    // FINALIZED windows — whose end is at or below the final
    // watermark (max event time - delay) — are ever emitted. This is
    // the late-data-safety contract of a production streaming agg
    // (results are immutable once emitted; data later than the
    // watermark can no longer change them), vs x04's complete-mode
    // which re-emits everything. The oracle replays the finalization
    // rule relationally: hourly counts kept only for windows closed
    // by the watermark.
    Q("x19_window_finalize", (s, d) => {
      val spark = s
      val stream = Tables.loadStream(s, d, "events")
      val agg = stream
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ets", "30 minutes")
        .groupBy(window(col("ets"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      graft.streaming.StreamConf.runToTable(s, agg, "graft_window_final", "append")
      spark.table("graft_window_final")
        .select(unix_micros(col("window.start")).as("start_us"),
          col("event_type"), col("n"))
        .orderBy("start_us", "event_type")
    },
      Some("""WITH ev AS (SELECT epoch_us(ts) AS us, event_type FROM events),
             |-- Spark tracks event-time watermarks in MILLISECONDS:
             |-- truncate the max event time to ms before subtracting
             |-- the delay, or a sub-ms component could finalize a
             |-- boundary window here that Spark keeps open.
             |wm AS (SELECT (MAX(us) // 1000) * 1000 - 1800000000 AS wm_us
             |       FROM ev)
             |SELECT (us // 3600000000) * 3600000000 AS start_us,
             |  event_type, COUNT(*) AS n
             |FROM ev
             |GROUP BY 1, 2
             |HAVING start_us + 3600000000 <= (SELECT wm_us FROM wm)
             |ORDER BY start_us, event_type""".stripMargin)),

    // Native session_window (gap = 30 min) — Catalyst's built-in
    // sessionization operator, the compose-existing-ops counterpart to
    // the hand-built lag/cumsum kernel (ops/Sessionize, s02): one
    // groupBy, no window-function pass, same one-exchange plan. The
    // oracle replays gap semantics relationally; window.end is
    // last-event-time + gap by definition.
    Q("x20_native_session_window", (s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("ets"))
      ev.groupBy(col("user_id"), session_window(col("ets"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n"))
        .orderBy("user_id", "start_us")
    },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
             |o AS (
             |  SELECT user_id, us,
             |    CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us)
             |              IS NULL
             |         OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
             |              > 1800000000
             |      THEN 1 ELSE 0 END AS brk
             |  FROM e),
             |s AS (
             |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o)
             |SELECT user_id, MIN(us) AS start_us,
             |  MAX(us) + 1800000000 AS end_us, COUNT(*) AS n
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, start_us""".stripMargin)),

    // Streaming near-dup candidate detection: per-document minhash
    // banding computed STATELESSLY (signature = array_min over salted
    // hashes of the doc's word set — array expressions, no per-doc
    // aggregation, so Spark's one-streaming-aggregation limit is
    // spent on the band rollup), then one streaming groupBy on the
    // band key. Bands holding >= 2 docs are near-dup candidate
    // groups, keeper = min doc_id — min/count are order-free, so the
    // result is deterministic under any micro-batch slicing. Same
    // banded-LSH shape as the batch d04 pipeline; at scale the
    // complete-mode rollup becomes append + watermark on arrival
    // time, with state bounded by distinct band keys in the horizon.
    Q("x21_streaming_neardup", (s, d) => {
      val spark = s
      val stream = Tables.loadStream(s, d, "documents")
      val K = 8; val RowsPerBand = 2
      val words = array_distinct(filter(split(col("text"), " "),
        w => length(w) > 0))
      // all K salted minima in one memoized kernel pass per doc
      // (salted_minhash_sigs) — value-identical to the composed
      // transform/array_min columns the oracle replays, without 8
      // salted md5s per word INSTANCE (the memo collapses them to
      // one bundle per distinct word per thread)
      val sigs = (0 until K).map(i =>
        element_at(col("__sigs"), i + 1).as(s"sig_$i"))
      val bands = (0 until K / RowsPerBand).map { b =>
        val cols = (0 until RowsPerBand)
          .map(r => col(s"sig_${b * RowsPerBand + r}").cast("string"))
        struct(lit(b).as("band_id"),
          md5(concat_ws("#", cols: _*)).as("band_hash"))
      }
      val banded = stream
        .select(col("doc_id"), words.as("__w"))
        .filter(size(col("__w")) > 0)
        .select(col("doc_id"), graft.expressions.GraftFunctions
          .salted_minhash_sigs(col("__w"), K).as("__sigs"))
        .select(col("doc_id") +: sigs: _*)
        .select(col("doc_id"), explode(array(bands: _*)).as("b"))
        .select(col("doc_id"), col("b.band_id"), col("b.band_hash"))
      val agg = banded.groupBy("band_id", "band_hash")
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs"))
      graft.streaming.StreamConf.runToTable(s, agg, "graft_stream_neardup", "complete")
      spark.table("graft_stream_neardup")
        .filter(col("n_docs") >= 2)
        .orderBy("band_id", "band_hash")
    }, {
      val sigCols = (0 until 8).map(i =>
        s"MIN(CAST('0x' || substr(md5(sh || '|s$i'),1,15) AS BIGINT)) AS sig_$i")
        .mkString(",\n    ")
      val bandSelects = (0 until 4).map { b =>
        val a = s"sig_${2 * b}"; val c = s"sig_${2 * b + 1}"
        s"""SELECT doc_id, $b AS band_id,
           |  md5(CAST($a AS VARCHAR) || '#' || CAST($c AS VARCHAR)) AS band_hash
           |FROM sigs""".stripMargin
      }.mkString("\nUNION ALL\n")
      Some(s"""WITH w AS (
              |  SELECT DISTINCT doc_id,
              |    unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS sh
              |  FROM documents),
              |sigs AS (
              |  SELECT doc_id,
              |    $sigCols
              |  FROM w GROUP BY doc_id),
              |bands AS (
              |$bandSelects
              |)
              |SELECT band_id, band_hash, MIN(doc_id) AS keeper_id,
              |  COUNT(*) AS n_docs
              |FROM bands GROUP BY band_id, band_hash
              |HAVING COUNT(*) >= 2
              |ORDER BY band_id, band_hash""".stripMargin)
    }),

    // x25: streaming vector-index ingest — the continuously-fed IVF
    // store. Each arriving embedding gets its inverted-list cell
    // STATELESSLY: the k centroids are driver-collected (k-bounded,
    // the o29 scalar-splice discipline; a production pipeline
    // broadcasts its trained k-means centroids the same way) and
    // compiled into ONE codegen'd argmax-cosine expression, so ingest
    // is a narrow map — no state store, no shuffle, no window; the
    // ONLY exchange is the cell-keyed summary aggregate at read.
    // Same centroids and tie-break as batch d10, so an index built by
    // this stream is interchangeable with the batch one; the oracle
    // replays the batch assignment.
    Q("x25_stream_ivf_ingest", (s, d) => {
      val cents = Tables.load(s, d, "embeddings")
        .filter(col("vec_id").isin(0, 101, 202, 303))
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1)
      val stream = Tables.loadStream(s, d, "embeddings")
      // argmax cosine with cid-asc tiebreak == least over
      // (-cos, cid) structs — d10's ranking, windowless (append
      // streams cannot use window functions)
      val best = least(cents.map { case (cid, v) =>
        struct(
          (-graft.ops.Similarity.cosine(col("embedding"),
            typedlit(v))).as("nc"),
          lit(cid).as("cid"))
      }: _*).getField("cid")
      val assigned = stream.select(col("vec_id"), best.as("cid"))
      graft.streaming.StreamConf
        .runToTable(s, assigned, "graft_stream_ivf", "append")
        .groupBy("cid")
        .agg(count(lit(1)).as("n_vectors"),
          sum("vec_id").as("id_sum"))
        .orderBy("cid")
    },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
              |cents AS (SELECT vec_id AS cid, embedding FROM embeddings
              |          WHERE vec_id IN (0, 101, 202, 303)),
              |scored_c AS (
              |  SELECT e.vec_id, c.cid,
              |    ${DedupQueries.cosSql("e", "c")} AS ccos
              |  FROM e, cents c),
              |asg AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY ccos DESC, cid) AS arn FROM scored_c)
              |  WHERE arn = 1)
              |SELECT cid, COUNT(*) AS n_vectors,
              |  CAST(SUM(vec_id) AS BIGINT) AS id_sum
              |FROM asg GROUP BY cid ORDER BY cid""".stripMargin)),

    // X26: streaming winnowed-fingerprint ingest — d34's arbitrary-
    // offset dedup signal (Schleimer et al., SIGMOD 2003) as an
    // ingest-time stream stage. Fingerprint EXTRACTION is stateless
    // and narrow (one winnow_keys kernel call per arriving doc — no
    // state store, no shuffle inside the stream, the x25 discipline),
    // which is the production shape: extract at ingest into the
    // fingerprint store, match offline in batch. The post-drain match
    // is d34's exact machinery, so the result — and the oracle — are
    // identical to d34's: the stream path is proven result-equivalent
    // to the batch path on the same corpus.
    Q("x26_stream_winnow", (s, d) => {
      import graft.expressions.GraftFunctions.winnow_keys
      val K = 5; val W = 8
      val stream = Tables.loadStream(s, d, "documents")
        .select(col("doc_id"), filter(split(col("text"), " "),
          x => length(x) > 0).as("__w"))
        .filter(size(col("__w")) >= K)
        .select(col("doc_id"),
          explode(winnow_keys(col("__w"), K, W)).as("selkey"))
        .select(col("doc_id"), substring(col("selkey"), 1, 32).as("fp"))
      // materialized: holds the drained sink for its two consumers
      // AND gives the self-join fresh attribute ids (a MemoryPlan
      // view reused on both sides of a join fails resolution)
      val sel = Materialize(graft.streaming.StreamConf
        .runToTable(s, stream, "graft_stream_winnow", "append"))
      val dup = sel.groupBy("fp")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("fp")
        .withColumn("isdup", lit(1))
      sel.join(broadcast(dup), Seq("fp"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sel"),
          sum(when(col("isdup").isNotNull, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_sel"), col("n_dup"),
          expr("n_dup * 1000000 div n_sel").as("dup_ppm"))
        .orderBy("doc_id")
    },
      Some("""WITH w0 AS (
             |  SELECT doc_id,
             |    generate_subscripts(string_split(text,' '),1) AS pos0,
             |    unnest(string_split(text,' ')) AS word
             |  FROM documents),
             |w AS (
             |  SELECT doc_id,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY pos0) - 1
             |      AS pos, word
             |  FROM w0 WHERE len(word) > 0),
             |sh AS (
             |  SELECT doc_id, pos,
             |    md5(string_agg(word, ' ') OVER (PARTITION BY doc_id
             |      ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING))
             |      AS fp,
             |    COUNT(*) OVER (PARTITION BY doc_id) AS nw
             |  FROM w),
             |kkt AS (
             |  SELECT doc_id, pos,
             |    fp || lpad(CAST(pos AS VARCHAR), 8, '0') AS kk
             |  FROM sh WHERE pos <= nw - 5),
             |mins AS (
             |  SELECT doc_id, pos,
             |    min(kk) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mk,
             |    GREATEST(MAX(pos) OVER (PARTITION BY doc_id) - 7, 0)
             |      AS tmax
             |  FROM kkt),
             |sel AS (
             |  SELECT DISTINCT doc_id, mk FROM mins WHERE pos <= tmax),
             |sf AS (SELECT doc_id, substr(mk, 1, 32) AS fp FROM sel),
             |dupf AS (
             |  SELECT fp FROM sf GROUP BY fp
             |  HAVING COUNT(DISTINCT doc_id) >= 2)
             |SELECT sf.doc_id, COUNT(*) AS n_sel,
             |  CAST(SUM(CASE WHEN dupf.fp IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dup,
             |  CAST((SUM(CASE WHEN dupf.fp IS NOT NULL THEN 1 ELSE 0 END)
             |    * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm
             |FROM sf LEFT JOIN dupf ON sf.fp = dupf.fp
             |GROUP BY sf.doc_id ORDER BY sf.doc_id""".stripMargin)),

    // X27: streaming ingest CURATION GATE — a24's front door run
    // statelessly at ingest: arriving docs pass a length band and a
    // content-fingerprint DECONTAMINATION check against the broadcast
    // eval-set blocklist (exact-dup membership, so eval docs
    // themselves self-drop on arrival), then roll up into the
    // per-source manifest. No state store, no watermark, no in-stream
    // shuffle before the final aggregate: every gate is a narrow
    // projection or a broadcast anti-join, which is exactly what lets
    // this front the firehose at any rate — the expensive near-dup /
    // allocation machinery (d04/a24) runs downstream on the survivors
    // (x25/x26's extract-at-ingest, resolve-offline discipline). The
    // checksum is sum(portable_hash % 1e9) over surviving docs, so
    // the gate pins the exact surviving SET, not just its size.
    Q("x27_stream_ingest_gate", (s, d) => {
      val spark = s
      val evalFps = Tables.load(s, d, "documents")
        .filter(col("doc_id") % 100 === 0)
        .select(graft.ops.Text.fingerprint(col("text")).as("bfp"))
        .distinct()
      val stream = Tables.loadStream(s, d, "documents")
        .withColumn("dl",
          expr("size(filter(split(text, ' '), w -> w != ''))").cast("long"))
        .filter(col("dl").between(20, 2000))
        .withColumn("fp", graft.ops.Text.fingerprint(col("text")))
        .join(broadcast(evalFps), col("fp") === col("bfp"), "left_anti")
      val agg = stream.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("n_tokens"),
          sum(pmod(graft.ops.Text.portableHash(col("fp")),
            lit(1000000000L))).as("fp_checksum"))
      graft.streaming.StreamConf.runToTable(s, agg,
        "graft_stream_gate", "complete")
      spark.table("graft_stream_gate").orderBy("source")
    },
      Some("""WITH ev AS (
             |  SELECT DISTINCT md5(trim(regexp_replace(lower(text),
             |    ' +', ' ', 'g'))) AS bfp
             |  FROM documents WHERE doc_id % 100 = 0),
             |g AS (
             |  SELECT source,
             |    len(list_filter(string_split(text, ' '),
             |        w -> len(w) > 0)) AS dl,
             |    md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
             |  FROM documents),
             |kept AS (
             |  SELECT source, dl,
             |    CAST('0x' || substr(md5(fp), 1, 15) AS BIGINT)
             |      % 1000000000 AS h
             |  FROM g
             |  WHERE dl BETWEEN 20 AND 2000
             |    AND fp NOT IN (SELECT bfp FROM ev))
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(dl) AS BIGINT) AS n_tokens,
             |  CAST(SUM(h) AS BIGINT) AS fp_checksum
             |FROM kept GROUP BY source ORDER BY source""".stripMargin)),

    // X28: streaming SOURCE-DRIFT gate — a27's corpus-ops monitor at
    // the ingest firehose: each arriving doc maps narrowly to its
    // length band, the stream maintains only the (source x band)-
    // bounded count table (no per-doc state, no in-stream shuffle
    // beyond the bounded aggregate), and the post-drain finishing
    // rollup scores each source's histogram against the STATIC
    // corpus reference shares with a27's exact-integer chi-square
    // statistic. Result-equivalent to batch a27 (same oracle) — the
    // x26/d34 extract-at-ingest, match-offline discipline: at a real
    // firehose the reference shares come from yesterday's corpus and
    // the gate flags a drifting source BEFORE it enters the mixture.
    Q("x28_stream_drift", (s, d) => {
      val spark = s
      val stream = Tables.loadStream(s, d, "documents")
        .withColumn("band",
          least(expr("size(filter(split(text, ' '), w -> w != '')) div 100"),
            lit(9L)))
      val agg = stream.groupBy("source", "band")
        .agg(count(lit(1)).as("n_sb"))
      graft.streaming.StreamConf.runToTable(s, agg,
        "graft_stream_drift", "complete")
      // Pin the drained MemorySink before multi-consumer use: Spark's
      // DeduplicateRelations cannot re-instance a MemoryPlan, so the
      // self-joins below hit INTERNAL_ERROR (conflicting attributes)
      // without this — same pattern as x26 and batch a27.
      val b = Materialize(spark.table("graft_stream_drift"))
      val corp = b.groupBy("band").agg(sum("n_sb").as("n_b"))
        .crossJoin(broadcast(b.agg(sum("n_sb").as("n"))))
        .select(col("band"), expr("(n_b * 1000000) div n").as("exp_ppm"))
      val src = b.groupBy("source").agg(sum("n_sb").as("n_s"))
      b.join(src, "source")
        .withColumn("obs_ppm", expr("(n_sb * 1000000) div n_s"))
        .join(broadcast(corp), "band")
        .groupBy("source")
        .agg(max("n_s").as("n_docs"),
          sum(expr("((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) * 1000)" +
            " div greatest(exp_ppm, 1)")).as("drift_ppb"))
        .select(col("source"), col("n_docs"), col("drift_ppb"))
        .orderBy("source")
    },
      Some("""WITH b AS (
             |  SELECT source,
             |    LEAST(len(list_filter(string_split(text, ' '),
             |      w -> len(w) > 0)) // 100, 9) AS band,
             |    COUNT(*) AS n_sb
             |  FROM documents GROUP BY 1, 2),
             |corp AS (
             |  SELECT band,
             |    (SUM(n_sb) * 1000000) // (SELECT SUM(n_sb) FROM b) AS exp_ppm
             |  FROM b GROUP BY band),
             |src AS (SELECT source, SUM(n_sb) AS n_s FROM b GROUP BY source)
             |SELECT b.source, CAST(MAX(n_s) AS BIGINT) AS n_docs,
             |  CAST(SUM(
             |    (((n_sb * 1000000) // n_s - exp_ppm)
             |     * ((n_sb * 1000000) // n_s - exp_ppm) * 1000)
             |    // GREATEST(exp_ppm, 1)) AS BIGINT) AS drift_ppb
             |FROM b JOIN src ON b.source = src.source
             |JOIN corp ON b.band = corp.band
             |GROUP BY b.source ORDER BY b.source""".stripMargin))
  )
}
