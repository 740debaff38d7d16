package graft.queries

import graft.Tables
import graft.ops.{Exact, Materialize, Sessionize, Text}
import graft.ops.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-oracle instantiations of the BDB query shapes that were
  * previously verified only by sbt-side goldens (VERDICT r7 missing
  * item #2): q01–q05, q08–q13, q15, q19, q20, q27, q28, q30,
  * re-expressed on the driver testdata star schema so every BDB
  * query's distinctive shape gets a hard DuckDB gate.
  *
  * The `events` table stands in for web_clickstreams: `props`
  * carries the item key as `{"k": N}` (N in 0..99), extracted with
  * `regexp_extract` so the oracle needs no JSON extension.
  *
  * Per-query reference anchors are cited on each entry; constants
  * (3600 s session timeout, 259200 s review window, 864000 s
  * lookback, 90-day rebuy window) mirror `bdb_tools/q0*_utils.py`.
  */
object BdbShapes2 extends Suite {

  private val TimeoutNs = 3600L * 1000000L
  private val ReviewWindowNs = 259200L * 1000000L
  private val LookbackNs = 864000L * 1000000L
  private val RebuyWindowNs = 90L * 86400L * 1000000L

  /** Stand-in sentiment lexicon — same tiny word lists as
    * TextQueries (the TPC kit's sentiment files are not
    * redistributable; ref q10_dask_sql.py:94-104). */
  private val PosWords = Seq("fast", "big", "value")
  private val NegWords = Seq("slow", "small", "error")
  private val LexValues =
    (PosWords.map(w => s"('$w','POS')") ++ NegWords.map(w => s"('$w','NEG')"))
      .mkString(", ")

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** events with exact micro timestamps + the item key from props. */
  private def ev(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), expr("ts div 1000").as("tsn"),
      regexp_extract(col("props"), "([0-9]+)", 1).cast("int").as("item"))

  /** Shared DuckDB CTE: events + item key + timeout session ids
    * (mirror of Sessions.OracleBase with the item column added). */
  private val OracleBaseItem =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsn,
      |    CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS item
      |  FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) IS NULL
      |                   OR tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) > 3600000000
      |            THEN 1 ELSE 0 END AS new_s
      |  FROM e
      |), sess AS (
      |  SELECT event_id, user_id, event_type, value, tsn, item,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsn, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged
      |)
      |""".stripMargin

  val qs: Seq[Q] = Seq(

    // q01: items frequently sold together in the same basket within a
    // category slice, support >= 2, top-100
    // (ref: queries/q01/gpu_bdb_query_01_dask_sql.py:36-90). Same
    // one-shuffle collect_set + ArrayPairs form as b29/o13: the
    // groupBy(l_orderkey) is the only exchange; the pair expansion is
    // per-row compute, never an all-pairs self-join.
    Q("b01_item_pairs", (s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .filter(col("p_size") <= 25)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("_items"))
        .select(graft.expressions.ArrayPairs.array_pairs(col("_items"))
          .as(Seq("item_1", "item_2")))
        .groupBy("item_1", "item_2").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .orderBy(desc("cnt"), col("item_1"), col("item_2"))
        .limit(100),
      Some("""WITH b AS (
             |  SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE p_size <= 25)
             |SELECT x.l_partkey AS item_1, y.l_partkey AS item_2, COUNT(*) AS cnt
             |FROM b x JOIN b y
             |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             |GROUP BY 1, 2 HAVING COUNT(*) >= 2
             |ORDER BY cnt DESC, item_1, item_2 LIMIT 100""".stripMargin)),

    // q02: top items co-viewed in the same session as a target item
    // (ref: queries/q02/gpu_bdb_query_02_dask_sql.py:44-81, target
    // item_sk; item 42 here). ONE pass: collect the distinct item set
    // per session (the aggregation rides the sessionizer's user
    // partitioning — hash(user) satisfies the (user, session)
    // clustering, so no second exchange), keep sessions containing
    // the target, explode the rest. The join formulation re-ran the
    // whole sessionize pipeline on the target side (filter pushdown
    // splits the subtrees, so exchange reuse never kicks in) — two
    // clickstream scans at 100 TB.
    Q("b02_session_coview", (s, d) => {
      val sess = Sessionize.byTimeout(ev(s, d), "user_id", "tsn",
        "event_id", TimeoutNs)
      sess.groupBy("user_id", "session_seq")
        .agg(collect_set(col("item")).as("_items"))
        .filter(array_contains(col("_items"), 42))
        .select(explode(col("_items")).as("item"))
        .filter(col("item") =!= 42)
        .groupBy("item").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("item")).limit(30)
    },
      Some(OracleBaseItem +
        """, su AS (SELECT DISTINCT user_id, session_seq, item FROM sess),
          |tgt AS (SELECT DISTINCT user_id, session_seq FROM su WHERE item = 42)
          |SELECT item, COUNT(*) AS cnt
          |FROM su JOIN tgt USING (user_id, session_seq)
          |WHERE item <> 42
          |GROUP BY item ORDER BY cnt DESC, item LIMIT 30""".stripMargin)),

    // q03: items viewed in the last 5 events within the lookback
    // window before each purchase, counted per viewed item
    // (ref: bdb_tools/q03_utils.py:24-111 — the CUDA lookback kernel
    // is five lag() columns in one window pass here).
    Q("b03_prior_views", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("tsn", "event_id")
      val priors = (1 to 5).map { i =>
        when(lag(col("event_type"), i).over(w) === "view" &&
          col("tsn") - lag(col("tsn"), i).over(w) <= LookbackNs,
          lag(col("item"), i).over(w))
      }
      ev(s, d)
        .withColumn("_prior", array(priors: _*))
        .filter(col("event_type") === "purchase")
        .select(explode(col("_prior")).as("item"))
        .filter(col("item").isNotNull)
        .groupBy("item").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("item")).limit(30)
    },
      Some {
        val terms = (1 to 5).map { i =>
          s"""CASE WHEN lag(event_type,$i) OVER (PARTITION BY user_id ORDER BY tsn, event_id) = 'view'
             |  AND tsn - lag(tsn,$i) OVER (PARTITION BY user_id ORDER BY tsn, event_id) <= 864000000000
             |THEN lag(item,$i) OVER (PARTITION BY user_id ORDER BY tsn, event_id) END AS v_$i""".stripMargin
        }.mkString(",\n")
        val unions = (1 to 5).map(i =>
          s"SELECT v_$i AS item FROM lb WHERE event_type = 'purchase'")
          .mkString("\nUNION ALL ")
        s"""WITH e AS (
           |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsn,
           |    CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS item
           |  FROM events),
           |lb AS (
           |  SELECT event_type,
           |$terms
           |  FROM e),
           |u AS (
           |$unions)
           |SELECT item, COUNT(*) AS cnt FROM u WHERE item IS NOT NULL
           |GROUP BY item ORDER BY cnt DESC, item LIMIT 30""".stripMargin
      }),

    // q04: shopping-cart abandonment — sessions whose LAST event is a
    // 'click' and that contain no purchase; count + average session
    // size in exact ppm (ref: bdb_tools/q04_utils.py:52-101).
    Q("b04_abandonment", (s, d) => {
      // ONE session aggregation: the last event rides along as
      // max_by over the (tsn, event_id) total order instead of a
      // row_number pass joined back (which re-ran the whole
      // sessionize pipeline on the second consumer — two clickstream
      // scans). The aggregation reuses the sessionizer's hash(user)
      // partitioning, so sessionize's exchange is the only shuffle.
      Sessionize.byTimeout(ev(s, d), "user_id", "tsn",
          "event_id", TimeoutNs)
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("has_purchase"),
          max_by(col("event_type"), struct(col("tsn"), col("event_id")))
            .as("last_type"))
        .filter(col("last_type") === "click" && col("has_purchase") === 0)
        .agg(count(lit(1)).as("n_abandoned"),
          expr("(sum(n_events) * 1000000) div count(1)").as("avg_events_ppm"))
    },
      Some(OracleBaseItem +
        """, s2 AS (
          |  SELECT user_id, session_seq, COUNT(*) AS n_events,
          |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
          |  FROM sess GROUP BY 1, 2),
          |last AS (
          |  SELECT user_id, session_seq, event_type,
          |    ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
          |      ORDER BY tsn DESC, event_id DESC) AS rn
          |  FROM sess),
          |ab AS (
          |  SELECT s2.* FROM s2 JOIN last
          |    ON s2.user_id = last.user_id AND s2.session_seq = last.session_seq
          |  WHERE last.rn = 1 AND last.event_type = 'click' AND s2.has_purchase = 0)
          |SELECT COUNT(*) AS n_abandoned,
          |  (CAST(SUM(n_events) AS BIGINT) * 1000000) // COUNT(*) AS avg_events_ppm
          |FROM ab""".stripMargin)),

    // q05: click-behavior -> purchase-interest classifier. The m03
    // discipline: closed-form least-squares fit on the mod-10 train
    // split from exact sums, 0.5-threshold confusion on the held-out
    // split (the iterated logistic fit lives in
    // MlPipelines.logregMllib; ref: bdb_tools/q05_utils.py:75-120).
    Q("b05_click_clf", (s, d) => {
      // materialize the per-user feature table once — train stats and
      // held-out scoring both consume it, and without materializing
      // each branch re-runs the clickstream aggregation (the same
      // feature-table materialization the reference does before its
      // fit, q05_utils.py)
      val f = Materialize(ev(s, d).groupBy("user_id").agg(
        sum(when(col("event_type") === "click", 1).otherwise(0))
          .cast("bigint").as("x"),
        when(sum(when(col("event_type") === "purchase", 1).otherwise(0)) > 0,
          1.0).otherwise(0.0).as("y")))
      val train = f.filter(pmod(col("user_id"), lit(10)) =!= 0)
      val test = f.filter(pmod(col("user_id"), lit(10)) === 0)
      val st = train.agg(
        Exact.dslope(col("x"), col("y")).as("slope"),
        Exact.dintercept(col("x"), col("y")).as("intercept"))
      test.crossJoin(broadcast(st))
        .withColumn("yhat",
          when(col("intercept") + col("slope") * col("x").cast("double")
            > 0.5, 1.0).otherwise(0.0))
        .agg(
          count(lit(1)).as("n_test"),
          sum(when(col("yhat") === 1.0 && col("y") === 1.0, 1).otherwise(0)).as("tp"),
          sum(when(col("yhat") === 1.0 && col("y") === 0.0, 1).otherwise(0)).as("fp"),
          sum(when(col("yhat") === 0.0 && col("y") === 1.0, 1).otherwise(0)).as("fn"),
          sum(when(col("yhat") === 0.0 && col("y") === 0.0, 1).otherwise(0)).as("tn"),
          max(col("slope")).as("slope"),
          max(col("intercept")).as("intercept"))
        .withColumn("acc_ppm", expr("((tp + tn) * 1000000) div n_test"))
        .select("n_test", "tp", "fp", "fn", "tn", "acc_ppm",
          "slope", "intercept")
    }, {
      val sx = "CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE)"
      val sy = "CAST(SUM(CAST(y AS DECIMAL(14,2))) AS DOUBLE)"
      val sxx = "CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS DOUBLE)"
      val sxy = "CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(14,2))) AS DOUBLE)"
      val n = "CAST(COUNT(*) AS DOUBLE)"
      val slopeRaw = s"(($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx))"
      Some(s"""WITH f AS (
              |  SELECT user_id,
              |    CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
              |    CASE WHEN SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) > 0
              |      THEN 1.0 ELSE 0.0 END AS y
              |  FROM events GROUP BY user_id),
              |tr AS (SELECT * FROM f WHERE (user_id % 10) <> 0),
              |te AS (SELECT * FROM f WHERE (user_id % 10) = 0),
              |st AS (
              |  SELECT round($slopeRaw, 6) + 0 AS slope,
              |    round(($sy - $slopeRaw * $sx) / $n, 6) + 0 AS intercept
              |  FROM tr),
              |scored AS (
              |  SELECT te.y,
              |    CASE WHEN st.intercept + st.slope * CAST(te.x AS DOUBLE) > 0.5
              |      THEN 1.0 ELSE 0.0 END AS yhat
              |  FROM te, st)
              |SELECT COUNT(*) AS n_test,
              |  CAST(SUM(CASE WHEN yhat = 1.0 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              |  CAST(SUM(CASE WHEN yhat = 1.0 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              |  CAST(SUM(CASE WHEN yhat = 0.0 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              |  CAST(SUM(CASE WHEN yhat = 0.0 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
              |  (CAST(SUM(CASE WHEN yhat = y THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
              |    // COUNT(*) AS acc_ppm,
              |  (SELECT slope FROM st) AS slope,
              |  (SELECT intercept FROM st) AS intercept
              |FROM scored""".stripMargin)
    }),

    // q08: purchases preceded by a "review" event (boundary = 'view')
    // within the review window, revenue split vs all purchases
    // (ref: bdb_tools/q08_utils.py:92-160).
    Q("b08_review_before_purchase", (s, d) => {
      val reviewed = col("boundary_ts").isNotNull &&
        col("tsn") - col("boundary_ts") <= ReviewWindowNs
      Sessionize.byBoundaryEvent(ev(s, d), "user_id", "tsn", "event_id",
          col("event_type") === "view")
        .filter(col("event_type") === "purchase")
        .agg(
          sum(when(reviewed, 1).otherwise(0)).as("n_reviewed"),
          sum(when(reviewed, col("value").cast("decimal(14,2)"))
            .otherwise(lit(0))).cast("double").as("reviewed_value"),
          count(lit(1)).as("n_total"),
          dsum(col("value")).as("total_value"))
    },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsn
             |  FROM events
             |), b AS (
             |  SELECT *, MAX(CASE WHEN event_type = 'view' THEN tsn END)
             |    OVER (PARTITION BY user_id ORDER BY tsn, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS boundary_ts
             |  FROM e)
             |SELECT
             |  CAST(SUM(CASE WHEN boundary_ts IS NOT NULL AND tsn - boundary_ts <= 259200000000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_reviewed,
             |  CAST(SUM(CASE WHEN boundary_ts IS NOT NULL AND tsn - boundary_ts <= 259200000000
             |    THEN CAST(value AS DECIMAL(14,2)) ELSE 0 END) AS DOUBLE) AS reviewed_value,
             |  COUNT(*) AS n_total,
             |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
             |FROM b WHERE event_type = 'purchase'""".stripMargin)),

    // q09: single aggregate under an OR-of-ANDs predicate
    // (ref: queries/q09/gpu_bdb_query_09_dask_sql.py:32-74).
    Q("b09_or_of_ands", (s, d) =>
      t(s, d, "lineitem")
        .filter(
          (col("l_quantity").between(1, 10) && col("l_discount") <= 0.03 &&
            col("l_returnflag") === "N") ||
          (col("l_quantity").between(20, 30) && col("l_discount") >= 0.05 &&
            col("l_returnflag") === "R") ||
          (col("l_quantity") >= 40 && col("l_linestatus") === "F"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue")),
      Some("""SELECT COUNT(*) AS n,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
             |FROM lineitem
             |WHERE (l_quantity BETWEEN 1 AND 10 AND l_discount <= 0.03 AND l_returnflag = 'N')
             |   OR (l_quantity BETWEEN 20 AND 30 AND l_discount >= 0.05 AND l_returnflag = 'R')
             |   OR (l_quantity >= 40 AND l_linestatus = 'F')""".stripMargin)),

    // q10: per-review sentiment word extraction — each (doc, word,
    // polarity) with its occurrence count, broadcast lexicon join
    // (ref: queries/q10/gpu_bdb_query_10_dask_sql.py:92-147).
    Q("b10_review_sentiment", (s, d) => {
      import s.implicits._
      val lex = (PosWords.map((_, "POS")) ++ NegWords.map((_, "NEG")))
        .toDF("word", "sentiment")
      Text.words(t(s, d, "documents"), "doc_id", "text")
        .join(broadcast(lex), "word")
        .groupBy("doc_id", "word", "sentiment")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "word")
    },
      Some(s"""WITH lex(word, sentiment) AS (VALUES $LexValues),
              |w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents)
              |SELECT doc_id, word, sentiment, COUNT(*) AS cnt
              |FROM w JOIN lex USING (word)
              |GROUP BY doc_id, word, sentiment
              |ORDER BY doc_id, word""".stripMargin)),

    // q11: correlation between item view counts and item purchase
    // revenue (ref: queries/q11/gpu_bdb_query_11_dask_sql.py:32-73 —
    // corr of review rating vs sales). Exact-component Pearson (o23).
    Q("b11_view_sales_corr", (s, d) => {
      val per = ev(s, d).groupBy("item").agg(
        sum(when(col("event_type") === "view", 1).otherwise(0))
          .cast("double").as("x"),
        sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(14,2)")).otherwise(lit(0)))
          .cast("double").as("y"))
      per.agg(count(lit(1)).as("n_items"),
        dcorr(col("x"), col("y")).as("corr_views_rev"))
    },
      Some("""WITH e AS (
             |  SELECT CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS item,
             |    event_type, value
             |  FROM events),
             |per AS (
             |  SELECT item,
             |    CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS DOUBLE) AS x,
             |    CAST(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(14,2)) ELSE 0 END) AS DOUBLE) AS y
             |  FROM e GROUP BY item),
             |c AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(x AS DECIMAL(14,2))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(y AS DECIMAL(14,2))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(x AS DECIMAL(14,2)) * CAST(x AS DECIMAL(14,2))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(y AS DECIMAL(14,2)) * CAST(y AS DECIMAL(14,2))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(x AS DECIMAL(14,2)) * CAST(y AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
             |    COUNT(*) AS n_items
             |  FROM per)
             |-- CASE den > 0 mirrors dcorr's NULL-on-degenerate contract
             |-- (see o23_corr): no sqrt of a rounding-negative product
             |SELECT n_items,
             |  CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0
             |    THEN round((n*sxy - sx*sy) /
             |      sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) + 0 END
             |    AS corr_views_rev
             |FROM c""".stripMargin)),

    // q12: users who clicked an item online then bought the SAME item
    // within 90 days, counted per item
    // (ref: queries/q12/gpu_bdb_query_12_dask_sql.py:34-59).
    Q("b12_click_then_buy", (s, d) => {
      // one scan + one (user, item) exchange: the first-click time is
      // an unbounded min-window over the same partition the purchase
      // rows live in — the aggregate-then-join form scanned the
      // clickstream twice and shuffled both copies
      val w = Window.partitionBy("user_id", "item")
      ev(s, d)
        .withColumn("t_click",
          min(when(col("event_type") === "click", col("tsn"))).over(w))
        .filter(col("event_type") === "purchase" &&
          col("tsn") > col("t_click") &&
          col("tsn") - col("t_click") <= RebuyWindowNs)
        .select("user_id", "item").distinct()
        .groupBy("item").agg(count(lit(1)).as("n_users"))
        .orderBy(desc("n_users"), col("item"))
    },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tsn,
             |    CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS item
             |  FROM events),
             |cl AS (
             |  SELECT user_id, item, MIN(tsn) AS t_click FROM e
             |  WHERE event_type = 'click' GROUP BY 1, 2),
             |cb AS (
             |  SELECT DISTINCT e.user_id, e.item
             |  FROM e JOIN cl ON e.user_id = cl.user_id AND e.item = cl.item
             |  WHERE e.event_type = 'purchase' AND e.tsn > cl.t_click
             |    AND e.tsn - cl.t_click <= 7776000000000)
             |SELECT item, COUNT(*) AS n_users FROM cb
             |GROUP BY item ORDER BY n_users DESC, item""".stripMargin)),

    // q13: single-channel year-over-year customer spend growth,
    // top-100 by ratio (ref: queries/q13/gpu_bdb_query_13_dask_sql
    // .py:37-89; b06 covers the two-channel cross-comparison).
    Q("b13_yoy_growth", (s, d) => {
      val o = t(s, d, "orders")
        .withColumn("yr", year(to_date(col("o_orderdate"))))
        .filter(col("yr").isin(1995, 1996))
      o.groupBy("o_custkey").agg(
          sum(when(col("yr") === 1995, col("o_totalprice").cast("decimal(14,2)")))
            .cast("double").as("s1995"),
          sum(when(col("yr") === 1996, col("o_totalprice").cast("decimal(14,2)")))
            .cast("double").as("s1996"))
        .filter(col("s1995") > 0 && col("s1996") > 0)
        .withColumn("growth", col("s1996") / col("s1995"))
        .select("o_custkey", "s1995", "s1996", "growth")
        .orderBy(desc("growth"), col("o_custkey"))
        .limit(100)
    },
      Some("""WITH y AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE))=1995
             |        THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS s1995,
             |    CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE))=1996
             |        THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS s1996
             |  FROM orders
             |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
             |  GROUP BY o_custkey)
             |SELECT o_custkey, s1995, s1996, s1996/s1995 AS growth
             |FROM y WHERE s1995 > 0 AND s1996 > 0
             |ORDER BY growth DESC, o_custkey LIMIT 100""".stripMargin)),

    // q15: declining categories — per-brand least-squares slope of
    // monthly revenue, keep negative slopes
    // (ref: queries/q15/gpu_bdb_query_15_dask_sql.py:41-64).
    Q("b15_declining_slope", (s, d) => {
      val dt = to_date(col("l_shipdate"))
      val monthly = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          ((year(dt) - 1992) * 12 + month(dt) - 1).cast("bigint").as("m"))
        .agg(dsum(col("l_extendedprice")).as("rev"))
      monthly.groupBy("p_brand")
        .agg(dslope(col("m"), col("rev")).as("slope"),
          count(lit(1)).as("n_months"))
        .filter(col("slope") < 0)
        .orderBy("slope", "p_brand")
    },
      Some("""WITH monthly AS (
             |  SELECT p_brand,
             |    CAST((year(CAST(l_shipdate AS DATE)) - 1992) * 12
             |      + month(CAST(l_shipdate AS DATE)) - 1 AS BIGINT) AS m,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1, 2)
             |SELECT p_brand,
             |  round((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(m AS DECIMAL(18,0)) * CAST(rev AS DECIMAL(14,2))) AS DOUBLE)
             |   - CAST(SUM(CAST(m AS DECIMAL(18,0))) AS DOUBLE) * CAST(SUM(CAST(rev AS DECIMAL(14,2))) AS DOUBLE))
             |  / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(m AS DECIMAL(18,0)) * CAST(m AS DECIMAL(18,0))) AS DOUBLE)
             |     - CAST(SUM(CAST(m AS DECIMAL(18,0))) AS DOUBLE) * CAST(SUM(CAST(m AS DECIMAL(18,0))) AS DOUBLE)), 6) + 0 AS slope,
             |  COUNT(*) AS n_months
             |FROM monthly GROUP BY p_brand HAVING slope < 0
             |ORDER BY slope, p_brand""".stripMargin)),

    // q19: negative-sentiment reviews of items whose store/web
    // returns are balanced within +/-10% (ref: queries/q19/
    // gpu_bdb_query_19_dask_sql.py:47-175). The testdata has no
    // review->item key, so the bridge is a deterministic surrogate
    // (doc_id % 200 + 1) applied identically on both engines;
    // channels are o_orderstatus 'F'/'O' as elsewhere in the suite.
    Q("b19_return_sentiment", (s, d) => {
      val ret = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_returnflag") === "R")
        .groupBy("l_partkey")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"))
        .filter(col("n_f") > 0 && col("n_o") > 0 &&
          abs(col("n_f") - col("n_o")) <=
            lit(0.1) * greatest(col("n_f"), col("n_o")))
      val neg = Text.words(t(s, d, "documents"), "doc_id", "text")
        .filter(col("word").isin(NegWords: _*))
        .groupBy("doc_id").agg(count(lit(1)).as("n_neg"))
        .withColumn("item", (col("doc_id") % 200 + 1).cast("bigint"))
      neg.join(ret, col("item") === col("l_partkey"))
        .select(col("item"), col("doc_id"), col("n_neg"),
          col("n_f"), col("n_o"))
        .orderBy("item", "doc_id")
    },
      Some("""WITH ret AS (
             |  SELECT l_partkey,
             |    CAST(SUM(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
             |    CAST(SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE l_returnflag = 'R'
             |  GROUP BY 1
             |  HAVING SUM(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) > 0
             |     AND SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) > 0
             |     AND abs(SUM(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END)
             |           - SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END))
             |         <= 0.1 * greatest(SUM(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END),
             |                           SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END))),
             |w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
             |neg AS (
             |  SELECT doc_id, COUNT(*) AS n_neg FROM w
             |  WHERE word IN ('slow','small','error') GROUP BY doc_id),
             |docs2 AS (
             |  SELECT doc_id, CAST(doc_id % 200 + 1 AS BIGINT) AS item, n_neg FROM neg)
             |SELECT d2.item, d2.doc_id, d2.n_neg, ret.n_f, ret.n_o
             |FROM docs2 d2 JOIN ret ON d2.item = ret.l_partkey
             |ORDER BY d2.item, d2.doc_id""".stripMargin)),

    // q20: customer return-behavior feature build (the k-means feed):
    // order count, item count, returned-item ratio in exact ppm,
    // returned-value share (ref: queries/q20/gpu_bdb_query_20_dask_sql
    // .py:37-93).
    Q("b20_return_features", (s, d) => {
      // pre-aggregate the fact table per order BEFORE the orders join:
      // the countDistinct(l_orderkey)-over-the-joined-fact form paid a
      // distinct expansion over every lineitem row; per-order partials
      // make n_orders a plain count and shrink the join input to one
      // row per order (decimal sums stay exact through both levels)
      val perOrder = t(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("_n_items"),
          sum(when(col("l_returnflag") === "R", 1).otherwise(0))
            .as("_n_returned"),
          sum(col("l_extendedprice").cast("decimal(14,2)")).as("_total"),
          sum(when(col("l_returnflag") === "R",
            col("l_extendedprice").cast("decimal(14,2)")).otherwise(lit(0)))
            .as("_returned"))
      perOrder
        .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
          count(lit(1)).as("n_orders"),
          sum("_n_items").as("n_items"),
          sum("_n_returned").as("n_returned"),
          sum("_total").cast("double").as("total_value"),
          sum("_returned").cast("double").as("returned_value"))
        .withColumn("ret_ratio_ppm",
          expr("(n_returned * 1000000) div n_items"))
        .orderBy("o_custkey")
    },
      Some("""SELECT o_custkey,
             |  COUNT(DISTINCT l_orderkey) AS n_orders,
             |  COUNT(*) AS n_items,
             |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
             |  CAST(SUM(CASE WHEN l_returnflag = 'R'
             |      THEN CAST(l_extendedprice AS DECIMAL(14,2)) ELSE 0 END) AS DOUBLE) AS returned_value,
             |  (CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             |    // COUNT(*) AS ret_ratio_ppm
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // q27: gazetteer NER over reviews with mention counts and first
    // position — the word-level view of t10's doc-level extraction
    // (ref: bdb_tools/q27_utils.py:42-54; gazetteer = part-name
    // vocabulary, as t10).
    Q("b27_entity_mentions", (s, d) => {
      val gaz = Text.words(
          t(s, d, "part").withColumn("gid", lit(0L)), "gid", "p_name")
        .select(col("word").as("entity")).distinct()
      Text.wordsWithPos(t(s, d, "documents"), "doc_id", "text")
        .join(broadcast(gaz), col("word") === col("entity"))
        .groupBy("doc_id", "word")
        .agg(count(lit(1)).as("n_mentions"), min("pos").as("first_pos"))
        .select(col("doc_id"), col("word").as("entity"),
          col("n_mentions"), col("first_pos"))
        .orderBy("doc_id", "entity")
    },
      Some("""WITH gaz AS (
             |  SELECT DISTINCT unnest(string_split(p_name,' ')) AS entity FROM part),
             |w AS (SELECT doc_id,
             |  generate_subscripts(string_split(text,' '),1) AS pos,
             |  unnest(string_split(text,' ')) AS word FROM documents)
             |SELECT doc_id, word AS entity, COUNT(*) AS n_mentions, MIN(pos) AS first_pos
             |FROM w JOIN gaz ON word = entity
             |GROUP BY doc_id, word ORDER BY doc_id, entity""".stripMargin)),

    // q28: overall test accuracy of the deterministic NB classifier —
    // the top-line metric the reference reports alongside the
    // per-class table (m05; ref: bdb_tools/q28_utils.py:106-257).
    Q("b28_nb_accuracy", (s, d) =>
      MlQueries.nbConfusion(s, d)
        .agg(sum("n").as("n_test"),
          sum(when(col("true_lang") === col("pred_lang"), col("n"))
            .otherwise(0L)).as("n_correct"))
        .withColumn("acc_ppm", expr("(n_correct * 1000000) div n_test")),
      Some(s"""WITH conf AS (
              |${MlQueries.nbConfusionSqlBody}
              |)
              |SELECT CAST(SUM(n) AS BIGINT) AS n_test,
              |  CAST(SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END) AS BIGINT) AS n_correct,
              |  (CAST(SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END) AS BIGINT) * 1000000)
              |    // CAST(SUM(n) AS BIGINT) AS acc_ppm
              |FROM conf""".stripMargin)),

    // q30: item-affinity pairs over timeout sessions, top-100 — s04's
    // one-pass collect_set + ArrayPairs on the ITEM key
    // (ref: queries/q30/gpu_bdb_query_30_dask_sql.py:76-81).
    Q("b30_item_session_pairs", (s, d) => {
      val sess = Sessionize.byTimeout(ev(s, d), "user_id", "tsn",
        "event_id", TimeoutNs)
      Sessionize.sessionPairs(sess, "user_id", "session_seq", "item")
        .groupBy("item_1", "item_2").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("item_1"), col("item_2"))
        .limit(100)
    },
      Some(OracleBaseItem +
        """, su AS (SELECT DISTINCT user_id, session_seq, item FROM sess)
          |SELECT a.item AS item_1, b.item AS item_2, COUNT(*) AS cnt
          |FROM su a JOIN su b
          |  ON a.user_id = b.user_id AND a.session_seq = b.session_seq
          | AND a.item < b.item
          |GROUP BY 1, 2 ORDER BY cnt DESC, item_1, item_2 LIMIT 100""".stripMargin))
  )
}
