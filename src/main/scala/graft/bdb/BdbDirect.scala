package graft.bdb

import graft.queries.{Q, Suite}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Direct DuckDB gates for the 23-table BDB instantiations.
  *
  * The b01–b30 series re-expresses every BDB query SHAPE on the
  * driver's testdata schema (direct oracle), while the 23-table
  * originals were gated by goldens + independent reimplementations —
  * the one "trust me" left in the coverage story. These queries close
  * it for representative members: they run the REAL `BdbQueries1/2`
  * code against the committed deterministic fixture parquet
  * (`bench/bdb_oracle/`, written by [[graft.tools.BdbOracleDump]] at
  * the goldens' floor scale), and the oracle SQL reads the SAME files
  * by absolute path via `read_parquet` — no table registration
  * needed, so the driver's DuckDB gate reaches the second dataset.
  *
  * Coverage (rounds 11-13): 25 of the 30 BDB queries are direct-gated
  * END TO END here — q01-q04, q06-q19, q21-q24, q27, q29,
  * q30 (b31-b53, b58, b60; q27's default capitalized-span tagger is a
  * pure function and re-expresses as a gaps-and-islands SQL grouping;
  * q06 carries the reference's composite price measure and q13 the
  * net_paid measure — two distinct bodies, separately gated).
  * Four more (q05/q20/q25/q26) have their DETERMINISTIC feature
  * cores gated (b54-b57) AND, as of round 13, their fits run end to
  * end deterministic too: q20/q25/q26's clustering as exact-integer
  * Lloyd over the real feature frames (b61-b63, oracle replaying the
  * unrolled iterations) and q05's classifier as a closed-form
  * least-squares linear-probability fit from exact moment sums (b64,
  * oracle evaluating the identical Cramer formula strings). The
  * optimized MLlib fits (LogisticRegression / KMeans maxIter=20)
  * stay on parity thresholds — no replayable oracle exists for an
  * iterative float optimizer, and that matches the reference's own
  * methodology.
  * q28 is ALSO end-to-end gated (b59): the oracle can't replay the
  * engine-private murmur3 bucket hash, but the committed fixture's
  * 103-token vocabulary maps injectively into 2^23 buckets, so a
  * word-keyed NB with the same smoothing constants reproduces the
  * identical confusion matrix (the NB math itself stays pinned
  * against MLlib in BdbQueriesSpec) — every distinct BDB query body
  * now has a direct DuckDB gate.
  *
  * Conventions: decimal sums are cast to DOUBLE on both sides
  * (DuckDB's DECIMAL(38,2)/HUGEINT vs Spark's DECIMAL(17,2)/BIGINT
  * would otherwise dtype-drift through the gate); derived float
  * statistics are rounded to 6 decimals on both sides; parameters
  * are rescaled to the floor-scale fixture where the reference's
  * SF-scale defaults would select nothing (each entry documents its
  * pick). Sessionization oracles exploit that the fixture has no
  * (user, ts) collisions, so an untie-broken window ordering
  * reproduces Spark's (ts, eid) session ids exactly.
  */
object BdbDirect extends Suite {

  /** Committed fixture location — absolutized at class-load from the
    * repo-relative path when the cwd IS a repo checkout (the sbt/
    * driver case), falling back to this repo's canonical location for
    * launchers whose cwd is elsewhere (IDE test runners);
    * GRAFT_BDB_ORACLE_DIR overrides both. */
  val Base: String = sys.env.getOrElse("GRAFT_BDB_ORACLE_DIR", {
    val rel = new java.io.File("bench/bdb_oracle")
    if (rel.isDirectory) rel.getAbsolutePath
    else "/root/repo/bench/bdb_oracle"
  })

  /** The fixture DataFrames of the CURRENT SparkSession, built by
    * [[BdbCatalog.frame]] as the benchmark's tables are: the schemas
    * [[graft.tools.BdbOracleDump]] wrote them from, so no read starts a
    * Spark job, and the dimensions' broadcast hints. They are
    * cached because resolving 23 parquet relations still costs the
    * driver several hundred milliseconds per call, and these queries
    * run back-to-back in one Bench/Verify session. The temp views are
    * re-registered on EVERY call: view names like `customer` collide
    * with Tables.registerAll's testdata views, so a registration flag
    * would read the wrong table when an o-series spark.sql query runs
    * in between. A single-slot cache, not a WeakHashMap: the cached
    * DataFrames strongly reference their session, so weak keys would
    * never evict and every past session would be retained for the
    * JVM's lifetime. */
  @volatile private var frameCache
      : (SparkSession, Seq[(String, org.apache.spark.sql.DataFrame)]) = null

  private[graft] def reg(s: SparkSession): Unit = {
    val cached = frameCache
    val fs =
      if (cached != null && (cached._1 eq s)) cached._2
      else {
        val v = BdbSchemas.tables.map(t => t -> fixture(s, t))
        frameCache = (s, v)
        v
      }
    fs.foreach { case (t, df) => df.createOrReplaceTempView(t) }
  }

  private def fixture(s: SparkSession, t: String) =
    BdbCatalog.frame(s, t, s"$Base/$t.parquet")

  private def rp(t: String): String = s"read_parquet('$Base/$t.parquet')"

  /** Gate-time check for the sessionization oracles (b34/b37/b38/
    * b53): their DuckDB SQL reproduces Spark's (ts, eid)-ordered
    * session ids with a tie-LESS `ORDER BY ts`, which is only sound
    * while the fixture clickstream has no (user, ts) collision. The
    * fixture is committed and immutable per JVM run, so the scan
    * fires once; a regenerated fixture that breaks the invariant now
    * fails those four gates LOUDLY here instead of making them
    * nondeterministically flaky. */
  @volatile private var userTsInvariantHeld = false
  private def assertNoUserTsCollisions(s: SparkSession): Unit =
    if (!userTsInvariantHeld) {
      // null-ts rows are excluded from BOTH sides of the compare:
      // countDistinct skips null components, so counting them on the
      // left would trip the gate on a fixture with no real collision
      val r = fixture(s, "web_clickstreams")
        .filter(col("wcs_user_sk").isNotNull &&
          col("wcs_click_date_sk").isNotNull &&
          col("wcs_click_time_sk").isNotNull)
        .select(col("wcs_user_sk").as("u"),
          (col("wcs_click_date_sk") * 86400 + col("wcs_click_time_sk"))
            .as("ts"))
        .agg(count(lit(1)).as("n"), countDistinct(col("u"), col("ts")))
        .head()
      require(r.getLong(0) == r.getLong(1),
        s"bdb_oracle fixture has ${r.getLong(0) - r.getLong(1)} duplicate " +
          "(user, ts) clickstream pairs; the b34/b37/b38/b53 oracle SQL's " +
          "tie-less ORDER BY ts no longer reproduces Spark's (ts, eid) " +
          "session ordering — regenerate the fixture or add a tie-break " +
          "column to those oracles")
      userTsInvariantHeld = true
    }

  // ------------------------------------------------------------------
  // Shared feature-frame CTE strings: each q20/q25/q26 oracle body
  // exists ONCE here and is consumed by BOTH its feature gate
  // (b55-b57) and its Lloyd fit gate (b61-b63) — a parity fix to a
  // feature definition cannot drift between the two. (Suite-level
  // vals MUST precede `qs`: a val below it is captured as null in
  // the oracle map — the EntrySpec null-oracle gate.)
  // ------------------------------------------------------------------

  /** q20: per-customer store sales/returns aggregates. */
  private val q20SalesRetCtes =
    s"""sales AS (
       |  SELECT ss_customer_sk AS cust,
       |    COUNT(DISTINCT ss_ticket_number) AS orders,
       |    SUM(ss_quantity) AS items, SUM(ss_net_paid) AS amount
       |  FROM ${rp("store_sales")}
       |  WHERE ss_customer_sk IS NOT NULL GROUP BY 1),
       |ret AS (
       |  SELECT sr_customer_sk AS cust,
       |    COUNT(DISTINCT sr_ticket_number) AS r_orders,
       |    SUM(sr_return_quantity) AS r_items,
       |    SUM(sr_return_amt) AS r_amount
       |  FROM ${rp("store_returns")}
       |  WHERE sr_customer_sk IS NOT NULL GROUP BY 1)""".stripMargin

  /** q20 ratio expressions over sales s LEFT JOIN ret r: each whole
    * ratio COALESCEd to 0 to mirror the Spark side's .na.fill(0.0)
    * on x/NULL (both engines NULL there; x/0 differs by design —
    * DuckDB NULL->0 while ANSI Spark THROWS, so a zero-sum customer
    * fails the gate loudly instead of silently). */
  private val q20RatioExprs = Seq(
    "COALESCE(CAST(COALESCE(r.r_orders, 0) AS DOUBLE) / s.orders, 0.0)",
    "COALESCE(CAST(COALESCE(r.r_items, 0) AS DOUBLE) / s.items, 0.0)",
    "COALESCE(COALESCE(CAST(r.r_amount AS DOUBLE), 0.0)" +
      " / CAST(s.amount AS DOUBLE), 0.0)")

  /** q25: the dated two-channel order stream. */
  private val q25BaseCtes =
    s"""dd AS (SELECT d_date_sk, CAST(d_date AS DATE) AS dd
       |      FROM ${rp("date_dim")}),
       |a AS (
       |  SELECT ss_customer_sk AS cid, ss_ticket_number AS oid,
       |    dd, ss_net_paid AS amount
       |  FROM ${rp("store_sales")} JOIN dd ON ss_sold_date_sk = d_date_sk
       |  WHERE ss_customer_sk IS NOT NULL
       |  UNION ALL
       |  SELECT ws_bill_customer_sk, ws_order_number, dd, ws_net_paid
       |  FROM ${rp("web_sales")} JOIN dd ON ws_sold_date_sk = d_date_sk
       |  WHERE ws_bill_customer_sk IS NOT NULL)""".stripMargin

  /** q25 RFM feature expressions over `a` (GROUP BY cid). */
  private val q25FeatureExprs = Seq(
    "CAST(MAX(CASE WHEN dd >= DATE '2002-01-02' THEN 1.0 ELSE 0.0 END)" +
      " AS DOUBLE)",
    "CAST(COUNT(DISTINCT oid) AS DOUBLE)",
    "CAST(SUM(amount) AS DOUBLE)")

  /** q26: category-item CTE + the 15 per-class count aggregates
    * (aliased with the caller's prefix) over the filtered join.
    * `total` is the reference's HAVING quantity — COUNT of ALL the
    * customer's Books rows (q26_sql.py:99), NOT the sum of the 15
    * class columns (NULL/out-of-range class ids count toward the
    * threshold while feeding no feature). */
  private def q26BaseCtes(prefix: String, idAlias: String) = {
    val sums = (1 to 15).map(i =>
      s"CAST(SUM(CASE WHEN i_class_id = $i THEN 1 ELSE 0 END) AS DOUBLE)" +
        s" AS $prefix$i").mkString(",\n    ")
    s"""it AS (SELECT i_item_sk, i_class_id FROM ${rp("item")}
       |      WHERE i_category = 'Books'),
       |f0 AS (
       |  SELECT ss_customer_sk AS $idAlias,
       |    $sums,
       |    CAST(COUNT(ss_item_sk) AS DOUBLE) AS total
       |  FROM ${rp("store_sales")} JOIN it ON ss_item_sk = i_item_sk
       |  WHERE ss_customer_sk IS NOT NULL GROUP BY 1)""".stripMargin
  }

  val qs: Seq[Q] = Seq(

    // the golden fixture parameterization (stores 1–5 exist at floor
    // scale; minCount=0 keeps the template pairs in range)
    Q("b31_bdb_q01", (s, _) => {
      reg(s)
      BdbQueries1.q01(s, stores = Seq(1, 2, 3, 4, 5), minCount = 0)
    },
      Some(s"""WITH it AS (SELECT i_item_sk FROM ${rp("item")}
              |           WHERE i_category_id IN (1,2,3)),
              |b AS (
              |  SELECT DISTINCT ss_ticket_number, ss_item_sk
              |  FROM ${rp("store_sales")}
              |  WHERE ss_store_sk IN (1,2,3,4,5)
              |    AND ss_item_sk IN (SELECT i_item_sk FROM it)),
              |p AS (
              |  SELECT a.ss_item_sk AS item_sk_1, c.ss_item_sk AS item_sk_2,
              |         COUNT(*) AS cnt
              |  FROM b a JOIN b c ON a.ss_ticket_number = c.ss_ticket_number
              |    AND a.ss_item_sk < c.ss_item_sk
              |  GROUP BY 1, 2)
              |SELECT item_sk_1, item_sk_2, cnt FROM p WHERE cnt > 0
              |ORDER BY cnt DESC, CAST(item_sk_1 AS VARCHAR),
              |  CAST(item_sk_2 AS VARCHAR)
              |LIMIT 100""".stripMargin)),

    // q06: the reference's composite price measure; the oracle skips
    // the reference's /2.0 inside the SUMs exactly as the Spark body
    // does (ratio and HAVING are invariant under the common factor —
    // see the q06 scaladoc), keeping both sides on exact decimals.
    Q("b32_bdb_q06", (s, _) => {
      reg(s)
      BdbQueries1.q06(s, year = 2001)
    },
      Some(s"""WITH dd AS (SELECT d_date_sk, d_year FROM ${rp("date_dim")}
              |            WHERE d_year IN (2001, 2002)),
              |web AS (
              |  SELECT ws_bill_customer_sk AS cust,
              |    SUM(CASE WHEN d_year = 2001 THEN (ws_ext_list_price
              |      - ws_ext_wholesale_cost - ws_ext_discount_amt)
              |      + ws_ext_sales_price ELSE 0 END) AS y1,
              |    SUM(CASE WHEN d_year = 2002 THEN (ws_ext_list_price
              |      - ws_ext_wholesale_cost - ws_ext_discount_amt)
              |      + ws_ext_sales_price ELSE 0 END) AS y2
              |  FROM ${rp("web_sales")}
              |  JOIN dd ON ws_sold_date_sk = d_date_sk
              |  GROUP BY 1
              |  HAVING y1 > 0),
              |st AS (
              |  SELECT ss_customer_sk AS cust,
              |    SUM(CASE WHEN d_year = 2001 THEN (ss_ext_list_price
              |      - ss_ext_wholesale_cost - ss_ext_discount_amt)
              |      + ss_ext_sales_price ELSE 0 END) AS y1,
              |    SUM(CASE WHEN d_year = 2002 THEN (ss_ext_list_price
              |      - ss_ext_wholesale_cost - ss_ext_discount_amt)
              |      + ss_ext_sales_price ELSE 0 END) AS y2
              |  FROM ${rp("store_sales")}
              |  JOIN dd ON ss_sold_date_sk = d_date_sk
              |  GROUP BY 1
              |  HAVING y1 > 0)
              |SELECT CAST(w.y2 AS DOUBLE) / CAST(w.y1 AS DOUBLE)
              |    AS web_sales_increase_ratio,
              |  c_customer_sk, c_first_name, c_last_name,
              |  c_preferred_cust_flag, c_birth_country, c_login,
              |  c_email_address
              |FROM st JOIN web w ON st.cust = w.cust
              |JOIN ${rp("customer")} cu ON w.cust = cu.c_customer_sk
              |WHERE CAST(w.y2 AS DOUBLE) / CAST(w.y1 AS DOUBLE)
              |    > CAST(st.y2 AS DOUBLE) / CAST(st.y1 AS DOUBLE)
              |ORDER BY web_sales_increase_ratio DESC, c_customer_sk
              |LIMIT 100""".stripMargin)),

    // q13: the net_paid sibling of q06 — a DISTINCT reference body
    // (plain measure, both channel ratios in a 5-column output).
    Q("b60_bdb_q13", (s, _) => {
      reg(s)
      BdbQueries1.q13(s, year = 2001)
    },
      Some(s"""WITH dd AS (SELECT d_date_sk, d_year FROM ${rp("date_dim")}
              |            WHERE d_year IN (2001, 2002)),
              |st AS (
              |  SELECT ss_customer_sk AS cust,
              |    SUM(CASE WHEN d_year = 2001 THEN ss_net_paid
              |        ELSE 0 END) AS y1,
              |    SUM(CASE WHEN d_year = 2002 THEN ss_net_paid
              |        ELSE 0 END) AS y2
              |  FROM ${rp("store_sales")}
              |  JOIN dd ON ss_sold_date_sk = d_date_sk
              |  GROUP BY 1
              |  HAVING y1 > 0),
              |web AS (
              |  SELECT ws_bill_customer_sk AS cust,
              |    SUM(CASE WHEN d_year = 2001 THEN ws_net_paid
              |        ELSE 0 END) AS y1,
              |    SUM(CASE WHEN d_year = 2002 THEN ws_net_paid
              |        ELSE 0 END) AS y2
              |  FROM ${rp("web_sales")}
              |  JOIN dd ON ws_sold_date_sk = d_date_sk
              |  GROUP BY 1
              |  HAVING y1 > 0)
              |SELECT c_customer_sk, c_first_name, c_last_name,
              |  CAST(st.y2 AS DOUBLE) / CAST(st.y1 AS DOUBLE)
              |    AS store_sales_increase_ratio,
              |  CAST(w.y2 AS DOUBLE) / CAST(w.y1 AS DOUBLE)
              |    AS web_sales_increase_ratio
              |FROM st JOIN web w ON st.cust = w.cust
              |JOIN ${rp("customer")} cu ON w.cust = cu.c_customer_sk
              |WHERE CAST(w.y2 AS DOUBLE) / CAST(w.y1 AS DOUBLE)
              |    > CAST(st.y2 AS DOUBLE) / CAST(st.y1 AS DOUBLE)
              |ORDER BY web_sales_increase_ratio DESC, c_customer_sk
              |LIMIT 100""".stripMargin)),

    Q("b33_bdb_q16", (s, _) => {
      reg(s)
      BdbQueries2.q16(s)
        .select(col("w_state"), col("i_item_id"),
          col("sales_before").cast("double").as("sales_before"),
          col("sales_after").cast("double").as("sales_after"))
    },
      Some(s"""WITH dd AS (
              |  SELECT d_date_sk, CAST(d_date AS DATE) AS dd
              |  FROM ${rp("date_dim")}
              |  WHERE abs(datediff('day', DATE '2001-03-16',
              |    CAST(d_date AS DATE))) <= 30),
              |j AS (
              |  SELECT w.w_state, i.i_item_id, dd.dd,
              |    ws.ws_sales_price - COALESCE(wr.wr_refunded_cash,
              |      CAST(0 AS DECIMAL(7,2))) AS net
              |  FROM ${rp("web_sales")} ws
              |  JOIN dd ON ws.ws_sold_date_sk = dd.d_date_sk
              |  LEFT JOIN ${rp("web_returns")} wr
              |    ON ws.ws_order_number = wr.wr_order_number
              |   AND ws.ws_item_sk = wr.wr_item_sk
              |  JOIN ${rp("warehouse")} w
              |    ON ws.ws_warehouse_sk = w.w_warehouse_sk
              |  JOIN ${rp("item")} i ON ws.ws_item_sk = i.i_item_sk)
              |SELECT w_state, i_item_id,
              |  -- ELSE 0: the reference's CASE ... ELSE 0.0 END
              |  -- (q16_dask_sql.py:59-67), mirrored by the engine
              |  CAST(SUM(CASE WHEN dd < DATE '2001-03-16' THEN net ELSE 0 END)
              |    AS DOUBLE) AS sales_before,
              |  CAST(SUM(CASE WHEN dd >= DATE '2001-03-16' THEN net ELSE 0 END)
              |    AS DOUBLE) AS sales_after
              |FROM j GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 100""".stripMargin)),

    // q02 (sessionize + co-view): the REAL timeout sessionization on
    // the fixture clickstream. Item 2 is the fixture's most-clicked
    // item; the fixture has no (user, ts) collisions, so the oracle's
    // untie-broken window ordering reproduces the Spark session ids
    // exactly.
    Q("b34_bdb_q02", (s, _) => {
      reg(s)
      assertNoUserTsCollisions(s)
      BdbQueries1.q02(s, itemSk = 2L)
    },
      Some(s"""WITH c AS (
              |  SELECT wcs_user_sk AS u, wcs_item_sk AS i,
              |    wcs_click_date_sk * 86400 + wcs_click_time_sk AS ts
              |  FROM ${rp("web_clickstreams")}
              |  WHERE wcs_user_sk IS NOT NULL AND wcs_item_sk IS NOT NULL),
              |f AS (
              |  SELECT *, CASE WHEN lag(ts) OVER (PARTITION BY u ORDER BY ts) IS NULL
              |      OR ts - lag(ts) OVER (PARTITION BY u ORDER BY ts) > 3600
              |    THEN 1 ELSE 0 END AS new_s
              |  FROM c),
              |sess AS (
              |  SELECT u, i, CAST(SUM(new_s) OVER (PARTITION BY u ORDER BY ts
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
              |  FROM f),
              |su AS (SELECT DISTINCT u, seq, i FROM sess),
              |tgt AS (SELECT DISTINCT u, seq FROM su WHERE i = 2)
              |SELECT i AS item_sk_1, COUNT(*) AS cnt
              |FROM su JOIN tgt USING (u, seq)
              |WHERE i <> 2
              |GROUP BY 1 ORDER BY cnt DESC, item_sk_1 LIMIT 30""".stripMargin)),

    // q08 (boundary sessionization): review-page boundary, purchases
    // within 3 days after. Spark returns the two revenue decimals as
    // strings (BigDecimal.toString); cast BOTH sides to DOUBLE for
    // the gate.
    Q("b35_bdb_q08", (s, _) => {
      reg(s)
      BdbQueries1.q08(s)
        .select(col("review_revenue").cast("double").as("review_revenue"),
          col("no_review_revenue").cast("double").as("no_review_revenue"))
    },
      Some(s"""WITH dd AS (
              |  SELECT d_date_sk FROM ${rp("date_dim")}
              |  WHERE CAST(d_date AS DATE) >= DATE '2001-09-02'
              |    AND CAST(d_date AS DATE) < DATE '2002-09-02'),
              |c AS (
              |  SELECT wcs_user_sk AS u, wcs_sales_sk AS sales,
              |    wcs_click_date_sk * 86400 + wcs_click_time_sk AS ts,
              |    wcs_web_page_sk IN (SELECT wp_web_page_sk
              |      FROM ${rp("web_page")} WHERE wp_type = 'review') AS is_review
              |  FROM ${rp("web_clickstreams")}
              |  JOIN dd ON wcs_click_date_sk = d_date_sk
              |  WHERE wcs_user_sk IS NOT NULL),
              |b AS (
              |  SELECT *, MAX(CASE WHEN is_review THEN ts END) OVER
              |    (PARTITION BY u ORDER BY ts
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS boundary_ts
              |  FROM c),
              |rs AS (
              |  SELECT DISTINCT sales FROM b
              |  WHERE sales IS NOT NULL AND boundary_ts IS NOT NULL
              |    AND ts - boundary_ts <= 259200),
              |ws AS (
              |  SELECT ws_net_paid, ws_order_number FROM ${rp("web_sales")}
              |  JOIN dd ON ws_sold_date_sk = d_date_sk),
              |t AS (SELECT COALESCE(SUM(ws_net_paid), 0) AS total FROM ws),
              |r AS (SELECT COALESCE(SUM(ws_net_paid), 0) AS rev FROM ws
              |      WHERE ws_order_number IN (SELECT sales FROM rs))
              |SELECT CAST(r.rev AS DOUBLE) AS review_revenue,
              |  CAST(t.total - r.rev AS DOUBLE) AS no_review_revenue
              |FROM t, r""".stripMargin)),

    // q10 (sentence/word explode + lexicon): the REAL NLP splitters on
    // the fixture reviews — sentence split on [.?!] via the è
    // sentinel, word split on whitespace runs after punctuation
    // scrub, broadcast lexicon join. DuckDB regexp_replace needs the
    // 'g' flag to match Spark's replace-all.
    Q("b36_bdb_q10", (s, _) => {
      reg(s)
      BdbQueries1.q10(s)
    },
      Some {
        val lexValues =
          (BdbQueries1.defaultPositive.map(w => s"('$w','POS')") ++
            BdbQueries1.defaultNegative.map(w => s"('$w','NEG')"))
            .mkString(", ")
        s"""WITH lex(sentiment_word, sentiment) AS (VALUES $lexValues),
           |r AS (
           |  SELECT pr_item_sk, lower(pr_review_content) AS content
           |  FROM ${rp("product_reviews")}
           |  WHERE pr_review_content IS NOT NULL),
           |sen AS (
           |  SELECT pr_item_sk,
           |    unnest(string_split(
           |      regexp_replace(content, '[.?!]', 'è', 'g'), 'è')) AS sentence
           |  FROM r),
           |sen2 AS (SELECT * FROM sen WHERE len(trim(sentence)) > 0),
           |w AS (
           |  SELECT pr_item_sk, sentence,
           |    unnest(string_split_regex(
           |      trim(regexp_replace(sentence, '[,;"-]', ' ', 'g')), ' +')) AS word
           |  FROM sen2)
           |SELECT pr_item_sk AS item_sk, sentence AS review_sentence,
           |  sentiment, sentiment_word
           |FROM w JOIN lex ON word = sentiment_word
           |WHERE len(word) > 0""".stripMargin
      }),

    // q03 (lag-window lookback): views of category-2/3 items in the
    // last 5 clicks within 864000 s before a purchase of item 2 (the
    // b34 probe item). The oracle unrolls the 5 lag columns exactly
    // like the b03 testdata twin.
    Q("b37_bdb_q03", (s, _) => {
      reg(s)
      assertNoUserTsCollisions(s)
      BdbQueries1.q03(s, purchasedItem = 2L)
    },
      Some {
        val lags = (1 to 5).map(k =>
          s"lag(i,$k) OVER w AS p_i$k, lag(ts,$k) OVER w AS p_ts$k, " +
            s"lag(sales,$k) OVER w AS p_s$k").mkString(",\n              |  ")
        val unions = (1 to 5).map(k =>
          s"SELECT p_i$k AS item, ts, p_ts$k AS pts, p_s$k AS psales FROM pur")
          .mkString("\n              |  UNION ALL ")
        s"""WITH c AS (
           |  SELECT wcs_user_sk AS u, wcs_item_sk AS i, wcs_sales_sk AS sales,
           |    wcs_click_date_sk * 86400 + wcs_click_time_sk AS ts
           |  FROM ${rp("web_clickstreams")}
           |  WHERE wcs_user_sk IS NOT NULL AND wcs_item_sk IS NOT NULL),
           |lb AS (SELECT u, i, sales, ts,
           |  $lags
           |  FROM c WINDOW w AS (PARTITION BY u ORDER BY ts)),
           |pur AS (SELECT * FROM lb WHERE sales IS NOT NULL AND i = 2),
           |ex AS (
           |  $unions),
           |cat AS (SELECT i_item_sk FROM ${rp("item")}
           |        WHERE i_category_id IN (2,3))
           |SELECT item AS lastviewed_item, COUNT(*) AS cnt
           |FROM ex JOIN cat ON item = i_item_sk
           |WHERE item IS NOT NULL AND psales IS NULL AND ts - pts <= 864000
           |GROUP BY 1 ORDER BY cnt DESC, lastviewed_item LIMIT 100""".stripMargin
      }),

    // q04 (abandoned carts): sessions whose last dynamic/order page is
    // 'dynamic'; page average over abandoned sessions.
    Q("b38_bdb_q04", (s, _) => {
      reg(s)
      assertNoUserTsCollisions(s)
      BdbQueries1.q04(s)
    },
      Some(s"""WITH c AS (
              |  SELECT wcs_user_sk AS u, wp_type,
              |    wcs_click_date_sk * 86400 + wcs_click_time_sk AS ts
              |  FROM ${rp("web_clickstreams")}
              |  JOIN ${rp("web_page")} wp ON wcs_web_page_sk = wp_web_page_sk
              |  WHERE wcs_user_sk IS NOT NULL),
              |f AS (
              |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
              |      OR ts - lag(ts) OVER w > 3600 THEN 1 ELSE 0 END AS new_s
              |  FROM c WINDOW w AS (PARTITION BY u ORDER BY ts)),
              |sess AS (
              |  SELECT u, wp_type, ts, SUM(new_s) OVER (PARTITION BY u ORDER BY ts
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
              |  FROM f),
              |per AS (
              |  SELECT u, seq, COUNT(*) AS pages,
              |    max_by(wp_type,
              |      CASE WHEN wp_type IN ('dynamic','order') THEN ts END) AS last_do
              |  FROM sess GROUP BY 1, 2)
              |SELECT CAST(SUM(pages) AS DOUBLE) / COUNT(*)
              |    AS avg_pages_per_abandoned_session,
              |  COUNT(*) AS n_abandoned_sessions
              |FROM per WHERE last_do = 'dynamic'""".stripMargin)),

    // q07 (pricey-item states): items above 1.2x their category's
    // average price, sold in 2004-07; floor-scale minCnt=1 (the
    // reference's 10 assumes SF-scale volume, the b31 rescale rule).
    Q("b39_bdb_q07", (s, _) => {
      reg(s)
      BdbQueries1.q07(s, minCnt = 1)
    },
      Some(s"""WITH ca AS (
              |  SELECT i_category,
              |    CAST(SUM(i_current_price) AS DOUBLE) / COUNT(i_current_price)
              |      AS avg_price
              |  FROM ${rp("item")} GROUP BY 1),
              |hi AS (
              |  SELECT i_item_sk FROM ${rp("item")} i JOIN ca USING (i_category)
              |  WHERE i_current_price > avg_price * 1.2),
              |dd AS (SELECT d_date_sk FROM ${rp("date_dim")}
              |       WHERE d_year = 2004 AND d_moy = 7)
              |SELECT ca_state, COUNT(*) AS cnt
              |FROM ${rp("store_sales")}
              |JOIN dd ON ss_sold_date_sk = d_date_sk
              |JOIN hi ON ss_item_sk = i_item_sk
              |JOIN ${rp("customer")} c ON ss_customer_sk = c_customer_sk
              |JOIN ${rp("customer_address")} a ON c_current_addr_sk = ca_address_sk
              |WHERE ca_state IS NOT NULL
              |GROUP BY 1 HAVING COUNT(*) >= 1
              |ORDER BY cnt DESC, ca_state LIMIT 10""".stripMargin)),

    // q09 (OR-of-ANDs single aggregate) with the reference's three
    // demographic x address x price arms.
    Q("b40_bdb_q09", (s, _) => {
      reg(s)
      BdbQueries1.q09(s)
    },
      Some(s"""SELECT CAST(SUM(ss_quantity) AS BIGINT) AS total_quantity
              |FROM ${rp("store_sales")}
              |JOIN ${rp("date_dim")} d ON ss_sold_date_sk = d_date_sk
              |JOIN ${rp("customer_demographics")} cd ON ss_cdemo_sk = cd_demo_sk
              |JOIN ${rp("customer_address")} ca ON ss_addr_sk = ca_address_sk
              |WHERE d_year = 2001 AND (
              |  (cd_marital_status = 'M' AND cd_education_status = '4 yr Degree'
              |   AND ss_sales_price BETWEEN 100 AND 150
              |   AND ca_country = 'United States' AND ca_state IN ('KY','GA','NM')
              |   AND ss_net_profit BETWEEN 0 AND 2000)
              |  OR (cd_marital_status = 'M' AND cd_education_status = '4 yr Degree'
              |   AND ss_sales_price BETWEEN 50 AND 200
              |   AND ca_country = 'United States' AND ca_state IN ('MT','OR','IN')
              |   AND ss_net_profit BETWEEN 150 AND 3000)
              |  OR (cd_marital_status = 'M' AND cd_education_status = '4 yr Degree'
              |   AND ss_sales_price BETWEEN 150 AND 200
              |   AND ca_country = 'United States' AND ca_state IN ('WI','MO','WV')
              |   AND ss_net_profit BETWEEN 50 AND 25000))""".stripMargin)),

    // q11 (corr of review stats vs revenue window) — the Exact.dcorr
    // closed form, decimal components cast to double, round-6.
    Q("b41_bdb_q11", (s, _) => {
      reg(s)
      BdbQueries1.q11(s)
    },
      Some(s"""WITH dd AS (
              |  SELECT d_date_sk FROM ${rp("date_dim")}
              |  WHERE CAST(d_date AS DATE) >= DATE '2003-01-02'
              |    AND CAST(d_date AS DATE) < DATE '2003-02-02'),
              |rev AS (
              |  SELECT ws_item_sk, SUM(ws_net_paid) AS revenue
              |  FROM ${rp("web_sales")} JOIN dd ON ws_sold_date_sk = d_date_sk
              |  GROUP BY 1),
              |rat AS (
              |  SELECT pr_item_sk, COUNT(*) AS review_count,
              |    CAST(SUM(pr_review_rating) AS DOUBLE) / COUNT(*) AS avg_rating
              |  FROM ${rp("product_reviews")} GROUP BY 1),
              |j AS (SELECT CAST(review_count AS DOUBLE) AS x, avg_rating AS y
              |      FROM rev JOIN rat ON ws_item_sk = pr_item_sk),
              |c AS (
              |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
              |    CAST(SUM(CAST(x AS DECIMAL(14,2))) AS DOUBLE) AS sx,
              |    CAST(SUM(CAST(y AS DECIMAL(14,2))) AS DOUBLE) AS sy,
              |    CAST(SUM(CAST(x AS DECIMAL(14,2)) * CAST(x AS DECIMAL(14,2))) AS DOUBLE) AS sxx,
              |    CAST(SUM(CAST(y AS DECIMAL(14,2)) * CAST(y AS DECIMAL(14,2))) AS DOUBLE) AS syy,
              |    CAST(SUM(CAST(x AS DECIMAL(14,2)) * CAST(y AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
              |    COUNT(*) AS n_items
              |  FROM j)
              |SELECT CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0
              |    THEN round((n*sxy - sx*sy) /
              |      sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) + 0 END
              |    AS corr_reviews_rating,
              |  n_items
              |FROM c""".stripMargin)),

    // q12 (click online, buy in store within 90 days).
    Q("b42_bdb_q12", (s, _) => {
      reg(s)
      BdbQueries1.q12(s)
    },
      Some(s"""WITH it AS (SELECT i_item_sk FROM ${rp("item")}
              |           WHERE i_category IN ('Books','Electronics')),
              |cl AS (
              |  SELECT wcs_user_sk AS u, wcs_click_date_sk AS cd
              |  FROM ${rp("web_clickstreams")} JOIN it ON wcs_item_sk = i_item_sk
              |  WHERE wcs_user_sk IS NOT NULL),
              |sa AS (
              |  SELECT ss_customer_sk AS u2, ss_sold_date_sk AS sd
              |  FROM ${rp("store_sales")} JOIN it ON ss_item_sk = i_item_sk
              |  WHERE ss_customer_sk IS NOT NULL)
              |SELECT DISTINCT u AS user_sk
              |FROM cl JOIN sa ON u = u2 AND cd < sd AND sd - cd <= 90""".stripMargin)),

    // q14 (am/pm web-sales ratio for dep_count=5 households on
    // 5000-6000-char pages).
    Q("b43_bdb_q14", (s, _) => {
      reg(s)
      BdbQueries1.q14(s)
    },
      Some(s"""WITH hd AS (SELECT hd_demo_sk FROM ${rp("household_demographics")}
              |           WHERE hd_dep_count = 5),
              |wp AS (SELECT wp_web_page_sk FROM ${rp("web_page")}
              |       WHERE wp_char_count BETWEEN 5000 AND 6000),
              |a AS (
              |  SELECT
              |    CAST(SUM(CASE WHEN t_hour BETWEEN 7 AND 8 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS amc,
              |    CAST(SUM(CASE WHEN t_hour BETWEEN 19 AND 20 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS pmc
              |  FROM ${rp("web_sales")}
              |  JOIN hd ON ws_ship_hdemo_sk = hd_demo_sk
              |  JOIN wp ON ws_web_page_sk = wp_web_page_sk
              |  JOIN ${rp("time_dim")} t ON ws_sold_time_sk = t_time_sk)
              |SELECT CASE WHEN pmc > 0 THEN CAST(amc AS DOUBLE) / pmc END
              |    AS am_pm_ratio, amc, pmc
              |FROM a""".stripMargin)),

    // q15 (declining store categories): closed-form least-squares
    // slope/intercept per category for store 10 — the b15/b18 decimal
    // component recipe, slope AND intercept rounded to 6.
    Q("b44_bdb_q15", (s, _) => {
      reg(s)
      BdbQueries1.q15(s)
    },
      Some(s"""WITH dd AS (
              |  SELECT d_date_sk FROM ${rp("date_dim")}
              |  WHERE CAST(d_date AS DATE) >= DATE '2001-09-02'
              |    AND CAST(d_date AS DATE) < DATE '2002-09-02'),
              |daily AS (
              |  SELECT i_category_id AS cat, ss_sold_date_sk AS d,
              |    SUM(ss_net_paid) AS rev
              |  FROM ${rp("store_sales")} JOIN dd ON ss_sold_date_sk = d_date_sk
              |  JOIN ${rp("item")} i ON ss_item_sk = i_item_sk
              |  WHERE ss_store_sk = 10 AND i_category_id IS NOT NULL
              |  GROUP BY 1, 2),
              |sums AS (
              |  SELECT cat, CAST(COUNT(*) AS DOUBLE) AS n,
              |    CAST(SUM(CAST(d AS DECIMAL(18,0))) AS DOUBLE) AS sx,
              |    CAST(SUM(CAST(rev AS DECIMAL(14,2))) AS DOUBLE) AS sy,
              |    CAST(SUM(CAST(d AS DECIMAL(18,0)) * CAST(d AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
              |    CAST(SUM(CAST(d AS DECIMAL(18,0)) * CAST(rev AS DECIMAL(14,2))) AS DOUBLE) AS sxy
              |  FROM daily GROUP BY cat),
              |fit AS (
              |  SELECT cat,
              |    CASE WHEN n*sxx - sx*sx <> 0
              |      THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END AS raw
              |  , n, sx, sy FROM sums)
              |SELECT cat, round(raw, 6) + 0 AS slope,
              |  round((sy - raw * sx) / n, 6) + 0 AS intercept
              |FROM fit WHERE round(raw, 6) + 0 <= 0
              |ORDER BY cat""".stripMargin)),

    // q17 (promoted sales ratio, one month / one timezone band) —
    // decimal sums cast to DOUBLE both sides, the b33 rule.
    Q("b45_bdb_q17", (s, _) => {
      reg(s)
      BdbQueries2.q17(s)
        .select(col("promotional").cast("double").as("promotional"),
          col("total").cast("double").as("total"), col("promo_pct"))
    },
      Some(s"""WITH dd AS (SELECT d_date_sk FROM ${rp("date_dim")}
              |           WHERE d_year = 2001 AND d_moy = 12),
              |st AS (SELECT s_store_sk FROM ${rp("store")}
              |       WHERE s_gmt_offset = -5.0),
              |a AS (
              |  SELECT
              |    SUM(CASE WHEN p_channel_dmail = 'Y' OR p_channel_email = 'Y'
              |      OR p_channel_tv = 'Y' THEN ss_ext_sales_price END) AS promo,
              |    SUM(ss_ext_sales_price) AS total
              |  FROM ${rp("store_sales")}
              |  JOIN dd ON ss_sold_date_sk = d_date_sk
              |  JOIN st ON ss_store_sk = s_store_sk
              |  JOIN ${rp("promotion")} p ON ss_promo_sk = p_promo_sk)
              |SELECT CAST(promo AS DOUBLE) AS promotional,
              |  CAST(total AS DOUBLE) AS total,
              |  CASE WHEN total IS NOT NULL AND total <> 0
              |    THEN CAST(COALESCE(promo, 0) AS DOUBLE) * 100.0
              |      / CAST(total AS DOUBLE) END AS promo_pct
              |FROM a""".stripMargin)),

    // q18 (declining stores named in reviews): slope filter + the
    // multi-needle store-name match as a contains join (the needle
    // list is distinct and no fixture store name is a substring of
    // another, so per-sentence results match Aho-Corasick's distinct
    // matches exactly).
    Q("b46_bdb_q18", (s, _) => {
      reg(s)
      BdbQueries2.q18(s)
    },
      Some {
        val negcond = BdbQueries1.defaultNegative
          .map(w => s"instr(sentence, '$w') > 0").mkString("\n              |    OR ")
        s"""WITH dd AS (
           |  SELECT d_date_sk FROM ${rp("date_dim")}
           |  WHERE CAST(d_date AS DATE) >= DATE '2001-05-02'
           |    AND CAST(d_date AS DATE) < DATE '2001-09-02'),
           |daily AS (
           |  SELECT ss_store_sk AS st, ss_sold_date_sk AS d,
           |    SUM(ss_net_paid) AS rev
           |  FROM ${rp("store_sales")} JOIN dd ON ss_sold_date_sk = d_date_sk
           |  GROUP BY 1, 2),
           |sums AS (
           |  SELECT st, CAST(COUNT(*) AS DOUBLE) AS n,
           |    CAST(SUM(CAST(d AS DECIMAL(18,0))) AS DOUBLE) AS sx,
           |    CAST(SUM(CAST(rev AS DECIMAL(14,2))) AS DOUBLE) AS sy,
           |    CAST(SUM(CAST(d AS DECIMAL(18,0)) * CAST(d AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
           |    CAST(SUM(CAST(d AS DECIMAL(18,0)) * CAST(rev AS DECIMAL(14,2))) AS DOUBLE) AS sxy
           |  FROM daily GROUP BY st),
           |decl AS (
           |  SELECT s_store_sk, lower(s_store_name) AS store_name
           |  FROM sums JOIN ${rp("store")} st2 ON st = s_store_sk
           |  WHERE n*sxx - sx*sx <> 0
           |    AND round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) + 0 <= 0),
           |rev AS (
           |  SELECT pr_review_sk, pr_review_date,
           |    lower(pr_review_content) AS content
           |  FROM ${rp("product_reviews")} WHERE pr_review_content IS NOT NULL),
           |sen AS (
           |  SELECT pr_review_sk, pr_review_date,
           |    unnest(string_split(
           |      regexp_replace(content, '[.?!]', 'è', 'g'), 'è')) AS sentence
           |  FROM rev),
           |sen2 AS (SELECT * FROM sen WHERE len(trim(sentence)) > 0)
           |SELECT s_store_sk AS store_sk, store_name,
           |  pr_review_date AS review_date, sentence,
           |  CASE WHEN $negcond
           |  THEN 'NEG' ELSE 'POS' END AS sentiment
           |FROM sen2 JOIN decl ON instr(sentence, store_name) > 0""".stripMargin
      }),

    // q19 (balanced-returns items' negative review sentences): the
    // default return dates don't week-align at floor scale, so the
    // fixture parameterization picks four weeks where store and web
    // returns balance within +/-10% (the b31 rescale rule) — chosen
    // by probe so the FULL pipeline (balance + negative-sentence
    // scan) is non-vacuous at BOTH committed fixture scales (item 58
    // at floor and at x3), keeping the two-scale run a real gate.
    Q("b47_bdb_q19", (s, _) => {
      reg(s)
      BdbQueries2.q19(s, returnDates =
        Seq("2002-04-22", "2002-06-24", "2002-07-22", "2003-09-08"))
    },
      Some {
        val negcond = BdbQueries1.defaultNegative
          .map(w => s"instr(sentence, '$w') > 0").mkString("\n              |   OR ")
        s"""WITH wk AS (
           |  SELECT DISTINCT d_week_seq FROM ${rp("date_dim")}
           |  WHERE CAST(d_date AS DATE) IN (DATE '2002-04-22',
           |    DATE '2002-06-24', DATE '2002-07-22', DATE '2003-09-08')),
           |dd AS (SELECT d_date_sk FROM ${rp("date_dim")} d2
           |       JOIN wk USING (d_week_seq)),
           |sr AS (
           |  SELECT sr_item_sk AS item_sk, SUM(sr_return_quantity) AS sq
           |  FROM ${rp("store_returns")} JOIN dd ON sr_returned_date_sk = d_date_sk
           |  GROUP BY 1),
           |wr AS (
           |  SELECT wr_item_sk AS item_sk, SUM(wr_return_quantity) AS wq
           |  FROM ${rp("web_returns")} JOIN dd ON wr_returned_date_sk = d_date_sk
           |  GROUP BY 1),
           |bal AS (
           |  SELECT item_sk FROM sr JOIN wr USING (item_sk)
           |  WHERE wq > 0 AND CAST(sq AS DOUBLE) >= wq * 0.9
           |    AND CAST(sq AS DOUBLE) <= wq * 1.1),
           |rev AS (
           |  SELECT pr_item_sk, pr_review_sk,
           |    lower(pr_review_content) AS content
           |  FROM ${rp("product_reviews")} JOIN bal ON pr_item_sk = item_sk
           |  WHERE pr_review_content IS NOT NULL),
           |sen AS (
           |  SELECT pr_item_sk, pr_review_sk,
           |    unnest(string_split(
           |      regexp_replace(content, '[.?!]', 'è', 'g'), 'è')) AS sentence
           |  FROM rev),
           |sen2 AS (SELECT * FROM sen WHERE len(trim(sentence)) > 0)
           |SELECT pr_item_sk AS item_sk, pr_review_sk, sentence
           |FROM sen2
           |WHERE $negcond
           |ORDER BY 1, 2, 3""".stripMargin
      }),

    // q21 (returned then re-bought on the web).
    Q("b48_bdb_q21", (s, _) => {
      reg(s)
      BdbQueries2.q21(s)
    },
      Some(s"""WITH d1 AS (SELECT d_date_sk FROM ${rp("date_dim")}
              |           WHERE d_year = 2003 AND d_moy = 1),
              |d2 AS (SELECT d_date_sk FROM ${rp("date_dim")}
              |      WHERE d_year = 2003 AND d_moy BETWEEN 1 AND 7),
              |d3 AS (SELECT d_date_sk FROM ${rp("date_dim")}
              |      WHERE d_year BETWEEN 2003 AND 2005)
              |SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
              |  CAST(SUM(ss_quantity) AS BIGINT) AS store_sales_quantity,
              |  CAST(SUM(sr_return_quantity) AS BIGINT) AS store_returns_quantity,
              |  CAST(SUM(ws_quantity) AS BIGINT) AS web_sales_quantity
              |FROM ${rp("store_sales")}
              |JOIN d1 ON ss_sold_date_sk = d1.d_date_sk
              |JOIN ${rp("store_returns")} sr ON ss_item_sk = sr_item_sk
              |  AND ss_customer_sk = sr_customer_sk
              |  AND ss_ticket_number = sr_ticket_number
              |JOIN d2 ON sr_returned_date_sk = d2.d_date_sk
              |JOIN ${rp("web_sales")} ws ON sr_item_sk = ws_item_sk
              |  AND sr_customer_sk = ws_bill_customer_sk
              |JOIN d3 ON ws_sold_date_sk = d3.d_date_sk
              |JOIN ${rp("item")} i ON ss_item_sk = i_item_sk
              |JOIN ${rp("store")} st ON ss_store_sk = s_store_sk
              |GROUP BY 1, 2, 3, 4
              |ORDER BY store_sales_quantity DESC, i_item_id, s_store_id
              |LIMIT 100""".stripMargin)),

    // q22 (inventory before/after a price-change date, ratio-banded).
    Q("b49_bdb_q22", (s, _) => {
      reg(s)
      BdbQueries2.q22(s)
    },
      Some(s"""WITH dd AS (
              |  SELECT d_date_sk, CAST(d_date AS DATE) AS dd
              |  FROM ${rp("date_dim")}
              |  WHERE abs(datediff('day', DATE '2001-05-08',
              |    CAST(d_date AS DATE))) <= 30),
              |it AS (SELECT i_item_sk, i_item_id FROM ${rp("item")}
              |       WHERE i_current_price BETWEEN 0.98 AND 1.5)
              |SELECT w_warehouse_name, i_item_id,
              |  CAST(SUM(CASE WHEN dd < DATE '2001-05-08'
              |    THEN inv_quantity_on_hand ELSE 0 END) AS BIGINT) AS inv_before,
              |  CAST(SUM(CASE WHEN dd >= DATE '2001-05-08'
              |    THEN inv_quantity_on_hand ELSE 0 END) AS BIGINT) AS inv_after
              |FROM ${rp("inventory")}
              |JOIN dd ON inv_date_sk = d_date_sk
              |JOIN it ON inv_item_sk = i_item_sk
              |JOIN ${rp("warehouse")} w ON inv_warehouse_sk = w_warehouse_sk
              |GROUP BY 1, 2
              |HAVING inv_before > 0
              |  AND CAST(inv_after AS DOUBLE) / inv_before >= 2.0 / 3.0
              |  AND CAST(inv_after AS DOUBLE) / inv_before <= 3.0 / 2.0
              |ORDER BY 1, 2 LIMIT 100""".stripMargin)),

    // q23 (inventory cov >= 1.3 in two consecutive months) — the
    // Exact.dstddev/davg recipe: sample stddev from exact decimal
    // components rounded to 6, THEN the cov ratio rounded to 6.
    Q("b50_bdb_q23", (s, _) => {
      reg(s)
      BdbQueries2.q23(s)
    },
      Some(s"""WITH dd AS (SELECT d_date_sk, d_moy FROM ${rp("date_dim")}
              |           WHERE d_year = 2001 AND d_moy IN (1, 2)),
              |g AS (
              |  SELECT inv_warehouse_sk AS w, inv_item_sk AS i, d_moy,
              |    CAST(COUNT(*) AS DOUBLE) AS n,
              |    CAST(SUM(CAST(inv_quantity_on_hand AS DECIMAL(14,2))) AS DOUBLE) AS sx,
              |    CAST(SUM(CAST(inv_quantity_on_hand AS DECIMAL(14,2))
              |      * CAST(inv_quantity_on_hand AS DECIMAL(14,2))) AS DOUBLE) AS sxx
              |  FROM ${rp("inventory")} JOIN dd ON inv_date_sk = d_date_sk
              |  GROUP BY 1, 2, 3),
              |st AS (
              |  SELECT w, i, d_moy, sx / n AS mean,
              |    CASE WHEN n > 1
              |      THEN round(sqrt(GREATEST(n*sxx - sx*sx, 0.0) / (n*(n-1))), 6) + 0
              |    END AS sd
              |  FROM g),
              |cov AS (
              |  SELECT w, i, d_moy, round(sd / mean, 6) + 0 AS cov
              |  FROM st WHERE mean > 0 AND sd >= mean * 1.3)
              |SELECT m1.w AS inv_warehouse_sk, m1.i AS inv_item_sk,
              |  m1.cov AS cov_m1, m2.cov AS cov_m2
              |FROM cov m1 JOIN cov m2 ON m1.w = m2.w AND m1.i = m2.i
              |  AND m1.d_moy = 1 AND m2.d_moy = 2
              |ORDER BY 1, 2""".stripMargin)),

    // q24 (cross-price elasticity): item 3 is the one fixture item
    // with sales on both channels inside a competitor price window;
    // the elasticity is rounded to 6 on BOTH sides (raw double
    // division otherwise hash-fragile).
    Q("b51_bdb_q24", (s, _) => {
      reg(s)
      BdbQueries2.q24(s, itemSk = 3L)
        .select(round(col("cross_price_elasticity"), 6)
          .as("cross_price_elasticity"), col("ws_item_sk"))
    },
      Some(s"""WITH pc AS (
              |  SELECT i_item_sk, imp_sk,
              |    CAST(imp_competitor_price - i_current_price AS DOUBLE)
              |      / CAST(i_current_price AS DOUBLE) AS price_change,
              |    imp_start_date, imp_end_date - imp_start_date AS no_days
              |  FROM ${rp("item_marketprices")}
              |  JOIN ${rp("item")} i ON imp_item_sk = i_item_sk
              |  WHERE i_item_sk = 3),
              |ssp AS (SELECT imp_sk, price_change, SUM(ss_quantity) AS ss_prev
              |  FROM ${rp("store_sales")} JOIN pc ON ss_item_sk = i_item_sk
              |  WHERE ss_sold_date_sk >= imp_start_date - no_days
              |    AND ss_sold_date_sk < imp_start_date GROUP BY 1, 2),
              |ssc AS (SELECT imp_sk, price_change, SUM(ss_quantity) AS ss_curr
              |  FROM ${rp("store_sales")} JOIN pc ON ss_item_sk = i_item_sk
              |  WHERE ss_sold_date_sk >= imp_start_date
              |    AND ss_sold_date_sk < imp_start_date + no_days GROUP BY 1, 2),
              |wsp AS (SELECT imp_sk, price_change, SUM(ws_quantity) AS ws_prev
              |  FROM ${rp("web_sales")} JOIN pc ON ws_item_sk = i_item_sk
              |  WHERE ws_sold_date_sk >= imp_start_date - no_days
              |    AND ws_sold_date_sk < imp_start_date GROUP BY 1, 2),
              |wsc AS (SELECT imp_sk, price_change, SUM(ws_quantity) AS ws_curr
              |  FROM ${rp("web_sales")} JOIN pc ON ws_item_sk = i_item_sk
              |  WHERE ws_sold_date_sk >= imp_start_date
              |    AND ws_sold_date_sk < imp_start_date + no_days GROUP BY 1, 2),
              |j AS (
              |  SELECT CAST(ss_curr + ws_curr - ss_prev - ws_prev AS DOUBLE)
              |    / (CAST(ss_prev + ws_prev AS DOUBLE) * price_change) AS delta
              |  FROM ssp JOIN ssc USING (imp_sk, price_change)
              |  JOIN wsp USING (imp_sk, price_change)
              |  JOIN wsc USING (imp_sk, price_change))
              |SELECT round(SUM(delta) / COUNT(delta), 6) + 0
              |    AS cross_price_elasticity,
              |  CAST(3 AS BIGINT) AS ws_item_sk
              |FROM j""".stripMargin)),

    // q29 (categories co-purchased in one web order).
    Q("b52_bdb_q29", (s, _) => {
      reg(s)
      BdbQueries2.q29(s)
    },
      Some(s"""WITH b AS (
              |  SELECT DISTINCT ws_order_number AS o, i_category_id AS cid,
              |    i_category AS cat
              |  FROM ${rp("web_sales")}
              |  JOIN ${rp("item")} i ON ws_item_sk = i_item_sk
              |  WHERE i_category_id IS NOT NULL)
              |SELECT a.cat AS category_1, c.cat AS category_2, COUNT(*) AS cnt
              |FROM b a JOIN b c ON a.o = c.o AND a.cid < c.cid
              |GROUP BY 1, 2 ORDER BY cnt DESC, category_1, category_2
              |LIMIT 100""".stripMargin)),

    // q30 (categories co-viewed in one click session).
    Q("b53_bdb_q30", (s, _) => {
      reg(s)
      assertNoUserTsCollisions(s)
      BdbQueries2.q30(s)
    },
      Some(s"""WITH c AS (
              |  SELECT wcs_user_sk AS u, i_category AS cat,
              |    wcs_click_date_sk * 86400 + wcs_click_time_sk AS ts
              |  FROM ${rp("web_clickstreams")}
              |  JOIN ${rp("item")} i ON wcs_item_sk = i_item_sk
              |  WHERE wcs_user_sk IS NOT NULL AND wcs_item_sk IS NOT NULL
              |    AND i_category_id IS NOT NULL),
              |f AS (
              |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
              |      OR ts - lag(ts) OVER w > 3600 THEN 1 ELSE 0 END AS new_s
              |  FROM c WINDOW w AS (PARTITION BY u ORDER BY ts)),
              |sess AS (
              |  SELECT u, cat, SUM(new_s) OVER (PARTITION BY u ORDER BY ts
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
              |  FROM f),
              |su AS (SELECT DISTINCT u, seq, cat FROM sess)
              |SELECT a.cat AS category_1, b.cat AS category_2, COUNT(*) AS cnt
              |FROM su a JOIN su b ON a.u = b.u AND a.seq = b.seq AND a.cat < b.cat
              |GROUP BY 1, 2 ORDER BY cnt DESC, category_1, category_2
              |LIMIT 40""".stripMargin)),

    // The four MLlib queries' DETERMINISTIC cores: q05/q20/q25/q26
    // build a relational feature frame and hand it to a fit
    // (LogisticRegression / KMeans). The fits stay on MLlib parity
    // thresholds (no replayable oracle exists for an iterative
    // float optimizer), but the feature construction is plain
    // relational algebra — gate it like everything else. These call
    // the REAL qNNFeatures methods the fits consume.
    Q("b54_bdb_q05_features", (s, _) => {
      reg(s)
      BdbQueries1.q05Features(s)
        .select(col("wcs_user_sk"), col("clicks_total"),
          col("clicks_in_category").cast("bigint").as("clicks_in_category"),
          col("college_education"), col("male"), col("label"))
        .orderBy("wcs_user_sk")
    },
      Some(s"""WITH clicks AS (
              |  SELECT wcs_user_sk AS u, COUNT(*) AS clicks_total,
              |    SUM(CASE WHEN i_category_id = 1 THEN 1 ELSE 0 END)
              |      AS clicks_in_category
              |  FROM ${rp("web_clickstreams")}
              |  JOIN ${rp("item")} i ON wcs_item_sk = i_item_sk
              |  WHERE wcs_user_sk IS NOT NULL GROUP BY 1)
              |SELECT u AS wcs_user_sk, clicks_total,
              |  CAST(clicks_in_category AS BIGINT) AS clicks_in_category,
              |  CAST(CASE WHEN cd_education_status IN ('Advanced Degree',
              |    'College', '4 yr Degree', '2 yr Degree')
              |    THEN 1.0 ELSE 0.0 END AS DOUBLE) AS college_education,
              |  CAST(CASE WHEN cd_gender = 'M' THEN 1.0 ELSE 0.0 END
              |    AS DOUBLE) AS male,
              |  CAST(CASE WHEN clicks_in_category > 0 THEN 1.0 ELSE 0.0 END
              |    AS DOUBLE) AS label
              |FROM clicks JOIN ${rp("customer")} c ON u = c_customer_sk
              |JOIN ${rp("customer_demographics")} cd
              |  ON c_current_cdemo_sk = cd_demo_sk
              |ORDER BY wcs_user_sk""".stripMargin)),

    Q("b55_bdb_q20_features", (s, _) => {
      reg(s)
      BdbQueries2.q20Features(s)
        .select(col("cust"),
          round(col("order_ratio"), 6).as("order_ratio"),
          round(col("item_ratio"), 6).as("item_ratio"),
          round(col("amount_ratio"), 6).as("amount_ratio"))
        .orderBy("cust")
    },
      Some(s"""WITH $q20SalesRetCtes
              |SELECT s.cust,
              |  round(${q20RatioExprs(0)}, 6) + 0 AS order_ratio,
              |  round(${q20RatioExprs(1)}, 6) + 0 AS item_ratio,
              |  round(${q20RatioExprs(2)}, 6) + 0 AS amount_ratio
              |FROM sales s LEFT JOIN ret r USING (cust)
              |ORDER BY s.cust""".stripMargin)),

    Q("b56_bdb_q25_features", (s, _) => {
      reg(s)
      BdbQueries2.q25Features(s)
        .orderBy("cid")
    },
      Some(s"""WITH $q25BaseCtes
              |SELECT cid,
              |  ${q25FeatureExprs(0)} AS recency,
              |  ${q25FeatureExprs(1)} AS frequency,
              |  ${q25FeatureExprs(2)} AS totalspend
              |FROM a GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("b57_bdb_q26_features", (s, _) => {
      reg(s)
      BdbQueries2.q26Features(s)
        .orderBy("cid")
    },
      Some(s"""WITH ${q26BaseCtes("id", "cid")}
              |SELECT * FROM f0 WHERE total > 5 ORDER BY cid"""
        .stripMargin)),

    // q27's DEFAULT extractor (capitalized-span "NER") re-expressed
    // relationally: maximal runs of capitalized letter-tokens are a
    // gaps-and-islands grouping over token positions. The reference
    // treats the tagger as pluggable/unverified; the default tagger
    // is a pure function, so its composition with the sentence
    // explode IS verifiable — this gate replays it exactly (letters
    // stripped per token, runs broken by non-capitalized or
    // letterless tokens, spans distinct within a sentence ROW, with
    // a sentence ordinal so duplicate sentence texts don't merge).
    // Item 1 is the lowest fixture item with reviews (10002 assumes
    // SF-scale).
    Q("b58_bdb_q27", (s, _) => {
      reg(s)
      BdbQueries2.q27(s, itemSk = 1L)
    },
      Some(s"""WITH sen AS (
              |  SELECT pr_review_sk, pr_item_sk,
              |    generate_subscripts(string_split(
              |      regexp_replace(pr_review_content, '[.?!]', 'è', 'g'),
              |      'è'), 1) AS sid,
              |    unnest(string_split(
              |      regexp_replace(pr_review_content, '[.?!]', 'è', 'g'),
              |      'è')) AS sentence
              |  FROM ${rp("product_reviews")}
              |  WHERE pr_item_sk = 1 AND pr_review_content IS NOT NULL),
              |sen2 AS (SELECT * FROM sen WHERE len(trim(sentence)) > 0),
              |tok AS (
              |  SELECT pr_review_sk, pr_item_sk, sid, sentence,
              |    generate_subscripts(
              |      regexp_split_to_array(sentence, '\\s+'), 1) AS pos,
              |    unnest(regexp_split_to_array(sentence, '\\s+')) AS t
              |  FROM sen2),
              |w AS (
              |  SELECT *, regexp_replace(t, '[^a-zA-Z]', '', 'g') AS wl
              |  FROM tok),
              |kept AS (
              |  SELECT *, pos - row_number() OVER (
              |      PARTITION BY pr_review_sk, sid ORDER BY pos) AS isl
              |  FROM w
              |  WHERE len(wl) > 0 AND substr(wl, 1, 1) BETWEEN 'A' AND 'Z'),
              |spans AS (
              |  SELECT pr_review_sk, pr_item_sk, sid, sentence,
              |    string_agg(wl, ' ' ORDER BY pos) AS company_name
              |  FROM kept GROUP BY pr_review_sk, pr_item_sk, sid, sentence, isl),
              |dist AS (
              |  SELECT DISTINCT pr_review_sk AS review_sk,
              |    pr_item_sk AS item_sk, sid, company_name, sentence
              |  FROM spans)
              |SELECT review_sk, item_sk, company_name,
              |  sentence AS review_sentence
              |FROM dist
              |ORDER BY review_sk, company_name, review_sentence""".stripMargin)),

    // q28 (hashed-NB sentiment confusion matrix) — the REAL query on
    // its real 2^23 murmur3 bucket path. The oracle cannot replay
    // Spark's engine-private hash, but it doesn't need to: the
    // committed fixture's token set (103 distinct uni+bigrams) maps
    // INJECTIVELY into 2^23 buckets, so bucket-keyed counts equal
    // word-keyed counts and a word-keyed NB with the SAME smoothing
    // constants (alpha=0.001, F=2^23, 3 classes) produces the
    // identical integer confusion matrix. Injectivity is a fixed
    // property of the committed fixture (not of the algorithm —
    // that's what the MLlib pin in BdbQueriesSpec covers); a fixture
    // regeneration that broke it would fail this gate loudly.
    Q("b59_bdb_q28", (s, _) => {
      reg(s)
      BdbQueries2.q28(s)
    },
      Some(s"""WITH r AS (
              |  SELECT pr_review_sk,
              |    CASE WHEN pr_review_rating <= 2 THEN 0.0
              |         WHEN pr_review_rating = 3 THEN 1.0 ELSE 2.0 END AS label,
              |    regexp_split_to_array(lower(pr_review_content),
              |      '[^a-z'']+') AS ws
              |  FROM ${rp("product_reviews")}
              |  WHERE pr_review_content IS NOT NULL
              |    AND pr_review_rating IS NOT NULL),
              |w AS (
              |  SELECT pr_review_sk, label,
              |    generate_subscripts(ws, 1) AS pos, unnest(ws) AS word
              |  FROM r),
              |toks AS (
              |  SELECT pr_review_sk, label, word FROM w
              |  UNION ALL
              |  SELECT a.pr_review_sk, a.label, a.word || ' ' || b.word
              |  FROM w a JOIN w b ON a.pr_review_sk = b.pr_review_sk
              |    AND b.pos = a.pos + 1),
              |tr AS (SELECT * FROM toks WHERE pr_review_sk % 10 <> 0),
              |te AS (SELECT * FROM toks WHERE pr_review_sk % 10 = 0),
              |cb AS (SELECT label AS c, word, COUNT(*) AS ct
              |       FROM tr GROUP BY 1, 2),
              |ctot AS (SELECT c, SUM(ct) AS tot FROM cb GROUP BY 1),
              |theta AS (
              |  SELECT c, word, ln((ct + 0.001) / (tot + 0.001 * 8388608))
              |    AS lp
              |  FROM cb JOIN ctot USING (c)),
              |deflp AS (SELECT c, ln(0.001 / (tot + 0.001 * 8388608))
              |            AS def_lp FROM ctot),
              |trd AS (SELECT DISTINCT pr_review_sk, label
              |        FROM r WHERE pr_review_sk % 10 <> 0),
              |nd AS (SELECT COUNT(*) AS n FROM trd),
              |pri AS (
              |  SELECT label AS c,
              |    ln((COUNT(*) + 0.001) / (n + 0.001 * 3)) AS lprior
              |  FROM trd, nd GROUP BY label, n),
              |scored AS (
              |  SELECT te.pr_review_sk, te.label AS true_label, d.c,
              |    SUM(COALESCE(t.lp, d.def_lp)) AS ll
              |  FROM te CROSS JOIN deflp d
              |  LEFT JOIN theta t ON t.c = d.c AND t.word = te.word
              |  GROUP BY 1, 2, 3),
              |fin AS (
              |  SELECT pr_review_sk, true_label, c,
              |    ll + lprior AS score
              |  FROM scored JOIN pri USING (c)),
              |pred AS (
              |  SELECT pr_review_sk, true_label, c AS pred_label,
              |    row_number() OVER (PARTITION BY pr_review_sk, true_label
              |      ORDER BY score DESC, c) AS rn
              |  FROM fin)
              |SELECT true_label, pred_label, COUNT(*) AS n
              |FROM pred WHERE rn = 1
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  ) ++ lloydGates ++ linFitGate

  /** Unrolled exact-Lloyd SQL for the b61–b63 k-means gates: replays
    * [[graft.ops.ExactLloyd.fitLabels]] verbatim — quantize each
    * feature to integer units, seed with the k smallest ids, `iters`
    * rounds of (integer-L2 argmin with lowest-cid tie-break, exact
    * floor-division recenter), then a final assignment whose labels
    * and summed squared distances (WSSSE) are the result. `featSql`
    * must yield columns (id, f1..fN); `outId` names the id column in
    * the 3-column (outId, cluster, wssse) output.
    */
  private def lloydSql(featSql: String, nDims: Int, k: Int, iters: Int,
      unit: Long, outId: String): String = {
    val eq = (1 to nDims).map(i =>
      s"""SELECT id, ${i - 1} AS dim,
         |    CAST(round(f$i * $unit, 0) AS BIGINT) AS v FROM f""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    val steps = (0 until iters).map { i =>
      s"""s${i + 1} AS (
         |  SELECT e.id, c.cid, SUM((e.v - c.cv) * (e.v - c.cv)) AS d2
         |  FROM eq e JOIN c$i c USING (dim) GROUP BY e.id, c.cid),
         |a${i + 1} AS (
         |  SELECT id, cid FROM (
         |    SELECT id, cid, ROW_NUMBER() OVER (
         |      PARTITION BY id ORDER BY d2, cid) AS rn FROM s${i + 1})
         |  WHERE rn = 1),
         |c${i + 1} AS (
         |  SELECT cid, dim, (sv - (((sv % n) + n) % n)) // n AS cv FROM (
         |    SELECT a.cid, e.dim, CAST(SUM(e.v) AS BIGINT) AS sv,
         |      COUNT(*) AS n
         |    FROM a${i + 1} a JOIN eq e USING (id) GROUP BY a.cid, e.dim))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $featSql,
       |eq AS (
       |  $eq),
       |seeds AS (SELECT DISTINCT id FROM eq ORDER BY id LIMIT $k),
       |c0 AS (SELECT e.id AS cid, e.dim, e.v AS cv
       |       FROM eq e JOIN seeds s USING (id)),
       |$steps,
       |sf AS (
       |  SELECT e.id, c.cid, SUM((e.v - c.cv) * (e.v - c.cv)) AS d2
       |  FROM eq e JOIN c$iters c USING (dim) GROUP BY e.id, c.cid),
       |af AS (
       |  SELECT id, cid, d2 FROM (
       |    SELECT id, cid, d2, ROW_NUMBER() OVER (
       |      PARTITION BY id ORDER BY d2, cid) AS rn FROM sf)
       |  WHERE rn = 1),
       |w AS (SELECT CAST(SUM(d2) AS BIGINT) AS wssse FROM af)
       |SELECT af.id AS $outId, af.cid AS cluster, w.wssse
       |FROM af, w ORDER BY af.id""".stripMargin
  }

  /** b61–b63: the q20/q25/q26 k-means fits END TO END deterministic —
    * the REAL qNNFeatures frame feeding an exact-integer Lloyd run
    * (k=8, 3 iterations, smallest-k-ids seeding) whose labels and
    * integer WSSSE the oracle replays iteration by iteration. This
    * retires the last non-replayable verification in the suite: the
    * optimized MLlib fits (kmeans k=8 maxIter=20) stay as the parity
    * check in MlThresholdSpec, matching the reference's own
    * threshold methodology (bdb_tools/utils.py:957-1018).
    *
    * Quantization units are chosen so the sources are EXACT: q20
    * ratios at 1e6 (6-decimal micro-units, the established rounding
    * grain), q25 at 100 (recency 0/1, integer frequency, 2-decimal
    * money — all exact at cents), q26 at 1 (class counts). Unit-space
    * values stay <= ~1e7, so per-row squared distances fit a long
    * with >6 decades of headroom (ExactLloyd sums them in decimal).
    */
  private def lloydGates: Seq[Q] = {
    val iters = 3
    // the f-CTEs re-derive each feature frame from the SAME shared
    // CTE/expression strings the b55-b57 feature gates consume —
    // unrounded here (the Lloyd quantizes at 6 decimals itself)
    val q20Feat =
      s"""$q20SalesRetCtes,
         |f AS (
         |  SELECT s.cust AS id,
         |    ${q20RatioExprs(0)} AS f1,
         |    ${q20RatioExprs(1)} AS f2,
         |    ${q20RatioExprs(2)} AS f3
         |  FROM sales s LEFT JOIN ret r USING (cust))""".stripMargin
    val q25Feat =
      s"""$q25BaseCtes,
         |f AS (
         |  SELECT cid AS id,
         |    ${q25FeatureExprs(0)} AS f1,
         |    ${q25FeatureExprs(1)} AS f2,
         |    ${q25FeatureExprs(2)} AS f3
         |  FROM a GROUP BY 1)""".stripMargin
    val q26Feat =
      s"""${q26BaseCtes("f", "id")},
         |f AS (SELECT * EXCLUDE (total) FROM f0 WHERE total > 5)"""
        .stripMargin
    Seq(
      Q("b61_bdb_q20_kmeans", (s, _) => {
        reg(s)
        graft.ops.ExactLloyd.fitLabels(BdbQueries2.q20Features(s), "cust",
          Seq("order_ratio", "item_ratio", "amount_ratio"),
          k = 8, iters = iters, unit = 1000000L)
      }, Some(lloydSql(q20Feat, 3, 8, iters, 1000000L, "cust"))),
      Q("b62_bdb_q25_kmeans", (s, _) => {
        reg(s)
        graft.ops.ExactLloyd.fitLabels(BdbQueries2.q25Features(s), "cid",
          Seq("recency", "frequency", "totalspend"),
          k = 8, iters = iters, unit = 100L)
      }, Some(lloydSql(q25Feat, 3, 8, iters, 100L, "cid"))),
      Q("b63_bdb_q26_kmeans", (s, _) => {
        reg(s)
        graft.ops.ExactLloyd.fitLabels(BdbQueries2.q26Features(s), "cid",
          (1 to 15).map(i => s"id$i"),
          k = 8, iters = iters, unit = 1L)
      }, Some(lloydSql(q26Feat, 15, 8, iters, 1L, "cid"))))
  }

  /** b64: the q05 classifier fit END TO END deterministic — the REAL
    * q05Features frame feeding [[graft.ops.ExactLinFit]]'s closed-form
    * least-squares linear-probability fit; the oracle evaluates the
    * IDENTICAL Cramer/score expression strings over the identically
    * exact BIGINT moment sums, so coefficients, confusion counts and
    * ppm accuracy all hash-match. The iterated LogisticRegression
    * stays on its AUC/precision parity thresholds, the reference's
    * own q05 methodology (bdb_tools/utils.py:548-581).
    */
  private def linFitGate: Seq[Q] = {
    import graft.ops.ExactLinFit
    val oracle =
      s"""WITH clicks AS (
         |  SELECT wcs_user_sk AS u, COUNT(*) AS clicks_total,
         |    SUM(CASE WHEN i_category_id = 1 THEN 1 ELSE 0 END)
         |      AS clicks_in_category
         |  FROM ${rp("web_clickstreams")}
         |  JOIN ${rp("item")} i ON wcs_item_sk = i_item_sk
         |  WHERE wcs_user_sk IS NOT NULL GROUP BY 1),
         |f AS (
         |  SELECT clicks_total AS x1,
         |    CAST(CASE WHEN cd_education_status IN ('Advanced Degree',
         |      'College', '4 yr Degree', '2 yr Degree')
         |      THEN 1 ELSE 0 END AS BIGINT) AS x2,
         |    CAST(CASE WHEN cd_gender = 'M' THEN 1 ELSE 0 END
         |      AS BIGINT) AS x3,
         |    CAST(CASE WHEN clicks_in_category > 0 THEN 1 ELSE 0 END
         |      AS BIGINT) AS y
         |  FROM clicks JOIN ${rp("customer")} c ON u = c_customer_sk
         |  JOIN ${rp("customer_demographics")} cd
         |    ON c_current_cdemo_sk = cd_demo_sk),
         |s AS (
         |  SELECT ${ExactLinFit.sumsSql}
         |  FROM f),
         |c AS (
         |  SELECT ${ExactLinFit.coefStrs(0)} AS b0,
         |    ${ExactLinFit.coefStrs(1)} AS b1,
         |    ${ExactLinFit.coefStrs(2)} AS b2,
         |    ${ExactLinFit.coefStrs(3)} AS b3
         |  FROM s),
         |p AS (
         |  SELECT y, CASE WHEN ${ExactLinFit.predStr} >= 0.5
         |    THEN 1 ELSE 0 END AS pred
         |  FROM f, c)
         |SELECT c.b0, c.b1, c.b2, c.b3,
         |  CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fp,
         |  CAST(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fn,
         |  CAST(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tn,
         |  CAST((SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS acc_ppm
         |FROM p, c GROUP BY 1, 2, 3, 4""".stripMargin
    Seq(Q("b64_bdb_q05_linfit", (s, _) => {
      reg(s)
      ExactLinFit.fitStats(BdbQueries1.q05Features(s),
        "clicks_total", "college_education", "male", "label")
    }, Some(oracle)))
  }
}
