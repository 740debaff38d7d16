package graft.bdb

import graft.ops.{Exact, Sessionize, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPCx-BB queries 1–15 against the reference schema (§2f), written
  * Spark-first: DataFrame composition + window functions; broadcast
  * dimensions; no UDFs outside the explicitly-pluggable NER. Parameter
  * defaults follow `gpu_bdb/bdb_tools/qNN_utils.py`.
  *
  * All queries read registered temp views (see [[BdbCatalog]]).
  */
object BdbQueries1 {

  private[bdb] def eol = "è" // sentence terminator char (bdb_tools/text.py)

  /** Sentence explode shared by q10/q18/q19/q27 — ONE copy of the
    * reference's è-sentinel terminator split (bdb_tools/text.py):
    * every other column rides along, `textCol` is consumed, blank
    * sentences are dropped. */
  private[bdb] def sentencesOf(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("sentence",
        explode(split(regexp_replace(col(textCol), "[.?!]", eol), eol)))
      .filter(length(trim(col("sentence"))) > 0)
      .drop(textCol)

  /** Default sentiment lexicon — the TPC kit's word lists are not
    * redistributable (reference README), so ship a small default and
    * let callers swap in the real ones.
    */
  val defaultPositive: Seq[String] = Seq(
    "good", "great", "excellent", "love", "best", "happy", "nice",
    "perfect", "amazing", "wonderful")
  val defaultNegative: Seq[String] = Seq(
    "bad", "poor", "terrible", "hate", "worst", "unhappy", "awful",
    "horrible", "disappointing", "broken")

  private def lex(s: SparkSession): DataFrame = {
    import s.implicits._
    (defaultPositive.map((_, "POS")) ++ defaultNegative.map((_, "NEG")))
      .toDF("sentiment_word", "sentiment")
  }

  /** File-loaded lexicon for [[q10]] — point at the TPC kit's
    * positiveSentiment.txt / negativeSentiment.txt to reproduce the
    * reference exactly (`q10_dask_sql.py:94-104`).
    */
  def lexFromFiles(positivePath: String,
      negativePath: String): SparkSession => DataFrame =
    s => Text.sentimentLexicon(s, positivePath, negativePath)

  /** Clickstream epoch-second timestamp (q02_dask_sql.py:43). */
  private def clickTs =
    (col("wcs_click_date_sk") * 86400 + col("wcs_click_time_sk")).as("ts")

  /** q01: items frequently bought together in one store ticket
    * (categories 1,2,3; stores 10,20,33,40,50; pairs seen >50 times;
    * top-100). Ref: queries/q01/gpu_bdb_query_01_dask_sql.py:39-67.
    */
  def q01(s: SparkSession, categories: Seq[Int] = Seq(1, 2, 3),
      stores: Seq[Long] = Seq(10, 20, 33, 40, 50),
      minCount: Long = 50, limit: Int = 100): DataFrame = {
    val items = s.table("item")
      .filter(col("i_category_id").isin(categories: _*))
      .select("i_item_sk")
    // one shuffle on the ticket key (collect_set subsumes the
    // distinct; ArrayPairs expands the sorted basket) instead of
    // distinct + self-join, which shuffles the basket table twice
    s.table("store_sales")
      .filter(col("ss_store_sk").isin(stores: _*))
      .join(broadcast(items), col("ss_item_sk") === col("i_item_sk"))
      .groupBy(col("ss_ticket_number"))
      .agg(sort_array(collect_set(col("ss_item_sk"))).as("_items"))
      .select(graft.expressions.ArrayPairs.array_pairs(col("_items"))
        .as(Seq("item_sk_1", "item_sk_2")))
      .groupBy(col("item_sk_1"), col("item_sk_2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > minCount)
      // ref sorts tie keys lexicographically as strings (q01:129-141)
      .orderBy(desc("cnt"), col("item_sk_1").cast("string"),
        col("item_sk_2").cast("string"))
      .limit(limit)
  }

  /** q02: items viewed in the same session as item 10001 (timeout
    * 3600 s), top-30. Ref: q02_dask_sql.py:39-77.
    */
  def q02(s: SparkSession, itemSk: Long = 10001L,
      timeoutSec: Long = 3600, limit: Int = 30): DataFrame = {
    val clicks = s.table("web_clickstreams")
      .filter(col("wcs_user_sk").isNotNull && col("wcs_item_sk").isNotNull)
      .select(col("wcs_user_sk"), col("wcs_item_sk"), clickTs)
      .withColumn("eid", monotonically_increasing_id())
    val sess = Sessionize.byTimeout(clicks, "wcs_user_sk", "ts", "eid", timeoutSec)
    // one aggregation pass instead of distinct + hit-session join-back
    // (which plans the window sort twice): the per-session item set
    // carries both the "contains 10001" flag and the co-viewed items,
    // and the groupBy reuses the sessionization's hash(user) exchange
    sess.groupBy(col("wcs_user_sk"), col("session_seq"))
      .agg(collect_set(col("wcs_item_sk")).as("_items"))
      .filter(array_contains(col("_items"), itemSk))
      .select(explode(col("_items")).as("item_sk_1"))
      .filter(col("item_sk_1") =!= itemSk)
      .groupBy(col("item_sk_1"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("item_sk_1"))
      .limit(limit)
  }

  /** q03: items of categories 2,3 viewed in the last 5 clicks within
    * 864000 s before a purchase of item 10001; view counts, top-100.
    * The reference uses a CUDA kernel (q03_utils.py:56-111); here a
    * single lag() window pass. Ref: q03_dask_sql.py:41-94.
    */
  def q03(s: SparkSession, purchasedItem: Long = 10001L,
      categories: Seq[Int] = Seq(2, 3), lookback: Int = 5,
      windowSec: Long = 864000, limit: Int = 100): DataFrame = {
    val catItems = s.table("item")
      .filter(col("i_category_id").isin(categories: _*))
      .select(col("i_item_sk").as("cat_item_sk"))
    val clicks = s.table("web_clickstreams")
      .filter(col("wcs_user_sk").isNotNull && col("wcs_item_sk").isNotNull)
      .select(col("wcs_user_sk"), col("wcs_item_sk"), col("wcs_sales_sk"),
        clickTs)
      .withColumn("eid", monotonically_increasing_id())
    val w = Window.partitionBy("wcs_user_sk").orderBy("ts", "eid")
    // purchase row + the 5 preceding views, via lag columns
    val lags = (1 to lookback).map { i =>
      struct(lag(col("wcs_item_sk"), i).over(w).as("prev_item"),
        lag(col("ts"), i).over(w).as("prev_ts"),
        lag(col("wcs_sales_sk"), i).over(w).as("prev_sales"))
    }
    clicks
      .withColumn("prev", array(lags: _*))
      .filter(col("wcs_sales_sk").isNotNull &&
        col("wcs_item_sk") === purchasedItem)
      .select(explode(col("prev")).as("p"), col("ts"))
      .filter(col("p.prev_item").isNotNull &&
        col("p.prev_sales").isNull && // views only
        col("ts") - col("p.prev_ts") <= windowSec)
      .join(broadcast(catItems), col("p.prev_item") === col("cat_item_sk"))
      .groupBy(col("p.prev_item").as("lastviewed_item"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("lastviewed_item"))
      .limit(limit)
  }

  /** q04: abandoned-cart page average — sessionize clicks joined to
    * web_page; a session whose last 'dynamic'/'order' page is
    * 'dynamic' is abandoned; average pages per abandoned session.
    * Ref: q04_dask_sql.py:40-96, q04_utils.py:52-101.
    */
  def q04(s: SparkSession, timeoutSec: Long = 3600): DataFrame = {
    val clicks = s.table("web_clickstreams")
      .filter(col("wcs_user_sk").isNotNull)
      .join(broadcast(s.table("web_page").select("wp_web_page_sk", "wp_type")),
        col("wcs_web_page_sk") === col("wp_web_page_sk"))
      .select(col("wcs_user_sk"), col("wp_type"), clickTs)
      .withColumn("eid", monotonically_increasing_id())
    val sess = Sessionize.byTimeout(clicks, "wcs_user_sk", "ts", "eid", timeoutSec)
    // one aggregation pass instead of a second window + join-back:
    // per session, count all pages and take the (ts, eid)-max among
    // 'dynamic'/'order' rows via a struct max ((ts, eid) is unique, so
    // the lexicographic max is exactly the row_number()=1 row); the
    // groupBy reuses the sessionization's hash(user) exchange
    val perSession = sess.groupBy(col("wcs_user_sk"), col("session_seq"))
      .agg(count(lit(1)).as("pages"),
        max(when(col("wp_type").isin("dynamic", "order"),
          struct(col("ts"), col("eid"), col("wp_type")))).as("_last_do"))
    perSession.filter(col("_last_do.wp_type") === "dynamic")
      .agg(
        (sum(col("pages")).cast("double") /
          count(lit(1))).as("avg_pages_per_abandoned_session"),
        count(lit(1)).as("n_abandoned_sessions"))
  }

  /** q05: logistic regression — probability a visitor is interested in
    * a category given click counts + demographics. regParam=0,
    * 100 iter, tol 1e-9 (q05_utils.py:37-43); features are CASE-WHEN
    * counts (q05_dask_sql.py:39-74). Returns the metrics row.
    */
  /** q05's deterministic feature frame (everything upstream of the
    * MLlib fit) — exposed so the direct DuckDB gate (b54) can verify
    * the relational core the same way as the SQL-expressible queries;
    * only the LogisticRegression fit remains on parity thresholds. */
  def q05Features(s: SparkSession, categoryId: Int = 1): DataFrame = {
    val i = s.table("item").select("i_item_sk", "i_category_id")
    val clicks = s.table("web_clickstreams")
      .filter(col("wcs_user_sk").isNotNull)
      .join(broadcast(i), col("wcs_item_sk") === col("i_item_sk"))
      .groupBy(col("wcs_user_sk"))
      .agg(count(lit(1)).as("clicks_total"),
        sum(when(col("i_category_id") === categoryId, 1).otherwise(0))
          .as("clicks_in_category"))
    clicks
      .join(s.table("customer").select("c_customer_sk", "c_current_cdemo_sk"),
        col("wcs_user_sk") === col("c_customer_sk"))
      .join(broadcast(s.table("customer_demographics")
          .select("cd_demo_sk", "cd_gender", "cd_education_status")),
        col("c_current_cdemo_sk") === col("cd_demo_sk"))
      .withColumn("college_education",
        when(col("cd_education_status").isin(
          "Advanced Degree", "College", "4 yr Degree", "2 yr Degree"), 1.0)
          .otherwise(0.0))
      .withColumn("male", when(col("cd_gender") === "M", 1.0).otherwise(0.0))
      .withColumn("label",
        when(col("clicks_in_category") > 0, 1.0).otherwise(0.0))
  }

  def q05(s: SparkSession, categoryId: Int = 1): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    import org.apache.spark.ml.feature.VectorAssembler
    val inputs = Array("clicks_total", "college_education", "male")
    // held once for the fit, the evaluator and the confusion counts
    val assembled = graft.ops.Materialize(new VectorAssembler()
      .setInputCols(inputs).setOutputCol("features")
      .transform(q05Features(s, categoryId)))
    val lr = new LogisticRegression().setRegParam(0.0).setMaxIter(100)
      .setTol(1e-9).setStandardization(true)
    val model = lr.fit(assembled)
    // scored as a Column, not by model.transform (see logregMargin)
    val margin = graft.ops.MlPipelines.logregMargin(model, inputs.map(col))
    val pred = assembled.select(col("label"), margin.as("margin"))
      .withColumn("prediction", when(col("margin") > 0, 1.0).otherwise(0.0))
    val auc = new BinaryClassificationEvaluator()
      .setRawPredictionCol("margin").evaluate(pred)
    pred.agg(count(lit(1)).as("n"),
      sum(when(col("prediction") === col("label"), 1).otherwise(0)).as("n_correct"),
      sum(when(col("prediction") === 1.0 && col("label") === 1.0, 1).otherwise(0)).as("tp"),
      sum(when(col("prediction") === 1.0 && col("label") === 0.0, 1).otherwise(0)).as("fp"),
      sum(when(col("prediction") === 0.0 && col("label") === 1.0, 1).otherwise(0)).as("fn"))
      .withColumn("auc", round(lit(auc), 6))
  }

  /** q06: customers whose web YoY spend ratio beats their store ratio
    * (year 2001 vs 2002) on the COMPOSITE price measure
    * ((ext_list_price - ext_wholesale_cost - ext_discount_amt)
    * + ext_sales_price)/2, 8-column top-100.
    * Ref: queries/q06/gpu_bdb_query_06_dask_sql.py:36-99.
    *
    * The reference halves the composite inside every SUM; both the
    * y2/y1 ratio and the `HAVING y1 > 0` predicate are invariant
    * under that common positive factor, so the sums here stay on the
    * exact DECIMAL composite (no per-row float division, no
    * accumulation-order sensitivity) and the ratio divides once in
    * double at the end — bit-identical to halving first.
    */
  def q06(s: SparkSession, year: Int = 2001, limit: Int = 100): DataFrame = {
    val dd = s.table("date_dim").select("d_date_sk", "d_year")
    def channel(t: String, dateCol: String, custCol: String, pfx: String) = {
      val comp = col(s"${pfx}_ext_list_price") -
        col(s"${pfx}_ext_wholesale_cost") -
        col(s"${pfx}_ext_discount_amt") + col(s"${pfx}_ext_sales_price")
      s.table(t)
        .join(broadcast(dd), col(dateCol) === col("d_date_sk"))
        .filter(col("d_year").isin(year, year + 1))
        .groupBy(col(custCol).as("cust"))
        .agg(
          sum(when(col("d_year") === year, comp).otherwise(lit(0))).as("y1"),
          sum(when(col("d_year") === year + 1, comp).otherwise(lit(0)))
            .as("y2"))
        .filter(col("y1") > 0)
        .select(col("cust"),
          (col("y2").cast("double") / col("y1").cast("double")).as("ratio"))
    }
    val web = channel("web_sales", "ws_sold_date_sk", "ws_bill_customer_sk",
      "ws").withColumnRenamed("ratio", "web_sales_increase_ratio")
    val store = channel("store_sales", "ss_sold_date_sk", "ss_customer_sk",
      "ss").withColumnRenamed("ratio", "store_ratio")
    web.join(store, "cust")
      .filter(col("web_sales_increase_ratio") > col("store_ratio"))
      .join(s.table("customer"), col("cust") === col("c_customer_sk"))
      .select(col("web_sales_increase_ratio"), col("c_customer_sk"),
        col("c_first_name"), col("c_last_name"),
        col("c_preferred_cust_flag"), col("c_birth_country"),
        col("c_login"), col("c_email_address"))
      .orderBy(desc("web_sales_increase_ratio"), col("c_customer_sk"))
      .limit(limit)
  }

  /** q07: states with >=10 store sales of items priced above 1.2x
    * their category average, in one month. Ref: q07_dask_sql.py:31-66.
    */
  def q07(s: SparkSession, year: Int = 2004, moy: Int = 7,
      factor: Double = 1.2, minCnt: Long = 10, limit: Int = 10): DataFrame = {
    val item = s.table("item")
    val catAvg = item.groupBy("i_category")
      .agg((sum(col("i_current_price")).cast("double") /
        count(col("i_current_price"))).as("avg_price"))
    val high = item.join(broadcast(catAvg), "i_category")
      .filter(col("i_current_price") > col("avg_price") * factor)
      .select("i_item_sk")
    val dates = s.table("date_dim")
      .filter(col("d_year") === year && col("d_moy") === moy)
      .select("d_date_sk")
    s.table("store_sales")
      .join(broadcast(dates), col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(high), col("ss_item_sk") === col("i_item_sk"))
      .join(s.table("customer").select("c_customer_sk", "c_current_addr_sk"),
        col("ss_customer_sk") === col("c_customer_sk"))
      .join(broadcast(s.table("customer_address")
          .select("ca_address_sk", "ca_state")),
        col("c_current_addr_sk") === col("ca_address_sk"))
      .filter(col("ca_state").isNotNull)
      .groupBy("ca_state").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCnt)
      .orderBy(desc("cnt"), col("ca_state"))
      .limit(limit)
  }

  /** q08: web revenue from sessions that read a review page within
    * 259200 s before purchasing vs sessions that didn't, in a date
    * range. Ref: q08_dask_sql.py:45-138, q08_utils.py:92-160.
    */
  def q08(s: SparkSession, startDate: String = "2001-09-02",
      endDate: String = "2002-09-02",
      secondsBeforePurchase: Long = 259200): DataFrame = {
    val dd = s.table("date_dim")
      .filter(to_date(col("d_date")) >= lit(startDate) &&
        to_date(col("d_date")) < lit(endDate))
      .select("d_date_sk")
    val reviewPages = s.table("web_page")
      .filter(col("wp_type") === "review").select("wp_web_page_sk")
    // boundary sessionization on review pages (broadcast-joined flag)
    val flagged = s.table("web_clickstreams")
      .filter(col("wcs_user_sk").isNotNull)
      .join(broadcast(dd), col("wcs_click_date_sk") === col("d_date_sk"))
      .join(broadcast(reviewPages),
        col("wcs_web_page_sk") === col("wp_web_page_sk"), "left_outer")
      .select(col("wcs_user_sk"), col("wcs_sales_sk"), clickTs,
        col("wp_web_page_sk").isNotNull.as("is_review"))
      .withColumn("eid", monotonically_increasing_id())
    val sess = Sessionize.byBoundaryEvent(
      flagged, "wcs_user_sk", "ts", "eid", col("is_review"))
    val reviewSales = sess
      .filter(col("wcs_sales_sk").isNotNull && col("boundary_ts").isNotNull &&
        col("ts") - col("boundary_ts") <= secondsBeforePurchase)
      .select(col("wcs_sales_sk")).distinct()
    // ONE lazy pass: flag each sale against the distinct review-
    // session set (left outer on the already-distinct keys — no row
    // multiplication) and conditionally aggregate, instead of the
    // former two eager .first() jobs over the same ws-date join.
    // Stays a plain DataFrame like every other qNN (composable,
    // explainable); the string casts reproduce the old BigDecimal
    // toString formatting, including the "0" null normalization.
    val ws = s.table("web_sales")
      .join(broadcast(dd), col("ws_sold_date_sk") === col("d_date_sk"))
    val sums = ws
      .join(reviewSales.withColumnRenamed("wcs_sales_sk", "_rsk"),
        col("ws_order_number") === col("_rsk"), "left_outer")
      .agg(
        sum(when(col("_rsk").isNotNull, col("ws_net_paid"))).as("r"),
        sum(col("ws_net_paid")).as("t"))
    sums.select(
      when(col("r").isNull, lit("0"))
        .otherwise(col("r").cast("string")).as("review_revenue"),
      when(col("t").isNull, lit("0"))
        .otherwise((col("t") - coalesce(col("r"), lit(0)))
          .cast("string")).as("no_review_revenue"))
  }

  /** q09: total store quantity under a 3-arm OR of
    * (demographics x price) and (address x profit) conditions.
    * Ref: q09_dask_sql.py:58-114 (constants q09_utils.py).
    */
  def q09(s: SparkSession, year: Int = 2001): DataFrame = {
    val ss = s.table("store_sales")
    val dd = s.table("date_dim").filter(col("d_year") === year)
      .select("d_date_sk")
    val cd = s.table("customer_demographics")
    val ca = s.table("customer_address")
    val j = ss
      .join(broadcast(dd), col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(cd), col("ss_cdemo_sk") === col("cd_demo_sk"))
      .join(broadcast(ca), col("ss_addr_sk") === col("ca_address_sk"))
    def demoArm(ms: String, es: String, pmin: Int, pmax: Int) =
      col("cd_marital_status") === ms && col("cd_education_status") === es &&
        col("ss_sales_price").between(pmin, pmax)
    def addrArm(states: Seq[String], nmin: Int, nmax: Int) =
      col("ca_country") === "United States" &&
        col("ca_state").isin(states: _*) &&
        col("ss_net_profit").between(nmin, nmax)
    j.filter(
      (demoArm("M", "4 yr Degree", 100, 150) && addrArm(Seq("KY", "GA", "NM"), 0, 2000)) ||
      (demoArm("M", "4 yr Degree", 50, 200) && addrArm(Seq("MT", "OR", "IN"), 150, 3000)) ||
      (demoArm("M", "4 yr Degree", 150, 200) && addrArm(Seq("WI", "MO", "WV"), 50, 25000)))
      .agg(sum("ss_quantity").cast("bigint").as("total_quantity"))
  }

  /** q10: sentiment words per item from review text — sentence/word
    * explode + broadcast lexicon join. Ref: q10_dask_sql.py:45-140,
    * bdb_tools/text.py.
    */
  def q10(s: SparkSession,
      lexicon: SparkSession => DataFrame = lex): DataFrame = {
    val reviews = s.table("product_reviews")
      .filter(col("pr_review_content").isNotNull)
      .select(col("pr_item_sk"), col("pr_review_sk"),
        lower(col("pr_review_content")).as("content"))
    // sentences: terminate on .?!; then words strip punctuation
    val sentences = sentencesOf(reviews, "content")
    val words = sentences
      .select(col("pr_item_sk"), col("sentence"),
        explode(split(trim(regexp_replace(col("sentence"), "[,;\\-\"]", " ")), " +"))
          .as("word"))
      .filter(length(col("word")) > 0)
    // ETL-sized output: written unsorted, like the reference — its
    // verification compares order-insensitively (utils.py:449-477), and
    // a global range sort of a multi-million-row result is pure cost at
    // scale. Golden/oracle compares sort canonically on their side.
    words.join(broadcast(lexicon(s)), col("word") === col("sentiment_word"))
      .select(col("pr_item_sk").as("item_sk"), col("sentence").as("review_sentence"),
        col("sentiment"), col("sentiment_word"))
  }

  /** q11: corr(review count, avg rating) vs revenue for items sold in
    * a window. Ref: q11_dask_sql.py:36-63.
    */
  def q11(s: SparkSession, startDate: String = "2003-01-02",
      endDate: String = "2003-02-02"): DataFrame = {
    val dd = s.table("date_dim")
      .filter(to_date(col("d_date")) >= lit(startDate) &&
        to_date(col("d_date")) < lit(endDate))
      .select("d_date_sk")
    val revenue = s.table("web_sales")
      .join(broadcast(dd), col("ws_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("ws_item_sk"))
      .agg(sum("ws_net_paid").as("revenue"))
    val ratings = s.table("product_reviews")
      .groupBy(col("pr_item_sk"))
      .agg(count(lit(1)).as("review_count"),
        (sum("pr_review_rating").cast("double") / count(lit(1)))
          .as("avg_rating"))
    revenue.join(ratings, col("ws_item_sk") === col("pr_item_sk"))
      .agg(Exact.dcorr(col("review_count").cast("double"),
        col("avg_rating")).as("corr_reviews_rating"),
        count(lit(1)).as("n_items"))
  }

  /** q12: users who clicked items of given categories online then
    * bought in store within 90 days. Ref: q12_dask_sql.py:33-59.
    */
  def q12(s: SparkSession,
      categories: Seq[String] = Seq("Books", "Electronics")): DataFrame = {
    val items = s.table("item")
      .filter(col("i_category").isin(categories: _*)).select("i_item_sk")
    val clicks = s.table("web_clickstreams")
      .filter(col("wcs_user_sk").isNotNull)
      .join(broadcast(items), col("wcs_item_sk") === col("i_item_sk"))
      .select(col("wcs_user_sk").as("u"), col("wcs_click_date_sk").as("click_d"))
    val sales = s.table("store_sales")
      .filter(col("ss_customer_sk").isNotNull)
      .join(broadcast(items), col("ss_item_sk") === col("i_item_sk"))
      .select(col("ss_customer_sk").as("u2"), col("ss_sold_date_sk").as("sold_d"))
    clicks.join(sales,
        col("u") === col("u2") && col("click_d") < col("sold_d") &&
          col("sold_d") - col("click_d") <= 90)
      .select(col("u").as("user_sk")).distinct()
  }

  /** q13: customers with both-channel sales in consecutive years,
    * ordered by web growth — the q06 sibling, but on the plain
    * `net_paid` measure with BOTH channel ratios in the 5-column
    * output (q06 outputs only the web ratio over the composite price
    * expression). Ref: queries/q13/gpu_bdb_query_13_dask_sql.py:33-93.
    */
  def q13(s: SparkSession, year: Int = 2001, limit: Int = 100): DataFrame = {
    val dd = s.table("date_dim").select("d_date_sk", "d_year")
      .filter(col("d_year").isin(year, year + 1))
    def channel(t: String, dateCol: String, custCol: String,
        priceCol: String, ratioName: String) =
      s.table(t)
        .join(broadcast(dd), col(dateCol) === col("d_date_sk"))
        .groupBy(col(custCol).as("cust"))
        .agg(
          sum(when(col("d_year") === year, col(priceCol)).otherwise(lit(0)))
            .as("y1"),
          sum(when(col("d_year") === year + 1, col(priceCol))
            .otherwise(lit(0))).as("y2"))
        .filter(col("y1") > 0)
        .select(col("cust"),
          (col("y2").cast("double") / col("y1").cast("double"))
            .as(ratioName))
    val store = channel("store_sales", "ss_sold_date_sk", "ss_customer_sk",
      "ss_net_paid", "store_sales_increase_ratio")
    val web = channel("web_sales", "ws_sold_date_sk", "ws_bill_customer_sk",
      "ws_net_paid", "web_sales_increase_ratio")
    store.join(web, "cust")
      .filter(col("web_sales_increase_ratio") >
        col("store_sales_increase_ratio"))
      .join(s.table("customer"), col("cust") === col("c_customer_sk"))
      .select(col("c_customer_sk"), col("c_first_name"), col("c_last_name"),
        col("store_sales_increase_ratio"), col("web_sales_increase_ratio"))
      .orderBy(desc("web_sales_increase_ratio"), col("c_customer_sk"))
      .limit(limit)
  }

  /** q14: am/pm web-sales ratio for dep_count=5 households on pages of
    * 5000–6000 chars. Ref: q14_dask_sql.py:31-51.
    */
  def q14(s: SparkSession, depCount: Int = 5): DataFrame = {
    val td = s.table("time_dim").select("t_time_sk", "t_hour")
    val hd = s.table("household_demographics")
      .filter(col("hd_dep_count") === depCount).select("hd_demo_sk")
    val wp = s.table("web_page")
      .filter(col("wp_char_count").between(5000, 6000))
      .select("wp_web_page_sk")
    val j = s.table("web_sales")
      .join(broadcast(hd), col("ws_ship_hdemo_sk") === col("hd_demo_sk"))
      .join(broadcast(wp), col("ws_web_page_sk") === col("wp_web_page_sk"))
      .join(broadcast(td), col("ws_sold_time_sk") === col("t_time_sk"))
    j.agg(
      sum(when(col("t_hour").between(7, 8), 1).otherwise(0)).as("amc"),
      sum(when(col("t_hour").between(19, 20), 1).otherwise(0)).as("pmc"))
      .select(when(col("pmc") > 0, col("amc").cast("double") / col("pmc"))
          .as("am_pm_ratio"),
        col("amc"), col("pmc"))
  }

  /** q15: store categories with declining daily revenue (closed-form
    * least-squares slope <= 0) for one store in a date range.
    * Ref: q15_dask_sql.py:37-65.
    */
  def q15(s: SparkSession, storeSk: Long = 10,
      startDate: String = "2001-09-02", endDate: String = "2002-09-02"): DataFrame = {
    val dd = s.table("date_dim")
      .filter(to_date(col("d_date")) >= lit(startDate) &&
        to_date(col("d_date")) < lit(endDate))
      .select("d_date_sk")
    val i = s.table("item").select("i_item_sk", "i_category_id")
    s.table("store_sales")
      .filter(col("ss_store_sk") === storeSk)
      .join(broadcast(dd), col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(i), col("ss_item_sk") === col("i_item_sk"))
      .filter(col("i_category_id").isNotNull)
      .groupBy(col("i_category_id").as("cat"), col("ss_sold_date_sk").as("d"))
      .agg(sum("ss_net_paid").as("daily_rev"))
      .groupBy("cat")
      .agg(Exact.dslope(col("d"), col("daily_rev").cast("double")).as("slope"),
        Exact.dintercept(col("d"), col("daily_rev").cast("double")).as("intercept"))
      .filter(col("slope") <= 0)
      .orderBy("cat")
  }
}
